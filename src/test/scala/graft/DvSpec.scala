package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Dv, StoreLog, Tables, TsStore}

/** Deletion vectors — merge-on-read DELETE (Dv.scala, TsStore
  * .deleteVectors; every read subtracts vectors in the DSv2 scan that
  * readFilesDv builds). Pins the sidecar format, read/DML/CDC/
  * maintenance interplay, and vacuum's dv reclaim.
  */
class DvSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val events = Tables.events(spark, TestSpark.sf001)
  private val cols = Seq("event_id", "ts", "user_id", "event_type", "value")

  private def freshStore(): String = {
    val dir = Files.createTempDirectory("graft_dv").toString
    TsStore.write(events.select(cols.map(col): _*), dir,
      tsCol = "ts", uidCols = Seq("event_type"))
    dir
  }

  /** A copy of `src`'s live files under a manifest with no declared
    * schema — how stores were adopted before declarations existed. */
  private def undeclaredCopy(src: String): String = {
    val dir = Files.createTempDirectory("graft_dv_legacy").toString
    val files = StoreLog.latest(src).get.files
    files.foreach { f =>
      val to = java.nio.file.Paths.get(dir, f)
      Files.createDirectories(to.getParent)
      Files.copy(java.nio.file.Paths.get(src, f), to)
    }
    val (st, sz) = graft.sources.FileStats.forFilesWithSizes(dir, files, Nil)
    StoreLog.commit(dir, 0L, Seq.empty, files, addStats = st, addSizes = sz)
    assert(!StoreLog.latest(dir).get.props.contains(graft.sources.GraftTable.SchemaProp))
    dir
  }

  test("sidecar round-trip: sorted, deduplicated, binary-searchable") {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = Files.createTempDirectory("graft_dvbin").toString + "/dv.bin"
    val n = Dv.write(conf, p, Array(9L, 3L, 3L, 7L, 0L))
    assert(n === 4)
    val back = Dv.read(conf, p)
    assert(back.toSeq === Seq(0L, 3L, 7L, 9L))
    assert(Dv.contains(back, 7L) && !Dv.contains(back, 8L))
  }

  test("deleteVectors matches copy-on-write delete row-for-row, moving no data file") {
    val dvDir = freshStore(); val cowDir = freshStore()
    val pred = col("event_id") % 7 === 0
    val preFiles = StoreLog.latest(dvDir).get.files
    val v = TsStore.deleteVectors(spark, dvDir, pred)
    TsStore.delete(spark, cowDir, pred, tsCol = "ts", uidCols = Seq("event_type"))
    val got = TsStore.load(spark, dvDir).select(cols.map(col): _*)
    val want = TsStore.load(spark, cowDir).select(cols.map(col): _*)
    assert(got.count() === want.count())
    assert(got.except(want).count() === 0 && want.except(got).count() === 0)
    // merge-on-read: the data file set is UNCHANGED — only vectors landed
    val snap = StoreLog.latest(dvDir).get
    assert(snap.version === v)
    assert(snap.files === preFiles, "deleteVectors must not move data files")
    assert(snap.dvs.nonEmpty)
    // every vector names a live file and records its cardinality
    snap.dvs.foreach { case (f, e) =>
      assert(snap.files.contains(f))
      assert(e.path.startsWith(Dv.Dir + "/"))
      assert(e.rows > 0)
    }
    // and the vectored total equals the deleted row count
    val deleted = events.filter(pred).count()
    assert(snap.dvs.values.map(_.rows).sum === deleted)
    // a predicate on a column added AFTER the matching files were
    // written: manifest stats prune the find to the old files, which
    // read the column as null under the declared schema
    val late = events.filter(col("event_id") % 7 === 1).limit(20)
      .select(cols.map(col): _*)
      .withColumn("event_id", col("event_id") + 10000000L)
      .withColumn("note", lit("late"))
    Seq(dvDir, cowDir).foreach(d => TsStore.write(late, d, tsCol = "ts",
      uidCols = Seq("event_type"), mode = org.apache.spark.sql.SaveMode.Append,
      overlapPolicy = TsStore.OverlapPolicy.Allow))
    // the same again on copies whose manifests declare no schema: the
    // find still reads `note` over the pruned subset
    val (dvLegacy, cowLegacy) = (undeclaredCopy(dvDir), undeclaredCopy(cowDir))
    val pred2 = col("note").isNull && col("event_id") % 11 === 0
    val cols2 = cols :+ "note"
    // (the copy leaves dvDir's first vectors behind)
    val dvLegacyWant = TsStore.load(spark, dvLegacy).filter(!pred2)
      .select(cols2.map(col): _*).collect().toSet
    TsStore.deleteVectors(spark, dvDir, pred2)
    TsStore.delete(spark, cowDir, pred2, tsCol = "ts", uidCols = Seq("event_type"))
    TsStore.deleteVectors(spark, dvLegacy, pred2)
    TsStore.delete(spark, cowLegacy, pred2, tsCol = "ts", uidCols = Seq("event_type"))
    val got2 = TsStore.load(spark, dvDir).select(cols2.map(col): _*)
    val want2 = TsStore.load(spark, cowDir).select(cols2.map(col): _*)
    assert(got2.count() === events.filter(!pred && !(col("event_id") % 11 === 0))
      .count() + 20)
    assert(got2.except(want2).count() === 0 && want2.except(got2).count() === 0)
    assert(got2.filter(col("note") === "late").count() === 20)
    val cowL = TsStore.load(spark, cowLegacy).select(cols2.map(col): _*)
    assert(cowL.except(want2).count() === 0 && want2.except(cowL).count() === 0)
    assert(TsStore.load(spark, dvLegacy).select(cols2.map(col): _*).collect().toSet ===
      dvLegacyWant)
  }

  test("pre-delete version stays readable asOf; countAt subtracts vectors") {
    val dir = freshStore()
    val v0 = StoreLog.latest(dir).get.version
    val total = events.count()
    assert(TsStore.countAt(dir) === Some(total))
    val pred = col("event_type") === "click" && col("event_id") % 3 === 0
    val v1 = TsStore.deleteVectors(spark, dir, pred)
    val kept = total - events.filter(pred).count()
    // metadata count stays exact (recorded rows − vector rows)
    assert(TsStore.countAt(dir) === Some(kept))
    assert(TsStore.load(spark, dir).count() === kept)
    // time travel below the delete sees every row again
    assert(TsStore.load(spark, dir, asOf = Some(v0)).count() === total)
    assert(TsStore.countAt(dir, asOf = Some(v0)) === Some(total))
    assert(v1 === v0 + 1)
  }

  test("second vectored delete unions into one sidecar per file") {
    val dir = freshStore()
    TsStore.deleteVectors(spark, dir, col("event_id") % 5 === 0)
    val mid = StoreLog.latest(dir).get
    TsStore.deleteVectors(spark, dir, col("event_id") % 5 === 1)
    val snap = StoreLog.latest(dir).get
    // one entry per file — the union REPLACED the first vector where a
    // file matched both predicates
    val both = events.filter(col("event_id") % 5 <= 1).count()
    assert(snap.dvs.values.map(_.rows).sum === both)
    assert(TsStore.load(spark, dir).count() === events.count() - both)
    // re-deleting already-vectored rows is a no-op commit
    val v = TsStore.deleteVectors(spark, dir, col("event_id") % 5 === 0)
    assert(v === snap.version, "already-deleted rows must not commit again")
    // a file vectored by BOTH passes had its first sidecar orphaned
    assert(mid.dvs.nonEmpty)
  }

  test("copy-on-write delete of a vectored store does not resurrect vectored rows") {
    val dir = freshStore()
    TsStore.deleteVectors(spark, dir, col("event_id") % 4 === 0)
    // a LATER cow delete rewrites affected files' survivors — which must
    // already exclude the vectored rows, and the rewrite drops the dv
    TsStore.delete(spark, dir, col("event_id") % 4 === 1,
      tsCol = "ts", uidCols = Seq("event_type"))
    val snap = StoreLog.latest(dir).get
    assert(snap.dvs.isEmpty,
      "the cow rewrite replaced every vectored file; vectors must drop with them")
    val want = events.filter(col("event_id") % 4 >= 2).count()
    assert(TsStore.load(spark, dir).count() === want)
  }

  test("compaction materializes vectors: rows preserved, vectors gone") {
    val dir = freshStore()
    val pred = col("event_id") % 6 === 2
    TsStore.deleteVectors(spark, dir, pred)
    val before = TsStore.load(spark, dir).select(cols.map(col): _*).collect()
    val prefixes = StoreLog.latest(dir).get.files
      .map(f => f.substring(0, f.lastIndexOf('/'))).distinct
    TsStore.compactPartitions(spark, dir, prefixes,
      tsCol = "ts", uidCols = Seq("event_type"))
    val snap = StoreLog.latest(dir).get
    assert(snap.dvs.isEmpty, "compaction must materialize deletion vectors")
    val after = TsStore.load(spark, dir).select(cols.map(col): _*).collect()
    assert(after.map(_.toString).sorted.toSeq === before.map(_.toString).sorted.toSeq)
  }

  test("restore resurrects the target version's exact vector state") {
    val dir = freshStore()
    val v0 = StoreLog.latest(dir).get.version      // no vectors
    TsStore.deleteVectors(spark, dir, col("event_id") % 9 === 0)
    val v1 = StoreLog.latest(dir).get.version      // vectored
    TsStore.deleteVectors(spark, dir, col("event_id") % 9 === 1)
    // roll back to the single-delete state: its vectors, not the union
    TsStore.restore(spark, dir, v1)
    val atV1 = StoreLog.read(dir, v1)
    val cur = StoreLog.latest(dir).get
    assert(cur.dvs === atV1.dvs)
    assert(TsStore.load(spark, dir).count() ===
      events.count() - events.filter(col("event_id") % 9 === 0).count())
    // and all the way back to pristine
    TsStore.restore(spark, dir, v0)
    assert(StoreLog.latest(dir).get.dvs.isEmpty)
    assert(TsStore.load(spark, dir).count() === events.count())
  }

  test("CDC: a vector-only window emits exactly the vectored rows as deletes") {
    val dir = freshStore()
    val v0 = StoreLog.latest(dir).get.version
    val pred = col("event_type") === "view" && col("event_id") % 2 === 0
    val v1 = TsStore.deleteVectors(spark, dir, pred)
    val ch = TsStore.changes(spark, dir, v0, v1,
      keyCols = Seq("event_id"), versionCol = "event_id")
    assert(ch.filter(col("change_type") =!= "delete").count() === 0)
    val got = ch.select("event_id").as[Long].collect().sorted.toSeq
    val want = events.filter(pred).select("event_id").as[Long].collect().sorted.toSeq
    assert(got === want)
  }

  test("vacuum reclaims orphaned sidecars, keeps referenced ones") {
    val dir = freshStore()
    TsStore.deleteVectors(spark, dir, col("event_id") % 5 === 0)
    TsStore.deleteVectors(spark, dir, col("event_id") % 5 === 1) // unions → orphans pass 1
    val fsio = new java.io.File(s"$dir/${Dv.Dir}")
    val allDvs = fsio.listFiles().map(_.getName).toSet
    val live = StoreLog.latest(dir).get.dvs.values.map(_.path.stripPrefix(Dv.Dir + "/")).toSet
    assert(live.subsetOf(allDvs))
    assert(allDvs.size > live.size, "the union pass must have orphaned sidecars")
    // age the orphans past the lease window (vacuum guards young files)
    allDvs.foreach { n =>
      val f = new java.io.File(fsio, n)
      f.setLastModified(System.currentTimeMillis() - 2 * StoreLog.WriterLeaseMs)
    }
    TsStore.vacuum(dir, retainVersions = 1)
    val after = fsio.listFiles().map(_.getName).toSet
    assert(after === live, s"vacuum must keep exactly the referenced sidecars: $after vs $live")
    // the surviving store still reads correctly
    val both = events.filter(col("event_id") % 5 <= 1).count()
    assert(TsStore.load(spark, dir).count() === events.count() - both)
  }

  test("scan stays COLUMNAR with a live vector; values exact, clean files pass through") {
    // the merge-on-read read tax, retired: one vectored file must NOT
    // de-vectorize the table's scans — clean files keep their batch
    // path untouched, vectored files drop positions batch-side
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def scans(p: SparkPlan): Seq[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case b: BatchScanExec => Seq(b)
      case other => other.children.flatMap(scans)
    }
    val dir = freshStore()
    // vector ONLY the 'click' partition — 'view'/'purchase' files stay clean
    val pred = col("event_type") === "click" && col("event_id") % 3 === 0
    TsStore.deleteVectors(spark, dir, pred)
    val df = spark.read.format("graft").load(dir).select(cols.map(col): _*)
    val got = df.collect()
    val scan = scans(df.queryExecution.executedPlan)
    assert(scan.nonEmpty)
    assert(scan.forall(_.supportsColumnar),
      "a dv scan over an atomic projection must STAY columnar")
    // exactness across multi-batch files, clean and vectored alike
    val want = events.filter(!pred).select(cols.map(col): _*).collect()
    assert(got.map(_.toString).sorted.toSeq === want.map(_.toString).sorted.toSeq)
    // a projection that keeps only clean-file-shaped columns is also
    // columnar and exact (permutation paths: partition col leading)
    val proj = spark.read.format("graft").load(dir)
      .select("event_type", "value", "event_id")
    val gotP = proj.collect()
    assert(scans(proj.queryExecution.executedPlan).forall(_.supportsColumnar))
    val wantP = events.filter(!pred)
      .select("event_type", "value", "event_id").collect()
    assert(gotP.map(_.toString).sorted.toSeq === wantP.map(_.toString).sorted.toSeq)
    // the `_pos`-carrying row-level read shape still takes the row path
    // (row indices per surviving row) — pinned via the delta DML specs
  }

  test("dv-density auto-compaction: a dense partition compacts, sparse stays vectored") {
    // the density trigger is a zero-IO manifest check — a partition
    // whose deleted-row ratio crosses the threshold rewrites (vectors
    // materialize, COUNT pushdown re-enables), one under it does not
    val dir = freshStore()
    // 'click' loses half its rows (dense); 'view' loses ~1/50 (sparse)
    TsStore.deleteVectors(spark, dir,
      col("event_type") === "click" && col("event_id") % 2 === 0)
    TsStore.deleteVectors(spark, dir,
      col("event_type") === "view" && col("event_id") % 50 === 0)
    val snap = StoreLog.latest(dir).get
    val dense = TsStore.dvDensePrefixes(snap, 0.2)
    assert(dense === Seq("event_type=click"), s"got $dense")
    val before = TsStore.load(spark, dir).count()
    graft.streaming.StoreIngest.autoCompact(spark, dir, cap = 1000,
      tsCol = "ts", uidCols = Seq("event_type"))
    val after = StoreLog.latest(dir).get
    assert(after.version === snap.version + 1,
      "density compaction must land as its own CAS commit")
    assert(!after.dvs.keys.exists(_.startsWith("event_type=click/")),
      "the dense partition's vectors must be materialized away")
    assert(after.dvs.keys.exists(_.startsWith("event_type=view/")),
      "the sparse partition must keep its vectors (below the ratio)")
    // row content unchanged; exact metadata count (COUNT pushdown's
    // source) still matches the scan
    assert(TsStore.load(spark, dir).count() === before)
    assert(TsStore.countAt(dir) === Some(before))
    // an idle second pass is a no-op (no dense prefixes left, cap huge)
    graft.streaming.StoreIngest.autoCompact(spark, dir, cap = 1000,
      tsCol = "ts", uidCols = Seq("event_type"))
    assert(StoreLog.latest(dir).get.version === after.version)
  }

  test("vacuum spares a YOUNG orphaned sidecar even with no fresh lease") {
    // The just-committed window: a writer can commit a new manifest
    // (naming a new sidecar) and RELEASE its lease between vacuum's
    // version capture and its dv-reclaim listing. The dv phase
    // therefore always age-gates — a young sidecar survives the pass
    // whatever the lease state, reclaiming later once aged.
    val dir = freshStore()
    TsStore.deleteVectors(spark, dir, col("event_id") % 5 === 0)
    TsStore.deleteVectors(spark, dir, col("event_id") % 5 === 1) // union → orphan
    val dvDir = new java.io.File(s"$dir/${Dv.Dir}")
    val allDvs = dvDir.listFiles().map(_.getName).toSet
    val live = StoreLog.latest(dir).get.dvs.values.map(_.path.stripPrefix(Dv.Dir + "/")).toSet
    assert(allDvs.size > live.size, "the union pass must have orphaned sidecars")
    // no fresh lease exists (deleteVectors released), sidecars are young
    TsStore.vacuum(dir, retainVersions = 1)
    assert(dvDir.listFiles().map(_.getName).toSet === allDvs,
      "young sidecars must all survive the pass, orphaned or not")
    // after aging, a second pass reclaims exactly the orphans
    allDvs.foreach { n =>
      new java.io.File(dvDir, n)
        .setLastModified(System.currentTimeMillis() - 2 * StoreLog.WriterLeaseMs)
    }
    TsStore.vacuum(dir, retainVersions = 1)
    assert(dvDir.listFiles().map(_.getName).toSet === live)
  }

  test("DSv2 scan applies vectors exactly") {
    val dir = freshStore()
    val pred = col("event_type") === "click" && col("event_id") % 2 === 0
    TsStore.deleteVectors(spark, dir, pred)
    val df = spark.read.format("graft").load(dir)
      .select(cols.map(col): _*)
    val rows = df.collect()
    val want = events.filter(!pred).select(cols.map(col): _*).collect()
    assert(rows.map(_.toString).sorted.toSeq === want.map(_.toString).sorted.toSeq)
    // pushed data filters + row-group skips still apply THROUGH the
    // vector: a selective read over the vectored partition is exact
    val selective = spark.read.format("graft").load(dir)
      .filter(col("event_type") === "click")
      .select("event_id").as[Long].collect().sorted.toSeq
    val wantSel = events.filter(col("event_type") === "click")
      .filter(col("event_id") % 2 =!= 0)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(selective === wantSel)
  }

  test("DSv2 metadata answers stay exact under vectors: COUNT subtracts, others refuse") {
    val dir = freshStore()
    TsStore.deleteVectors(spark, dir, col("event_id") % 3 === 0)
    val live = events.filter(col("event_id") % 3 =!= 0)
    val cnt = spark.read.format("graft").load(dir).agg(count(lit(1))).as[Long].head()
    assert(cnt === live.count())
    // min/max on a data column must NOT come from the manifest now —
    // the value must still be correct (computed from live rows)
    val mn = spark.read.format("graft").load(dir)
      .agg(min(col("event_id"))).as[Long].head()
    assert(mn === live.agg(min(col("event_id"))).as[Long].head())
    // LIMIT over a vectored store still returns n rows (live-row math)
    assert(spark.read.format("graft").load(dir).limit(50).count() === 50)
  }

  test("COUNT(col) stays a metadata answer on vectored files via recorded deleted-null counts") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import graft.sources.GraftAggScan
    def aggScan(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.collect { case b: BatchScanExec => b.scan }
        .exists(_.isInstanceOf[GraftAggScan])
    // a store with real nulls in user_id, then a vectored DELETE that
    // removes a mix of null and non-null rows
    val dir = Files.createTempDirectory("graft_dvnn").toString
    val src = events.select(col("event_id"), col("ts"),
      when(col("event_id") % 5 === 0, lit(null)).otherwise(col("user_id"))
        .as("user_id"),
      col("event_type"), col("value"))
    TsStore.write(src, dir, tsCol = "ts", uidCols = Seq("event_type"))
    TsStore.deleteVectors(spark, dir, col("event_id") % 3 === 0)
    // the DELETE verb recorded per-column deleted-null counts
    val snap = StoreLog.latest(dir).get
    assert(snap.dvs.nonEmpty)
    assert(snap.dvs.values.forall(_.nulls.contains("user_id")),
      "deleteVectors must record deleted-null counts per column")
    val t = spark.read.format("graft").load(dir)
    t.createOrReplaceTempView("dvnn_t")
    val cnt = spark.sql("SELECT count(user_id) AS n FROM dvnn_t")
    assert(aggScan(cnt),
      s"COUNT(col) under recorded dv stats must answer from the manifest:\n" +
        cnt.queryExecution.executedPlan)
    assert(cnt.head().getLong(0) ===
      src.filter(col("event_id") % 3 =!= 0).agg(count(col("user_id")))
        .head().getLong(0))
    // a DELTA vector (UPDATE under delete.mode=dv) records the same
    // per-column deleted-null counts (the writer has the matched rows'
    // OLD values in hand as metadata attributes) — COUNT(col) stays a
    // metadata answer on an UPDATE-vectored file too
    val root = Files.createTempDirectory("graft_dvnn_cat").toString
    spark.conf.set("spark.sql.catalog.gdvnn", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdvnn.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gdvnn.ns")
    src.createOrReplaceTempView("dvnn_src")
    spark.sql("CREATE TABLE gdvnn.ns.t USING graft PARTITIONED BY (event_type) " +
      "TBLPROPERTIES('delete.mode'='dv') AS SELECT * FROM dvnn_src")
    spark.sql("UPDATE gdvnn.ns.t SET value = value + 1 WHERE event_id % 7 = 0")
    val dvs2 = StoreLog.latest(s"$root/ns/t").get.dvs
    assert(dvs2.nonEmpty)
    assert(dvs2.values.forall(_.nulls.contains("user_id")),
      "delta-DML vectors must record per-column deleted-null counts")
    val cnt2 = spark.sql("SELECT count(user_id) AS n FROM gdvnn.ns.t")
    assert(aggScan(cnt2),
      s"COUNT(col) under delta-DML dv stats must answer from the manifest:\n" +
        cnt2.queryExecution.executedPlan)
    // an UPDATE re-inserts every matched row: the live count is unchanged
    assert(cnt2.head().getLong(0) ===
      src.agg(count(col("user_id"))).head().getLong(0))
  }

  test("MIN/MAX stay metadata answers on vectored files when deleted bounds prove the end intact") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import graft.sources.GraftAggScan
    def aggScan(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.collect { case b: BatchScanExec => b.scan }
        .exists(_.isInstanceOf[GraftAggScan])
    // one partition, contiguous event_ids 100..1099 riding ascending ts
    val dir = Files.createTempDirectory("graft_dvmm").toString
    val src = spark.range(0, 1000).select(
      (col("id") + 100).as("event_id"),
      timestamp_seconds(lit(1700000000L) + col("id") * 60).as("ts"),
      lit("x").as("event_type"),
      format_string("s%04d", col("id") + 100).as("tag"))
    TsStore.write(src, dir, tsCol = "ts", uidCols = Seq("event_type"))
    // a MID-RANGE delete: every deleted value lies strictly inside the
    // recorded file bounds, for the long, timestamp and string domains
    TsStore.deleteVectors(spark, dir,
      col("event_id") >= 300 && col("event_id") <= 500)
    val snap = StoreLog.latest(dir).get
    assert(snap.dvs.nonEmpty)
    assert(snap.dvs.values.forall(e => e.bounds.contains("event_id") &&
      e.bounds.contains("ts") && e.bounds.contains("tag")),
      s"DELETE must record deleted-row bounds: ${snap.dvs.values.map(_.bounds)}")
    val t = spark.read.format("graft").load(dir)
    t.createOrReplaceTempView("dvmm_t")
    val live = src.filter(!(col("event_id") >= 300 && col("event_id") <= 500))
    for ((sqlCol, idx) <- Seq("event_id", "ts", "tag").zipWithIndex) {
      val q = spark.sql(
        s"SELECT min($sqlCol) AS lo, max($sqlCol) AS hi FROM dvmm_t")
      assert(aggScan(q),
        s"MIN/MAX($sqlCol) under intact dv bounds must answer from the manifest:\n" +
          q.queryExecution.executedPlan)
      val exp = live.agg(min(col(sqlCol)), max(col(sqlCol))).head()
      assert(q.head() === exp, s"wrong $sqlCol bounds (idx $idx)")
    }
    // delete the min-attaining row: MIN refuses (the end may be gone),
    // MAX still proves intact from the merged bounds — and both answers
    // stay right either way
    TsStore.deleteVectors(spark, dir, col("event_id") === 100)
    val live2 = live.filter(col("event_id") =!= 100)
    val qMin = spark.sql("SELECT min(event_id) AS lo FROM dvmm_t")
    assert(!aggScan(qMin),
      "a deleted end must refuse the MIN pushdown (bounds cannot prove it)")
    assert(qMin.head().getLong(0) ===
      live2.agg(min(col("event_id"))).head().getLong(0))
    val qMax = spark.sql("SELECT max(event_id) AS hi FROM dvmm_t")
    assert(aggScan(qMax), "MAX stays provable after a min-end delete")
    assert(qMax.head().getLong(0) ===
      live2.agg(max(col("event_id"))).head().getLong(0))
    // an all-null-in-column delete is an EMPTY bound: provably harmless
    val dir2 = Files.createTempDirectory("graft_dvmm2").toString
    TsStore.write(src.select(col("event_id"), col("ts"), col("event_type"),
        when(col("event_id") < 200, col("tag")).otherwise(lit(null)).as("tag")),
      dir2, tsCol = "ts", uidCols = Seq("event_type"))
    TsStore.deleteVectors(spark, dir2, col("event_id") > 800) // tag all null there
    spark.read.format("graft").load(dir2).createOrReplaceTempView("dvmm_t2")
    val q2 = spark.sql("SELECT min(tag) AS lo, max(tag) AS hi FROM dvmm_t2")
    assert(aggScan(q2),
      "an all-null deleted column is an EMPTY bound — min/max provably intact")
    assert(q2.head().getString(0) === "s0100" && q2.head().getString(1) === "s0199")
  }

  test("delta-DML vectors record bounds: MIN/MAX stay metadata answers after UPDATE and MERGE") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import graft.sources.GraftAggScan
    def aggScan(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.collect { case b: BatchScanExec => b.scan }
        .exists(_.isInstanceOf[GraftAggScan])
    val root = Files.createTempDirectory("graft_dvdb").toString
    spark.conf.set("spark.sql.catalog.gdvdb", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdvdb.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gdvdb.ns")
    spark.range(0, 1000).select(
      (col("id") + 100).as("event_id"),
      timestamp_seconds(lit(1700000000L) + col("id") * 60).as("ts"),
      lit("x").as("event_type"),
      format_string("s%04d", col("id") + 100).as("tag"),
      (col("id") * 1.0).as("value"))
      .createOrReplaceTempView("dvdb_src")
    spark.sql("CREATE TABLE gdvdb.ns.t USING graft PARTITIONED BY (event_type) " +
      "TBLPROPERTIES('delete.mode'='dv') AS SELECT * FROM dvdb_src")
    // mid-range UPDATE: the vectored (old) rows' event_id/ts/tag all lie
    // STRICTLY inside the file bounds — the delta writer must record
    // their deleted bounds so MIN/MAX stay manifest answers
    spark.sql("UPDATE gdvdb.ns.t SET value = value + 1 " +
      "WHERE event_id >= 300 AND event_id <= 500")
    val snap = StoreLog.latest(s"$root/ns/t").get
    assert(snap.dvs.nonEmpty)
    assert(snap.dvs.values.forall(e => e.bounds.contains("event_id") &&
      e.bounds.contains("ts") && e.bounds.contains("tag")),
      s"delta UPDATE must record deleted-row bounds: ${snap.dvs.values.map(_.bounds)}")
    for (c <- Seq("event_id", "ts", "tag")) {
      val q = spark.sql(s"SELECT min($c) AS lo, max($c) AS hi FROM gdvdb.ns.t")
      assert(aggScan(q),
        s"MIN/MAX($c) under delta-dv bounds must answer from the manifest:\n" +
          q.queryExecution.executedPlan)
    }
    val mm = spark.sql("SELECT min(event_id) AS lo, max(event_id) AS hi FROM gdvdb.ns.t").head()
    assert(mm.getLong(0) === 100L && mm.getLong(1) === 1099L)
    // MERGE's matched updates vector more rows — bounds must union with
    // the existing entries' (both-know combine) and stay provable
    spark.sql("SELECT event_id FROM dvdb_src WHERE event_id >= 600 AND event_id <= 700")
      .createOrReplaceTempView("dvdb_keys")
    spark.sql("MERGE INTO gdvdb.ns.t t USING dvdb_keys k ON t.event_id = k.event_id " +
      "WHEN MATCHED THEN UPDATE SET t.value = t.value + 10")
    val snap2 = StoreLog.latest(s"$root/ns/t").get
    assert(snap2.dvs.values.forall(_.bounds.contains("event_id")),
      "post-MERGE union entries must keep the combined bounds")
    val q2 = spark.sql("SELECT min(event_id) AS lo, max(event_id) AS hi FROM gdvdb.ns.t")
    assert(aggScan(q2), "MIN/MAX must stay manifest answers after MERGE")
    assert(q2.head().getLong(0) === 100L && q2.head().getLong(1) === 1099L)
    // COUNT(col) rides the recorded null counts through both verbs
    val qc = spark.sql("SELECT count(tag) AS n FROM gdvdb.ns.t")
    assert(aggScan(qc), "COUNT(col) must stay a manifest answer after delta DML")
    assert(qc.head().getLong(0) === 1000L)
    // and the rows themselves are right
    assert(spark.sql("SELECT sum(CAST(value AS BIGINT)) FROM gdvdb.ns.t").head().getLong(0) ===
      (0L until 1000L).sum + 201L + 101L * 10L)
  }

  test("TopN file prune stays live on a vectored store via live-count covering") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def gScans(p: SparkPlan): Seq[graft.sources.GraftScan] = p match {
      case a: AdaptiveSparkPlanExec => gScans(a.executedPlan)
      case q: QueryStageExec => gScans(q.plan)
      case b: BatchScanExec => b.scan match {
        case g: graft.sources.GraftScan => Seq(g); case _ => Nil }
      case other => other.children.flatMap(gScans)
    }
    // several ts-disjoint files per partition — the shape TopN pruning
    // exists for (one wide file per partition can never drop)
    val dir = Files.createTempDirectory("graft_dvtopn").toString
    TsStore.write(events.select(cols.map(col): _*), dir,
      tsCol = "ts", uidCols = Seq("event_type"), maxRecordsPerFile = 50)
    // vector away a slice, then ask for the earliest rows: the covering
    // prefix must use LIVE counts (recorded − dv, with recorded
    // deleted-null counts for the data column) and still prune files
    TsStore.deleteVectors(spark, dir, col("event_id") % 5 === 2)
    val total = StoreLog.latest(dir).get.files.size
    val df = spark.read.format("graft").load(dir).orderBy("ts").limit(50)
    val got = df.collect()
    val scan = gScans(df.queryExecution.executedPlan)
    assert(scan.nonEmpty)
    assert(scan.head.plannedFiles.size < total,
      s"TopN must still prune under vectors: planned ${scan.head.plannedFiles.size} of $total")
    val want = events.filter(col("event_id") % 5 =!= 2)
      .orderBy("ts").limit(50).collect()
    assert(got.map(_.getAs[java.sql.Timestamp]("ts").getTime).sorted.toSeq ===
      want.map(_.getAs[java.sql.Timestamp]("ts").getTime).sorted.toSeq)
  }

  test("catalogAt stays a manifest answer under vectors with recorded bounds") {
    // two series with ts riding event_id, one file each: a mid-range
    // delete (bounds provably intact) plus a FULL purge of one series
    val dir = Files.createTempDirectory("graft_dvcat2").toString
    val src = spark.range(0, 2000).select(
      col("id").as("event_id"),
      timestamp_seconds(lit(1700000000L) + (col("id") % 1000) * 60).as("ts"),
      when(col("id") < 1000, "a").otherwise("b").as("event_type"),
      (col("id") * 1.5).as("value"))
    TsStore.write(src, dir, tsCol = "ts", uidCols = Seq("event_type"))
    TsStore.deleteVectors(spark, dir,
      col("event_type") === "b" ||
        (col("event_id") >= 300 && col("event_id") <= 400))
    val cat = TsStore.catalogAt(spark, dir, uidCol = "event_type")
    assert(cat.isDefined,
      "recorded dv cardinality + bounds must keep the catalog metadata-only")
    val got = cat.get.collect()
      .map(r => r.getString(0) -> (r.getLong(1),
        r.getTimestamp(2).getTime, r.getTimestamp(3).getTime)).toMap
    assert(!got.contains("b"), "a fully-purged series must vanish")
    assert(got("a")._1 === 1000 - 101)
    assert(got("a")._2 === 1700000000L * 1000) // min ts intact
    assert(got("a")._3 === (1700000000L + 999 * 60) * 1000) // max ts intact
    // deleting a file's EARLIEST row makes its ts bound unprovable —
    // the catalog refuses rather than guesses
    TsStore.deleteVectors(spark, dir,
      col("event_type") === "a" && col("event_id") === 0)
    assert(TsStore.catalogAt(spark, dir, uidCol = "event_type").isEmpty,
      "a deleted ts end must refuse the metadata catalog")
  }

  test("grouped COUNT pushdown survives a fully-vectored partition: group vanishes, rest exact") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import graft.sources.GraftAggScan
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scansIn(p: SparkPlan): Seq[Any] = p match {
      case a: AdaptiveSparkPlanExec => scansIn(a.executedPlan)
      case q: QueryStageExec => scansIn(q.plan)
      case b: BatchScanExec => Seq(b.scan)
      case other => other.children.flatMap(scansIn)
    }
    def aggScanDeep(df: org.apache.spark.sql.DataFrame): Boolean =
      scansIn(df.queryExecution.executedPlan).exists(_.isInstanceOf[GraftAggScan])
    val dir = freshStore()
    // the GDPR-purge shape: every row of one partition vectored away,
    // a handful elsewhere — the catalog query must stay a manifest walk
    // and the purged group must NOT appear as a phantom
    TsStore.deleteVectors(spark, dir,
      col("event_type") === "purchase" || col("event_id") % 97 === 0)
    val t = spark.read.format("graft").load(dir)
    t.createOrReplaceTempView("dvgrp_t")
    val q = spark.sql(
      "SELECT event_type, count(*) AS n FROM dvgrp_t GROUP BY event_type ORDER BY event_type")
    assert(aggScanDeep(q),
      s"grouped COUNT(*) must stay a manifest answer through the purge:\n" +
        q.queryExecution.executedPlan)
    val live = events.filter(
      !(col("event_type") === "purchase" || col("event_id") % 97 === 0))
    val want = live.groupBy("event_type").count()
      .orderBy("event_type").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq === want.toSeq)
    assert(!q.collect().exists(_.getString(0) == "purchase"),
      "a fully-vectored partition must vanish from the grouped result")
  }

  test("SQL DELETE routes through vectors under TBLPROPERTIES delete.mode=dv") {
    val root = Files.createTempDirectory("graft_dvcat").toString
    val cat = "graftdvcat"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.main")
    events.select(cols.map(col): _*).createOrReplaceTempView("dv_src")
    spark.sql(s"CREATE TABLE $cat.main.t USING graft " +
      "PARTITIONED BY (event_type) TBLPROPERTIES('delete.mode'='dv') " +
      "AS SELECT * FROM dv_src")
    val before = StoreLog.latest(s"$root/main/t").get.files
    spark.sql(s"DELETE FROM $cat.main.t WHERE event_id % 11 = 3")
    val snap = StoreLog.latest(s"$root/main/t").get
    assert(snap.files === before, "dv-mode SQL DELETE must not move data files")
    assert(snap.dvs.nonEmpty)
    val got = spark.sql(s"SELECT count(*) AS n FROM $cat.main.t").as[Long].head()
    assert(got === events.filter(col("event_id") % 11 =!= 3).count())
    // the pre-delete version still reads whole
    val v0 = snap.version - 1
    assert(spark.sql(s"SELECT count(*) FROM $cat.main.t VERSION AS OF $v0")
      .as[Long].head() === events.count())
    // UPDATE on the vectored table reads through vectors (no resurrect)
    spark.sql(s"UPDATE $cat.main.t SET value = value + 1 WHERE event_id % 11 = 4")
    assert(spark.sql(s"SELECT count(*) FROM $cat.main.t").as[Long].head() ===
      events.filter(col("event_id") % 11 =!= 3).count())
  }

  test("delta UPDATE under delete.mode=dv: vector + append, no data file rewritten") {
    val spark2 = spark
    import spark2.implicits._
    val root = Files.createTempDirectory("graft_dvdelta").toString
    spark.conf.set("spark.sql.catalog.gdvd", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdvd.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gdvd.ns")
    spark.sql(
      """CREATE TABLE gdvd.ns.t (id BIGINT, ts TIMESTAMP, k STRING, v DOUBLE)
        |USING graft PARTITIONED BY (k)
        |TBLPROPERTIES('delete.mode'='dv')""".stripMargin)
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    Seq((1L, t("2024-01-01 00:00:00"), "a", 1.0), (2L, t("2024-01-01 00:01:00"), "a", 2.0),
        (3L, t("2024-01-01 00:02:00"), "b", 3.0), (4L, t("2024-01-01 00:03:00"), "b", 4.0))
      .toDF("id", "ts", "k", "v").createOrReplaceTempView("gdvd_src")
    spark.sql("INSERT INTO gdvd.ns.t SELECT * FROM gdvd_src")
    val tablePath = s"$root/ns/t"
    // the (_file, _pos) physical row identity is queryable and matches
    // the parquet row layout: positions are 0-based per file
    val ids = spark.sql("SELECT _file, _pos, id FROM gdvd.ns.t")
      .as[(String, Long, Long)].collect()
    assert(ids.length === 4)
    assert(ids.groupBy(_._1).values.forall(g =>
      g.map(_._2).sorted.toSeq == (0L until g.length).toSeq),
      s"per-file positions must be dense from 0: ${ids.toSeq}")
    val before = StoreLog.latest(tablePath).get
    spark.sql("UPDATE gdvd.ns.t SET v = v * 10 WHERE id = 2")
    val after = StoreLog.latest(tablePath).get
    assert(after.version === before.version + 1, "one atomic commit")
    assert(before.files.toSet.subsetOf(after.files.toSet),
      "merge-on-read UPDATE must not remove or rewrite any data file")
    val added = after.files.toSet -- before.files.toSet
    assert(added.size === 1 && added.head.startsWith("k=a/"),
      s"exactly the updated row appends, in its partition: $added")
    assert(after.dvs.size === 1 && after.dvs.head._2.rows === 1L,
      s"the old row becomes one vector position: ${after.dvs}")
    assert(spark.sql("SELECT v FROM gdvd.ns.t WHERE id = 2").as[Double].head() === 20.0)
    assert(spark.sql("SELECT count(*) FROM gdvd.ns.t").as[Long].head() === 4L)
    // pre-update state stays time-travelable
    assert(spark.sql(
      s"SELECT v FROM gdvd.ns.t VERSION AS OF ${before.version} WHERE id = 2")
      .as[Double].head() === 2.0)
    // a second UPDATE touching the SAME original file unions its vector
    spark.sql("UPDATE gdvd.ns.t SET v = v + 0.5 WHERE id = 1")
    val after2 = StoreLog.latest(tablePath).get
    assert(after2.dvs.values.map(_.rows).sum === 2L,
      s"the original file's vector must union to 2 positions: ${after2.dvs}")
    assert(spark.sql("SELECT id, v FROM gdvd.ns.t ORDER BY id")
      .as[(Long, Double)].collect().toSeq ===
      Seq((1L, 1.5), (2L, 20.0), (3L, 3.0), (4L, 4.0)),
      "no resurrection, no loss across chained merge-on-read updates")

    // MERGE INTO: matched update + not-matched insert, one commit, still
    // no file rewrites
    Seq((3L, t("2024-01-02 00:00:00"), "b", 300.0),
        (9L, t("2024-01-02 00:01:00"), "b", 9.0))
      .toDF("id", "ts", "k", "v").createOrReplaceTempView("gdvd_merge_src")
    val preMerge = StoreLog.latest(tablePath).get
    spark.sql("MERGE INTO gdvd.ns.t AS tg USING gdvd_merge_src AS s ON tg.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT *")
    val postMerge = StoreLog.latest(tablePath).get
    assert(postMerge.version === preMerge.version + 1)
    assert(preMerge.files.toSet.subsetOf(postMerge.files.toSet),
      "merge-on-read MERGE must not rewrite data files")
    assert(spark.sql("SELECT id, v FROM gdvd.ns.t ORDER BY id")
      .as[(Long, Double)].collect().toSeq ===
      Seq((1L, 1.5), (2L, 20.0), (3L, 300.0), (4L, 4.0), (9L, 9.0)))

    // subquery DELETE (the metadata path cannot express it) rides the
    // delta op too: vectors only, zero new data files
    val preDel = StoreLog.latest(tablePath).get
    spark.sql("DELETE FROM gdvd.ns.t WHERE id IN " +
      "(SELECT id FROM gdvd_merge_src WHERE v > 100)")
    val postDel = StoreLog.latest(tablePath).get
    assert(postDel.files === preDel.files,
      "a delta DELETE adds no data files and removes none")
    assert(postDel.dvs.values.map(_.rows).sum === preDel.dvs.values.map(_.rows).sum + 1)
    assert(spark.sql("SELECT id FROM gdvd.ns.t ORDER BY id").as[Long].collect().toSeq
      === Seq(1L, 2L, 4L, 9L))
    // compaction materializes everything back to clean columnar files
    spark.sql("CALL gdvd.system.compact(table => 'ns.t', max_files => 1)")
    val compacted = StoreLog.latest(tablePath).get
    assert(compacted.dvs.isEmpty, "compaction must materialize all vectors")
    assert(spark.sql("SELECT id, v FROM gdvd.ns.t ORDER BY id")
      .as[(Long, Double)].collect().toSeq ===
      Seq((1L, 1.5), (2L, 20.0), (4L, 4.0), (9L, 9.0)))
  }

  test("delta UPDATE moving a row across partitions lands it in the new partition") {
    val spark2 = spark
    import spark2.implicits._
    val root = Files.createTempDirectory("graft_dvmove").toString
    spark.conf.set("spark.sql.catalog.gdvm", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdvm.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gdvm.ns")
    spark.sql(
      """CREATE TABLE gdvm.ns.t (id BIGINT, ts TIMESTAMP, k STRING, v DOUBLE)
        |USING graft PARTITIONED BY (k)
        |TBLPROPERTIES('delete.mode'='dv')""".stripMargin)
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    Seq((1L, t("2024-01-01 00:00:00"), "a", 1.0),
        (2L, t("2024-01-01 00:01:00"), "b", 2.0))
      .toDF("id", "ts", "k", "v").createOrReplaceTempView("gdvm_src")
    spark.sql("INSERT INTO gdvm.ns.t SELECT * FROM gdvm_src")
    spark.sql("UPDATE gdvm.ns.t SET k = 'b' WHERE id = 1")
    val snap = StoreLog.latest(s"$root/ns/t").get
    // the old row is vectored in k=a, the new one appended under k=b
    assert(snap.dvs.keys.forall(_.startsWith("k=a/")), s"${snap.dvs}")
    assert((snap.files.toSet -- snap.dvs.keySet).exists(_.startsWith("k=b/")))
    assert(spark.sql("SELECT k, count(*) FROM gdvm.ns.t GROUP BY k ORDER BY k")
      .as[(String, Long)].collect().toSeq === Seq(("b", 2L)))
    assert(spark.sql("SELECT id FROM gdvm.ns.t ORDER BY id").as[Long].collect().toSeq
      === Seq(1L, 2L), "a partition-moving UPDATE must not lose or duplicate rows")
  }

  test("delete.mode flips via SET TBLPROPERTIES; detail and CDC see vectors") {
    val spark2 = spark
    import spark2.implicits._
    val root = Files.createTempDirectory("graft_dvflip").toString
    spark.conf.set("spark.sql.catalog.gdvf", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdvf.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gdvf.ns")
    spark.sql(
      """CREATE TABLE gdvf.ns.t (id BIGINT, ts TIMESTAMP, k STRING, v DOUBLE)
        |USING graft PARTITIONED BY (k)""".stripMargin)
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    Seq((1L, t("2024-01-01 00:00:00"), "a", 1.0),
        (2L, t("2024-01-01 00:01:00"), "a", 2.0),
        (3L, t("2024-01-01 00:02:00"), "b", 3.0))
      .toDF("id", "ts", "k", "v").createOrReplaceTempView("gdvf_src")
    spark.sql("INSERT INTO gdvf.ns.t SELECT * FROM gdvf_src")
    val path = s"$root/ns/t"
    // cow by default: DELETE rewrites, no vectors
    spark.sql("DELETE FROM gdvf.ns.t WHERE id = 3")
    assert(StoreLog.latest(path).get.dvs.isEmpty, "default mode is copy-on-write")
    // flip ON: the NEXT delete vectors
    spark.sql("ALTER TABLE gdvf.ns.t SET TBLPROPERTIES('delete.mode'='dv')")
    val preDv = StoreLog.latest(path).get.version
    spark.sql("UPDATE gdvf.ns.t SET v = v + 10 WHERE id = 1")
    val snap = StoreLog.latest(path).get
    assert(snap.dvs.nonEmpty, "after the flip, UPDATE must ride the delta op")
    // CDC across the delta-UPDATE window: exactly one update for the key
    val ch = TsStore.changes(spark, path, preDv, snap.version,
      keyCols = Seq("id"), versionCol = "v")
      .select("id", "change_type").as[(Long, String)].collect().sorted
    assert(ch.toSeq === Seq((1L, "update")),
      s"a delta UPDATE must surface as exactly one CDC update, got ${ch.toSeq}")
    // system.detail surfaces the merge-on-read state per file
    val det = spark.sql("CALL gdvf.system.detail('ns.t')").collect()
      .map(r => (r.getString(0), r.getLong(4), r.getLong(5)))
    assert(det.exists { case (f, dvRows, _) => snap.dvs.contains(f) && dvRows === 1L },
      s"detail must report the vectored file's position count: ${det.toSeq}")
    assert(det.forall { case (f, dvRows, liveRows) =>
      liveRows === snap.liveRows(f).getOrElse(-1L) && dvRows >= 0L })
    // flip OFF: back to copy-on-write
    spark.sql("ALTER TABLE gdvf.ns.t UNSET TBLPROPERTIES('delete.mode')")
    val before = StoreLog.latest(path).get
    spark.sql("UPDATE gdvf.ns.t SET v = v + 100 WHERE id = 2")
    val after = StoreLog.latest(path).get
    // cow may MATERIALIZE existing vectors (the rewritten file drops its
    // entry) but must never add new ones
    assert(after.dvs.values.map(_.rows).sum <= before.dvs.values.map(_.rows).sum,
      "after UNSET, UPDATE must not add vectors (cow rewrites instead)")
    assert(spark.sql("SELECT id, v FROM gdvf.ns.t ORDER BY id")
      .as[(Long, Double)].collect().toSeq === Seq((1L, 11.0), (2L, 102.0)))
  }

  test("delta writer spills over-cap position buffers as fragments; union reassembles") {
    val spark2 = spark
    import spark2.implicits._
    val root = Files.createTempDirectory("graft_dvspill").toString
    spark.conf.set("spark.sql.catalog.gdvs", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdvs.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gdvs.ns")
    spark.sql(
      """CREATE TABLE gdvs.ns.t (id BIGINT, ts TIMESTAMP, k STRING, v DOUBLE)
        |USING graft PARTITIONED BY (k)
        |TBLPROPERTIES('delete.mode'='dv')""".stripMargin)
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    (0L until 40L).map(i =>
        (i, new java.sql.Timestamp(base + i * 60000L), "a", i.toDouble))
      .toDF("id", "ts", "k", "v").createOrReplaceTempView("gdvs_src")
    spark.sql("INSERT INTO gdvs.ns.t SELECT * FROM gdvs_src")
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.setInt(graft.sources.GraftDeltaDataWriter.FragmentFlushKey, 3)
    try
      // 20 deletes against files of one partition: with the cap at 3,
      // every task spills multiple fragments per file and the commit's
      // distributed union must reassemble ONE sidecar per file
      spark.sql("DELETE FROM gdvs.ns.t WHERE id IN " +
        "(SELECT id FROM gdvs_src WHERE id % 2 = 0)")
    finally hconf.unset(graft.sources.GraftDeltaDataWriter.FragmentFlushKey)
    val snap = StoreLog.latest(s"$root/ns/t").get
    assert(snap.dvs.nonEmpty)
    assert(snap.dvs.values.map(_.rows).sum === 20L,
      s"every spilled position must survive the union: ${snap.dvs}")
    assert(spark.sql("SELECT id FROM gdvs.ns.t ORDER BY id").as[Long].collect().toSeq
      === (1L until 40L by 2).toSeq, "odd ids survive, even ids vectored")
  }

  test("zorder of a vectored store materializes: live rows only, vectors gone") {
    val dir = freshStore()
    val pred = col("event_id") % 5 === 0
    TsStore.deleteVectors(spark, dir, pred)
    val expect = events.filter(!pred).count()
    TsStore.zorder(spark, dir, clusterCols = Seq("user_id", "value"),
      uidCols = Seq("event_type"))
    val snap = StoreLog.latest(dir).get
    assert(snap.dvs.isEmpty, "the clustered rewrite must shed every vector")
    assert(TsStore.load(spark, dir).count() === expect,
      "vectored rows stay dead through the rewrite; live rows all survive")
  }

  test("upsert into a vectored store keeps vectored rows dead in untouched partitions") {
    val dir = freshStore()
    val pred = col("event_type") === "click"
    TsStore.deleteVectors(spark, dir, pred)
    // upsert touching a DIFFERENT partition: click's vectors survive
    val delta = events.filter(col("event_type") === "view").limit(5)
      .withColumn("value", col("value") + 1000.0)
    TsStore.upsert(spark, dir, delta, keyCols = Seq("event_id"),
      versionCol = "event_id", tsCol = "ts", uidCols = Seq("event_type"))
    val back = TsStore.load(spark, dir)
    assert(back.filter(pred).count() === 0, "vectored rows must stay dead")
    assert(StoreLog.latest(dir).get.dvs.nonEmpty)
    // upsert REWRITING the vectored partition materializes its vectors
    val delta2 = events.filter(pred).limit(3)
      .withColumn("value", col("value") + 5000.0)
    TsStore.upsert(spark, dir, delta2, keyCols = Seq("event_id"),
      versionCol = "event_id", tsCol = "ts", uidCols = Seq("event_type"))
    val after = TsStore.load(spark, dir)
    // only the 3 re-upserted click rows exist in that partition now
    assert(after.filter(pred).count() === 3)
    assert(StoreLog.latest(dir).get.dvs.isEmpty)
  }

  test("delta dv stats record OLD values even when the UPDATE assigns the stat column itself") {
    // THE soundness trap of delta-DML stat recording: Spark's delta
    // plan hands the writer POST-assignment values, so stats must come
    // from reading the files back at commit (TsStore.dvFreshStats). If
    // the new values were recorded, updating the MAX-attaining rows
    // DOWNWARD would record mid-range "deleted bounds", the MAX
    // pushdown would claim the end intact, and the answer would be a
    // DELETED value.
    val root = Files.createTempDirectory("graft_dvold").toString
    spark.conf.set("spark.sql.catalog.gdvold", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdvold.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gdvold.ns")
    spark.range(0, 1000).select(
      (col("id") + 100).as("event_id"),
      timestamp_seconds(lit(1700000000L) + col("id") * 60).as("ts"),
      lit("x").as("event_type"),
      format_string("s%04d", col("id") + 100).as("tag"))
      .createOrReplaceTempView("gdvold_src")
    spark.sql("CREATE TABLE gdvold.ns.t USING graft PARTITIONED BY (event_type) " +
      "TBLPROPERTIES('delete.mode'='dv') AS SELECT * FROM gdvold_src")
    // move the TOP tags (s1090..s1099) down into the middle
    spark.sql("UPDATE gdvold.ns.t SET tag = 'm0500' WHERE event_id >= 1090")
    val snap = StoreLog.latest(s"$root/ns/t").get
    val bs = snap.dvs.values.flatMap(_.bounds.get("tag")).toSeq
    assert(bs.nonEmpty && bs.exists(_.hi.contains("s1099")),
      s"deleted-tag bounds must carry the OLD values (true deleted end s1099): $bs")
    // MAX must be the true live max — the updated rows' OLD tags are gone
    assert(spark.sql("SELECT max(tag) FROM gdvold.ns.t").head().getString(0)
      === "s1089")
    // null direction: updating non-null -> NULL must not count the
    // deleted rows as having been null
    spark.sql("UPDATE gdvold.ns.t SET tag = NULL WHERE event_id <= 109")
    assert(spark.sql("SELECT count(tag) FROM gdvold.ns.t").head().getLong(0)
      === 990L)
  }

  test("dv.compact.ratio auto-compacts on SQL DML commits crossing the density") {
    val root = Files.createTempDirectory("graft_dvratio").toString
    spark.conf.set("spark.sql.catalog.gdvr", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdvr.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gdvr.ns")
    events.select(cols.map(col): _*).createOrReplaceTempView("dvr_src")
    // WITH the property: a SQL UPDATE vectoring ~66% of every partition
    // crosses 0.3 — the commit's density hook must compact (vectors
    // gone, data exact) without any maintenance CALL
    spark.sql("CREATE TABLE gdvr.ns.a USING graft PARTITIONED BY (event_type) " +
      "TBLPROPERTIES('delete.mode'='dv','dv.compact.ratio'='0.3') " +
      "AS SELECT * FROM dvr_src")
    spark.sql("UPDATE gdvr.ns.a SET value = value + 1 WHERE event_id % 3 != 0")
    val snapA = StoreLog.latest(s"$root/ns/a").get
    assert(snapA.dvs.isEmpty,
      "crossing dv.compact.ratio on UPDATE must auto-compact the vectors away")
    // floor(value + 1) = floor(value) + 1, so the expected sum is the
    // base sum plus one per updated row
    val wantSum = events.agg(sum(floor(col("value")))).head().getLong(0) +
      events.filter(col("event_id") % 3 =!= 0).count()
    assert(spark.sql("SELECT CAST(sum(floor(value)) AS BIGINT) FROM gdvr.ns.a")
      .head().getLong(0) === wantSum,
      "auto-compacted table must carry the updated rows exactly")
    // the SQL DELETE door fires the same hook
    spark.sql("CREATE TABLE gdvr.ns.b USING graft PARTITIONED BY (event_type) " +
      "TBLPROPERTIES('delete.mode'='dv','dv.compact.ratio'='0.3') " +
      "AS SELECT * FROM dvr_src")
    spark.sql("DELETE FROM gdvr.ns.b WHERE event_id % 2 = 0")
    val snapB = StoreLog.latest(s"$root/ns/b").get
    assert(snapB.dvs.isEmpty,
      "crossing dv.compact.ratio on DELETE must auto-compact the vectors away")
    assert(spark.sql("SELECT count(*) FROM gdvr.ns.b").head().getLong(0) ===
      events.filter(col("event_id") % 2 =!= 0).count())
    // WITHOUT the property the same DML keeps its vectors (advisory only)
    spark.sql("CREATE TABLE gdvr.ns.c USING graft PARTITIONED BY (event_type) " +
      "TBLPROPERTIES('delete.mode'='dv') AS SELECT * FROM dvr_src")
    spark.sql("DELETE FROM gdvr.ns.c WHERE event_id % 2 = 0")
    assert(StoreLog.latest(s"$root/ns/c").get.dvs.nonEmpty,
      "without dv.compact.ratio the vectors must persist")
  }

  test("deleteKeysVectors: keyed takedown = sidecars + ONE commit, cow-equal, version-resolved, idempotent") {
    import spark.implicits._
    def mkStore(): String = {
      val dir = Files.createTempDirectory("graft_dvkeys").toString
      TsStore.write(events.select(cols.map(col): _*).withColumn("version", lit(1L)),
        dir, tsCol = "ts", uidCols = Seq("event_type"))
      dir
    }
    val dvDir = mkStore(); val cowDir = mkStore()
    val keys = events.filter(col("event_id") % 7 === 0)
      .select(col("event_id"), lit(2L).as("del_v"))
    val before = StoreLog.latest(dvDir).get
    val v1 = TsStore.deleteKeysVectors(spark, dvDir, keys,
      keyCols = Seq("event_id"), deleteVersionCol = "del_v",
      versionCol = "version")
    val snap = StoreLog.latest(dvDir).get
    assert(v1 === before.version + 1, "keyed dv takedown must be ONE commit")
    assert(snap.files === before.files, "keyed dv takedown must move no data file")
    assert(snap.dvs.nonEmpty, "the takedown must have committed vectors")
    assert(snap.dvs.values.forall(_.nulls.nonEmpty),
      "keyed dv takedown records per-column deleted-null counts like the predicate verb")
    // zero-IO metadata count stays exact
    assert(TsStore.countAt(dvDir).contains(
      snap.files.flatMap(snap.liveRows).sum))
    // row-for-row equal to the copy-on-write keyed takedown
    TsStore.deleteKeys(spark, cowDir, keys, keyCols = Seq("event_id"),
      deleteVersionCol = "del_v", versionCol = "version",
      tsCol = "ts", uidCols = Seq("event_type"))
    val got = TsStore.read(spark, dvDir).select(cols.map(col): _*)
      .orderBy("event_id").collect()
    val want = TsStore.read(spark, cowDir).select(cols.map(col): _*)
      .orderBy("event_id").collect()
    assert(got.length === want.length && got.sameElements(want),
      "dv and cow keyed takedowns must agree row-for-row")
    // re-applying the SAME batch is a no-op (the find is dv-aware)
    val v2 = TsStore.deleteKeysVectors(spark, dvDir, keys,
      keyCols = Seq("event_id"), deleteVersionCol = "del_v",
      versionCol = "version")
    assert(v2 === v1, "a replayed keyed dv takedown must re-delete nothing")
    // a reinsert ABOVE the delete version survives a replayed takedown
    val back = events.filter(col("event_id") % 7 === 0).limit(3)
      .select(cols.map(col): _*).withColumn("version", lit(5L))
    TsStore.upsert(spark, dvDir, back, keyCols = Seq("event_id"),
      versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))
    TsStore.deleteKeysVectors(spark, dvDir, keys,
      keyCols = Seq("event_id"), deleteVersionCol = "del_v",
      versionCol = "version")
    val backIds = back.select("event_id").as[Long].collect().toSet
    val live = TsStore.read(spark, dvDir)
      .filter(col("event_id").isin(backIds.toSeq: _*)).count()
    assert(live === 3L, "higher-version reinserts must survive the replayed takedown")
  }

  test("dv DELETE on an NTZ-time store with no long-domain stat column") {
    // NTZ timestamps and float/double columns are never stat-recorded in
    // the long domain — the delete's stat maps must then fall back to
    // TYPED empty literals (a bare map() types map<string,string> and
    // fails the Map[String,Long] decode with cannot-up-cast)
    val dir = Files.createTempDirectory("graft_dv_ntz").toString
    val df = Seq(
      ("a", "2024-01-01T00:00:00", "x", 1.5),
      ("a", "2024-01-01T00:01:00", "y", 2.5),
      ("b", "2024-01-01T00:02:00", "x", 3.5))
      .toDF("uid", "ts_s", "name", "v")
      .select(col("uid"), col("ts_s").cast("timestamp_ntz").as("ts"),
        col("name"), col("v"))
    TsStore.write(df, dir, tsCol = "ts", uidCols = Seq("uid"))
    val v = TsStore.deleteVectors(spark, dir, col("name") === "x")
    assert(v > 0)
    val rows = TsStore.read(spark, dir).collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[String]("name") === "y")
  }

  test("CALL system.delete_keys: the keyed takedown from pure SQL — dv sidecars-only, cow rewrites, version-resolved") {
    // DELETE WHERE expresses a predicate; a GDPR batch is a MILLION-KEY
    // LIST. This is the SQL face of deleteKeysVectors/deleteKeys: a keys
    // view + CALL, plan O(1) in key count (broadcast key join — the
    // Scala-path pin), one commit
    val root = Files.createTempDirectory("graft_dvcall").toString
    spark.conf.set("spark.sql.catalog.gdvk", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdvk.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gdvk.ns")
    events.select(cols.map(col): _*).withColumn("version", lit(1L))
      .createOrReplaceTempView("gdvk_src")
    spark.sql("CREATE TABLE gdvk.ns.t USING graft PARTITIONED BY (event_type) " +
      "AS SELECT * FROM gdvk_src")
    val path = s"$root/ns/t"
    val total = events.count()
    val hit = events.filter(col("event_id") % 7 === 0).count()
    // the keys relation: key + per-key delete version (2 beats version 1)
    events.filter(col("event_id") % 7 === 0)
      .select(col("event_id"), lit(2L).as("del_v"))
      .createOrReplaceTempView("gdvk_keys")
    val before = StoreLog.latest(path).get
    val got = spark.sql("CALL gdvk.system.delete_keys(table => 'ns.t', " +
      "keys => 'gdvk_keys', key_cols => 'event_id', " +
      "delete_version_col => 'del_v', version_col => 'version')").head()
    val snap = StoreLog.latest(path).get
    assert(got.getLong(0) === snap.version)
    assert(snap.version === before.version + 1, "dv takedown must be ONE commit")
    assert(snap.files === before.files,
      "mode dv must be sidecars-only: no data file added or removed")
    assert(snap.dvs.nonEmpty)
    assert(spark.table("gdvk.ns.t").count() === total - hit)
    assert(spark.sql(
      "SELECT count(*) FROM gdvk.ns.t WHERE event_id % 7 = 0").head().getLong(0) === 0L)
    // re-applying the same batch is a no-op (the find is dv-aware)
    val again = spark.sql("CALL gdvk.system.delete_keys('ns.t', 'gdvk_keys', " +
      "'event_id', 'del_v', 'version')").head()
    assert(again.getLong(0) === snap.version, "idempotent re-apply must not commit")
    // a HIGHER-version reinsert survives the same key batch (delete wins
    // ties only at version <= del_v)
    spark.sql("INSERT INTO gdvk.ns.t SELECT event_id, ts, user_id, " +
      "event_type, value, 3L AS version FROM gdvk_src WHERE event_id % 7 = 0 " +
      "AND event_id % 3 = 0")
    val reinserted = spark.sql(
      "SELECT count(*) FROM gdvk.ns.t WHERE event_id % 7 = 0").head().getLong(0)
    assert(reinserted > 0)
    spark.sql("CALL gdvk.system.delete_keys('ns.t', 'gdvk_keys', 'event_id', " +
      "'del_v', 'version')").head()
    assert(spark.sql("SELECT count(*) FROM gdvk.ns.t WHERE event_id % 7 = 0")
      .head().getLong(0) === reinserted,
      "version-3 reinserts must survive a del_v=2 batch")
    // cow mode on a fresh table: files rewritten, same answer
    spark.sql("CREATE TABLE gdvk.ns.c USING graft PARTITIONED BY (event_type) " +
      "AS SELECT * FROM gdvk_src")
    val cPath = s"$root/ns/c"
    val cBefore = StoreLog.latest(cPath).get
    spark.sql("CALL gdvk.system.delete_keys('ns.c', 'gdvk_keys', 'event_id', " +
      "'del_v', 'version', mode => 'cow')").head()
    val cSnap = StoreLog.latest(cPath).get
    assert(cSnap.dvs.isEmpty, "cow mode writes no vectors")
    assert(cSnap.files !== cBefore.files, "cow mode rewrites affected files")
    assert(spark.table("gdvk.ns.c").count() === total - hit)
    // bad mode refuses loudly
    val e = intercept[Exception](spark.sql(
      "CALL gdvk.system.delete_keys('ns.c', 'gdvk_keys', 'event_id', " +
        "'del_v', 'version', mode => 'nope')").head())
    assert(e.getMessage.contains("dv") && e.getMessage.contains("cow"))
  }
}
