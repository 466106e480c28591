package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Stripe-lazy snapshot state (StoreLog.foldFiles / readFiltered +
  * CheckpointParquet.stream): the fix for the last 100 TB driver
  * asymptote — Snapshot used to materialize EVERY live file's
  * path/stats/size/dv on the driver per resolution (multi-GB at the
  * ~6–7M-file tier). Now a filtered plan streams the columnar
  * checkpoint (row groups skipped via the sorted path column when a
  * partition prefix is known) and materializes ONLY its survivors,
  * while small stores and unfiltered/row-level scans keep the full
  * resolution bit-for-bit.
  */
class LazySnapshotSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val UIDS = 1000
  private val PER_UID = 1000 // 1,000,000 synthetic live files

  /** A synthetic MILLION-file store: manifest only (no data files on
    * disk — everything under test is driver-side planning state).
    * v1 = columnar checkpoint of 1M files with ts stats + sizes;
    * v2 = delta adding 5 files under uid=42 and REMOVING 3 of uid=7's;
    * v3 = delta carrying a dv entry for one untouched uid=7 file.
    * Built once, shared by the cases (read-only).
    */
  private lazy val big: (String, StoreLog.Snapshot) = {
    val dir = Files.createTempDirectory("graft_lazy1m").toString
    val files = new scala.collection.mutable.ArrayBuffer[String](UIDS * PER_UID)
    val stats = scala.collection.mutable.Map.empty[String, FileStats.FileStatsMap]
    val sizes = scala.collection.mutable.Map.empty[String, Long]
    var u = 0
    while (u < UIDS) {
      var i = 0
      while (i < PER_UID) {
        val f = f"uid=$u%d/f_$i%05d.parquet"
        files += f
        stats(f) = Map("ts" -> FileStats.ColStat("i",
          i * 100L, i * 100L + 99L, 0L, 100L))
        sizes(f) = 1000L
        i += 1
      }
      u += 1
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("uid",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType)))
    StoreLog.commit(dir, 0L, Seq.empty, files.toSeq,
      addStats = stats.toMap, addSizes = sizes.toMap,
      setProps = Map(
        GraftTable.SchemaProp -> schema.json,
        GraftTable.TsColProp -> "ts",
        GraftTable.UidsProp -> "uid"))
    // the test KNOWS v1's exact state — hand-build the parent snapshot
    // instead of resolving it (1M-map churn stays out of the fixture)
    val v1 = StoreLog.Snapshot(1L, 0L, Seq.empty, files.toSeq,
      stats = stats.toMap, sizes = sizes.toMap,
      props = Map(GraftTable.SchemaProp -> schema.json,
        GraftTable.TsColProp -> "ts", GraftTable.UidsProp -> "uid"))
    val added = (0 until 5).map(i => f"uid=42/g_$i%05d.parquet")
    val removed = Seq("uid=7/f_00000.parquet", "uid=7/f_00001.parquet",
      "uid=7/f_00002.parquet")
    val v2files = files.toSeq.filterNot(removed.contains) ++ added
    StoreLog.commit(dir, 1L, Seq("uid=42", "uid=7"), v2files,
      parent = Some(v1),
      addStats = added.map(f => f -> Map("ts" ->
        FileStats.ColStat("i", 500000L, 500099L, 0L, 100L)): (String,
          FileStats.FileStatsMap)).toMap,
      addSizes = added.map(_ -> 2000L).toMap)
    val v2 = v1.copy(version = 2L, files = v2files,
      stats = (stats.toMap -- removed) ++
        added.map(f => f -> Map("ts" -> FileStats.ColStat("i",
          500000L, 500099L, 0L, 100L))),
      sizes = (sizes.toMap -- removed) ++ added.map(_ -> 2000L))
    StoreLog.commit(dir, 2L, Seq.empty, v2files, parent = Some(v2),
      addDvs = Map("uid=7/f_00500.parquet" ->
        // full dv bookkeeping (deleted-null counts + strictly-interior
        // deleted bounds) so COUNT(col)/MIN/MAX stay manifest-servable
        Dv.Entry("_graft_dv/x.bin", 7L, Map("ts" -> 0L),
          Map("ts" -> Dv.Bound("i", Some(50010L), Some(50080L))))))
    (dir, v2)
  }

  test("liveFileCount is exact from raw manifests — zero checkpoint rows decode") {
    val (dir, _) = big
    CheckpointParquet.resetCounters()
    assert(StoreLog.liveFileCount(dir, 1L) === UIDS.toLong * PER_UID)
    assert(StoreLog.liveFileCount(dir, 2L) === UIDS.toLong * PER_UID + 5 - 3)
    assert(StoreLog.liveFileCount(dir, 3L) === UIDS.toLong * PER_UID + 5 - 3)
    assert(CheckpointParquet.lastRowsDecoded === 0L,
      "the count must come from fileCount + delta list sizes, never a decode")
  }

  test("prefix-scoped fold SKIPS row groups; delta overlays apply exactly") {
    val (dir, _) = big
    CheckpointParquet.resetCounters()
    val got = StoreLog.foldFiles(dir, 3L, prefixes = Seq("uid=7"))(
      List.empty[StoreLog.FileEntry])((a, e) => e :: a)
    // 1000 checkpoint files minus the 3 the v2 delta removed
    assert(got.size === PER_UID - 3)
    assert(!got.exists(e => Set("uid=7/f_00000.parquet",
      "uid=7/f_00001.parquet", "uid=7/f_00002.parquet").contains(e.path)))
    // the v3 dv override rides the fold without a full resolution
    val dvd = got.find(_.path == "uid=7/f_00500.parquet").get
    assert(dvd.dv.exists(_.rows == 7L))
    // stats and sizes arrive per entry
    assert(got.forall(e => e.stats.exists(_.contains("ts")) &&
      e.size.contains(1000L)))
    // THE scale pin: the sorted path column's row-group statistics
    // prove most of the million rows can't be uid=7 — whole groups skip
    assert(CheckpointParquet.lastRowGroupsSkipped > 0,
      "a prefix-scoped fold over a 1M-file checkpoint must skip row groups")
    assert(CheckpointParquet.lastRowsDecoded < 300000L,
      s"decoded ${CheckpointParquet.lastRowsDecoded} rows — prefix " +
        "skipping is not engaging")
    // and an added-files prefix slice sees the delta adds
    val g42 = StoreLog.foldFiles(dir, 3L, prefixes = Seq("uid=42"))(
      List.empty[String])((a, e) => e.path :: a)
    assert(g42.size === PER_UID + 5)
    assert(g42.count(_.contains("/g_")) === 5)
  }

  test("a filtered DSv2 plan over the 1M-file store materializes ONLY its survivors") {
    val (dir, _) = big
    val schema = GraftTable.resolveSchema(spark, dir, None)
    val b = new GraftScanBuilder(spark, dir, None, schema)
    // uid equality + a ts range: pseudo-stats prune the uid, recorded
    // stats prune the ts — the keep predicate mirrors plannedFiles
    b.pushFilters(Array(
      org.apache.spark.sql.sources.EqualTo("uid", 7L),
      org.apache.spark.sql.sources.LessThan("ts", 1000L)))
    val scan = b.build().asInstanceOf[GraftScan]
    val planned = scan.plannedFiles
    // uid=7 files with ts lo < 1000: f_00000..f_00009 minus the 3
    // removed by the v2 delta = 7
    assert(planned.size === 7, s"got ${planned.size}: $planned")
    assert(planned.forall(f => f.startsWith("uid=7/") && f < "uid=7/f_00010"))
    // the snapshot behind the plan is the FILTERED one: survivors only,
    // never the million-entry maps — the driver-allocation bound
    assert(scan.snapshot.filtered, "big filtered scans must resolve lazily")
    assert(scan.snapshot.files.size === 7)
    assert(scan.snapshot.stats.size <= 7)
    assert(scan.snapshot.sizes.size <= 7)
    // full metadata still rides along (props drive tsCol/layout checks)
    assert(scan.snapshot.props.get(GraftTable.UidsProp).contains("uid"))
  }

  test("footer summary SKIPS the whole checkpoint when the predicate excludes it") {
    val (dir, _) = big
    val schema = GraftTable.resolveSchema(spark, dir, None)
    def planned(lo: Long, hi: Long): (Seq[String], Long) = {
      val b = new GraftScanBuilder(spark, dir, None, schema)
      b.pushFilters(Array(
        org.apache.spark.sql.sources.GreaterThanOrEqual("ts", lo),
        org.apache.spark.sql.sources.LessThanOrEqual("ts", hi)))
      val scan = b.build().asInstanceOf[GraftScan]
      CheckpointParquet.resetCounters()
      (scan.plannedFiles, CheckpointParquet.lastRowsDecoded)
    }
    // the checkpoint's GLOBAL ts bounds are [0, 99999]; the v2 delta's
    // added files carry [500000, 500099]. A slice entirely above the
    // checkpoint's hull plans ONLY the delta adds — and the summary
    // proves it without decoding a single checkpoint row.
    val (fs1, rows1) = planned(500000L, 500050L)
    assert(fs1.size === 5 && fs1.forall(_.contains("/g_")), fs1.toString)
    assert(rows1 === 0L,
      s"decoded $rows1 checkpoint rows — the footer summary skip is not engaging")
    // a slice beyond EVERYTHING plans nothing, still zero decode
    val (fs2, rows2) = planned(900000L, 990000L)
    assert(fs2.isEmpty && rows2 === 0L)
    // and an in-hull slice still streams (no false skip)
    val (fs3, _) = planned(0L, 50L)
    assert(fs3.nonEmpty)
  }

  test("small stores keep FULL resolution and lazy-vs-full plans agree (threshold seam)") {
    val dir = Files.createTempDirectory("graft_lazy_small").toString
    val events = Tables.events(spark, TestSpark.sf001)
    TsStore.write(events.select("event_id", "ts", "user_id", "event_type", "value"),
      dir, tsCol = "ts", uidCols = Seq("event_type"))
    // dv + delta chain so the overlay paths engage on real data
    TsStore.deleteVectors(spark, dir, col("event_id") % 97 === 0)
    val schema = GraftTable.resolveSchema(spark, dir, None)
    def plan(): (Seq[String], StoreLog.Snapshot) = {
      val b = new GraftScanBuilder(spark, dir, None, schema)
      b.pushFilters(Array(
        org.apache.spark.sql.sources.EqualTo("event_type", "view")))
      val s = b.build().asInstanceOf[GraftScan]
      (s.plannedFiles, s.snapshot)
    }
    val (fullPlan, fullSnap) = plan() // default threshold: full resolution
    assert(!fullSnap.filtered)
    val saved = StoreLog.LazySnapshotThreshold
    StoreLog.LazySnapshotThreshold = 1
    try {
      val (lazyPlan, lazySnap) = plan()
      assert(lazySnap.filtered)
      // identical plans: the lazy keep is exactly the static prune
      assert(lazyPlan.sorted === fullPlan.sorted)
      // survivors carry identical stats/sizes/dvs to the full snapshot
      lazyPlan.foreach { f =>
        assert(lazySnap.stats.get(f) === fullSnap.stats.get(f))
        assert(lazySnap.sizes.get(f) === fullSnap.sizes.get(f))
        assert(lazySnap.dvs.get(f) === fullSnap.dvs.get(f))
      }
      // and the QUERY result is unchanged (dv subtraction included)
      val got = spark.read.format("graft").load(dir)
        .filter(col("event_type") === "view").count()
      StoreLog.LazySnapshotThreshold = saved
      val want = spark.read.format("graft").load(dir)
        .filter(col("event_type") === "view").count()
      assert(got === want)
    } finally StoreLog.LazySnapshotThreshold = saved
  }

  test("aggregate pushdown over the 1M-file store streams — exact answers, O(groups) state") {
    val (dir, _) = big
    // the synthetic store has NO data files on disk: a correct answer
    // PROVES the manifest served it (any fallback scan would die on
    // missing files). 1M files x 100 rows, minus the v2 delta's 3
    // removed (+5 added) files, minus the v3 vector's 7 rows.
    val df = spark.read.format("graft").load(dir)
    val total = df.selectExpr("count(*) AS c", "count(ts) AS ct",
      "min(ts) AS mn", "max(ts) AS mx").head()
    assert(total.getLong(0) === 100000193L)
    assert(total.getLong(1) === 100000193L)
    assert(total.getLong(2) === 0L)
    assert(total.getLong(3) === 500099L)
    // grouped by the partition column: one row per uid from metadata
    // (no filter — big stores deliberately refuse filtered pushdown)
    val g = df.groupBy(col("uid")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g.size === 1000)
    assert(g(7L) === 99693L)   // 997 live files - 7 vectored rows
    assert(g(42L) === 100500L) // 1000 + the 5 delta-added files
    assert(g(13L) === 100000L)
  }

  test("fold-agg ≡ map-agg on a real store (threshold seam)") {
    val dir = Files.createTempDirectory("graft_lazy_agg").toString
    val events = Tables.events(spark, TestSpark.sf001)
    TsStore.write(events.select("event_id", "ts", "user_id", "event_type", "value"),
      dir, tsCol = "ts", uidCols = Seq("event_type"))
    TsStore.deleteVectors(spark, dir, col("event_id") % 53 === 0)
    def answers(): (Seq[(String, Long)], (Long, Long, Long)) = {
      val df = spark.read.format("graft").load(dir)
      val grouped = df.groupBy("event_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
      val t = df.selectExpr("count(*)", "count(user_id)",
        "max(user_id)").head()
      (grouped, (t.getLong(0), t.getLong(1), t.getLong(2)))
    }
    val full = answers()
    val saved = StoreLog.LazySnapshotThreshold
    StoreLog.LazySnapshotThreshold = 1
    try assert(answers() === full,
      "the streaming agg path must answer exactly like the map-based one")
    finally StoreLog.LazySnapshotThreshold = saved
  }

  test("readFiltered(keep=all) ≡ read across containers and delta chains") {
    val dir = Files.createTempDirectory("graft_lazy_eq").toString
    val events = Tables.events(spark, TestSpark.sf001)
    val base = events.select("event_id", "ts", "user_id", "event_type", "value")
    val savedT = StoreLog.ParquetCheckpointThreshold
    // force the COLUMNAR container even on the small fixture
    StoreLog.ParquetCheckpointThreshold = 1
    try {
      TsStore.write(base, dir, tsCol = "ts", uidCols = Seq("event_type"),
        checkpointInterval = 3)
      (1 to 4).foreach { k =>
        TsStore.upsert(spark, dir,
          base.filter(col("event_id") % 7 === k)
            .withColumn("value", col("value") + k)
            .withColumn("version", lit(k.toLong + 1)),
          keyCols = Seq("event_id"), versionCol = "version",
          tsCol = "ts", uidCols = Seq("event_type"))
      }
      TsStore.deleteVectors(spark, dir, col("event_id") % 31 === 0)
      StoreLog.listVersions(dir).foreach { v =>
        val full = StoreLog.read(dir, v)
        val filt = StoreLog.readFiltered(dir, v)(_ => true)
        assert(filt.files === full.files, s"v$v files diverge")
        assert(filt.stats === full.stats, s"v$v stats diverge")
        assert(filt.sizes === full.sizes, s"v$v sizes diverge")
        assert(filt.dvs === full.dvs, s"v$v dvs diverge")
        assert(filt.props === full.props && filt.version === full.version)
      }
    } finally StoreLog.ParquetCheckpointThreshold = savedT
  }

  test("writer side: append and upsert on the 1M-file store commit O(commit)") {
    // mutate a COPY of the shared fixture (manifest-only store: copying
    // the log dir IS copying the store)
    val (src, _) = big
    val dir = Files.createTempDirectory("graft_lazy1m_w").toString
    val logSrc = java.nio.file.Paths.get(src, "_graft_log")
    val logDst = java.nio.file.Paths.get(dir, "_graft_log")
    java.nio.file.Files.createDirectories(logDst)
    java.nio.file.Files.list(logSrc).forEach(p =>
      java.nio.file.Files.copy(p, logDst.resolve(p.getFileName)))
    val n0 = StoreLog.liveFileCount(dir, StoreLog.latestVersion(dir).get)
    import spark.implicits._
    import org.apache.spark.sql.SaveMode
    def rows(ts0: Long, v: Double) = Seq((7777777L, ts0, v, 1L))
      .toDF("uid", "ts", "v", "version")
    // APPEND: the commit must touch NO checkpoint rows at all — the
    // delta serializes from the transform (raw JSON in, raw JSON out)
    CheckpointParquet.resetCounters()
    TsStore.write(rows(600000L, 1.0).drop("version"), dir,
      tsCol = "ts", uidCols = Seq("uid"), mode = SaveMode.Append,
      overlapPolicy = TsStore.OverlapPolicy.Allow)
    assert(CheckpointParquet.lastRowsDecoded === 0L,
      s"an append decoded ${CheckpointParquet.lastRowsDecoded} checkpoint " +
        "rows — the transform commit is not engaging")
    val v1 = StoreLog.latestVersion(dir).get
    assert(StoreLog.liveFileCount(dir, v1) === n0 + 1)
    assert(StoreLog.rawDelta(dir, v1).exists { case (add, rm, _) =>
      add.size == 1 && add.head.startsWith("uid=7777777/") && rm.isEmpty })
    // UPSERT into the real partition: the commit is a transform too —
    // its raw manifest carries exactly (replaced partition's files
    // removed, staged files added), never a full list
    TsStore.upsert(spark, dir, rows(600000L, 9.0),
      keyCols = Seq("uid", "ts"), versionCol = "version",
      tsCol = "ts", uidCols = Seq("uid"))
    val v2 = StoreLog.latestVersion(dir).get
    assert(v2 === v1 + 1)
    assert(StoreLog.rawDelta(dir, v2).exists { case (add, rm, _) =>
      add.size == 1 && rm.size == 1 &&
        add.head.startsWith("uid=7777777/") &&
        rm.head.startsWith("uid=7777777/") },
      s"the upsert must serialize an exact one-partition transform: " +
        s"${StoreLog.rawDelta(dir, v2)}")
    assert(StoreLog.replacedAt(dir, v2) === Seq("uid=7777777"))
    assert(StoreLog.liveFileCount(dir, v2) === n0 + 1)
    // the merged row reads back (and only it — latest-wins took v=9.0)
    val got = TsStore.load(spark, dir)
      .filter(col("uid") === 7777777L).collect()
    assert(got.length === 1 && got.head.getAs[Double]("v") === 9.0)
    // dv TAKEDOWN: the scoped find resolves only the may-match files
    // and the commit is a dv-only TRANSFORM (no file moves, no parent
    // list) — raw manifest: empty add/remove, a dvs node present
    TsStore.deleteVectors(spark, dir,
      col("uid") === 7777777L && col("v") === 9.0)
    val v3 = StoreLog.latestVersion(dir).get
    assert(v3 === v2 + 1)
    assert(StoreLog.rawDelta(dir, v3).exists { case (add, rm, _) =>
      add.isEmpty && rm.isEmpty })
    val rawJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_graft_log", f"v$v3%08d.json")), "UTF-8")
    assert(rawJson.contains("\"dvs\""), "the dv commit must carry its vector entry")
    assert(TsStore.load(spark, dir)
      .filter(col("uid") === 7777777L).count() === 0L)
    assert(StoreLog.liveFileCount(dir, v3) === n0 + 1)
  }

  /** Copy the shared 1M-file fixture's log into a fresh dir (manifest-
    * only store: copying the log dir IS copying the store).
    */
  private def copyBig(): String = {
    val (src, _) = big
    val dir = Files.createTempDirectory("graft_lazy1m_c").toString
    val logSrc = java.nio.file.Paths.get(src, "_graft_log")
    val logDst = java.nio.file.Paths.get(dir, "_graft_log")
    java.nio.file.Files.createDirectories(logDst)
    java.nio.file.Files.list(logSrc).forEach(p =>
      java.nio.file.Files.copy(p, logDst.resolve(p.getFileName)))
    dir
  }

  test("checkpoint-DUE transform commit streams: txn record, exact state, summary intact") {
    val dir = copyBig() // v3, interval 10 → v10 is checkpoint-due
    def st(f: String, lo: Long): (String, FileStats.FileStatsMap) =
      f -> Map("ts" -> FileStats.ColStat("i", lo, lo + 99L, 0L, 100L))
    (4 to 9).foreach { i =>
      val f = f"uid=500/h_$i%02d.parquet"
      StoreLog.commitTransform(dir, i - 1L, Seq.empty,
        removeFiles = Nil, addFiles = Seq(f),
        addStats = Map(st(f, 700000L)), addSizes = Map(f -> 500L))
    }
    // v10: one add, one remove, one dv change on an untouched file —
    // all three transform species riding ONE streamed checkpoint
    val f10 = "uid=500/h_10.parquet"
    val v = StoreLog.commitTransform(dir, 9L, Seq("uid=7", "uid=500"),
      removeFiles = Seq("uid=7/f_00003.parquet"),
      addFiles = Seq(f10),
      addStats = Map(st(f10, 710000L)), addSizes = Map(f10 -> 500L),
      addDvs = Map("uid=13/f_00100.parquet" ->
        Dv.Entry("_graft_dv/z.bin", 5L, Map("ts" -> 0L), Map.empty)))
    assert(v === 10L)
    // the manifest is a POINTER checkpoint carrying its own txn record:
    // rawDelta serves it — the change feed / conflict walks / marker
    // walks stay O(commit) across the checkpoint boundary
    val rawJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_graft_log", "v00000010.json")), "UTF-8")
    assert(rawJson.contains("\"filesRef\""))
    assert(StoreLog.rawDelta(dir, 10L).exists { case (add, rm, sz) =>
      add == Seq(f10) && rm == Seq("uid=7/f_00003.parquet") &&
        sz.get(f10).contains(500L)
    }, s"txn record missing: ${StoreLog.rawDelta(dir, 10L)}")
    // exact live count from raw manifests alone
    val n = UIDS.toLong * PER_UID + 5 - 3 + 6 + 1 - 1
    assert(StoreLog.liveFileCount(dir, 10L) === n)
    // resolution above the new checkpoint: the transform applied exactly
    val u7 = StoreLog.foldFiles(dir, 10L, prefixes = Seq("uid=7"))(
      List.empty[StoreLog.FileEntry])((a, e) => e :: a)
    assert(u7.size === PER_UID - 4)
    assert(!u7.exists(_.path == "uid=7/f_00003.parquet"))
    // pre-existing dv (v3) AND the v10 dv change both ride the payload
    assert(u7.find(_.path == "uid=7/f_00500.parquet")
      .exists(_.dv.exists(_.rows == 7L)))
    val u13 = StoreLog.foldFiles(dir, 10L, prefixes = Seq("uid=13"))(
      List.empty[StoreLog.FileEntry])((a, e) => e :: a)
    assert(u13.find(_.path == "uid=13/f_00100.parquet")
      .exists(_.dv.exists(_.rows == 5L)))
    val u500 = StoreLog.foldFiles(dir, 10L, prefixes = Seq("uid=500"))(
      List.empty[String])((a, e) => e.path :: a)
    assert(u500.size === PER_UID + 7)
    // the NEW checkpoint's sorted path column still row-group-skips,
    // and its footer summary folded correctly while streaming
    CheckpointParquet.resetCounters()
    StoreLog.foldFiles(dir, 10L, prefixes = Seq("uid=13"))(())((_, _) => ())
    assert(CheckpointParquet.lastRowGroupsSkipped > 0)
    val refName = {
      val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(rawJson)
      m.get("filesRef").asText()
    }
    val s = CheckpointParquet.summaryOf(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_graft_log", refName))).get
    assert(s.files === n)
    assert(s.dvRows === 12L) // 7 (v3 vector) + 5 (v10 change)
    assert(s.cols.get("ts").exists(cs => cs.min == 0L && cs.max == 710099L))
  }

  test("restore streams a checkpoint commit — exact target state, no materialized maps") {
    val dir = copyBig() // v3: +5 uid=42 adds, -3 uid=7 removes, 1 dv
    CheckpointParquet.resetCounters()
    val v = TsStore.restore(spark, dir, 1L)
    assert(v === 4L)
    // v4 is a full-list checkpoint (no txn record — a restore's diff
    // spans the store; followers pay their one honest set diff)
    assert(StoreLog.rawDelta(dir, 4L).isEmpty)
    assert(StoreLog.liveFileCount(dir, 4L) === UIDS.toLong * PER_UID)
    // the v2 removes resurrected, the v2 adds gone, the v3 dv shed
    val u7 = StoreLog.foldFiles(dir, 4L, prefixes = Seq("uid=7"))(
      List.empty[StoreLog.FileEntry])((a, e) => e :: a)
    assert(u7.size === PER_UID)
    assert(u7.forall(_.dv.isEmpty))
    assert(u7.find(_.path == "uid=7/f_00000.parquet")
      .exists(_.stats.exists(_.contains("ts"))))
    val u42 = StoreLog.foldFiles(dir, 4L, prefixes = Seq("uid=42"))(
      List.empty[String])((a, e) => e.path :: a)
    assert(u42.size === PER_UID && !u42.exists(_.contains("/g_")))
    // props survived from the CURRENT head (rollback rewinds data, not
    // store configuration)
    assert(StoreLog.propsAt(dir, 4L).get(GraftTable.UidsProp).contains("uid"))
    // replaced names every touched partition prefix (concurrent
    // writers' rebase checks look for theirs there)
    assert(StoreLog.replacedAt(dir, 4L).size === UIDS)
  }

  test("compact + scoped zorder + dropSeries under the lazy threshold ≡ full resolution") {
    import spark.implicits._
    val events = Tables.events(spark, TestSpark.sf001)
      .select("event_id", "ts", "user_id", "event_type", "value")
    def mkStore(): String = {
      val d = Files.createTempDirectory("graft_lazy_verbs").toString
      TsStore.write(events, d, tsCol = "ts", uidCols = Seq("event_type"),
        checkpointInterval = 3)
      // churn: an upsert chain + a vector, so compaction has both
      // small files and a dv to materialize
      TsStore.upsert(spark, d,
        events.filter(col("event_id") % 5 === 0)
          .withColumn("value", col("value") * 2)
          .withColumn("version", lit(2L)),
        keyCols = Seq("event_id"), versionCol = "version",
        tsCol = "ts", uidCols = Seq("event_type"))
      TsStore.deleteVectors(spark, d, col("event_id") % 41 === 0)
      d
    }
    def readBack(d: String): Seq[(Long, Double)] =
      spark.read.format("graft").load(d)
        .select("event_id", "value").as[(Long, Double)]
        .collect().toSeq.sorted
    val dirLazy = mkStore(); val dirFull = mkStore()
    val saved = StoreLog.LazySnapshotThreshold
    def verbs(d: String): Unit = {
      TsStore.compactPartitions(spark, d, Seq("event_type=view"),
        tsCol = "ts", uidCols = Seq("event_type"))
      TsStore.zorder(spark, d, clusterCols = Seq("user_id"),
        uidCols = Seq("event_type"), buckets = 16,
        scope = Seq("event_type=click"))
      ()
    }
    StoreLog.LazySnapshotThreshold = 1
    try verbs(dirLazy) finally StoreLog.LazySnapshotThreshold = saved
    verbs(dirFull)
    assert(readBack(dirLazy) === readBack(dirFull),
      "scoped-resolve maintenance verbs must read back identically")
    // the compacted prefix's vector materialized in BOTH modes, the
    // commits are transforms (raw add/remove lists), and untouched
    // partitions' files never entered either commit
    Seq(dirLazy, dirFull).foreach { d =>
      val vC = StoreLog.latestVersion(d).get - 1 // compact's commit
      assert(StoreLog.rawDelta(d, vC).exists { case (a, r, _) =>
        a.nonEmpty && r.nonEmpty &&
          (a ++ r).forall(_.startsWith("event_type=view/")) })
      assert(StoreLog.replacedAt(d, vC) === Seq("event_type=view"))
      assert(StoreLog.rawDelta(d, vC + 1).exists { case (a, r, _) =>
        (a ++ r).forall(_.startsWith("event_type=click/")) })
      val snap = StoreLog.read(d, StoreLog.latestVersion(d).get)
      assert(!snap.files.filter(_.startsWith("event_type=view/"))
        .exists(snap.dvs.contains))
    }
    // dropSeries through the facade under the seam: prefix-scoped fold
    // + per-attempt transform remove set
    val base = Files.createTempDirectory("graft_lazy_drop").toString
    val ct = new Bundles(spark, base)
    val rows = Seq((java.sql.Timestamp.valueOf("2024-01-01 09:30:00"), 1.0),
      (java.sql.Timestamp.valueOf("2024-01-01 09:31:00"), 2.0)).toDF("ts", "v")
    ct.write("AAPL", rows); ct.write("MSFT", rows)
    ct.upsert("AAPL", rows.withColumn("version", lit(2L)),
      keyCols = Seq("ts"), versionCol = "version") // logs the collection
    StoreLog.LazySnapshotThreshold = 1
    try {
      assert(ct.dropSeries("AAPL"))
      assert(!ct.dropSeries("AAPL")) // already gone — scoped fold says so
    } finally StoreLog.LazySnapshotThreshold = saved
    val uids = ct.listUids().collect().map(_.getString(0)).toSeq
    assert(uids === Seq("MSFT"))
  }

  test("vacuum on the 1M-file store: streamed liveness + streamed stranded-delta rewrite") {
    val dir = copyBig() // v1 pointer ckpt, v2 delta, v3 delta (dv change)
    // a DEAD garbage file in a partition dir: the only on-disk data
    // file (the fixture is manifest-only), so the candidate walk must
    // find exactly it — everything the manifests name is absent from
    // disk and never becomes a candidate
    val deadDir = java.nio.file.Paths.get(dir, "uid=7")
    java.nio.file.Files.createDirectories(deadDir)
    java.nio.file.Files.write(deadDir.resolve("zz_dead.parquet"),
      Array[Byte](1, 2, 3))
    val tsBefore = {
      val raw = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "_graft_log", "v00000003.json")), "UTF-8")
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(raw).get("timestampMs").asLong()
    }
    assert(StoreLog.vacuum(dir, retainVersions = 1) === 1,
      "exactly the planted dead file must reclaim")
    // manifests pruned to the retained window; the stranded v3 delta
    // was rewritten IN PLACE as a self-resolving POINTER checkpoint —
    // streamed off its own fold, never a driver-side map of the store
    assert(StoreLog.listVersions(dir) === Seq(3L))
    val rawJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_graft_log", "v00000003.json")), "UTF-8")
    assert(rawJson.contains("\"filesRef\""),
      "a 1M-file rewrite must stay a pointer checkpoint")
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(rawJson)
    // the ORIGINAL commit's identity survives the rewrite: timestamp
    // (age retention / history) and the TXN RECORD (rawDelta consumers)
    assert(m.get("timestampMs").asLong() === tsBefore)
    assert(StoreLog.rawDelta(dir, 3L).exists { case (a, r, _) =>
      a.isEmpty && r.isEmpty }, "v3's dv-only txn record must survive")
    // exact live state round-trips through the streamed rewrite
    assert(StoreLog.liveFileCount(dir, 3L) === UIDS.toLong * PER_UID + 5 - 3)
    val u7 = StoreLog.foldFiles(dir, 3L, prefixes = Seq("uid=7"))(
      List.empty[StoreLog.FileEntry])((a, e) => e :: a)
    assert(u7.size === PER_UID - 3)
    assert(u7.find(_.path == "uid=7/f_00500.parquet")
      .exists(_.dv.exists(_.rows == 7L)))
    assert(u7.forall(e => e.stats.exists(_.contains("ts")) && e.size.nonEmpty))
    val u42 = StoreLog.foldFiles(dir, 3L, prefixes = Seq("uid=42"))(
      List.empty[String])((a, e) => e.path :: a)
    assert(u42.size === PER_UID + 5 && u42.count(_.contains("/g_")) === 5)
    // and the rewritten checkpoint's payload still row-group-skips
    CheckpointParquet.resetCounters()
    StoreLog.foldFiles(dir, 3L, prefixes = Seq("uid=13"))(())((_, _) => ())
    assert(CheckpointParquet.lastRowGroupsSkipped > 0)
  }

  test("checkpoint footer summary: totals + complete-column merged bounds, no row decode") {
    val files = Seq("p=0/a.parquet", "p=1/b.parquet")
    val stats: Map[String, FileStats.FileStatsMap] = Map(
      files(0) -> Map(
        "ts" -> FileStats.ColStat("i", 0L, 99L, 0L, 100L),
        "only_a" -> FileStats.ColStat("i", 1L, 2L, 0L, 100L)),
      files(1) -> Map("ts" -> FileStats.ColStat("i", 50L, 199L, 3L, 50L)))
    val bytes = CheckpointParquet.write(files, stats,
      Map(files(0) -> 10L, files(1) -> 20L),
      Map(files(1) -> Dv.Entry("_graft_dv/y.bin", 4L, Map.empty, Map.empty)))
    CheckpointParquet.resetCounters()
    val s = CheckpointParquet.summaryOf(bytes).get
    assert(CheckpointParquet.lastRowsDecoded === 0L)
    assert(s.files === 2L && s.rows === 150L && s.dvRows === 4L)
    // ts is recorded by BOTH files → merged bound; only_a is partial →
    // omitted (a subset bound would prune unsoundly)
    assert(s.cols.keySet === Set("ts"))
    assert(s.cols("ts") === FileStats.ColStat("i", 0L, 199L, 3L, 150L))
  }
}
