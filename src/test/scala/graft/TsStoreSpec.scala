package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{StoreLog, Tables, TsStore}

/** Round-trip / slice / validation semantics of the chunked store —
  * mirrors the reference's pytest round-trip suite (SURVEY §5.1).
  */
class TsStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val events = Tables.events(spark, TestSpark.sf001)
  private val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")

  test("write → read round-trip preserves every row") {
    val dir = Files.createTempDirectory("graft_rt").toString
    TsStore.write(events, dir, tsCol = "ts", uidCols = Seq("event_type"))
    val back = TsStore.read(spark, dir).select(cols.map(col): _*)
    val src = events.select(cols.map(col): _*)
    assert(back.count() === src.count())
    assert(back.except(src).count() === 0)
    assert(src.except(back).count() === 0)
  }

  test("sliced read has inclusive bounds on both ends") {
    val ts = events.orderBy("ts").select("ts").as[java.sql.Timestamp].take(5)
    val (lo, hi) = (ts.head, ts.last)
    val dir = Files.createTempDirectory("graft_slice").toString
    TsStore.write(events, dir, tsCol = "ts")
    val got = TsStore.read(spark, dir, start = Some(lo), end = Some(hi))
    assert(got.count() === 5)
    assert(got.filter(col("ts") === lit(lo)).count() === 1)
    assert(got.filter(col("ts") === lit(hi)).count() === 1)
  }

  test("column projection returns only requested columns") {
    val dir = Files.createTempDirectory("graft_proj").toString
    TsStore.write(events, dir, tsCol = "ts")
    val got = TsStore.read(spark, dir, columns = Seq("ts", "value"))
    assert(got.columns.toSeq === Seq("ts", "value"))
  }

  test("write refuses null timestamps (reference monotonicity validation)") {
    val bad = Seq((1L, Option.empty[java.sql.Timestamp], 1.0),
      (2L, Some(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")), 2.0))
      .toDF("event_id", "ts", "value")
    val dir = Files.createTempDirectory("graft_bad").toString
    // the store's task writer refuses the null ts (one pass over the
    // input, not a dedicated pre-scan job), so the refusal surfaces as
    // a Spark task failure wrapping the message
    val e = intercept[Throwable] {
      TsStore.write(bad, dir, tsCol = "ts")
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(c =>
      Option(c.getMessage).exists(_.contains("refusing write"))),
      s"expected a null-ts refusal, got $e")
    // and the refused write must not have produced a readable store
    assert(!new java.io.File(dir, "_graft_log").exists() ||
      graft.sources.StoreLog.latestVersion(dir).isEmpty)
  }

  test("overwrite of an EXISTING logged store refuses null timestamps " +
    "BEFORE destroying the log (pre-scan path)") {
    val dir = Files.createTempDirectory("graft_bad_ow").toString
    TsStore.write(events, dir, tsCol = "ts")
    val v = graft.sources.StoreLog.latestVersion(dir)
    assert(v.nonEmpty)
    val bad = Seq((1L, Option.empty[java.sql.Timestamp], 1.0))
      .toDF("event_id", "ts", "value")
    val e = intercept[Throwable] {
      TsStore.write(bad, dir, tsCol = "ts")
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(c =>
      Option(c.getMessage).exists(_.contains("refusing write"))),
      s"expected a null-ts refusal, got $e")
    // the refusal landed before the old log was removed: store intact
    assert(graft.sources.StoreLog.latestVersion(dir) === v)
    assert(TsStore.load(spark, dir).count() === events.count())
  }

  test("strict monotonicity validation flags duplicate timestamps per uid") {
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val dup = Seq((1L, t, 1L), (2L, t, 1L), (3L, t, 2L))
      .toDF("event_id", "ts", "user_id")
    assert(TsStore.validate(dup, "ts", Seq("user_id"), strictlyIncreasing = true) > 0)
    assert(TsStore.validate(dup, "ts", Seq("user_id")) === 0)
  }

  test("overlapping append is refused under OverlapPolicy.Error, disjoint accepted") {
    import org.apache.spark.sql.SaveMode
    import graft.sources.TsStore.OverlapPolicy
    def tick(t: String, uid: Long) =
      (java.sql.Timestamp.valueOf(t), uid, 1.0)
    val dir = Files.createTempDirectory("graft_ovl").toString
    val first = Seq(tick("2024-01-01 09:30:00", 1L), tick("2024-01-01 09:40:00", 1L))
      .toDF("ts", "uid", "v")
    TsStore.write(first, dir, uidCols = Seq("uid"))
    // disjoint append (after the stored extent) — accepted
    val disjoint = Seq(tick("2024-01-01 09:41:00", 1L)).toDF("ts", "uid", "v")
    TsStore.write(disjoint, dir, uidCols = Seq("uid"), mode = SaveMode.Append,
      overlapPolicy = OverlapPolicy.Error)
    assert(TsStore.read(spark, dir).count() === 3)
    // overlapping append (inside [09:30, 09:41]) — refused
    val overlap = Seq(tick("2024-01-01 09:35:00", 1L)).toDF("ts", "uid", "v")
    val e = intercept[IllegalArgumentException] {
      TsStore.write(overlap, dir, uidCols = Seq("uid"), mode = SaveMode.Append,
        overlapPolicy = OverlapPolicy.Error)
    }
    assert(e.getMessage.contains("overlaps"))
    // a DIFFERENT series overlapping the same wall-clock range is fine
    val otherUid = Seq(tick("2024-01-01 09:35:00", 2L)).toDF("ts", "uid", "v")
    TsStore.write(otherUid, dir, uidCols = Seq("uid"), mode = SaveMode.Append,
      overlapPolicy = OverlapPolicy.Error)
    // Warn (default) appends anyway
    TsStore.write(overlap, dir, uidCols = Seq("uid"), mode = SaveMode.Append)
    assert(TsStore.read(spark, dir).count() === 5)
  }

  test("backfill into a gap between stored chunks is accepted; chunk overlap still refused") {
    import org.apache.spark.sql.SaveMode
    import graft.sources.TsStore.OverlapPolicy
    def tick(t: String) = (java.sql.Timestamp.valueOf(t), 1L, 1.0)
    val dir = Files.createTempDirectory("graft_gap").toString
    TsStore.write(Seq(tick("2024-01-01 09:00:00"), tick("2024-01-01 09:10:00"))
      .toDF("ts", "uid", "v"), dir, uidCols = Seq("uid"))
    TsStore.write(Seq(tick("2024-01-01 09:40:00"), tick("2024-01-01 09:50:00"))
      .toDF("ts", "uid", "v"), dir, uidCols = Seq("uid"), mode = SaveMode.Append,
      overlapPolicy = OverlapPolicy.Error)
    // the missed middle chunk: inside the per-uid HULL [09:00, 09:50]
    // but intersecting NO stored chunk — a hull check would refuse this
    // legitimate backfill
    TsStore.write(Seq(tick("2024-01-01 09:20:00"), tick("2024-01-01 09:30:00"))
      .toDF("ts", "uid", "v"), dir, uidCols = Seq("uid"), mode = SaveMode.Append,
      overlapPolicy = OverlapPolicy.Error)
    assert(TsStore.read(spark, dir).count() === 6)
    // an actual chunk intersection is still a refused double-write
    val e = intercept[IllegalArgumentException] {
      TsStore.write(Seq(tick("2024-01-01 09:05:00")).toDF("ts", "uid", "v"),
        dir, uidCols = Seq("uid"), mode = SaveMode.Append,
        overlapPolicy = OverlapPolicy.Error)
    }
    assert(e.getMessage.contains("overlaps"))
  }

  test("pinned chunk geometry: ts-slice skips row groups via footer stats") {
    // Tiny row groups force many per-file chunks; a narrow slice must then
    // read a small fraction of rows at the SCAN (row-group skipping), not
    // merely filter them above it.
    val dir = Files.createTempDirectory("graft_rg").toString
    TsStore.write(events, dir, tsCol = "ts", rowGroupBytes = 8 << 10)
    val ts = events.orderBy("ts").select("ts").as[java.sql.Timestamp].collect()
    val (lo, hi) = (ts(100), ts(200)) // ~1% of the table's time range
    val sliced = TsStore.read(spark, dir, start = Some(lo), end = Some(hi))
    sliced.collect()
    val scan = sliced.queryExecution.executedPlan.collectLeaves().head
    val scanned = scan.metrics("numOutputRows").value
    assert(scanned > 0)
    // ~150-row groups at 8 KB: a 101-row slice touches 2-3 groups (~300
    // rows). Under INT96 (no stats) or default 128 MB groups this reads
    // ALL 1000 — the assertion is skip-vs-no-skip, not exact geometry.
    assert(scanned < events.count() / 2,
      s"scan read $scanned rows for a ~100-row slice — row groups not skipped " +
        "(geometry not pinned or stats not tight)")
  }

  test("catalog listing matches per-uid extents") {
    val cat = TsStore.listSeries(events, uidCol = "user_id").collect()
    val n = events.select("user_id").distinct().count()
    assert(cat.length === n)
    assert(cat.map(_.getAs[Long]("n_rows")).sum === events.count())
  }

  test("upsert is idempotent: re-applying the same delta leaves the store unchanged") {
    val dir = Files.createTempDirectory("graft_ups_idem").toString
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val base = events.select(cols.map(col) :+ lit(1L).as("version"): _*)
    TsStore.write(base, dir, tsCol = "ts", uidCols = Seq("event_type"))
    val delta = events.filter(col("event_type") === "purchase" && col("event_id") % 7 === 0)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        (col("value") * 2).as("value"), lit(2L).as("version")).cache()
    TsStore.upsert(spark, dir, delta, keyCols = Seq("event_id"),
      versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))
    val first = TsStore.read(spark, dir).collect().toSet
    // same delta again: every delta row ties on version with the stored
    // copy and the delta wins (MERGE update) — same rows, same state
    TsStore.upsert(spark, dir, delta, keyCols = Seq("event_id"),
      versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))
    assert(TsStore.read(spark, dir).collect().toSet === first)
    delta.unpersist()
  }

  test("partition-pruned upsert reads only touched partitions and rewrites only them") {
    val dir = Files.createTempDirectory("graft_ups").toString
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val base = events.select(cols.map(col) :+ lit(1L).as("version"): _*)
    TsStore.write(base, dir, tsCol = "ts", uidCols = Seq("event_type"))

    def partFiles(et: String): Set[(String, Long, Long)] =
      Option(new java.io.File(s"$dir/event_type=$et").listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length, f.lastModified)).toSet
    val untouchedBefore = Seq("click", "view", "signup", "error").map(partFiles)
    val purchaseFilesBefore = partFiles("purchase")
    assert(purchaseFilesBefore.nonEmpty)

    val purchases = events.filter(col("event_type") === "purchase")
    val delta = purchases.filter(col("event_id") % 10 === 0)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        (col("value") + 1000.0).as("value"), lit(2L).as("version"))
      .unionByName(purchases.limit(3)
        .select((col("event_id") + 10000000L).as("event_id"), col("ts"),
          col("user_id"), col("event_type"), col("value"), lit(2L).as("version")))
      .cache()

    // 1. PLAN-TIME pruning: the uid predicate pushes into the merge
    //    plan's base scan, which plans exactly the touched partition's
    //    files, none of the other four.
    //    (AQE off for the plan walk: QueryStageExec wraps leaves.)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = TsStore.upsertPlan(spark, dir, delta,
        keyCols = Seq("event_id"), versionCol = "version", uidCols = Seq("event_type"))
      plan.collect()
      val scans = plan.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.table.name().contains(new java.io.File(dir).getName) =>
          b.scan.asInstanceOf[graft.sources.GraftScan]
      }
      assert(scans.nonEmpty, "merge plan lost the base file scan")
      val planned = scans.flatMap(_.plannedFiles)
      val totalFiles = Seq("click", "view", "signup", "error", "purchase")
        .map(partFiles(_).size).sum
      val purchaseLive = graft.sources.StoreLog.latest(dir).get.files
        .filter(_.startsWith("event_type=purchase/"))
      assert(purchaseLive.size === purchaseFilesBefore.size)
      assert(planned.sorted === purchaseLive.sorted,
        s"merge planned $planned, expected only the ${purchaseLive.size} purchase files (store has $totalFiles)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")

    // 2. Dynamic overwrite rewrites ONLY the touched partition.
    TsStore.upsert(spark, dir, delta, keyCols = Seq("event_id"),
      versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))
    val untouchedAfter = Seq("click", "view", "signup", "error").map(partFiles)
    assert(untouchedAfter === untouchedBefore,
      "untouched partitions were rewritten — dynamic overwrite not partition-scoped")
    assert(partFiles("purchase") !== purchaseFilesBefore)

    // 3. End state == latest-wins merge of base ∪ delta.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_id").orderBy(desc("version"))
    val expected = base.unionByName(delta)
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val got = TsStore.read(spark, dir).select(expected.columns.map(col): _*)
    assert(got.count() === expected.count())
    assert(got.except(expected).count() === 0)
    assert(expected.except(got).count() === 0)
    delta.unpersist()
  }

  test("a subset read carries its era's declared schema: CDC from-window and copy-on-write delete") {
    val dir = Files.createTempDirectory("graft_era").toString
    def df(rows: Seq[(Long, String, String, Double, Long)]) =
      rows.toDF("event_id", "ts_s", "event_type", "value", "version")
        .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    TsStore.write(df(Seq(
      (1L, "2024-01-01 10:00:00", "a", 1.0, 1L),
      (2L, "2024-01-01 10:01:00", "a", 2.0, 1L),
      (3L, "2024-01-01 10:02:00", "b", 3.0, 1L),
      (4L, "2024-01-01 10:03:00", "b", 4.0, 1L))),
      dir, tsCol = "ts", uidCols = Seq("event_type"))
    val v1 = StoreLog.latestVersion(dir).get
    val v1Cols = TsStore.load(spark, dir).columns.toSeq
    assert(v1Cols === Seq("event_id", "value", "version", "ts", "event_type"))
    // an append adds `note`: the declaration widens (data columns, then
    // the partition column, as a parquet read of the store infers them)
    TsStore.write(df(Seq((5L, "2024-01-02 10:00:00", "c", 5.0, 1L)))
        .withColumn("note", lit("n5")), dir, tsCol = "ts",
      uidCols = Seq("event_type"), mode = org.apache.spark.sql.SaveMode.Append,
      overlapPolicy = TsStore.OverlapPolicy.Allow)
    val v2Cols = TsStore.load(spark, dir).columns.toSeq
    assert(v2Cols === Seq("event_id", "value", "version", "ts", "note", "event_type"))
    // a copy-on-write delete touching only v1's files rewrites them in
    // its base's era: every row but key 3, `note` null on the old rows
    val v3 = TsStore.delete(spark, dir, col("event_id") === 3L,
      tsCol = "ts", uidCols = Seq("event_type"))
    val after = TsStore.load(spark, dir)
    assert(after.columns.toSeq === v2Cols)
    assert(after.select("event_id", "note").as[(Long, Option[String])].collect().toSet ===
      Set((1L, None), (2L, None), (4L, None), (5L, Some("n5"))))
    // the from-window of changes(v1, v3) is v1's replaced files, read
    // under v1's declaration: exactly their rows, no `note`
    val (s1, s3) = (StoreLog.read(dir, v1), StoreLog.read(dir, v3))
    val gone = s1.files.filterNot(s3.files.toSet)
    assert(gone.nonEmpty && gone.forall(_.startsWith("event_type=b/")))
    val from = TsStore.readFilesDv(spark, dir, s1, gone)
    assert(from.columns.toSeq === v1Cols)
    assert(from.select("event_id").as[Long].collect().toSet === Set(3L, 4L))
    val ch = TsStore.changes(spark, dir, v1, v3,
        keyCols = Seq("event_id"), versionCol = "version")
      .select("event_id", "note", "change_type")
      .as[(Long, Option[String], String)].collect().toSet
    assert(ch === Set((3L, None, "delete"), (5L, Some("n5"), "insert")))
  }

  test("an append whose uid does not parse under the declared partition type widens it") {
    val dir = Files.createTempDirectory("graft_uidwiden").toString
    def df(uid: String, ts: String, v: Double) =
      Seq((uid, ts, v)).toDF("uid", "ts_s", "value")
        .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    def append(d: org.apache.spark.sql.DataFrame) =
      TsStore.write(d, dir, tsCol = "ts", uidCols = Seq("uid"),
        mode = org.apache.spark.sql.SaveMode.Append,
        overlapPolicy = TsStore.OverlapPolicy.Error)
    TsStore.write(df("7203", "2024-01-01 10:00:00", 1.0), dir,
      tsCol = "ts", uidCols = Seq("uid"))
    def uidType = TsStore.load(spark, dir).schema("uid").dataType
    // numeric-looking uids are declared int at creation, as a parquet
    // read of the directory infers them
    assert(uidType === org.apache.spark.sql.types.IntegerType)
    append(df("3000000000", "2024-01-01 10:00:00", 2.0))
    assert(uidType === org.apache.spark.sql.types.LongType)
    append(df("AAPL", "2024-01-01 10:00:00", 3.0))
    assert(uidType === org.apache.spark.sql.types.StringType)
    val all = TsStore.load(spark, dir).select(col("uid").cast("string"), col("value"))
      .as[(String, Double)].collect().toSet
    assert(all === Set(("7203", 1.0), ("3000000000", 2.0), ("AAPL", 3.0)))
    for ((u, v) <- Seq("7203" -> 1.0, "AAPL" -> 3.0))
      assert(TsStore.read(spark, dir, uid = Some("uid" -> u)).select("value")
        .as[Double].collect().toSeq === Seq(v))
    // a copy-on-write delete rewrites the old series under the widened
    // type: its rows stay in their own partition
    TsStore.delete(spark, dir, col("value") === 2.0, tsCol = "ts", uidCols = Seq("uid"))
    assert(StoreLog.read(dir, StoreLog.latestVersion(dir).get).files
      .forall(f => f.startsWith("uid=7203/") || f.startsWith("uid=AAPL/")))
    assert(TsStore.read(spark, dir, uid = Some("uid" -> "7203")).select("value")
      .as[Double].collect().toSeq === Seq(1.0))
    // a declared int that meets a decimal-looking uid goes to double,
    // the type Spark's partition discovery gives the two together
    val dbl = Files.createTempDirectory("graft_uidwiden_dbl").toString
    TsStore.write(df("7203", "2024-01-01 10:00:00", 1.0), dbl,
      tsCol = "ts", uidCols = Seq("uid"))
    TsStore.write(df("1.5", "2024-01-01 10:00:00", 4.0), dbl, tsCol = "ts",
      uidCols = Seq("uid"), mode = org.apache.spark.sql.SaveMode.Append,
      overlapPolicy = TsStore.OverlapPolicy.Error)
    val dblBack = TsStore.load(spark, dbl)
    assert(dblBack.schema("uid").dataType === org.apache.spark.sql.types.DoubleType)
    assert(dblBack.select("uid", "value").as[(Double, Double)].collect().toSet ===
      Set((7203.0, 1.0), (1.5, 4.0)))
  }

  test("changes classifies insert/update/delete by key and cancels carried-over survivors") {
    val dir = Files.createTempDirectory("graft_changes").toString
    def df(rows: Seq[(Long, String, String, Double, Long)]) =
      rows.toDF("event_id", "ts_s", "event_type", "value", "version")
        .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    val base = df(Seq(
      (1L, "2024-01-01 10:00:00", "a", 1.0, 1L),
      (2L, "2024-01-01 10:01:00", "a", 2.0, 1L),
      (3L, "2024-01-01 10:02:00", "b", 3.0, 1L),
      (4L, "2024-01-01 10:03:00", "b", 4.0, 1L)))
    TsStore.write(base, dir, tsCol = "ts", uidCols = Seq("event_type"))
    // v1 = ensure, v2 = upsert (update key 2, insert key 5 into 'a')
    val v2 = TsStore.upsert(spark, dir, df(Seq(
      (2L, "2024-01-01 10:01:00", "a", 20.0, 2L),
      (5L, "2024-01-01 10:04:00", "a", 5.0, 2L))),
      keyCols = Seq("event_id"), versionCol = "version",
      tsCol = "ts", uidCols = Seq("event_type"))
    // v3 = delete key 3 from 'b'
    val v3 = TsStore.delete(spark, dir, col("event_id") === 3L,
      tsCol = "ts", uidCols = Seq("event_type"))
    assert((v2, v3) === (2L, 3L))
    val ch = TsStore.changes(spark, dir, 1L, 3L,
        keyCols = Seq("event_id"), versionCol = "version")
      .select("event_id", "version", "change_type")
      .as[(Long, Long, String)].collect().toSet
    // carried-over survivors (keys 1 in 'a', 4 in 'b') must NOT appear
    assert(ch === Set((2L, 2L, "update"), (5L, 2L, "insert"), (3L, 1L, "delete")))
    // sub-window: v2→v3 sees only the delete
    val ch23 = TsStore.changes(spark, dir, 2L, 3L,
        keyCols = Seq("event_id"), versionCol = "version")
      .select("event_id", "change_type").as[(Long, String)].collect().toSet
    assert(ch23 === Set((3L, "delete")))
    // pure-append window: a logged append commits v4; every row an insert
    TsStore.write(df(Seq((6L, "2024-01-02 10:00:00", "c", 6.0, 1L))), dir,
      tsCol = "ts", uidCols = Seq("event_type"),
      mode = org.apache.spark.sql.SaveMode.Append,
      overlapPolicy = TsStore.OverlapPolicy.Allow)
    val ch34 = TsStore.changes(spark, dir, 3L, 4L,
        keyCols = Seq("event_id"), versionCol = "version")
      .select("event_id", "change_type").as[(Long, String)].collect().toSet
    assert(ch34 === Set((6L, "insert")))
    // empty window: no changes between a version and itself
    assert(TsStore.changes(spark, dir, 4L, 4L,
      keyCols = Seq("event_id"), versionCol = "version").count() === 0)
  }

  test("an append onto a plain parquet directory adopts it: v1 names its files, v2 adds the append's") {
    val dir = Files.createTempDirectory("graft_adopt").toString
    val old = events.filter(col("event_type") =!= "purchase")
    old.write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val plain = StoreLog.listDataFiles(dir)
    assert(plain.nonEmpty && !StoreLog.exists(dir))
    val added = events.filter(col("event_type") === "purchase")
    TsStore.write(added, dir, uidCols = Seq("event_type"),
      mode = org.apache.spark.sql.SaveMode.Append)
    assert(StoreLog.listVersions(dir) === Seq(1L, 2L))
    // v1 is the adoption: exactly the files that were there, each with
    // the stats and size a footer pass over it reads
    val v1 = StoreLog.read(dir, 1L)
    assert(v1.files === plain)
    val (stats, sizes) = graft.sources.FileStats.forFilesWithSizes(dir, plain, Nil)
    plain.foreach { f =>
      assert(v1.stats.get(f) === stats.get(f), s"stats of $f")
      assert(v1.sizes.get(f) === sizes.get(f), s"size of $f")
    }
    // v2 adds the append's files and nothing else
    val (add, remove, _) = StoreLog.rawDelta(dir, 2L).get
    assert(remove.isEmpty && add.nonEmpty)
    assert(add.forall(_.startsWith("event_type=purchase/")))
    assert(StoreLog.read(dir, 2L).files.sorted === (plain ++ add).sorted)
    val back = TsStore.read(spark, dir).select(cols.map(col): _*)
    val src = events.select(cols.map(col): _*)
    assert(back.count() === src.count())
    assert(back.except(src).count() === 0)
  }

  test("a scheme without a commit backend is refused by write, load and format(graft)") {
    val path = "nocommit://bucket/store"
    def refused(f: => Any): Unit = {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains("StoreLog cannot commit to"), e.getMessage)
    }
    refused(TsStore.write(events, path, uidCols = Seq("event_type"),
      mode = org.apache.spark.sql.SaveMode.Append))
    refused(TsStore.write(events, path, uidCols = Seq("event_type")))
    refused(TsStore.load(spark, path))
    refused(spark.read.format("graft").load(path))
  }
}
