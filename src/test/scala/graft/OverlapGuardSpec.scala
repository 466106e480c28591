package graft

import java.nio.file.Files

import org.apache.spark.sql.{AnalysisException, DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftBatchWrite, StoreLog, TsStore}
import graft.sources.TsStore.OverlapPolicy

/** The append overlap guard reads chunk extents from file stats: each
  * case's accept/refuse answer under [[OverlapPolicy.Error]] must equal
  * the answer of a reference scan ([[scanAnswer]]: the incoming frame
  * grouped by uid, the stored rows of those uids grouped by `_file`),
  * and a clean logged append runs no job beyond its stage.
  */
class OverlapGuardSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")
  private def tmp(p: String) = Files.createTempDirectory(p).toString

  /** Rows of series `uid`, one per minute from `from` to `to` (HH:mm). */
  private def ticks(uid: String, from: String, to: String): DataFrame = {
    val lo = ts(s"$from:00").getTime
    val hi = ts(s"$to:00").getTime
    (lo to hi by 60000L).map(t => (uid, new java.sql.Timestamp(t), 1.0))
      .toDF("uid", "ts", "v")
  }

  /** The scan-based answer: does any incoming series' extent intersect a
    * stored file's extent of the same series? Keys compare as strings,
    * and a key the stored uid type cannot hold names no series.
    */
  private def scanAnswer(path: String, incoming: DataFrame, tsCol: String,
                         uidCols: Seq[String]): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
    val inExt = incoming.groupBy(uidCols.map(col): _*)
      .agg(min(col(tsCol)), max(col(tsCol))).collect()
    val stored =
      try spark.read.format("graft").load(path)
      catch { case _: AnalysisException => return false }
    val types = stored.schema.fields.map(f => f.name -> f.dataType).toMap
    val keys = inExt.toSeq.filter(r => uidCols.indices.forall { i =>
      r.get(i) == null || Cast(Literal.create(r.get(i),
        incoming.schema(uidCols(i)).dataType), types(uidCols(i)), Some("UTC"),
        EvalMode.TRY).eval() != null
    })
    if (keys.isEmpty) return false
    val n = uidCols.size
    val st = stored.filter(TsStore.keyPredicate(keys, uidCols))
      .groupBy((uidCols.map(col) :+ col("_file")): _*)
      .agg(min(col(tsCol)), max(col(tsCol))).collect()
      .groupBy(r => uidCols.indices.map(i => String.valueOf(r.get(i))))
    def cmp(a: Any, b: Any) = a.asInstanceOf[Comparable[Any]].compareTo(b)
    inExt.exists { r =>
      st.getOrElse(uidCols.indices.map(i => String.valueOf(r.get(i))), Array.empty)
        .exists(s => cmp(r.get(n + 1), s.get(n + 1)) >= 0 && cmp(r.get(n), s.get(n + 2)) <= 0)
    }
  }

  private def staging(dir: String) =
    Option(new java.io.File(dir).list()).toSeq.flatten.filter(_.startsWith("_graft_txn_"))

  /** Append `df` under Error: true when the guard refused it. A refusal
    * commits nothing and leaves no staging dir behind.
    */
  private def appendRefused(dir: String, df: DataFrame, uidCols: Seq[String] = Seq("uid"),
                            tsCol: String = "ts"): Boolean = {
    val before = if (StoreLog.exists(dir)) StoreLog.latestVersion(dir) else None
    try {
      TsStore.write(df, dir, tsCol = tsCol, uidCols = uidCols, mode = SaveMode.Append,
        overlapPolicy = OverlapPolicy.Error)
      false
    } catch {
      case e: IllegalArgumentException if e.getMessage.contains("overlaps") =>
        assert(staging(dir).isEmpty, "a refused append left its staging dir")
        if (before.nonEmpty) assert(StoreLog.latestVersion(dir) === before)
        true
    }
  }

  /** [[appendRefused]], first asserting the scan answers the same. */
  private def sameAnswer(dir: String, df: DataFrame, uidCols: Seq[String] = Seq("uid"),
                         tsCol: String = "ts"): Boolean = {
    val expected = scanAnswer(dir, df, tsCol, uidCols)
    val got = appendRefused(dir, df, uidCols, tsCol)
    assert(got === expected, s"stats guard refused=$got, scan refused=$expected")
    got
  }

  /** Jobs started while `f` runs. */
  private def jobsOf(f: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { f; org.apache.spark.TestBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    n.get
  }

  test("a deletion-vector file's extent is its live rows: an append into the freed range is accepted") {
    val dir = tmp("graft_ovl_dv")
    TsStore.write(ticks("a", "09:00", "09:50"), dir, uidCols = Seq("uid"))
    TsStore.deleteVectors(spark, dir,
      col("ts") === lit(ts("09:00:00")) || col("ts") === lit(ts("09:50:00")))
    val snap = StoreLog.latest(dir).get
    assert(snap.dvs.nonEmpty && snap.files.forall(f => snap.stats(f).contains("ts")))
    // the footer bounds still say [09:00, 09:50]; the live rows end at 09:49
    assert(!sameAnswer(dir, ticks("a", "09:50", "09:55")))
    assert(sameAnswer(dir, ticks("a", "09:20", "09:20")))
  }

  test("a manifest without ts stats is still guarded") {
    val dir = tmp("graft_ovl_nostat")
    TsStore.write(ticks("a", "09:30", "09:40"), dir, uidCols = Seq("uid"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    new java.io.File(StoreLog.logDir(dir)).listFiles()
      .filter(_.getName.matches("v\\d+\\.json")).foreach { f =>
        val n = mapper.readTree(f)
        Option(n.get("stats")).foreach(_.elements().forEachRemaining { st =>
          st.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].remove("ts"); ()
        })
        mapper.writeValue(f, n)
      }
    val snap = StoreLog.latest(dir).get
    assert(snap.files.nonEmpty && snap.files.forall(f => !snap.stats.get(f).exists(_.contains("ts"))))
    assert(sameAnswer(dir, ticks("a", "09:35", "09:35")))
    assert(!sameAnswer(dir, ticks("a", "09:41", "09:45")))
  }

  test("a directory without a log is adopted by the append it guards") {
    val dir = tmp("graft_ovl_unlogged")
    ticks("a", "09:30", "09:40").union(ticks("b", "09:00", "09:10"))
      .write.mode("overwrite").partitionBy("uid").parquet(dir)
    assert(!StoreLog.exists(dir))
    val plain = StoreLog.listDataFiles(dir)
    assert(sameAnswer(dir, ticks("a", "09:35", "09:35")))
    // the refused append leaves only the adoption: v1 names the files
    // that were there (their INT96 ts records no stat, so the guard
    // scans the touched series' files)
    assert(StoreLog.listVersions(dir) === Seq(1L))
    assert(StoreLog.read(dir, 1L).files === plain)
    assert(!sameAnswer(dir, ticks("b", "09:35", "09:35")))
    assert(!sameAnswer(dir, ticks("c", "09:35", "09:35")))
  }

  test("a numeric-looking uid is guarded; a uid its declared type cannot hold is not stored") {
    val dir = tmp("graft_ovl_numuid")
    TsStore.write(ticks("123", "09:30", "09:40"), dir, uidCols = Seq("uid"))
    assert(TsStore.load(spark, dir).schema("uid").dataType ===
      org.apache.spark.sql.types.IntegerType)
    assert(sameAnswer(dir, ticks("123", "09:35", "09:35")))
    assert(!sameAnswer(dir, ticks("123", "09:41", "09:41")))
    assert(!sameAnswer(dir, ticks("AAPL", "09:35", "09:35")))
  }

  test("a long-nanos ts column (integral stats) is guarded") {
    val dir = tmp("graft_ovl_nanos")
    def nanos(uid: String, lo: Long, hi: Long) =
      (lo to hi).map(i => (uid, i * 1000000000L, 1.0)).toDF("uid", "tn", "v")
    TsStore.write(nanos("a", 100, 200), dir, tsCol = "tn", uidCols = Seq("uid"))
    val snap = StoreLog.latest(dir).get
    assert(snap.files.forall(f => snap.stats(f)("tn").tag == "i"))
    assert(sameAnswer(dir, nanos("a", 150, 150), tsCol = "tn"))
    assert(!sameAnswer(dir, nanos("a", 201, 210), tsCol = "tn"))
    assert(sameAnswer(dir, nanos("a", 50, 100), tsCol = "tn"))
  }

  test("a ts type no stat records is guarded by scans of both sides") {
    val dir = tmp("graft_ovl_decimal")
    def dec(lo: Int, hi: Int) = (lo to hi).map(i => ("a", i.toLong, 1.0))
      .toDF("uid", "td", "v").withColumn("td", col("td").cast("decimal(12,3)"))
    TsStore.write(dec(100, 200), dir, tsCol = "td", uidCols = Seq("uid"))
    val snap = StoreLog.latest(dir).get
    assert(snap.files.nonEmpty && snap.files.forall(f => !snap.stats(f).contains("td")))
    assert(sameAnswer(dir, dec(150, 150), tsCol = "td"))
    assert(!sameAnswer(dir, dec(201, 210), tsCol = "td"))
  }

  test("two uid columns key a series by both directory levels") {
    val dir = tmp("graft_ovl_twouid")
    val uids = Seq("uid", "venue")
    def two(uid: String, venue: String, from: String, to: String) =
      ticks(uid, from, to).withColumn("venue", lit(venue))
    TsStore.write(two("a", "x", "09:30", "09:40").union(two("a", "y", "10:30", "10:40")),
      dir, uidCols = uids)
    assert(sameAnswer(dir, two("a", "x", "09:35", "09:35"), uids))
    assert(!sameAnswer(dir, two("a", "y", "09:35", "09:35"), uids))
    assert(!sameAnswer(dir, two("b", "x", "09:35", "09:35"), uids))
    assert(sameAnswer(dir, two("a", "y", "10:40", "10:45"), uids))
  }

  test("with a branch open the guard checks the main view") {
    val dir = tmp("graft_ovl_branch")
    TsStore.write(ticks("a", "09:30", "09:40"), dir, uidCols = Seq("uid"))
    TsStore.branch(dir, "b")
    TsStore.write(ticks("a", "10:00", "10:10"), dir, uidCols = Seq("uid"),
      mode = SaveMode.Append, overlapPolicy = OverlapPolicy.Allow, branch = Some("b"))
    // the branch's chunk is not on main: a main append over it is clean
    assert(!sameAnswer(dir, ticks("a", "10:05", "10:05")))
    assert(sameAnswer(dir, ticks("a", "09:35", "09:35")))
  }

  test("a null uid meets the stored __HIVE_DEFAULT_PARTITION__ chunks") {
    val dir = tmp("graft_ovl_nulluid")
    def nul(from: String, to: String) =
      ticks("x", from, to).withColumn("uid", lit(null).cast("string"))
    TsStore.write(nul("09:30", "09:40").union(ticks("a", "09:30", "09:40")), dir,
      uidCols = Seq("uid"))
    assert(StoreLog.latest(dir).get.files.exists(_.startsWith("uid=__HIVE_DEFAULT_PARTITION__/")))
    // the reference scan's `uid IN (null)` matches no stored row, so it
    // accepts this double-write; the directory lookup refuses it
    assert(!scanAnswer(dir, nul("09:35", "09:35"), "ts", Seq("uid")))
    assert(appendRefused(dir, nul("09:35", "09:35")))
    assert(!sameAnswer(dir, nul("09:41", "09:45")))
  }

  test("a wide frame with ts last records ts stats, and the guard over them runs no job") {
    val dir = tmp("graft_ovl_wide")
    val first = ticks("a", "09:30", "09:40").select(
      (Seq(col("uid")) ++ (1 to 28).map(i => (col("v") + i).as(s"c$i")) ++ Seq(col("ts"))): _*)
    assert(first.columns.length === 30 && first.columns.last === "ts")
    TsStore.write(first, dir, uidCols = Seq("uid"))
    val snap = StoreLog.latest(dir).get
    assert(snap.files.forall(f => snap.stats(f).contains("ts")))
    assert(snap.files.forall(f => snap.stats(f).size === graft.sources.FileStats.MaxStatsCols + 1))
    val next = ticks("a", "09:35", "09:45").select(first.columns.map {
      case "uid" => col("uid"); case "ts" => col("ts")
      case c => (col("v") + c.drop(1).toInt).as(c)
    }: _*)
    val staged = GraftBatchWrite.stage(TsStore.canonical(next, Seq("uid"), "ts"), dir,
      Seq("uid"), "ts", Nil, GraftBatchWrite.MaxRecordsPerFile)
    try {
      var bad = Seq.empty[String]
      assert(jobsOf { bad = TsStore.overlappingSeries(spark, dir, staged, "ts") } === 0)
      assert(bad.size === 1 && bad.head.startsWith("uid=a "), bad)
    } finally StoreLog.deleteStaging(staged.staging)
  }

  test("a logged append without deletion vectors runs only its stage's jobs") {
    val dir = tmp("graft_ovl_jobs")
    TsStore.write(ticks("a", "09:30", "09:40").union(ticks("b", "09:30", "09:40")), dir,
      uidCols = Seq("uid"))
    // overlapping under Warn: the guard finds the overlap and lets it through
    val next = ticks("a", "09:35", "09:50").union(ticks("c", "09:00", "09:10"))
    val stageJobs = jobsOf {
      val s = GraftBatchWrite.stage(TsStore.canonical(next, Seq("uid"), "ts"), dir,
        Seq("uid"), "ts", Nil, GraftBatchWrite.MaxRecordsPerFile)
      StoreLog.deleteStaging(s.staging)
    }
    assert(stageJobs > 0)
    val v = StoreLog.latestVersion(dir).get
    val appendJobs = jobsOf {
      TsStore.write(next, dir, uidCols = Seq("uid"), mode = SaveMode.Append)
    }
    assert(StoreLog.latestVersion(dir).get === v + 1)
    assert(appendJobs === stageJobs)
  }
}
