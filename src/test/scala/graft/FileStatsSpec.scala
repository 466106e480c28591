package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{FileStats, StoreLog, TsStore}
import graft.sources.FileStats.ColStat

/** The manifest's per-file column statistics: collection at commit time,
  * survival through delta chains and vacuum's checkpoint rewrite, and the
  * two read paths that plan against them — ts-slice reads and
  * delete-by-key find scans open only the files whose recorded bounds
  * admit a match.
  */
class FileStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  /** A logged store with `days` one-day appends: each append's files
    * carry a tight one-day ts extent and a tight 1000-wide id extent
    * (append i: ids [i*1000, i*1000+999]).
    */
  private def dayStore(days: Int): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_fstats").toString
    val first = (0 until 1000).map { j =>
      (j.toLong, ts(f"2024-01-01 10:00:00"), j * 1.0, 1L, "a")
    }.toDF("event_id", "ts", "value", "version", "uid")
    TsStore.write(first, dir, tsCol = "ts", uidCols = Seq("uid"))
    StoreLog.ensure(dir)
    (1 until days).foreach { i =>
      val day = f"2024-01-${i + 1}%02d 10:00:00"
      val df = (0 until 1000).map { j =>
        ((i * 1000 + j).toLong, ts(day), j * 1.0, 1L, "a")
      }.toDF("event_id", "ts", "value", "version", "uid")
      TsStore.write(df, dir, tsCol = "ts", uidCols = Seq("uid"),
        mode = org.apache.spark.sql.SaveMode.Append,
        overlapPolicy = TsStore.OverlapPolicy.Allow)
    }
    dir
  }

  test("commits record per-file ts/id bounds; deltas carry them; vacuum's checkpoint rewrite keeps them") {
    val dir = dayStore(4)
    val snap = StoreLog.latest(dir).get
    // every appended file got stats (the initial overwrite predates the
    // log, so v1's listing is stat-less — exactly the legacy shape)
    val appended = snap.files.filter(f => snap.stats.contains(f))
    assert(appended.nonEmpty, "no commit recorded stats")
    appended.foreach { f =>
      val fs = snap.stats(f)
      assert(fs.contains("ts") && fs("ts").tag == "ts", s"no micros-ts stat for $f: $fs")
      assert(fs.contains("event_id") && fs("event_id").tag == "i")
      assert(fs.contains("value") && fs("value").tag == "f")
    }
    // delta-chain survival: the appends above committed as deltas
    // (interval 10), and readResolve carried each add's stats forward
    assert(appended.size >= 3, s"expected >=3 stat-carrying files, got ${appended.size}")
    // vacuum rewrites the retained version as a checkpoint — stats must
    // be re-embedded, not dropped with the chain
    TsStore.vacuum(dir)
    val after = StoreLog.latest(dir).get
    assert(appended.forall(after.stats.contains),
      "vacuum's checkpoint rewrite lost file stats")
  }

  test("a ts-slice on a many-file store opens only time-overlapping files") {
    val dir = dayStore(8)
    val snap = StoreLog.latest(dir).get
    val total = snap.files.size
    // files carrying day-3 data, per the recorded bounds
    val slice = (ts("2024-01-03 00:00:00"), ts("2024-01-03 23:59:59"))
    val overlapping = snap.files.count { f =>
      snap.stats.get(f).forall { fs =>
        fs.get("ts").forall { cs =>
          def us(t: java.sql.Timestamp) = t.getTime * 1000L
          cs.min.asInstanceOf[Long] <= us(slice._2) &&
            cs.max.asInstanceOf[Long] >= us(slice._1)
        }
      }
    }
    assert(overlapping < total,
      s"fixture broken: every file overlaps the slice ($overlapping of $total)")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = TsStore.read(spark, dir, tsCol = "ts",
        start = Some(slice._1), end = Some(slice._2))
      val rows = df.collect()
      assert(rows.length === 1000, s"slice returned ${rows.length} rows")
      assert(rows.forall(_.getAs[Long]("event_id") / 1000 == 2))
      val filesRead = df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.asInstanceOf[graft.sources.GraftScan].plannedFiles.size
      }.sum
      assert(filesRead === overlapping,
        s"ts-slice read $filesRead files; stats admit only $overlapping of $total")
      assert(filesRead < total, "no file was pruned by manifest stats")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("a key-predicate delete's find scan reads only candidate files") {
    import spark.implicits._
    val dir = dayStore(6)
    val snap = StoreLog.latest(dir).get
    val total = snap.files.size
    // the CDC takedown shape: merge-key equality, key NOT the sort/
    // partition column of the slice — bounds on event_id do the pruning
    val pred = TsStore.versionedKeyPredicate(
      Seq(org.apache.spark.sql.Row(2500L, 5L)), Seq("event_id"), "version")
    val candidates = FileStats.prune(snap.files, snap.stats, pred)
    assert(candidates.size < total,
      s"no candidate pruning: ${candidates.size} of $total")
    // and the candidates really do bound the find scan: delete exactly
    // one row, store stays exact, and ONLY candidate files were replaced
    val v = TsStore.delete(spark, dir, pred, tsCol = "ts", uidCols = Seq("uid"))
    val after = TsStore.read(spark, dir)
    assert(after.count() === 6000 - 1)
    assert(after.filter(col("event_id") === 2500L).isEmpty)
    val removed = snap.files.toSet -- StoreLog.read(dir, v).files.toSet
    assert(removed.nonEmpty && removed.subsetOf(candidates.toSet),
      s"delete rewrote non-candidate files: ${removed -- candidates.toSet}")
  }

  test("internal temporal literals (DPP runtime IN-sets) prune date/timestamp stats") {
    import org.apache.spark.sql.GraftShim
    def e(c: org.apache.spark.sql.Column) = GraftShim.predTree(c)
    val stats: FileStats.FileStatsMap = Map(
      "day" -> ColStat("d", 19000L, 19010L, 0L, 100L),
      "t" -> ColStat("ts", 1000000L, 2000000L, 0L, 100L),
      "tl" -> ColStat("tn", 1000000L, 2000000L, 0L, 100L))
    // DPP delivers date partition values as catalyst-internal Int epoch
    // days — they must compare against "d" bounds, not keep everything
    assert(!FileStats.mayMatch(stats, e(col("day") === lit(18000))))
    assert(FileStats.mayMatch(stats, e(col("day") === lit(19005))))
    assert(!FileStats.mayMatch(stats, e(col("day").isin(18000, 18500))))
    assert(FileStats.mayMatch(stats, e(col("day").isin(18000, 19001))))
    // and timestamp values as internal Long micros, both ts and ntz
    assert(!FileStats.mayMatch(stats, e(col("t") === lit(999999L))))
    assert(FileStats.mayMatch(stats, e(col("t") === lit(1500000L))))
    assert(!FileStats.mayMatch(stats, e(col("tl") === lit(2000001L))))
    assert(FileStats.mayMatch(stats, e(col("tl") === lit(2000000L))))
  }

  test("mayMatch: tags, composition, and the conservative defaults") {
    import org.apache.spark.sql.GraftShim
    def e(c: org.apache.spark.sql.Column) = GraftShim.predTree(c)
    val stats: FileStats.FileStatsMap = Map(
      "id" -> ColStat("i", 1000L, 1999L),
      "v" -> ColStat("f", 0.5, 9.5),
      "name" -> ColStat("s", "alpha", "beta"),
      "t" -> ColStat("ts", 1000000L, 2000000L))
    // integral equality in/out of range
    assert(FileStats.mayMatch(stats, e(col("id") === lit(1500))))
    assert(!FileStats.mayMatch(stats, e(col("id") === lit(2500))))
    // comparisons, both literal positions
    assert(!FileStats.mayMatch(stats, e(col("id") < lit(1000))))
    assert(FileStats.mayMatch(stats, e(col("id") <= lit(1000))))
    assert(!FileStats.mayMatch(stats, e(lit(1999) < col("id"))))
    assert(FileStats.mayMatch(stats, e(lit(1999) <= col("id"))))
    // fractional literal vs integral bounds widens
    assert(!FileStats.mayMatch(stats, e(col("id") < lit(999.5))))
    assert(FileStats.mayMatch(stats, e(col("id") > lit(1998.5))))
    // strings in parquet's byte order
    assert(FileStats.mayMatch(stats, e(col("name") === lit("aztec"))))
    assert(!FileStats.mayMatch(stats, e(col("name") === lit("gamma"))))
    // IN-lists: any member in range keeps
    assert(FileStats.mayMatch(stats, e(col("id").isin(1L, 1500L))))
    assert(!FileStats.mayMatch(stats, e(col("id").isin(1L, 2L, 9999L))))
    // composition — the versionedKeyPredicate shape
    assert(!FileStats.mayMatch(stats,
      e(col("id") === lit(2500) && col("v") <= lit(9.0) ||
        col("id") === lit(3500) && col("v") <= lit(9.0))))
    assert(FileStats.mayMatch(stats,
      e(col("id") === lit(2500) || col("id") === lit(1500))))
    // timestamp literal vs instant-micros bound prunes; an NTZ bound
    // would refuse to compare (tag mismatch → keep)
    val after = new java.sql.Timestamp(3000) // 3000 ms = 3,000,000 us
    assert(!FileStats.mayMatch(stats, e(col("t") > lit(after))))
    val ntzStats = Map("t" -> ColStat("tn", 1000000L, 2000000L))
    assert(FileStats.mayMatch(ntzStats, e(col("t") > lit(after))))
    // conservative defaults: unknown column, unrecognized shape, Not
    assert(FileStats.mayMatch(stats, e(col("other") === lit(1))))
    assert(FileStats.mayMatch(stats, e(abs(col("id")) === lit(5))))
    assert(FileStats.mayMatch(stats, e(!(col("id") === lit(2500)))))
    // a null-literal equality can never match any row
    assert(!FileStats.mayMatch(stats, e(col("id") === lit(null))))
  }

  test("IS NULL prunes files recorded null-free; null counts ride the manifest") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_nullstat").toString
    val clean = (0 until 60).map(i => (i.toLong, ts("2024-01-01 10:00:00"), Option(i.toDouble), "a"))
    val dirty = (0 until 60).map(i => (100L + i, ts("2024-01-01 10:00:00"),
      if (i % 3 == 0) None else Option(i.toDouble), "b"))
    val df = (clean ++ dirty).toDF("event_id", "ts", "v", "uid")
    TsStore.write(df, dir, tsCol = "ts", uidCols = Seq("uid"))
    StoreLog.ensure(dir)
    val snap = StoreLog.latest(dir).get
    val aFiles = snap.files.filter(_.startsWith("uid=a/"))
    val bFiles = snap.files.filter(_.startsWith("uid=b/"))
    assert(aFiles.nonEmpty && bFiles.nonEmpty)
    aFiles.foreach { f =>
      val cs = snap.stats(f)("v")
      assert(cs.nulls === 0L && cs.rows === 60L, s"$f: $cs")
    }
    bFiles.foreach { f =>
      val cs = snap.stats(f)("v")
      assert(cs.nulls === 20L && cs.rows === 60L, s"$f: $cs")
    }
    // the DQ audit scan: "find the violating rows" skips the clean file
    val kept = FileStats.prune(snap.files, snap.stats, col("v").isNull)
    assert(kept.toSet === bFiles.toSet,
      s"IS NULL must prune the null-free files: kept $kept")
    // IS NOT NULL stays conservative (recorded columns always have values)
    assert(FileStats.prune(snap.files, snap.stats, col("v").isNotNull)
      === snap.files)
    // and the pruned read returns exactly the right rows
    assert(TsStore.load(spark, dir)
      .filter(col("v").isNull).count() === 20L)
  }

  test("stat-less manifests keep full-scan behavior (legacy compatibility)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_nostat").toString
    val df = (0 until 100).map(i => (i.toLong, ts("2024-01-01 10:00:00"), 1L, "a"))
      .toDF("event_id", "ts", "version", "uid")
    TsStore.write(df, dir, tsCol = "ts", uidCols = Seq("uid"))
    StoreLog.ensure(dir) // the adoption commit indexes pre-log files too
    val snap = StoreLog.latest(dir).get
    assert(snap.stats.nonEmpty)
    // LEGACY manifests carry no stats at all — pruning against an empty
    // map must keep everything, and reads stay exact
    assert(FileStats.prune(snap.files, Map.empty,
      col("event_id") === lit(5L)) === snap.files)
    assert(TsStore.read(spark, dir, tsCol = "ts",
      start = Some(ts("2024-01-01 00:00:00")),
      end = Some(ts("2024-01-02 00:00:00"))).count() === 100)
  }
}
