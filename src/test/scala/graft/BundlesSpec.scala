package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Bundles

/** The reference-shaped client facade: named series in collections,
  * append-write, sliced read with metadata filters, uid listing.
  */
class BundlesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(s: String) = Timestamp.valueOf(s)

  /** The files the frame's collection scan plans (its partition prune). */
  private def planned(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.asInstanceOf[graft.sources.GraftScan].plannedFiles
    }.flatten

  test("corintick-shaped workflow: write two series, slice, filter meta, list") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_bundles").toString
    val ct = new Bundles(spark, base)

    val aapl = Seq(
      (ts("2024-01-01 09:30:00"), 100.0), (ts("2024-01-01 09:31:00"), 101.0),
      (ts("2024-01-01 09:32:00"), 102.0)).toDF("ts", "price")
    val msft = Seq(
      (ts("2024-01-01 09:30:00"), 400.0), (ts("2024-01-01 09:31:00"), 401.0))
      .toDF("ts", "price")

    ct.write("AAPL", aapl, metadata = Map("source" -> "nyse"))
    ct.write("MSFT", msft, metadata = Map("source" -> "nasdaq"))
    // second chunk for AAPL — append like a later corintick write
    ct.write("AAPL", Seq((ts("2024-01-01 09:33:00"), 103.0)).toDF("ts", "price"),
      metadata = Map("source" -> "nyse"))

    // full read of one uid
    assert(ct.read("AAPL").count() === 4)
    // inclusive slice
    val sliced = ct.read("AAPL", start = Some(ts("2024-01-01 09:31:00")),
      end = Some(ts("2024-01-01 09:32:00")))
    assert(sliced.count() === 2)
    // projection keeps ts + requested columns
    assert(ct.read("AAPL", columns = Seq("price")).columns.toSeq === Seq("ts", "price"))
    // metadata filter
    assert(ct.read("AAPL", meta = Map("source" -> "nasdaq")).count() === 0)
    assert(ct.read("MSFT", meta = Map("source" -> "nasdaq")).count() === 2)
    // listing
    val uids = ct.listUids().orderBy("__uid").collect()
    assert(uids.map(_.getString(0)).toSeq === Seq("AAPL", "MSFT"))
    assert(uids.map(_.getAs[Long]("n_rows")).toSeq === Seq(4L, 2L))
    // uid filter prunes partitions at plan time
    val files = planned(ct.read("AAPL"))
    assert(files.nonEmpty && files.forall(_.startsWith("__uid=AAPL/")), files)
  }

  test("facade overlap guard: double-write refused under Error, disjoint append fine") {
    import spark.implicits._
    import graft.sources.TsStore.OverlapPolicy
    val base = Files.createTempDirectory("graft_bundles_ovl").toString
    val ct = new Bundles(spark, base)
    ct.write("AAPL", Seq((ts("2024-01-01 09:30:00"), 100.0),
      (ts("2024-01-01 09:40:00"), 101.0)).toDF("ts", "price"))
    // later chunk, disjoint range — the normal corintick write cadence
    ct.write("AAPL", Seq((ts("2024-01-01 09:41:00"), 102.0)).toDF("ts", "price"),
      overlapPolicy = OverlapPolicy.Error)
    // re-delivery of the first chunk's range — refused
    val e = intercept[IllegalArgumentException] {
      ct.write("AAPL", Seq((ts("2024-01-01 09:35:00"), 999.0)).toDF("ts", "price"),
        overlapPolicy = OverlapPolicy.Error)
    }
    assert(e.getMessage.contains("overlaps"))
    // another series may share the wall-clock range
    ct.write("MSFT", Seq((ts("2024-01-01 09:35:00"), 400.0)).toDF("ts", "price"),
      overlapPolicy = OverlapPolicy.Error)
    assert(ct.read("AAPL").count() === 3)
  }

  test("binary payload column round-trips byte-exact (pickle-fallback parity)") {
    // The reference pickles objects it can't columnarize; the Spark-side
    // analog is an opaque BinaryType column riding next to typed ones.
    import spark.implicits._
    val base = Files.createTempDirectory("graft_bundles_bin").toString
    val ct = new Bundles(spark, base)
    val payloads = Seq(
      (ts("2024-01-01 09:30:00"), Array[Byte](0, 1, -1, 127, -128), "a"),
      (ts("2024-01-01 09:31:00"), Array.empty[Byte], "b"),
      (ts("2024-01-01 09:32:00"), Array.tabulate(1024)(i => (i % 251).toByte), "c"))
    ct.write("BLOB", payloads.toDF("ts", "payload", "tag"))
    val back = ct.read("BLOB").orderBy("ts")
      .select("payload", "tag").as[(Array[Byte], String)].collect()
    assert(back.length === 3)
    payloads.sortBy(_._1.getTime).zip(back).foreach { case ((_, want, tag), (got, gotTag)) =>
      assert(java.util.Arrays.equals(got, want), s"payload bytes differ for tag $tag")
      assert(gotTag === tag)
    }
  }

  test("aligned two-series read: union of timestamps, per-side forward fill") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_bundles_align").toString
    val ct = new Bundles(spark, base)
    ct.write("AAPL", Seq((ts("2024-01-01 09:30:00"), 100.0),
      (ts("2024-01-01 09:32:00"), 102.0)).toDF("ts", "price"))
    ct.write("MSFT", Seq((ts("2024-01-01 09:31:00"), 400.0),
      (ts("2024-01-01 09:32:00"), 402.0)).toDF("ts", "price"))
    val out = ct.align("AAPL", "MSFT", "price").collect()
    assert(out.map(_.getTimestamp(0)).toSeq === Seq(
      ts("2024-01-01 09:30:00"), ts("2024-01-01 09:31:00"), ts("2024-01-01 09:32:00")))
    def v(r: org.apache.spark.sql.Row, i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
    // 09:30 — AAPL only, MSFT not yet known
    assert(v(out(0), 1) === Some(100.0) && v(out(0), 2) === None)
    // 09:31 — MSFT prints, AAPL carried
    assert(v(out(1), 1) === Some(100.0) && v(out(1), 2) === Some(400.0))
    // 09:32 — both print at the SAME ts: one output row, both fresh
    assert(v(out(2), 1) === Some(102.0) && v(out(2), 2) === Some(402.0))
  }

  test("multi-uid read prunes to the requested partitions; dropSeries removes one series") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_bundles_multi").toString
    val ct = new Bundles(spark, base)
    Seq("A", "B", "C").foreach { u =>
      ct.write(u, Seq((ts("2024-01-01 09:30:00"), 1.0),
        (ts("2024-01-01 09:31:00"), 2.0)).toDF("ts", "price"))
    }
    val two = ct.readMany(Seq("A", "C"))
    assert(two.count() == 4)
    assert(two.select("__uid").distinct().as[String].collect().toSet == Set("A", "C"))
    // the IN-list must reach partition pruning, not a post-scan filter
    val files = planned(two)
    assert(files.nonEmpty &&
      files.forall(f => f.startsWith("__uid=A/") || f.startsWith("__uid=C/")), files)
    // slice applies across series
    assert(ct.readMany(Seq("A", "C"),
      start = Some(ts("2024-01-01 09:31:00"))).count() == 2)
    // deletion: B gone, A/C untouched, double-delete is false
    assert(ct.dropSeries("B"))
    assert(!ct.dropSeries("B"))
    assert(ct.listUids().as[(String, Long, Timestamp, Timestamp)]
      .collect().map(_._1).toSet == Set("A", "C"))
    assert(ct.dropCollection())
    assert(!new java.io.File(s"$base/default").exists())
  }

  test("compact rewrites append fragmentation into fewer files, same rows") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_bundles_cpt").toString
    val ct = new Bundles(spark, base)
    // 6 appends → ≥6 files of tiny chunks
    (0 until 6).foreach { i =>
      ct.write("AAPL", Seq((ts(f"2024-01-01 09:3$i%d:00"), 100.0 + i)).toDF("ts", "price"))
    }
    val beforeRows = ct.read("AAPL").as[(java.sql.Timestamp, Double, String)].collect().toSet
    val (before, after) = ct.compact()
    assert(before >= 6L, s"expected fragmentation, got $before files")
    assert(after < before, s"compact must reduce file count: $before -> $after")
    val afterRows = ct.read("AAPL").as[(java.sql.Timestamp, Double, String)].collect().toSet
    assert(afterRows == beforeRows)
    // sliced read still prunes after the rewrite
    assert(ct.read("AAPL", start = Some(ts("2024-01-01 09:33:00"))).count() == 3)
  }

  test("compactSeries rewrites ONE fragmented series; other partitions' files untouched") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_bundles_cs").toString
    val ct = new Bundles(spark, base)
    // AAPL fragments over 6 appends; MSFT is written once and must not move
    (0 until 6).foreach { i =>
      ct.write("AAPL", Seq((ts(f"2024-01-01 09:3$i%d:00"), 100.0 + i)).toDF("ts", "price"))
    }
    ct.write("MSFT", Seq((ts("2024-01-01 09:30:00"), 400.0)).toDF("ts", "price"))
    def msftFiles: Set[(String, Long, Long)] =
      Option(new java.io.File(s"$base/default/__uid=MSFT").listFiles())
        .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length, f.lastModified)).toSet
    val msftBefore = msftFiles
    assert(msftBefore.nonEmpty)
    val beforeRows = ct.read("AAPL").as[(java.sql.Timestamp, Double, String)].collect().toSet
    val (before, after) = ct.compactSeries("AAPL")
    assert(before >= 6L && after < before,
      s"series compact must reduce file count: $before -> $after")
    assert(msftFiles === msftBefore, "untouched series' files were rewritten")
    val afterRows = ct.read("AAPL").as[(java.sql.Timestamp, Double, String)].collect().toSet
    assert(afterRows === beforeRows)
    // partition pruning + ts slicing still work through the swapped dir
    assert(ct.read("AAPL", start = Some(ts("2024-01-01 09:33:00"))).count() == 3)
    assert(ct.read("MSFT").count() == 1)
  }

  test("dynamic schema: a later chunk adds a column; merge-read reassembles the union") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_bundles_dyn").toString
    val ct = new Bundles(spark, base)

    // chunk 1: (ts, bid); chunk 2 adds an `ask` column — the reference's
    // different-column-sets-per-chunk behavior (SURVEY §1.1)
    ct.write("AAPL", Seq((ts("2024-01-01 09:30:00"), 100.0)).toDF("ts", "bid"))
    ct.write("AAPL",
      Seq((ts("2024-01-01 09:31:00"), 101.0, 101.5)).toDF("ts", "bid", "ask"),
      allowNewColumns = true)

    // default strict mode still refuses drift
    val e = intercept[IllegalArgumentException] {
      ct.write("AAPL",
        Seq((ts("2024-01-01 09:32:00"), 102.0, 1000L)).toDF("ts", "bid", "size"))
    }
    assert(e.getMessage.contains("schema drift"))
    // shared-column type conflicts are refused even in dynamic mode
    val e2 = intercept[IllegalArgumentException] {
      ct.write("AAPL", Seq((ts("2024-01-01 09:32:00"), "oops"))
        .toDF("ts", "bid"), allowNewColumns = true)
    }
    assert(e2.getMessage.contains("type conflict"))

    // merge-read: union schema, absent column null on the older chunk
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      val merged = ct.read("AAPL").orderBy("ts")
      assert(merged.columns.toSet == Set("ts", "bid", "ask", "__uid"))
      val rows = merged.select($"bid", $"ask").as[(Double, Option[Double])].collect()
      assert(rows.toSeq == Seq((100.0, None), (101.0, Some(101.5))))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    // non-merged read keeps working (first-footer schema)
    assert(ct.read("AAPL").count() == 2)
  }

  test("compactSeries leaves no phantom partition; leftover staging is unseen") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_cs2").toString
    val ct = new Bundles(spark, base)
    for (i <- 0 until 3)
      ct.write("aapl", Seq((ts(s"2024-01-01 09:3$i:00"), 100.0 + i)).toDF("ts", "price"))
    ct.write("msft", Seq((ts("2024-01-01 09:30:00"), 1.0)).toDF("ts", "price"))
    ct.compactSeries("aapl")
    // no phantom partitions: staging/backup names never enter discovery
    val uids = ct.listUids().select("__uid").as[String].collect().toSet
    assert(uids === Set("aapl", "msft"), s"phantom partitions discovered: $uids")
    assert(ct.read("aapl").count() === 3)
    // nothing compact-related lives INSIDE the collection dir (a staged
    // `__uid=aapl.__compact` would be discovered as a real partition),
    // and the committed compaction left no staging behind
    val inRoot = new java.io.File(s"$base/default").listFiles().map(_.getName).toSet
    assert(inRoot === Set("_graft_log", "__uid=aapl", "__uid=msft"),
      s"staging leftovers inside the discovery root: $inRoot")
    // a compaction that crashed before its commit leaves a txn staging
    // dir full of parquet: hidden from reads and from listUids
    val txn = java.nio.file.Paths.get(s"$base/default/_graft_txn_deadbeef/__uid=aapl")
    Files.createDirectories(txn)
    Files.list(java.nio.file.Paths.get(s"$base/default/__uid=aapl"))
      .filter(_.toString.endsWith(".parquet"))
      .forEach { f => Files.copy(f, txn.resolve(f.getFileName)); () }
    assert(Files.list(txn).count() > 0)
    assert(ct.listUids().select("__uid").as[String].collect().toSet === Set("aapl", "msft"))
    assert(ct.read("aapl").count() === 3)
    assert(ct.read("aapl").agg(org.apache.spark.sql.functions.sum("price"))
      .first().getDouble(0) === 303.0)
    ct.compactSeries("aapl")
    assert(ct.read("aapl").count() === 3)
    // vacuum reclaims it once aged past the writer window
    val staging = txn.getParent
    Files.setLastModifiedTime(staging,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 2L * 3600 * 1000))
    ct.vacuum()
    assert(!Files.exists(staging))
    assert(ct.read("aapl").count() === 3)
  }

  test("the first write logs a fresh collection; its version reads back") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_bundles_log").toString
    val ct = new Bundles(spark, base)
    ct.write("aapl", Seq((ts("2024-01-01 09:30:00"), 100.0),
      (ts("2024-01-01 09:31:00"), 101.0)).toDF("ts", "price"))
    assert(graft.sources.StoreLog.exists(s"$base/default"))
    val v = ct.versions().last
    ct.write("aapl", Seq((ts("2024-01-01 09:32:00"), 102.0)).toDF("ts", "price"))
    assert(ct.read("aapl").count() === 3)
    assert(ct.readAsOf("aapl", v).select("price").as[Double].collect().sorted.toSeq ===
      Seq(100.0, 101.0))
  }

  test("facade upsert: correct one series atomically, time-travel and vacuum it") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_bupsert").toString
    val ct = new Bundles(spark, base)
    ct.write("aapl", Seq((ts("2024-01-01 09:30:00"), 100.0, 1L),
      (ts("2024-01-01 09:31:00"), 101.0, 1L)).toDF("ts", "price", "version"))
    ct.write("msft", Seq((ts("2024-01-01 09:30:00"), 1.0, 1L)).toDF("ts", "price", "version"))
    // correct the 09:31 aapl tick (key = ts within the pruned series)
    val v = ct.upsert("aapl",
      Seq((ts("2024-01-01 09:31:00"), 999.0, 2L)).toDF("ts", "price", "version"),
      keyCols = Seq("ts"), versionCol = "version")
    assert(ct.versions().last === v)
    val aapl = ct.read("aapl")
    assert(aapl.count() === 2)
    assert(aapl.filter(col("price") === 999.0).count() === 1)
    assert(aapl.filter(col("price") === 101.0).count() === 0)
    // the pre-correction tick is still reachable at the prior version
    assert(ct.readAsOf("aapl", v - 1).filter(col("price") === 101.0).count() === 1)
    // the other series was never touched
    assert(ct.read("msft").count() === 1)
    // vacuum reclaims the replaced chunk; the live view is unchanged
    assert(ct.vacuum() > 0)
    assert(ct.read("aapl").filter(col("price") === 999.0).count() === 1)
    assertThrows[IllegalArgumentException] { ct.readAsOf("aapl", v - 1).collect() }
  }

  test("facade restore + changes: one commit undoes a bad upsert; the feed explains it") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_brestore").toString
    val ct = new Bundles(spark, base)
    ct.write("aapl", Seq((ts("2024-01-01 09:30:00"), 100.0, 1L),
      (ts("2024-01-01 09:31:00"), 101.0, 1L)).toDF("ts", "price", "version"))
    graft.sources.StoreLog.ensure(s"$base/default")
    val v1 = ct.versions().last
    val v2 = ct.upsert("aapl",
      Seq((ts("2024-01-01 09:31:00"), -1.0, 2L)).toDF("ts", "price", "version"),
      keyCols = Seq("ts"), versionCol = "version")
    // the change feed names the bad tick, with its preimage
    val ch = ct.changes(v1, v2, keyCols = Seq("ts"), preimages = true)
    assert(ch.filter(col("change_type") === "update" && col("price") === -1.0).count() === 1)
    assert(ch.filter(col("change_type") === "update_preimage" &&
      col("price") === 101.0).count() === 1)
    val v3 = ct.restore(v1)
    assert(v3 > v2)
    assert(ct.read("aapl").filter(col("price") === -1.0).count() === 0)
    assert(ct.read("aapl").filter(col("price") === 101.0).count() === 1)
    // the bad version remains auditable until vacuum
    assert(ct.readAsOf("aapl", v2).filter(col("price") === -1.0).count() === 1)
  }

  test("facade zorder: a price-keyed read prunes after clustering") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_bzorder").toString
    val ct = new Bundles(spark, base)
    val rows = (0 until 2000).map { i =>
      (new java.sql.Timestamp(ts("2024-01-01 00:00:00").getTime + i * 60000L),
        (i % 37).toDouble, 1L)
    }
    ct.write("aapl", rows.toDF("ts", "price", "version"))
    graft.sources.StoreLog.ensure(s"$base/default")
    val v = ct.zorder(Seq("price"))
    assert(ct.versions().last === v)
    val snap = graft.sources.StoreLog.latest(s"$base/default").get
    val kept = graft.sources.FileStats.prune(snap.files, snap.stats,
      col("price") === lit(5.0))
    assert(kept.size < snap.files.size || snap.files.size === 1)
    assert(ct.read("aapl").count() === 2000)
    // the observability feed describes the same live set
    val d = ct.detail().collect()
    assert(d.map(_.getString(0)).toSet === snap.files.toSet)
    assert(d.forall(_.getLong(2) > 0))
    // the zero-IO catalog agrees with the scanning one
    val fast = ct.listUidsFast().get.collect()
    assert(fast.length === 1)
    assert(fast.head.getString(0) === "aapl" && fast.head.getLong(1) === 2000L)
    val slow = ct.listUids().collect().head
    assert(fast.head.getTimestamp(2) === slow.getTimestamp(2) &&
      fast.head.getTimestamp(3) === slow.getTimestamp(3))
  }

  test("dropSeries on a LOGGED collection commits a manifest version, never bricks reads") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_bdrop_logged").toString
    val ct = new Bundles(spark, base)
    ct.write("aapl", Seq((ts("2024-01-01 09:30:00"), 100.0, 1L),
      (ts("2024-01-01 09:31:00"), 101.0, 1L)).toDF("ts", "price", "version"))
    ct.write("msft", Seq((ts("2024-01-01 09:30:00"), 1.0, 1L)).toDF("ts", "price", "version"))
    // an upsert makes the collection LOGGED — the regime where a raw
    // directory delete would leave the live manifest naming dead files
    val v = ct.upsert("aapl",
      Seq((ts("2024-01-01 09:31:00"), 999.0, 2L)).toDF("ts", "price", "version"),
      keyCols = Seq("ts"), versionCol = "version")
    assert(ct.dropSeries("msft"))
    // the WHOLE collection stays readable through the manifest — this is
    // exactly the read that PATH_NOT_FOUND-bricked under raw deletion
    assert(ct.listUids().as[(String, Long, Timestamp, Timestamp)]
      .collect().map(_._1).toSet === Set("aapl"))
    assert(ct.read("aapl").count() === 2)
    assert(ct.readMany(Seq("aapl", "msft")).select("__uid")
      .distinct().as[String].collect().toSet === Set("aapl"))
    // double-drop is false, and the drop is one committed version
    assert(!ct.dropSeries("msft"))
    assert(ct.versions().last === v + 1)
    // the dropped series stays time-travelable until vacuum...
    assert(ct.readAsOf("msft", v).count() === 1)
    // ...which reclaims its (now-unreferenced) data files
    assert(ct.vacuum() > 0)
    assertThrows[Exception] { ct.readAsOf("msft", v).collect() }
    assert(ct.read("aapl").count() === 2)
  }

  test("facade delete: a time-ranged takedown of one series, time-travelable until vacuum") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_bdelete").toString
    val ct = new Bundles(spark, base)
    ct.write("aapl", Seq((ts("2024-01-01 09:30:00"), 100.0),
      (ts("2024-01-01 09:31:00"), 101.0),
      (ts("2024-01-01 09:32:00"), 102.0)).toDF("ts", "price"))
    ct.write("msft", Seq((ts("2024-01-01 09:31:00"), 1.0)).toDF("ts", "price"))
    val v = ct.delete("aapl", start = Some(ts("2024-01-01 09:31:00")),
      end = Some(ts("2024-01-01 09:31:00")))
    // the one tick in range is gone; neighbors and other series survive
    assert(ct.read("aapl").select("price").as[Double].collect().sorted
      === Array(100.0, 102.0))
    assert(ct.read("msft").count() === 1)
    // takedown is reversible until vacuum: the pre-delete version reads whole
    assert(ct.readAsOf("aapl", v - 1).count() === 3)
    assert(ct.vacuum() > 0)
    assertThrows[Exception] { ct.readAsOf("aapl", v - 1).collect() }
    assert(ct.read("aapl").count() === 2)
  }

  test("facade CDC ingest: a takedown feed deletes one series' ticks, others merge") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_bcdc").toString
    val ct = new Bundles(spark, s"$root/db")
    // batch 0 lands the ticks; batch 1 takes one down — the takedown of
    // STORED data must be its own auditable manifest version. (A
    // same-batch insert+takedown never lands at all — version-resolved
    // supersession, pinned in StreamingSpec — so the audit shape needs
    // two batches.)
    Seq(("aapl", ts("2024-01-01 09:30:00"), 100.0, 1L, "U"),
        ("msft", ts("2024-01-01 09:30:00"), 50.0, 1L, "U"),
        ("aapl", ts("2024-01-01 09:31:00"), 101.0, 1L, "U"))
      .toDF("sym", "ts", "price", "version", "op")
      .repartition(1).write.mode("append").parquet(s"$root/src")
    Seq(("aapl", ts("2024-01-01 09:30:00"), 0.0, 2L, "D")) // takedown of one tick
      .toDF("sym", "ts", "price", "version", "op")
      .repartition(1).write.mode("append").parquet(s"$root/src")
    val q = ct.ingestCdc(
      spark.readStream
        .schema("sym STRING, ts TIMESTAMP, price DOUBLE, version LONG, op STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$root/src"),
      uidCol = "sym", opCol = "op", keyCols = Seq("ts"), versionCol = "version",
      checkpoint = s"$root/ckpt")
    q.awaitTermination()
    assert(ct.read("aapl").select("price").as[Double].collect().toSeq === Seq(101.0))
    assert(ct.read("msft").count() === 1)
    // the takedown is time-travelable until vacuum
    val v = ct.versions().last
    assert(ct.readAsOf("aapl", v - 1).count() === 2)
  }

  test("facade streaming ingest: a landed feed becomes series in the collection") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_bingest").toString
    val ct = new Bundles(spark, s"$root/db")
    Seq(("aapl", ts("2024-01-01 09:30:00"), 100.0, 1L),
        ("msft", ts("2024-01-01 09:30:00"), 50.0, 1L),
        ("aapl", ts("2024-01-01 09:31:00"), 101.0, 1L))
      .toDF("sym", "ts", "price", "version")
      .write.mode("append").parquet(s"$root/src")
    val q = ct.ingest(
      spark.readStream.schema("sym STRING, ts TIMESTAMP, price DOUBLE, version LONG")
        .parquet(s"$root/src"),
      uidCol = "sym", keyCols = Seq("ts"), versionCol = "version",
      checkpoint = s"$root/ckpt")
    q.awaitTermination()
    assert(ct.read("aapl").count() === 2)
    assert(ct.read("msft").count() === 1)
    assert(ct.listUids().count() === 2)
    // and the ingested collection is a LOGGED store: versions exist and
    // a facade upsert stacks on top of the streamed state
    assert(ct.versions().nonEmpty)
    ct.upsert("aapl", Seq((ts("2024-01-01 09:31:00"), 999.0, 2L))
      .toDF("ts", "price", "version"), keyCols = Seq("ts"), versionCol = "version")
    assert(ct.read("aapl").filter(col("price") === 999.0).count() === 1)
  }

  test("facade tags: pin an era, read it by name, vacuum keeps it, drop releases it") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_btag").toString
    val ct = new Bundles(spark, base)
    ct.write("aapl", Seq((ts("2024-01-01 09:30:00"), 100.0, 1L))
      .toDF("ts", "price", "version"))
    // upserts make the collection a LOGGED store and churn versions
    ct.upsert("aapl", Seq((ts("2024-01-01 09:31:00"), 101.0, 1L))
      .toDF("ts", "price", "version"), keyCols = Seq("ts"), versionCol = "version")
    val pinned = ct.tag("two_ticks")
    assert(ct.tags() === Map("two_ticks" -> pinned))
    ct.upsert("aapl", Seq((ts("2024-01-01 09:31:00"), 999.0, 2L))
      .toDF("ts", "price", "version"), keyCols = Seq("ts"), versionCol = "version")
    ct.upsert("aapl", Seq((ts("2024-01-01 09:32:00"), 102.0, 2L))
      .toDF("ts", "price", "version"), keyCols = Seq("ts"), versionCol = "version")
    // the tagged era reads by name, unchanged by later churn
    val era = ct.readTagged("aapl", "two_ticks").orderBy("ts").collect()
    assert(era.length === 2 && era.map(_.getDouble(1)).toSeq === Seq(100.0, 101.0))
    // a tight vacuum keeps the tagged manifest readable
    ct.vacuum(retainVersions = 1)
    assert(ct.versions().contains(pinned))
    assert(ct.readTagged("aapl", "two_ticks").orderBy("ts").collect()
      .map(_.getDouble(1)).toSeq === Seq(100.0, 101.0))
    assert(ct.read("aapl").count() === 3)
    // drop: the name stops resolving
    ct.dropTag("two_ticks")
    assert(ct.tags().isEmpty)
    assert(intercept[IllegalArgumentException](
      ct.readTagged("aapl", "two_ticks")).getMessage.contains("two_ticks"))
  }

  test("compaction of a LOGGED collection is a manifest commit, not a swap") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_lcompact").toString
    val ct = new Bundles(spark, base)
    // non-default checkpoint cadence: maintenance commits must PRESERVE
    // it (a parentless full-listing commit would silently reset it)
    graft.sources.StoreLog.ensure(s"$base/default", checkpointInterval = 3)
    for (i <- 0 until 3)
      ct.write("aapl", Seq((ts(s"2024-01-01 09:3$i:00"), 100.0 + i, 1L))
        .toDF("ts", "price", "version"))
    ct.write("msft", Seq((ts("2024-01-01 09:30:00"), 1.0, 1L)).toDF("ts", "price", "version"))
    // an upsert turns the collection into a LOGGED store
    val v = ct.upsert("aapl",
      Seq((ts("2024-01-01 09:31:00"), 999.0, 2L)).toDF("ts", "price", "version"),
      keyCols = Seq("ts"), versionCol = "version")
    val liveBefore = ct.read("aapl").collect().toSet
    // single-series compaction: one new version, rows identical, msft
    // untouched, and the pre-compaction version still time-travels
    // (the txn protocol never deletes — vacuum does)
    val (before, after) = ct.compactSeries("aapl")
    assert(after <= before && after >= 1)
    assert(ct.versions().last === v + 1)
    assert(ct.read("aapl").collect().toSet === liveBefore)
    assert(ct.read("msft").count() === 1)
    assert(ct.readAsOf("aapl", v).collect().toSet === liveBefore)
    assert(graft.sources.StoreLog.latest(s"$base/default").get.checkpointInterval === 3,
      "compactSeries reset the store's checkpoint interval")
    // whole-collection compaction: same protocol, one more version
    val (_, afterAll) = ct.compact()
    assert(ct.versions().last === v + 2)
    assert(graft.sources.StoreLog.latest(s"$base/default").get.checkpointInterval === 3,
      "compact reset the store's checkpoint interval")
    assert(afterAll >= 2) // >= one file per series
    assert(ct.read("aapl").collect().toSet === liveBefore)
    assert(ct.read("msft").count() === 1)
    // vacuum reclaims every superseded chunk; live reads unchanged
    assert(ct.vacuum() > 0)
    assert(ct.read("aapl").collect().toSet === liveBefore)
    assert(ct.listUids().count() === 2)
  }
}
