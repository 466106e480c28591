package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{Streams, Tick}

/** True streaming execution of the §2.9 builders: incremental tumbling
  * aggregation, watermark late-data drop, and the custom-state LOCF op —
  * the behaviors a batch oracle cannot check.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(s: String) = Timestamp.valueOf(s)

  test("tumbling agg over a stream matches the batch twin; late rows are dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val agg = Streams.tumblingAgg(
      Streams.withWatermark(input.toDF().toDF("ts", "event_type", "value")))
    val q = agg.writeStream.format("memory").queryName("tw")
      .outputMode("update").start()
    try {
      input.addData(
        (ts("2024-01-01 10:05:00"), "view", 1.0),
        (ts("2024-01-01 10:20:00"), "view", 2.0),
        (ts("2024-01-01 11:30:00"), "click", 5.0)) // watermark → 11:20
      q.processAllAvailable()
      // late row: window [09:00,10:00) ended long before the watermark
      input.addData((ts("2024-01-01 09:10:00"), "view", 9.0))
      q.processAllAvailable()
      val rows = spark.table("tw")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(rows.contains((ts("2024-01-01 10:00:00"), "view", 2L, 3.0)))
      assert(rows.contains((ts("2024-01-01 11:00:00"), "click", 1L, 5.0)))
      assert(!rows.exists(_._1 == ts("2024-01-01 09:00:00")),
        "late row beyond watermark must be dropped")
    } finally q.stop()
  }

  test("session windows over a stream match the batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val agg = Streams.sessionAgg(
      Streams.withWatermark(input.toDF().toDF("ts", "user_id", "value")))
    val q = agg.writeStream.format("memory").queryName("sess")
      .outputMode("complete").start()
    try {
      val rows = Seq(
        (ts("2024-01-01 10:00:00"), 1L, 1.0),
        (ts("2024-01-01 10:10:00"), 1L, 2.0),  // same session (gap 10m)
        (ts("2024-01-01 11:00:00"), 1L, 3.0),  // new session (gap 50m)
        (ts("2024-01-01 10:05:00"), 2L, 4.0))
      input.addData(rows: _*)
      q.processAllAvailable()
      val streaming = spark.table("sess")
        .as[(Timestamp, Timestamp, Long, Long, Double)].collect().toSet
      val batch = Streams.sessionAgg(rows.toDF("ts", "user_id", "value"))
        .as[(Timestamp, Timestamp, Long, Long, Double)].collect().toSet
      assert(streaming === batch)
      assert(batch.contains((ts("2024-01-01 10:00:00"), ts("2024-01-01 10:40:00"), 1L, 2L, 3.0)))
    } finally q.stop()
  }

  test("streaming OHLC bars match the batch twin (open/close by (ts, event_id))") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Long, Double)]
    val agg = Streams.ohlcAgg(
      Streams.withWatermark(input.toDF().toDF("ts", "event_type", "event_id", "value")))
    val q = agg.writeStream.format("memory").queryName("ohlc")
      .outputMode("complete").start()
    try {
      val rows = Seq(
        (ts("2024-01-01 10:05:00"), "trade", 1L, 10.0), // open of [10:00,10:30)
        (ts("2024-01-01 10:12:00"), "trade", 2L, 14.0), // high
        (ts("2024-01-01 10:25:00"), "trade", 3L, 7.0),  // low + close
        (ts("2024-01-01 10:40:00"), "trade", 4L, 9.0),  // next bar
        (ts("2024-01-01 10:05:00"), "trade", 5L, 11.0)) // same ts as open: id breaks tie
      input.addData(rows: _*)
      q.processAllAvailable()
      val streaming = spark.table("ohlc")
        .as[(Timestamp, String, Double, Double, Double, Double, Long)].collect().toSet
      val batch = Streams.ohlcAgg(rows.toDF("ts", "event_type", "event_id", "value"))
        .as[(Timestamp, String, Double, Double, Double, Double, Long)].collect().toSet
      assert(streaming === batch)
      assert(batch.contains((ts("2024-01-01 10:00:00"), "trade", 10.0, 14.0, 7.0, 7.0, 4L)))
      assert(batch.contains((ts("2024-01-01 10:30:00"), "trade", 9.0, 9.0, 9.0, 9.0, 1L)))
    } finally q.stop()
  }

  test("streaming dedup within watermark drops re-delivered keys, keeps distinct ones") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val deduped = Streams.dedupWithinWatermark(
      input.toDF().toDF("ts", "doc_id", "value"), "10 minutes", Seq("doc_id"))
    val q = deduped.writeStream.format("memory").queryName("dd")
      .outputMode("append").start()
    try {
      input.addData(
        (ts("2024-01-01 10:00:00"), 1L, 1.0),
        (ts("2024-01-01 10:01:00"), 1L, 1.0),  // duplicate in-batch
        (ts("2024-01-01 10:02:00"), 2L, 2.0))
      q.processAllAvailable()
      // re-delivery in a LATER micro-batch, still inside the watermark
      input.addData((ts("2024-01-01 10:03:00"), 1L, 1.0),
        (ts("2024-01-01 10:04:00"), 3L, 3.0))
      q.processAllAvailable()
      // advance event time far enough that key 1's dedup state is evicted
      input.addData((ts("2024-01-01 11:00:00"), 9L, 9.0))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 10:59:00"), 1L, 10.0))
      q.processAllAvailable()
      val ids = spark.table("dd").as[(Timestamp, Long, Double)]
        .collect().toSeq.map(_._2)
      // each of 1,2,3,9 exactly once from the watermark window…
      assert(ids.count(_ == 2L) == 1 && ids.count(_ == 3L) == 1 && ids.count(_ == 9L) == 1)
      // …key 1: once in the first window; the post-eviction redelivery is
      // allowed again (bounded state is the point — not exactly-once-ever)
      assert(ids.count(_ == 1L) == 2)
    } finally q.stop()
  }

  test("stream-stream interval join pairs purchases with recent views across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pIn = MemoryStream[(Timestamp, Long, Long)]
    val vIn = MemoryStream[(Timestamp, Long, Long)]
    val joined = Streams.streamIntervalJoin(
      pIn.toDF().toDF("p_ts", "p_user", "p_id"),
      vIn.toDF().toDF("v_ts", "v_user", "v_id"))
      .select($"p_id", $"v_id")
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    try {
      // views arrive in batch 1, purchases in batch 2 — the join must
      // buffer across micro-batches
      vIn.addData((ts("2024-01-01 10:00:00"), 1L, 11L),
        (ts("2024-01-01 10:08:00"), 1L, 12L),
        (ts("2024-01-01 09:30:00"), 1L, 13L), // too old for the purchase
        (ts("2024-01-01 10:05:00"), 2L, 21L)) // other user
      q.processAllAvailable()
      pIn.addData((ts("2024-01-01 10:09:00"), 1L, 100L))
      q.processAllAvailable()
      val rows = spark.table("ssj").as[(Long, Long)].collect().toSet
      assert(rows == Set((100L, 11L), (100L, 12L)))
    } finally q.stop()
  }

  test("streaming file sink commits exactly-once parquet output readable as a table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_sink").toString
    val input = MemoryStream[(Timestamp, String, Double)]
    val agg = Streams.tumblingAgg(
      Streams.withWatermark(input.toDF().toDF("ts", "event_type", "value")))
    // Append mode: a window's row is emitted (and its file committed)
    // only once the watermark passes the window end
    val q = agg.writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()
    try {
      input.addData((ts("2024-01-01 10:05:00"), "view", 1.0),
        (ts("2024-01-01 10:20:00"), "view", 2.0))
      q.processAllAvailable()
      // advance watermark beyond the 10:00 window so it gets committed
      input.addData((ts("2024-01-01 12:00:00"), "click", 5.0))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$dir/out")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(out.contains((ts("2024-01-01 10:00:00"), "view", 2L, 3.0)))
      // the 11:00+ window is not yet watermark-closed → not committed
      assert(!out.exists(_._1 == ts("2024-01-01 12:00:00")))
    } finally q.stop()
  }

  test("file-source stream restart resumes from checkpointed offsets and window state") {
    import spark.implicits._
    // The one execution mode MemoryStream never exercises: readStream
    // over a parquet landing dir with a REAL checkpoint, stopped and
    // restarted. Run 1 ingests two ticks of the 10:00 bar — the
    // watermark stops at 10:10, so the bar exists only in checkpointed
    // STATE. Run 2 (a brand-new query on the same checkpoint) ingests
    // one later tick, advances the watermark past the bar, and must
    // commit a bar built from rows it never read — proof that both the
    // source offsets and the window state survived the restart.
    val root = java.nio.file.Files.createTempDirectory("graft_fsrc").toString
    val schema = "ts TIMESTAMP, event_type STRING, event_id LONG, value DOUBLE"
    def startQuery() = {
      val src = spark.readStream.schema(schema).parquet(s"$root/src")
      Streams.ohlcAgg(src.withWatermark("ts", "10 minutes"))
        .writeStream.format("parquet")
        .option("path", s"$root/out").option("checkpointLocation", s"$root/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    Seq((ts("2024-01-01 10:05:00"), "view", 1L, 1.0),
        (ts("2024-01-01 10:20:00"), "view", 2L, 2.0))
      .toDF("ts", "event_type", "event_id", "value")
      .write.mode("append").parquet(s"$root/src")
    val q1 = startQuery(); q1.awaitTermination()
    Seq((ts("2024-01-01 12:00:00"), "click", 3L, 5.0))
      .toDF("ts", "event_type", "event_id", "value")
      .write.mode("append").parquet(s"$root/src")
    val q2 = startQuery(); q2.awaitTermination()
    // resumption, not reprocessing: run 2 read ONLY the new file's row
    val rows2 = q2.recentProgress.map(_.numInputRows).sum
    assert(rows2 === 1, s"restart reprocessed already-committed files ($rows2 rows read)")
    // the committed bar combines run-1 rows that lived only in state —
    // and appears exactly once (no duplicate emission across restarts)
    val out = spark.read.parquet(s"$root/out")
      .select("bar_ts", "event_type", "open", "high", "low", "close", "n")
      .as[(Timestamp, String, Double, Double, Double, Double, Long)].collect().toSeq
    assert(out === Seq((ts("2024-01-01 10:00:00"), "view", 1.0, 2.0, 1.0, 2.0, 2L)),
      s"restart lost or duplicated checkpointed window state: $out")
  }

  test("LOCF event-time expiry drops idle key state; a returning tick starts cold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Tick]
    val ticks = input.toDS().withWatermark("ts", "0 seconds").as[Tick]
    val q = Streams.locfPerKey(ticks, expireAfter = Some("30 minutes"))
      .writeStream.format("memory").queryName("locf_exp")
      .outputMode("append").start()
    try {
      input.addData(Tick(1L, ts("2024-01-01 10:00:00"), Some(5.0)),
        Tick(1L, ts("2024-01-01 10:01:00"), None))
      q.processAllAvailable()
      // another key advances the watermark far past key 1's expiry…
      input.addData(Tick(2L, ts("2024-01-01 12:00:00"), Some(1.0)))
      q.processAllAvailable()
      // …and the following batch is where the timeout actually fires
      input.addData(Tick(2L, ts("2024-01-01 12:10:00"), None))
      q.processAllAvailable()
      // key 1 returns after expiry with a leading gap: 5.0 must NOT leak
      input.addData(Tick(1L, ts("2024-01-01 12:20:00"), None))
      q.processAllAvailable()
      val k1 = spark.table("locf_exp").as[(Long, Timestamp, Option[Double])]
        .collect().filter(_._1 == 1L).sortBy(_._2.getTime).map(_._3)
      assert(k1.length === 3)
      assert(k1(0) === Some(5.0))
      assert(k1(1) === Some(5.0), "gap inside the expiry window fills")
      assert(k1(2).isEmpty, "expired state must not leak the old value")
    } finally q.stop()
  }

  test("custom-state LOCF carries last value across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Tick]
    val q = Streams.locfPerKey(input.toDS())
      .writeStream.format("memory").queryName("locf")
      .outputMode("append").start()
    try {
      input.addData(
        Tick(1L, ts("2024-01-01 00:00:01"), Some(10.0)),
        Tick(1L, ts("2024-01-01 00:00:02"), None))
      q.processAllAvailable()
      input.addData(Tick(1L, ts("2024-01-01 00:00:03"), None)) // gap spans batches
      q.processAllAvailable()
      val got = spark.table("locf")
        .as[(Long, Timestamp, Option[Double])].collect()
        .sortBy(_._2.getTime).map(_._3)
      assert(got.toSeq === Seq(Some(10.0), Some(10.0), Some(10.0)))
    } finally q.stop()
  }

  test("locf on a batch dataset fills forward within the batch") {
    import spark.implicits._
    val batch = Seq(
      Tick(7L, ts("2024-01-01 00:00:01"), None),       // nothing to carry yet
      Tick(7L, ts("2024-01-01 00:00:02"), Some(4.0)),
      Tick(7L, ts("2024-01-01 00:00:03"), None)
    ).toDS()
    val got = Streams.locfPerKey(batch).collect().sortBy(_.ts.getTime).map(_.v_filled)
    assert(got.toSeq === Seq(None, Some(4.0), Some(4.0)))
  }

  test("multi-batch streaming ingest: one manifest version per batch across a checkpoint boundary") {
    import spark.implicits._
    import graft.streaming.StoreIngest
    import graft.sources.TsStore
    // the steady-state regime streaming ingest exists for: a feed lands
    // small files, maxFilesPerTrigger=1 makes each ONE micro-batch, and
    // the manifest chain grows one version per batch — crossing the
    // default CheckpointInterval=10 boundary, so the STREAMING path
    // itself exercises delta commits, the cadence checkpoint, and
    // chain-resolved reads (StoreLogSpec pins this for batch upserts;
    // this is the streaming twin).
    val root = java.nio.file.Files.createTempDirectory("graft_ingest_mb").toString
    val (store, ckpt, src) = (s"$root/store", s"$root/ckpt", s"$root/src")
    val schema = "ts TIMESTAMP, event_type STRING, event_id LONG, value DOUBLE, version LONG"
    val types = Seq("view", "click")
    (0 until 14).foreach { i =>
      (0 until 5).map { j =>
        (new Timestamp(ts("2024-01-01 10:00:00").getTime + (i * 5 + j) * 60000L),
          types(i % 2), (i * 10 + j).toLong, i * 1.0 + j, 1L)
      }.toDF("ts", "event_type", "event_id", "value", "version")
        .repartition(1).write.mode("append").parquet(src)
    }
    assert(new java.io.File(src).listFiles()
      .count(_.getName.endsWith(".parquet")) === 14, "test setup: want 14 landed files")
    val q = StoreIngest.start(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
      store, keyCols = Seq("event_id"), versionCol = "version",
      tsCol = "ts", uidCols = Seq("event_type"), checkpoint = ckpt)
    q.awaitTermination()
    // one committed version per non-empty micro-batch + the initial ensure
    assert(TsStore.versions(store) === (1L to 15L))
    // the streaming path wrote O(batch) deltas between checkpoints and a
    // full listing on the cadence — the same shape as batch upserts
    def isCkpt(v: Long) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(store, "_graft_log", f"v$v%08d.json"))).contains("\"files\"")
    assert((1L to 15L).filter(isCkpt) === Seq(1L, 10L))
    // chain-resolved live read: all 14 batches' rows, exactly once
    assert(TsStore.read(spark, store).count() === 70)
    // mid-stream time travel: version k holds exactly its k−1 batches,
    // below, at and above the checkpoint boundary
    (2L to 15L).foreach { v =>
      assert(TsStore.read(spark, store, asOf = Some(v)).count() === (v - 1) * 5,
        s"asOf v$v resolved the wrong batch prefix")
    }
  }

  test("CDC ingest: multi-batch upserts+takedowns, time-travel audit, re-delivered batch converges") {
    import spark.implicits._
    import graft.streaming.StoreIngest
    import graft.sources.TsStore
    val root = java.nio.file.Files.createTempDirectory("graft_cdc").toString
    val (store, ckpt, src) = (s"$root/store", s"$root/ckpt", s"$root/src")
    val schema = "ts TIMESTAMP, event_type STRING, event_id LONG, value DOUBLE, " +
      "version LONG, op STRING"
    def startCdc() = StoreIngest.startCdc(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
      store, opCol = "op", keyCols = Seq("event_id"), versionCol = "version",
      tsCol = "ts", uidCols = Seq("event_type"), checkpoint = ckpt)
    // batch 0: three inserts — one with a NULL op (must default to
    // upsert, not silently vanish from both branches)
    Seq((ts("2024-01-01 10:00:00"), "view", 1L, 1.0, 1L, "U"),
        (ts("2024-01-01 10:01:00"), "click", 2L, 2.0, 1L, "U"),
        (ts("2024-01-01 10:02:00"), "view", 3L, 3.0, 1L, null.asInstanceOf[String]))
      .toDF("ts", "event_type", "event_id", "value", "version", "op")
      .repartition(1).write.mode("append").parquet(src)
    // batch 1: update key 2, TAKE DOWN key 1, insert key 4
    Seq((ts("2024-01-01 10:03:00"), "click", 2L, 9.0, 2L, "U"),
        (ts("2024-01-01 10:00:00"), "view", 1L, 0.0, 2L, "D"),
        (ts("2024-01-01 10:04:00"), "signup", 4L, 4.0, 1L, "U"))
      .toDF("ts", "event_type", "event_id", "value", "version", "op")
      .repartition(1).write.mode("append").parquet(src)
    val q1 = startCdc(); q1.awaitTermination()
    def state(asOf: Option[Long] = None): Set[(Long, Double)] =
      TsStore.read(spark, store, asOf = asOf)
        .select("event_id", "value").as[(Long, Double)].collect().toSet
    assert(state() === Set((2L, 9.0), (3L, 3.0), (4L, 4.0)),
      s"CDC end state wrong: ${state()}")
    // the takedown is an audit-able manifest version: the pre-delete
    // version still shows key 1 (until vacuum)
    val versions = TsStore.versions(store)
    assert(versions.last >= 4L, s"expected upsert+delete commits, got $versions")
    assert(state(asOf = Some(versions.last - 1)).contains((1L, 1.0)),
      "pre-takedown version lost the deleted key")
    // crash window: batch 1's commit marker is lost → re-delivery of the
    // whole batch (upserts replayed, takedown replayed) must converge
    val marker = new java.io.File(s"$ckpt/commits/1")
    assert(marker.exists(), "test setup: expected commit marker for batch 1")
    assert(marker.delete())
    new java.io.File(s"$ckpt/commits/.1.crc").delete()
    val q2 = startCdc(); q2.awaitTermination()
    assert(state() === Set((2L, 9.0), (3L, 3.0), (4L, 4.0)),
      s"re-delivered CDC batch corrupted the store: ${state()}")
  }

  test("CDC deleteMode=dv: takedowns land as vectors, re-delivery converges, reinserts survive") {
    import spark.implicits._
    import graft.streaming.StoreIngest
    import graft.sources.{StoreLog, TsStore}
    val root = java.nio.file.Files.createTempDirectory("graft_cdc_dv").toString
    val (store, ckpt, src) = (s"$root/store", s"$root/ckpt", s"$root/src")
    val schema = "ts TIMESTAMP, event_type STRING, event_id LONG, value DOUBLE, " +
      "version LONG, op STRING"
    def startCdc() = StoreIngest.startCdc(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
      store, opCol = "op", keyCols = Seq("event_id"), versionCol = "version",
      tsCol = "ts", uidCols = Seq("event_type"), checkpoint = ckpt,
      deleteMode = "dv")
    Seq((ts("2024-01-01 10:00:00"), "view", 1L, 1.0, 1L, "U"),
        (ts("2024-01-01 10:01:00"), "click", 2L, 2.0, 1L, "U"),
        (ts("2024-01-01 10:02:00"), "view", 3L, 3.0, 1L, "U"))
      .toDF("ts", "event_type", "event_id", "value", "version", "op")
      .repartition(1).write.mode("append").parquet(src)
    // batch 1: take down key 1, reinsert key 2 ABOVE its delete version
    Seq((ts("2024-01-01 10:00:00"), "view", 1L, 0.0, 2L, "D"),
        (ts("2024-01-01 10:01:00"), "click", 2L, 0.0, 2L, "D"),
        (ts("2024-01-01 10:03:00"), "click", 2L, 22.0, 3L, "U"))
      .toDF("ts", "event_type", "event_id", "value", "version", "op")
      .repartition(1).write.mode("append").parquet(src)
    val q1 = startCdc(); q1.awaitTermination()
    def state(): Set[(Long, Double)] =
      TsStore.read(spark, store)
        .select("event_id", "value").as[(Long, Double)].collect().toSet
    assert(state() === Set((2L, 22.0), (3L, 3.0)), s"dv CDC end state wrong: ${state()}")
    // the takedown is MERGE-ON-READ: the takedown commit carries
    // vectors and moves NO data file (its parent is batch 1's upsert
    // commit). The tiny fixture then trips the dv-DENSITY cue (50% of
    // the view partition deleted ≥ the 20% default), so the route's
    // auto-compaction must have materialized the vector in a LATER
    // maintenance commit — both halves of the contract in one store.
    val dvV = TsStore.versions(store).reverse
      .find(v => StoreLog.read(store, v).dvs.nonEmpty)
    assert(dvV.isDefined, "dv-routed CDC takedown must commit vectors")
    val snap = StoreLog.read(store, dvV.get)
    val parent = StoreLog.read(store, dvV.get - 1)
    assert(snap.files === parent.files,
      "the dv takedown commit must move no data file")
    assert(StoreLog.latest(store).get.dvs.isEmpty,
      "the density cue must have auto-compacted the dense partition")
    // zero-IO metadata count stays exact
    assert(TsStore.countAt(store).contains(2L))
    // crash window: batch 1 replays whole — the dv-aware find re-deletes
    // nothing and the store converges
    val marker = new java.io.File(s"$ckpt/commits/1")
    assert(marker.exists(), "test setup: expected commit marker for batch 1")
    assert(marker.delete())
    new java.io.File(s"$ckpt/commits/.1.crc").delete()
    val q2 = startCdc(); q2.awaitTermination()
    assert(state() === Set((2L, 22.0), (3L, 3.0)),
      s"re-delivered dv CDC batch corrupted the store: ${state()}")
  }

  test("CDC in-batch order: version resolves delete-vs-upsert; reinserts above the delete survive") {
    import spark.implicits._
    import graft.streaming.StoreIngest
    import graft.sources.TsStore
    // a DataFrame batch has no recoverable arrival order, so the
    // delete/upsert race within one batch resolves by VERSION: an
    // upsert at version <= a same-key delete's version is superseded
    // (including a tie — delete wins); an upsert ABOVE it is a
    // reinsert-after-delete and must survive both branches
    val root = java.nio.file.Files.createTempDirectory("graft_cdc_ord").toString
    val (store, ckpt, src) = (s"$root/store", s"$root/ckpt", s"$root/src")
    val schema = "ts TIMESTAMP, event_type STRING, event_id LONG, value DOUBLE, " +
      "version LONG, op STRING"
    // ONE batch carrying, per key:
    //   key 1: U@v1 then D@v2            → deleted
    //   key 2: D@v2 then U@v3 (reinsert) → survives at v3
    //   key 3: U@v2 and D@v2 (tie)       → delete wins
    //   key 4: plain U@v1                → survives
    Seq((ts("2024-01-01 10:00:00"), "view", 1L, 1.0, 1L, "U"),
        (ts("2024-01-01 10:00:00"), "view", 1L, 0.0, 2L, "D"),
        (ts("2024-01-01 10:01:00"), "view", 2L, 0.0, 2L, "D"),
        (ts("2024-01-01 10:01:00"), "view", 2L, 22.0, 3L, "U"),
        (ts("2024-01-01 10:02:00"), "view", 3L, 3.0, 2L, "U"),
        (ts("2024-01-01 10:02:00"), "view", 3L, 0.0, 2L, "D"),
        (ts("2024-01-01 10:03:00"), "view", 4L, 4.0, 1L, "U"))
      .toDF("ts", "event_type", "event_id", "value", "version", "op")
      .repartition(1).write.mode("append").parquet(src)
    val q = StoreIngest.startCdc(
      spark.readStream.schema(schema).parquet(src),
      store, opCol = "op", keyCols = Seq("event_id"), versionCol = "version",
      tsCol = "ts", uidCols = Seq("event_type"), checkpoint = ckpt)
    q.awaitTermination()
    val got = TsStore.read(spark, store)
      .select("event_id", "value").as[(Long, Double)].collect().toSet
    assert(got === Set((2L, 22.0), (4L, 4.0)),
      s"version-resolved CDC batch produced the wrong state: $got")
  }

  test("CDC rejects a delete row with a null key component loudly") {
    import spark.implicits._
    import graft.streaming.StoreIngest
    // === never matches null — a null-keyed delete would silently no-op,
    // which for a takedown feed means a GDPR request that LOOKS applied
    val root = java.nio.file.Files.createTempDirectory("graft_cdc_null").toString
    val (store, ckpt, src) = (s"$root/store", s"$root/ckpt", s"$root/src")
    val schema = "ts TIMESTAMP, event_type STRING, event_id LONG, value DOUBLE, " +
      "version LONG, op STRING"
    Seq((ts("2024-01-01 10:00:00"), "view", java.lang.Long.valueOf(1L), 1.0, 1L, "U"),
        (ts("2024-01-01 10:01:00"), "view", null.asInstanceOf[java.lang.Long], 0.0, 2L, "D"))
      .toDF("ts", "event_type", "event_id", "value", "version", "op")
      .repartition(1).write.mode("append").parquet(src)
    val q = StoreIngest.startCdc(
      spark.readStream.schema(schema).parquet(src),
      store, opCol = "op", keyCols = Seq("event_id"), versionCol = "version",
      tsCol = "ts", uidCols = Seq("event_type"), checkpoint = ckpt)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    assert(e.getMessage.contains("null key component") ||
      Option(e.getCause).exists(_.getMessage.contains("null key component")),
      s"expected the loud null-key reject, got: ${e.getMessage.take(400)}")
  }

  test("CDC runs a large takedown batch as ONE join-based delete pass with a bounded plan") {
    import spark.implicits._
    import graft.streaming.StoreIngest
    import graft.sources.TsStore
    // a takedown batch larger than MaxKeysPerDeletePass must not build
    // one giant literal plan: it runs as ONE join-based anti-merge
    // (TsStore.deleteKeys — the key set broadcast as data, plan size
    // O(1) in the key count), a single atomic manifest version whose
    // end state equals the whole-batch semantics
    val root = java.nio.file.Files.createTempDirectory("graft_cdc_big").toString
    val (store, ckpt, src) = (s"$root/store", s"$root/ckpt", s"$root/src")
    val cap = StoreIngest.MaxKeysPerDeletePass
    val nDel = cap + 7 // over the literal-path cap → the join path
    val schema = "ts TIMESTAMP, event_type STRING, event_id LONG, value DOUBLE, " +
      "version LONG, op STRING"
    // batch 0: insert nDel + 50 keys
    (0 until nDel + 50).map { i =>
      (new Timestamp(ts("2024-01-01 10:00:00").getTime + i * 1000L),
        "view", i.toLong, i * 1.0, 1L, "U")
    }.toDF("ts", "event_type", "event_id", "value", "version", "op")
      .repartition(1).write.mode("append").parquet(src)
    // batch 1: take down the first nDel keys
    (0 until nDel).map { i =>
      (new Timestamp(ts("2024-01-01 10:00:00").getTime + i * 1000L),
        "view", i.toLong, 0.0, 2L, "D")
    }.toDF("ts", "event_type", "event_id", "value", "version", "op")
      .repartition(1).write.mode("append").parquet(src)
    val q = StoreIngest.startCdc(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
      store, opCol = "op", keyCols = Seq("event_id"), versionCol = "version",
      tsCol = "ts", uidCols = Seq("event_type"), checkpoint = ckpt)
    q.awaitTermination()
    val survivors = TsStore.read(spark, store)
      .select("event_id").as[Long].collect().toSet
    assert(survivors === (nDel until nDel + 50).map(_.toLong).toSet,
      s"join-based takedown missed keys: ${survivors.size} survivors")
    // version audit: ensure + insert-upsert + ONE join-based delete
    // commit for the whole 1007-key batch
    val versions = TsStore.versions(store)
    assert(versions.size === 3,
      s"expected ensure+upsert+1 join-based delete version, got $versions")
  }

  test("CDC null-key audit stays DISTRIBUTED on an over-cap takedown batch") {
    import spark.implicits._
    import graft.streaming.StoreIngest
    // the audit must reject a null key without collecting the key set:
    // plant an over-cap batch whose violating row hides among cap+9
    // valid keys — the reject fires off a take(1), the driver never
    // holds the batch's key cardinality (the full-collect audit this
    // replaces WOULD have materialized cap+10 rows here first)
    val root = java.nio.file.Files.createTempDirectory("graft_cdc_bignull").toString
    val (store, ckpt, src) = (s"$root/store", s"$root/ckpt", s"$root/src")
    val cap = StoreIngest.MaxKeysPerDeletePass
    val schema = "ts TIMESTAMP, event_type STRING, event_id LONG, value DOUBLE, " +
      "version LONG, op STRING"
    val rows = (0 until cap + 9).map { i =>
      (new Timestamp(ts("2024-01-01 10:00:00").getTime + i * 1000L),
        "view", java.lang.Long.valueOf(i.toLong), 0.0, 2L, "D")
    } :+ ((ts("2024-01-01 11:00:00"), "view",
      null.asInstanceOf[java.lang.Long], 0.0, 2L, "D"))
    rows.toDF("ts", "event_type", "event_id", "value", "version", "op")
      .repartition(1).write.mode("append").parquet(src)
    val q = StoreIngest.startCdc(
      spark.readStream.schema(schema).parquet(src),
      store, opCol = "op", keyCols = Seq("event_id"), versionCol = "version",
      tsCol = "ts", uidCols = Seq("event_type"), checkpoint = ckpt)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    assert(e.getMessage.contains("null key component") ||
      Option(e.getCause).exists(_.getMessage.contains("null key component")),
      s"expected the loud null-key reject, got: ${e.getMessage.take(400)}")
  }

  test("store ingest: restart with a RE-DELIVERED batch converges to the exactly-once state") {
    import spark.implicits._
    import graft.streaming.StoreIngest
    import graft.sources.TsStore
    // foreachBatch is at-least-once: if the process dies after the
    // store upsert but before the checkpoint's commit marker lands,
    // the restarted query re-delivers the SAME batch. Latest-wins
    // merge must absorb the replay — the store ends exactly-once.
    val root = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    val (store, ckpt, src) = (s"$root/store", s"$root/ckpt", s"$root/src")
    val schema = "ts TIMESTAMP, event_type STRING, event_id LONG, value DOUBLE, version LONG"
    def startIngest() =
      StoreIngest.start(spark.readStream.schema(schema).parquet(src), store,
        keyCols = Seq("event_id"), versionCol = "version",
        tsCol = "ts", uidCols = Seq("event_type"), checkpoint = ckpt)
    Seq((ts("2024-01-01 10:00:00"), "view", 1L, 1.0, 1L),
        (ts("2024-01-01 10:01:00"), "click", 2L, 2.0, 1L))
      .toDF("ts", "event_type", "event_id", "value", "version")
      .write.mode("append").parquet(src)
    val q1 = startIngest(); q1.awaitTermination()
    assert(TsStore.read(spark, store).count() === 2)
    // the crash window: batch 0's upsert is committed to the STORE but
    // its checkpoint commit marker is lost → the restart re-delivers it
    val marker = new java.io.File(s"$ckpt/commits/0")
    assert(marker.exists(), "test setup: expected commit marker for batch 0")
    assert(marker.delete())
    // the local FS keeps a checksum shadow; a stale one blocks re-commit
    new java.io.File(s"$ckpt/commits/.0.crc").delete()
    Seq((ts("2024-01-01 10:02:00"), "view", 1L, 9.0, 2L), // update key 1
        (ts("2024-01-01 10:03:00"), "signup", 3L, 3.0, 1L)) // new partition
      .toDF("ts", "event_type", "event_id", "value", "version")
      .write.mode("append").parquet(src)
    val q2 = startIngest(); q2.awaitTermination()
    val out = TsStore.read(spark, store)
      .select("event_id", "value", "version")
      .as[(Long, Double, Long)].collect().toSet
    assert(out === Set((1L, 9.0, 2L), (2L, 2.0, 1L), (3L, 3.0, 1L)),
      s"replayed batch corrupted the store: $out")
  }

  test("NATIVE sink: writeStream.format(graft-store) upsert mode, re-delivered batch converges") {
    import spark.implicits._
    import graft.sources.TsStore
    // the same crash drill as the foreachBatch ingest, but through the
    // registered sink — no user-written foreachBatch anywhere
    val root = java.nio.file.Files.createTempDirectory("graft_nsink").toString
    val (store, ckpt, src) = (s"$root/store", s"$root/ckpt", s"$root/src")
    val schema = "ts TIMESTAMP, event_type STRING, event_id LONG, value DOUBLE, version LONG"
    def start() = spark.readStream.schema(schema).parquet(src)
      .writeStream.format("graft-store")
      .option("path", store).option("mode", "upsert")
      .option("keys", "event_id").option("versionCol", "version")
      .option("tsCol", "ts").option("uids", "event_type")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    Seq((ts("2024-01-01 10:00:00"), "view", 1L, 1.0, 1L),
        (ts("2024-01-01 10:01:00"), "click", 2L, 2.0, 1L))
      .toDF("ts", "event_type", "event_id", "value", "version")
      .write.mode("append").parquet(src)
    val q1 = start(); q1.awaitTermination()
    assert(TsStore.read(spark, store).count() === 2)
    // crash window: store committed, checkpoint marker lost → replay
    val marker = new java.io.File(s"$ckpt/commits/0")
    assert(marker.exists() && marker.delete())
    new java.io.File(s"$ckpt/commits/.0.crc").delete()
    Seq((ts("2024-01-01 10:02:00"), "view", 1L, 9.0, 2L),
        (ts("2024-01-01 10:03:00"), "signup", 3L, 3.0, 1L))
      .toDF("ts", "event_type", "event_id", "value", "version")
      .write.mode("append").parquet(src)
    val q2 = start(); q2.awaitTermination()
    val out = TsStore.read(spark, store)
      .select("event_id", "value", "version")
      .as[(Long, Double, Long)].collect().toSet
    assert(out === Set((1L, 9.0, 2L), (2L, 2.0, 1L), (3L, 3.0, 1L)),
      s"native-sink replay corrupted the store: $out")
  }

  test("NATIVE sink append mode: tagged commits dedup a re-delivered batch") {
    import spark.implicits._
    import graft.sources.TsStore
    val root = java.nio.file.Files.createTempDirectory("graft_nsinka").toString
    val (store, ckpt, src) = (s"$root/store", s"$root/ckpt", s"$root/src")
    val schema = "ts TIMESTAMP, event_type STRING, event_id LONG, value DOUBLE"
    def start() = spark.readStream.schema(schema).parquet(src)
      .writeStream.format("graft-store")
      .option("path", store)
      .option("tsCol", "ts").option("uids", "event_type")
      .option("feedId", "nsinka")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    Seq((ts("2024-01-01 10:00:00"), "view", 1L, 1.0),
        (ts("2024-01-01 10:01:00"), "click", 2L, 2.0))
      .toDF("ts", "event_type", "event_id", "value")
      .write.mode("append").parquet(src)
    val q1 = start(); q1.awaitTermination()
    assert(TsStore.read(spark, store).count() === 2)
    // replay batch 0: the append has no merge keys, so only the commit
    // TAG stops the duplicate rows
    val marker = new java.io.File(s"$ckpt/commits/0")
    assert(marker.exists() && marker.delete())
    new java.io.File(s"$ckpt/commits/.0.crc").delete()
    Seq((ts("2024-01-01 10:02:00"), "view", 3L, 3.0))
      .toDF("ts", "event_type", "event_id", "value")
      .write.mode("append").parquet(src)
    val q2 = start(); q2.awaitTermination()
    val ids = TsStore.read(spark, store)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(ids === Seq(1L, 2L, 3L),
      s"append replay must dedup on its commit tag: $ids")
    // the hashed epoch writer lands rows in arrival order — each append
    // epoch must CLEAR the store's layout-order contract, or the scan
    // would claim a per-partition ts order these files don't have
    assert(graft.sources.StoreLog.latest(store).exists(
      _.props.get(graft.sources.GraftTable.LayoutSortedProp).contains("false")),
      "streaming append must clear graft.layout.tsSorted")
  }

  test("NATIVE sink Complete mode: each epoch REPLACES the store (versioned, time-travelable)") {
    import spark.implicits._
    import graft.sources.{StoreLog, TsStore}
    val root = java.nio.file.Files.createTempDirectory("graft_nsinkc").toString
    val (store, src) = (s"$root/store", s"$root/src")
    val schema = "ts TIMESTAMP, event_type STRING, value DOUBLE"
    // a streaming AGGREGATION in Complete mode: every epoch emits the
    // FULL result, so the sink must land it as a replace, not an append
    def run(ckpt: String) = {
      val q = spark.readStream.schema(schema).parquet(src)
        .groupBy($"event_type").count()
        .writeStream.format("graft-store")
        .outputMode("complete")
        .option("path", store).option("uids", "event_type")
        .option("feedId", "csink")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    Seq((ts("2024-01-01 10:00:00"), "view", 1.0), (ts("2024-01-01 10:01:00"), "view", 2.0),
        (ts("2024-01-01 10:02:00"), "click", 3.0))
      .toDF("ts", "event_type", "value").write.mode("append").parquet(src)
    run(s"$root/ckpt1")
    def state(): Map[String, Long] =
      TsStore.read(spark, store).select("event_type", "count")
        .as[(String, Long)].collect().toMap
    assert(state() === Map("view" -> 2L, "click" -> 1L))
    val v1 = StoreLog.latest(store).get.version
    // more input; a FRESH checkpoint recomputes the whole aggregate —
    // the new complete result must REPLACE, not accumulate
    Seq((ts("2024-01-01 10:03:00"), "view", 4.0), (ts("2024-01-01 10:04:00"), "signup", 5.0))
      .toDF("ts", "event_type", "value").write.mode("append").parquet(src)
    run(s"$root/ckpt2")
    assert(state() === Map("view" -> 3L, "click" -> 1L, "signup" -> 1L),
      s"Complete mode must replace the store's content: ${state()}")
    // the replace is VERSIONED: the first epoch's state stays readable
    assert(TsStore.read(spark, store, asOf = Some(v1))
      .select("event_type", "count").as[(String, Long)].collect().toMap
      === Map("view" -> 2L, "click" -> 1L))
  }

  test("table-as-stream: readStream(graft) → writeStream(graft-store) syncs stores, zero user code") {
    import spark.implicits._
    import graft.sources.{StoreLog, TsStore}
    import org.apache.spark.sql.functions.{col, to_timestamp}
    val root = java.nio.file.Files.createTempDirectory("graft_tstream").toString
    val (src, dst, ckpt) = (s"$root/src", s"$root/dst", s"$root/ckpt")
    def df(rows: Seq[(Long, String, String, Double, Long)]) =
      rows.toDF("event_id", "ts_s", "event_type", "value", "version")
        .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    TsStore.write(df(Seq(
      (1L, "2024-01-01 10:00:00", "a", 1.0, 1L),
      (2L, "2024-01-01 10:01:00", "a", 2.0, 1L),
      (3L, "2024-01-01 10:02:00", "b", 3.0, 1L))),
      src, tsCol = "ts", uidCols = Seq("event_type"))
    StoreLog.ensure(src)
    TsStore.upsert(spark, src, df(Seq(
      (2L, "2024-01-01 10:01:00", "a", 20.0, 2L),
      (4L, "2024-01-01 10:03:00", "b", 4.0, 2L))),
      keyCols = Seq("event_id"), versionCol = "version",
      tsCol = "ts", uidCols = Seq("event_type"))
    // the whole sync is two format() strings — no foreachBatch anywhere
    def sync() = spark.readStream.format("graft").load(src)
      .writeStream.format("graft-store")
      .option("path", dst).option("mode", "upsert")
      .option("keys", "event_id").option("versionCol", "version")
      .option("tsCol", "ts").option("uids", "event_type")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val q1 = sync(); q1.awaitTermination()
    def state(path: String): Set[(Long, Double)] =
      TsStore.read(spark, path).select("event_id", "value")
        .as[(Long, Double)].collect().toSet
    assert(state(dst) === state(src),
      s"dst must converge to src: ${state(dst)} vs ${state(src)}")
    assert(state(dst) === Set((1L, 1.0), (2L, 20.0), (3L, 3.0), (4L, 4.0)))
    // a later upstream commit: the next run catches up INCREMENTALLY
    // (the checkpoint carries the consumed manifest version)
    val dstV = StoreLog.latest(dst).get.version
    TsStore.upsert(spark, src, df(Seq(
      (5L, "2024-01-01 10:04:00", "a", 5.0, 3L))),
      keyCols = Seq("event_id"), versionCol = "version",
      tsCol = "ts", uidCols = Seq("event_type"))
    val q2 = sync(); q2.awaitTermination()
    assert(state(dst) === state(src))
    assert(state(dst).contains((5L, 5.0)))
    // one incremental batch → one more dst commit, not a re-sync
    assert(StoreLog.latest(dst).get.version === dstV + 1,
      "catch-up must be incremental, not a full replay")
  }

  test("store-as-source: follow() consumes one micro-batch per manifest version, incrementally") {
    import spark.implicits._
    import graft.streaming.StoreIngest
    import graft.sources.TsStore
    import org.apache.spark.sql.functions.{col, to_timestamp}
    val root = java.nio.file.Files.createTempDirectory("graft_follow").toString
    val (src, dst, ckpt) = (s"$root/src", s"$root/dst", s"$root/ckpt")
    def df(rows: Seq[(Long, String, String, Double, Long)]) =
      rows.toDF("event_id", "ts_s", "event_type", "value", "version")
        .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    // upstream store: 3 versions (ensure + two upserts across partitions)
    TsStore.write(df(Seq(
      (1L, "2024-01-01 10:00:00", "a", 1.0, 1L),
      (2L, "2024-01-01 10:01:00", "a", 2.0, 1L),
      (3L, "2024-01-01 10:02:00", "b", 3.0, 1L))),
      src, tsCol = "ts", uidCols = Seq("event_type"))
    TsStore.upsert(spark, src, df(Seq(
      (2L, "2024-01-01 10:01:00", "a", 20.0, 2L),   // update
      (4L, "2024-01-01 10:03:00", "b", 4.0, 2L))),  // insert
      keyCols = Seq("event_id"), versionCol = "version",
      tsCol = "ts", uidCols = Seq("event_type"))
    TsStore.upsert(spark, src, df(Seq(
      (5L, "2024-01-01 10:04:00", "c", 5.0, 3L))),  // new partition
      keyCols = Seq("event_id"), versionCol = "version",
      tsCol = "ts", uidCols = Seq("event_type"))
    assert(TsStore.versions(src) === (1L to 3L))
    def runFollow() = StoreIngest.follow(spark, src, dst,
      keyCols = Seq("event_id"), versionCol = "version",
      tsCol = "ts", uidCols = Seq("event_type"), checkpoint = ckpt)
    val q1 = runFollow(); q1.awaitTermination()
    def liveSet(path: String) = TsStore.read(spark, path)
      .select("event_id", "value", "version")
      .as[(Long, Double, Long)].collect().toSet
    // downstream converges to the upstream live view...
    assert(liveSet(dst) === liveSet(src))
    assert(liveSet(dst) === Set((1L, 1.0, 1L), (2L, 20.0, 2L),
      (3L, 3.0, 1L), (4L, 4.0, 2L), (5L, 5.0, 3L)))
    // ...consumed ONE MICRO-BATCH PER UPSTREAM VERSION (dst manifest:
    // ensure + one committed upsert per consumed version), and each
    // batch read only that version's added files — v2's batch carries
    // the update+insert, not a re-read of v1's full view
    assert(TsStore.versions(dst) === (1L to 4L))
    assert(TsStore.read(spark, dst, asOf = Some(2L)).count() === 3) // v1's rows
    assert(TsStore.read(spark, dst, asOf = Some(3L)).count() === 4) // + v2's insert
    // a NEW upstream commit after the first run: the checkpoint resumes
    // from the stored version offset and consumes exactly the new batch
    TsStore.upsert(spark, src, df(Seq(
      (1L, "2024-01-01 10:00:00", "a", 10.0, 4L))),  // update key 1
      keyCols = Seq("event_id"), versionCol = "version",
      tsCol = "ts", uidCols = Seq("event_type"))
    val q2 = runFollow(); q2.awaitTermination()
    assert(liveSet(dst) === liveSet(src))
    assert(TsStore.versions(dst) === (1L to 5L),
      "restart must consume ONLY the new upstream version, not re-apply the history")
  }

  test("append ingest auto-compacts partitions over the cap; a re-delivered batch is a tagged no-op") {
    import spark.implicits._
    import graft.streaming.StoreIngest
    import graft.sources.{StoreLog, TsStore}
    // the small-file regime auto-compact exists for: an APPEND-ONLY feed
    // lands one file set per micro-batch forever (no merge rewrite to
    // collapse them), so without the policy a partition's live-file
    // count grows with feed age. With the cap, every batch commit is
    // followed by a maintenance compaction of any partition over it.
    val root = java.nio.file.Files.createTempDirectory("graft_autocompact").toString
    val (store, ckpt, src) = (s"$root/store", s"$root/ckpt", s"$root/src")
    val schema = "ts TIMESTAMP, event_type STRING, event_id LONG, value DOUBLE"
    // every batch writes BOTH partitions → 14 appended files per
    // partition over the run if nothing compacts
    (0 until 14).foreach { i =>
      (0 until 4).map { j =>
        (new Timestamp(ts("2024-01-01 10:00:00").getTime + (i * 4 + j) * 60000L),
          if (j % 2 == 0) "view" else "click", (i * 10 + j).toLong, i * 1.0 + j)
      }.toDF("ts", "event_type", "event_id", "value")
        .repartition(1).write.mode("append").parquet(src)
    }
    val cap = 3
    def run() = {
      val q = StoreIngest.startAppend(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        store, tsCol = "ts", uidCols = Seq("event_type"), checkpoint = ckpt,
        autoCompactFilesPerPartition = Some(cap))
      q.awaitTermination()
    }
    run()
    // live file count per partition stays bounded by the cap
    val perPart = StoreLog.latest(store).get.files
      .groupBy(_.takeWhile(_ != '/')).view.mapValues(_.size).toMap
    assert(perPart.keySet === Set("event_type=view", "event_type=click"))
    assert(perPart.values.forall(_ <= cap),
      s"auto-compact left a partition over the cap: $perPart")
    // no rows lost or duplicated by any compaction pass
    assert(TsStore.read(spark, store).count() === 56)
    assert(TsStore.read(spark, store).select("event_id").distinct().count() === 56)
    // the chain interleaves tagged ingest commits with compaction
    // commits, and every retained version still resolves
    val versions = TsStore.versions(store)
    assert(versions.size > 15,
      s"expected compaction commits interleaved with the 14 tagged appends: $versions")
    // v1 is ensure's empty snapshot (zero files — unreadable by design);
    // every later version must resolve
    versions.filter(_ > 1).foreach(v => TsStore.read(spark, store, asOf = Some(v)).count())
    // crash drill: lose the LAST batch's checkpoint commit marker — the
    // restart re-delivers it, the tag check finds its earlier commit,
    // and the append is SKIPPED (append replays cannot rely on
    // latest-wins; the tag is what makes them exactly-once)
    val lastBatch = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.matches("\\d+")).map(_.getName.toLong).max
    assert(new java.io.File(s"$ckpt/commits/$lastBatch").delete())
    new java.io.File(s"$ckpt/commits/.$lastBatch.crc").delete()
    run()
    assert(TsStore.read(spark, store).count() === 56,
      "re-delivered append batch must dedup via its commit tag")
  }

  test("compaction racing concurrent upserts serializes or aborts cleanly — rows never lost") {
    import spark.implicits._
    import graft.sources.{StoreLog, TsStore}
    import org.apache.spark.sql.functions.{col, to_timestamp}
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_race").toString
    def df(rows: Seq[(Long, String, String, Double, Long)]) =
      rows.toDF("event_id", "ts_s", "event_type", "value", "version")
        .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    TsStore.write(df((0L until 20L).map(i =>
      (i, "2024-01-01 10:00:00", if (i % 2 == 0) "a" else "b", i * 1.0, 1L))),
      dir, tsCol = "ts", uidCols = Seq("event_type"))
    StoreLog.ensure(dir)
    // fragment partition 'a' so there is something to compact
    (1 to 4).foreach { k =>
      TsStore.upsert(spark, dir, df(Seq(
        (100L + k, "2024-01-01 10:30:00", "a", k * 10.0, 1L))),
        keyCols = Seq("event_id"), versionCol = "version",
        tsCol = "ts", uidCols = Seq("event_type"))
    }
    // race: one thread upserts into 'a' (rebases or wins), the other
    // compacts 'a' (serializes after a winner or aborts on conflict —
    // never resurrects replaced rows, never drops concurrent commits)
    @volatile var compactOutcome: Either[Throwable, Long] = Left(new RuntimeException("not run"))
    val upserter = new Thread(() => {
      (5 to 8).foreach { k =>
        TsStore.upsert(spark, dir, df(Seq(
          (100L + k, "2024-01-01 10:40:00", "a", k * 10.0, 1L))),
          keyCols = Seq("event_id"), versionCol = "version",
          tsCol = "ts", uidCols = Seq("event_type"))
      }
    })
    val compactor = new Thread(() => {
      compactOutcome =
        try Right(TsStore.compactPartitions(spark, dir, Seq("event_type=a"),
          tsCol = "ts", uidCols = Seq("event_type")))
        catch { case c: StoreLog.CommitConflict => Left(c) }
    })
    upserter.start(); compactor.start()
    upserter.join(120000); compactor.join(120000)
    // every upsert must have landed (upserts rebase past compactions);
    // the compaction either committed or aborted cleanly
    val ids = TsStore.read(spark, dir).select("event_id")
      .as[Long].collect().toSet
    val expected = (0L until 20L).toSet ++ (1 to 8).map(k => 100L + k)
    assert(ids === expected,
      s"race lost rows: missing=${expected -- ids} extra=${ids -- expected} (compaction=$compactOutcome)")
    // a committed compaction must also have left 'a' readable asOf both
    // sides of its commit
    compactOutcome.foreach { v =>
      assert(TsStore.read(spark, dir, asOf = Some(v)).count() > 0)
      assert(TsStore.read(spark, dir, asOf = Some(v - 1)).count() > 0)
    }
  }

  test("CROSS-PROCESS follow: a second JVM tails the store and resumes its checkpoint") {
    import org.apache.spark.sql.functions._
    import graft.sources.{StoreLog, Tables, TsStore}
    val root = java.nio.file.Files.createTempDirectory("graft_xfollow")
    val src = s"$root/src"; val dst = s"$root/dst"; val ckpt = s"$root/ckpt"
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val events = Tables.events(spark, TestSpark.sf001)
    val base = events.select(cols.map(col) :+ lit(1L).as("version"): _*)
    TsStore.write(base, src, tsCol = "ts", uidCols = Seq("event_type"))
    StoreLog.ensure(src)
    def delta(mod: Int, bump: Double, v: Long) = events
      .filter(col("event_type") === "purchase" && col("event_id") % mod === 0)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        (col("value") + bump).as("value"), lit(v).as("version"))
    TsStore.upsert(spark, src, delta(10, 1000.0, 2L), keyCols = Seq("event_id"),
      versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))

    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cp = System.getProperty("java.class.path")
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(pk => Seq("--add-opens", s"$pk=ALL-UNNAMED"))
    def runChild(): Unit = {
      val pr = new ProcessBuilder((Seq(javaBin, "-Xmx2g", "-cp", cp) ++ addOpens ++
        Seq("graft.XProcFollowMain", src, dst, ckpt)): _*)
        .redirectErrorStream(true).start()
      val done = pr.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
      if (!done) pr.destroyForcibly()
      val out = new String(pr.getInputStream.readAllBytes())
      assert(done, s"child JVM did not finish: ${out.takeRight(2000)}")
      assert(pr.exitValue() === 0, s"child failed (${pr.exitValue()}): ${out.takeRight(2000)}")
    }
    def merged(deltas: org.apache.spark.sql.DataFrame*) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_id").orderBy(desc("version"), desc("__src"))
      deltas.zipWithIndex.map { case (d, i) => d.withColumn("__src", lit(i + 1)) }
        .foldLeft(base.withColumn("__src", lit(0)))(_ unionByName _)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn", "__src")
    }
    def same(want: org.apache.spark.sql.DataFrame): Unit = {
      val got = TsStore.load(spark, dst).select(cols.map(col) :+ col("version"): _*)
      val w = want.select(cols.map(col) :+ col("version"): _*)
      assert(got.count() === w.count())
      assert(got.except(w).count() === 0 && w.except(got).count() === 0)
    }
    // first child run: downstream converges to the upstream live view
    runChild()
    same(merged(delta(10, 1000.0, 2L)))
    val dstVAfter1 = StoreLog.latest(dst).get.version
    // parent commits one more version; the second child run — same
    // checkpoint, fresh JVM — must consume ONLY the new commit (a full
    // replay would add one downstream version per upstream batch)
    TsStore.upsert(spark, src, delta(9, 7.0, 3L), keyCols = Seq("event_id"),
      versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))
    runChild()
    same(merged(delta(10, 1000.0, 2L), delta(9, 7.0, 3L)))
    val dstVAfter2 = StoreLog.latest(dst).get.version
    assert(dstVAfter2 - dstVAfter1 === 1,
      s"cross-process checkpoint resume must apply exactly the ONE new " +
        s"upstream commit, got ${dstVAfter2 - dstVAfter1} downstream commits")
  }

  test("graft-store sink schema: empty without a log, raises on a truncated manifest") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_schema").toString
    def sinkSchema() = new graft.streaming.GraftStoreSinkProvider().inferSchema(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(Map("path" -> dir).asJava))
    assert(sinkSchema().isEmpty)
    // born empty: a log whose only version declares no schema
    graft.sources.StoreLog.ensure(dir)
    assert(sinkSchema().isEmpty)
    graft.sources.TsStore.write(
      spark.range(10).selectExpr("timestamp_micros(id) AS ts", "id AS v"), dir)
    assert(sinkSchema().fieldNames.toSet === Set("ts", "v"))
    val latest = graft.sources.StoreLog.latestVersion(dir).get
    val f = new java.io.File(graft.sources.StoreLog.logDir(dir), f"v$latest%08d.json")
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    java.nio.file.Files.write(f.toPath, bytes.take(bytes.length / 2))
    intercept[java.io.IOException](sinkSchema())
  }
}
