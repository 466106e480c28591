package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._

import graft.sources.{StoreLog, TsStore}

/** What one run shares between its phases. */
final class Env(val spark: SparkSession, val rec: Recorder, val work: String,
                val fixtures: String, val seed: Long, val seconds: Double,
                val expected: String, stepsArg: Option[Int]) {
  val inputs = new InputLog
  val buildS = ArrayBuffer[Double]()
  var warmupS = 0.0
  val info = mutable.LinkedHashMap[String, Any]()
  var loopS = 0.0
  def traced: Boolean = rec.traced
  /** A fixed number of loop steps (traced runs and input fingerprints), else a timed loop. */
  def steps(traced: Int): Option[Int] = stepsArg.orElse(if (rec.traced) Some(traced) else None)

  /** Record a correctness check made outside any timed region. */
  def check(what: String)(ok: => Option[String]): Unit = {
    val op = new Op(what, "check")
    try ok.foreach(op.fail)
    catch { case e: Exception => op.fail(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    rec.ops += op
  }
}

/** Store verbs as timed operations. In a traced run each verb is also
  * bracketed by manifest and directory snapshots for the `store.*` counters.
  */
object Verbs {
  def ts(us: Long): java.sql.Timestamp = DateTimeUtils.toJavaTimestamp(us)

  def append(env: Env, path: String, rows: Seq[(String, Tick)], phase: String,
             create: Boolean = false): Op = {
    val df = Ticks.frame(env.spark, rows)
    watched(env, path, rows.size.toLong) {
      env.rec.run("append", phase) { _ =>
        TsStore.write(df, path, tsCol = "ts", uidCols = Seq("uid"),
          mode = if (create) SaveMode.Overwrite else SaveMode.Append)
      }._2
    }
  }

  def upsert(env: Env, path: String, rows: Seq[(String, Tick)], phase: String): Op = {
    val df = Ticks.frame(env.spark, rows)
    watched(env, path, rows.size.toLong) {
      env.rec.run("upsert", phase) { _ =>
        TsStore.upsert(env.spark, path, df, keyCols = Seq("uid", "ts"), versionCol = "ver",
          tsCol = "ts", uidCols = Seq("uid"))
      }._2
    }
  }

  def delete(env: Env, path: String, uid: String, from: Long, to: Long, phase: String): Op = {
    val pred = col("uid") === lit(uid) && col("ts") >= lit(ts(from)) && col("ts") <= lit(ts(to))
    watched(env, path, 0L) {
      env.rec.run("delete", phase)(_ => TsStore.delete(env.spark, path, pred, "ts", Seq("uid")))._2
    }
  }

  def compact(env: Env, path: String, prefixes: Seq[String], phase: String): Op =
    watched(env, path, 0L) {
      env.rec.run("compact", phase) { _ =>
        TsStore.compactPartitions(env.spark, path, prefixes, "ts", Seq("uid"))
      }._2
    }

  /** Sliced read returned to the caller, as corintick's read does. */
  def read(env: Env, path: String, uid: String, from: Long, to: Long, cols: Seq[String],
           kind: String, phase: String, filesLive: Option[Long]): (Option[Array[org.apache.spark.sql.Row]], Op) =
    env.rec.run(kind, phase) { ctx =>
      ctx.filesLive = filesLive
      val df = ctx.span("ops", "build") {
        TsStore.read(env.spark, path, uid = Some("uid" -> uid), tsCol = "ts",
          start = Some(ts(from)), end = Some(ts(to)), columns = cols)
      }
      ctx.resultOf(df.queryExecution)
      ctx.span("exec", "collect")(df.collect())
    }

  /** Compare rows read back with the reference slice; None when equal. */
  def compare(rows: Array[org.apache.spark.sql.Row], uid: String, cols: Seq[String],
              want: Seq[(String, Tick)]): Option[String] = {
    val got = Ticks.fromRows(rows, uid, cols)
    val (gs, ws) = (Ticks.checksum(got, cols), Ticks.checksum(want, cols))
    if (got.size != want.size) Some(s"rows ${got.size} != expected ${want.size}")
    else if (gs != ws) Some(s"checksum $gs != expected $ws")
    else None
  }

  private def watched(env: Env, path: String, userRows: Long)(f: => Op): Op =
    if (!env.traced) f
    else {
      val before = StoreState(path)
      val op = f
      val after = StoreState(path)
      val added = after.files -- before.files.keySet
      env.rec.add("store.files_added", added.size)
      env.rec.add("store.files_removed", (before.files.keySet -- after.files.keySet).size)
      env.rec.add("store.bytes_written", (after.onDisk -- before.onDisk.keySet).values.sum)
      env.rec.add("store.rows_written", added.values.sum)
      env.rec.add("store.user_rows", userRows)
      op
    }
}

/** A store's live files with their row counts, and every file on disk. */
final case class StoreState(files: Map[String, Long], onDisk: Map[String, Long])

object StoreState {
  def apply(path: String): StoreState = {
    val live = StoreLog.latestVersion(path).map { v =>
      val s = StoreLog.read(path, v)
      s.files.map(f => f -> s.liveRows(f).getOrElse(0L)).toMap
    }.getOrElse(Map.empty)
    StoreState(live, disk(path))
  }

  def disk(path: String): Map[String, Long] = {
    val root = Paths.get(path)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }
  }

  /** End-of-run shape of a store: bytes on disk, live rows and files, log. */
  def summary(path: String): Map[String, Any] = {
    val v = StoreLog.latestVersion(path).get
    val snap = StoreLog.read(path, v)
    val onDisk = disk(path)
    val log = onDisk.filter(_._1.startsWith("_graft_log"))
    val perPartition = snap.files.groupBy(f => f.substring(0, f.lastIndexOf('/').max(0)))
    Map(
      "bytes" -> onDisk.values.sum,
      "rows" -> snap.files.map(f => snap.liveRows(f).getOrElse(0L)).sum,
      "files" -> snap.files.size,
      "versions" -> TsStore.versions(path).size,
      "checkpoints" -> log.keys.count(k => k.matches(".*/v\\d+\\.json") && {
        val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(s"$path/$k"))
        n.has("files") || n.has("filesRef")
      }),
      "log_bytes" -> log.values.sum,
      "files_per_partition_max" -> perPartition.values.map(_.size).maxOption.getOrElse(0))
  }
}

object Workloads {
  /** Times `f` as one set-up build. */
  def build[T](env: Env)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally env.buildS += (System.nanoTime() - t0) / 1e9
  }

  /** Runs whole cycles of `cycle` steps until `seconds` have passed, so that
    * every run measures the same mix of operations however fast the host is;
    * or a fixed number of steps (`--steps`), or `tracedCycles` cycles in a
    * traced run, so that its counters repeat exactly.
    */
  def loop(env: Env, cycle: Int, tracedCycles: Int)(step: Int => Unit): Unit = {
    val limit = env.steps(tracedCycles * cycle)
    val t0 = System.nanoTime()
    var i = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (limit.map(i < _).getOrElse(i == 0 || i % cycle != 0 || elapsed < env.seconds)) { step(i); i += 1 }
    env.loopS = elapsed
    env.info("steps") = i
  }

  // ---------------------------------------------------------------- warm-up

  /** Every store verb and a sliced read on a small store. `tick_ingest` runs
    * it as warm-up, so that JIT compilation of the store paths is done
    * before timing. Traced runs of the other workloads run it after their
    * loop, so that each `store.<verb>` counter is measured on every workload
    * while everything up to the end of the loop matches an untraced run.
    */
  def storeVerbs(env: Env, phase: String): String = {
    val path = s"${env.work}/verb_store"
    val r = Ticks.rng(0L, 99)
    def chunk(d: Int) = (0 until 8).flatMap { u =>
      Ticks.series(r, Ticks.T0 + d * Ticks.DayUs, Ticks.T0 + (d + 1) * Ticks.DayUs, 200, 100.0)
        .map(Ticks.uidName(u) -> _)
    }
    Verbs.append(env, path, chunk(0), phase, create = true)
    val day1 = chunk(1)
    Verbs.append(env, path, day1, phase)
    Verbs.upsert(env, path, day1.take(50).map { case (u, t) => u -> t.copy(ver = 1L, size = t.size + 1) },
      phase)
    Verbs.delete(env, path, Ticks.uidName(1), Ticks.T0, Ticks.T0 + Ticks.HourUs, phase)
    Verbs.compact(env, path, Seq("uid=" + Ticks.uidName(0), "uid=" + Ticks.uidName(2)), phase)
    Verbs.read(env, path, Ticks.uidName(3), Ticks.T0, Ticks.T0 + Ticks.DayUs, Ticks.AllCols,
      "read", phase, None)
    path
  }

  /** Times `f` as warm-up, which counts into the set-up time. */
  def warm[T](env: Env)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally env.warmupS += (System.nanoTime() - t0) / 1e9
  }

  // ---------------------------------------------------------------- tick_read

  object TickRead {
    val Uids = 32
    val Days = 3
    val TopPerDay = 4000
    val MinPerDay = 40
    val Builds = 3
    val TracedBlocks = 2
    /** Every block of 20 reads holds 14 one-hour, 5 one-day and 1 full-history
      * slice, half of each with 2 columns, in a seeded order. A run reads
      * whole blocks, so every run reads the same mix.
      */
    val Block: Seq[(Long, Boolean)] =
      (0 until 14).map(i => (Ticks.HourUs, i % 2 == 0)) ++
        (0 until 5).map(i => (Ticks.DayUs, i % 2 == 0)) :+ ((-1L, true))

    /** One block's reads in a seeded order, each with the Zipf quantile
      * that picks its series. The quantiles are stratified within each
      * slice width, so every block reads hot and cold series in nearly
      * the Zipf proportions.
      */
    def block(r: java.util.SplittableRandom): Seq[(Long, Boolean, Double)] = {
      val rnd = new scala.util.Random(r.nextLong())
      val drawn = Block.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (_, g) =>
        rnd.shuffle(g.indices.toList).zip(g).map { case (j, (w, n)) => (w, n, (j + r.nextDouble()) / g.size) }
      }
      rnd.shuffle(drawn)
    }
  }

  /** Seeded series: rank r (hot first) ticks (r+1)^-1 as often as the top one. */
  private def rates(seed: Long, n: Int, top: Int, min: Int): (IndexedSeq[String], IndexedSeq[Int], IndexedSeq[Double]) = {
    val r = Ticks.rng(seed, 1)
    val ranked = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
      .shuffle((0 until n).map(Ticks.uidName))
    val perDay = (0 until n).map(i => math.max(min, (top / (i + 1.0)).toInt))
    val px = (0 until n).map(_ => 10.0 + r.nextDouble() * 490.0)
    (ranked, perDay, px)
  }

  def tickRead(env: Env): Unit = {
    import TickRead._
    val (uids, perDay, px0) = rates(env.seed, Uids, TopPerDay, MinPerDay)
    val ref = new Reference
    val gen = Ticks.rng(env.seed, 2)
    val chunks = (0 until Days).map { d =>
      val rows = uids.indices.flatMap { i =>
        val from = Ticks.T0 + d * Ticks.DayUs
        Ticks.series(gen, from, from + Ticks.DayUs, perDay(i), px0(i)).map(uids(i) -> _)
      }
      rows.foreach { case (u, t) => ref.put(u, t) }
      env.inputs.addRows(rows)
      rows
    }
    env.info("rows") = ref.size
    var path = ""
    (0 until Builds).foreach { b =>
      path = s"${env.work}/tick_read_$b"
      build(env) {
        chunks.zipWithIndex.foreach { case (rows, d) => Verbs.append(env, path, rows, "setup", create = d == 0) }
      }
    }
    val v = StoreLog.latestVersion(path).get
    val live = StoreLog.liveFileCount(path, v)
    val (warmRows, warmOp) = warm(env)(Verbs.read(env, path, uids(0), Ticks.T0,
      Ticks.T0 + Ticks.DayUs, Ticks.AllCols, "read", "setup", Some(live)))
    warmRows.foreach(rs => Verbs.compare(rs, uids(0), Ticks.AllCols,
      ref.slice(uids(0), Ticks.T0, Ticks.T0 + Ticks.DayUs)).foreach(warmOp.fail))
    env.check("store_build") {
      val n = TsStore.load(env.spark, path).count()
      if (n != ref.size) Some(s"store holds $n rows, expected ${ref.size}") else None
    }
    val zipf = new Ticks.Zipf(Uids, 1.0)
    val r = Ticks.rng(env.seed, 3)
    val end = Ticks.T0 + Days * Ticks.DayUs - 1
    var reads = Seq.empty[(Long, Boolean, Double)]
    loop(env, Block.size, TracedBlocks) { i =>
      if (i % Block.size == 0) reads = block(r)
      val (width, narrow, q) = reads(i % Block.size)
      val uid = uids(zipf.at(q))
      val (from, to) =
        if (width < 0) (Ticks.T0, end)
        else { val s = Ticks.T0 + r.nextLong(end - Ticks.T0 - width); (s, s + width) }
      val cols = if (narrow) Ticks.NarrowCols else Ticks.AllCols
      env.inputs.add(s"$uid $from $to ${cols.size};")
      val (rows, op) = Verbs.read(env, path, uid, from, to, cols, "read", "loop", Some(live))
      op.label = s"${if (width == Ticks.HourUs) "hour" else if (width > 0) "day" else "full"}/${cols.size}"
      rows.foreach { rs =>
        op.rows = rs.length
        Verbs.compare(rs, uid, cols, ref.slice(uid, from, to)).foreach(op.fail)
      }
    }
    env.info("store") = StoreState.summary(path)
    if (env.traced) storeVerbs(env, "trace")
  }

  // -------------------------------------------------------------- tick_ingest

  object TickIngest {
    val Uids = 32
    val TopPerDay = 4000
    val MinPerDay = 200
    val Builds = 3
    /** Series that receive ticks in a batch. */
    val AppendUids = 8
    val UpsertEvery = 2
    val DeleteEvery = 3
    val CompactEvery = 6
    val CompactPrefixes = 4
    /** A run makes whole cycles of 6 batches (the least common multiple of
      * the three periods above): 12 commits a cycle, so every run passes a
      * checkpoint.
      */
    val Cycle = 6
  }

  def tickIngest(env: Env): Unit = {
    import TickIngest._
    val (uids, perDay, px0) = rates(env.seed, Uids, TopPerDay, MinPerDay)
    val gen = Ticks.rng(env.seed, 2)
    val base = uids.indices.flatMap { i =>
      Ticks.series(gen, Ticks.T0, Ticks.T0 + Ticks.DayUs, perDay(i), px0(i)).map(uids(i) -> _)
    }
    env.inputs.addRows(base)
    var path = ""
    (0 until Builds).foreach { b =>
      path = s"${env.work}/tick_ingest_$b"
      build(env)(Verbs.append(env, path, base, "setup", create = true))
    }
    warm(env)(storeVerbs(env, "setup"))
    val ref = new Reference
    base.foreach { case (u, t) => ref.put(u, t) }
    val last = mutable.Map[String, Double]() ++ uids.indices.map(i => uids(i) -> px0(i))
    val r = Ticks.rng(env.seed, 3)
    var ingested = 0L

    def expectVersion(op: Op, before: Long, committed: Boolean): Unit = if (op.ok) {
      val now = StoreLog.latestVersion(path).getOrElse(-1L)
      val want = if (committed) before + 1 else before
      if (now != want) op.fail(s"store version $now after ${op.kind}, expected $want")
    }
    def version = StoreLog.latestVersion(path).getOrElse(-1L)

    loop(env, Cycle, tracedCycles = 1) { b =>
      val from = Ticks.T0 + Ticks.DayUs + b * Ticks.HourUs
      val until = from + Ticks.HourUs
      val who = new scala.util.Random(r.nextLong()).shuffle(uids.indices.toList).take(AppendUids).sorted
      val rows = who.flatMap { i =>
        val s = Ticks.series(gen, from, until, perDay(i), last(uids(i)))
        last(uids(i)) = s.last.price
        s.map(uids(i) -> _)
      }
      env.inputs.addRows(rows)
      var v0 = version
      val app = Verbs.append(env, path, rows, "loop")
      app.rows = rows.size
      if (app.ok) { rows.foreach { case (u, t) => ref.put(u, t) }; ingested += rows.size }
      expectVersion(app, v0, committed = true)

      if (b % UpsertEvery == UpsertEvery - 1) {
        val recent = ref.uids.filter(u => ref.last(u) >= from - 3 * Ticks.HourUs)
        val picks = (0 until 3).map(_ => recent(r.nextInt(recent.size))).distinct
        val delta = picks.flatMap { u =>
          val cand = ref.slice(u, from - 3 * Ticks.HourUs, until)
          (0 until 20).map(_ => cand(r.nextInt(cand.size))).distinctBy(_._2.ts).map { case (_, t) =>
            u -> t.copy(price = math.round(t.price * 1.001 * 1e4) / 1e4, size = t.size + 1, ver = b + 1L)
          }
        }
        env.inputs.addRows(delta)
        v0 = version
        val op = Verbs.upsert(env, path, delta, "loop")
        op.rows = delta.size
        if (op.ok) { delta.foreach { case (u, t) => ref.put(u, t) }; ingested += delta.size }
        expectVersion(op, v0, committed = true)
      }
      if (b % DeleteEvery == DeleteEvery - 1) {
        // a 20-minute range from a recent tick, so the delete always removes rows
        val u = ref.uids(r.nextInt(ref.uids.size))
        val recent = ref.slice(u, ref.last(u) - 3 * Ticks.HourUs, ref.last(u))
        val s = recent(r.nextInt(recent.size))._2.ts
        val e = s + 20L * 60 * 1000000
        env.inputs.add(s"delete $u $s $e;")
        v0 = version
        val op = Verbs.delete(env, path, u, s, e, "loop")
        if (op.ok) op.rows = ref.remove(u, s, e)
        expectVersion(op, v0, committed = true)
      }
      if (b % CompactEvery == CompactEvery - 1) {
        val snap = StoreLog.read(path, version)
        val prefixes = snap.files.groupBy(f => f.substring(0, f.lastIndexOf('/')))
          .toSeq.filter(_._2.size > 1).sortBy { case (p, fs) => (-fs.size, p) }
          .take(CompactPrefixes).map(_._1)
        if (prefixes.nonEmpty) {
          v0 = version
          val op = Verbs.compact(env, path, prefixes, "loop")
          expectVersion(op, v0, committed = true)
        }
      }
      val u = uids(who(r.nextInt(who.size)))
      val (rowsBack, op) = Verbs.read(env, path, u, until - 3 * Ticks.HourUs, until - 1, Ticks.AllCols,
        "readback", "loop", if (env.traced) Some(StoreLog.liveFileCount(path, version)) else None)
      rowsBack.foreach { rs =>
        op.rows = rs.length
        Verbs.compare(rs, u, Ticks.AllCols, ref.slice(u, until - 3 * Ticks.HourUs, until - 1)).foreach(op.fail)
      }
    }
    env.check("final_store") {
      val all = TsStore.load(env.spark, path).select(Ticks.AllCols.map(col): _*).collect()
      Verbs.compare(all, "", Ticks.AllCols, ref.all.toSeq)
    }
    env.info("ingested_rows") = ingested
    env.info("rows") = ref.size
    env.info("store") = StoreState.summary(path)
  }

  // ---------------------------------------------------------------- query_mix

  def family(name: String): String = name.takeWhile(_ != '_') match {
    case f if f.matches("q\\d+") => "tpch"
    case f @ ("ts" | "win" | "agg" | "join" | "llm" | "fn" | "set" | "sort" | "mm") => f
    case _ => "misc"
  }

  def queryMix(env: Env): Unit = {
    val expected = Expected.load(env.expected)
    val queries = graft.Registry.queries
    val missing = expected.keys.filterNot(queries.contains)
    require(missing.isEmpty, s"pinned queries not declared: ${missing.mkString(",")}")
    val names = expected.keys.toSeq.sorted
    // the fixtures are read-only inputs: building only resolves their schemas
    build(env) {
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
        "documents", "embeddings").foreach(t => env.spark.read.parquet(s"${env.fixtures}/$t.parquet").schema)
    }
    // Verification pass: every pinned query's whole result is hashed once a
    // run. It is also the queries' warm-up: it compiles each query's code
    // before the timed loop, so it counts into the set-up time.
    warm(env) {
      names.foreach { name =>
        env.check(s"digest:$name") {
          val d = Digest.of(queries(name)(env.spark, env.fixtures))
          if (d != expected(name).digest) Some(s"$name: digest $d, expected ${expected(name).digest}") else None
        }
      }
    }
    val orders = mutable.Map[Int, Seq[String]]()
    loop(env, cycle = names.size, tracedCycles = 1) { i =>
      val order = orders.getOrElseUpdate(i / names.size, {
        val o = new scala.util.Random(Ticks.rng(env.seed, 10 + i / names.size).nextLong()).shuffle(names)
        env.inputs.add(o.mkString("", ",", ";"))
        o
      })
      val name = order(i % names.size)
      val (n, op) = env.rec.run("query", "loop") { ctx =>
        val df = ctx.span("ops", "build")(queries(name)(env.spark, env.fixtures))
        ctx.resultOf(df.queryExecution)
        ctx.span("exec", "toRdd")(df.queryExecution.toRdd.count())
      }
      op.label = name
      if (env.traced) env.rec.add(s"family.${family(name)}.s", op.ms / 1e3)
      n.foreach { rows =>
        op.rows = rows
        if (rows != expected(name).rows) op.fail(s"$name: $rows rows, expected ${expected(name).rows}")
      }
    }
    env.info("families") = names.map(n => n -> family(n)).toMap
    // the mix has no store of its own: it reports the verb store's shape
    if (env.traced) env.info("store") = StoreState.summary(storeVerbs(env, "trace"))
  }
}

final case class Pinned(rows: Long, digest: String)

object Expected {
  def load(file: String): Map[String, Pinned] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(file))
    root.get("queries").fields().asScala.map { e =>
      e.getKey -> Pinned(e.getValue.get("rows").asLong, e.getValue.get("digest").asText)
    }.toMap
  }
}
