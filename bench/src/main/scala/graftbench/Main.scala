package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload in one JVM and writes its raw record (setup times,
  * every operation, checks, store shape, and in a traced run the per-layer
  * totals and spans). `bench/run.py` turns the record into metrics.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val k = a.getOrElse("k", "4").toInt
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$k]")
      .appName("graft-bench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", k.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      if (a.contains("pin-dump")) Pin.run(spark, a("fixtures"), a("pin-dump"), a("out"))
      else runWorkload(spark, a, sessionS)
    } finally spark.stop()
  }

  private def runWorkload(spark: SparkSession, a: Map[String, String], sessionS: Double): Unit = {
    val workload = a("workload")
    val rec = new Recorder(spark, a("trace") == "1")
    val env = new Env(spark, rec, a("work"), a.getOrElse("fixtures", ""), a("seed").toLong, a("seconds").toDouble,
      a.getOrElse("expected", ""), a.get("steps").map(_.toInt))
    workload match {
      case "tick_read" => Workloads.tickRead(env)
      case "tick_ingest" => Workloads.tickIngest(env)
      case "query_mix" => Workloads.queryMix(env)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    rec.finish()
    val out = Map(
      "workload" -> workload,
      "seed" -> env.seed,
      "k" -> spark.sparkContext.defaultParallelism,
      "traced" -> rec.traced,
      "input_sha256" -> env.inputs.hex,
      "session_s" -> sessionS,
      "warmup_s" -> env.warmupS,
      "build_s" -> env.buildS.toSeq,
      "loop_s" -> env.loopS,
      "heap_live_mb" -> heapLiveMb(),
      "info" -> env.info.toMap,
      "ops" -> rec.ops.toSeq.map(o => Map("kind" -> o.kind, "label" -> o.label, "phase" -> o.phase,
        "ms" -> o.ms, "ok" -> o.ok, "rows" -> o.rows, "error" -> o.error)),
      "layers" -> rec.layer.toMap,
      "self_check_max_ms" -> rec.maxSelfError)
    Files.writeString(Paths.get(a("out")), Json(out))
    a.get("spans").filter(_ => rec.traced).foreach { f =>
      Files.write(Paths.get(f), rec.spans.map(s => Json(Map("op" -> s.op, "id" -> s.id,
        "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name, "start_ms" -> s.start,
        "end_ms" -> s.end, "self_ms" -> s.self))).asJava)
    }
  }

  /** Old-generation occupancy after a full collection, in MiB. The first
    * collection lets Spark's cleaner release what became unreachable, the
    * second reclaims it.
    */
  private def heapLiveMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(p => Option(p.getCollectionUsage).getOrElse(p.getUsage).getUsed).sum / 1048576.0
  }
}

/** Minimal JSON rendering for the record's maps, sequences and scalars. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
