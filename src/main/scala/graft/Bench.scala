package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // AQE partition handling stays at Spark's defaults (adaptive on,
    // coalescing parallelism-first). SIZE-first coalescing was MEASURED
    // this round (full 264-query A/B, r20 notes §AQE) and lost both ways:
    // advisory=1m collapses the store write paths' range-partition
    // parallelism (stream_matview +1.7 s, stream_sink_native +0.7 s);
    // advisory=256k additionally serializes the compute-dense-but-
    // byte-light llm stages (llm_dup_clusters_lsh +4.2 s, llm_dedup_near
    // +3.0 s — vector/set scoring carries ~100 flops per shuffled byte,
    // so byte-based sizing starves it of cores). The r19 scaling
    // observation (sub-second tail faster at 8 cores) is scheduler
    // overhead on sub-second fixtures, not a recoverable win.
    val spark = GraftExtensions.localSession(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up: JIT/codegen the scan, agg, join and window paths once so
    // the first timed query doesn't absorb several seconds of JVM warmup.
    try {
      import org.apache.spark.sql.functions._
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      li.groupBy("l_returnflag").count().count()
      li.limit(1000).join(spark.read.parquet(s"$sfDir/part.parquet"),
        col("l_partkey") === col("p_partkey")).count()
      li.limit(1000).orderBy(col("l_orderkey")).count()
      // warm the text/HOF path too (explode + hash aggregates)
      graft.functions.TextOps
        .docShingles(spark.read.parquet(s"$sfDir/documents.parquet").limit(200))
        .groupBy("doc_id").count().count()
      // warm each remaining hot path over LIMITed samples so the first
      // timed query of each family doesn't absorb its JIT + codegen
      // compile: json parsing, window sort, exact percentile, native
      // vector expressions, parquet write.
      val evs = graft.sources.Tables.events(spark, sfDir).limit(20000)
        .select(col("event_id"), get_json_object(col("props"), "$.k").as("k"))
      evs.queryExecution.toRdd.count()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_returnflag").orderBy("l_orderkey")
      li.limit(20000).select(ntile(4).over(w), row_number().over(w)).count()
      li.limit(20000).groupBy("l_returnflag")
        .agg(expr("percentile(l_extendedprice, 0.5)")).count()
      val em = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(2000)
      em.select(graft.functions.VectorOps.cosine(col("embedding"), col("embedding")),
        graft.functions.VectorOps.lshBucket(col("embedding"))).count()
      // binary-encoding expressions (base64/hex/unbase64/decode) compile
      // their own codegen class — without this the first fn_* query that
      // uses them absorbs ~2 s of C2 compile (measured: fn_encode 2.4 s
      // in-bench vs 0.4 s warm)
      spark.read.parquet(s"$sfDir/part.parquet").limit(1000)
        .select(lower(hex(encode(col("p_name"), "UTF-8"))),
          decode(unbase64(base64(encode(col("p_name"), "UTF-8"))), "UTF-8"))
        .count()
      li.limit(5000).write.mode("overwrite").parquet("/tmp/graft_bench_warm")
    } catch {
      // warm-up is best-effort, but say so — a silently-broken warm-up
      // would skew the first timed query of each family
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] warm-up failed (timings may include JIT): $e")
    }
    // dev-only subset filters (comma-separated name prefixes); the
    // driver sets neither and times the full surface. ONLY includes,
    // EXCLUDE drops — together they support the per-family isolated
    // protocol (store/stream lifecycle queries in their own JVM so
    // their write traffic's GC/page-cache drag stays out of the
    // set/sort readings; see BASELINE.md's isolated-protocol rows).
    val only: Option[Seq[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSeq)
    val excl: Seq[String] =
      sys.env.get("SPARK_GRAFT_BENCH_EXCLUDE").map(_.split(',').toSeq).getOrElse(Nil)
    var failed = List.empty[String]
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) =>
        only.forall(_.exists(name.startsWith)) && !excl.exists(name.startsWith) }
      .map { case (name, fn) =>
      val t0 = System.nanoTime()
      // toRdd.count(), NOT count(): Dataset.count() lets the optimizer
      // prune every projected column (a pure-select query would "run" in
      // scan time, measuring nothing). toRdd materializes each query's
      // full output rows — the honest per-operator cost.
      try { fn(spark, sfDir).queryExecution.toRdd.count() }
      catch {
        // an erroring query must not masquerade as a timing — record it,
        // report it, and fail the run (CORRECTNESS is the real gate, but
        // a bench total that silently includes broken queries misleads)
        case scala.util.control.NonFatal(e) =>
          failed ::= name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      }
      name -> (System.nanoTime() - t0) / 1e9
    }
    val qs = results.filterNot { case (k, _) => failed.contains(k) }
      .map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.collect { case (k, v) if !failed.contains(k) => v }.sum
    val errs = failed.reverse.map("\"" + _ + "\"").mkString("[", ",", "]")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir"}"""
    // Contract hardening (round 20, declared in OPTIMIZATION_r20.md): at 264
    // queries the full JSON line is ~11 kB, and the driver's stdout capture
    // window has truncated it for three rounds running (parsed: null in
    // BENCH_r18/r19 despite rc 0). Emit the SAME one-line JSON as before
    // (second-to-last line), then persist it to bench_out.json beside the
    // repo root, and close stdout with a compact totals-only line that fits
    // any capture window. Nothing timed changes; the per-query map is
    // unchanged and still printed in full.
    println(full)
    try {
      val out = new java.io.PrintWriter(new java.io.File("bench_out.json"), "UTF-8")
      try out.println(full) finally out.close()
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write bench_out.json: $e") }
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size - failed.size},"errors":$errs,"queries_file":"bench_out.json","sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
