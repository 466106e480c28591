package graft

import org.apache.spark.sql.functions._

/** Synthetic 10× scale smoke (dev/maintenance main, not driver-run):
  * self-replicates the events/documents/embeddings fixtures `reps`×
  * with deterministic id offsets, then times the heaviest declared
  * queries plus the whole dedup/CC/semdedup family on BOTH the original
  * and the scaled dir. A hidden quadratic — the regime fixture scale
  * can't see — shows up as a time ratio far above `reps`; everything
  * built shuffle-bounded should track ≲ `reps` (plus constant job
  * overhead, which makes small ratios < reps normal in local mode).
  *
  * Replication keeps TEXTS AND EMBEDDINGS IDENTICAL across replicas on
  * purpose: every doc gains `reps−1` exact twins, so dup clusters grow
  * `reps`×, LSH band buckets go over-cap (exercising the star salvage),
  * and IVF/semdedup cells exceed the rank bound (exercising the pair
  * cap) — the exact mechanisms that must keep the quadratics bounded at
  * 100 TB. events keeps its raw int64-nanos ts column so
  * `Tables.events`/`eventsSliced` read the scaled dir unchanged.
  */
object ScaleSmoke {

  private val Queries = Seq(
    "llm_dedup_exact", "llm_chunk_dedup", "llm_dedup_near",
    "llm_dedup_simhash", "llm_dedup_embed", "llm_semdedup",
    "llm_dup_clusters", "llm_dup_clusters_lsh",
    "llm_ann_lsh", "llm_ann_ivf_indexed", "llm_ann_ivf_add",
    "llm_cms_counts", "stream_ingest", "write_upsert_pruned",
    "write_upsert_timetravel", "write_delete", "ts_ewm_vol", "ts_ewm_corr",
    "ts_gapfill", "ts_twap", "win_ewma", "agg_ohlc",
    // the heavy fact-fact TPC-H analogs: their 10x ratios turn bench
    // excursions on a busy box into one-line adjudications
    "q7_volume", "q5_local_supplier", "q8_market_share",
    // round-11 store lifecycle verbs. join_interval is deliberately NOT
    // here: replicate-in-place multiplies BOTH interval sets inside the
    // same time windows, so its OUTPUT grows reps² — a genuinely
    // quadratic result set, not a plan defect (the plan is one equi
    // shuffle; PlanSpec pins it never degenerates to a nested loop).
    "store_zorder", "store_incremental_view", "store_restore",
    // round-11 later batches: filtered/eval ANN, the window recurrences
    "llm_ann_ivf_filtered", "llm_ann_recall_eval", "ts_cusum",
    "ts_volume_bars", "win_rolling_slope",
    // round-12 DSv2 face: the provider read (three-tier prune +
    // columnar), the catalog DDL/DML lifecycle, the native sink, the
    // CALL-compact maintenance txn, and the manifest-only aggregate
    // (whose cost must stay METADATA-bounded — a 10x corpus grows the
    // store write, never the one-row agg answer)
    "store_dsv2_read", "store_sql_catalog", "stream_sink_native",
    "store_sql_maintenance", "store_sql_fast_agg",
    // round-13 SQL DML: copy-on-write row-level verbs — their 10x cost
    // must track the FILES holding matches (plus the fixture's own
    // 10x INSERT), never the store; the grouped manifest aggregate
    // stays metadata-bounded like its ungrouped twin
    "store_sql_delete", "store_sql_update", "store_sql_merge",
    "store_sql_group_fast",
    // round-13 merge-on-read DML: the vectored verbs' 10x cost must
    // track the MATCHING ROWS (find scan + sidecar bytes + appended
    // rows), never the affected files — the exact asymmetry the mode
    // exists to buy; the vectored read-back must track the live rows
    "store_delete_vector", "store_sql_delete_dv", "store_sql_update_dv",
    "store_sql_merge_dv",
    // round-14: RENAME COLUMN is a metadata commit — its 10x cost must
    // track the fixture's two INSERTs, never a rewrite of the store
    "store_sql_rename_col",
    // round-15: the dv-routed CDC takedown's 10x cost must track the
    // deleted rows (sidecar bytes + one commit per batch), never the
    // affected files; the widen is a metadata commit over the
    // fixture's two INSERTs; the trained-index build cost is the
    // sampled k-means pass (bounded sample, never the corpus²)
    "stream_cdc_dv", "store_sql_retype", "llm_ann_recall_trained",
    // round-16: the scoped clustering rewrite's cost must track the
    // SCOPE's files (out-of-scope partitions untouched on disk — the
    // whole point vs its whole-store twin above); the SQL keyed
    // takedown is the same one-commit broadcast anti-join plan as the
    // streaming route, O(1) in key count
    "store_zorder_scoped", "store_sql_delete_keys",
    // round-16: the CHECK-constraint lifecycle's 10x cost must track
    // the fixture's own INSERT (the per-row guard rides inside the
    // write job — no second pass) plus the ADD-validation scan, both
    // linear in the data; the refusal probes are O(1). The tag
    // lifecycle is metadata commits + a vacuum whose cost tracks dead
    // files, never the live data.
    "store_sql_constraint", "store_sql_tag_travel",
    // round-17: NOT NULL rides the same in-write guard as CHECK (cost =
    // the fixture's INSERT + the SET validation scan, linear); the
    // branch lifecycle is metadata commits + ONE branch append + an
    // audit scan + a metadata fast-forward — its cost must track the
    // appended slice, never the store (publish moves no data files)
    "store_sql_notnull", "store_sql_branch_wap",
    // round-18: the incremental re-cluster's cost must track the files
    // APPENDED since the marker (never the already-clustered store);
    // the scattered takedown's find must track the keys' files (the
    // digest gate) plus the fixture write; the branch CDC batch is an
    // upsert + takedown + metadata publish over the touched slice
    "store_zorder_incremental", "store_takedown_scattered",
    "store_branch_cdc",
    // round-19: compaction under an open branch adds ONE partition
    // rewrite + a metadata pin-rebase to the branch lifecycle (cost
    // tracks the compacted partition, never the branch or the store);
    // branch expiry is a vacuum whose added work is the aged ref's
    // metadata (the liveness fold is the streamed fingerprint set —
    // cost tracks dead files); the composite takedown's find must
    // track the keys' files via the FINE column's digest even though
    // the coarse first column matches everywhere
    "store_compact_branch", "store_branch_expiry",
    "store_takedown_composite")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "10").toInt
    // dev-only subset filter (comma-separated name prefixes), same
    // convention as Verify's 3rd arg / Bench's SPARK_GRAFT_BENCH_ONLY
    val only = sys.env.get("SPARK_GRAFT_SMOKE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftExtensions.localSession(cpus)
    spark.sparkContext.setLogLevel("WARN")

    val scaled = Q.scratchDir(s"scale_${reps}x_${new java.io.File(sfDir).getName}")
    val rep = explode(sequence(lit(0L), lit(reps - 1L))).as("__rep")

    // events: RAW read (no ts normalization) so the scaled file keeps the
    // fixture's physical ts spelling (int64 nanos or µs timestamp) —
    // Tables.events normalizes either at load time
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("*"), rep)
      .withColumn("event_id", col("event_id") + col("__rep") * 1000000000L)
      .withColumn("user_id", col("user_id") + col("__rep") * 10000000L)
      .drop("__rep")
      .write.mode("overwrite").parquet(s"$scaled/events.parquet")
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("*"), rep)
      .withColumn("doc_id", col("doc_id") + col("__rep") * 10000000L)
      .drop("__rep")
      .write.mode("overwrite").parquet(s"$scaled/documents.parquet")
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("*"), rep)
      .withColumn("vec_id", col("vec_id") + col("__rep") * 10000000L)
      .drop("__rep")
      .write.mode("overwrite").parquet(s"$scaled/embeddings.parquet")
    // TPC-H analog FACT tables: replicate lineitem+orders with offset
    // orderkeys (each replica's lineitems join only their own orders);
    // dimensions are shared unchanged — 10x facts over the same dims is
    // exactly how a warehouse grows, and it stresses the fact-fact
    // equi-join shuffles the q5/q7/q8 plans are built around
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("*"), rep)
      .withColumn("l_orderkey", col("l_orderkey") + col("__rep") * 1000000000L)
      .drop("__rep")
      .write.mode("overwrite").parquet(s"$scaled/lineitem.parquet")
    spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("*"), rep)
      .withColumn("o_orderkey", col("o_orderkey") + col("__rep") * 1000000000L)
      .drop("__rep")
      .write.mode("overwrite").parquet(s"$scaled/orders.parquet")
    Seq("customer", "supplier", "part", "nation", "region").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$scaled/$t.parquet")
    }

    def time(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      Registry.all(name).fn(spark, dir).queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    val selected = only match {
      case Some(ps) => Queries.filter(q => ps.exists(q.startsWith))
      case None => Queries
    }
    // base pass first (doubles as JIT warmup for the scaled pass — the
    // bias, if any, makes ratios LOOK worse, never better)
    val base = selected.map(q => q -> time(q, sfDir)).toMap
    val big = selected.map(q => q -> time(q, scaled)).toMap
    val rows = selected.map { q =>
      val r = big(q) / base(q)
      f"""{"query":"$q","base_sec":${base(q)}%.2f,"x${reps}_sec":${big(q)}%.2f,"ratio":$r%.1f}"""
    }
    println(rows.mkString("[", ",\n", "]"))
    val worst = selected.maxBy(q => big(q) / base(q))
    val flagged = selected.filter(q => big(q) / base(q) > reps * 1.8)
    println(f"SUMMARY reps=$reps worst=$worst ratio=${big(worst) / base(worst)}%.1f " +
      s"superlinear=${if (flagged.isEmpty) "none" else flagged.mkString(",")}")
    // Cap-engagement evidence: replicate-in-place gives every doc
    // `reps−1` exact twins, so an exact-dup digest group of size g on
    // the scaled corpus guarantees LSH band buckets ≥ g (identical
    // text ⇒ identical signature ⇒ same bucket in every band) and an
    // identical-embedding group of size g guarantees its IVF/semdedup
    // cell ≥ g. Groups over the caps (LSH bucket cap 64, semdedup
    // rank bound 256 — Llm.scala call sites) PROVE the star salvage /
    // rank-bounded pair paths ran, not just that timings look sane.
    val docGroups = spark.read.parquet(s"$scaled/documents.parquet")
      .groupBy(md5(col("text"))).count().agg(
        max("count").as("max_g"),
        sum(when(col("count") > 64, 1L).otherwise(0L)).as("over_lsh_cap"))
      .head()
    val embGroups = spark.read.parquet(s"$scaled/embeddings.parquet")
      .groupBy(hash(col("embedding"))).count().agg(
        max("count").as("max_g"),
        sum(when(col("count") > 256, 1L).otherwise(0L)).as("over_rank_cap"))
      .head()
    println(s"CAPS docs_max_dup_group=${docGroups.getLong(0)} " +
      s"lsh_buckets_over_cap64>=${docGroups.getLong(1)} " +
      s"emb_max_identical_group=${embGroups.getLong(0)} " +
      s"cells_over_rank_cap256>=${embGroups.getLong(1)}")
    spark.stop()
  }
}
