package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{IvfIndex, Tables, TsStore}

/** The two nearest-cell ranking paths (literal expression vs broadcast
  * argmin), seed validation, and incremental index maintenance.
  */
class IvfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val emb = Tables.embeddings(spark, TestSpark.sf001)
    .select(col("vec_id"), col("embedding"))

  /** The store scans of `df`'s executed plan over an index's cells. */
  private def cellScans(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
        if b.table.name().contains("cells") =>
        b.scan.asInstanceOf[graft.sources.GraftScan]
    }

  test("broadcast-join assignment is bit-equal to the literal path at K=64") {
    // K=64 > LiteralKMax: the public API takes the join path; force the
    // literal expression for the same centroids and compare cells. Any
    // rounding/tie-break divergence between the two arithmetic spellings
    // shows up as a cell mismatch here.
    val k = 64
    val e = Tables.embeddings(spark, TestSpark.sf01)
      .select(col("vec_id"), col("embedding"))
    val cents = IvfIndex.seedCentroids(e, k)
    assert(cents.size === k)
    val litPath = IvfIndex.assignLiteral(e, cents).select("vec_id", "cell")
    val join = IvfIndex.assignByJoin(e, cents).select("vec_id", "cell")
    assert(join.count() === litPath.count())
    assert(join.except(litPath).count() === 0, "join path assigned some vector differently")
    assert(litPath.except(join).count() === 0)
    // and the public API at K=64 IS the join path's answer
    val api = IvfIndex.assign(e, k).select("vec_id", "cell")
    assert(api.except(join).count() === 0 && join.except(api).count() === 0)
  }

  test("k-means++ training strictly improves recall@3 at nprobe=2 over first-K seeding") {
    import spark.implicits._
    // same corpus, same K, same probe budget — only the centroids
    // differ. The recall harness is the same arithmetic the declared
    // llm_ann_recall_eval runs: exact brute-force top-3 per query vs
    // the index's top-3, rounded cosines, id tie-breaks.
    val k = 16; val nprobe = 2; val topK = 3
    val dirF = java.nio.file.Files.createTempDirectory("graft_ivf_first").toString
    val dirT = java.nio.file.Files.createTempDirectory("graft_ivf_train").toString
    IvfIndex.build(emb, dirF, k = k)
    IvfIndex.build(emb, dirT, k = k, train = true)
    val queries = emb.filter(col("vec_id") % 7 === 0).limit(48)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .localCheckpoint()
    val nq = queries.count()
    // exact top-3 per query: brute force over the corpus
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(desc("cos"), asc("nbr_id"))
    val exact = queries.join(emb)
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("nbr_id"),
        round(graft.functions.VectorOps.cosine(col("q_emb"), col("embedding")), 6).as("cos"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= topK)
      .select("q_id", "nbr_id")
    def recall(dir: String): Double = {
      val got = IvfIndex.probe(spark, dir, queries, nprobe = nprobe, topK = topK)
        .select("q_id", "nbr_id")
      val hits = exact.join(got, Seq("q_id", "nbr_id"), "left_semi").count()
      hits.toDouble / (nq * topK)
    }
    val rFirst = recall(dirF)
    val rTrained = recall(dirT)
    assert(rTrained > rFirst,
      f"k-means++ must beat first-K on the fixture: trained=$rTrained%.3f first=$rFirst%.3f")
    // determinism: a rebuild with the same seed produces the same index
    val dirT2 = java.nio.file.Files.createTempDirectory("graft_ivf_train2").toString
    IvfIndex.build(emb, dirT2, k = k, train = true)
    val c1 = spark.read.parquet(s"$dirT/centroids").orderBy("vec_id").collect().toSeq
    val c2 = spark.read.parquet(s"$dirT2/centroids").orderBy("vec_id").collect().toSeq
    assert(c1 === c2, "trained centroids must be deterministic per corpus+seed")
  }

  test("seeding fails loudly when the corpus lacks k distinct ids below k") {
    val renumbered = emb.select((col("vec_id") + 1000).as("vec_id"), col("embedding"))
    val e = intercept[IllegalArgumentException] { IvfIndex.assign(renumbered, 16).collect() }
    assert(e.getMessage.contains("distinct vectors"))
  }

  test("add() makes new vectors probeable without retraining, touching only their cells") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_add").toString
    IvfIndex.build(emb, dir, k = 8)
    // new vectors = copies of existing ones under fresh ids — their cell
    // is then KNOWN (same as the copied vector's), and a probe near them
    // must now return the twin at cosine 1.0
    val twins = emb.filter(col("vec_id").isin(20L, 21L, 22L))
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val cellsBefore = TsStore.load(spark, s"$dir/cells")
      .select(col("vec_id"), col("cell").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    def partFiles(cell: Long): Set[String] = {
      val d = new java.io.File(s"$dir/cells/cell=$cell")
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    }
    val touchedCells = Seq(20L, 21L, 22L).map(cellsBefore).toSet
    val untouched = (0L until 8L).filterNot(touchedCells)
    assume(untouched.nonEmpty)
    val untouchedBefore = untouched.map(c => c -> partFiles(c)).toMap

    IvfIndex.add(spark, dir, twins)

    // only the touched cells' partitions gained files
    untouched.foreach { c =>
      assert(partFiles(c) === untouchedBefore(c),
        s"add() rewrote files in untouched cell $c")
    }
    // the added vectors are in the manifest-visible index, right cells
    val cellsAfter = TsStore.load(spark, s"$dir/cells")
      .select(col("vec_id"), col("cell").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Seq(20L, 21L, 22L).foreach { id =>
      assert(cellsAfter(id + 100000L) === cellsBefore(id),
        s"twin of $id landed in a different cell than its original")
    }
    // probing AT vector 20 finds its twin as the top neighbor (cos 1.0)
    val q = emb.filter(col("vec_id") === 20L)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val top = IvfIndex.probe(spark, dir, q, nprobe = 1, topK = 1)
      .select("nbr_id", "cos").collect().head
    assert(top.getLong(0) === 100020L && top.getDouble(1) === 1.0,
      s"probe after add() did not surface the added twin: $top")
    // and the probe's cells scan is still partition-pruned to one cell
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val probed = IvfIndex.probe(spark, dir, q, nprobe = 1, topK = 1)
      probed.collect()
      val planned = cellScans(probed).flatMap(_.plannedFiles)
      val probedCell = cellsBefore(20L)
      // only the probed cell's LIVE manifest files — the directory also
      // holds the dead pre-add file, which the manifest read must skip
      val live = graft.sources.StoreLog.latest(s"$dir/cells").get.files
        .filter(_.startsWith(s"cell=$probedCell/"))
      assert(planned.sorted === live.sorted,
        s"probe planned $planned, expected only cell $probedCell's live files $live")
      assert(live.size < partFiles(probedCell).size,
        "expected the replaced pre-add file to still sit (dead) in the partition dir")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")

    // a re-add that would MOVE a vector across cells must fail loudly —
    // the pruned upsert can't evict the stale row from the old cell
    val differentCellId = cellsBefore.collectFirst {
      case (id, c) if c != cellsBefore(20L) && id < 100000L => id
    }.get
    val movedDelta = emb.filter(col("vec_id") === differentCellId)
      .select(lit(20L).as("vec_id"), col("embedding"))
    val e = intercept[IllegalArgumentException] { IvfIndex.add(spark, dir, movedDelta) }
    assert(e.getMessage.contains("change cell"))
  }

  test("add() with an empty delta is a version-stable no-op") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_empty").toString
    IvfIndex.build(emb, dir, k = 8)
    val before = TsStore.load(spark, s"$dir/cells").count()
    // an incremental pipeline whose batch matched no new vectors: must
    // return the current version without touching the store (a null
    // min/max extent must never reach the migration guard)
    val v1 = IvfIndex.add(spark, dir, emb.filter(col("vec_id") < 0))
    val v2 = IvfIndex.add(spark, dir, emb.filter(col("vec_id") < 0))
    assert(v1 === v2, "empty adds must not burn versions")
    assert(TsStore.load(spark, s"$dir/cells").count() === before)
  }

  test("remove() takes a vector out of the probe result, touching only its cell's chunks") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_rm").toString
    IvfIndex.build(emb, dir, k = 8)
    val q = emb.filter(col("vec_id") === 20L)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val top = IvfIndex.probe(spark, dir, q, nprobe = 1, topK = 1)
      .select("nbr_id").first().getLong(0)
    val cells = TsStore.load(spark, s"$dir/cells")
      .select(col("vec_id"), col("cell").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val touched = cells(top)
    def partFiles(cell: Long): Set[String] = {
      val d = new java.io.File(s"$dir/cells/cell=$cell")
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    }
    val untouched = (0L until 8L).filterNot(_ == touched)
    val before = untouched.map(c => c -> partFiles(c)).toMap
    val v = IvfIndex.remove(spark, dir, col("vec_id") === top)
    // the former top neighbor is gone from the live probe...
    val newTop = IvfIndex.probe(spark, dir, q, nprobe = 1, topK = 3)
      .select("nbr_id").collect().map(_.getLong(0))
    assert(!newTop.contains(top), s"removed vector $top still probeable: ${newTop.toSeq}")
    // ...only its cell's chunks were rewritten...
    untouched.foreach(c => assert(partFiles(c) === before(c),
      s"remove() rewrote files in untouched cell $c"))
    // ...and it stays auditable at the pre-remove version until vacuum
    assert(TsStore.read(spark, s"$dir/cells", tsCol = "vec_id", asOf = Some(v - 1))
      .filter(col("vec_id") === top).count() === 1)
  }

  test("the add guard scan is bounded by the delta's id extent, not the index") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_guard").toString
    IvfIndex.build(emb, dir, k = 8)
    val total = TsStore.load(spark, s"$dir/cells").count()
    // first add: three twins at the top of the id range
    val twins = emb.filter(col("vec_id").isin(20L, 21L, 22L))
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    IvfIndex.add(spark, dir, twins)
    // second, clustered delta just above them: its guard extent
    // [100023, 100025] overlaps NO build-time chunk (ids < 100000) and
    // no prior-add row group, so parquet footer stats must skip
    // essentially the whole index — the scan may surface at most the
    // prior add's three tail rows, never the corpus
    val fresh = emb.filter(col("vec_id").isin(23L, 24L, 25L))
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val assigned = IvfIndex.assignAgainst(spark, dir, fresh).localCheckpoint()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val mig = IvfIndex.migrations(spark, dir, assigned)
      assert(mig.count() === 0)
      val scans = mig.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.table.name().contains("cells") => b
      }
      assert(scans.nonEmpty)
      val scanRows = scans.map(_.metrics("numOutputRows").value).sum
      assert(scanRows <= 3,
        s"guard scan surfaced $scanRows rows of a $total-row index — " +
          "the id-extent bound is not reaching the parquet row-group stats")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // and the bound keeps the LOUD-failure contract: a planted migration
    // inside the extent still throws (the existing add() spec pins the
    // thrown path; here we pin that the bounded scan still SEES it)
    val cells = TsStore.load(spark, s"$dir/cells")
      .select(col("vec_id"), col("cell").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val otherCell = cells.collectFirst {
      case (id, c) if id < 100L && c != cells(100020L) => id
    }.get
    val moved = emb.filter(col("vec_id") === otherCell)
      .select(lit(100020L).as("vec_id"), col("embedding"))
    val e2 = intercept[IllegalArgumentException] { IvfIndex.add(spark, dir, moved) }
    assert(e2.getMessage.contains("change cell"))
  }

  test("filtered probe: pre-filter parity across the float and quantized paths") {
    import spark.implicits._
    val dirF = java.nio.file.Files.createTempDirectory("graft_ivf_ff").toString
    val dirQ = java.nio.file.Files.createTempDirectory("graft_ivf_fq").toString
    val embL = Tables.embeddings(spark, TestSpark.sf001)
    IvfIndex.build(embL, dirF, k = 16, payloadCols = Seq("label"))
    IvfIndex.build(embL, dirQ, k = 16, quantized = true, payloadCols = Seq("label"))
    val queries = embL.filter(col("vec_id") % 101 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val flt = Some(col("label") % 2 === 0)
    def res(dir: String, rerank: Int) =
      IvfIndex.probe(spark, dir, queries, nprobe = 2, topK = 5,
          rerankFactor = rerank, filter = flt)
        .select("q_id", "nbr_id", "cos", "rnk")
        .as[(Long, Long, Double, Long)].collect().toSet
    val f = res(dirF, 4)
    assert(f.nonEmpty)
    // every returned neighbor satisfies the payload predicate
    val allowed = embL.filter(col("label") % 2 === 0)
      .select("vec_id").as[Long].collect().toSet
    assert(f.forall(r => allowed.contains(r._2)), "a filtered-out neighbor leaked")
    // quantized two-pass filtered probe returns the exact same result
    assert(f === res(dirQ, 4), "quantized filtered probe diverged from float")
    // and the filtered set differs from the unfiltered one (the filter
    // actually bites on the fixture)
    val unf = IvfIndex.probe(spark, dirF, queries, nprobe = 2, topK = 5)
      .select("q_id", "nbr_id", "cos", "rnk")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(f !== unf)
  }

  test("quantized cells: probe parity with the float index; scoring scan reads codes, not floats") {
    import spark.implicits._
    val dirF = java.nio.file.Files.createTempDirectory("graft_ivf_f").toString
    val dirQ = java.nio.file.Files.createTempDirectory("graft_ivf_q").toString
    IvfIndex.build(emb, dirF, k = 16)
    IvfIndex.build(emb, dirQ, k = 16, quantized = true)
    // quantized cells carry binary codes + scale; the code column is ~4×
    // smaller than the float column it shadows
    val cellsQ = TsStore.load(spark, s"$dirQ/cells")
    assert(cellsQ.schema.fieldNames.toSet.contains("q_code"))
    assert(cellsQ.schema("q_code").dataType === org.apache.spark.sql.types.BinaryType)
    val dims = cellsQ.select(org.apache.spark.sql.functions.length(col("q_code")).cast("long"))
      .distinct().as[Long].collect().toSet
    assert(dims === Set(64L), s"codes must be one byte per dimension, got lengths $dims")
    val queries = emb.filter(col("vec_id") % 101 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    def result(dir: String, rerank: Int) =
      IvfIndex.probe(spark, dir, queries, nprobe = 2, topK = 5, rerankFactor = rerank)
        .select("q_id", "nbr_id", "cos", "rnk")
        .as[(Long, Long, Double, Long)].collect().toSet
    // parity pin: the quantized two-pass probe returns EXACTLY the float
    // path's neighbors, scores and ranks on the fixture (exact rerank;
    // the pool bound is the only approximation and it doesn't bite here)
    val f = result(dirF, 4)
    assert(f === result(dirQ, 4), "quantized probe diverged from the float path")
    // rerankFactor <= 0 forces the float path even on a quantized index
    assert(f === result(dirQ, 0))
    // IO pin: the approximate scoring pass reads the CODES column and
    // never the float embeddings — visible as a cells scan whose read
    // schema carries q_code without embedding
    val reads = IvfIndex.probe(spark, dirQ, queries, nprobe = 2, topK = 5)
      .queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.table.name().contains("cells") => b.scan.readSchema().fieldNames.toSeq
      }
    assert(reads.exists(r => r.contains("q_code") && !r.contains("embedding")),
      s"no codes-only scan found: $reads")
  }
}
