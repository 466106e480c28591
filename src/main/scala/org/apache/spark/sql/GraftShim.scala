package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Expression↔Column bridge for graft's native Catalyst expressions.
  *
  * Spark 4 routes `Column` through ColumnNode (connect-compatible), and the
  * classic converters (`classic.ExpressionUtils`) are `private[sql]` — so,
  * like every library shipping custom expressions (the established pattern
  * of frameless / deequ / spark-extensions), we expose the two converters
  * from inside the `org.apache.spark.sql` package. This file and
  * `execution.datasources.GraftPartitionShim` are the only private-API
  * touchpoints in the codebase; everything else is public API.
  */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A Column's unconverted ColumnNode tree — what `col("a") === lit(1)`
    * actually builds (`UnresolvedFunction("=", …)`; the catalyst
    * Expression only exists after analysis) — re-expressed as a neutral
    * ADT, because the ColumnNode trait itself is `private[sql]`.
    * Manifest-stat pruning (graft.sources.FileStats) walks this.
    */
  sealed trait PNode
  object PNode {
    final case class Fn(name: String, args: Seq[PNode]) extends PNode
    final case class Attr(name: String) extends PNode
    final case class Lit(value: Any) extends PNode
    case object Opaque extends PNode
  }

  def predTree(c: Column): PNode = conv(c.node)

  private def conv(n: internal.ColumnNode): PNode = n match {
    case f: internal.UnresolvedFunction =>
      PNode.Fn(f.functionName, f.arguments.map(conv))
    case a: internal.UnresolvedAttribute if a.nameParts.size == 1 =>
      PNode.Attr(a.nameParts.head)
    case l: internal.Literal => PNode.Lit(l.value)
    case _ => PNode.Opaque
  }

  /** Wrap a custom LogicalPlan into a DataFrame (classic sessions). */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed plan of a DataFrame (for embedding as a child). */
  def logicalPlan(df: Dataset[_]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].logicalPlan

  /** A micro-batch sink's incoming frame re-wrapped as a plain BATCH
    * DataFrame over the same physical rows (`isStreaming = false`) —
    * what a v1 `Sink.addBatch` needs before handing the data to batch
    * write paths that re-plan it (the established pattern of every
    * table-format v1 sink; the raw incoming frame still carries the
    * streaming flag and batch verbs refuse it).
    */
  def batchDf(data: Dataset[Row]): DataFrame = {
    val d = data.asInstanceOf[classic.Dataset[Row]]
    d.sparkSession.internalCreateDataFrame(
      d.queryExecution.toRdd, d.schema, isStreaming = false)
  }

  /** Session-scoped Hadoop conf (sessionState.newHadoopConf is
    * private[sql]) — carries per-session overrides (test viewfs mounts,
    * SQL-conf-propagated parquet options) that the bare
    * sparkContext.hadoopConfiguration lacks.
    */
  def sessionHadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()
}
