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

  /** `c` converted as a Dataset over `spark` converts it (unresolved),
    * for a hand-built plan; [[named]] as a projection list entry.
    */
  def expression(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[classic.SparkSession].expression(c)
  def named(spark: SparkSession,
            c: Column): org.apache.spark.sql.catalyst.expressions.NamedExpression =
    classic.ExpressionUtils.toNamed(expression(spark, c))

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

  /** Spark's own DSv2 parquet reader over `readDataSchema` (partition
    * values appended per file), the reader `ParquetScan` builds — with
    * the session Hadoop conf shipped through ONE broadcast per distinct
    * conf content ([[ParquetConfBroadcasts]]) instead of one per build.
    */
  def parquetReaderFactory(spark: SparkSession,
      dataSchema: org.apache.spark.sql.types.StructType,
      readDataSchema: org.apache.spark.sql.types.StructType,
      partitionSchema: org.apache.spark.sql.types.StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter])
      : org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetReadSupport, ParquetWriteSupport}
    import org.apache.spark.sql.internal.SQLConf
    val session = spark.asInstanceOf[classic.SparkSession]
    val sqlConf = session.sessionState.conf
    val conf = session.sessionState.newHadoopConf()
    // the keys ParquetScan.createReaderFactory sets: the requested
    // schema and the flags its schema converter reads
    val json = readDataSchema.json
    conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, json)
    conf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, json)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    conf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key, sqlConf.nestedSchemaPruningEnabled)
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, sqlConf.caseSensitiveAnalysis)
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, sqlConf.isParquetBinaryAsString)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, sqlConf.isParquetINT96AsTimestamp)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sqlConf.parquetInferTimestampNTZEnabled)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, sqlConf.legacyParquetNanosAsLong)
    conf.setBoolean(SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key,
      sqlConf.parquetReaderRespectUnknownTypeAnnotation)
    org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory(
      sqlConf, ParquetConfBroadcasts(session.sparkContext, conf),
      dataSchema, readDataSchema, partitionSchema, filters.toArray, None,
      new ParquetOptions(Map.empty[String, String], sqlConf))
  }
}

/** The Hadoop conf broadcasts of store scans, shared by content: a
  * broadcast serializes the whole conf (`Configuration.write` deflates
  * every entry, about 10 ms per broadcast on a 4-core host), which a
  * sliced read paid on every call. Keyed by the `SparkContext` and the
  * conf's entries, so a `spark.conf.set` between reads (it reaches the
  * session Hadoop conf) or another requested schema gets its own
  * broadcast. Bounded LRU; an evicted entry is never destroyed — a
  * running job may still read it, and `ContextCleaner` reclaims it once
  * nothing holds it. Nothing mutates a conf after it is broadcast (each
  * lookup builds a fresh one), which local mode needs: there tasks read
  * the broadcast's driver-side object itself.
  */
private[sql] object ParquetConfBroadcasts {
  import org.apache.spark.SparkContext
  import org.apache.spark.broadcast.Broadcast
  import org.apache.spark.util.SerializableConfiguration

  private type Key = (SparkContext, Map[String, String])

  private val Bound = 16

  private val cache = new java.util.LinkedHashMap[Key, Broadcast[SerializableConfiguration]](
      Bound, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[Key, Broadcast[SerializableConfiguration]]): Boolean =
      size() > Bound
  }

  def apply(sc: SparkContext,
            conf: org.apache.hadoop.conf.Configuration): Broadcast[SerializableConfiguration] = {
    import scala.jdk.CollectionConverters._
    val key: Key = (sc, conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap)
    cache.synchronized {
      var b = cache.get(key)
      if (b == null) {
        cache.keySet().removeIf(_._1.isStopped)
        b = sc.broadcast(new SerializableConfiguration(conf))
        cache.put(key, b)
      }
      b
    }
  }
}
