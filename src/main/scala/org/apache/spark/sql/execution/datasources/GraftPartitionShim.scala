package org.apache.spark.sql.execution.datasources

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructType}

/** Spark's own partition discovery, for a store's declared schema.
  * `PartitioningUtils` is `private[datasources]`; these are the calls a
  * plain `spark.read.parquet` makes, under the session's conf
  * (`spark.sql.sources.partitionColumnTypeInference.enabled`, time zone,
  * case sensitivity), so a declaration types partition columns exactly
  * as a read of the files would.
  */
object GraftPartitionShim {
  private val base = new Path("/")

  /** The partition columns of store-relative `files`, in nesting order,
    * typed from their `name=value` directory segments
    * (`__HIVE_DEFAULT_PARTITION__` is null). Empty for no files.
    */
  def inferPartitionSchema(files: Seq[String]): StructType = {
    val conf = SQLConf.get
    PartitioningUtils.parsePartitions(
      files.map(f => new Path(base, f).getParent).distinct,
      conf.partitionColumnTypeInferenceEnabled, Set(base), None,
      conf.caseSensitiveAnalysis, conf.validatePartitionColumns,
      conf.sessionLocalTimeZone, ignoreInvalidPartitionPaths = false).partitionColumns
  }

  /** The type Spark's partition discovery gives a column whose values
    * are typed `a` in some directories and `b` in others.
    */
  def widerPartitionType(a: DataType, b: DataType): DataType = {
    import PartitioningUtils.{PartitionValues, TypedPartValue}
    PartitioningUtils.resolvePartitions(Seq(a, b).map(t =>
      base -> PartitionValues(Seq("c"), Seq(TypedPartValue("", t)))), caseSensitive = true)
      .head.typedValues.head.dataType
  }

  /** `s` with every field nullable, nested ones too — what a file read
    * reports for the data columns.
    */
  def asNullable(s: StructType): StructType = s.asNullable
}
