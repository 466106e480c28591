package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualNullSafe, GreaterThan, Literal, Round}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation, DataSourceV2Strategy}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{ParamLiteral, ScanFilterParamStrategy}
import graft.sources.{GraftScan, TsStore}

/** A residual filter over a store scan carries its constants as codegen
  * references ([[ParamLiteral]]): a second read that differs only in its
  * slice bounds compiles no class, while rows, pruning, pushed filters
  * and explain output stay those of Spark's own `DataSourceV2Strategy`.
  */
class ScanFilterParamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s"2024-01-0$s")

  /** Three appends, one day each, of series A and B: one row a minute
    * with an int, a double, a date and a boolean column.
    */
  private lazy val store: String = {
    val dir = Files.createTempDirectory("scanparam").toString
    for (day <- 1 to 3) {
      val t0 = ts(s"$day 00:00:00").getTime
      val rows = for (uid <- Seq("A", "B"); m <- 0 until 1440) yield
        (uid, new java.sql.Timestamp(t0 + m * 60000L), m % 7, m * 0.25 + day,
          java.sql.Date.valueOf(s"2024-01-0$day"), m % 3 == 0)
      TsStore.write(rows.toDF("uid", "ts", "size", "price", "day", "flag"), dir,
        tsCol = "ts", uidCols = Seq("uid"),
        mode = if (day == 1) SaveMode.Overwrite else SaveMode.Append)
    }
    dir
  }

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def slice(from: String, to: String): DataFrame =
    TsStore.read(spark, store, uid = Some("uid" -> "A"), start = Some(ts(from)),
      end = Some(ts(to)), columns = Seq("ts", "price"))

  private def params(p: SparkPlan): Seq[ParamLiteral] =
    p.collect { case f: FilterExec => f.condition.collect { case l: ParamLiteral => l } }.flatten

  /** The physical plan Spark's own strategy gives the scan's Filter (and
    * the Project above it), and the one the session's planner gives.
    */
  private def bothPlans(df: DataFrame): (SparkPlan, SparkPlan) = {
    val top: LogicalPlan = df.queryExecution.optimizedPlan
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    (new DataSourceV2Strategy(classic)(top).head, ScanFilterParamStrategy(spark)(top).head)
  }

  private def scanOf(p: SparkPlan): GraftScan =
    p.collectFirst { case b: BatchScanExec => b.scan.asInstanceOf[GraftScan] }.get

  test("a second slice with other ts bounds compiles no class and reads the parquet rows") {
    val first = slice("2 01:00:00", "2 02:00:00").collect()
    assert(first.length === 61)
    val before = compiles()
    val df = slice("2 03:30:00", "2 05:00:00")
    val got = df.collect()
    assert(compiles() - before === 0L, "the second slice compiled a class")
    val want = spark.read.parquet(store)
      .filter(col("uid") === "A" && col("ts") >= lit(ts("2 03:30:00")) &&
        col("ts") <= lit(ts("2 05:00:00")))
      .select("ts", "price").collect()
    assert(got.length === 91)
    assert(got.map(_.toString).sorted.toSeq === want.map(_.toString).sorted.toSeq)
    assert(params(df.queryExecution.executedPlan).map(_.value) ===
      Seq(ts("2 03:30:00"), ts("2 05:00:00")).map(t =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t)))
  }

  test("pruning, pushed filters and explain output are those of Spark's strategy") {
    val df = slice("2 03:30:00", "2 05:00:00")
    val (theirs, ours) = bothPlans(df)
    assert(ours.treeString === theirs.treeString)
    assert(ours.transformAllExpressions { case ParamLiteral(v, t) => Literal(v, t) } === theirs)
    val (tf, of) = (theirs.collectFirst { case f: FilterExec => f }.get,
      ours.collectFirst { case f: FilterExec => f }.get)
    assert(params(ours).size === 2)
    assert(of.condition.sql === tf.condition.sql)
    assert(of.condition.toString.contains("2024-01-02 03:30:00"))
    // the ts bounds still prune: only day 2's file of series A is planned
    val scan = scanOf(ours)
    assert(scan eq scanOf(theirs))
    assert(scan.plannedFiles.size === 1)
    assert(scan.plannedFiles.head.startsWith("uid=A/"))
    // and it is the scan, pushed filters included, the optimizer built
    val optimized = df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.scan.asInstanceOf[GraftScan]
    }.get
    assert(optimized eq scan)
    assert(df.queryExecution.executedPlan.toString.contains("2024-01-02 05:00:00"))
  }

  test("int, date, double and boolean comparisons read the parquet rows") {
    val cond = col("size").isin(1, 2, 5) && col("day") >= lit(java.sql.Date.valueOf("2024-01-02")) &&
      col("price") < 300.5 && (col("flag") <=> true) && col("ts") > lit(ts("1 12:00:00"))
    val df = TsStore.load(spark, store).filter(cond)
    val got = df.collect()
    val want = spark.read.parquet(store).filter(cond).select(df.columns.map(col): _*).collect()
    assert(got.length > 0)
    assert(got.map(_.toString).sorted.toSeq === want.map(_.toString).sorted.toSeq)
    val types = params(df.queryExecution.executedPlan).map(_.dataType.typeName).toSet
    assert(Set("integer", "date", "double", "boolean", "timestamp").subsetOf(types),
      df.queryExecution.executedPlan.toString)
  }

  test("null literals and arguments that must stay foldable keep their literals") {
    val price = AttributeReference("price", DoubleType)()
    val size = AttributeReference("size", IntegerType)()
    val nullEq = EqualNullSafe(size, Literal(null, IntegerType))
    assert(ScanFilterParamStrategy.parameterize(nullEq) === nullEq)
    val rounded = ScanFilterParamStrategy.parameterize(
      GreaterThan(Round(price, Literal(1)), Literal(10.0)))
    assert(rounded === GreaterThan(Round(price, Literal(1)), ParamLiteral(10.0, DoubleType)))
    // and end to end: the scale stays a literal in the executed filter
    val df = TsStore.load(spark, store).filter(round(col("price"), 1) > 300.0)
    val filter = df.queryExecution.executedPlan.collectFirst { case f: FilterExec => f }.get
    assert(filter.condition.collectFirst { case r: Round => r.scale }.get === Literal(1))
    assert(df.count() === spark.read.parquet(store).filter(round(col("price"), 1) > 300.0).count())
  }

  test("a condition with a subquery falls through to Spark's strategy") {
    TsStore.load(spark, store).createOrReplaceTempView("scanparam_store")
    val df = spark.sql("SELECT ts, price FROM scanparam_store " +
      "WHERE price > (SELECT max(price) FROM scanparam_store) - 1.0")
    val filter = df.queryExecution.optimizedPlan.collectFirst {
      case f @ Filter(_, _: DataSourceV2ScanRelation) => f
    }.get
    assert(ScanFilterParamStrategy(spark)(filter).isEmpty)
    assert(params(df.queryExecution.executedPlan).isEmpty)
    val top = spark.read.parquet(store).agg(max("price")).head().getDouble(0)
    assert(df.count() === spark.read.parquet(store).filter(col("price") > top - 1.0).count())
  }

  test("a sliced read applies its predicates as one filter and optimizes as before") {
    val df = TsStore.read(spark, store, uid = Some("uid" -> "B"), start = Some(ts("3 01:00:00")),
      end = Some(ts("3 02:00:00")), columns = Seq("ts", "size"))
    val filters = df.queryExecution.analyzed.collect { case f: Filter => f }
    assert(filters.size === 1)
    var old = TsStore.load(spark, store)
    Seq(col("uid") === lit("B"), col("ts") >= lit(ts("3 01:00:00")),
      col("ts") <= lit(ts("3 02:00:00"))).foreach(p => old = old.filter(p))
    old = old.select("ts", "size")
    def shape(d: DataFrame) = d.queryExecution.optimizedPlan.toString.replaceAll("#\\d+", "")
    assert(shape(df) === shape(old))
    assert(df.collect().toSeq === old.collect().toSeq)
  }
}
