package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftTable, StoreLog, TsStore}

/** A store's schema is declared by the commit that writes its first
  * files, from the frame it wrote ([[GraftTable.declare]]), with no
  * Spark job. These pin that the declaration is exactly the schema a
  * footer-merging parquet read of the same files infers
  * ([[GraftTable.inferSchema]]), on every first-write path, and that
  * footer inference stays where foreign parquet enters.
  */
class SchemaDeclareSpec extends AnyFunSuite {
  import SchemaDeclareSpec.violations

  private lazy val spark = TestSpark.spark

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  /** Four rows: `id` 0..3 and one `ts` a minute apart. */
  private def base: DataFrame = spark.range(4)
    .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("id") * 60))

  /** Overwrites a fresh store with `df` partitioned by `parts`, then
    * checks [[GraftTable.declare]] over the written files and the
    * store's declaration against [[GraftTable.inferSchema]].
    */
  private def assertDeclares(name: String, df: DataFrame, parts: Seq[String]): StructType = {
    val dir = tmp(s"graft_decl_$name")
    TsStore.write(df, dir, uidCols = parts)
    val files = StoreLog.latest(dir).get.files
    assert(files.nonEmpty, name)
    val inferred = GraftTable.inferSchema(spark, dir, files)
    assert(GraftTable.declare(df.schema, files).json === inferred.json, name)
    assert(GraftTable.declaredIn(StoreLog.propsAt(dir, 1L)).map(_.json) ===
      Some(inferred.json), name)
    inferred
  }

  private def partType(s: StructType): DataType = s("p").dataType

  private def withConf[T](k: String, v: String)(f: => T): T = {
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try f finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  test("declare equals footer inference over the same files: partition value shapes") {
    def p(c: org.apache.spark.sql.Column) = base.withColumn("p", c)
    val id = col("id")
    val cases = Seq(
      "int" -> (p((id + 7).cast("string")) -> IntegerType),
      "long" -> (p(when(id % 2 === 0, lit("3000000000")).otherwise(id.cast("string"))) ->
        LongType),
      "string" -> (p(when(id === 0, lit("AAPL")).otherwise(id.cast("string"))) -> StringType),
      "date" -> (p(date_add(lit("2024-01-01").cast("date"), id.cast("int"))) -> DateType),
      "timestamp" -> (p(col("ts")) -> TimestampType),
      "double" -> (p(when(id === 0, lit("1.5")).otherwise(id.cast("string"))) -> DoubleType),
      "default" -> (p(when(id === 0, lit(null)).when(id === 1, lit(""))
        .otherwise(id.cast("string"))) -> IntegerType),
      "allnull" -> (p(lit(null).cast("string")) -> NullType))
    cases.foreach { case (name, (df, want)) =>
      assert(partType(assertDeclares(name, df, Seq("p"))) === want, name)
    }
    val two = assertDeclares("two",
      base.withColumn("a", (col("id") % 2).cast("string"))
        .withColumn("b", concat(lit("x"), col("id"))), Seq("a", "b"))
    assert(two.fieldNames.toSeq === Seq("id", "ts", "a", "b"))
    assert(two("a").dataType === IntegerType && two("b").dataType === StringType)
  }

  test("declare equals footer inference: nested, decimal, time and binary data columns") {
    val df = base
      .withColumn("st", struct(col("id").as("x"), lit("y").as("y")))
      .withColumn("arr", array(col("id"), col("id") + 1))
      .withColumn("m", map(lit("k"), col("id")))
      .withColumn("dec", col("id").cast("decimal(12,3)"))
      .withColumn("ntz", col("ts").cast("timestamp_ntz"))
      .withColumn("bin", col("id").cast("string").cast("binary"))
      .withColumn("p", (col("id") % 2).cast("string"))
    val s = assertDeclares("nested", df, Seq("p"))
    assert(s("ntz").dataType === TimestampNTZType && s("dec").dataType === DecimalType(12, 3))
  }

  test("declare equals footer inference: non-nullable frame fields read nullable") {
    val inner = StructType(Seq(StructField("x", IntegerType, nullable = false)))
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("ts", TimestampType, nullable = false),
      StructField("st", inner, nullable = false),
      StructField("arr", ArrayType(IntegerType, containsNull = false), nullable = false),
      StructField("p", StringType, nullable = false)))
    val rows = (0 until 4).map(i => Row(i.toLong,
      new java.sql.Timestamp(1704067200000L + i * 60000L), Row(i), Seq(i), s"${i % 2}"))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val s = assertDeclares("notnull", df, Seq("p"))
    assert(s.fields.forall(_.nullable))
    assert(s("st").dataType === StructType(Seq(StructField("x", IntegerType))))
  }

  test("declare equals footer inference with partition type inference off") {
    val s = withConf("spark.sql.sources.partitionColumnTypeInference.enabled", "false") {
      assertDeclares("noinfer", base.withColumn("p", (col("id") + 7).cast("string")), Seq("p"))
    }
    assert(partType(s) === StringType)
  }

  test("with no files, declare keeps the frame's columns and types, nullable") {
    val df = base.withColumn("p", col("id").cast("int"))
    assert(GraftTable.declare(df.schema, Nil) ===
      StructType(df.schema.map(_.copy(nullable = true))))
  }

  test("every first-write path declares what footer inference gives over the store's files") {
    def assertInferred(what: String, dir: String): Unit = {
      val v = StoreLog.latestVersion(dir).get
      val files = StoreLog.read(dir, v).files
      assert(files.nonEmpty, what)
      assert(GraftTable.declaredIn(StoreLog.propsAt(dir, v)).map(_.json) ===
        Some(GraftTable.inferSchema(spark, dir, files).json), what)
    }
    val df = base.withColumn("p", (col("id") % 2 + 7).cast("string"))
    val over = tmp("graft_decl_over")
    TsStore.write(df, over, uidCols = Seq("p"))
    assertInferred("Overwrite", over)
    val fresh = tmp("graft_decl_fresh") + "/t"
    TsStore.write(df, fresh, uidCols = Seq("p"), mode = SaveMode.Append)
    assert(StoreLog.read(fresh, 1L).files.isEmpty)
    assertInferred("fresh-path Append", fresh)
    assert(TsStore.load(spark, fresh).schema("p").dataType === IntegerType)
    // the streaming sink's first epoch
    val root = tmp("graft_decl_sink")
    val (store, src) = (s"$root/store", s"$root/src")
    df.write.parquet(src)
    spark.readStream.schema(df.schema).parquet(src)
      .writeStream.format("graft-store")
      .option("path", store).option("tsCol", "ts").option("uids", "p")
      .option("feedId", "decl").option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    assertInferred("sink first epoch", store)
    assert(TsStore.read(spark, store).count() === 4L)
  }

  /** Jobs started while `f` runs. */
  private def jobsOf(f: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { f; org.apache.spark.TestBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    n.get
  }

  test("an Overwrite and a fresh-path Append run only their stage's jobs") {
    val df = base.withColumn("p", (col("id") % 2).cast("string")).localCheckpoint()
    // the stage's jobs (the range partitioning's two and the write's
    // collect), and no footer-inference job after them
    assert(jobsOf(TsStore.write(df, tmp("graft_decl_jobs_o"), uidCols = Seq("p"))) <= 3)
    assert(jobsOf(TsStore.write(df, tmp("graft_decl_jobs_a") + "/t", uidCols = Seq("p"),
      mode = SaveMode.Append)) <= 3)
  }

  test("the inferSchema detector flags calls outside adoption and resolveSchema") {
    assert(violations("def f() = GraftTable.inferSchema(spark, path, files)") === Seq(1))
    assert(violations("def g() = {\n  val s = inferSchema(s, p, fs)\n}") === Seq(2))
    assert(violations("def ensure(path: String) = {\n  inferSchema(s, path, files)\n}").isEmpty)
    assert(violations("def resolveSchema(a: A) =\n  x.getOrElse(inferSchema(a, b, c))").isEmpty)
    assert(violations("override def inferSchema(options: Opts): StructType = f()").isEmpty)
    assert(violations("private[graft] def inferSchema(spark: S, path: String,\n" +
      "  files: Seq[String]): StructType = ???").isEmpty)
    assert(violations("def h() = 1 // inferSchema(s, p, f)\n/* inferSchema(x) */").isEmpty)
  }

  test("src/main infers a schema only where foreign parquet enters") {
    val mainRoot: Path = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    val files = Files.walk(mainRoot).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(files.nonEmpty, s"no sources at $mainRoot")
    val found = files.flatMap { f =>
      violations(new String(Files.readAllBytes(f), "UTF-8"))
        .map(line => s"${mainRoot.relativize(f)}:$line")
    }
    assert(found.isEmpty, "inferSchema( outside StoreLog.ensure and GraftTable.resolveSchema " +
      s"(declare the written frame instead): ${found.mkString(", ")}")
  }
}

object SchemaDeclareSpec {
  /** The methods allowed to infer a schema from footers. */
  private val Allowed = Set("ensure", "resolveSchema")

  /** Line numbers of `inferSchema(` calls in Scala `src`, outside
    * comments and definitions, whose enclosing method (the nearest
    * `def` above the call) is not in [[Allowed]].
    */
  def violations(src: String): Seq[Int] = {
    val code = ParquetReadOptionsGuardSpec.blankComments(src)
    def lineOf(i: Int) = code.substring(0, i).count(_ == '\n') + 1
    val defs = "\\bdef\\s+(\\w+)".r.findAllMatchIn(code).map(m => m.start -> m.group(1)).toSeq
    def isDefinition(i: Int) =
      "\\bdef\\s+$".r.findFirstIn(code.substring(math.max(0, i - 16), i)).isDefined
    def enclosing(i: Int) = defs.takeWhile(_._1 < i).lastOption.map(_._2)
    "\\binferSchema\\(".r.findAllMatchIn(code).collect {
      case m if !isDefinition(m.start) && !enclosing(m.start).exists(Allowed) =>
        lineOf(m.start)
    }.toSeq
  }
}
