package graft.sources

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{CountingFs, CountingLocalFileSystem, TestSpark}

/** A sliced store read builds its parquet reader once per scan and ships
  * the session Hadoop conf through one broadcast per distinct conf
  * content (`org.apache.spark.sql.ParquetConfBroadcasts`), and it
  * parses each manifest of the version it reads once.
  */
class ScanConfBroadcastSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s"2024-01-0$s")

  /** Three daily appends of series A..D, one row a minute. */
  private def build(dir: String): String = {
    for (day <- 1 to 3) {
      val t0 = ts(s"$day 00:00:00").getTime
      val rows = for (uid <- Seq("A", "B", "C", "D"); m <- 0 until 1440) yield
        (uid, new java.sql.Timestamp(t0 + m * 60000L), m % 7, m * 0.25 + day, m % 3 == 0)
      TsStore.write(rows.toDF("uid", "ts", "size", "price", "flag"), dir,
        tsCol = "ts", uidCols = Seq("uid"),
        mode = if (day == 1) SaveMode.Overwrite else SaveMode.Append)
    }
    dir
  }

  private lazy val store: String = build(Files.createTempDirectory("scanconf").toString)

  private val cols = Seq("ts", "price")

  private def slice(from: String, to: String, columns: Seq[String] = cols,
                    path: String = store): DataFrame =
    TsStore.read(spark, path, uid = Some("uid" -> "A"), start = Some(ts(from)),
      end = Some(ts(to)), columns = columns)

  /** The same slice through a plain parquet read of the store's files. */
  private def reference(from: String, to: String, columns: Seq[String]): Seq[String] =
    spark.read.parquet(store)
      .filter(col("uid") === "A" && col("ts") >= ts(from) && col("ts") <= ts(to))
      .select(columns.map(col): _*).collect().map(_.toString).toSeq.sorted

  private def scanExec(p: SparkPlan): BatchScanExec =
    p.collectFirst { case b: BatchScanExec => b }.get

  /** The Hadoop conf the read's parquet reader runs under. */
  private def readerConf(df: DataFrame): Configuration =
    scanExec(df.queryExecution.executedPlan).readerFactory match {
      case f: GraftColumnarReaderFactory => f.readerFunc match {
        case r: ParquetFileReads => r.factory.broadcastedConf.value.value
        case other => fail(s"unexpected reader $other")
      }
      case other => fail(s"unexpected reader factory $other")
    }

  test("the planned and the executed scan of one read share one reader factory") {
    val qe = slice("1 01:00:00", "1 02:00:00").queryExecution
    assert(scanExec(qe.sparkPlan).readerFactory eq scanExec(qe.executedPlan).readerFactory)
  }

  test("a repeat read with other ts bounds broadcasts only its task binaries") {
    val sc = spark.sparkContext
    slice("1 01:00:00", "1 02:00:00").collect()
    val stages = new AtomicInteger
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        stages.incrementAndGet(); ()
      }
    }
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val before = sc.broadcast(0)
      val rows = slice("2 03:00:00", "2 05:00:00").collect()
      val after = sc.broadcast(0)
      org.apache.spark.TestBus.drain(sc)
      assert(rows.length === 121)
      assert(stages.get > 0)
      // one broadcast per submitted stage (its task binary), none else
      assert(after.id - before.id - 1 === stages.get.toLong)
      before.destroy(); after.destroy()
    } finally sc.removeSparkListener(listener)
  }

  test("a spark.conf.set between two reads reaches the second read's reader conf only") {
    val key = "graft.test.readerConfProbe"
    spark.conf.set(key, "first")
    val first = slice("1 01:00:00", "1 02:00:00")
    val firstConf = try readerConf(first) finally spark.conf.set(key, "second")
    val second = slice("1 01:00:00", "1 02:00:00")
    val secondConf = try readerConf(second) finally spark.conf.unset(key)
    assert(firstConf.get(key) === "first")
    assert(secondConf.get(key) === "second")
    val want = reference("1 01:00:00", "1 02:00:00", cols)
    assert(first.collect().map(_.toString).toSeq.sorted === want)
    assert(second.collect().map(_.toString).toSeq.sorted === want)
  }

  test("concurrent reads with different projections return the parquet rows") {
    import scala.concurrent.ExecutionContext.Implicits.global
    val shapes = Seq(cols, Seq("ts", "size", "flag"), Seq("price"))
    val runs = shapes.map(c =>
      Future(slice("2 00:00:00", "3 12:00:00", c).collect().map(_.toString).toSeq.sorted))
    val got = Await.result(Future.sequence(runs), 5.minutes)
    shapes.zip(got).foreach { case (c, rows) =>
      assert(rows === reference("2 00:00:00", "3 12:00:00", c), c)
    }
  }

  test("a read lists the log once and opens each manifest of a 3-version store once") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.gcnt.impl", classOf[CountingLocalFileSystem].getName)
    conf.set("fs.AbstractFileSystem.gcnt.impl", classOf[CountingFs].getName)
    conf.set(CommitIo.ExtraCasSchemesKey, "mocknn,gcnt")
    val dir = build(s"gcnt://${Files.createTempDirectory("scanconf_gcnt")}/store")
    assert(StoreLog.listVersions(dir) === Seq(1L, 2L, 3L))
    val listings = CountingLocalFileSystem.logListings.get()
    val opens = CountingLocalFileSystem.manifestOpens.get()
    val rows = slice("2 03:00:00", "2 05:00:00", path = dir).collect()
    assert(rows.length === 121)
    assert(CountingLocalFileSystem.logListings.get() - listings === 1L)
    assert(CountingLocalFileSystem.manifestOpens.get() - opens <= 4L)
  }
}
