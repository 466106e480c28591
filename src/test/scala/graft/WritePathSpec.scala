package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Bundles, FileStats, StoreLog, Tables, TsStore}

/** Every store write runs through one task writer, and each task reads
  * its files' stats off the footers it wrote. These pin what the
  * manifest then carries: for every file a verb adds, exactly the stats
  * (digests included) and size a driver-side footer pass over that file
  * would compute.
  */
class WritePathSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val uids = Seq("event_type")

  /** Rows shaped like the store: (event_id, ts, uid_i, value, version,
    * event_type), ids and timestamps shifted so batches stay disjoint.
    */
  private def rows(idShift: Long, days: Int, version: Long = 1L) =
    Tables.events(spark, TestSpark.sf001)
      .select((col("event_id") + idShift).as("event_id"),
        (col("ts") + expr(s"INTERVAL $days DAYS")).as("ts"),
        col("user_id").cast("int").as("uid_i"), col("value"),
        lit(version).as("version"), col("event_type"))

  /** Files `path` gained since version `since` (None = all live files)
    * carry the task-reported stats and sizes a footer pass over them
    * with the store's bloom columns reproduces.
    */
  private def assertTaskStats(verb: String, path: String,
                              since: Option[Long]): Unit = {
    val cur = StoreLog.latest(path).get
    val before = since.map(v => StoreLog.read(path, v).files.toSet)
      .getOrElse(Set.empty[String])
    val added = cur.files.filterNot(before)
    assert(added.nonEmpty, s"$verb added no file")
    val (stats, sizes) = FileStats.forFilesWithSizes(path, added, cur.bloomCols)
    added.foreach { f =>
      assert(cur.stats.get(f) === stats.get(f), s"$verb: stats of $f")
      assert(cur.sizes.get(f) === sizes.get(f), s"$verb: size of $f")
    }
    assert(added.forall(f => cur.stats.get(f).exists(_.contains("ts"))),
      s"$verb: a file without ts stats")
    if (cur.bloomCols.nonEmpty)
      assert(added.exists(f => cur.stats(f).values.exists(_.digest != null)),
        s"$verb: no digest on the bloom column")
  }

  test("every write verb commits the task-read stats a footer pass reproduces") {
    val root = Files.createTempDirectory("graft_wpath").toString
    val cat = s"gwp${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.main")
    val t = s"$cat.main.t"
    val path = s"$root/main/t"
    TsStore.write(rows(0L, 0), path, uidCols = uids, bloomKeys = Seq("uid_i"))
    // a renamed and a retyped column (the bloom column itself widens)
    spark.sql(s"ALTER TABLE $t RENAME COLUMN value TO amount")
    spark.sql(s"ALTER TABLE $t ALTER COLUMN uid_i TYPE BIGINT")
    def renamed(df: org.apache.spark.sql.DataFrame) =
      df.withColumnRenamed("value", "amount")
        .withColumn("uid_i", col("uid_i").cast("bigint"))
    val keys = rows(0L, 0).filter(col("event_id") % 5 === 0)
      .select(col("event_id"), lit(9L).as("del_v"))
    val mem = {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import sqlCtx.implicits._
      MemoryStream[(Long, java.sql.Timestamp, Long, Double, Long, String)]
    }
    val verbs: Seq[(String, () => Unit)] = Seq(
      "append" -> (() => TsStore.write(renamed(rows(1000000L, 400)), path,
        uidCols = uids, mode = SaveMode.Append)),
      "compact" -> (() => TsStore.compactPartitions(spark, path,
        StoreLog.latest(path).get.files
          .map(f => f.substring(0, f.lastIndexOf('/'))).distinct,
        tsCol = "ts", uidCols = uids)),
      "upsert" -> (() => TsStore.upsert(spark, path,
        renamed(rows(0L, 0, version = 2L)).filter(col("event_id") % 3 === 0),
        keyCols = Seq("event_id"), versionCol = "version", tsCol = "ts",
        uidCols = uids)),
      "delete" -> (() => TsStore.delete(spark, path, col("event_id") % 7 === 0,
        tsCol = "ts", uidCols = uids)),
      "deleteKeys" -> (() => TsStore.deleteKeys(spark, path, keys,
        keyCols = Seq("event_id"), deleteVersionCol = "del_v",
        versionCol = "version", tsCol = "ts", uidCols = uids)),
      "zorder" -> (() => TsStore.zorder(spark, path, Seq("uid_i", "event_id"), uids)),
      "insert" -> (() => {
        renamed(rows(2000000L, 800)).createOrReplaceTempView("wpath_ins")
        spark.sql(s"INSERT INTO $t SELECT event_id, ts, uid_i, amount, " +
          "version, event_type FROM wpath_ins")
      }),
      "stream" -> (() => {
        val q = mem.toDF()
          .toDF("event_id", "ts", "uid_i", "amount", "version", "event_type")
          .writeStream.format("graft-store")
          .option("path", path).option("tsCol", "ts").option("uids", "event_type")
          .option("feedId", "wpath")
          .option("checkpointLocation", Files.createTempDirectory("graft_wpath_ck").toString)
          .start()
        try {
          // enough repeats per file for parquet to keep the dictionary
          // the digest is read from
          mem.addData((0 until 40).map(i => (3000000L + i,
            new java.sql.Timestamp(1893456000000L + i * 1000L), (i % 3).toLong,
            i * 1.5, 1L, if (i % 2 == 0) "view" else "click")))
          q.processAllAvailable()
        } finally q.stop()
      }),
      // an Overwrite replaces the renamed store with a new one
      "overwrite" -> (() => TsStore.write(rows(0L, 0), path, uidCols = uids,
        bloomKeys = Seq("uid_i"))))
    assertTaskStats("create", path, None)
    verbs.foreach { case (verb, run) =>
      val v0 = StoreLog.latestVersion(path).get
      run()
      // an Overwrite starts a new log at version 1
      val created = verb == "overwrite"
      assert(StoreLog.latestVersion(path).get === (if (created) 1L else v0 + 1),
        s"$verb: not one commit")
      assertTaskStats(verb, path, if (created) None else Some(v0))
    }

    // a Bundles compaction of a collection with a bloom column
    val base = Files.createTempDirectory("graft_wpath_b").toString
    val ct = new Bundles(spark, base)
    TsStore.write(rows(0L, 0).drop("event_type").withColumn(ct.UidCol, lit("aapl")),
      s"$base/default", uidCols = Seq(ct.UidCol), bloomKeys = Seq("uid_i"))
    ct.write("aapl", rows(1000000L, 400).drop("event_type"),
      overlapPolicy = TsStore.OverlapPolicy.Allow)
    val vb = StoreLog.latestVersion(s"$base/default")
    ct.compact()
    assert(StoreLog.latestVersion(s"$base/default") !== vb)
    assertTaskStats("bundles compact", s"$base/default", None)
  }

  test("writes under an INT96 session keep the session value and still carry ts stats") {
    val key = "spark.sql.parquet.outputTimestampType"
    spark.conf.set(key, "INT96")
    try {
      val dir = Files.createTempDirectory("graft_wpath_int96").toString
      TsStore.write(rows(0L, 0), dir, uidCols = uids)
      assert(spark.conf.get(key) === "INT96")
      assertTaskStats("write", dir, None)
      val v = StoreLog.latestVersion(dir).get
      TsStore.upsert(spark, dir, rows(0L, 0, version = 2L).filter(col("event_id") % 3 === 0),
        keyCols = Seq("event_id"), versionCol = "version", tsCol = "ts",
        uidCols = uids)
      assert(spark.conf.get(key) === "INT96")
      assertTaskStats("upsert", dir, Some(v))
    } finally spark.conf.unset(key)
  }

  test("an empty-string uid overwrites an existing store and reads back as null") {
    val dir = Files.createTempDirectory("graft_wpath_blank").toString
    TsStore.write(rows(0L, 0), dir, uidCols = uids)
    // "" lands where Spark's dynamic-partition writer puts it: the
    // default partition, which reads back as null
    val blank = rows(1000000L, 400)
      .withColumn("event_type",
        when(col("event_id") % 2 === 0, lit("")).otherwise(col("event_type")))
    TsStore.write(blank, dir, uidCols = uids)
    assert(StoreLog.latestVersion(dir) === Some(1L))
    val files = StoreLog.latest(dir).get.files
    assert(files.exists(_.startsWith("event_type=__HIVE_DEFAULT_PARTITION__/")))
    assert(!files.exists(_.startsWith("event_type=/")))
    val back = TsStore.load(spark, dir)
    assert(back.count() === blank.count())
    assert(back.filter(col("event_type").isNull).count() ===
      blank.filter(col("event_type") === "").count())
    assert(back.filter(col("event_id") < 1000000L).count() === 0L)
  }

  test("an empty Overwrite still declares the frame's columns") {
    val empty = rows(0L, 0).limit(0)
    Seq(uids, Nil).foreach { parts =>
      val dir = Files.createTempDirectory("graft_wpath_empty").toString
      TsStore.write(empty, dir, uidCols = parts)
      val back = TsStore.load(spark, dir)
      assert(back.columns.toSeq ===
        empty.columns.filterNot(parts.contains).toSeq ++ parts)
      assert(back.count() === 0L)
    }
  }

  test("a task's deserialized write conf is a JobConf its attempt context takes as is") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
    import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
    val conf = new Configuration(false)
    conf.set("graft.test.key", "v")
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(new sources.GraftSerializableConf(conf)); out.close()
    val back = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes.toByteArray))
      .readObject().asInstanceOf[sources.GraftSerializableConf].value
    assert(back.isInstanceOf[org.apache.hadoop.mapred.JobConf])
    assert(back.get("graft.test.key") === "v")
    assert(back.size() === conf.size())
    val id = new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0)
    assert(new TaskAttemptContextImpl(back, id).getConfiguration eq back)
  }

  test("a format(graft) append to a directory without a log adopts it before its files move in") {
    val dir = Files.createTempDirectory("graft_wpath_adopt").toString + "/t"
    rows(0L, 0).write.partitionBy(uids: _*).parquet(dir)
    val plain = StoreLog.listDataFiles(dir)
    assert(plain.nonEmpty && !StoreLog.exists(dir))
    rows(1000000L, 30).write.format("graft").partitionBy(uids: _*)
      .mode(SaveMode.Append).save(dir)
    assert(StoreLog.listVersions(dir) === Seq(1L, 2L))
    // v1 names only the files that were there, none of the write's
    assert(StoreLog.read(dir, 1L).files === plain)
    // v2's txn adds exactly the write's files, with the tasks' stats
    val (add, remove, _) = StoreLog.rawDelta(dir, 2L).get
    assert(remove.isEmpty && add.nonEmpty && add.toSet.intersect(plain.toSet).isEmpty)
    assert(StoreLog.read(dir, 2L).files.sorted === (plain ++ add).sorted)
    assertTaskStats("format(graft) append", dir, Some(1L))
    assert(TsStore.read(spark, dir).count() === rows(0L, 0).count() * 2)
    // on a fresh path v1 is empty, and the commit adding the first files
    // declares the schema (as an adoption of those files would)
    val fresh = Files.createTempDirectory("graft_wpath_fresh").toString + "/t"
    rows(0L, 0).write.format("graft").partitionBy(uids: _*).mode(SaveMode.Append).save(fresh)
    assert(StoreLog.read(fresh, 1L).files.isEmpty)
    assert(graft.sources.GraftTable.declaredIn(StoreLog.propsAt(fresh, 2L)) ===
      Some(graft.sources.GraftTable.inferSchema(spark, fresh, StoreLog.read(fresh, 2L).files)))
  }
}
