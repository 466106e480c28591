package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ZOrder
import graft.sources.{FileStats, StoreLog, Tables, TsStore}

/** Z-order clustering rewrite: content preservation, time travel, and —
  * the point of the verb — that manifest-stat pruning engages on the
  * cluster columns afterwards.
  */
class ZorderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")

  test("zValue interleaves bucket ranks monotonically per dimension") {
    import spark.implicits._
    val df = (0 until 64).map(i => (i.toLong, (63 - i).toLong)).toDF("a", "b")
    val bs = ZOrder.boundaries(df, Seq("a", "b"), 8)
    assert(bs("a").length === 7 && bs("b").length === 7)
    val z = df.withColumn("z", ZOrder.zValue(bs, Seq("a", "b")))
    // holding b's bucket fixed, z grows with a's bucket (and vice versa):
    // check the two extreme corners and that z is bounded by the bit budget
    val rows = z.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val zMax = rows.map(_._3).max
    assert(zMax < (1L << 6), s"2 dims x 3 bits must fit in 6 bits, got $zMax")
    // a=0,b=63 and a=63,b=0 land in opposite bucket corners, so their z
    // values share no high bit pattern with the a=63,b=63-style corner
    val z00 = rows.find(r => r._1 === 0L).get._3  // a=0  → b=63: buckets (0,7)
    val z63 = rows.find(r => r._1 === 63L).get._3 // a=63 → b=0 : buckets (7,0)
    assert(z00 !== z63)
  }

  test("zValue ranks nulls LAST, past every non-null bucket") {
    import spark.implicits._
    val df = (0 until 32).map(i => (i.toLong, Some(i.toLong)))
      .toDF("a", "b")
      .union(Seq((32L, Option.empty[Long])).toDF("a", "b"))
    val bs = ZOrder.boundaries(df, Seq("b"), 8)
    val z = df.withColumn("z", ZOrder.zValue(bs, Seq("b")))
    val nullZ = z.filter(col("b").isNull).select("z").as[Long].head()
    val maxNonNull = z.filter(col("b").isNotNull).agg(max("z")).as[Long].head()
    assert(nullZ >= maxNonNull,
      s"null must cluster last: nullZ=$nullZ maxNonNull=$maxNonNull")
  }

  test("zorder preserves content, compacts, and time-travels") {
    val events = Tables.events(spark, TestSpark.sf001)
    val dir = Files.createTempDirectory("graft_zorder").toString
    TsStore.write(events, dir, tsCol = "ts", uidCols = Seq("event_type"),
      maxRecordsPerFile = 100)
    val pre = StoreLog.ensure(dir)
    val v = TsStore.zorder(spark, dir, clusterCols = Seq("user_id", "value"),
      uidCols = Seq("event_type"))
    val post = StoreLog.latest(dir).get
    assert(post.version === v && v > pre.version)
    // full content identical
    val back = TsStore.load(spark, dir).select(cols.map(col): _*)
    val src = events.select(cols.map(col): _*)
    assert(back.count() === src.count())
    assert(back.except(src).count() === 0 && src.except(back).count() === 0)
    // rewrite replaced every pre-zorder live file
    assert(post.files.toSet.intersect(pre.files.toSet).isEmpty)
    // pre-zorder version still readable asOf
    val old = TsStore.load(spark, dir, asOf = Some(pre.version))
    assert(old.count() === src.count())
  }

  test("manifest-stat pruning engages on the cluster columns after zorder") {
    val events = Tables.events(spark, TestSpark.sf01)
    val dir = Files.createTempDirectory("graft_zprune").toString
    // ts-sorted landing in many small chunks: user_id bounds per file are
    // the full domain, so a user_id predicate prunes nothing
    TsStore.write(events, dir, tsCol = "ts", uidCols = Seq("event_type"),
      maxRecordsPerFile = 50)
    val pred = col("user_id") === 3L
    val pre = StoreLog.ensure(dir)
    val keptBefore = FileStats.prune(pre.files, pre.stats, pred).size
    assert(pre.files.size >= 16, s"fixture too small: ${pre.files.size} files")
    // ts-sorted layout barely prunes on user_id (most small files still
    // span most of the uid domain by chance)
    assert(keptBefore * 2 >= pre.files.size,
      s"unexpectedly prunable before zorder: $keptBefore of ${pre.files.size}")
    TsStore.zorder(spark, dir, clusterCols = Seq("user_id", "value"),
      uidCols = Seq("event_type"), maxRecordsPerFile = 50)
    val post = StoreLog.latest(dir).get
    val keptAfter = FileStats.prune(post.files, post.stats, pred).size
    assert(post.files.size >= 16, s"rewrite collapsed too far: ${post.files.size}")
    assert(keptAfter * 2 <= post.files.size,
      s"zorder must make user_id prunable: kept $keptAfter of ${post.files.size}")
    assert(keptAfter * 2 <= keptBefore,
      s"zorder must at least halve the kept set: $keptBefore -> $keptAfter")
    // and the pruned read still returns exactly the right rows
    val got = TsStore.load(spark, dir).filter(pred)
    val want = events.filter(pred)
    assert(got.count() === want.count())
    assert(got.select(cols.map(col): _*).except(want.select(cols.map(col): _*)).count() === 0)
  }

  test("scoped zorder: out-of-scope partitions byte-identical, in-scope prunes, time travel intact") {
    val events = Tables.events(spark, TestSpark.sf01)
    val dir = Files.createTempDirectory("graft_zscope").toString
    TsStore.write(events, dir, tsCol = "ts", uidCols = Seq("event_type"),
      maxRecordsPerFile = 50)
    val pre = StoreLog.ensure(dir)
    val preByPrefix = pre.files.groupBy(f => f.substring(0, f.lastIndexOf('/')))
    val allPrefixes = preByPrefix.keySet
    assert(allPrefixes.size >= 3, s"fixture needs several partitions: $allPrefixes")
    // scope = ONE partition, resolved through the predicate face
    val scope = TsStore.partitionPrefixesWhere(spark, pre,
      "event_type = 'view'")
    assert(scope === Seq("event_type=view"))
    // byte fingerprint of every out-of-scope file before the rewrite
    def fileBytes(rel: String): (Long, Long) = {
      val p = java.nio.file.Paths.get(dir, rel)
      (Files.size(p), Files.getLastModifiedTime(p).toMillis)
    }
    val outBefore = pre.files.filterNot(_.startsWith("event_type=view/"))
      .map(f => f -> fileBytes(f)).toMap
    val v = TsStore.zorder(spark, dir, clusterCols = Seq("user_id", "value"),
      uidCols = Seq("event_type"), maxRecordsPerFile = 50, scope = scope)
    val post = StoreLog.latest(dir).get
    assert(post.version === v)
    // manifest: out-of-scope files SURVIVE (same entries), in-scope all
    // replaced; `replaced` names only the scoped prefix so concurrent
    // writers elsewhere rebase cleanly
    val postByPrefix = post.files.groupBy(f => f.substring(0, f.lastIndexOf('/')))
    allPrefixes.filterNot(_ == "event_type=view").foreach { p =>
      assert(postByPrefix(p).sorted === preByPrefix(p).sorted,
        s"out-of-scope partition $p must keep its exact file set")
    }
    assert(post.files.filter(_.startsWith("event_type=view/"))
      .toSet.intersect(pre.files.toSet).isEmpty,
      "every in-scope file must be replaced")
    assert(post.replaced === Seq("event_type=view"),
      s"replaced must name ONLY the scope: ${post.replaced}")
    // out-of-scope bytes untouched on disk
    outBefore.foreach { case (f, sig) =>
      assert(fileBytes(f) === sig, s"out-of-scope file $f was rewritten")
    }
    // content identical overall; pruning engages INSIDE the scope
    val src = events.select(cols.map(col): _*)
    val back = TsStore.load(spark, dir).select(cols.map(col): _*)
    assert(back.count() === src.count())
    assert(back.except(src).count() === 0 && src.except(back).count() === 0)
    val pred = col("user_id") === 3L
    val inScope = post.files.filter(_.startsWith("event_type=view/"))
    val keptIn = FileStats.prune(inScope, post.stats, pred).size
    assert(keptIn * 2 <= inScope.size,
      s"scoped zorder must make user_id prunable inside the scope: " +
        s"$keptIn of ${inScope.size}")
    // time travel to the pre-rewrite version still exact
    assert(TsStore.load(spark, dir, asOf = Some(pre.version)).count() ===
      src.count())
    // a scope admitting nothing is a no-op at the current version
    assert(TsStore.zorder(spark, dir, Seq("user_id"), Seq("event_type"),
      scope = Seq("event_type=absent")) === post.version)
  }

  test("CALL system.zorder(..., where) scopes from pure SQL") {
    val events = Tables.events(spark, TestSpark.sf001)
    val root = Files.createTempDirectory("graft_zcall").toString
    val cat = s"gzc${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.main")
    events.createOrReplaceTempView("zcall_src")
    spark.sql(s"CREATE TABLE $cat.main.e USING graft PARTITIONED BY (event_type) " +
      "TBLPROPERTIES ('write.maxRecordsPerFile'='100') AS SELECT * FROM zcall_src")
    val path = s"$root/main/e"
    val pre = StoreLog.latest(path).get
    val outPre = pre.files.filterNot(_.startsWith("event_type=click/")).toSet
    val got = spark.sql(s"CALL $cat.system.zorder('main.e', 'user_id,value', " +
      "where => \"event_type = 'click'\")").head()
    val post = StoreLog.latest(path).get
    assert(got.getLong(0) === post.version && post.version > pre.version)
    assert(post.files.filterNot(_.startsWith("event_type=click/")).toSet === outPre,
      "CALL-scoped zorder must leave out-of-scope partitions' manifest entries alone")
    assert(post.files.filter(_.startsWith("event_type=click/"))
      .toSet.intersect(pre.files.toSet).isEmpty)
    assert(spark.table(s"$cat.main.e").count() === events.count())
    // a where admitting no partition: no-op, version unchanged
    val same = spark.sql(s"CALL $cat.system.zorder('main.e', 'user_id', " +
      "where => \"event_type = 'nope'\")").head()
    assert(same.getLong(0) === post.version)
  }

  test("zorder on a value-range predicate prunes too (second dimension)") {
    val events = Tables.events(spark, TestSpark.sf01)
    val dir = Files.createTempDirectory("graft_zdim2").toString
    TsStore.write(events, dir, tsCol = "ts", uidCols = Seq("event_type"),
      maxRecordsPerFile = 50)
    TsStore.zorder(spark, dir, clusterCols = Seq("user_id", "value"),
      uidCols = Seq("event_type"), maxRecordsPerFile = 50)
    val post = StoreLog.latest(dir).get
    val pred = col("value") > lit(300.0)
    val kept = FileStats.prune(post.files, post.stats, pred).size
    assert(kept * 2 <= post.files.size,
      s"value-range predicate should prune z-ordered files: $kept of ${post.files.size}")
  }

  test("incremental zorder rewrites ONLY files added since the marker") {
    val events = Tables.events(spark, TestSpark.sf001)
      .select(cols.head, cols.tail: _*)
    val dir = Files.createTempDirectory("graft_zorder_incr").toString
    TsStore.write(events.filter(col("event_id") % 2 === 0), dir,
      tsCol = "ts", uidCols = Seq("event_type"), maxRecordsPerFile = 200)
    // whole-store pass records the cluster marker
    val v1 = TsStore.zorder(spark, dir, clusterCols = Seq("user_id"),
      uidCols = Seq("event_type"), buckets = 16, maxRecordsPerFile = 200)
    val p1 = StoreLog.propsAt(dir, v1)
    assert(p1.get(TsStore.ClusterColsProp).contains("user_id"))
    assert(p1.get(TsStore.ClusterVersionProp).exists(_.toLong === v1 - 1))
    val clusteredAtV1 = StoreLog.read(dir, v1).files.toSet
    // fresh appends land unclustered files
    TsStore.write(events.filter(col("event_id") % 2 === 1), dir,
      tsCol = "ts", uidCols = Seq("event_type"),
      mode = org.apache.spark.sql.SaveMode.Append,
      overlapPolicy = TsStore.OverlapPolicy.Allow, maxRecordsPerFile = 200)
    val v2 = StoreLog.latestVersion(dir).get
    val appended = StoreLog.rawDelta(dir, v2).get._1.toSet
    assert(appended.nonEmpty)
    // incremental pass: its remove set is EXACTLY the appended files —
    // the first pass's output is never churned
    val v3 = TsStore.zorder(spark, dir, clusterCols = Seq("user_id"),
      uidCols = Seq("event_type"), buckets = 16, maxRecordsPerFile = 200,
      incremental = true)
    assert(v3 === v2 + 1)
    val (add3, rm3, _) = StoreLog.rawDelta(dir, v3).get
    assert(rm3.toSet === appended,
      s"incremental pass must rewrite exactly the appends: $rm3 vs $appended")
    assert(add3.nonEmpty && add3.toSet.intersect(clusteredAtV1).isEmpty)
    // marker advanced; an immediate second incremental pass is a no-op
    assert(StoreLog.propsAt(dir, v3)
      .get(TsStore.ClusterVersionProp).exists(_.toLong === v2))
    assert(TsStore.zorder(spark, dir, clusterCols = Seq("user_id"),
      uidCols = Seq("event_type"), buckets = 16,
      incremental = true) === v3)
    // content identical to the pre-pass view
    val got = TsStore.load(spark, dir).count()
    assert(got === events.count())
    // a different cluster column refuses the stale marker (full pass)
    val v4 = TsStore.zorder(spark, dir, clusterCols = Seq("value"),
      uidCols = Seq("event_type"), buckets = 16, maxRecordsPerFile = 200,
      incremental = true)
    val (_, rm4, _) = StoreLog.rawDelta(dir, v4).get
    assert(rm4.size === StoreLog.read(dir, v4 - 1).files.size,
      "a cols mismatch must fall back to a whole-store pass")
    assert(StoreLog.propsAt(dir, v4)
      .get(TsStore.ClusterColsProp).contains("value"))
  }
}
