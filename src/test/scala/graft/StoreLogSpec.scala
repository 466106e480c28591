package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{CommitIo, StoreLog, Tables, TsStore}

/** The manifest commit protocol: crash atomicity (readers see fully-old
  * or fully-new, never a mix), cross-process-style conflict detection
  * (CAS, no JVM lock involved), time travel, and vacuum.
  */
class StoreLogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val events = Tables.events(spark, TestSpark.sf001)
  private val cols = Seq("event_id", "ts", "user_id", "event_type", "value")

  private def freshStore(): (String, org.apache.spark.sql.DataFrame) = {
    val dir = Files.createTempDirectory("graft_log").toString
    val base = events.select(cols.map(col) :+ lit(1L).as("version"): _*)
    TsStore.write(base, dir, tsCol = "ts", uidCols = Seq("event_type"))
    (dir, base)
  }

  private def delta(mod: Int, bump: Double) =
    events.filter(col("event_type") === "purchase" && col("event_id") % mod === 0)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        (col("value") + bump).as("value"), lit(2L).as("version"))

  private def merged(base: org.apache.spark.sql.DataFrame,
                     deltas: org.apache.spark.sql.DataFrame*) = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_id").orderBy(desc("version"), desc("__src"))
    deltas.zipWithIndex
      .map { case (d, i) => d.withColumn("__src", lit(i + 1)) }
      .foldLeft(base.withColumn("__src", lit(0)))(_ unionByName _)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "__src")
  }

  private def same(a: org.apache.spark.sql.DataFrame,
                   b: org.apache.spark.sql.DataFrame): Unit = {
    val aa = a.select(cols.map(col) :+ col("version"): _*)
    val bb = b.select(cols.map(col) :+ col("version"): _*)
    assert(aa.count() === bb.count())
    assert(aa.except(bb).count() === 0)
    assert(bb.except(aa).count() === 0)
  }

  test("uncommitted data files are invisible: a crashed upsert leaves the store fully-old") {
    val (dir, base) = freshStore()
    StoreLog.ensure(dir)
    val before = TsStore.read(spark, dir)
    val n = before.count()
    // simulate the crash point of upsert: files staged AND moved into
    // the partition directories, but the manifest commit never happened
    // (everything before the commit is exactly this state)
    val part = Paths.get(dir, "event_type=purchase")
    val victim = Files.list(part).filter(_.toString.endsWith(".parquet")).findFirst().get()
    Files.copy(victim, part.resolve("part-deadbeef-orphan.c000.parquet"))
    // a directory read would now double-count; the manifest read must not
    assert(TsStore.read(spark, dir).count() === n, "reader saw uncommitted files")
    same(TsStore.read(spark, dir), base)
    // a writer that crashed BEFORE adopting leaves a staged txn dir —
    // hidden from readers, reclaimed only by an AGE-gated vacuum
    val txn = Paths.get(dir, "_graft_txn_deadbeef")
    Files.createDirectories(txn.resolve("event_type=purchase"))
    Files.copy(victim, txn.resolve("event_type=purchase/part-x.c000.parquet"))
    assert(TsStore.read(spark, dir).count() === n)
    // fresh staging (an in-flight writer) survives vacuum...
    assert(TsStore.vacuum(dir) === 1)
    assert(Files.exists(txn), "vacuum deleted an in-flight writer's staging dir")
    assert(!Files.exists(part.resolve("part-deadbeef-orphan.c000.parquet")))
    // ...aged-out staging (a crashed writer) is reclaimed
    Files.setLastModifiedTime(txn,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 2L * 3600 * 1000))
    TsStore.vacuum(dir)
    assert(!Files.exists(txn))
  }

  test("upsert commits one atomic version; time travel reads the pre-upsert store") {
    val (dir, base) = freshStore()
    val d1 = delta(10, 1000.0)
    val v = TsStore.upsert(spark, dir, d1, keyCols = Seq("event_id"),
      versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))
    assert(v === 2L, s"expected ensure()=v1 + upsert()=v2, got v$v")
    assert(TsStore.versions(dir) === Seq(1L, 2L))
    same(TsStore.read(spark, dir), merged(base, d1))
    // the pre-upsert snapshot, reconstructed from the SAME directory
    same(TsStore.read(spark, dir, asOf = Some(1L)), base)
    // a second upsert stacks another version; both old snapshots hold
    val d2 = delta(7, 5000.0).withColumn("version", lit(3L))
    TsStore.upsert(spark, dir, d2, keyCols = Seq("event_id"),
      versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))
    same(TsStore.read(spark, dir), merged(base, d1, d2))
    same(TsStore.read(spark, dir, asOf = Some(2L)), merged(base, d1))
    same(TsStore.read(spark, dir, asOf = Some(1L)), base)
  }

  test("vacuum drops dead files and old manifests; the live read is unchanged") {
    val (dir, base) = freshStore()
    val d1 = delta(10, 1000.0)
    TsStore.upsert(spark, dir, d1, keyCols = Seq("event_id"),
      versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))
    val expect = merged(base, d1)
    assert(TsStore.vacuum(dir) > 0, "upsert left no dead files to reclaim?")
    same(TsStore.read(spark, dir), expect)
    // history beyond the retention window is gone, loudly
    assertThrows[IllegalArgumentException] {
      TsStore.read(spark, dir, asOf = Some(1L)).collect()
    }
  }

  test("manifests record per-file byte sizes; deltas carry them; vacuum's rewrite keeps them") {
    val (dir, _) = freshStore()
    StoreLog.ensure(dir)
    def checkComplete(): Unit = {
      val snap = StoreLog.latest(dir).get
      assert(snap.files.nonEmpty)
      snap.files.foreach { f =>
        val actual = new java.io.File(s"$dir/$f").length()
        assert(snap.sizes.get(f) === Some(actual),
          s"recorded size for $f must equal the on-disk length")
      }
    }
    checkComplete()
    // an upsert's DELTA commit carries the new files' sizes; survivors
    // keep theirs through the chain resolution
    TsStore.upsert(spark, dir, delta(10, 5.0), keyCols = Seq("event_id"),
      versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))
    checkComplete()
    // a keyed delete's rewrite re-records the rewritten files' sizes
    TsStore.delete(spark, dir, col("event_type") === "click" && col("event_id") % 7 === 0,
      tsCol = "ts", uidCols = Seq("event_type"))
    checkComplete()
    // vacuum's oldest-retained checkpoint rewrite must not lose the index
    TsStore.vacuum(dir, retainVersions = 1)
    checkComplete()
  }

  test("adoptStagedNamed moves ONLY the named files: failed-attempt leftovers die with staging") {
    val dir = Files.createTempDirectory("graft_adopt").toString
    val staging = s"$dir/_graft_txn_test"
    Files.createDirectories(Paths.get(s"$staging/k=a"))
    // the committed attempt's file + a torn speculative leftover
    Files.write(Paths.get(s"$staging/k=a/good.parquet"), "g".getBytes)
    Files.write(Paths.get(s"$staging/k=a/torn-attempt.parquet"), "t".getBytes)
    val moved = StoreLog.adoptStagedNamed(dir, staging, Seq("k=a/good.parquet"))
    assert(moved === Seq("k=a/good.parquet"))
    assert(Files.exists(Paths.get(s"$dir/k=a/good.parquet")))
    assert(!Files.exists(Paths.get(s"$dir/k=a/torn-attempt.parquet")),
      "an un-named staging file must never reach the store")
    StoreLog.deleteStaging(staging)
    assert(!Files.exists(Paths.get(staging)))
  }

  test("the commit primitive is atomic ACROSS PROCESSES: one hard link wins") {
    // the CAS is link(2) — a kernel-level fail-if-exists. Eight separate
    // OS processes race distinct sources onto one target; regardless of
    // scheduling, exactly one may succeed and the survivor must be one
    // writer's intact content (this is what makes StoreLog cross-
    // process safe without any lock file)
    val dir = Files.createTempDirectory("graft_xproc")
    val target = dir.resolve("v00000001.json")
    val procs = (0 until 8).map { i =>
      val src = dir.resolve(s"src_$i")
      Files.write(src, s"writer-$i".getBytes)
      new ProcessBuilder("ln", src.toString, target.toString)
        .redirectErrorStream(true).start()
    }
    val wins = procs.map(_.waitFor()).count(_ == 0)
    assert(wins === 1, s"expected exactly one winning link, got $wins")
    assert(new String(Files.readAllBytes(target)).matches("writer-\\d"),
      "surviving manifest is not one writer's intact content")
  }

  test("commit CAS: the second writer to a version loses, deterministically") {
    val dir = Files.createTempDirectory("graft_cas").toString
    StoreLog.commit(dir, 0L, Seq.empty, Seq("a.parquet"))
    StoreLog.commit(dir, 1L, Seq("p=1"), Seq("a.parquet", "p=1/b.parquet"))
    val e = intercept[StoreLog.CommitConflict] {
      StoreLog.commit(dir, 1L, Seq("p=2"), Seq("a.parquet", "p=2/c.parquet"))
    }
    assert(e.getMessage.contains("concurrent writer"))
    assert(StoreLog.latest(dir).get.files === Seq("a.parquet", "p=1/b.parquet"))
  }

  test("concurrent upserts to DISJOINT partitions both commit (rebase), no JVM lock needed") {
    val (dir, base) = freshStore()
    // force both writers to start from the same base version
    StoreLog.ensure(dir)
    val dPurchase = delta(10, 1000.0).localCheckpoint()
    val dClick = events.filter(col("event_type") === "click" && col("event_id") % 10 === 0)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        (col("value") + 2000.0).as("value"), lit(2L).as("version")).localCheckpoint()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = Seq(dPurchase, dClick).map { d =>
      Future(TsStore.upsert(spark, dir, d, keyCols = Seq("event_id"),
        versionCol = "version", tsCol = "ts", uidCols = Seq("event_type")))
    }
    val versions = Await.result(Future.sequence(fs), 5.minutes)
    assert(versions.toSet.size === 2, s"both writers must commit distinct versions: $versions")
    assert(versions.forall(_ >= 2L))
    // final state = BOTH deltas applied — neither commit clobbered the other
    same(TsStore.read(spark, dir), merged(base, dPurchase, dClick))
  }

  test("concurrent upserts to the SAME partition: never a mixed state") {
    val (dir, base) = freshStore()
    StoreLog.ensure(dir)
    val d1 = delta(10, 1000.0).localCheckpoint()
    val d2 = delta(6, 3000.0).localCheckpoint()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(Future.sequence(Seq(d1, d2).map { d =>
      Future(TsStore.upsert(spark, dir, d, keyCols = Seq("event_id"),
        versionCol = "version", tsCol = "ts", uidCols = Seq("event_type")))
        .map(Right(_)).recover { case c: StoreLog.CommitConflict => Left(c) }
    }), 5.minutes)
    val winners = results.zip(Seq(d1, d2)).collect { case (Right(_), d) => d }
    assert(winners.nonEmpty, "at least one writer must commit")
    // the store equals the latest-wins merge of exactly the committed
    // writers — fully-old-or-fully-new per writer, never a row mix. If
    // both committed they serialized (the later one saw no overlap only
    // if the earlier finished before it ensured — then d2-after-d1 and
    // d1-after-d2 agree here because the two deltas never share a key
    // with DIFFERENT values... they do share keys (mod 30), so order
    // matters: accept either serialization.
    val got = TsStore.read(spark, dir)
    val serializations = winners.permutations.map(ds => merged(base, ds: _*)).toSeq
    val ok = serializations.exists { exp =>
      got.select(cols.map(col) :+ col("version"): _*)
        .except(exp.select(cols.map(col) :+ col("version"): _*)).isEmpty &&
      exp.select(cols.map(col) :+ col("version"): _*)
        .except(got.select(cols.map(col) :+ col("version"): _*)).isEmpty
    }
    assert(ok, "store state is not any serial application of the committed upserts")
  }

  test("append to a logged store is manifest-committed (visible, atomic)") {
    val (dir, _) = freshStore()
    TsStore.upsert(spark, dir, delta(10, 1000.0), keyCols = Seq("event_id"),
      versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))
    val n = TsStore.read(spark, dir).count()
    val extra = events.filter(col("event_type") === "purchase").limit(5)
      .select(col("event_id") + 50000000L, col("ts"), col("user_id"),
        col("event_type"), col("value"), lit(9L).as("version"))
      .toDF(cols :+ "version": _*)
    TsStore.write(extra, dir, tsCol = "ts", uidCols = Seq("event_type"),
      mode = org.apache.spark.sql.SaveMode.Append,
      overlapPolicy = TsStore.OverlapPolicy.Allow)
    assert(TsStore.read(spark, dir).count() === n + 5,
      "append to a logged store did not surface through the manifest")
  }

  test("mode=Overwrite resets a logged store: manifest dropped, no dead-file resurrection") {
    val (dir, base) = freshStore()
    TsStore.upsert(spark, dir, delta(10, 1000.0), keyCols = Seq("event_id"),
      versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))
    assert(TsStore.versions(dir).nonEmpty)
    // overwrite = a NEW store: the OLD manifest chain must not survive
    // (a stale manifest naming deleted files would corrupt every read),
    // and the directory read must not double-count leftover dead files.
    // The overwrite adopt-commits its own fresh v1 — provenance is known
    // at write time, so the new log starts life with the layout-order
    // contract and the ts column recorded
    TsStore.write(base, dir, tsCol = "ts", uidCols = Seq("event_type"))
    assert(TsStore.versions(dir) === Seq(1L),
      "an overwrite must start a FRESH single-version log")
    assert(StoreLog.latest(dir).exists(
      _.props.get(graft.sources.GraftTable.LayoutSortedProp).contains("true")))
    same(TsStore.read(spark, dir), base)
  }

  test("upsert tie-break hash survives MAP-typed columns") {
    val dir = Files.createTempDirectory("graft_map").toString
    // a real MapType column (the fixture's props is a JSON string, so
    // it would not trip xxhash64's MapType rejection — build one)
    val attrs = expr("map('et', event_type)")
    val base = events.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"), attrs.as("attrs"), lit(1L).as("version"))
    TsStore.write(base, dir, tsCol = "ts", uidCols = Seq("event_type"))
    val d = events.filter(col("event_type") === "purchase").limit(20)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        (col("value") + 1.0).as("value"), attrs.as("attrs"), lit(2L).as("version"))
    // pre-fix this threw DATATYPE_MISMATCH on xxhash64(map) at analysis
    TsStore.upsert(spark, dir, d, keyCols = Seq("event_id"),
      versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))
    val got = TsStore.read(spark, dir)
    assert(got.filter(col("version") === 2L).count() === 20)
    assert(got.filter(col("attrs").getItem("et").isNotNull).count() === got.count())
  }

  test("upsert schema union: a narrow delta keeps base-only columns, a wide one adds columns") {
    val dir = Files.createTempDirectory("graft_schema").toString
    val base = events.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"), col("props"), lit(1L).as("version"))
    TsStore.write(base, dir, tsCol = "ts", uidCols = Seq("event_type"))
    // NARROW delta (no props): carried-over base rows must KEEP their
    // props (pre-fix the merge projected base to the delta's columns,
    // silently dropping base-only columns from rewritten partitions);
    // updated rows get null props — whole-row MERGE UPDATE semantics
    val narrow = events.filter(col("event_type") === "purchase" && col("event_id") % 11 === 0)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), lit(2L).as("version"))
    TsStore.upsert(spark, dir, narrow, keyCols = Seq("event_id"),
      versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))
    val afterNarrow = TsStore.read(spark, dir)
    assert(afterNarrow.filter(col("version") === 1L && col("props").isNull).count() === 0,
      "carried-over base rows lost their base-only column")
    assert(afterNarrow.filter(col("version") === 2L).count() === narrow.count())
    assert(afterNarrow.filter(col("version") === 2L && col("props").isNotNull).count() === 0)
    // WIDE delta (new column): older rows surface it as null
    val wide = events.filter(col("event_type") === "click" && col("event_id") % 13 === 0)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"), lit(3L).as("version"), lit("fixup").as("note"))
    TsStore.upsert(spark, dir, wide, keyCols = Seq("event_id"),
      versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))
    val afterWide = TsStore.read(spark, dir)
    assert(afterWide.filter(col("note") === "fixup").count() === wide.count())
    assert(afterWide.filter(col("version") < 3L && col("note").isNotNull).count() === 0)
    // a SECOND narrow upsert on the evolved partition must not erase the
    // evolved column from carried-over rows: the merge reads the base
    // under the declared schema (the union) — a single-footer schema
    // (e.g. an un-evolved file listed first) would silently drop `note`
    // from the rewrite
    val narrow2 = events.filter(col("event_type") === "click" && col("event_id") % 17 === 0)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), lit(5L).as("version"))
    TsStore.upsert(spark, dir, narrow2, keyCols = Seq("event_id"),
      versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))
    val keptNotes = wide.select("event_id")
      .except(narrow2.select("event_id")).count()
    assert(keptNotes > 0, "fixture degenerate: every wide row re-updated")
    assert(TsStore.read(spark, dir)
      .filter(col("note") === "fixup").count() === keptNotes,
      "narrow upsert erased the evolved column from carried-over rows")
  }

  test("delta manifests: O(commit) deltas between checkpoints, chain-resolved reads, vacuum rewrite") {
    val (dir, base) = freshStore()
    StoreLog.ensure(dir) // v1 = checkpoint
    val deltas = (1 to 11).map { i =>
      events.filter(col("event_id") % 50 === i)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          (col("value") + i * 100.0).as("value"), lit(i + 1L).as("version"))
        .localCheckpoint()
    }
    deltas.foreach(d => TsStore.upsert(spark, dir, d, keyCols = Seq("event_id"),
      versionCol = "version", tsCol = "ts", uidCols = Seq("event_type")))
    assert(TsStore.versions(dir) === (1L to 12L))
    // raw manifest shape: full file list only at v1 and the checkpoint
    // cadence (v10); everything else is an add/remove delta
    def isCkpt(v: Long) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_graft_log", f"v$v%08d.json"))).contains("\"files\"")
    assert((1L to 12L).filter(isCkpt) === Seq(1L, 10L))
    // reads resolve the delta chain identically at, below and above a checkpoint
    same(TsStore.read(spark, dir), merged(base, deltas: _*))
    same(TsStore.read(spark, dir, asOf = Some(6L)), merged(base, deltas.take(5): _*))
    same(TsStore.read(spark, dir, asOf = Some(10L)), merged(base, deltas.take(9): _*))
    // vacuum keeps retained versions self-resolvable: v11 is a delta
    // whose checkpoint ancestor (v10) gets dropped — it must be
    // rewritten as a checkpoint, not left dangling
    assert(TsStore.vacuum(dir, retainVersions = 2) > 0)
    assert(TsStore.versions(dir) === Seq(11L, 12L))
    assert(isCkpt(11L), "oldest retained delta was not rewritten as a checkpoint")
    same(TsStore.read(spark, dir, asOf = Some(11L)), merged(base, deltas.take(10): _*))
    same(TsStore.read(spark, dir), merged(base, deltas: _*))
  }

  test("delete racing a DISJOINT-partition upsert: both commit (rebase), both effects applied") {
    val (dir, base) = freshStore()
    StoreLog.ensure(dir)
    val delPred = col("event_type") === "purchase" && col("event_id") % 3 === 0
    val dClick = events.filter(col("event_type") === "click" && col("event_id") % 10 === 0)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        (col("value") + 2000.0).as("value"), lit(2L).as("version")).localCheckpoint()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = Seq(
      Future(TsStore.delete(spark, dir, delPred, tsCol = "ts",
        uidCols = Seq("event_type"))),
      Future(TsStore.upsert(spark, dir, dClick, keyCols = Seq("event_id"),
        versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))))
    val versions = Await.result(Future.sequence(fs), 5.minutes)
    assert(versions.toSet.size === 2, s"writers shared a version: $versions")
    // disjoint partitions → both serialized: clicks upserted AND the
    // purchase slice deleted, regardless of commit order
    same(TsStore.read(spark, dir), merged(base, dClick).filter(not(delPred)))
  }

  test("delete racing a SAME-partition upsert: never a mixed state, loser aborts cleanly") {
    val (dir, base) = freshStore()
    StoreLog.ensure(dir)
    val delPred = col("event_type") === "purchase" && col("event_id") % 3 === 0
    val d1 = delta(10, 1000.0).localCheckpoint()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(Future.sequence(Seq(
      Future(TsStore.delete(spark, dir, delPred, tsCol = "ts",
        uidCols = Seq("event_type"))).map(v => Right(("del", v)))
        .recover { case c: StoreLog.CommitConflict => Left("del") },
      Future(TsStore.upsert(spark, dir, d1, keyCols = Seq("event_id"),
        versionCol = "version", tsCol = "ts", uidCols = Seq("event_type")))
        .map(v => Right(("ups", v)))
        .recover { case c: StoreLog.CommitConflict => Left("ups") })), 5.minutes)
    val winners = results.collect { case Right((who, _)) => who }
    assert(winners.nonEmpty, "at least one writer must commit")
    // the store equals SOME serialization of exactly the committed ops —
    // fully-old-or-fully-new per op, never a row mix; an aborted op's
    // adopted files must not survive (no dead-looking orphans beyond the
    // winner's replaced chunks are ever readable)
    def apply(ops: Seq[String]): org.apache.spark.sql.DataFrame =
      ops.foldLeft(base) {
        case (df, "del") => df.filter(not(delPred))
        case (df, "ups") => merged(df, d1)
      }
    val got = TsStore.read(spark, dir)
    val ok = winners.permutations.exists { perm =>
      val exp = apply(perm)
      got.select(cols.map(col) :+ col("version"): _*)
        .except(exp.select(cols.map(col) :+ col("version"): _*)).isEmpty &&
      exp.select(cols.map(col) :+ col("version"): _*)
        .except(got.select(cols.map(col) :+ col("version"): _*)).isEmpty
    }
    assert(ok, s"store is not any serialization of the committed ops $winners")
  }

  test("graft_store TVF reads partition-prune exactly like the API") {
    val (dir, _) = freshStore()
    TsStore.upsert(spark, dir, delta(10, 1000.0), keyCols = Seq("event_id"),
      versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = spark.sql(
        s"SELECT * FROM graft_store('$dir') WHERE event_type = 'purchase'")
      df.collect()
      // a logged store plans through the DSv2 GraftTable — the TVF gets
      // the catalog face's pruning, not a bare parquet relation
      val scans = df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan
      }.collect { case g: graft.sources.GraftScan => g }
      assert(scans.nonEmpty, "TVF over a logged store must plan the DSv2 scan")
      val filesRead = scans.map(_.plannedFiles.size).sum
      val live = StoreLog.latest(dir).get.files.count(_.startsWith("event_type=purchase/"))
      assert(filesRead === live,
        s"TVF planned $filesRead files; the purchase partition has $live live files")
      assert(scans.forall(_.plannedFiles.forall(_.startsWith("event_type=purchase/"))))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("graft_store TVF: SQL live and time-travel reads equal the API, dead files invisible") {
    val (dir, base) = freshStore()
    val d1 = delta(10, 1000.0)
    val v = TsStore.upsert(spark, dir, d1, keyCols = Seq("event_id"),
      versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))
    // live SQL read == the API's manifest-aware read (a plain
    // parquet.`path` read would resurrect the replaced chunks)
    same(spark.sql(s"SELECT * FROM graft_store('$dir')"), merged(base, d1))
    // positional and named-argument time travel both hit the version
    same(spark.sql(s"SELECT * FROM graft_store('$dir', ${v - 1})"), base)
    same(spark.sql(s"SELECT * FROM graft_store('$dir', asOf => ${v - 1})"), base)
    // composes like any relation: predicates/projections prune as usual
    assert(spark.sql(
      s"SELECT count(*) FROM graft_store('$dir') WHERE event_type = 'purchase'")
      .first().getLong(0) ===
      merged(base, d1).filter(col("event_type") === "purchase").count())
    // loud errors: unknown named arg, non-literal version, bad arity
    def fails(sql: String, msg: String): Unit = {
      val e = intercept[Exception] { spark.sql(sql).collect() }
      assert(e.getMessage.contains(msg), s"wrong error for $sql: ${e.getMessage}")
    }
    fails(s"SELECT * FROM graft_store('$dir', nope => 1)", "unknown named argument")
    fails(s"SELECT * FROM graft_store()", "graft_store expects")
  }

  test("graft_store_changes TVF: the SQL change feed equals the API, loud arg errors") {
    val (dir, _) = freshStore()
    val v1 = StoreLog.ensure(dir).version
    val d1 = delta(10, 1000.0)
    val v2 = TsStore.upsert(spark, dir, d1, keyCols = Seq("event_id"),
      versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))
    val api = TsStore.changes(spark, dir, v1, v2,
      keyCols = Seq("event_id"), versionCol = "version", preimages = true)
    val sqlFeed = spark.sql(
      s"SELECT * FROM graft_store_changes('$dir', $v1, $v2, 'event_id', 'version', true)")
    assert(sqlFeed.count() === api.count())
    assert(sqlFeed.except(api).count() === 0 && api.except(sqlFeed).count() === 0)
    // default (no preimages) drops exactly the preimage rows
    val noPre = spark.sql(
      s"SELECT * FROM graft_store_changes('$dir', $v1, $v2, 'event_id', 'version')")
    assert(noPre.filter(col("change_type") === "update_preimage").count() === 0)
    assert(noPre.count() === api.filter(col("change_type") =!= "update_preimage").count())
    // composes like any relation
    assert(spark.sql(s"SELECT count(*) FROM graft_store_changes('$dir', $v1, $v2, " +
      "'event_id', 'version') WHERE change_type = 'update'").first().getLong(0) ===
      d1.count())
    def fails(sql: String, msg: String): Unit = {
      val e = intercept[Exception] { spark.sql(sql).collect() }
      assert(e.getMessage.contains(msg), s"wrong error for $sql: ${e.getMessage}")
    }
    fails(s"SELECT * FROM graft_store_changes('$dir')", "graft_store_changes expects")
    fails(s"SELECT * FROM graft_store_changes('$dir', $v1, $v2, '', 'version')",
      "at least one merge-key column")
    fails(s"SELECT * FROM graft_store_changes('$dir', $v1, $v2, 'event_id', 'version', 'yes')",
      "must be a boolean literal")
  }

  test("writer-safe vacuum: an active lease protects a mid-commit writer; aged garbage still reclaims") {
    val (dir, _) = freshStore()
    // make genuine garbage: an upsert's replaced chunks, AGED past the
    // lease window (a real store's dead chunks are hours old)
    TsStore.upsert(spark, dir, delta(10, 1000.0), keyCols = Seq("event_id"),
      versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))
    val live = StoreLog.latest(dir).get.files.toSet
    val dead = StoreLog.listDataFiles(dir).filterNot(live)
    assert(dead.nonEmpty, "upsert left no dead chunks?")
    val aged = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2 * StoreLog.WriterLeaseMs)
    dead.foreach(f => Files.setLastModifiedTime(Paths.get(dir, f), aged))
    val n = TsStore.read(spark, dir).count()
    // a live writer mid-danger-window: stage a new chunk, adopt it under
    // a lease — on disk, named by NO manifest, indistinguishable from
    // crash garbage except for the lease
    val donor = live.find(_.startsWith("event_type=purchase/")).get
    val staging = Paths.get(dir, "_graft_txn_racewriter")
    Files.createDirectories(staging.resolve("event_type=purchase"))
    Files.copy(Paths.get(dir, donor),
      staging.resolve("event_type=purchase/part-racewriter.c000.zstd.parquet"))
    val chunkRows = spark.read.parquet(s"$dir/$donor").count()
    val committed = StoreLog.withWriterLease(dir) { _ =>
      val moved = StoreLog.adoptStagedNamed(dir, staging.toString,
        Seq("event_type=purchase/part-racewriter.c000.zstd.parquet"))
      assert(moved.nonEmpty)
      // RACE POINT: vacuum runs while the writer sits between adopt and
      // commit. It must take the aged garbage and spare the adoption.
      val reclaimed = TsStore.vacuum(dir)
      assert(reclaimed === dead.size,
        s"vacuum reclaimed $reclaimed of ${dead.size} aged dead chunks")
      moved.foreach(f => assert(Files.exists(Paths.get(dir, f)),
        s"vacuum reclaimed the live writer's adopted-but-uncommitted $f"))
      val cur = StoreLog.latest(dir).get
      StoreLog.commit(dir, cur.version, Seq.empty, cur.files ++ moved,
        parent = Some(cur))
    }
    // the writer's commit SURVIVED the concurrent vacuum: every file its
    // manifest names exists, and the appended rows read back
    StoreLog.read(dir, committed).files.foreach(f =>
      assert(Files.exists(Paths.get(dir, f)), s"committed manifest names missing $f"))
    assert(TsStore.read(spark, dir).count() === n + chunkRows)
    // the lease was released with the block: none left behind, and a
    // stale crashed-writer lease is reclaimed by the next vacuum
    val leaseDir = Paths.get(dir, "_graft_log")
    assert(!Files.list(leaseDir).filter(_.getFileName.toString.startsWith(".lease_"))
      .findFirst().isPresent, "lease file leaked past its writer")
    val crashed = leaseDir.resolve(".lease_crashed")
    Files.write(crashed, Array[Byte]('1'))
    Files.setLastModifiedTime(crashed, aged)
    TsStore.vacuum(dir)
    assert(!Files.exists(crashed), "stale lease of a crashed writer not reclaimed")
  }

  test("a STALLED writer's old adoption survives vacuum while its lease stays fresh") {
    val (dir, _) = freshStore()
    // genuine aged garbage beside the stall — vacuum must still take it
    TsStore.upsert(spark, dir, delta(10, 1000.0), keyCols = Seq("event_id"),
      versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))
    val live = StoreLog.latest(dir).get.files.toSet
    val dead = StoreLog.listDataFiles(dir).filterNot(live)
    assert(dead.nonEmpty)
    val now = System.currentTimeMillis()
    val aged = java.nio.file.attribute.FileTime.fromMillis(
      now - 4 * StoreLog.WriterLeaseMs)
    dead.foreach(f => Files.setLastModifiedTime(Paths.get(dir, f), aged))
    // a writer stalled LONG past the lease window: its lease was born
    // 3×WriterLeaseMs ago (content) but the heartbeat kept renewing
    // (mtime fresh); its adoption happened 2×WriterLeaseMs ago — old by
    // the age gate, AFTER the lease's birth. Pre-heartbeat vacuum would
    // have deleted it by declaration; now the fresh lease vouches for
    // everything adopted since its birth.
    val donor = live.find(_.startsWith("event_type=purchase/")).get
    val stalledRel = "event_type=purchase/part-stalledwriter.c000.zstd.parquet"
    Files.copy(Paths.get(dir, donor), Paths.get(dir, stalledRel))
    Files.setLastModifiedTime(Paths.get(dir, stalledRel),
      java.nio.file.attribute.FileTime.fromMillis(now - 2 * StoreLog.WriterLeaseMs))
    val lease = Paths.get(dir, "_graft_log", ".lease_stalledwriter")
    Files.write(lease, (now - 3 * StoreLog.WriterLeaseMs).toString.getBytes("UTF-8"))
    // mtime stays NOW — the heartbeat's renewal
    val reclaimed = TsStore.vacuum(dir)
    assert(reclaimed === dead.size,
      s"vacuum must take the $aged-aged garbage: got $reclaimed of ${dead.size}")
    assert(Files.exists(Paths.get(dir, stalledRel)),
      "vacuum reclaimed a stalled-but-alive writer's adoption")
    // the writer DIES (lease expires): the adoption is garbage now
    Files.setLastModifiedTime(lease,
      java.nio.file.attribute.FileTime.fromMillis(now - 2 * StoreLog.WriterLeaseMs))
    TsStore.vacuum(dir)
    assert(!Files.exists(Paths.get(dir, stalledRel)),
      "a dead stalled writer's old adoption must reclaim once its lease expires")
  }

  test("withWriterLease heartbeat renews the lease without body cooperation") {
    val (dir, _) = freshStore()
    val prev = StoreLog.LeaseHeartbeatMs
    StoreLog.LeaseHeartbeatMs = 100L
    try StoreLog.withWriterLease(dir) { _ =>
      val leaseFile = Files.list(Paths.get(dir, "_graft_log")).iterator().asScala
        .find(_.getFileName.toString.startsWith(".lease_")).get
      // simulate elapsed time: age the lease far back; the heartbeat
      // must re-freshen it while the body does nothing at all
      Files.setLastModifiedTime(leaseFile,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - StoreLog.WriterLeaseMs))
      Thread.sleep(700)
      val age = System.currentTimeMillis() -
        Files.getLastModifiedTime(leaseFile).toMillis
      assert(age < 10000, s"heartbeat did not renew: lease is ${age}ms old")
      // and the birth time rides the content, not the mtime
      val birth = new String(Files.readAllBytes(leaseFile), "UTF-8").trim.toLong
      assert(birth <= System.currentTimeMillis() && birth > 0)
    } finally StoreLog.LeaseHeartbeatMs = prev
  }

  test("randomized manifest chains: every version resolves exactly across cadences and vacuum") {
    // pure-metadata breadth for the delta/checkpoint core: three seeded
    // chains with random checkpoint intervals and random add/remove
    // sets per commit — every committed version must resolve to its
    // exact recorded file list, before and after a random-retention
    // vacuum (whose oldest-retained rewrite must keep the chain whole)
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val dir = Files.createTempDirectory(s"graft_chain$trial").toString
      val interval = 1 + rnd.nextInt(5)
      StoreLog.ensure(dir, checkpointInterval = interval)
      var files = Set.empty[String]
      var expected = Map(1L -> files)
      var cur = StoreLog.latest(dir).get
      for (i <- 2 to 30) {
        val adds = (0 until 1 + rnd.nextInt(3))
          .map(j => s"p=${rnd.nextInt(5)}/f_${i}_$j.parquet").toSet
        val removes = rnd.shuffle(files.toSeq).take(rnd.nextInt(3)).toSet
        files = files -- removes ++ adds
        val v = StoreLog.commit(dir, cur.version, Seq.empty, files.toSeq,
          parent = Some(cur))
        cur = StoreLog.read(dir, v)
        expected += v -> files
        assert(cur.files.toSet === files, s"trial $trial v$v (interval $interval)")
        assert(cur.checkpointInterval === interval)
      }
      expected.foreach { case (v, fs) =>
        assert(StoreLog.read(dir, v).files.toSet === fs,
          s"trial $trial: v$v resolved wrong (interval $interval)")
      }
      val retain = 1 + rnd.nextInt(5)
      StoreLog.vacuum(dir, retain)
      val vs = StoreLog.listVersions(dir)
      assert(vs === (1L to 30L).takeRight(retain))
      vs.foreach(v => assert(StoreLog.read(dir, v).files.toSet === expected(v),
        s"trial $trial: post-vacuum v$v diverged (retain $retain)"))
    }
  }

  test("randomized chains with tags: tagged versions survive any retention and resolve exactly") {
    // the tag-retention twin of the chain property above: random
    // cadences, random add/remove commits, random TAGS pinned along
    // the way — after a random-retention vacuum the retained set must
    // be exactly (trailing window ∪ tagged versions), every survivor
    // must resolve to its recorded file list (the ascending
    // resolvability walk must have checkpoint-rewritten every delta
    // stranded past a gap), and dropping a tag must let the next
    // vacuum reclaim its era
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val dir = Files.createTempDirectory(s"graft_tagchain$trial").toString
      val interval = 1 + rnd.nextInt(5)
      StoreLog.ensure(dir, checkpointInterval = interval)
      var files = Set.empty[String]
      var expected = Map(1L -> files)
      var cur = StoreLog.latest(dir).get
      var tagged = Map.empty[String, Long]
      for (i <- 2 to 30) {
        val adds = (0 until 1 + rnd.nextInt(3))
          .map(j => s"p=${rnd.nextInt(5)}/f_${i}_$j.parquet").toSet
        val removes = rnd.shuffle(files.toSeq).take(rnd.nextInt(3)).toSet
        files = files -- removes ++ adds
        val v = StoreLog.commit(dir, cur.version, Seq.empty, files.toSeq,
          parent = Some(cur))
        cur = StoreLog.read(dir, v)
        expected += v -> files
        if (rnd.nextInt(5) == 0) { // ~1 in 5 commits gets pinned
          val name = s"t$v"
          TsStore.tag(dir, name, Some(v))
          tagged += name -> v
          cur = StoreLog.latest(dir).get // the tag commit itself
          expected += cur.version -> files
        }
      }
      val retain = 1 + rnd.nextInt(4)
      StoreLog.vacuum(dir, retain)
      val all = expected.keys.toSeq.sorted
      val want = (all.takeRight(retain) ++ tagged.values).distinct.sorted
      assert(StoreLog.listVersions(dir) === want,
        s"trial $trial: retained set (retain $retain, tags $tagged)")
      want.foreach(v => assert(StoreLog.read(dir, v).files.toSet === expected(v),
        s"trial $trial: post-vacuum v$v diverged (interval $interval)"))
      // drop one tag (if any): its era reclaims on the next vacuum
      tagged.headOption.foreach { case (name, v) =>
        if (!all.takeRight(retain).contains(v) &&
            !(tagged - name).values.toSet.contains(v)) {
          TsStore.dropTag(dir, name)
          StoreLog.vacuum(dir, retain)
          assert(!StoreLog.listVersions(dir).contains(v),
            s"trial $trial: dropped tag's era v$v must reclaim")
          // the rest still resolve (the drop-tag commit is now latest)
          StoreLog.listVersions(dir).dropRight(1).foreach(v2 =>
            assert(StoreLog.read(dir, v2).files.toSet === expected(v2)))
        }
      }
    }
  }

  test("age-based vacuum retention: versions inside retain_hours survive the count window") {
    val dir = Files.createTempDirectory("graft_agevac").toString
    StoreLog.ensure(dir, checkpointInterval = 3)
    var cur = StoreLog.latest(dir).get
    var expected = Map(1L -> Set.empty[String])
    var files = Set.empty[String]
    for (i <- 2 to 10) {
      files += s"p=0/f_$i.parquet"
      val v = StoreLog.commit(dir, cur.version, Seq.empty, files.toSeq,
        parent = Some(cur))
      cur = StoreLog.read(dir, v)
      expected += v -> files
    }
    // a huge age window retains EVERYTHING despite retain=1
    StoreLog.vacuum(dir, retainVersions = 1, retainMs = 24L * 3600 * 1000)
    assert(StoreLog.listVersions(dir) === (1L to 10L))
    // backdate versions 1..7 by editing their manifests' timestampMs —
    // commit times ascend, so this models a chain whose old half aged
    // past the window
    val old = System.currentTimeMillis() - 48L * 3600 * 1000
    for (v <- 1L to 7L) {
      val p = java.nio.file.Paths.get(dir, "_graft_log", f"v$v%08d.json")
      val s = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      java.nio.file.Files.write(p, s.replaceAll(
        "\"timestampMs\"\\s*:\\s*\\d+",
        s""""timestampMs":${old + v}""").getBytes("UTF-8"))
    }
    // a 1h window + retain=1 keeps the young tail (8..10) only, and the
    // oldest survivor's chain is checkpoint-rewritten self-resolvable
    StoreLog.vacuum(dir, retainVersions = 1, retainMs = 3600 * 1000L)
    assert(StoreLog.listVersions(dir) === (8L to 10L))
    (8L to 10L).foreach(v =>
      assert(StoreLog.read(dir, v).files.toSet === expected(v)))
    // without an age window the count window is all that's left
    StoreLog.vacuum(dir, retainVersions = 1)
    assert(StoreLog.listVersions(dir) === Seq(10L))
    assert(StoreLog.read(dir, 10L).files.toSet === expected(10L))
  }

  test("age retention survives a backdated manifest mid-chain (multi-writer clock skew)") {
    val dir = Files.createTempDirectory("graft_skewvac").toString
    StoreLog.ensure(dir, checkpointInterval = 10)
    var cur = StoreLog.latest(dir).get
    var expected = Map(1L -> Set.empty[String])
    var files = Set.empty[String]
    for (i <- 2 to 6) {
      files += s"p=0/f_$i.parquet"
      val v = StoreLog.commit(dir, cur.version, Seq.empty, files.toSeq,
        parent = Some(cur))
      cur = StoreLog.read(dir, v)
      expected += v -> files
    }
    // a skewed writer BACKDATED v3 only — the rest of the chain carries
    // fresh timestamps. Age retention must be a full timestamp filter:
    // a newest-to-oldest walk stopping at the first too-old manifest
    // would silently exclude the younger-stamped OLDER versions 1-2.
    val p = java.nio.file.Paths.get(dir, "_graft_log", f"v${3L}%08d.json")
    val s = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    java.nio.file.Files.write(p, s.replaceAll(
      "\"timestampMs\"\\s*:\\s*\\d+", "\"timestampMs\":1").getBytes("UTF-8"))
    StoreLog.vacuum(dir, retainVersions = 1, retainMs = 24L * 3600 * 1000)
    val kept = StoreLog.listVersions(dir)
    assert(kept === Seq(1L, 2L, 4L, 5L, 6L),
      s"fresh-stamped versions on both sides of the skewed manifest must survive, got $kept")
    // every survivor resolves — v4 (its v3 parent dropped) was
    // checkpoint-rewritten self-resolvable before the manifest prune
    kept.foreach(v => assert(StoreLog.read(dir, v).files.toSet === expected(v)))
  }

  test("per-store checkpoint interval: an interval-3 log checkpoints on cadence; mixed chains resolve") {
    // interval is set at log CREATION — which now happens inside the
    // overwrite write itself, so it rides the write call
    val dir = Files.createTempDirectory("graft_log").toString
    val base = events.select(cols.map(col) :+ lit(1L).as("version"): _*)
    TsStore.write(base, dir, tsCol = "ts", uidCols = Seq("event_type"),
      checkpointInterval = 3) // v1 checkpoint, interval recorded
    val deltas = (1 to 8).map { i =>
      events.filter(col("event_id") % 50 === i)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          (col("value") + i * 100.0).as("value"), lit(i + 1L).as("version"))
        .localCheckpoint()
    }
    deltas.foreach(d => TsStore.upsert(spark, dir, d, keyCols = Seq("event_id"),
      versionCol = "version", tsCol = "ts", uidCols = Seq("event_type")))
    assert(TsStore.versions(dir) === (1L to 9L))
    def isCkpt(v: Long) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_graft_log", f"v$v%08d.json"))).contains("\"files\"")
    // inherited interval 3: full listings at v3/v6/v9, deltas between
    assert((1L to 9L).filter(isCkpt) === Seq(1L, 3L, 6L, 9L))
    assert(StoreLog.latest(dir).get.checkpointInterval === 3)
    same(TsStore.read(spark, dir), merged(base, deltas: _*))
    same(TsStore.read(spark, dir, asOf = Some(5L)), merged(base, deltas.take(4): _*))
    // MIXED chain: a parentless commit (a compaction-style full listing)
    // carries the DEFAULT interval; later commits inherit 10 — and reads
    // resolve across the interval change because resolution is
    // cadence-agnostic (walk down to the nearest full-list manifest)
    val cur = StoreLog.latest(dir).get
    StoreLog.commit(dir, cur.version, Seq.empty, cur.files) // v10, checkpoint, interval 10
    val more = (9 to 10).map { i =>
      events.filter(col("event_id") % 50 === i)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          (col("value") + i * 100.0).as("value"), lit(i + 1L).as("version"))
        .localCheckpoint()
    }
    more.foreach(d => TsStore.upsert(spark, dir, d, keyCols = Seq("event_id"),
      versionCol = "version", tsCol = "ts", uidCols = Seq("event_type")))
    assert(TsStore.versions(dir) === (1L to 12L))
    assert(isCkpt(10L) && !isCkpt(11L) && !isCkpt(12L),
      "post-mix commits did not inherit the new interval")
    assert(StoreLog.latest(dir).get.checkpointInterval === 10)
    same(TsStore.read(spark, dir), merged(base, (deltas ++ more): _*))
    same(TsStore.read(spark, dir, asOf = Some(8L)), merged(base, deltas.take(7): _*))
    // vacuum keeps the oldest retained version self-resolvable and the
    // rewrite carries its writer's interval forward
    assert(TsStore.vacuum(dir, retainVersions = 2) > 0)
    assert(TsStore.versions(dir) === Seq(11L, 12L))
    assert(isCkpt(11L))
    assert(StoreLog.read(dir, 11L).checkpointInterval === 10)
    same(TsStore.read(spark, dir), merged(base, (deltas ++ more): _*))
  }

  test("five concurrent per-partition upserts all commit through the CAS and serialize") {
    val (dir, base) = freshStore()
    StoreLog.ensure(dir)
    val types = Seq("click", "view", "signup", "error", "purchase")
    val ds = types.map { t =>
      events.filter(col("event_type") === t && col("event_id") % 3 === 0)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          (col("value") + 9.0).as("value"), lit(2L).as("version")).localCheckpoint()
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val versions = Await.result(Future.sequence(ds.map { d =>
      Future(TsStore.upsert(spark, dir, d, keyCols = Seq("event_id"),
        versionCol = "version", tsCol = "ts", uidCols = Seq("event_type")))
    }), 10.minutes)
    assert(versions.toSet.size === 5, s"writers shared a version: $versions")
    assert(versions.max === 6L)
    // disjoint keys (each event_id has one type) → order-independent merge
    same(TsStore.read(spark, dir), merged(base, ds: _*))
  }

  test("row-level delete: one committed version, time travel holds pre-delete, vacuum reclaims") {
    val (dir, base) = freshStore()
    val pred = col("event_type") === "purchase" && col("event_id") % 3 === 0
    val v = TsStore.delete(spark, dir, pred, tsCol = "ts", uidCols = Seq("event_type"))
    assert(v === 2L, s"expected ensure()=v1 + delete()=v2, got v$v")
    val expect = base.filter(not(pred))
    same(TsStore.read(spark, dir), expect)
    // only the partition holding matches was declared replaced — the
    // conflict unit the CAS uses against concurrent upserts
    assert(StoreLog.read(dir, v).replaced === Seq("event_type=purchase"))
    // re-running the same delete is a no-op at the same version
    assert(TsStore.delete(spark, dir, pred, tsCol = "ts",
      uidCols = Seq("event_type")) === v)
    // the deleted rows remain readable asOf the pre-delete version...
    same(TsStore.read(spark, dir, asOf = Some(1L)), base)
    // ...until vacuum reclaims the replaced chunks
    assert(TsStore.vacuum(dir) > 0)
    same(TsStore.read(spark, dir), expect)
    assertThrows[IllegalArgumentException] {
      TsStore.read(spark, dir, asOf = Some(1L)).collect()
    }
  }

  test("delete is FILE-granular: a single-row takedown rewrites one file, keeps its siblings") {
    val (dir, _) = freshStore()
    val v1 = StoreLog.ensure(dir)
    // pick one concrete row to take down
    val victim = TsStore.read(spark, dir)
      .filter(col("event_type") === "purchase")
      .select("event_id").orderBy("event_id").first().getLong(0)
    val v = TsStore.delete(spark, dir, col("event_id") === victim,
      tsCol = "ts", uidCols = Seq("event_type"))
    val v2files = StoreLog.read(dir, v).files.toSet
    val removed = v1.files.toSet -- v2files
    // copy-on-write unit is the FILE: exactly the one chunk holding the
    // victim was replaced; every other purchase chunk is carried over
    assert(removed.size === 1, s"expected one rewritten file, got $removed")
    assert(removed.head.startsWith("event_type=purchase/"))
    val keptPurchase = v1.files.count(_.startsWith("event_type=purchase/")) - 1
    assert(v2files.count(f => f.startsWith("event_type=purchase/") &&
      v1.files.contains(f)) === keptPurchase,
      "an untouched sibling chunk of the partition was rewritten")
    assert(TsStore.read(spark, dir).filter(col("event_id") === victim).count() === 0)
  }

  test("TsStore end to end on a file:-scheme path: upsert, time travel, vacuum via CommitIo.Hadoop") {
    // same store lifecycle as the plain-path specs, but every manifest
    // operation (list, read, publish, adopt, delete) routes through the
    // Hadoop FileSystem/FileContext implementation of the seam
    val dir = "file:" + Files.createTempDirectory("graft_hfs").toString
    val base = events.select(cols.map(col) :+ lit(1L).as("version"): _*)
    TsStore.write(base, dir, tsCol = "ts", uidCols = Seq("event_type"))
    val d1 = delta(10, 1000.0)
    val v = TsStore.upsert(spark, dir, d1, keyCols = Seq("event_id"),
      versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))
    assert(v === 2L, s"expected ensure()=v1 + upsert()=v2, got v$v")
    assert(TsStore.versions(dir) === Seq(1L, 2L))
    same(TsStore.read(spark, dir), merged(base, d1))
    same(TsStore.read(spark, dir, asOf = Some(1L)), base)
    // the CAS detects a stale base through the Hadoop impl too
    val e = intercept[StoreLog.CommitConflict] {
      StoreLog.commit(dir, 1L, Seq.empty, Seq("x.parquet"))
    }
    assert(e.getMessage.contains("concurrent writer"))
    // a logged append surfaces through the manifest
    val extra = events.filter(col("event_type") === "purchase").limit(5)
      .select(col("event_id") + 50000000L, col("ts"), col("user_id"),
        col("event_type"), col("value"), lit(9L).as("version"))
      .toDF(cols :+ "version": _*)
    TsStore.write(extra, dir, tsCol = "ts", uidCols = Seq("event_type"),
      mode = org.apache.spark.sql.SaveMode.Append,
      overlapPolicy = TsStore.OverlapPolicy.Allow)
    val n = TsStore.read(spark, dir).count()
    assert(n === merged(base, d1).count() + 5)
    // vacuum reclaims the upserted-away chunks; the live view holds
    assert(TsStore.vacuum(dir) > 0)
    assert(TsStore.read(spark, dir).count() === n)
    assertThrows[IllegalArgumentException] {
      TsStore.read(spark, dir, asOf = Some(1L)).collect()
    }
  }

  test("the Hadoop CommitIo publish is atomic ACROSS PROCESSES: eight JVMs race one version") {
    // the re-run of the link(2) race THROUGH the seam: eight separate
    // JVM processes resolve CommitIo for a file: URI and race
    // publishIfAbsent onto the same manifest name (a go-file barrier
    // keeps the window tight). Exactly one may win, and the survivor
    // must be one writer's intact content.
    val dir = Files.createTempDirectory("graft_xproc_h")
    val target = s"file:$dir/_graft_log/v00000001.json"
    val go = dir.resolve("go")
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cp = System.getProperty("java.class.path")
    val procs = (0 until 8).map { i =>
      new ProcessBuilder((Seq(javaBin, "-cp", cp) ++
        Seq("java.base/java.lang", "java.base/java.util", "java.base/sun.nio.ch")
          .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED")) ++
        Seq("graft.XProcCasMain", go.toString, target, s"writer-$i")): _*)
        .redirectErrorStream(true).start()
    }
    Files.write(go, Array.emptyByteArray)
    val codes = procs.map { pr =>
      val done = pr.waitFor(120, java.util.concurrent.TimeUnit.SECONDS)
      if (!done) pr.destroyForcibly()
      assert(done, "child JVM did not finish in time")
      pr.exitValue()
    }
    assert(codes.forall(c => c == 0 || c == 7),
      s"a child crashed (exit codes $codes): " +
        new String(procs.head.getInputStream.readAllBytes()).take(2000))
    assert(codes.count(_ == 0) === 1, s"expected exactly one CAS winner, got $codes")
    val surviving = new String(Files.readAllBytes(
      Paths.get(dir.toString, "_graft_log", "v00000001.json")))
    assert(surviving.matches("writer-\\d"),
      "surviving manifest is not one writer's intact content")
  }

  test("a viewfs mount backed by file: reroutes the publish to link(2) — and the protocol still holds") {
    // A viewfs-over-file rename(Rename.NONE) is CHECK-THEN-ACT over
    // RawLocalFs (rename(2) overwrites) — the same hazard bare file:
    // has. resolveLocal must see through the mount table and take the
    // link(2) publish; the full commit/CAS/vacuum protocol must be
    // unchanged by the rerouting.
    val backing = Files.createTempDirectory("graft_viewfs")
    spark.sparkContext.hadoopConfiguration.set(
      "fs.viewfs.mounttable.graftcas.link./store", backing.toUri.toString)
    try {
    val dir = "viewfs://graftcas/store"
    assert(CommitIo.forPath(dir).isDefined)
    // pin the rerouting itself: the mount's backing filesystem is file:,
    // so resolveLocal rewrites the path onto it
    val hio = CommitIo.forPath(dir).get.asInstanceOf[CommitIo.Hadoop]
    val resolved = hio.resolveLocal(
      new org.apache.hadoop.fs.Path(s"$dir/_graft_log/v00000001.json"))
    assert(resolved.isDefined, "viewfs-over-file must resolve to the local backend")
    assert(resolved.get.toUri.getPath.startsWith(backing.toString),
      s"resolved ${resolved.get} should land in the backing dir $backing")
    assert(StoreLog.commit(dir, 0L, Seq.empty, Seq("a.parquet")) === 1L)
    // the publish went through link(2) on the BACKING path — the
    // manifest is physically there
    assert(Files.exists(backing.resolve("_graft_log/v00000001.json")))
    // CAS loss through the rename branch
    val e = intercept[StoreLog.CommitConflict] {
      StoreLog.commit(dir, 0L, Seq.empty, Seq("b.parquet"))
    }
    assert(e.getMessage.contains("concurrent writer"))
    val snap1 = StoreLog.read(dir, 1L)
    assert(snap1.files === Seq("a.parquet"))
    StoreLog.commit(dir, 1L, Seq("p=1"), Seq("a.parquet", "p=1/b.parquet"),
      parent = Some(snap1))
    assert(StoreLog.latest(dir).get.files === Seq("a.parquet", "p=1/b.parquet"))
    // v2 was a delta; vacuum must rewrite it as a checkpoint through
    // FileContext rename(OVERWRITE) and drop v1
    StoreLog.vacuum(dir, retainVersions = 1)
    assert(StoreLog.listVersions(dir) === Seq(2L))
    assert(StoreLog.read(dir, 2L).files === Seq("a.parquet", "p=1/b.parquet"))
    } finally spark.sparkContext.hadoopConfiguration.unset(
      "fs.viewfs.mounttable.graftcas.link./store")
  }

  test("the FileContext rename-no-overwrite branch commits on a non-local scheme (mocknn)") {
    // mocknn is local disk masquerading as a non-file scheme with an
    // AbstractFileSystem binding whose no-overwrite rename honors the
    // NameNode contract (MockNnFs) — so this drives the EXACT code path
    // an HDFS deployment would use: FileContext.create staging +
    // rename(Rename.NONE) CAS + rename(OVERWRITE) for vacuum's
    // checkpoint rewrite, with no link(2) rerouting possible.
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mocknn.impl", classOf[MockNnFileSystem].getName)
    conf.set("fs.AbstractFileSystem.mocknn.impl", classOf[MockNnFs].getName)
    conf.set(CommitIo.ExtraCasSchemesKey, "mocknn")
    val backing = Files.createTempDirectory("graft_mocknn")
    try {
    val dir = s"mocknn://$backing/store"
    assert(CommitIo.forPath(dir).isDefined)
    // no rerouting: the scheme resolves to mocknn, not file
    val hio = CommitIo.forPath(dir).get.asInstanceOf[CommitIo.Hadoop]
    assert(hio.resolveLocal(
      new org.apache.hadoop.fs.Path(s"$dir/_graft_log/vx.json")).isEmpty,
      "mocknn must NOT reroute to the link(2) publish")
    assert(StoreLog.commit(dir, 0L, Seq.empty, Seq("a.parquet")) === 1L)
    // CAS loss through the rename branch
    val e = intercept[StoreLog.CommitConflict] {
      StoreLog.commit(dir, 0L, Seq.empty, Seq("b.parquet"))
    }
    assert(e.getMessage.contains("concurrent writer"))
    val snap1 = StoreLog.read(dir, 1L)
    assert(snap1.files === Seq("a.parquet"))
    StoreLog.commit(dir, 1L, Seq("p=1"), Seq("a.parquet", "p=1/b.parquet"),
      parent = Some(snap1))
    assert(StoreLog.latest(dir).get.files === Seq("a.parquet", "p=1/b.parquet"))
    // v2 was a delta; vacuum must rewrite it as a checkpoint through
    // FileContext rename(OVERWRITE) and drop v1
    StoreLog.vacuum(dir, retainVersions = 1)
    assert(StoreLog.listVersions(dir) === Seq(2L))
    assert(StoreLog.read(dir, 2L).files === Seq("a.parquet", "p=1/b.parquet"))
    } finally {
      conf.unset("fs.mocknn.impl")
      conf.unset("fs.AbstractFileSystem.mocknn.impl")
      conf.unset(CommitIo.ExtraCasSchemesKey)
    }
  }

  test("racing publishes through the FileContext rename branch: exactly one winner (mocknn)") {
    // 8 threads race publishIfAbsent on the same manifest version
    // through FileContext.rename(Rename.NONE) over MockNnFs, whose
    // rename is atomic-no-overwrite by construction (the NameNode
    // contract, emulated in-process). Exactly one must win and the
    // winner's bytes must survive intact.
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mocknn.impl", classOf[MockNnFileSystem].getName)
    conf.set("fs.AbstractFileSystem.mocknn.impl", classOf[MockNnFs].getName)
    conf.set(CommitIo.ExtraCasSchemesKey, "mocknn")
    val backing = Files.createTempDirectory("graft_mocknn_race")
    try {
    val target = s"mocknn://$backing/store/_graft_log/v00000001.json"
    val hio = CommitIo.forPath(target).get
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val wins = (0 until 8).map { i =>
      pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = {
          gate.await()
          hio.publishIfAbsent(target, s"writer-$i".getBytes)
        }
      })
    }
    gate.countDown()
    val results = wins.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    assert(results.count(identity) === 1,
      s"expected exactly one CAS winner, got ${results.count(identity)}")
    val surviving = new String(Files.readAllBytes(
      backing.resolve("store/_graft_log/v00000001.json")))
    assert(surviving.matches("writer-\\d"),
      "surviving manifest is not one writer's intact content")
    } finally {
      conf.unset("fs.mocknn.impl")
      conf.unset("fs.AbstractFileSystem.mocknn.impl")
      conf.unset(CommitIo.ExtraCasSchemesKey)
    }
  }

  test("delete on a TIMESTAMP-partitioned store: file identity survives escaped paths") {
    import spark.implicits._
    // partition dirs like 'day=2024-01-01 09%3A30%3A00' — the raw
    // on-disk name has literal '%' and ' ', and the find scan's `_file`
    // must name the manifest's own entry
    val dir = Files.createTempDirectory("graft_tsdel").toString
    def day(s: String) = java.sql.Timestamp.valueOf(s)
    val b = Seq((1L, day("2024-01-01 09:30:00"), 10.0),
      (2L, day("2024-01-01 09:30:00"), 20.0),
      (3L, day("2024-01-02 09:30:00"), 30.0))
      .toDF("id", "day", "v")
    TsStore.write(b, dir, tsCol = "day", uidCols = Seq("day"))
    val v = TsStore.delete(spark, dir, col("id") === 2L,
      tsCol = "day", uidCols = Seq("day"))
    val got = TsStore.read(spark, dir, tsCol = "day")
    assert(got.count() === 2, s"wrong survivor count: ${got.collect().toSeq}")
    assert(got.select("id").as[Long].collect().sorted === Array(1L, 3L))
    // only the matching day's partition was declared replaced
    assert(StoreLog.read(dir, v).replaced.forall(_.contains("09%3A30")))
  }

  test("TsStore end to end on a viewfs:// path: Spark IO through the mount, publishes rerouted to link(2)") {
    // Spark writes/reads through ViewFileSystem and adoption renames via
    // the Hadoop FS API; the manifest publishes resolve the file-backed
    // mount and take link(2) (a viewfs-over-file FileContext rename is
    // check-then-act — see resolveLocal). The full-protocol FileContext
    // coverage lives in the mocknn e2e test below, where no rerouting
    // is possible.
    val backing = Files.createTempDirectory("graft_viewfs_e2e")
    spark.sparkContext.hadoopConfiguration.set(
      "fs.viewfs.mounttable.graftstore.link./data", backing.toUri.toString)
    try {
    // the store must live BELOW the mount point: the mount root itself
    // is ViewFs-internal (read-only), and an Overwrite write deletes
    // its own target directory
    val dir = "viewfs://graftstore/data/store"
    val base = events.select(cols.map(col) :+ lit(1L).as("version"): _*)
    TsStore.write(base, dir, tsCol = "ts", uidCols = Seq("event_type"))
    val d1 = delta(10, 1000.0)
    val v = TsStore.upsert(spark, dir, d1, keyCols = Seq("event_id"),
      versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))
    assert(v === 2L, s"expected ensure()=v1 + upsert()=v2, got v$v")
    same(TsStore.read(spark, dir), merged(base, d1))
    same(TsStore.read(spark, dir, asOf = Some(1L)), base)
    // delete through the same branch
    val pred = col("event_type") === "purchase" && col("event_id") % 4 === 0
    TsStore.delete(spark, dir, pred, tsCol = "ts", uidCols = Seq("event_type"))
    same(TsStore.read(spark, dir), merged(base, d1).filter(not(pred)))
    // vacuum (checkpoint rewrite via FileContext rename OVERWRITE)
    assert(TsStore.vacuum(dir) > 0)
    same(TsStore.read(spark, dir), merged(base, d1).filter(not(pred)))
    assertThrows[IllegalArgumentException] {
      TsStore.read(spark, dir, asOf = Some(1L)).collect()
    }
    } finally spark.sparkContext.hadoopConfiguration.unset(
      "fs.viewfs.mounttable.graftstore.link./data")
  }

  test("TsStore end to end on a mocknn:// path: the full protocol through the HDFS-contract branch") {
    // the strongest non-local proof available without a NameNode: Spark
    // writes/reads through MockNnFileSystem, adoption renames via the
    // Hadoop FS API, and every manifest publish takes the
    // FileContext.rename(Rename.NONE) CAS (mocknn cannot reroute to
    // link(2) — its scheme never resolves to file:) — the exact branch
    // an HDFS deployment runs, end to end rather than per-primitive
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mocknn.impl", classOf[MockNnFileSystem].getName)
    conf.set("fs.AbstractFileSystem.mocknn.impl", classOf[MockNnFs].getName)
    conf.set(CommitIo.ExtraCasSchemesKey, "mocknn")
    val backing = Files.createTempDirectory("graft_mocknn_e2e")
    try {
    val dir = s"mocknn://$backing/store"
    val base = events.select(cols.map(col) :+ lit(1L).as("version"): _*)
    TsStore.write(base, dir, tsCol = "ts", uidCols = Seq("event_type"))
    val d1 = delta(10, 1000.0)
    val v = TsStore.upsert(spark, dir, d1, keyCols = Seq("event_id"),
      versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))
    assert(v === 2L, s"expected ensure()=v1 + upsert()=v2, got v$v")
    same(TsStore.read(spark, dir), merged(base, d1))
    same(TsStore.read(spark, dir, asOf = Some(1L)), base)
    // delete through the same branch
    val pred = col("event_type") === "purchase" && col("event_id") % 4 === 0
    TsStore.delete(spark, dir, pred, tsCol = "ts", uidCols = Seq("event_type"))
    same(TsStore.read(spark, dir), merged(base, d1).filter(not(pred)))
    // vacuum (checkpoint rewrite via FileContext rename OVERWRITE)
    assert(TsStore.vacuum(dir) > 0)
    same(TsStore.read(spark, dir), merged(base, d1).filter(not(pred)))
    assertThrows[IllegalArgumentException] {
      TsStore.read(spark, dir, asOf = Some(1L)).collect()
    }
    } finally {
      conf.unset("fs.mocknn.impl")
      conf.unset("fs.AbstractFileSystem.mocknn.impl")
      conf.unset(CommitIo.ExtraCasSchemesKey)
    }
  }

  test("upsert on a TIMESTAMP-partitioned store replaces rows, never duplicates them") {
    import spark.implicits._
    // partition values with spaces/colons: Spark's path rendering
    // ('day=2024-01-01 09%3A30%3A00') must be what the manifest's
    // replaced-prefix matching uses — a hand-built String.valueOf
    // rendering would never match and every upsert would DOUBLE keys
    val dir = Files.createTempDirectory("graft_tsuid").toString
    def day(s: String) = java.sql.Timestamp.valueOf(s)
    val b = Seq((1L, day("2024-01-01 09:30:00"), 10.0, 1L),
      (2L, day("2024-01-01 09:30:00"), 20.0, 1L),
      (3L, day("2024-01-02 09:30:00"), 30.0, 1L))
      .toDF("id", "day", "v", "version")
    TsStore.write(b, dir, tsCol = "day", uidCols = Seq("day"))
    val d = Seq((2L, day("2024-01-01 09:30:00"), 99.0, 2L))
      .toDF("id", "day", "v", "version")
    TsStore.upsert(spark, dir, d, keyCols = Seq("id"),
      versionCol = "version", tsCol = "day", uidCols = Seq("day"))
    val got = TsStore.read(spark, dir, tsCol = "day")
    assert(got.count() === 3, s"duplicated keys: ${got.collect().toSeq}")
    assert(got.filter(col("id") === 2L).select("v").first().getDouble(0) === 99.0)
  }
}
