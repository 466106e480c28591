package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The branch-path maintenance commit must refuse when MAIN's deletion
  * vectors on the rewrite's targets changed since the pass resolved its
  * base view: parquet files never mutate, so dv state is the only way a
  * live target's content can drift — and a rewrite staged from the old
  * rows would silently RESURRECT a takedown that landed in the gap (the
  * staged files still hold the deleted rows; the replaced file's vector
  * dies with it). The branchless path is covered by the transform
  * scaffold's conflict walk; this drives the branch path directly with
  * a deliberately stale `baseViewV`, the shape a real interleaving
  * (base resolved → takedown commits → branch opens → rewrite commits)
  * produces.
  */
class MaintenanceDvDriftSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  test("a takedown landing after the pass read its rows aborts the branch-path commit") {
    val dir = Files.createTempDirectory("graft_dvdrift").toString
    val ev = Tables.events(spark, graft.TestSpark.sf001)
      .select("event_id", "ts", "user_id", "event_type", "value")
    TsStore.write(ev, dir, tsCol = "ts", uidCols = Seq("event_type"),
      maxRecordsPerFile = 100)
    val v1 = StoreLog.latestVersion(dir).get // the base the pass "read"
    val clickFiles = StoreLog.read(dir, v1).files
      .filter(_.startsWith("event_type=click/"))
    assert(clickFiles.size > 1, "fixture must be fragmented")
    // the takedown lands AFTER the pass resolved its base…
    TsStore.deleteVectors(spark, dir,
      col("event_type") === "click" && col("event_id") % 2 === 0)
    val deleted = TsStore.load(spark, dir)
      .filter(col("event_type") === "click").count()
    // …and a branch opens, putting the rewrite on the branch path
    TsStore.branch(dir, "wap")
    // stage a "rewrite" produced from the stale v1 rows — a copy of a
    // live file suffices, the commit must refuse before content matters
    val moved = "event_type=click/part-dvdrift-0001.zstd.parquet"
    val dst = new java.io.File(dir, moved)
    Files.copy(new java.io.File(dir, clickFiles.head).toPath, dst.toPath)
    val e = intercept[StoreLog.CommitConflict] {
      StoreLog.withWriterLease(dir) { lease =>
        TsStore.commitMaintenanceRewrite(dir, lease, baseViewV = v1,
          moved = GraftWriteTaskResult(Seq(moved), Map.empty, Map.empty),
          replaced = Seq("event_type=click"),
          targets = clickFiles)
      }
    }
    assert(e.getMessage.contains("deletion vectors changed"), e.getMessage)
    assert(!dst.exists(), "the abort must delete the staged rewrite")
    // the takedown holds and a FRESH pass (public verb re-resolves its
    // base after the takedown) compacts fine, materializing the vectors
    assert(TsStore.load(spark, dir)
      .filter(col("event_type") === "click").count() === deleted)
    TsStore.compactPartitions(spark, dir, Seq("event_type=click"),
      tsCol = "ts", uidCols = Seq("event_type"))
    assert(TsStore.load(spark, dir)
      .filter(col("event_type") === "click").count() === deleted)
    val mv = StoreLog.mainVersion(dir).get
    assert(StoreLog.read(dir, mv).dvs.isEmpty,
      "compaction must materialize the vectors it preserved")
  }
}
