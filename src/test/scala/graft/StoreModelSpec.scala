package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.TsStore

/** Model-based check of the manifest-committed store: a seeded random
  * sequence of upserts, row-level deletes and appends runs against BOTH
  * the real store and
  * a driver-side reference map; after every committed version the
  * store's read must equal the model, and at the end sampled historic
  * versions must time-travel to their recorded model states (across
  * checkpoint AND delta manifests — the op count is chosen to cross the
  * checkpoint cadence twice). This is the breadth test the scenario
  * specs can't give: arbitrary interleavings of partial-partition
  * updates, inserts and appends against the latest-wins + delta-chain
  * machinery.
  */
case class ModelRec(id: Long, part: String, value: Double, version: Long)

class StoreModelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private type Rec = ModelRec
  private val Rec = ModelRec

  test("25 random upserts/appends track the reference model; sampled versions time-travel") {
    StoreModelCheck.run(spark, Files.createTempDirectory("graft_model").toString)
  }

  test("the same model check holds through the Hadoop CommitIo on a file:-scheme path") {
    // identical op sequence, but every manifest/list/move/delete runs
    // through CommitIo.Hadoop (file: URI) instead of the java.nio impl —
    // the seam's strongest equivalence proof
    StoreModelCheck.run(spark, "file:" + Files.createTempDirectory("graft_model_hfs").toString)
  }
}

/** The model sequence itself, shared by every backend's spec (local,
  * Hadoop `file:`, conditional-PUT `mocks3:` — StoreObjectIoSpec):
  * one implementation, three commit planes.
  */
object StoreModelCheck extends org.scalatest.Assertions {
  private type Rec = ModelRec
  private val Rec = ModelRec
  def run(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def part(id: Long) = s"p${id % 4}"

    var model = Map.empty[Long, Rec]
    def df(rs: Seq[Rec]) = rs.toDF()
      .select(col("id"), col("part"),
        col("value"), col("version"),
        // the store needs a time column; derive it from the id so it is
        // stable across re-deliveries of the same key
        expr("timestamp_micros(id * 1000000)").as("ts"))

    // base: ids 0..99, version 1 — an Append onto the fresh path,
    // which adopts it (an empty v1) before committing the base
    val base = (0L until 100L).map(id => Rec(id, part(id), id * 1.0, 1L))
    model = base.map(r => r.id -> r).toMap
    TsStore.write(df(base), dir, tsCol = "ts", uidCols = Seq("part"),
      mode = org.apache.spark.sql.SaveMode.Append)

    def readStore(asOf: Option[Long] = None): Map[Long, Rec] = {
      val rows = TsStore.read(spark, dir, asOf = asOf)
        .select(col("id"), col("part"), col("value"), col("version"))
        .collect()
      // a buggy upsert's signature failure is an old row left LIVE next
      // to its replacement — .toMap would silently collapse that, so
      // pin key uniqueness before keying
      assert(rows.length === rows.map(_.getLong(0)).distinct.length,
        "duplicate live rows for a key — upsert left a replaced row live")
      rows.map(r => r.getLong(0) -> Rec(r.getLong(0), r.getString(1),
        r.getDouble(2), r.getLong(3))).toMap
    }

    var nextVersion = 2L
    var nextId = 100L
    val history = scala.collection.mutable.Map.empty[Long, Map[Long, Rec]]

    for (step <- 1 to 25) {
      val roll = rnd.nextDouble()
      if (roll < 0.55) {
        // upsert: a random mix of updates to existing ids and inserts,
        // all at one fresh version (strictly increasing — ties would
        // make the model's winner depend on the hash tie-break)
        val updates = rnd.shuffle(model.keys.toSeq).take(1 + rnd.nextInt(20))
          .map(id => Rec(id, part(id), rnd.nextInt(1000) * 1.0, nextVersion))
        val inserts = (0 until rnd.nextInt(4)).map { _ =>
          val id = nextId; nextId += 1
          Rec(id, part(id), rnd.nextInt(1000) * 1.0, nextVersion)
        }
        val delta = updates ++ inserts
        val v = TsStore.upsert(spark, dir, df(delta), keyCols = Seq("id"),
          versionCol = "version", tsCol = "ts", uidCols = Seq("part"))
        model = model ++ delta.map(r => r.id -> r)
        history(v) = model
      } else if (roll < 0.75 && model.nonEmpty) {
        // row-level delete: a random live-id subset (the takedown verb
        // joins the random mix — file-granular copy-on-write must track
        // the model exactly, and every version stays time-travelable)
        val victims = rnd.shuffle(model.keys.toSeq).take(1 + rnd.nextInt(8)).toSet
        val v = TsStore.delete(spark, dir,
          org.apache.spark.sql.functions.col("id").isin(victims.toSeq: _*),
          tsCol = "ts", uidCols = Seq("part"))
        model = model -- victims
        history(v) = model
      } else {
        // append: brand-new ids only (an append is NOT a merge — a
        // duplicate id would legitimately produce two live rows)
        val rows = (0 until 1 + rnd.nextInt(5)).map { _ =>
          val id = nextId; nextId += 1
          Rec(id, part(id), rnd.nextInt(1000) * 1.0, nextVersion)
        }
        TsStore.write(df(rows), dir, tsCol = "ts", uidCols = Seq("part"),
          mode = org.apache.spark.sql.SaveMode.Append,
          overlapPolicy = TsStore.OverlapPolicy.Allow)
        model = model ++ rows.map(r => r.id -> r)
        TsStore.versions(dir).lastOption.foreach(v => history(v) = model)
      }
      nextVersion += 1
      assert(readStore() === model, s"store diverged from model at step $step")
    }

    val versions = TsStore.versions(dir)
    assert(versions.size >= 20, s"expected ~25 committed versions, got $versions")
    // time travel to a sample of recorded versions — early (pre-first-
    // checkpoint), middle and latest, so both manifest kinds resolve
    val sample = Seq(history.keys.min, history.keys.toSeq.sorted.apply(history.size / 2),
      history.keys.max)
    sample.foreach { v =>
      assert(readStore(asOf = Some(v)) === history(v), s"time travel to v$v diverged")
    }
    // vacuum to the latest only; the live view must be untouched
    assert(TsStore.vacuum(dir) > 0)
    assert(readStore() === model)
  }
}
