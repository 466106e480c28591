package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, NamedArgumentExpression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

/** SQL entry point for the manifest-aware (and time-travel) store read —
  * a table-valued function so warehouse users reach
  * [[graft.sources.TsStore.load]] without the Scala API:
  *
  * {{{
  *   SELECT * FROM graft_store('/data/ticks/default')             -- live
  *   SELECT * FROM graft_store('/data/ticks/default', 3)          -- asOf v3
  *   SELECT * FROM graft_store('/data/ticks/default', asOf => 3)  -- named
  * }}}
  *
  * A logged store's directory holds replaced (dead) chunks by design; a
  * plain `parquet.`/read of the path would resurrect them. This TVF is
  * the SQL-side manifest-aware read: a logged store plans through the
  * DSv2 `GraftTable` (the catalog's own relation) pinned at the parse-
  * time version — partition pruning, manifest-stat file skipping,
  * aggregate/limit pushdown, deletion-vector and renamed-column
  * handling, and the opt-in partitioned/ordered layout reports all
  * apply exactly as they do for a catalog table. The builder runs at
  * parse time, so arguments must be literals (the version is a commit
  * id, not data).
  */
object StoreTvf {

  private def strArg(e: Expression, what: String): String = e match {
    case Literal(v, _: StringType) if v != null => v.toString
    case other => throw new IllegalArgumentException(
      s"graft_store: $what must be a string literal, got $other")
  }

  private def longArg(e: Expression, what: String): Long = e match {
    case Literal(v: Int, IntegerType) => v.toLong
    case Literal(v: Long, LongType) => v
    case other => throw new IllegalArgumentException(
      s"graft_store: $what must be an integer literal, got $other")
  }

  def build(args: Seq[Expression]): LogicalPlan = {
    if (args.isEmpty || args.length > 2)
      throw new IllegalArgumentException(
        s"graft_store expects (path[, asOf => version]) — got ${args.length} args")
    val path = strArg(args.head, "path")
    val asOf: Option[Long] = args.drop(1).headOption.map {
      case NamedArgumentExpression(name, value) =>
        if (name.toLowerCase != "asof")
          throw new IllegalArgumentException(
            s"graft_store: unknown named argument '$name' (only asOf)")
        longArg(value, "asOf")
      case e => longArg(e, "asOf")
    }
    // The TVF returns the DSv2 relation — the same GraftTable the
    // catalog serves — so the SQL read gets everything the
    // DSv2 face carries: manifest-stat file pruning, aggregate/limit
    // pushdown, columnar deletion-vector reads, renamed-column
    // translation, and (under the opt-in) the storage-partitioned /
    // ordered layouts the co-located as-of and zero-shuffle plans are
    // built on. SNAPSHOT-AT-PARSE semantics are kept by PINNING the
    // version here: a live read resolves the manifest when the
    // statement is parsed (a SQL VIEW over graft_store('p') pins
    // whatever version was live at definition); `asOf => v` is
    // immutable by construction (a directory without a log reads
    // through the provider's listing snapshot: nothing to pin). The
    // pin is MAIN-ref resolved (a live read under an open branch pins
    // what main readers see, never the staged view) and raw-probed (no
    // full snapshot resolution just to learn the version number)
    val pinned = asOf.orElse(graft.sources.StoreLog.mainVersion(path))
    val reader = SparkSession.active.read.format("graft")
    pinned.foreach(v => reader.option("asOf", v))
    reader.load(path).queryExecution.logical
  }

  /** Registration triple for `SparkSessionExtensions.injectTableFunction`. */
  def registration: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan) =
    (FunctionIdentifier("graft_store"),
      new ExpressionInfo(StoreTvf.getClass.getName, "graft_store"),
      build)
}

/** SQL face of the change feed ([[graft.sources.TsStore.changes]]) — the
  * CDC read a warehouse user issues between two committed versions:
  *
  * {{{
  *   SELECT * FROM graft_store_changes('/data/ticks/default', 1, 3,
  *                                     'event_id', 'version')
  *   -- with update preimages (the Delta CDF shape):
  *   SELECT * FROM graft_store_changes('/data/ticks/default', 1, 3,
  *                                     'event_id', 'version', true)
  * }}}
  *
  * `keys` is a comma-separated merge-key column list. Same
  * snapshot-at-parse semantics as `graft_store` — both versions are
  * commit ids, immutable by construction, so a cached plan stays right.
  * Only the window's added/replaced files are read (the diff is plan
  * metadata, not a scan).
  */
object StoreChangesTvf {

  private def strArg(e: Expression, what: String): String = e match {
    case Literal(v, _: StringType) if v != null => v.toString
    case other => throw new IllegalArgumentException(
      s"graft_store_changes: $what must be a string literal, got $other")
  }

  private def longArg(e: Expression, what: String): Long = e match {
    case Literal(v: Int, IntegerType) => v.toLong
    case Literal(v: Long, LongType) => v
    case other => throw new IllegalArgumentException(
      s"graft_store_changes: $what must be an integer literal, got $other")
  }

  private def boolArg(e: Expression, what: String): Boolean = e match {
    case Literal(v: Boolean, _) => v
    case other => throw new IllegalArgumentException(
      s"graft_store_changes: $what must be a boolean literal, got $other")
  }

  def build(args: Seq[Expression]): LogicalPlan = {
    if (args.length < 5 || args.length > 6)
      throw new IllegalArgumentException(
        "graft_store_changes expects (path, fromV, toV, keys, versionCol" +
          s"[, preimages]) — got ${args.length} args")
    val path = strArg(args(0), "path")
    val fromV = longArg(args(1), "fromV")
    val toV = longArg(args(2), "toV")
    val keys = strArg(args(3), "keys").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    if (keys.isEmpty)
      throw new IllegalArgumentException(
        "graft_store_changes: keys must name at least one merge-key column")
    val versionCol = strArg(args(4), "versionCol")
    val preimages = args.drop(5).headOption.exists(boolArg(_, "preimages"))
    graft.sources.TsStore.changes(SparkSession.active, path, fromV, toV,
        keyCols = keys, versionCol = versionCol, preimages = preimages)
      .queryExecution.logical
  }

  def registration: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan) =
    (FunctionIdentifier("graft_store_changes"),
      new ExpressionInfo(StoreChangesTvf.getClass.getName, "graft_store_changes"),
      build)
}
