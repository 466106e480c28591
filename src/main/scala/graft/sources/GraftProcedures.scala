package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.types._

/** The store's MAINTENANCE verbs as catalog stored procedures — the
  * `CALL` face that completes the pure-SQL story (the Iceberg
  * `system.*` procedures role): an operator runs vacuum, compaction or
  * a z-order rewrite against a NAMED table with no Scala in sight,
  *
  * {{{
  *   CALL g.system.vacuum(table => 'ns.ticks', retain => 3)
  *   CALL g.system.compact('ns.ticks', 8)
  *   CALL g.system.zorder('ns.ticks', 'user_id,value')
  * }}}
  *
  * each returning a one-row result (the reclaimed-file count / the
  * committed manifest version) through the same zero-IO one-row scan
  * the aggregate pushdown uses. The table's physical layout (tsCol,
  * partition columns) comes from its own manifest properties — recorded
  * at CREATE TABLE, inherited by every commit — so the procedures need
  * no layout arguments a caller could get wrong.
  */
object GraftProcedures {

  val Names: Seq[String] =
    Seq("vacuum", "compact", "zorder", "history", "detail", "delete_keys",
      "tag", "drop_tag", "tags", "set_not_null", "drop_not_null",
      "branch", "drop_branch", "publish_branch", "branches")

  /** Procedure result rows — the analyzer requires a LocalScan. */
  private final class ResultScan(schema: StructType, rowVals: Seq[Array[Any]])
    extends org.apache.spark.sql.connector.read.LocalScan {
    override def readSchema(): StructType = schema
    override def rows(): Array[InternalRow] = rowVals.map(v =>
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(v): InternalRow)
      .toArray
  }

  private def oneRowScan(schema: StructType, values: Array[Any]): util.Iterator[Scan] =
    rowsScan(schema, Seq(values))

  private def rowsScan(schema: StructType, rows: Seq[Array[Any]]): util.Iterator[Scan] =
    util.Collections.singletonList[Scan](new ResultScan(schema, rows)).iterator()

  /** Resolve a table's path + physical layout from the catalog root and
    * the manifest's own properties (the catalog contract; adopted
    * stores without recorded uids fall back to the file layout).
    */
  private def layout(root: String, table: String): (String, String, Seq[String]) = {
    val path = (root +: table.split('.').toSeq.map(_.trim).filter(_.nonEmpty))
      .mkString("/")
    require(StoreLog.exists(path), s"no graft table at '$table' (path $path)")
    // raw props probe — a procedure's layout lookup must not resolve a
    // million-file snapshot just to read three properties
    val props = StoreLog.latestVersion(path)
      .map(v => StoreLog.propsAt(path, v)).getOrElse(Map.empty)
    val tsCol = props.getOrElse(GraftTable.TsColProp, "ts")
    val uids = props.get(GraftTable.UidsProp)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(GraftTable.partCols(path))
    (path, tsCol, uids)
  }

  /** Declared → physical column name at the store's latest declaration
    * (identity for a never-renamed column).
    */
  private def physOfDeclared(path: String): String => String = {
    val m = GraftTable.latestDeclared(path).map(GraftTable.physMap).getOrElse(Map.empty)
    n => m.getOrElse(n, n)
  }

  private abstract class OneShot(procName: String, doc: String,
                                 params: Array[ProcedureParameter])
    extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = doc
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params
    override def isDeterministic: Boolean = false
  }

  def load(root: String, procName: String): UnboundProcedure =
    procName.toLowerCase match {
      case "vacuum" => new OneShot("vacuum",
        "reclaim data files unreferenced by the retained manifest versions " +
          "(retained = the trailing `retain` window, plus every version " +
          "younger than `retain_hours`, plus every named tag)",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("retain", IntegerType).defaultValue("1").build(),
          ProcedureParameter.in("retain_hours", DoubleType).defaultValue("NULL").build())) {
        override def call(input: InternalRow): util.Iterator[Scan] = {
          val (path, _, _) = layout(root, input.getUTF8String(0).toString)
          val retain = if (input.isNullAt(1)) 1 else input.getInt(1)
          val retainMs =
            if (input.isNullAt(2)) 0L
            else (input.getDouble(2) * 3600 * 1000).toLong
          val deleted = TsStore.vacuum(path, retain, retainMs)
          oneRowScan(StructType(Seq(
            StructField("deleted_files", IntegerType, nullable = false))),
            Array(deleted))
        }
      }
      case "compact" => new OneShot("compact",
        "rewrite partitions holding more than max_files live files — or whose " +
          "deleted-row ratio is at least dv_ratio — into range-sorted chunks; " +
          "a where-predicate names the candidate partitions instead of the cues",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("max_files", IntegerType).defaultValue("8").build(),
          ProcedureParameter.in("dv_ratio", DoubleType).defaultValue("0.2").build(),
          ProcedureParameter.in("where", StringType).defaultValue("NULL").build())) {
        override def call(input: InternalRow): util.Iterator[Scan] = {
          val (path, tsCol, uids) = layout(root, input.getUTF8String(0).toString)
          require(uids.nonEmpty, "compact needs the table's partition columns " +
            "(create the table through the catalog, or write it partitioned)")
          val cap = if (input.isNullAt(1)) 8 else input.getInt(1)
          val dvRatio = if (input.isNullAt(2)) 0.2 else input.getDouble(2)
          val v0 = StoreLog.latestVersion(path)
            .getOrElse(StoreLog.ensure(path).version)
          // per-prefix cue tallies STREAM off the manifest fold — the
          // cue walk against a million-file store holds O(prefixes)
          // driver state, never a resolved snapshot
          val stats = TsStore.livePrefixStats(path, v0)
          // partition scope (the OPTIMIZE ... WHERE role): a predicate
          // REPLACES the auto-selection cues — at 100 TB "compact
          // yesterday's ingest partitions now" must not wait for the
          // whole-store cue walk to name them — but keeps the
          // already-compact guard: in-scope partitions at or under
          // max_files with no deletion vectors cost nothing (the same
          // contract compactPartitions enforces internally).
          val candidates: Seq[String] =
            if (input.isNullAt(3)) {
              val overCap = stats.collect {
                case (p, (n, _)) if n > cap => p }.toSeq
              // dv-density cue: manifest-recorded cardinalities, zero IO
              overCap ++ TsStore.dvDensePrefixesAt(path, v0, dvRatio)
            } else TsStore.partitionPrefixesWhere(SparkSession.active,
              stats.keys.toSeq.sorted, input.getUTF8String(3).toString)
          val over = candidates.distinct.sorted.filter { p =>
            stats.get(p).exists { case (n, hasDv) => n > cap || hasDv }
          }
          val v =
            if (over.isEmpty) v0
            else TsStore.compactPartitions(SparkSession.active, path, over,
              tsCol, uids, maxFilesPerPartition = cap)
          oneRowScan(StructType(Seq(
            StructField("version", LongType, nullable = false),
            StructField("compacted_partitions", IntegerType, nullable = false))),
            Array(v, over.size))
        }
      }
      case "zorder" => new OneShot("zorder",
        "rewrite the table (or the partitions a where-predicate names) " +
          "clustered on the interleaved Morton value of the named columns; " +
          "incremental => true rewrites only files added since the last " +
          "whole-store pass on the same columns",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("cols", StringType).build(),
          ProcedureParameter.in("buckets", IntegerType).defaultValue("256").build(),
          ProcedureParameter.in("where", StringType).defaultValue("NULL").build(),
          ProcedureParameter.in("incremental", BooleanType).defaultValue("false").build())) {
        override def call(input: InternalRow): util.Iterator[Scan] = {
          val (path, _, uids) = layout(root, input.getUTF8String(0).toString)
          require(uids.nonEmpty, "zorder needs the table's partition columns " +
            "(create the table through the catalog, or write it partitioned)")
          // renamed columns arrive under their DECLARED names; the
          // clustering rewrite operates on the files' physical names
          val physOf = physOfDeclared(path)
          val cols = input.getUTF8String(1).toString
            .split(',').map(_.trim).filter(_.nonEmpty).toSeq.map(physOf)
          val buckets = if (input.isNullAt(2)) 256 else input.getInt(2)
          // partition scope: resolve the predicate to live prefixes
          // (partition columns are rename/retype-immutable, so the
          // user's names ARE the directory names); a null where
          // re-clusters the whole store, a predicate admitting nothing
          // is a no-op returning the current version
          val spark = SparkSession.active
          val scope =
            if (input.isNullAt(3)) Nil
            else {
              val v0 = StoreLog.latestVersion(path)
                .getOrElse(StoreLog.ensure(path).version)
              TsStore.partitionPrefixesWhere(spark,
                TsStore.livePrefixStats(path, v0).keys.toSeq.sorted,
                input.getUTF8String(3).toString)
            }
          val incremental = !input.isNullAt(4) && input.getBoolean(4)
          val v =
            if (!input.isNullAt(3) && scope.isEmpty)
              StoreLog.latestVersion(path).getOrElse(0L)
            else TsStore.zorder(spark, path,
              clusterCols = cols, uidCols = uids, buckets = buckets,
              scope = scope, incremental = incremental)
          oneRowScan(StructType(Seq(
            StructField("version", LongType, nullable = false))), Array(v))
        }
      }
      case "delete_keys" => new OneShot("delete_keys",
        "take down every row matching a key set (a view/table of keys + " +
          "delete-version): mode 'dv' writes deletion-vector sidecars " +
          "(O(deleted rows) IO, one commit), mode 'cow' rewrites the " +
          "affected files",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("keys", StringType).build(),
          ProcedureParameter.in("key_cols", StringType).build(),
          ProcedureParameter.in("delete_version_col", StringType).build(),
          ProcedureParameter.in("version_col", StringType).build(),
          ProcedureParameter.in("mode", StringType).defaultValue("'dv'").build())) {
        override def call(input: InternalRow): util.Iterator[Scan] = {
          // the SQL face of the scattered-takedown path (GDPR batches):
          // DELETE WHERE expresses a predicate, not a MILLION-KEY LIST —
          // this routes a keys relation through deleteKeysVectors /
          // deleteKeys, whose plans are O(1) in key count (broadcast key
          // join, no per-key predicate explosion)
          val (path, tsCol, uids) = layout(root, input.getUTF8String(0).toString)
          val spark = SparkSession.active
          val keysRel = spark.table(input.getUTF8String(1).toString)
          // renamed columns arrive under their DECLARED names; the
          // store-side frames read physical, so map the key/version
          // columns and restate the keys relation in physical terms
          val physOf = physOfDeclared(path)
          val keyCols = input.getUTF8String(2).toString
            .split(',').map(_.trim).filter(_.nonEmpty).toSeq
          require(keyCols.nonEmpty, "delete_keys needs at least one key column")
          val delV = input.getUTF8String(3).toString.trim
          val verCol = physOf(input.getUTF8String(4).toString.trim)
          val keys = keyCols.foldLeft(keysRel) { (df, c) =>
            if (physOf(c) == c) df
            else df.withColumnRenamed(c, physOf(c))
          }
          val mode =
            if (input.isNullAt(5)) "dv"
            else input.getUTF8String(5).toString.trim.toLowerCase
          val v = mode match {
            case "dv" =>
              TsStore.deleteKeysVectors(spark, path, keys,
                keyCols.map(physOf), delV, verCol)
            case "cow" =>
              require(uids.nonEmpty, "delete_keys mode 'cow' needs the " +
                "table's partition columns")
              TsStore.deleteKeys(spark, path, keys, keyCols.map(physOf),
                delV, verCol, tsCol, uids)
            case other => throw new IllegalArgumentException(
              s"delete_keys mode must be 'dv' or 'cow', got '$other'")
          }
          oneRowScan(StructType(Seq(
            StructField("version", LongType, nullable = false))), Array(v))
        }
      }
      case "tag" => new OneShot("tag",
        "pin a version under a name (the Iceberg tag role): readable " +
          "via VERSION AS OF '<name>', retained by vacuum however old",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build(),
          ProcedureParameter.in("version", LongType).defaultValue("NULL").build())) {
        override def call(input: InternalRow): util.Iterator[Scan] = {
          val (path, _, _) = layout(root, input.getUTF8String(0).toString)
          val name = input.getUTF8String(1).toString
          // default = pin the CURRENT version (the one before this tag
          // commit); an explicit version must be a retained manifest —
          // a tag must name an era that can actually be read back.
          // Re-tagging an existing name moves it (REPLACE TAG); the
          // tag itself is a metadata-only commit (TsStore.tag).
          val v = TsStore.tag(path, name,
            if (input.isNullAt(2)) None else Some(input.getLong(2)))
          oneRowScan(StructType(Seq(
            StructField("name", StringType, nullable = false),
            StructField("version", LongType, nullable = false))),
            Array(org.apache.spark.unsafe.types.UTF8String.fromString(name), v))
        }
      }
      case "drop_tag" => new OneShot("drop_tag",
        "remove a named tag — its version rejoins the ordinary vacuum " +
          "retention window",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build())) {
        override def call(input: InternalRow): util.Iterator[Scan] = {
          val (path, _, _) = layout(root, input.getUTF8String(0).toString)
          val name = input.getUTF8String(1).toString
          TsStore.dropTag(path, name)
          oneRowScan(StructType(Seq(
            StructField("dropped", StringType, nullable = false))),
            Array(org.apache.spark.unsafe.types.UTF8String.fromString(name)))
        }
      }
      case "branch" => new OneShot("branch",
        "create a writable branch at the current main version (the " +
          "Iceberg branch / write-audit-publish pattern): appends can " +
          "target it invisibly to main readers; read it via VERSION AS " +
          "OF '<name>'; publish_branch audits + fast-forwards main. " +
          "expire_hours ages the branch out at vacuum once idle that " +
          "long (the ref-aging role); omitted = never expires",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build(),
          ProcedureParameter.in("expire_hours", DoubleType)
            .defaultValue("NULL").build())) {
        override def call(input: InternalRow): util.Iterator[Scan] = {
          val (path, _, _) = layout(root, input.getUTF8String(0).toString)
          val name = input.getUTF8String(1).toString
          val expireMs =
            if (input.isNullAt(2)) None
            else Some((input.getDouble(2) * 3600 * 1000).toLong)
          val base = TsStore.branch(path, name, expireMs)
          oneRowScan(StructType(Seq(
            StructField("name", StringType, nullable = false),
            StructField("base_version", LongType, nullable = false))),
            Array(org.apache.spark.unsafe.types.UTF8String.fromString(name), base))
        }
      }
      case "drop_branch" => new OneShot("drop_branch",
        "abandon a branch: its staged commits become unreferenced and a " +
          "later vacuum reclaims them; main is untouched",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build())) {
        override def call(input: InternalRow): util.Iterator[Scan] = {
          val (path, _, _) = layout(root, input.getUTF8String(0).toString)
          val name = input.getUTF8String(1).toString
          TsStore.dropBranch(path, name)
          oneRowScan(StructType(Seq(
            StructField("dropped", StringType, nullable = false))),
            Array(org.apache.spark.unsafe.types.UTF8String.fromString(name)))
        }
      }
      case "publish_branch" => new OneShot("publish_branch",
        "write-audit-publish's publish: validate the branch head against " +
          "the table's CURRENT constraints (CHECK + NOT NULL), then ONE " +
          "atomic commit fast-forwards main to the branch view; refuses " +
          "if main moved since the branch was created (diverged)",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build())) {
        override def call(input: InternalRow): util.Iterator[Scan] = {
          val (path, _, _) = layout(root, input.getUTF8String(0).toString)
          val name = input.getUTF8String(1).toString
          val v = TsStore.publishBranch(SparkSession.active, path, name)
          oneRowScan(StructType(Seq(
            StructField("name", StringType, nullable = false),
            StructField("published_version", LongType, nullable = false))),
            Array(org.apache.spark.unsafe.types.UTF8String.fromString(name), v))
        }
      }
      case "branches" => new OneShot("branches",
        "list the table's live branches: one row per branch, metadata only",
        Array(
          ProcedureParameter.in("table", StringType).build())) {
        override def call(input: InternalRow): util.Iterator[Scan] = {
          val (path, _, _) = layout(root, input.getUTF8String(0).toString)
          import org.apache.spark.unsafe.types.UTF8String
          val rows = StoreLog.branches(path).toSeq.sortBy(_._1).map {
            case (n, v) => Array[Any](UTF8String.fromString(n), v)
          }
          rowsScan(StructType(Seq(
            StructField("name", StringType, nullable = false),
            StructField("head_version", LongType, nullable = false))), rows)
        }
      }
      case "set_not_null" => new OneShot("set_not_null",
        "make a column NOT NULL: validates existing rows (one " +
          "stop-at-first-NULL scan), then every write path enforces it " +
          "per row like a CHECK constraint. (Spark's analyzer refuses " +
          "ALTER COLUMN ... SET NOT NULL against v2 catalogs, so the " +
          "tightening direction lives here; DROP NOT NULL also works " +
          "through plain ALTER TABLE.)",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("column", StringType).build())) {
        override def call(input: InternalRow): util.Iterator[Scan] = {
          val (path, _, _) = layout(root, input.getUTF8String(0).toString)
          val col = input.getUTF8String(1).toString.trim
          GraftTable.alterNotNull(SparkSession.active, path, col, notNull = true)
          oneRowScan(StructType(Seq(
            StructField("column", StringType, nullable = false))),
            Array(org.apache.spark.unsafe.types.UTF8String.fromString(col)))
        }
      }
      case "drop_not_null" => new OneShot("drop_not_null",
        "lift a column's NOT NULL invariant (the CALL twin of ALTER " +
          "COLUMN ... DROP NOT NULL)",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("column", StringType).build())) {
        override def call(input: InternalRow): util.Iterator[Scan] = {
          val (path, _, _) = layout(root, input.getUTF8String(0).toString)
          val col = input.getUTF8String(1).toString.trim
          GraftTable.alterNotNull(SparkSession.active, path, col, notNull = false)
          oneRowScan(StructType(Seq(
            StructField("column", StringType, nullable = false))),
            Array(org.apache.spark.unsafe.types.UTF8String.fromString(col)))
        }
      }
      case "tags" => new OneShot("tags",
        "list the table's named tags: one row per tag, metadata only",
        Array(
          ProcedureParameter.in("table", StringType).build())) {
        override def call(input: InternalRow): util.Iterator[Scan] = {
          val (path, _, _) = layout(root, input.getUTF8String(0).toString)
          import org.apache.spark.unsafe.types.UTF8String
          val rows = StoreLog.namedTags(path).toSeq.sortBy(_._1).map {
            case (n, v) => Array[Any](UTF8String.fromString(n), v)
          }
          rowsScan(StructType(Seq(
            StructField("name", StringType, nullable = false),
            StructField("version", LongType, nullable = false))), rows)
        }
      }
      case "history" => new OneShot("history",
        "list the table's commit history: one row per retained manifest version",
        Array(
          ProcedureParameter.in("table", StringType).build())) {
        override def call(input: InternalRow): util.Iterator[Scan] = {
          val (path, _, _) = layout(root, input.getUTF8String(0).toString)
          import org.apache.spark.unsafe.types.UTF8String
          // per version: raw manifest probes (count/replaced/tag/ts) +
          // ONE streamed fold for the live-byte sum — O(1) driver
          // memory per row however many files the store holds (the old
          // full resolution materialized every version's maps)
          val rows = StoreLog.listVersions(path).sorted.map { v =>
            val replaced = StoreLog.replacedAt(path, v)
            val bytes = StoreLog.foldFiles(path, v)(0L)(
              (a, e) => a + e.size.getOrElse(0L))
            Array[Any](
              v,
              StoreLog.timestampAt(path, v) * 1000L, // ms → internal micros
              StoreLog.liveFileCount(path, v).toInt,
              replaced.size,
              if (replaced.isEmpty) null
              else UTF8String.fromString(replaced.mkString(",")),
              bytes,
              StoreLog.tagAt(path, v).map(UTF8String.fromString).orNull)
          }
          rowsScan(StructType(Seq(
            StructField("version", LongType, nullable = false),
            StructField("committed_at", TimestampType, nullable = false),
            StructField("n_files", IntegerType, nullable = false),
            StructField("n_replaced", IntegerType, nullable = false),
            StructField("replaced", StringType),
            StructField("total_bytes", LongType, nullable = false),
            StructField("tag", StringType))), rows)
        }
      }
      case "detail" => new OneShot("detail",
        "DESCRIBE DETAIL over the manifest: one row per live data file " +
          "(partition, bytes, recorded-stat column count, deletion-vector " +
          "state), metadata only",
        Array(
          ProcedureParameter.in("table", StringType).build())) {
        override def call(input: InternalRow): util.Iterator[Scan] = {
          val (path, _, _) = layout(root, input.getUTF8String(0).toString)
          import org.apache.spark.unsafe.types.UTF8String
          val snap = StoreLog.latest(path).getOrElse(
            throw new IllegalArgumentException(s"no manifest at $path"))
          val rows = snap.files.sorted.map { f =>
            val i = f.lastIndexOf('/')
            Array[Any](
              UTF8String.fromString(f),
              UTF8String.fromString(if (i > 0) f.substring(0, i) else ""),
              snap.sizes.getOrElse(f, -1L),
              snap.stats.get(f).map(_.size).getOrElse(0),
              // merge-on-read visibility: deleted-position count and
              // exact live rows per file — the "is it time to compact"
              // signal, answered without opening a single file
              snap.dvs.get(f).map(_.rows).getOrElse(0L),
              snap.liveRows(f).getOrElse(-1L))
          }
          rowsScan(StructType(Seq(
            StructField("file", StringType, nullable = false),
            StructField("partition", StringType, nullable = false),
            StructField("bytes", LongType, nullable = false),
            StructField("n_stat_cols", IntegerType, nullable = false),
            StructField("dv_rows", LongType, nullable = false),
            StructField("live_rows", LongType, nullable = false))), rows)
        }
      }
      case other => throw new UnsupportedOperationException(
        s"no such graft procedure: system.$other (have: ${Names.mkString(", ")})")
    }
}
