package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsNamespaces, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.{GraftPartitionShim, PartitionedFile}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The versioned store as a first-class DSv2 BATCH source — the SQL/
  * DataFrame face the TVFs ([[graft.plans.StoreTvf]]) only approximate:
  *
  * {{{
  *   spark.read.format("graft").load(path)                    // live view
  *   spark.read.format("graft").option("asOf", 3).load(path)  // time travel
  * }}}
  *
  * and, through [[GraftCatalog]], a NAMED catalog face:
  *
  * {{{
  *   SET spark.sql.catalog.g = graft.sources.GraftCatalog
  *   SET spark.sql.catalog.g.root = /data/stores
  *   CREATE TABLE g.ns.ticks (ts TIMESTAMP, uid STRING, px DOUBLE)
  *     USING graft PARTITIONED BY (uid)
  *   INSERT INTO g.ns.ticks SELECT ...
  *   SELECT * FROM g.ns.ticks VERSION AS OF 3
  * }}}
  *
  * Scale design (what makes this the 100 TB read path, not a facade):
  * the scan plans from DRIVER-SIDE manifest metadata only — the live (or
  * `asOf`) file list and its recorded per-file column bounds
  * ([[FileStats]]). Pushed filters engage THREE pruning tiers before an
  * executor touches a byte: (1) partition-value pruning — each file's
  * `name=value` directory segments become synthetic per-file bounds, so
  * a uid predicate drops whole partitions at plan time; (2) manifest-
  * stat pruning — [[FileStats.fileMayMatch]], dropping files whose
  * recorded bounds exclude the predicate; (3) parquet row-group
  * skipping — the surviving filters ride into Spark's own vectorized
  * parquet reader (the identical `ParquetFileFormat` machinery
  * `FileSourceScanExec` ships), which also consults the store's bloom
  * filters. Column
  * pruning flows through `pruneColumns` into the reader's required
  * schema. Reported statistics (manifest row counts + file sizes) feed
  * the planner's broadcast decision for free.
  *
  * The reference never had a catalog face at all (corintick addresses
  * collections by name inside MongoDB); this is the table-format role
  * (Delta/Iceberg `CREATE TABLE ... USING`), re-expressed over the
  * [[StoreLog]] manifest.
  */
class GraftTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftTable.resolveSchema(SparkSession.active, GraftTable.pathOf(options),
      GraftTable.asOfOf(options))

  override def inferPartitioning(options: CaseInsensitiveStringMap): Array[Transform] =
    GraftTable.partCols(GraftTable.pathOf(options))
      .map(Expressions.identity).toArray

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val path = GraftTable.pathOf(opts)
    new GraftTable(path, GraftTable.asOfOf(opts), schema,
      partitioning.flatMap(GraftTable.identityCol).toSeq,
      Option(opts.get("tsCol")).getOrElse("ts"),
      Option(opts.get("startingVersion")).map(_.toLong).getOrElse(1L))
  }
}

object GraftTable {
  /** The metadata column naming each row's store-relative data file —
    * `SELECT _file, * FROM t` for provenance, and the GROUP identity
    * the copy-on-write row-level operations (UPDATE/MERGE) replace on.
    */
  val FileColName = "_file"

  val FileMetaCol: org.apache.spark.sql.connector.catalog.MetadataColumn =
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = FileColName
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String =
        "store-relative path of the data file holding the row"
    }

  /** The metadata column carrying each row's PARQUET ROW INDEX within
    * its data file — with [[FileColName]] it forms the physical row
    * identity (stable under splits, row-group skips, and pushed
    * filters), which is what the MERGE-ON-READ row-level operations
    * use as their row ID: an UPDATE vector-deletes (file, pos) and
    * appends the new row, rewriting nothing. Non-nullable by contract
    * — Spark refuses nullable row ID attributes.
    */
  val PosColName = "_pos"

  val PosMetaCol: org.apache.spark.sql.connector.catalog.MetadataColumn =
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = PosColName
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = false
      override def comment(): String =
        "parquet row index of the row within its data file"
    }

  /** Per-store manifest property keys. [[SchemaProp]] is the store's
    * declared schema and the authority for it: every read resolves it
    * ([[resolveSchema]]), data files lacking a declared column read it
    * as null. It is recorded by CREATE TABLE, by the commit that
    * creates a store's first files (from the frame it wrote,
    * [[declare]]) and by adoption ([[StoreLog.ensure]]), and evolves
    * with ALTER TABLE and widening writes ([[widenedSchemaProp]]).
    */
  val SchemaProp = "graft.schema"
  val TsColProp = "graft.tsCol"
  val UidsProp = "graft.uids"
  /** Tombstone prefix for DROPped column names: `graft.dropped.<name>`
    * — blocks re-ADD while old files still physically carry the column.
    */
  val DroppedPropPrefix = "graft.dropped."
  /** Layout-order contract: "true" iff every live data file's rows are
    * sorted by (partition cols..., tsCol) WITHIN the file and the whole
    * store's provenance is known. Set true by whole-store sorted writes
    * (TsStore.write Overwrite, INSERT OVERWRITE), INHERITED by every
    * rewrite whose added files are canonically sorted (append, upsert,
    * delete, compact, row-level DML — all RequiresDistributionAndOrdering
    * or sortWithinPartitions paths), cleared to "false" by zorder (files
    * become z-run-ordered) and the streaming append sink (hashed writer,
    * arrival order). Absent = unknown = NOT sorted (adopted stores).
    * The scan reports per-partition ordering only under this prop —
    * a wrong claim would silently drop sorts the data needs.
    */
  val LayoutSortedProp = "graft.layout.tsSorted"

  /** COLUMN MAPPING (the Delta column-mapping idea, re-derived for
    * graft's manifest): a renamed column keeps writing and reading its
    * ORIGINAL parquet column name — recorded as field metadata
    * `graft.physical` inside [[SchemaProp]] — so every data file ever
    * written carries one stable physical name per column, whatever the
    * declared (logical) name says today. `ALTER TABLE RENAME COLUMN`
    * is then a pure metadata commit: no file rewrite, no per-file era
    * tracking, and the internal DataFrame machinery (CDC, compaction,
    * upsert) keeps operating on one coherent physical schema.
    * Translation happens only at the DSv2 face: scans request physical names (positions carry the data, the
    * declared order is preserved), writers rename their schema fields
    * before parquet setup, and pushed filters/aggregates translate per
    * name. Partition columns and the time column refuse renames — the
    * directory layout and manifest props are built on them.
    */
  val PhysicalKey = "graft.physical"

  /** TYPE WIDENING (the Iceberg type-promotion idea on graft's
    * manifest): `ALTER TABLE ... ALTER COLUMN ... TYPE` commits the
    * WIDER declared type as metadata only — old files keep their
    * narrow parquet type and the readers upcast natively (Spark 4's
    * parquet widening: int32→int64, float→double, same-scale decimal
    * precision growth), new writes land the declared wide type. The
    * field records its pre-widen type under this key, which doubles as
    * the "this store mixes physical widths" marker. Every read
    * requests the declared schema, and the reader's upcast path is
    * per-file (parquet footer MERGING would refuse int32/int64 mixes).
    * Narrowing and cross-family retypes refuse: they need data
    * rewrites this catalog deliberately doesn't hide behind DDL.
    */
  val PhysicalTypeKey = "graft.physicalType"

  /** Does any field carry a widened type? (Fast path for the
    * overwhelmingly common never-retyped store.)
    */
  def hasRetypes(schema: StructType): Boolean =
    schema.fields.exists(_.metadata.contains(PhysicalTypeKey))

  /** The parquet column name `f`'s data lives under (its name unless a
    * rename recorded an original).
    */
  def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey)
    else f.name

  /** logical→physical for every declared field; identity entries
    * included so lookups can use `getOrElse(n, n)` uniformly.
    */
  def physMap(schema: StructType): Map[String, String] =
    schema.fields.iterator.map(f => f.name -> physicalName(f)).toMap

  /** Does any field carry a non-identity mapping? (The fast path for
    * the overwhelmingly common never-renamed store.)
    */
  def hasRenames(schema: StructType): Boolean =
    schema.fields.exists(f => physicalName(f) != f.name)

  /** `schema` with every field renamed to its physical name — what the
    * parquet reader/writer sees. Field ORDER (and therefore row
    * layout) is untouched.
    */
  def toPhysical(schema: StructType, declared: StructType): StructType =
    if (!hasRenames(declared)) schema
    else {
      val m = physMap(declared)
      StructType(schema.fields.map(f => f.copy(name = m.getOrElse(f.name, f.name))))
    }

  /** A pushed v1 filter with its attribute names translated
    * logical→physical — what the parquet reader's row-group skipping
    * must see for a renamed column. `None` drops the filter (safe:
    * data filters are always residual — Spark re-applies the predicate
    * above the scan; only the skip optimization is lost).
    */
  private[sources] def renameFilter(f: Filter,
                                    m: Map[String, String]): Option[Filter] = {
    import org.apache.spark.sql.sources._
    def n(a: String): String = m.getOrElse(a, a)
    f match {
      case EqualTo(a, v) => Some(EqualTo(n(a), v))
      case EqualNullSafe(a, v) => Some(EqualNullSafe(n(a), v))
      case GreaterThan(a, v) => Some(GreaterThan(n(a), v))
      case GreaterThanOrEqual(a, v) => Some(GreaterThanOrEqual(n(a), v))
      case LessThan(a, v) => Some(LessThan(n(a), v))
      case LessThanOrEqual(a, v) => Some(LessThanOrEqual(n(a), v))
      case In(a, vs) => Some(In(n(a), vs))
      case IsNull(a) => Some(IsNull(n(a)))
      case IsNotNull(a) => Some(IsNotNull(n(a)))
      case StringStartsWith(a, v) => Some(StringStartsWith(n(a), v))
      case StringEndsWith(a, v) => Some(StringEndsWith(n(a), v))
      case StringContains(a, v) => Some(StringContains(n(a), v))
      case And(l, r) =>
        for { a <- renameFilter(l, m); b <- renameFilter(r, m) } yield And(a, b)
      case Or(l, r) =>
        for { a <- renameFilter(l, m); b <- renameFilter(r, m) } yield Or(a, b)
      case Not(c) => renameFilter(c, m).map(Not)
      case _: AlwaysTrue => Some(f)
      case _: AlwaysFalse => Some(f)
      case _ => None
    }
  }

  /** A snapshot whose per-file stats are re-keyed physical→logical, so
    * every stat consumer on the DSv2 face (file pruning, aggregate
    * pushdown, null audits, ordering bounds) keeps thinking in the
    * DECLARED names. Stats are recorded from written files' footers,
    * i.e. under physical names.
    */
  def logicalSnap(snap: StoreLog.Snapshot, declared: StructType): StoreLog.Snapshot =
    if (!hasRenames(declared)) snap
    else {
      val back: Map[String, String] =
        declared.fields.iterator.map(f => physicalName(f) -> f.name).toMap
      snap.copy(
        stats = snap.stats.map { case (file, cols) =>
          file -> cols.map { case (c, cs) => back.getOrElse(c, c) -> cs }
        },
        dvs = snap.dvs.map { case (file, e) =>
          file -> e.copy(
            nulls = e.nulls.map { case (c, k) => back.getOrElse(c, c) -> k },
            bounds = e.bounds.map { case (c, b) => back.getOrElse(c, c) -> b })
        })
    }

  private[sources] def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "graft needs a store path: .load(dir) or LOCATION / catalog root")
    p
  }

  private[sources] def asOfOf(options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("asOf")).map(_.toLong)

  private[sources] def identityCol(t: Transform): Option[String] =
    if (t.name == "identity" && t.references.length == 1 &&
        t.references.head.fieldNames.length == 1)
      Some(t.references.head.fieldNames.head)
    else None

  /** The [[SchemaProp]] declaration in a manifest's props, if any. */
  private[graft] def declaredIn(props: Map[String, String]): Option[StructType] =
    props.get(SchemaProp).map(j => DataType.fromJson(j).asInstanceOf[StructType])

  /** The declaration of the store's latest manifest, if any. */
  private[graft] def latestDeclared(path: String): Option[StructType] =
    StoreLog.latestVersion(path).flatMap(v => declaredIn(StoreLog.propsAt(path, v)))

  /** The store's schema at version `asOf` (default: the main view's),
    * the one schema lookup of every read: the manifest's declared
    * [[SchemaProp]] — per-manifest, so time travel reads the era's
    * declaration, and declared types are never narrowed by
    * partition-value inference. Foreign parquet has none: a directory
    * without a log reads as a plain parquet read infers it, and a
    * manifest from before declarations existed infers it with
    * [[inferSchema]] over the version's live files.
    */
  private[sources] def resolveSchema(spark: SparkSession, path: String,
                                     asOf: Option[Long]): StructType =
    asOf.orElse(StoreLog.mainVersion(path)) match {
      case Some(v) => resolveSchema(spark, new StoreLog.Manifests(path), v)
      case _ => spark.read.parquet(path).schema
    }

  /** [[resolveSchema]] of logged version `v`, read through `log`. */
  private[sources] def resolveSchema(spark: SparkSession, log: StoreLog.Manifests,
                                     v: Long): StructType =
    // the declared schema lives in RAW manifest props — resolving it
    // must never decode a million-file checkpoint sidecar
    declaredIn(log.props(v))
      .getOrElse(inferSchema(spark, log.path, log.read(v).files))

  /** The schema of foreign parquet: the union of `files`' footers plus
    * the partition columns their directory values imply (the types a
    * plain `spark.read.parquet` of the store infers), in that order —
    * a Spark job. It runs only where files graft did not write enter:
    * adoption ([[StoreLog.ensure]]) and [[resolveSchema]] of a manifest
    * without a declaration. Zero files raise Spark's
    * UNABLE_TO_INFER_SCHEMA AnalysisException.
    */
  private[graft] def inferSchema(spark: SparkSession, path: String,
                                 files: Seq[String]): StructType =
    spark.read.option("mergeSchema", true).option("basePath", path)
      .parquet(files.map(f => s"$path/$f"): _*).schema

  /** The schema [[inferSchema]] would infer over `files`, declared on
    * the driver without reading them: the data fields of `written` (the
    * frame that wrote the files) nullable, then the partition columns
    * their `name=value` directories hold, typed by Spark's partition
    * discovery. With no files nothing is a partition column: `written`
    * must then list its partition columns last.
    */
  private[graft] def declare(written: StructType, files: Seq[String]): StructType = {
    val parts = GraftPartitionShim.inferPartitionSchema(files)
    StructType(GraftPartitionShim.asNullable(StructType(
      written.filterNot(f => parts.fieldNames.contains(f.name)))) ++ parts)
  }

  /** SET / DROP NOT NULL as one metadata commit — the engine behind
    * `CALL system.set_not_null` (Spark's analyzer hard-refuses `ALTER
    * COLUMN ... SET NOT NULL` against any v2 catalog: "Cannot change
    * nullable column to non-nullable" — the same wall Iceberg hits, so
    * the tightening direction needs a procedure face; the LOOSENING
    * `DROP NOT NULL` flows through ALTER TABLE normally). SET
    * validates the existing rows (one stop-at-first-NULL scan,
    * re-validated per CAS rebase) then records the graft-managed
    * [[Constraints.NotNullProp]] and flips the declared schema field's
    * nullability; write-side enforcement rides the CHECK machinery
    * ([[Constraints.effective]]).
    */
  private[sources] def alterNotNull(spark: SparkSession, path: String,
                                    column: String, notNull: Boolean): Unit =
    TsStore.metadataCommitWithRetry(path) { cur =>
      val schema = resolveSchema(spark, path, Some(cur.version))
      require(schema.fieldNames.contains(column),
        s"column '$column' does not exist at $path")
      val cols0 = Constraints.notNullCols(cur.props)
      val cols =
        if (notNull) {
          Constraints.validateAdd(spark, path, schema, Constraints.Check(
            Constraints.notNullName(column), s"`$column` IS NOT NULL"))
          (cols0 :+ column).distinct
        } else cols0.filterNot(_ == column)
      val updated = StructType(schema.fields.map(f =>
        if (f.name == column) f.copy(nullable = !notNull) else f))
      (Map(Constraints.NotNullProp -> cols.mkString(","),
        SchemaProp -> updated.json), ())
    }

  /** The [[SchemaProp]] a commit on top of version `parentV` (whose
    * props are `parentProps`) sets, if any: when the written frame
    * carries columns beyond the parent's declaration, the declaration
    * widens to the union in the SAME commit (new fields at tail,
    * nullable) — so Scala-API writes and catalog DDL stay one coherent
    * schema history. DROPped tombstones stay dropped: re-writing such a
    * column leaves its data undeclared until a rewrite retires the old
    * files. A declared partition type widens too when a directory value
    * of `addFiles` does not hold under it ([[widenPartitionTypes]]).
    * A parent without a declaration gets one here: a store born empty
    * declares the frame that adds its first files ([[declare]]); a
    * manifest from before declarations declares its [[resolveSchema]],
    * widened as above.
    */
  private[graft] def widenedSchemaProp(path: String, parentV: Long,
                                       parentProps: Map[String, String],
                                       written: StructType,
                                       addFiles: Seq[String]): Map[String, String] = {
    val parent = declaredIn(parentProps).orElse(
      if (StoreLog.read(path, parentV).files.isEmpty) None
      else Some(resolveSchema(SparkSession.active, path, Some(parentV))))
    parent match {
      case None =>
        if (addFiles.isEmpty) Map.empty
        else Map(SchemaProp -> declare(written, addFiles).json)
      case Some(parentDeclared) =>
        val declared = widenPartitionTypes(parentDeclared, addFiles)
        // a column is "already declared" under its logical OR physical
        // name: internal rewrites (compaction staging read-back, sink
        // upsert) carry PHYSICAL frame names for renamed columns, and
        // re-declaring those as new would fork the schema
        val have = declared.fields.iterator
          .flatMap(f => Seq(f.name, physicalName(f))).toSet
        val extra = written.fields.filter(f => !have.contains(f.name) &&
          !parentProps.contains(s"$DroppedPropPrefix${f.name}"))
        if (extra.isEmpty && (declared eq parentDeclared) &&
            parentProps.contains(SchemaProp)) Map.empty
        else Map(SchemaProp ->
          StructType(declared.fields ++ extra.map(_.copy(nullable = true))).json)
    }
  }

  /** `declared` with a partition column's type widened when a directory
    * value in `addFiles` does not hold under it: to the type Spark's
    * partition discovery gives the column over the declared type and
    * the new files' values. A type inferred at creation from
    * numeric-looking values (`uid=7203` → int) goes to long for
    * `uid=3000000000`, to double for `uid=1.5` and to string for
    * `uid=AAPL`; a value no read could cast would otherwise fail every
    * scan of its file. Returns `declared` itself when nothing widens.
    */
  private def widenPartitionTypes(declared: StructType,
                                  addFiles: Seq[String]): StructType = {
    lazy val found = GraftPartitionShim.inferPartitionSchema(addFiles)
    val fields = declared.fields.map { f =>
      val vs = addFiles.flatMap(partSegRaw(_, physicalName(f)).flatten).distinct
      if (vs.forall(v => Cast(Literal(v), f.dataType, Some("UTC"), EvalMode.TRY).eval(null) != null)) f
      else f.copy(dataType =
        GraftPartitionShim.widerPartitionType(f.dataType, found(physicalName(f)).dataType))
    }
    if (fields.sameElements(declared.fields)) declared else StructType(fields)
  }

  /** Partition column names of the store's file layout (empty for an
    * unpartitioned or empty store; an empty store falls back to the
    * declared [[UidsProp]], a directory without a log to its on-disk
    * layout — without that last branch a plain partitioned directory
    * read through format("graft") would treat its partition columns as
    * data columns and surface them as null).
    */
  private[sources] def partCols(path: String): Seq[String] =
    StoreLog.latestVersion(path) match {
      case Some(v) => partColsAt(new StoreLog.Manifests(path), v)
      case None =>
        StoreLog.listDataFiles(path).headOption
          .map(StoreChangeSource.partitionColsOf).getOrElse(Seq.empty)
    }

  /** [[partCols]] of a logged store whose latest version is `tip`. */
  private[sources] def partColsAt(log: StoreLog.Manifests, tip: Long): Seq[String] =
    // raw-manifest probes only — a million-file store's scan build must
    // not pay a full snapshot resolution to learn the column NAMES
    // (partitioning is immutable per store, so any historical path is
    // an exact layout hint)
    log.sampleFilePath(tip) match {
      case Some(f) => StoreChangeSource.partitionColsOf(f)
      case None =>
        log.props(tip).get(UidsProp).toSeq
          .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
    }

  /** Catalyst-INTERNAL literal values → external: the analyzer's own
    * pushed filters carry external types, but RUNTIME filters (DPP's
    * IN-sets) arrive with internal values (UTF8String, Decimal) — which
    * neither `lit` nor the stat matcher's type dispatch recognize, so
    * without this the runtime prune would silently keep everything.
    */
  private def external(v: Any): Any = v match {
    case u: org.apache.spark.unsafe.types.UTF8String => u.toString
    case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
    case other => other
  }

  private[sources] def externalValue(v: Any): Any = external(v)

  /** v1 `Filter` → `Column` for the manifest-stat prune. Partial on
    * purpose: an untranslatable subtree collapses to None, and AND keeps
    * its translatable side (sound — dropping a conjunct only widens the
    * kept file set); OR must translate whole or not at all.
    */
  private[sources] def filterColumn(f: Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(external(v)))
    case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(external(v)))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(external(v)))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(external(v)))
    case sources.LessThan(a, v) => Some(col(a) < lit(external(v)))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(external(v)))
    case sources.In(a, vs) => Some(col(a).isin(vs.toSeq.map(external): _*))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.And(l, r) => (filterColumn(l), filterColumn(r)) match {
      case (Some(a), Some(b)) => Some(a && b)
      case (one @ Some(_), None) => one
      case (None, one) => one
    }
    case sources.Or(l, r) => for { a <- filterColumn(l); b <- filterColumn(r) }
      yield a || b
    case _ => None
  }

  /** DSv2 `Predicate`/expression → `Column`, EXACT or nothing — the
    * DELETE translation. Unlike [[filterColumn]] (conservative pruning,
    * where dropping an AND side only widens the kept set), a DELETE
    * predicate must be translated in FULL: an approximated predicate
    * would delete the wrong rows. Any untranslatable subtree refuses
    * the whole predicate, and `canDeleteWhere` then refuses the
    * operation loudly. Built with the PUBLIC Column DSL (not wrapped
    * catalyst expressions) so the manifest-stat prune
    * ([[org.apache.spark.sql.GraftShim.predTree]]) still sees the tree
    * and the copy-on-write opens only candidate files.
    */
  private[sources] def v2Column(
      e: org.apache.spark.sql.connector.expressions.Expression,
      nameOf: String => String = identity): Option[Column] = {
    import org.apache.spark.sql.connector.expressions.{GeneralScalarExpression, Literal => V2Literal, NamedReference}
    e match {
      case l: V2Literal[_] =>
        Some(lit(org.apache.spark.sql.catalyst.CatalystTypeConverters
          .convertToScala(l.value, l.dataType)))
      case r: NamedReference if r.fieldNames.length == 1 =>
        Some(col(nameOf(r.fieldNames.head)))
      case g: GeneralScalarExpression =>
        val kids = g.children.toSeq
        def bin(f: (Column, Column) => Column): Option[Column] =
          if (kids.length == 2)
            for { a <- v2Column(kids(0), nameOf); b <- v2Column(kids(1), nameOf) } yield f(a, b)
          else None
        def un(f: Column => Column): Option[Column] =
          if (kids.length == 1) v2Column(kids.head, nameOf).map(f) else None
        g.name match {
          case "ALWAYS_TRUE" => Some(lit(true))
          case "ALWAYS_FALSE" => Some(lit(false))
          case "AND" => bin(_ && _)
          case "OR" => bin(_ || _)
          case "NOT" => un(!_)
          case "=" => bin(_ === _)
          case "<>" | "!=" => bin(_ =!= _)
          case "<=>" => bin(_ <=> _)
          case "<" => bin(_ < _)
          case "<=" => bin(_ <= _)
          case ">" => bin(_ > _)
          case ">=" => bin(_ >= _)
          case "+" => bin(_ + _)
          case "-" => if (kids.length == 1) un(c => org.apache.spark.sql.functions.negate(c)) else bin(_ - _)
          case "*" => bin(_ * _)
          case "/" => bin(_ / _)
          case "%" => bin(_ % _)
          case "ABS" => un(org.apache.spark.sql.functions.abs)
          case "IS_NULL" => un(_.isNull)
          case "IS_NOT_NULL" => un(_.isNotNull)
          case "STARTS_WITH" => bin(_ startsWith _)
          case "ENDS_WITH" => bin(_ endsWith _)
          case "CONTAINS" => bin(_ contains _)
          case "IN" if kids.nonEmpty =>
            for {
              h <- v2Column(kids.head, nameOf)
              rest <- kids.tail.foldLeft(Option(Seq.empty[Column])) {
                case (acc, k) => for { a <- acc; c <- v2Column(k, nameOf) } yield a :+ c
              }
            } yield h.isin(rest: _*)
          case _ => None
        }
      case _ => None
    }
  }

  /** One file's raw partition-directory value for column `name`:
    * `None` = the path has no segment for the column at all;
    * `Some(None)` = the `__HIVE_DEFAULT_PARTITION__` null;
    * `Some(Some(raw))` = the unescaped value string. Distinguishing
    * these matters for aggregate pushdown: a TYPE [[partPseudoStats]]
    * cannot encode (timestamp/boolean/decimal partition columns) must
    * read as "unservable — refuse the pushdown", never as "null
    * partition" (which would silently answer COUNT(col)=0 and
    * MIN/MAX=NULL).
    */
  private[sources] def partSegRaw(rel: String, name: String): Option[Option[String]] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    rel.split('/').dropRight(1).toSeq.takeWhile(_.contains('='))
      .map(s => s.takeWhile(_ != '=') -> s.dropWhile(_ != '=').drop(1))
      .collectFirst { case (n, v) if n == name =>
        val raw = ExternalCatalogUtils.unescapePathName(v)
        if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) None else Some(raw)
      }
  }

  /** Synthetic [[FileStats.ColStat]] bounds for one file's partition-
    * directory values — a partition value is a point interval, so the
    * SAME conservative `mayMatch` walk that prunes on data-column bounds
    * prunes on partition columns too (tier 1 of the scan's pruning).
    * Null partitions and unsupported types record nothing (kept).
    */
  private[sources] def partPseudoStats(rel: String,
      schema: StructType): FileStats.FileStatsMap = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val segs = rel.split('/').dropRight(1).toSeq.takeWhile(_.contains('='))
      .map(s => s.takeWhile(_ != '=') -> s.dropWhile(_ != '=').drop(1))
    segs.flatMap { case (name, rawEsc) =>
      val raw = ExternalCatalogUtils.unescapePathName(rawEsc)
      if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) None
      else schema.fields.find(_.name == name).flatMap { f =>
        try f.dataType match {
          case ByteType | ShortType | IntegerType | LongType =>
            val v = raw.toLong
            Some(name -> FileStats.ColStat("i", v, v, nulls = 0L))
          case FloatType | DoubleType =>
            val v = raw.toDouble
            Some(name -> FileStats.ColStat("f", v, v, nulls = 0L))
          case StringType =>
            Some(name -> FileStats.ColStat("s", raw, raw, nulls = 0L))
          case DateType =>
            val v = java.time.LocalDate.parse(raw).toEpochDay
            Some(name -> FileStats.ColStat("d", v, v, nulls = 0L))
          case _ => None
        } catch { case scala.util.control.NonFatal(_) => None }
      }
    }.toMap
  }

  /** Catalyst-INTERNAL partition value of `rel` for `field` — the value
    * every row of the file surfaces for the column, produced by the
    * SAME unescape + UTC-Cast the partitioned read uses, so comparisons
    * against it are comparisons against the read's own answer. `None` =
    * the path carries no segment for the column; `Some(null)` = the
    * null partition (or a raw the Cast cannot parse — which the read
    * surfaces as null too, keeping the two in lockstep).
    */
  private[sources] def partValueInternal(rel: String, field: StructField): Option[Any] =
    partSegRaw(rel, field.name).map {
      case None => null
      case Some(raw) =>
        if (field.dataType == StringType)
          org.apache.spark.unsafe.types.UTF8String.fromString(raw)
        else org.apache.spark.sql.catalyst.expressions.Cast(
          org.apache.spark.sql.catalyst.expressions.Literal(
            org.apache.spark.unsafe.types.UTF8String.fromString(raw), StringType),
          field.dataType, Some(java.time.ZoneOffset.UTC.getId)).eval(null)
    }
}

/** EXACT per-file evaluation of pushed v1 filters against partition
  * values. Because every row of a file shares its partition values, a
  * filter whose references are all partition columns decides the WHOLE
  * file: true keeps it, false/unknown drops it (SQL keeps only
  * predicate-TRUE rows, and the file's rows all evaluate alike). That
  * exactness is what lets [[GraftScanBuilder]] accept such filters
  * residual-free — which in turn unlocks aggregate pushdown under a
  * WHERE clause (Spark only offers aggregates to a scan with no
  * post-scan filters): `SELECT uid, count(*) FROM t WHERE uid IN (...)
  * GROUP BY uid` on a million-file store stays a pure manifest walk.
  *
  * Shape/type support is deliberately closed-world: only types whose
  * directory rendering roundtrips through the read-side Cast
  * (string/integral/date/timestamp/boolean) and only decidable shapes.
  * Anything else stays a residual filter — never a guess.
  */
private[sources] object PartPredEval {
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String

  private def exactType(dt: DataType): Boolean = dt match {
    case StringType | ByteType | ShortType | IntegerType | LongType |
         DateType | TimestampType | TimestampNTZType | BooleanType => true
    case _ => false
  }

  /** Decidable per-file from partition segments alone? `dtOf` answers
    * only for PARTITION columns (None = data column → unsupported).
    */
  def supportedShape(f: Filter, dtOf: String => Option[DataType]): Boolean = {
    def ordered(a: String) = dtOf(a).exists(t => exactType(t) && t != BooleanType)
    f match {
      case sources.EqualTo(a, _) => dtOf(a).exists(exactType)
      case sources.EqualNullSafe(a, _) => dtOf(a).exists(exactType)
      case sources.In(a, _) => dtOf(a).exists(exactType)
      case sources.IsNull(a) => dtOf(a).isDefined
      case sources.IsNotNull(a) => dtOf(a).isDefined
      case sources.GreaterThan(a, _) => ordered(a)
      case sources.GreaterThanOrEqual(a, _) => ordered(a)
      case sources.LessThan(a, _) => ordered(a)
      case sources.LessThanOrEqual(a, _) => ordered(a)
      case sources.StringStartsWith(a, _) => dtOf(a).contains(StringType)
      case sources.StringEndsWith(a, _) => dtOf(a).contains(StringType)
      case sources.StringContains(a, _) => dtOf(a).contains(StringType)
      case sources.And(l, r) => supportedShape(l, dtOf) && supportedShape(r, dtOf)
      case sources.Or(l, r) => supportedShape(l, dtOf) && supportedShape(r, dtOf)
      case sources.Not(c) => supportedShape(c, dtOf)
      case _: sources.AlwaysTrue => true
      case _: sources.AlwaysFalse => true
      case _ => false
    }
  }

  /** SQL tri-state compare of an internal value vs an EXTERNAL filter
    * literal: None = null involved (unknown).
    */
  private def cmp(dt: DataType, value: Any, litEx: Any): Option[Int] = {
    if (value == null || litEx == null) return None
    val l = org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToCatalyst(litEx)
    if (l == null) return None
    dt match {
      case StringType =>
        Some(value.asInstanceOf[UTF8String].compareTo(l.asInstanceOf[UTF8String]))
      case BooleanType =>
        Some(java.lang.Boolean.compare(
          value.asInstanceOf[Boolean], l.asInstanceOf[Boolean]))
      case _ =>
        Some(java.lang.Long.compare(value.asInstanceOf[Number].longValue,
          l.asInstanceOf[Number].longValue))
    }
  }

  /** Tri-state evaluation: Some(true/false) definitive, None = SQL
    * unknown (null semantics). Callers keep a file only on Some(true).
    * Must be invoked only after [[supportedShape]] held — an
    * unsupported node here is a logic error, not a refusal.
    */
  def eval(f: Filter, valueOf: String => Any,
           dtOf: String => DataType): Option[Boolean] = {
    def c(a: String, v: Any) = cmp(dtOf(a), valueOf(a), v)
    def str(a: String, v: String)(op: (String, String) => Boolean): Option[Boolean] = {
      val x = valueOf(a)
      if (x == null || v == null) None
      else Some(op(x.asInstanceOf[UTF8String].toString, v))
    }
    f match {
      case sources.EqualTo(a, v) => c(a, v).map(_ == 0)
      case sources.EqualNullSafe(a, v) =>
        val x = valueOf(a)
        val l = org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToCatalyst(v)
        Some(if (x == null && l == null) true
             else if (x == null || l == null) false
             else cmp(dtOf(a), x, v).contains(0))
      case sources.In(a, vs) =>
        if (valueOf(a) == null) { if (vs.isEmpty) Some(false) else None }
        else {
          val cs = vs.toSeq.map(v => c(a, v))
          if (cs.exists(_.contains(0))) Some(true)
          else if (cs.exists(_.isEmpty)) None // null element, no match: unknown
          else Some(false)
        }
      case sources.IsNull(a) => Some(valueOf(a) == null)
      case sources.IsNotNull(a) => Some(valueOf(a) != null)
      case sources.GreaterThan(a, v) => c(a, v).map(_ > 0)
      case sources.GreaterThanOrEqual(a, v) => c(a, v).map(_ >= 0)
      case sources.LessThan(a, v) => c(a, v).map(_ < 0)
      case sources.LessThanOrEqual(a, v) => c(a, v).map(_ <= 0)
      case sources.StringStartsWith(a, v) => str(a, v)(_.startsWith(_))
      case sources.StringEndsWith(a, v) => str(a, v)(_.endsWith(_))
      case sources.StringContains(a, v) => str(a, v)(_.contains(_))
      case sources.And(l, r) =>
        (eval(l, valueOf, dtOf), eval(r, valueOf, dtOf)) match {
          case (Some(false), _) | (_, Some(false)) => Some(false)
          case (Some(true), Some(true)) => Some(true)
          case _ => None
        }
      case sources.Or(l, r) =>
        (eval(l, valueOf, dtOf), eval(r, valueOf, dtOf)) match {
          case (Some(true), _) | (_, Some(true)) => Some(true)
          case (Some(false), Some(false)) => Some(false)
          case _ => None
        }
      case sources.Not(x) => eval(x, valueOf, dtOf).map(!_)
      case _: sources.AlwaysTrue => Some(true)
      case _: sources.AlwaysFalse => Some(false)
      case other => throw new IllegalStateException(
        s"PartPredEval.eval on unvalidated filter shape: $other")
    }
  }
}

/** One store (live or at a pinned version) as a DSv2 [[Table]]. Batch
  * reads, batch writes, AND a streaming read: `readStream
  * .format("graft").load(path)` tails the store's commit stream (one
  * micro-batch per manifest version, each commit's added files only —
  * the [[StoreChangeSource]] machinery under the table's OWN schema, no
  * provenance column) — so `readStream → writeStream.format("graft-
  * store")` is a full store-to-store incremental sync with zero user
  * code.
  *
  * `pinned` fixes the snapshot every scan of the table reads — the
  * internal reads of [[TsStore.readFilesDv]] name an exact (possibly
  * file-restricted) snapshot instead of a version to resolve.
  * `manifests` is the log handle of the one read that built the table
  * (each manifest parsed once across its scan build).
  */
class GraftTable(val path: String, asOf: Option[Long],
                 declaredSchema: StructType, declaredParts: Seq[String],
                 tsCol: String, startingVersion: Long = 1L,
                 pinned: Option[StoreLog.Snapshot] = None,
                 manifests: Option[StoreLog.Manifests] = None)
  extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDeleteV2
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement {

  override def name(): String =
    asOf.fold(s"graft:$path")(v => s"graft:$path@v$v")

  // ------------------------------------------- partition management
  // `SHOW PARTITIONS` / `ALTER TABLE ... DROP PARTITION` on the
  // manifest's own metadata: listing is a driver-side walk over the
  // live files' directory values (zero file IO, the catalogAt role on
  // the standard partition API); DROP PARTITION routes through the
  // same copy-on-write delete as SQL DELETE. Partitions MATERIALIZE
  // through writes — ADD PARTITION has nothing sound to create (an
  // empty directory is invisible to the manifest), so it refuses.

  override def partitionSchema(): StructType =
    StructType(effectiveParts.flatMap(n => declaredSchema.fields.find(_.name == n)))

  private def liveSnap: Option[StoreLog.Snapshot] =
    asOf.orElse(StoreLog.mainVersion(path)).map(v => StoreLog.read(path, v))

  /** Distinct live partition tuples (catalyst-internal values), from
    * manifest metadata alone.
    */
  private def partTuples(): Seq[Seq[Any]] = {
    val fields = partitionSchema().fields
    liveSnap.map(_.files).getOrElse(StoreLog.listDataFiles(path))
      .map(f => fields.toSeq.map(fld =>
        GraftTable.partValueInternal(f, fld).getOrElse(null)))
      .distinct
  }

  override def listPartitionIdentifiers(
      names: Array[String],
      ident: org.apache.spark.sql.catalyst.InternalRow)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val fields = partitionSchema()
    require(names.length == ident.numFields,
      s"partition filter names (${names.length}) != values (${ident.numFields})")
    val sel = names.toSeq.zipWithIndex.map { case (n, i) =>
      val fi = fields.fieldIndex(n)
      (fi, ident.get(i, fields(fi).dataType))
    }
    partTuples()
      .filter(t => sel.forall { case (fi, want) =>
        java.util.Objects.equals(t(fi), want) })
      .map(t => new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(t.toArray): org.apache.spark.sql.catalyst.InternalRow)
      .toArray
  }

  override def createPartition(
      ident: org.apache.spark.sql.catalyst.InternalRow,
      properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft partitions materialize through writes — INSERT rows carrying " +
        "the partition value instead of ALTER TABLE ADD PARTITION")

  override def replacePartitionMetadata(
      ident: org.apache.spark.sql.catalyst.InternalRow,
      properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft partitions carry no per-partition metadata")

  override def loadPartitionMetadata(
      ident: org.apache.spark.sql.catalyst.InternalRow): util.Map[String, String] =
    util.Collections.emptyMap()

  /** `ALTER TABLE ... DROP PARTITION (k = v)`: the partition's rows go
    * through the SAME versioned copy-on-write delete as SQL DELETE —
    * the dropped data stays `VERSION AS OF`-readable until vacuum, and
    * because the predicate names exactly one partition value the
    * "rewrite" is a pure file-list removal (no survivor rows to copy).
    */
  override def dropPartition(
      ident: org.apache.spark.sql.catalyst.InternalRow): Boolean = {
    require(asOf.isEmpty, s"cannot DROP PARTITION on a time-travel view of $path")
    val fields = partitionSchema().fields
    require(ident.numFields == fields.length,
      s"DROP PARTITION needs all ${fields.length} partition values")
    if (!partitionExists(ident)) return false
    val pred = fields.toSeq.zipWithIndex.map { case (f, i) =>
      val v = ident.get(i, f.dataType)
      if (v == null) col(f.name).isNull
      else col(f.name) === lit(org.apache.spark.sql.catalyst.CatalystTypeConverters
        .convertToScala(v, f.dataType))
    }.reduce(_ && _)
    TsStore.delete(SparkSession.active, path, pred, tsCol = tsCol,
      uidCols = effectiveParts)
    true
  }

  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(GraftTable.FileMetaCol, GraftTable.PosMetaCol)

  /** SQL `UPDATE` / `MERGE INTO` (and subquery DELETEs the metadata
    * path refuses). Default is group-based COPY-ON-WRITE
    * ([[GraftRowLevelOperation]]: rewrite the affected files'
    * survivors). Under `TBLPROPERTIES('delete.mode'='dv')` the
    * operation is DELTA-BASED merge-on-read instead
    * ([[GraftDeltaRowLevelOperation]]): old rows become deletion-vector
    * positions, new rows append — no data file rewrites, the same
    * write-cost asymmetry the dv DELETE buys, now for every DML verb.
    * Simple translatable DELETEs still take the cheaper
    * [[canDeleteWhere]] path (Spark's metadata-delete optimization
    * re-routes them).
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(asOf.isEmpty, s"cannot modify a time-travel view of $path")
    val dvMode = StoreLog.latest(path)
      .exists(_.props.get("delete.mode").contains("dv"))
    if (dvMode)
      () => new GraftDeltaRowLevelOperation(path, declaredSchema,
        effectiveParts, tsCol, info.command())
    else
      () => new GraftRowLevelOperation(path, declaredSchema, effectiveParts,
        tsCol, info.command())
  }

  private def effectiveParts: Seq[String] =
    if (declaredParts.nonEmpty) declaredParts else GraftTable.partCols(path)

  /** SQL row-level DML: `DELETE FROM <table> WHERE ...` delegates to
    * [[TsStore.delete]]'s FILE-GRANULAR copy-on-write — manifest-stat
    * pruning finds the candidate files, only files actually holding
    * matches are rewritten (their survivors), one atomic manifest
    * commit, and every pre-delete version stays readable `VERSION AS
    * OF` until vacuum. The translation is all-or-nothing
    * ([[GraftTable.v2Column]]): a predicate this face cannot express
    * EXACTLY refuses here, and Spark reports the unsupported DELETE
    * instead of deleting the wrong rows.
    */
  override def canDeleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Boolean =
    asOf.isEmpty && effectiveParts.nonEmpty &&
      predicates.forall(p => GraftTable.v2Column(p).isDefined)

  override def deleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    require(asOf.isEmpty, s"cannot DELETE from a time-travel view of $path")
    val uids = effectiveParts
    require(uids.nonEmpty,
      s"DELETE needs a partitioned graft store at $path (copy-on-write " +
        "rewrites are partition-scoped)")
    // all-or-nothing even if invoked OUTSIDE the canDeleteWhere
    // contract: silently dropping an untranslatable conjunct would
    // widen the delete to a superset of the user's predicate
    // COLUMN MAPPING: the predicate arrives in DECLARED names; the
    // TsStore paths below operate on the files' PHYSICAL names
    val toPhys: String => String = {
      val m = GraftTable.physMap(declaredSchema)
      n => m.getOrElse(n, n)
    }
    val pred = predicates.toSeq.map(p => GraftTable.v2Column(p, toPhys).getOrElse(
        throw new UnsupportedOperationException(
          s"DELETE predicate is not exactly translatable: $p")))
      .reduceOption(_ && _).getOrElse(lit(true))
    // `TBLPROPERTIES('delete.mode'='dv')` routes DELETE through
    // MERGE-ON-READ deletion vectors ([[TsStore.deleteVectors]]): no
    // data file moves, write cost O(matching rows) — the takedown verb
    // at 100 TB. TRUNCATE (an always-true predicate) stays
    // copy-on-write either way: vectoring every row would write
    // O(store) sidecars where the cow path is a pure file-list removal.
    val dvMode = StoreLog.latest(path)
      .exists(_.props.get("delete.mode").contains("dv"))
    val truncating = predicates.forall(_.name() == "ALWAYS_TRUE")
    if (dvMode && !truncating)
      TsStore.deleteVectors(SparkSession.active, path, pred)
    else
      TsStore.delete(SparkSession.active, path, pred, tsCol = tsCol,
        uidCols = uids)
    ()
  }

  override def schema(): StructType = declaredSchema

  override def partitioning(): Array[Transform] =
    effectiveParts.map(Expressions.identity).toArray

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(SparkSession.active, path, asOf, declaredSchema,
      startingVersion, pinned = pinned, parts = Some(effectiveParts),
      manifests = manifests)

  /** The NATIVE batch write ([[GraftBatchWrite]]):
    * `RequiresDistributionAndOrdering` makes Spark range-partition +
    * sort the rows by (uid..., ts) before the writer tasks run, so an
    * INSERT produces the store's canonical clustered layout — tight
    * per-file ts bounds in the manifest, the thing every later slice
    * prunes on. `INSERT OVERWRITE` is a versioned REPLACE commit (new
    * files, every partition named in `replaced`, props inherited) — the
    * pre-overwrite versions stay `VERSION AS OF`-readable until vacuum,
    * an upgrade over the old V1 fallback's whole-log reset.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(asOf.isEmpty, s"cannot write to a time-travel view of $path")
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = {
        new GraftBatchWrite(path, info.schema(), effectiveParts, tsCol,
          truncate = overwrite)
      }
    }
  }
}

/** Pushdown-aware scan builder: column pruning narrows the parquet
  * required schema; pushed v1 filters drive the three pruning tiers
  * (partition values, manifest stats, parquet row groups). Every filter
  * is returned as residual — file-level pruning is conservative, so
  * Spark re-evaluates the predicate on the surviving rows.
  *
  * AGGREGATE pushdown answers unfiltered, ungrouped COUNT/MIN/MAX from
  * the MANIFEST alone — `SELECT count(*) FROM t` on a billion-file
  * store is a driver-side sum over recorded per-file row counts, zero
  * file IO, zero Spark jobs beyond the one-row result (the
  * `TsStore.countAt`/`catalogAt` role, now reachable from any SQL
  * client through the standard scan interface). Served only when EVERY
  * live file carries the needed stat — else the pushdown is refused
  * and Spark computes normally; never a guess. MIN/MAX on float/double
  * are refused on principle: parquet bounds exclude NaN rows, the same
  * reason Spark's own parquet aggregate pushdown refuses them.
  */
class GraftScanBuilder(spark: SparkSession, path: String, asOf: Option[Long],
                       fullSchema: StructType, startingVersion: Long = 1L,
                       rowLevel: Boolean = false,
                       rowLevelDelta: Boolean = false,
                       pinned: Option[StoreLog.Snapshot] = None,
                       parts: Option[Seq[String]] = None,
                       manifests: Option[StoreLog.Manifests] = None)
  extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, AggregateFunc, Count, CountStar, Max, Min}
  import org.apache.spark.sql.connector.expressions.{FieldReference, NamedReference}

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Option[Int] = None
  // filters accepted residual-free: partition-column-only predicates
  // decided EXACTLY per file (see [[PartPredEval]])
  private var exactPart: Array[Filter] = Array.empty
  private var allFiltersExact: Boolean = true

  /** Whether the store is past the stripe-lazy threshold — judged from
    * RAW manifest reads ([[StoreLog.liveFileCount]]), never a
    * resolution. Above it, the builder must not touch [[aggSnap]] on
    * the FILTER path (exact acceptance walks every live file's
    * segments — the very materialization the lazy scan avoids):
    * filters stay residual, [[GraftScan]] resolves stripe-lazily, and
    * Spark re-evaluates the predicates per row as it does for any
    * conservative source. Aggregate pushdown (a deliberate, rarer
    * verb) still pays one full resolution above the threshold — a
    * driver-memory cost that stays orders below the 100 TB scan it
    * replaces.
    */
  private lazy val bigStore: Boolean =
    pinned.isEmpty && {
      val vOpt = asOf.orElse(StoreLog.mainVersion(path))
      vOpt.exists(v => log.liveFileCount(v) >= StoreLog.LazySnapshotThreshold)
    }

  private val log = manifests.getOrElse(new StoreLog.Manifests(path))

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => GraftTable.filterColumn(f).isDefined)
    // row-level operation scans keep EVERYTHING residual: the
    // replacement read needs all rows of affected files, and Spark
    // re-evaluates the condition itself in the rewrite plan
    if (rowLevel || (bigStore && filters.nonEmpty)) {
      allFiltersExact = false; return filters
    }
    val dtOf: String => Option[DataType] = n =>
      if (partColNames.contains(n)) fullSchema.fields.find(_.name == n).map(_.dataType)
      else None
    // exact only when the predicate shape is closed-world decidable AND
    // every live file carries a directory segment for every referenced
    // column (so no file is ever undecidable at scan time)
    val (ex, residual) = filters.partition { f =>
      val refs = f.references.toSeq
      refs.nonEmpty && aggSnap.isDefined &&
        PartPredEval.supportedShape(f, dtOf) &&
        refs.forall(c => aggSnap.exists(_.files.forall(file => segOf(file, c).isDefined)))
    }
    exactPart = ex
    allFiltersExact = residual.isEmpty
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** LIMIT pushdown (partial — Spark keeps its limit operator): an
    * unfiltered `LIMIT n` plans only enough files for the manifest's
    * recorded row counts to cover n, so `SELECT * FROM t LIMIT 10` on
    * a million-file store opens a handful of files instead of listing
    * and statusing them all. File truncation is sound because a bare
    * limit accepts ANY n rows; with filters present every file stays
    * (the filtered row count is unknowable from counts alone).
    */
  override def pushLimit(n: Int): Boolean =
    if (rowLevel) false else { limit = Some(n); true }

  private var topN: Option[GraftScan.TopN] = None

  /** Both pushdowns are PARTIAL: the scan may return a superset, Spark
    * keeps its limit/sort on top. (Explicit because the limit and topN
    * traits both default this member.)
    */
  override def isPartiallyPushed(): Boolean = true

  /** TOP-N pushdown (partial — Spark keeps its sort): `ORDER BY ts
    * DESC LIMIT n` — the reference's hottest question, "the latest n
    * ticks" — plans only the files whose recorded bounds can hold the
    * boundary (see [[GraftScan.plannedFiles]] for the covering-prefix
    * rule and its null handling). Single sort key, non-floating type
    * (float bounds exclude NaN, which Spark orders LARGEST — same
    * refusal as the aggregate pushdown).
    */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
                        n: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection}
    if (rowLevel || orders.length != 1) return false
    val o = orders.head
    val cOpt = o.expression() match {
      case r: NamedReference if r.fieldNames.length == 1 => Some(r.fieldNames.head)
      case _ => None
    }
    cOpt.flatMap(c => fullSchema.fields.find(_.name == c)) match {
      case Some(f) if !f.dataType.isInstanceOf[FloatType.type] &&
          !f.dataType.isInstanceOf[DoubleType.type] =>
        topN = Some(GraftScan.TopN(f.name,
          o.direction() == SortDirection.DESCENDING,
          o.nullOrdering() == NullOrdering.NULLS_FIRST, n))
        true
      case _ => false
    }
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // ----------------------------------------------------- agg pushdown

  private lazy val aggSnap: Option[StoreLog.Snapshot] =
    pinned.orElse(asOf.orElse(StoreLog.mainVersion(path)).map(log.read))
      // renamed columns: stats are recorded under PHYSICAL names —
      // re-key to the declared names every agg lookup below uses
      .map(s => GraftTable.logicalSnap(s, fullSchema))

  private lazy val partColNames: Seq[String] =
    parts.getOrElse(GraftTable.partCols(path))

  // ONE O(files x partCols) path-parse pass per builder, shared by the
  // servability checks, the per-aggregate answers, and the grouping —
  // canServe + pushAggregation + aggResultRows would otherwise re-split
  // every live file's path once per aggregate per call (the
  // metadata-scale path the manifest exists to keep cheap)
  private lazy val segCache: Map[String, Map[String, Option[String]]] =
    aggSnap.fold(Map.empty[String, Map[String, Option[String]]])(_.files.map(f =>
      f -> partColNames.flatMap(c =>
        GraftTable.partSegRaw(f, c).map(c -> _)).toMap).toMap)
  private lazy val pseudoCache: Map[String, FileStats.FileStatsMap] =
    aggSnap.fold(Map.empty[String, FileStats.FileStatsMap])(_.files.map(f =>
      f -> GraftTable.partPseudoStats(f, fullSchema)).toMap)

  /** Cached [[GraftTable.partSegRaw]]. */
  private def segOf(file: String, col: String): Option[Option[String]] =
    segCache.getOrElse(file, Map.empty).get(col)

  private def colNameOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case r: NamedReference if r.fieldNames.length == 1 => Some(r.fieldNames.head)
      case _ => None
    }

  /** The per-file answer for one aggregate, or None when the manifest
    * can't serve it for that file. Partition columns answer from the
    * directory value (a point interval; a null partition contributes
    * rows to COUNT(*) but nothing to MIN/MAX/COUNT(col)).
    */
  private def servable(fn: AggregateFunc): Boolean = fn match {
    case _: CountStar =>
      // exact under deletion vectors: live rows = recorded − vectored
      aggSnap.exists(_.files.forall(f => liveRowsOf(f).isDefined))
    case c: Count if !c.isDistinct =>
      colNameOf(c.column).exists { n =>
        fullSchema.fieldNames.contains(n) && aggSnap.exists(_.files.forall(f =>
          // a DATA column on a vectored file is exact only when the
          // vector RECORDS its deleted-null count ([[Dv.Entry.nulls]],
          // written by the DELETE verb) — live non-null = (rows−nulls)
          // − (dvRows−dvNulls). Delta/legacy vectors without counts
          // refuse. A partition column counts its live rows exactly.
          (partColNames.contains(n) || dvRowsOf(f) == 0L ||
            dvNullsOf(f, n).isDefined) &&
            nonNullCountOf(f, n).isDefined))
      }
    case m: Min => minMaxServable(colNameOf(m.column), isMin = true)
    case m: Max => minMaxServable(colNameOf(m.column), isMin = false)
    case _ => false
  }

  private def minMaxServable(name: Option[String], isMin: Boolean): Boolean =
    name.exists { n =>
    fullSchema.fields.find(_.name == n).exists { f =>
      val okType = f.dataType match {
        case FloatType | DoubleType => false // NaN-excluded bounds
        case ByteType | ShortType | IntegerType | LongType | StringType |
             DateType | TimestampType | TimestampNTZType => true
        case _ => false
      }
      okType && aggSnap.exists(_.files.forall { file =>
        // a vectored file's DATA bounds may belong to deleted rows;
        // its constant PARTITION value still bounds exactly — unless
        // the vector emptied the file (its value must then vanish
        // from the result, which bounds can't express). A data column
        // serves exactly when the vector PROVES the asked end intact
        // ([[dvBoundIntact]]).
        val dvOk =
          if (dvRowsOf(file) == 0L) true
          else if (partColNames.contains(n)) liveRowsOf(file).exists(_ > 0L)
          else dvBoundIntact(file, n, isMin)
        dvOk && boundsOf(file, n).isDefined
      })
    }
  }

  private def rowsOf(file: String): Option[Long] =
    aggSnap.flatMap(_.stats.get(file))
      .flatMap(_.values.collectFirst { case cs if cs.rows >= 0 => cs.rows })

  private def dvRowsOf(file: String): Long =
    aggSnap.flatMap(_.dvs.get(file)).map(_.rows).getOrElse(0L)

  /** The vector's recorded deleted-null count for `col` (logical name —
    * aggSnap is re-keyed), or None when the vector doesn't know it.
    */
  private def dvNullsOf(file: String, col: String): Option[Long] =
    aggSnap.flatMap(_.dvs.get(file)).flatMap(_.nulls.get(col))

  /** A vectored file's recorded min (isMin) or max for DATA column `n`
    * is provably the LIVE end: the vector recorded its deleted-row
    * bounds ([[Dv.Entry.bounds]]), the stat domains match, and either
    * no deleted row carried a non-null value (deletion can't move
    * min/max) or every deleted value lies STRICTLY inside the recorded
    * end — an end-attaining row must then have survived. Anything else
    * (delta/legacy vectors, a deleted value AT the end, a domain
    * mismatch) refuses: the end may have been deleted.
    */
  private def dvBoundIntact(file: String, n: String, isMin: Boolean): Boolean =
    (for {
      e <- aggSnap.flatMap(_.dvs.get(file))
      b <- e.bounds.get(n)
      cs <- aggSnap.flatMap(_.stats.get(file)).flatMap(_.get(n))
      if cs.tag == b.tag
    } yield b.lo.isEmpty ||
      (if (isMin) Dv.cmpBound(b.tag, b.lo.get, cs.min) > 0
       else Dv.cmpBound(b.tag, b.hi.get, cs.max) < 0)
    ).getOrElse(false)

  private def liveRowsOf(file: String): Option[Long] =
    rowsOf(file).map(_ - dvRowsOf(file))

  /** Non-null count of `col` in `file`: data columns need recorded
    * null counts; partition columns are all-or-nothing per file — and
    * "null" means ONLY the `__HIVE_DEFAULT_PARTITION__` segment. A
    * missing segment is unservable, and a VALUE-carrying segment serves
    * regardless of whether its type has a pseudo-stat encoding (a
    * timestamp partition value is still non-null for COUNT purposes).
    */
  private def nonNullCountOf(file: String, colName: String): Option[Long] =
    if (partColNames.contains(colName)) {
      segOf(file, colName) match {
        case None => None // no partition segment — unservable, refuse
        case Some(None) => Some(0L) // the null partition: zero non-null rows
        case Some(Some(_)) => liveRowsOf(file)
      }
    } else aggSnap.flatMap(_.stats.get(file)).flatMap(_.get(colName))
      .collect { case cs if cs.nulls >= 0 && cs.rows >= 0 => cs.rows - cs.nulls }
      .flatMap { nn =>
        val dvr = dvRowsOf(file)
        if (dvr == 0L) Some(nn)
        // subtract the deleted NON-null rows — exact when the vector
        // recorded its per-column deleted-null count
        else dvNullsOf(file, colName).map(dn => nn - (dvr - dn))
      }

  /** (min, max) bounds of `col` in `file` in manifest-domain form, or
    * None when unservable. A null partition value yields an EMPTY
    * contribution (Some with no values), distinct from unservable — but
    * a VALUE whose type [[GraftTable.partPseudoStats]] cannot encode
    * (timestamp/boolean/decimal) is unservable, so the pushdown is
    * refused and Spark computes the MIN/MAX normally.
    */
  private def boundsOf(file: String, colName: String): Option[Seq[(Any, Any)]] =
    if (partColNames.contains(colName)) {
      segOf(file, colName) match {
        case None => None // no partition segment — unservable, refuse
        case Some(None) => Some(Seq.empty) // null partition: empty contribution
        case Some(Some(_)) =>
          pseudoCache.getOrElse(file, Map.empty).get(colName)
            .map(cs => Seq((cs.min, cs.max))) // None = unencodable type, refuse
      }
    } else aggSnap.flatMap(_.stats.get(file)).flatMap(_.get(colName))
      .map(cs => Seq((cs.min, cs.max)))

  private var aggPushed: Option[Aggregation] = None

  /** GROUP BY is servable when every grouping expression is a bare
    * PARTITION column and every live file carries a directory segment
    * for it — the group key is then pure driver metadata (`SELECT uid,
    * count(*) ... GROUP BY uid` on a million-file store is a manifest
    * walk, zero file IO: the `TsStore.catalogAt` role on the standard
    * scan interface). Ungrouped aggregation is the empty case.
    */
  private def groupable(agg: Aggregation): Boolean = {
    val names = agg.groupByExpressions.toSeq.map(colNameOf)
    names.forall(_.isDefined) && {
      val gs = names.flatten
      gs.forall(partColNames.contains) &&
        aggSnap.exists(_.files.forall(f =>
          gs.forall(g => segOf(f, g).isDefined))) &&
        // a deletion vector that EMPTIED a file makes its group a
        // phantom ONLY if the group's every other file is empty too —
        // require each vectored file's live count KNOWN (recorded rows
        // − recorded dv rows), and [[aggResultRows]] drops all-empty
        // groups exactly as the unpushed plan would never emit them.
        // (Per-aggregate servability still gates harder cases: an
        // emptied file refuses MIN/MAX via [[dvBoundIntact]]/the
        // partition liveness check, so only the COUNT family reaches a
        // zero contribution — which is exact.)
        (names.isEmpty || aggSnap.exists(_.dvs.keys.forall(f =>
          liveRowsOf(f).isDefined)))
    }
  }

  /** Does the file survive the accepted partition-exact filters?
    * (Acceptance guaranteed every live file carries the referenced
    * segments, so evaluation is always decidable here.)
    */
  private def exactKeeps(file: String): Boolean = exactPart.isEmpty || {
    def fld(n: String) = fullSchema.fields.find(_.name == n).get
    val valueOf: String => Any = n => GraftTable.partValueInternal(file, fld(n)).get
    val dtOf: String => DataType = n => fld(n).dataType
    exactPart.forall(f => PartPredEval.eval(f, valueOf, dtOf).contains(true))
  }

  // a WHERE made entirely of partition-exact filters keeps the
  // aggregate servable: the filter restricts the FILE set exactly, and
  // the manifest answers over the survivors (any residual filter
  // refuses — Spark would not offer the aggregation anyway). BIG stores
  // take the STREAMING path instead ([[bigAggAnswer]]): one fold over
  // the columnar checkpoint evaluates every servability rule AND
  // accumulates the per-group state in O(groups) driver memory — the
  // metadata-served fast count on a million-file store never
  // materializes the store-wide maps either.
  private def canServe(agg: Aggregation): Boolean =
    !rowLevel && allFiltersExact && agg.aggregateExpressions.nonEmpty && {
      if (bigStore) bigAggAnswer(agg).isDefined
      else groupable(agg) &&
        agg.aggregateExpressions.forall(servable) && aggSnap.isDefined
    }

  override def supportCompletePushDown(agg: Aggregation): Boolean = canServe(agg)

  override def pushAggregation(agg: Aggregation): Boolean =
    if (canServe(agg)) { aggPushed = Some(agg); true } else false

  // one fold per builder: supportCompletePushDown / pushAggregation /
  // build all consult the same memoized answer (keyed by instance —
  // Spark hands the same Aggregation through the sequence)
  private var bigAggMemo: Option[(Aggregation, Option[(StructType, Seq[Array[Any]])])] = None

  private def bigAggAnswer(agg: Aggregation)
      : Option[(StructType, Seq[Array[Any]])] = {
    bigAggMemo match {
      case Some((a, r)) if a eq agg => return r
      case _ => ()
    }
    val r = computeBigAgg(agg)
    bigAggMemo = Some((agg, r))
    r
  }

  /** The STREAMING twin of [[servable]]+[[groupable]]+[[aggResultRows]]
    * for stores past the lazy threshold: exactly the same per-file
    * refusal rules (recorded live rows for COUNT(*), recorded
    * null+row counts — dv-adjusted — for COUNT(col), provably-intact
    * recorded bounds for MIN/MAX, directory segments for grouping,
    * all-empty groups dropped), evaluated in ONE [[StoreLog.foldFiles]]
    * pass whose driver state is the group map, never the store. Any
    * file failing a rule flips one flag and the pushdown refuses —
    * identical semantics, streaming shape. Exact WHERE filters never
    * coexist with this path (big stores refuse exact acceptance), so
    * the fold always aggregates the WHOLE live set.
    */
  private def computeBigAgg(agg: Aggregation)
      : Option[(StructType, Seq[Array[Any]])] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Count, CountStar, Max, Min}
    val vOpt = asOf.orElse(StoreLog.mainVersion(path))
    if (vOpt.isEmpty) return None
    // ---- static shape checks (schema/type — no file access) ----
    val groupNames = agg.groupByExpressions.toSeq.map(colNameOf)
    if (groupNames.exists(_.isEmpty)) return None
    val gs = groupNames.flatten
    if (!gs.forall(partColNames.contains)) return None
    val groupFields = gs.map(n => fullSchema.fields.find(_.name == n).get)
    def minMaxTypeOk(n: String): Boolean =
      fullSchema.fields.find(_.name == n).exists(_.dataType match {
        case FloatType | DoubleType => false
        case ByteType | ShortType | IntegerType | LongType | StringType |
             DateType | TimestampType | TimestampNTZType => true
        case _ => false
      })
    val fns: Seq[AggregateFunc] = agg.aggregateExpressions.toSeq
    val fnOk = fns.forall {
      case _: CountStar => true
      case c: Count if !c.isDistinct =>
        colNameOf(c.column).exists(fullSchema.fieldNames.contains)
      case m: Min => colNameOf(m.column).exists(minMaxTypeOk)
      case m: Max => colNameOf(m.column).exists(minMaxTypeOk)
      case _ => false
    }
    if (!fnOk) return None
    // renamed stores: entry stats/dv arrive PHYSICAL — re-key per entry
    val back: Map[String, String] =
      if (!GraftTable.hasRenames(fullSchema)) Map.empty
      else fullSchema.fields.iterator
        .map(f => GraftTable.physicalName(f) -> f.name)
        .filter { case (p, l) => p != l }.toMap
    // ---- the fold: per-group accumulators + one refusal flag ----
    final class GroupAcc {
      val counts = new Array[Long](fns.length)
      val mins = new Array[Any](fns.length)
      val maxs = new Array[Any](fns.length)
      var allEmpty = true // every file vectored empty → group dropped
    }
    val groups = scala.collection.mutable.LinkedHashMap.empty[Seq[Any], GroupAcc]
    if (gs.isEmpty) groups(Seq.empty) = new GroupAcc // ungrouped: one total row
    var ok = true
    StoreLog.foldFiles(path, vOpt.get)(()) { (_, e) =>
      if (ok) {
        val stats: FileStats.FileStatsMap = {
          val raw = e.stats.getOrElse(Map.empty)
          if (back.isEmpty) raw
          else raw.map { case (c, cs) => back.getOrElse(c, c) -> cs }
        }
        val dv = e.dv.map { d =>
          if (back.isEmpty) d
          else d.copy(
            nulls = d.nulls.map { case (c, k) => back.getOrElse(c, c) -> k },
            bounds = d.bounds.map { case (c, b) => back.getOrElse(c, c) -> b })
        }
        val rows: Option[Long] =
          stats.values.collectFirst { case cs if cs.rows >= 0 => cs.rows }
        val dvRows = dv.map(_.rows).getOrElse(0L)
        val live: Option[Long] = rows.map(_ - dvRows)
        val segs: Map[String, Option[String]] = partColNames.flatMap(c =>
          GraftTable.partSegRaw(e.path, c).map(c -> _)).toMap
        val pseudo = GraftTable.partPseudoStats(e.path, fullSchema)
        // grouping rules: every group col's segment present; any
        // vectored file's live count known (the phantom-group guard)
        if (!gs.forall(segs.contains)) ok = false
        else if (gs.nonEmpty && dv.isDefined && live.isEmpty) ok = false
        else {
          val key: Seq[Any] = gs.zip(groupFields).map { case (g, fld) =>
            groupInternal(segs(g), fld)
          }
          val acc = groups.getOrElseUpdate(key, new GroupAcc)
          if (!live.contains(0L)) acc.allEmpty = false
          var i = 0
          while (ok && i < fns.length) {
            def minMax(col: org.apache.spark.sql.connector.expressions.Expression,
                       isMin: Boolean): Unit = {
              val n = colNameOf(col).get
              val isPart = partColNames.contains(n)
              // dv rule: intact end for data cols; non-emptied file for
              // partition cols (its constant value must stay in the result)
              val dvOk =
                if (dvRows == 0L) true
                else if (isPart) live.exists(_ > 0L)
                else (for {
                  d <- dv
                  b <- d.bounds.get(n)
                  cs <- stats.get(n) if cs.tag == b.tag
                } yield b.lo.isEmpty ||
                  (if (isMin) Dv.cmpBound(b.tag, b.lo.get, cs.min) > 0
                   else Dv.cmpBound(b.tag, b.hi.get, cs.max) < 0)
                ).getOrElse(false)
              if (!dvOk) { ok = false; return }
              // the file's contribution: None = unservable, Some(None) =
              // empty (null partition), Some(Some(v)) = a bound
              val bound: Option[Option[(String, Any)]] =
                if (isPart) segs.get(n) match {
                  case None => None
                  case Some(None) => Some(None)
                  case Some(Some(_)) =>
                    pseudo.get(n).map(cs =>
                      Some((cs.tag, if (isMin) cs.min else cs.max)))
                }
                else stats.get(n).map(cs =>
                  Some((cs.tag, if (isMin) cs.min else cs.max)))
              bound match {
                case None => ok = false
                case Some(None) => ()
                case Some(Some((tag, v))) =>
                  val slot = if (isMin) acc.mins else acc.maxs
                  slot(i) match {
                    case null => slot(i) = (tag, v)
                    case (t0: String, v0) =>
                      if (t0 != tag) ok = false
                      else {
                        val c = FileStats.cmpDomain(tag, v, v0)
                        if ((isMin && c < 0) || (!isMin && c > 0))
                          slot(i) = (tag, v)
                      }
                  }
              }
            }
            fns(i) match {
              case _: CountStar =>
                live match {
                  case Some(n) => acc.counts(i) += n
                  case None => ok = false
                }
              case c: Count =>
                val n = colNameOf(c.column).get
                val contrib: Option[Long] =
                  if (partColNames.contains(n)) segs.get(n) match {
                    case None => None // no segment: unservable
                    case Some(None) => Some(0L) // null partition
                    case Some(Some(_)) => live
                  }
                  else stats.get(n)
                    .collect { case cs if cs.nulls >= 0 && cs.rows >= 0 =>
                      cs.rows - cs.nulls }
                    .flatMap { nn =>
                      if (dvRows == 0L) Some(nn)
                      else dv.flatMap(_.nulls.get(n)).map(dn => nn - (dvRows - dn))
                    }
                contrib match {
                  case Some(k) => acc.counts(i) += k
                  case None => ok = false
                }
              case m: Min => minMax(m.column, isMin = true)
              case m: Max => minMax(m.column, isMin = false)
              case _ => ok = false
            }
            i += 1
          }
        }
      }
    }
    if (!ok) return None
    // ---- assemble (exactly aggResultRows' shapes) ----
    val aggFields = fns.map {
      case _: CountStar => StructField("count(*)", LongType, nullable = false)
      case c: Count =>
        StructField(s"count(${colNameOf(c.column).get})", LongType, nullable = false)
      case m: Min =>
        val n = colNameOf(m.column).get
        StructField(s"min($n)", fullSchema.fields.find(_.name == n).get.dataType)
      case m: Max =>
        val n = colNameOf(m.column).get
        StructField(s"max($n)", fullSchema.fields.find(_.name == n).get.dataType)
      case other => throw new IllegalStateException(s"unservable aggregate $other")
    }
    val resultSchema = StructType(
      groupFields.map(_.copy(nullable = true)) ++ aggFields)
    val rows = groups.toSeq.flatMap { case (key, acc) =>
      // a group whose every file was vectored empty never appears in
      // the unpushed plan's output (ungrouped totals always emit)
      if (gs.nonEmpty && acc.allEmpty) None
      else Some((key ++ fns.zipWithIndex.map { case (fn, i) =>
        fn match {
          case _: CountStar | _: Count => acc.counts(i)
          case m: Min =>
            val dt = aggFields(i).dataType
            acc.mins(i) match {
              case null => null
              case (_: String, v) => internalOf(v, dt)
            }
          case m: Max =>
            val dt = aggFields(i).dataType
            acc.maxs(i) match {
              case null => null
              case (_: String, v) => internalOf(v, dt)
            }
          case other => throw new IllegalStateException(s"$other")
        }
      }).toArray)
    }
    Some((resultSchema, rows))
  }

  /** Manifest-domain value → the catalyst-internal value of `dt`. */
  private def internalOf(v: Any, dt: DataType): Any = dt match {
    case LongType => v.asInstanceOf[Long]
    case IntegerType => v.asInstanceOf[Long].toInt
    case ShortType => v.asInstanceOf[Long].toShort
    case ByteType => v.asInstanceOf[Long].toByte
    case StringType => org.apache.spark.unsafe.types.UTF8String.fromString(v.asInstanceOf[String])
    case DateType => v.asInstanceOf[Long].toInt // epoch days
    case TimestampType | TimestampNTZType => v.asInstanceOf[Long] // micros
    case other => throw new IllegalStateException(s"unservable agg type $other")
  }

  private def cmpDomain(dt: DataType, a: Any, b: Any): Int = dt match {
    case StringType =>
      org.apache.spark.unsafe.types.UTF8String.fromString(a.asInstanceOf[String])
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b.asInstanceOf[String]))
    case _ => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
  }

  /** The per-aggregate result fields and their values over `files` —
    * one group's slice (the whole store when ungrouped). Called only
    * after canServe held.
    */
  private def aggSlice(agg: Aggregation,
                       files: Seq[String]): (Seq[StructField], Seq[Any]) = {
    val fields = Seq.newBuilder[StructField]
    val values = Seq.newBuilder[Any]
    agg.aggregateExpressions.foreach {
      case _: CountStar =>
        fields += StructField("count(*)", LongType, nullable = false)
        values += files.map(f => liveRowsOf(f).get).sum
      case c: Count =>
        val n = colNameOf(c.column).get
        fields += StructField(s"count($n)", LongType, nullable = false)
        values += files.map(f => nonNullCountOf(f, n).get).sum
      case m: Min =>
        val n = colNameOf(m.column).get
        val dt = fullSchema.fields.find(_.name == n).get.dataType
        fields += StructField(s"min($n)", dt)
        val mins = files.flatMap(f => boundsOf(f, n).get.map(_._1))
        values += (if (mins.isEmpty) null
                   else internalOf(mins.reduce((a, b) =>
                     if (cmpDomain(dt, a, b) <= 0) a else b), dt))
      case m: Max =>
        val n = colNameOf(m.column).get
        val dt = fullSchema.fields.find(_.name == n).get.dataType
        fields += StructField(s"max($n)", dt)
        val maxs = files.flatMap(f => boundsOf(f, n).get.map(_._2))
        values += (if (maxs.isEmpty) null
                   else internalOf(maxs.reduce((a, b) =>
                     if (cmpDomain(dt, a, b) >= 0) a else b), dt))
      case other => throw new IllegalStateException(s"unservable aggregate $other")
    }
    (fields.result(), values.result())
  }

  /** A raw partition-directory group value → catalyst-internal, via the
    * same unescape + Cast the ordinary partitioned read uses
    * ([[StoreChangeSource.partitionValues]]) — so a pushed GROUP BY
    * groups exactly like the unpushed plan would.
    */
  private def groupInternal(raw: Option[String], f: StructField): Any = raw match {
    case None => null
    case Some(r) =>
      if (f.dataType == StringType)
        org.apache.spark.unsafe.types.UTF8String.fromString(r)
      else org.apache.spark.sql.catalyst.expressions.Cast(
        org.apache.spark.sql.catalyst.expressions.Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(r), StringType),
        f.dataType, Some(java.time.ZoneOffset.UTC.getId)).eval(null)
  }

  /** The pushed aggregation's result rows + schema, computed from the
    * manifest alone: group the live FILES by their directory-encoded
    * group values, aggregate each group's recorded stats. Ungrouped =
    * one row over all files.
    */
  private def aggResultRows(agg: Aggregation): (StructType, Seq[Array[Any]]) = {
    val snap = aggSnap.get
    // the accepted WHERE restricts the aggregated file set exactly
    val liveFiles = snap.files.filter(exactKeeps)
    val groupNames = agg.groupByExpressions.toSeq.map(e => colNameOf(e).get)
    val groupFields = groupNames.map(n => fullSchema.fields.find(_.name == n).get)
    val aggSchema = aggSlice(agg, Seq.empty)._1 // schema is files-independent
    val resultSchema = StructType(
      groupFields.map(_.copy(nullable = true)) ++ aggSchema)
    if (groupNames.isEmpty)
      (resultSchema, Seq(aggSlice(agg, liveFiles)._2.toArray))
    else {
      // group by the CAST internal values, not the raw directory
      // strings: an adopted layout may render one logical value two
      // ways ("k=7" and "k=07"), and a complete pushdown must group
      // exactly like the unpushed plan's Cast would
      val keyed = liveFiles.map { f =>
        f -> groupNames.zip(groupFields).map { case (g, fld) =>
          groupInternal(segOf(f, g).get, fld)
        }
      }
      val rows = keyed.groupBy(_._2).toSeq.flatMap { case (gvals, entries) =>
        val fs = entries.map(_._1)
        // a group whose every file was vectored empty never appears in
        // the unpushed plan's output — drop it (groupable required the
        // live counts known for every vectored file; a clean file with
        // unknown rows conservatively keeps its group)
        if (fs.forall(f => liveRowsOf(f).contains(0L))) None
        else Some((gvals ++ aggSlice(agg, fs)._2).toArray)
      }
      (resultSchema, rows)
    }
  }

  override def build(): Scan = aggPushed match {
    case Some(agg) =>
      val (schema, rows) =
        if (bigStore) bigAggAnswer(agg).get else aggResultRows(agg)
      new GraftAggScan(path, schema, rows)
    case None =>
      new GraftScan(spark, path, asOf, fullSchema, required, pushed,
        startingVersion, limit, topN, fileOnlyFilters = rowLevel,
        exactFilters = exactPart, deltaPushFilters = rowLevelDelta,
        // accepting a filter residual-free binds the scan to the
        // snapshot the acceptance was judged on (a newer commit could
        // hold files the filter cannot decide) — snapshot isolation the
        // plan wants anyway
        pinnedSnap = pinned.orElse(if (exactPart.nonEmpty) aggSnap else None),
        parts = Some(partColNames), manifests = Some(log))
  }
}

/** The scan a completely-pushed aggregation returns: values computed
  * from manifest metadata at plan time; execution ships one InternalRow
  * per group (one total when ungrouped). Zero file IO — the whole
  * point. All rows ride a single partition: the row count is the
  * store's distinct-partition-value count — metadata-scale by
  * construction.
  */
class GraftAggScan(path: String, resultSchema: StructType, rows: Seq[Array[Any]])
  extends Scan with Batch {
  override def readSchema(): StructType = resultSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-manifest-agg:$path ${resultSchema.fieldNames.mkString(",")} rows=${rows.size}"
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftAggPartition(rows))
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftAggReaderFactory
}

private[sources] case class GraftAggPartition(rows: Seq[Array[Any]]) extends InputPartition

private[sources] class GraftAggReaderFactory extends PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.read.PartitionReader
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val it = partition.asInstanceOf[GraftAggPartition].rows.iterator
    new PartitionReader[InternalRow] {
      private var row: Array[Any] = _
      override def next(): Boolean =
        if (it.hasNext) { row = it.next(); true } else false
      override def get(): InternalRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(row)
      override def close(): Unit = ()
    }
  }
}

/** The planned scan: file list + stats from the manifest (driver-side
  * metadata only), one [[InputPartition]] per surviving file, read
  * through Spark's own vectorized parquet reader with the pushed
  * filters and pruned schema.
  */
object GraftScan {
  /** A pushed `ORDER BY col [DESC] LIMIT n`. */
  final case class TopN(col: String, descending: Boolean,
                        nullsFirst: Boolean, n: Int)

  /** Opt-in for the storage-partitioned (key-grouped) scan layout. */
  val PreserveGroupingKey = "spark.graft.scan.preserveDataGrouping"

  /** Task-constant metadata key carrying a vectored file's sidecar
    * path on its [[PartitionedFile]]s (see [[GraftDvReaderFactory]]).
    */
  val DvMetaKey = "__graft_dv"
}

class GraftScan(spark: SparkSession, path: String, asOf: Option[Long],
                fullSchema: StructType, required: StructType,
                pushed: Array[Filter], startingVersion: Long = 1L,
                limit: Option[Int] = None,
                topN: Option[GraftScan.TopN] = None,
                fileOnlyFilters: Boolean = false,
                exactFilters: Array[Filter] = Array.empty,
                pinnedSnap: Option[StoreLog.Snapshot] = None,
                deltaPushFilters: Boolean = false,
                parts: Option[Seq[String]] = None,
                manifests: Option[StoreLog.Manifests] = None)
  extends Scan with Batch with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  /** The table as a STREAMING source: the commit-feed micro-batch
    * stream under the (possibly pruned) table schema — each upstream
    * manifest version becomes one batch of its added files' rows
    * (at-least-once per key, exactly-once per file; a latest-wins
    * downstream converges — see [[StoreChangeSource]]).
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(asOf.isEmpty, s"cannot stream a time-travel view of $path")
    new StoreChangeStream(spark, readSchema(), path, startingVersion,
      withVersionCol = false)
  }

  // live (or asOf) snapshot; a directory graft never wrote (no log)
  // reads as a plain listing with no stats (every file kept). A
  // builder that accepted exact partition filters PINS the snapshot its
  // acceptance was judged on.
  private lazy val snap: StoreLog.Snapshot = GraftTable.logicalSnap(
    // renamed columns: stats re-keyed physical→logical so pruning,
    // ordering bounds, and statistics all think in declared names
    pinnedSnap.getOrElse {
      asOf.orElse(StoreLog.mainVersion(path)) match {
        case None => StoreLog.Snapshot(0L, 0L, Nil, StoreLog.listDataFiles(path))
        case Some(v) =>
          // STRIPE-LAZY resolution for BIG stores under pushed
          // filters: only files the filters may match materialize on
          // the driver — the full checkpoint streams through
          // transient row-group buffers ([[StoreLog.readFiltered]]).
          // The keep predicate is byte-identical to plannedFiles'
          // static prune, so plans are unchanged; small stores (and
          // pinned / unfiltered scans) keep the full resolution,
          // bit-identical to before. ROW-LEVEL operation scans lazy-
          // resolve too: their pushed filters stay residual on the
          // rows (file-only pruning), but the conservative manifest
          // stat prune is the same one plannedFiles applies — a file
          // no row can match holds no affected group, so a predicate-
          // bounded UPDATE/DELETE/MERGE against a million-file store
          // plans (and later commits) O(its footprint).
          if (pushed.nonEmpty &&
              log.liveFileCount(v) >= StoreLog.LazySnapshotThreshold) {
            val (keep, summarySkip) = lazyPredicates
            StoreLog.readFiltered(path, v, skipCheckpoint = summarySkip)(keep)
          } else log.read(v)
      }
    }, fullSchema)

  /** The per-entry keep for lazy resolution — EXACTLY the static slice
    * of [[plannedFiles]]' pruning (the `_file` allowed-set plus the
    * conservative stat prune over manifest + partition pseudo-stats),
    * evaluated streaming so dropped files never allocate. Runtime (DPP)
    * filters arrive later and only ever NARROW; plannedFiles re-prunes
    * the surviving set with them as before. Renamed stores re-key each
    * entry's stats physical→logical before the check — the same
    * translation [[GraftTable.logicalSnap]] applies to the survivors.
    */
  private def lazyPredicates: (StoreLog.FileEntry => Boolean,
      Option[CheckpointParquet.Summary => Boolean]) = {
    val (fileFs, rest) = pushed.partition(
      _.references.toSeq == Seq(GraftTable.FileColName))
    val allowed: Option[Set[String]] = {
      val sets = fileFs.toSeq.flatMap {
        case sources.In(_, vs) =>
          Some(vs.toSeq.map(v => String.valueOf(GraftTable.externalValue(v))).toSet)
        case sources.EqualTo(_, v) =>
          Some(Set(String.valueOf(GraftTable.externalValue(v))))
        case _ => None
      }
      sets.reduceOption(_ intersect _)
    }
    val node = rest.flatMap(GraftTable.filterColumn).reduceOption(_ && _)
      .map(p => org.apache.spark.sql.GraftShim.predTree(p))
    val back: Map[String, String] =
      if (!GraftTable.hasRenames(fullSchema)) Map.empty
      else fullSchema.fields.iterator
        .map(f => GraftTable.physicalName(f) -> f.name)
        .filter { case (p, l) => p != l }.toMap
    val keep: StoreLog.FileEntry => Boolean = e =>
      allowed.forall(_.contains(e.path)) && node.forall { nd =>
        val logical =
          if (back.isEmpty) e.stats
          else e.stats.map(_.map { case (c, cs) => back.getOrElse(c, c) -> cs })
        FileStats.fileMayMatch(e.path, logical, fullSchema, nd)
      }
    // the footer-of-footers skip: the summary's merged bounds cover
    // only columns EVERY file records, so mayMatch == false over them
    // proves NO checkpoint row can match — the whole payload's rows
    // never decode (delta adds still stream)
    val summarySkip: Option[CheckpointParquet.Summary => Boolean] =
      node.map { nd => (s: CheckpointParquet.Summary) =>
        val logical =
          if (back.isEmpty) s.cols
          else s.cols.map { case (c, cs) => back.getOrElse(c, c) -> cs }
        logical.nonEmpty && !FileStats.mayMatch(logical, nd)
      }
    (keep, summarySkip)
  }

  /** The snapshot this scan planned from — the row-level operations'
    * conflict-detection base (their commit must abort if a concurrent
    * writer replaced one of the scanned files' partitions since).
    */
  private[sources] def snapshot: StoreLog.Snapshot = snap

  private lazy val log = manifests.getOrElse(new StoreLog.Manifests(path))
  private val partColNames: Seq[String] = parts.getOrElse(GraftTable.partCols(path))
  private val partSchema = StructType(
    fullSchema.fields.filter(f => partColNames.contains(f.name)))
  private val dataSchema = StructType(
    fullSchema.fields.filterNot(f => partColNames.contains(f.name)))
  // `_file` is the metadata column (the row's store-relative data file
  // path — SupportsMetadataColumns): a per-file CONSTANT, delivered
  // through the same driver-side mechanism as partition values, and the
  // group identity the row-level operations (UPDATE/MERGE) replace on
  private val wantsFile: Boolean =
    required.fieldNames.contains(GraftTable.FileColName)
  // `_pos` (the parquet row index) is neither a data column nor a
  // partition constant: the reader GENERATES it through the row-index
  // mechanism — requesting it forces the row-based index-carrying read
  // for every planned file (the delta row-level operations' read shape)
  private val wantsPos: Boolean =
    required.fieldNames.contains(GraftTable.PosColName)
  private val requiredData = StructType(
    required.fields.filterNot(f =>
      partColNames.contains(f.name) || f.name == GraftTable.FileColName ||
        f.name == GraftTable.PosColName))
  private val requiredPart = StructType(
    required.fields.filter(f => partColNames.contains(f.name)))
  // partition-value row layout handed to the reader: real partition
  // columns, then the _file constant when requested
  private val readerPartSchema = StructType(requiredPart.fields ++
    (if (wantsFile) Seq(StructField(GraftTable.FileColName, StringType,
      nullable = false)) else Seq.empty))

  // the parquet reader's natural layout: required data columns followed
  // by the required partition columns (partition values are appended by
  // the reader from driver metadata)
  private val parquetOut = StructType(requiredData.fields ++ readerPartSchema.fields)

  /** The scan answers EXACTLY the requested schema, in the requested
    * ORDER. A scan that reorders (e.g. appends partition columns last
    * when the table declares them mid-schema) forces Spark to wrap the
    * relation in a restoring Project — harmless for SELECT but fatal
    * for `DELETE FROM` (the DSv2 delete strategy requires a bare scan
    * relation). The reader factories permute the parquet layout back
    * ([[GraftColumnarReaderFactory]] reorders batch vectors — free;
    * the row path projects).
    */
  override def readSchema(): StructType = required

  /** DYNAMIC partition pruning (DSv2 runtime filtering): a join whose
    * build side filters the store's partition column delivers its
    * runtime IN-set here before execution — the same three-tier prune
    * then drops whole uid directories the static filters couldn't name
    * at plan time (the Delta/Iceberg DPP role; a dimension-filtered
    * fact join reads only the surviving series).
    */
  @volatile private var runtime: Array[Filter] = Array.empty

  // only partition columns IN THE SCAN OUTPUT are DPP-filterable: Spark
  // resolves these refs against the scan's own attributes (a pruned-away
  // partition column would fail resolution — and could never be a join
  // key of this scan anyway)
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    (partColNames.filter(required.fieldNames.contains) ++
      (if (wantsFile) Seq(GraftTable.FileColName) else Seq.empty))
      .map(org.apache.spark.sql.connector.expressions.Expressions.column).toArray

  override def filter(filters: Array[Filter]): Unit = { runtime = filters }

  /** Files surviving partition-value + manifest-stat pruning — exposed
    * for the spec's plan pin (the DSv2 twin of PushedFilters). A def,
    * not a lazy val: runtime filters arrive after planning and must
    * re-prune.
    */
  /** TOP-N file pruning — the "latest n ticks" plan. Sound covering
    * rule (shown for ASC; DESC mirrors on mins): order value-carrying
    * files by max(c) ascending and take a prefix whose NON-NULL row
    * counts sum to ≥ n; its last max T bounds the n-th smallest value
    * (the prefix alone holds ≥ n rows ≤ T), so every top-n row lives
    * in a file with min(c) ≤ T — keep exactly those. Nulls: with
    * NULLS LAST the top-n are non-null whenever ≥ n non-null rows
    * exist (the prefix check guarantees it) and all-null files can be
    * dropped; NULLS FIRST is only sound when every file records ZERO
    * nulls. Any file missing bounds/row/null counts, mixed stat tags,
    * or a live filter ⇒ no pruning (every candidate stays).
    */
  private def topNPrune(files: Seq[String]): Option[Seq[String]] = {
    // Deletion vectors: a vectored file's counts must be LIVE or the
    // covering-prefix rule would pick too short a prefix and drop files
    // holding top-n rows. Recorded dv cardinality makes a PARTITION
    // column's live count exact; a DATA column additionally needs the
    // vector's per-column deleted-null count ([[Dv.Entry.nulls]]) —
    // live non-null = (rows−nulls)−(dvRows−dvNulls). A vector without
    // it refuses (no pruning; compaction restores it). The file BOUNDS
    // may be stale under deletion, but that stays sound: the covering
    // argument needs only "every live row is within its file's
    // recorded bounds", and the keep test can only over-keep.
    val GraftScan.TopN(c, desc, nullsFirst, n) = topN.get
    val isPart = partColNames.contains(c)
    // (rel, tag, min, max, LIVE nonNullRows, LIVE nulls) — None on any gap
    final case class FB(rel: String, tag: String, min: Any, max: Any,
                        nonNull: Long, nulls: Long)
    val fbs: Seq[Option[FB]] = files.map { f =>
      val rows = snap.stats.get(f)
        .flatMap(_.values.collectFirst { case cs if cs.rows >= 0 => cs.rows })
      val dvRows = snap.dvs.get(f).map(_.rows).getOrElse(0L)
      if (isPart) rows.map { r =>
        GraftTable.partPseudoStats(f, fullSchema).get(c) match {
          case Some(cs) => FB(f, cs.tag, cs.min, cs.max, r - dvRows, 0L)
          case None => FB(f, "", null, null, 0L, r - dvRows) // null partition: all-null
        }
      } else for {
        r <- rows
        cs <- snap.stats.get(f).flatMap(_.get(c)) if cs.nulls >= 0
        dvNulls <- if (dvRows == 0L) Some(0L)
                   else snap.dvs.get(f).flatMap(_.nulls.get(c))
      } yield FB(f, cs.tag, cs.min, cs.max,
        (r - cs.nulls) - (dvRows - dvNulls), cs.nulls - dvNulls)
    }
    if (fbs.exists(_.isEmpty)) return None
    val all = fbs.flatten
    val valued = all.filter(_.nonNull > 0)
    if (valued.map(_.tag).distinct.sizeIs > 1) return None // mixed tags
    if (nullsFirst && all.exists(_.nulls > 0)) return None
    def cmpV(tag: String, a: Any, b: Any): Int = tag match {
      case "s" => org.apache.spark.unsafe.types.UTF8String
        .fromString(a.asInstanceOf[String])
        .compareTo(org.apache.spark.unsafe.types.UTF8String
          .fromString(b.asInstanceOf[String]))
      case _ => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    }
    val sorted =
      if (desc) valued.sortWith((a, b) => cmpV(a.tag, a.min, b.min) > 0)
      else valued.sortWith((a, b) => cmpV(a.tag, a.max, b.max) < 0)
    var acc = 0L
    var thr: Option[FB] = None
    val it = sorted.iterator
    while (acc < n && it.hasNext) { val f = it.next(); acc += f.nonNull; thr = Some(f) }
    if (acc < n) None // not enough non-null rows to bound the boundary
    else thr.map { t =>
      if (desc) valued.filter(f => cmpV(f.tag, f.max, t.min) >= 0).map(_.rel)
      else valued.filter(f => cmpV(f.tag, f.min, t.max) <= 0).map(_.rel)
    }
  }

  def plannedFiles: Seq[String] = {
    // `_file` filters (the row-level operations' runtime GROUP filter,
    // or an explicit metadata predicate) name files DIRECTLY — apply
    // them as a set intersection, everything else through stat pruning
    val (fileFs, rest0) = (pushed ++ runtime).partition(
      _.references.toSeq == Seq(GraftTable.FileColName))
    val allowed: Option[Set[String]] = {
      val sets = fileFs.toSeq.flatMap {
        case sources.In(_, vs) =>
          Some(vs.toSeq.map(v => String.valueOf(GraftTable.externalValue(v))).toSet)
        case sources.EqualTo(_, v) =>
          Some(Set(String.valueOf(GraftTable.externalValue(v))))
        case _ => None // unrecognized _file shape: keep everything
      }
      sets.reduceOption(_ intersect _)
    }
    val preExact = allowed.fold(snap.files)(a => snap.files.filter(a.contains))
    // accepted partition-EXACT filters decide whole files — applied
    // here definitively (they returned NO residual, so this is the only
    // enforcement point; every row of a file shares its partition
    // values, so file-level keep/drop IS row-level filter semantics)
    val base0 =
      if (exactFilters.isEmpty) preExact
      else {
        def fld(n: String) = fullSchema.fields.find(_.name == n).get
        preExact.filter { f =>
          val valueOf: String => Any = n =>
            GraftTable.partValueInternal(f, fld(n)).getOrElse(
              throw new IllegalStateException(
                s"file '$f' lacks the partition segment for exact filter column '$n'"))
          exactFilters.forall(flt =>
            PartPredEval.eval(flt, valueOf, n => fld(n).dataType).contains(true))
        }
      }
    // exact filters are fully enforced above — they must neither join
    // the conservative stat prune nor disable the limit/topN prunes
    // (which stay sound on the exactly-filtered file set)
    val rest = rest0.filterNot(exactFilters.contains)
    val pred = rest.flatMap(GraftTable.filterColumn)
      .reduceOption(_ && _)
    pred match {
      case None if topN.isDefined &&
          (pushed ++ runtime).filterNot(exactFilters.contains).isEmpty =>
        topNPrune(base0).getOrElse(base0)
      case None if limit.isDefined &&
          (pushed ++ runtime).filterNot(exactFilters.contains).isEmpty =>
        // bare LIMIT n: stop listing once recorded row counts cover n
        // (files with unknown counts contribute 0 — conservative, the
        // walk just keeps going)
        val n = limit.get.toLong
        var acc = 0L
        val kept = Seq.newBuilder[String]
        var done = false
        base0.foreach { f =>
          if (!done) {
            kept += f
            // LIVE rows (recorded minus deletion-vector cardinality) —
            // a vectored file must not overpromise its coverage
            acc += snap.liveRows(f).getOrElse(0L)
            if (acc >= n) done = true
          }
        }
        kept.result()
      case None => base0
      case Some(p) =>
        val node = org.apache.spark.sql.GraftShim.predTree(p)
        // zero-file scans are legal in DSv2 (empty partition array)
        base0.filter(f => FileStats.fileMayMatch(f, snap.stats.get(f), fullSchema, node))
    }
  }

  override def toBatch: Batch = this

  /** Files and bytes the scan planned, reported as driver metrics under
    * the file scan's own names (`numFiles`, `filesSize`).
    */
  @volatile private var filesRead: (Long, Long) = (0L, 0L)

  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new GraftFilesMetric, new GraftBytesMetric)

  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    def m(n: String, v: Long) = new org.apache.spark.sql.connector.metric.CustomTaskMetric {
      override def name(): String = n
      override def value(): Long = v
    }
    Array(m("numFiles", filesRead._1), m("filesSize", filesRead._2))
  }

  /** File lengths for `files`: the manifest's recorded `sizes` first —
    * ZERO metadata RPCs on a stats-complete store, however many files
    * survive pruning — with a pooled getFileStatus fallback for
    * unrecorded files only (pre-upgrade manifests, adopted stores),
    * cached so split planning and `estimateStatistics` pay any fallback
    * once between them. This is what retires the plan-time O(files)
    * serial-status bottleneck on the million-file store the manifest
    * exists to serve.
    */
  private val lenCache = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def lensFor(files: Seq[String]): Seq[(String, Long)] = {
    val missing = files.filter(f =>
      !snap.sizes.contains(f) && !lenCache.containsKey(f))
    if (missing.nonEmpty) {
      val conf = spark.sparkContext.hadoopConfiguration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(32, missing.size))
      try missing.map { rel =>
        pool.submit(new java.util.concurrent.Callable[(String, Long)] {
          override def call(): (String, Long) = {
            val p = new HPath(s"$path/$rel")
            rel -> p.getFileSystem(conf).getFileStatus(p).getLen
          }
        })
      }.foreach { fut =>
        val (rel, len) = fut.get()
        lenCache.put(rel, len); ()
      }
      finally pool.shutdown()
    }
    files.map(f => f -> snap.sizes.getOrElse(f, lenCache.get(f).longValue()))
  }

  /** Task layout = Spark's own: files SPLIT at `maxPartitionBytes`
    * boundaries (a 10 GB chunk parallelizes across tasks — the parquet
    * reader assigns each row group to the split holding its midpoint)
    * and small files BIN-PACKED via `FilePartition.getFilePartitions`
    * (openCostInBytes padding; 100k post-prune files do not become
    * 100k tasks). File lengths come from the MANIFEST ([[lensFor]]) —
    * metadata-only planning; only unrecorded legacy files fall back to
    * pooled status RPCs.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val files = plannedFiles
    if (files.isEmpty) return Array.empty
    val lens: Seq[(String, Long)] = lensFor(files)
    filesRead = (lens.size.toLong, lens.map(_._2).sum)
    val maxSplit = org.apache.spark.sql.execution.datasources.FilePartition
      .maxSplitBytes(spark, lens.map(_._2).sum)
    // splits in INPUT ORDER (per file: ascending offsets). A file with
    // a live DELETION VECTOR carries its sidecar's absolute path as
    // task-constant metadata — the reader factory dispatches on it
    // (position-filtered row read) without any path re-derivation.
    def splitsOf(ls: Seq[(String, Long)]): Seq[PartitionedFile] =
      ls.flatMap { case (rel, len) =>
        val pvBase = StoreChangeSource.partitionValues(rel, requiredPart, 0L)
        val pv: org.apache.spark.sql.catalyst.InternalRow =
          if (!wantsFile) pvBase
          else {
            val vals = new Array[Any](readerPartSchema.length)
            (0 until requiredPart.length).foreach(i =>
              vals(i) = pvBase.get(i, requiredPart(i).dataType))
            vals(requiredPart.length) =
              org.apache.spark.unsafe.types.UTF8String.fromString(rel)
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
          }
        val sp = SparkPath.fromPath(new HPath(s"$path/$rel"))
        val meta: Map[String, Any] = snap.dvs.get(rel) match {
          case Some(e) => Map(GraftScan.DvMetaKey -> s"$path/${e.path}")
          case None => Map.empty
        }
        if (len == 0) Seq.empty
        else (0L until len by maxSplit).map { off =>
          PartitionedFile(pv, sp, off, math.min(maxSplit, len - off),
            Array.empty, 0L, len, meta)
        }
      }
    def pack(ls: Seq[(String, Long)]): Seq[org.apache.spark.sql.execution.datasources.FilePartition] =
      org.apache.spark.sql.execution.datasources.FilePartition
        .getFilePartitions(spark, splitsOf(ls), maxSplit)
    if (!spjActive) return pack(lens).toArray[InputPartition]
    // STORAGE-PARTITIONED layout: one task group per live partition key.
    // Files of one key pack together and each emitted partition carries
    // the key (HasPartitionKey) so Spark's KeyGroupedPartitionedScan can
    // co-locate both sides of an equi-join on the partition columns
    // without shuffling either. Split/bin-pack still runs WITHIN a key
    // (Spark merges same-key partitions back into one task group; under
    // partiallyClusteredDistribution the finer splits survive for skew).
    // When the layout-order contract additionally holds ([[orderedOk]]),
    // each key becomes exactly ONE partition whose files are enumerated
    // in ascending ts order — the shape under which Spark honors the
    // reported per-partition ordering (it refuses multi-split groups).
    val keySchema = StructType(partColNames.map(n => fullSchema(n)).toArray)
    val groups = lens.groupBy { case (rel, _) =>
      rel.split('/').dropRight(1).takeWhile(_.contains('=')).mkString("/")
    }.toSeq.sortBy(_._1)
    if (orderedOk) {
      val ts = snap.props.getOrElse(GraftTable.TsColProp, "ts")
      groups.zipWithIndex.map { case ((_, ls), i) =>
        val key = StoreChangeSource.partitionValues(ls.head._1, keySchema, 0L)
        val inOrder = ls.sortBy { case (rel, _) =>
          snap.stats(rel)(ts).min.asInstanceOf[Long]
        }
        new GraftKeyedFilePartition(i, splitsOf(inOrder).toArray, key)
      }.toArray[InputPartition]
    } else groups.flatMap { case (_, ls) =>
      val key = StoreChangeSource.partitionValues(ls.head._1, keySchema, 0L)
      pack(ls).map(fp => new GraftKeyedFilePartition(fp.index, fp.files, key))
    }.zipWithIndex.map { case (p, i) =>
      new GraftKeyedFilePartition(i, p.files, p.partitionKey())
    }.toArray[InputPartition]
  }

  /** Storage-partitioned-join eligibility: the user opted in
    * (`spark.graft.scan.preserveDataGrouping` — graft's own switch,
    * because Spark 4 defaults `spark.sql.sources.v2.bucketing.enabled`
    * ON and a key-grouped layout caps scan parallelism at the live key
    * count, a regression for low-cardinality partitioning; same
    * opt-in stance as Iceberg's preserve-data-grouping), Spark's v2
    * bucketing is on, the store has partition columns, every one of
    * them is in the scan output (Spark resolves the reported key
    * transforms against the scan's own attributes), and this is not a
    * row-level-operation scan (DML replacement reads must keep Spark's
    * default layout — their group identity is `_file`, not the
    * partition key). Every planned file of a logged store carries its
    * partition segments, so the keyed layout is total when active.
    */
  private def spjActive: Boolean = {
    val conf = org.apache.spark.sql.internal.SQLConf.get
    conf.v2BucketingEnabled &&
      conf.getConfString(GraftScan.PreserveGroupingKey, "false").toBoolean &&
      partColNames.nonEmpty && !fileOnlyFilters &&
      partColNames.forall(required.fieldNames.contains)
  }

  /** Sort-elision eligibility: the store's layout-order contract holds
    * ([[GraftTable.LayoutSortedProp]] — every live file internally
    * (partCols, ts)-sorted), the ts column is a projected DATA column,
    * and within every partition key the live files' recorded ts bounds
    * are null-free and NON-OVERLAPPING (so concatenating files in
    * ascending-min order is globally ts-sorted per key). Judged over
    * ALL live files — a runtime-filter re-plan can only shrink the file
    * set, never break an ordering that held on the superset — so the
    * verdict cannot flip between `outputOrdering()` (logical planning)
    * and the post-DPP `planInputPartitions()`.
    */
  private lazy val orderedOk: Boolean = {
    val ts = snap.props.getOrElse(GraftTable.TsColProp, "ts")
    snap.props.get(GraftTable.LayoutSortedProp).contains("true") &&
      required.fieldNames.contains(ts) && !partColNames.contains(ts) &&
      snap.files.nonEmpty &&
      snap.files.groupBy(
        _.split('/').dropRight(1).takeWhile(_.contains('=')).mkString("/"))
        .values.forall { fs =>
          val bounds = fs.map(f => snap.stats.get(f).flatMap(_.get(ts)).collect {
            case cs if cs.nulls == 0 && cs.min != null && cs.max != null &&
                (cs.tag == "ts" || cs.tag == "tn" || cs.tag == "i" || cs.tag == "d") =>
              (cs.min.asInstanceOf[Long], cs.max.asInstanceOf[Long])
          })
          bounds.forall(_.isDefined) && {
            val inOrder = bounds.flatten.sortBy(_._1)
            inOrder.lazyZip(inOrder.drop(1)).forall {
              case ((_, aMax), (bMin, _)) => bMin >= aMax
            }
          }
        }
  }

  /** Co-located-execution contract for the custom as-of join: when the
    * keyed layout AND the layout-order proof both hold, this scan will
    * plan ONE ts-ordered partition per live key, so a binary operator
    * whose two children expose IDENTICAL key-value sets may zip their
    * partitions directly — no exchange, no sort. Spark's own
    * storage-partitioned-join machinery is hard-gated to
    * SortMergeJoin/ShuffledHashJoin (`EnsureRequirements
    * .checkKeyGroupCompatible` instanceof-matches those two execs), so
    * the as-of strategy must prove co-location itself; these two
    * members are that proof's inputs. Alignment holds because BOTH
    * sides' key groups are emitted sorted by the same raw-prefix
    * ordering and Spark's group machinery treats each side identically.
    */
  private[graft] def coLocation: Option[(Seq[String], String)] =
    if (spjActive && orderedOk)
      Some((partColNames, snap.props.getOrElse(GraftTable.TsColProp, "ts")))
    else None

  /** The live key-value vectors (per partition column, raw escaped
    * directory values) in emission order — equality across two scans is
    * the co-location criterion. Computed from [[plannedFiles]], i.e.
    * AFTER static pushdown, matching what planInputPartitions will key.
    */
  private[graft] def coKeyValues: Seq[Seq[String]] =
    plannedFiles.map(
      _.split('/').dropRight(1).takeWhile(_.contains('='))
        .map(_.dropWhile(_ != '=').drop(1)).toSeq)
      .distinct.sortBy(_.mkString("/"))

  /** Report the canonical per-partition ordering — (partition cols...,
    * ts) ascending — when the keyed layout is active and [[orderedOk]]
    * proves it. With both in force, `ORDER BY uid, ts` reads and
    * per-uid window functions (`PARTITION BY uid ORDER BY ts`) plan
    * with NO exchange and NO sort: the store's written layout IS the
    * execution layout. Partition columns are constant within a task, so
    * leading with them is trivially sound.
    */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    if (spjActive && orderedOk) {
      val ts = snap.props.getOrElse(GraftTable.TsColProp, "ts")
      (partColNames :+ ts).map(c =>
        Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)).toArray
    } else Array.empty
  }

  /** Report the store's directory partitioning as a key-grouped
    * distribution (identity transform per partition column) when SPJ is
    * active — the DSv2 contract that lets a join of two stores
    * partitioned on the same key run with ZERO exchanges. The partition
    * count is the number of live keys after pruning.
    */
  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.expressions.Expressions
    if (!spjActive)
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    else {
      val keys = plannedFiles.map(
        _.split('/').dropRight(1).takeWhile(_.contains('=')).mkString("/")).distinct
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        partColNames.map(n => Expressions.identity(n)
          : org.apache.spark.sql.connector.expressions.Expression).toArray,
        keys.size)
    }
  }

  /** Built once per scan: Spark asks twice per query — the planner's
    * `BatchScanExec` (for `supportsColumnar`) and the copy
    * `QueryExecution` makes of it for the executed plan, whose lazy
    * factory is fresh — and both hold this scan. Runtime (DPP) filters
    * only narrow [[plannedFiles]], so `anyDv` judged before them is
    * conservative, never wrong.
    */
  override def createReaderFactory(): PartitionReaderFactory = readerFactory

  private lazy val readerFactory: PartitionReaderFactory = {
    // only data-column filters reach the parquet reader (partition
    // columns aren't in the data pages); row-group stats + the store's
    // bloom filters both engage underneath
    val dataCols = dataSchema.fieldNames.toSet
    // row-level operation scans (UPDATE/MERGE replacement reads) must
    // return EVERY row of the affected files: pushed filters prune
    // FILES only there — a row-group skip inside an affected file would
    // silently drop survivor rows from the rewritten replacement
    // DELTA row-level scans re-enable parquet data filters: unlike the
    // group-replace read (which must return non-matching survivor rows
    // of affected files), every row a delta plan consumes satisfies the
    // pushed predicate — row-group skips can only drop rows the plan
    // never wanted, and row indices stay absolute under skips
    val dataFilters0 =
      if (fileOnlyFilters && !deltaPushFilters) Seq.empty
      else pushed.filter(_.references.forall(dataCols.contains)).toSeq
    // COLUMN MAPPING: the files carry PHYSICAL names — the reader's
    // schemas and row-group filters translate; positions (and so the
    // returned rows/batches) are unchanged, readSchema() stays logical
    val physData = GraftTable.toPhysical(dataSchema, fullSchema)
    val physRequiredData = GraftTable.toPhysical(requiredData, fullSchema)
    val dataFilters =
      if (!GraftTable.hasRenames(fullSchema)) dataFilters0
      else {
        val m = GraftTable.physMap(fullSchema)
        dataFilters0.flatMap(GraftTable.renameFilter(_, m))
      }
    val fmt = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
    // COLUMNAR when the projected schema allows it (atomic columns,
    // vectorized reader on): the scan then feeds ColumnarBatches into
    // whole-stage codegen exactly like a native parquet scan — the DSv2
    // face must not cost a row-materialization the path it replaces
    // never paid. Nested/map projections take the row path.
    val columnar = !wantsPos && fmt.supportBatch(spark, readSchema())
    // Spark's parquet reader over `readData` (+ partition values); the
    // session conf rides one broadcast shared by every scan of the same
    // conf content and requested schema
    def parquet(readData: StructType) =
      org.apache.spark.sql.GraftShim.parquetReaderFactory(
        spark, physData, readData, readerPartSchema, dataFilters)
    lazy val plain = parquet(physRequiredData)
    lazy val readerFunc = ParquetFileReads(plain, columnar)
    val anyDv = plannedFiles.exists(snap.dvs.contains)
    if (!wantsPos && !anyDv) {
      // permutation from the reader's (data ++ part) layout back to the
      // REQUESTED column order (identity when partition columns trail)
      val perm: Array[Int] = required.fieldNames.map(parquetOut.fieldIndex)
      if (columnar) new GraftColumnarReaderFactory(readerFunc, perm)
      else new StoreChangeReaderFactory(
        GraftColumnarReaderFactory.permuteRows(readerFunc, perm, parquetOut))
    } else if (!wantsPos && columnar && DvBatchFilter.copyable(required) && {
      // the vectored files' batch read carries the row-index column —
      // it must survive the same batch-support gate as the output
      import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat => PFF}
      fmt.supportBatch(spark, StructType(required.fields :+ StructField(
        PFF.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType, nullable = true)))
    }) {
      // COLUMNAR deletion-vectored read: the scan stays vectorized
      // while vectors are live — clean files pass batches through
      // untouched, vectored files drop their sidecar's positions
      // batch-side (see [[GraftDvColumnarReaderFactory]]). Without
      // this branch ONE vectored file would de-vectorize every clean
      // file of the table until compaction.
      import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat => PFF}
      val idxField = StructField(
        PFF.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType, nullable = true)
      val dvRequired = StructType(physRequiredData.fields :+ idxField)
      val dvBatchFunc = ParquetFileReads(parquet(dvRequired), batches = true)
      val idxOrdinal = requiredData.length
      val cleanPerm: Array[Int] = required.fieldNames.map(parquetOut.fieldIndex)
      // vectored batches' layout: requiredData ++ [rowIdx] ++ partitions
      val dvPerm: Array[Int] = required.fieldNames.map { n =>
        val i = parquetOut.fieldIndex(n)
        if (i < requiredData.length) i else i + 1 // skip the idx slot
      }
      new GraftDvColumnarReaderFactory(readerFunc, dvBatchFunc, idxOrdinal,
        cleanPerm, dvPerm, required, plain.broadcastedConf)
    } else {
      // ROW-path deletion-vectored read — only for the shapes the
      // columnar dv branch above refuses: `_pos`-requesting row-level
      // DML scans and nested-type projections. Vectored files read
      // through the PARQUET ROW INDEX (the `_tmp_metadata_row_index`
      // mechanism — absolute under splits, row-group skips, and
      // pushed filters), filter out the sidecar's positions, and
      // project to the requested order.
      import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat => PFF}
      val idxField = StructField(
        PFF.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType, nullable = true)
      val dvRequired = StructType(physRequiredData.fields :+ idxField)
      val dvReader = parquet(dvRequired)
      val dvFunc = ParquetFileReads(dvReader, batches = false)
      // the dv reader's layout: requiredData ++ [rowIdx] ++ partitions
      val idxOrdinal = requiredData.length
      val dvOut = StructType(
        (requiredData.fields :+ idxField) ++ readerPartSchema.fields)
      val dvPerm: Array[Int] = required.fieldNames.map { n =>
        if (n == GraftTable.PosColName) idxOrdinal // `_pos` IS the row index
        else {
          val i = parquetOut.fieldIndex(n)
          if (i < requiredData.length) i else i + 1 // skip the idx slot
        }
      }
      // with `_pos` requested, CLEAN files must ride the index-carrying
      // reader too (their rows need positions just the same); without
      // it they keep the cheaper plain row read
      val plainRow =
        if (wantsPos) null
        else {
          val perm: Array[Int] = required.fieldNames.map(parquetOut.fieldIndex)
          GraftColumnarReaderFactory.permuteRows(
            ParquetFileReads(plain, batches = false), perm, parquetOut)
        }
      new GraftDvReaderFactory(plainRow, dvFunc, idxOrdinal, dvPerm, dvOut,
        dvReader.broadcastedConf, cleanViaIdx = wantsPos)
    }
  }

  /** Manifest-derived stats for the planner: row count is exact when
    * every surviving file carries recorded counts ([[TsStore.countAt]]'s
    * budget); size is the surviving files' recorded byte lengths —
    * metadata-only via [[lensFor]], shared with split planning so a
    * stats-complete store pays ZERO status RPCs for either. Both are
    * pruning-aware — a selective scan reports the small number that
    * makes it broadcast-eligible.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    private lazy val (rowsOpt, bytes) = {
      val files = plannedFiles
      val per = files.map(snap.liveRows) // exact under deletion vectors
      val rows = if (per.isEmpty || per.exists(_.isEmpty)) None
                 else Some(per.flatten.sum)
      val sz =
        try lensFor(files).map(_._2).sum
        catch {
          // a fallback status that fails (file vanished mid-plan) must
          // not kill statistics estimation — report what is recorded
          case scala.util.control.NonFatal(_) =>
            files.flatMap(snap.sizes.get).sum
        }
      (rows, sz)
    }
    override def sizeInBytes(): util.OptionalLong = util.OptionalLong.of(bytes)
    override def numRows(): util.OptionalLong =
      rowsOpt.fold(util.OptionalLong.empty())(util.OptionalLong.of)
  }
}

/** The scan's driver metrics ([[GraftScan.reportDriverMetrics]]):
  * top-level classes, because Spark instantiates a metric class by name
  * to aggregate its values.
  */
private[sources] class GraftFilesMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "numFiles"
  override def description(): String = "number of files read"
}

private[sources] class GraftBytesMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "filesSize"
  override def description(): String = "size of files read"
}

/** A bin-packed file partition that also CARRIES its storage partition
  * key ([[org.apache.spark.sql.connector.read.HasPartitionKey]]): the
  * unit of Spark's storage-partitioned join. All files inside belong to
  * one partition-directory key; `key` is that key's catalyst-internal
  * row in partition-column order, matching the identity transforms the
  * scan reports via `outputPartitioning`.
  */
private[sources] class GraftKeyedFilePartition(
    index: Int,
    files: Array[org.apache.spark.sql.execution.datasources.PartitionedFile],
    key: org.apache.spark.sql.catalyst.InternalRow)
  extends org.apache.spark.sql.execution.datasources.FilePartition(index, files)
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = key
}

/** Columnar twin of [[StoreChangeReaderFactory]]: the reader function
  * was built with `returning_batch=true`, so it yields ColumnarBatches
  * directly — handed to Spark unwrapped, the scan participates in
  * whole-stage codegen's batch loop like FileSourceScanExec's. `perm`
  * reorders the batch's column VECTORS from the reader's (data ++
  * partition) layout into the scan's declared order — a pointer
  * shuffle per batch, zero data movement.
  */
private[sources] class GraftColumnarReaderFactory(
    val readerFunc: PartitionedFile => Iterator[org.apache.spark.sql.catalyst.InternalRow],
    perm: Array[Int])
  extends PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.read.PartitionReader
  import org.apache.spark.sql.vectorized.ColumnarBatch

  private val identity = perm.zipWithIndex.forall { case (p, i) => p == i }

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("columnar factory: use createColumnarReader")

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val batches = GraftColumnarReaderFactory.filesOf(partition).iterator
      .flatMap(f => readerFunc(f).asInstanceOf[Iterator[ColumnarBatch]])
    new PartitionReader[ColumnarBatch] {
      // the ORIGINAL batch owns the vectors — close that one, not the
      // permuted view
      private var src: ColumnarBatch = _
      private var batch: ColumnarBatch = _
      override def next(): Boolean =
        if (batches.hasNext) {
          src = batches.next()
          batch =
            if (identity) src
            else new ColumnarBatch(
              perm.map(src.column(_)), src.numRows())
          true
        } else false
      override def get(): ColumnarBatch = batch
      override def close(): Unit = if (src != null) src.close()
    }
  }
}

private[sources] object GraftColumnarReaderFactory {
  /** Both task shapes: the streaming source's one-file partition and
    * the batch scan's split/bin-packed FilePartition.
    */
  def filesOf(p: InputPartition): Seq[PartitionedFile] = p match {
    case s: StoreChangeInputPartition => Seq(s.file)
    case f: org.apache.spark.sql.execution.datasources.FilePartition => f.files.toSeq
    case other => throw new IllegalStateException(s"unexpected partition $other")
  }

  /** Row-path twin of the columnar permutation: project each row from
    * `srcSchema` order into `perm`'s target order (identity = no-op).
    * The projection is created per reader invocation (executor-side).
    */
  def permuteRows(
      readerFunc: PartitionedFile => Iterator[org.apache.spark.sql.catalyst.InternalRow],
      perm: Array[Int], srcSchema: StructType)
      : PartitionedFile => Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    if (perm.zipWithIndex.forall { case (p, i) => p == i }) readerFunc
    else { file =>
      import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
      val proj = UnsafeProjection.create(perm.map(i =>
        BoundReference(i, srcSchema(i).dataType, srcSchema(i).nullable)))
      readerFunc(file).map(proj)
    }
  }
}

/** One file's rows — or, with `batches`, its ColumnarBatches, erased
  * to the same element type — from Spark's DSv2 parquet reader
  * `factory`. The file's reader closes when the iterator runs dry, and
  * at task end if it never does.
  */
private[sources] final case class ParquetFileReads(
    factory: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory,
    batches: Boolean)
  extends (PartitionedFile => Iterator[org.apache.spark.sql.catalyst.InternalRow]) {
  override def apply(file: PartitionedFile): Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    val r: org.apache.spark.sql.connector.read.PartitionReader[_ <: AnyRef] =
      if (batches) factory.buildColumnarReader(file) else factory.buildReader(file)
    var closed = false
    def close(): Unit = if (!closed) { closed = true; r.close() }
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => close()))
    new Iterator[AnyRef] {
      private var ready = false
      override def hasNext: Boolean = {
        if (!ready && !closed) { ready = r.next(); if (!ready) close() }
        ready
      }
      override def next(): AnyRef = {
        if (!hasNext) throw new NoSuchElementException("end of parquet file")
        ready = false
        r.get()
      }
    }.asInstanceOf[Iterator[org.apache.spark.sql.catalyst.InternalRow]]
  }
}

/** Reader factory for a scan whose planned files include DELETION
  * VECTORS. Dispatch is per task-constant metadata
  * ([[GraftScan.DvMetaKey]] on the [[PartitionedFile]]): a clean file
  * reads the ordinary row path; a vectored file reads THROUGH the
  * parquet row-index mechanism (`_tmp_metadata_row_index` — indices
  * stay absolute under splits, row-group skips, and pushed filters),
  * drops the sidecar's positions with a binary search per row, and
  * projects the index column away into the requested order.
  *
  * This ROW path serves only the shapes the columnar dv factory
  * ([[GraftDvColumnarReaderFactory]]) can't: `_pos`-requesting
  * row-level-DML scans (every row needs its index in the output) and
  * projections with nested types (no cheap batch survivor-compaction).
  * Ordinary scans stay columnar while vectors are live. Spark requires
  * every partition of one scan to agree on columnar vs row
  * (`DataSourceV2ScanExecBase.supportsColumnar`), so whichever factory
  * is chosen serves ALL planned files. The sidecar loads once per
  * (split, file) on the executor — O(log d) per row after that, d =
  * the file's deleted count.
  */
private[sources] class GraftDvReaderFactory(
    plainRowFunc: PartitionedFile => Iterator[org.apache.spark.sql.catalyst.InternalRow],
    dvFunc: PartitionedFile => Iterator[org.apache.spark.sql.catalyst.InternalRow],
    idxOrdinal: Int, dvPerm: Array[Int], dvOut: StructType,
    sconf: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration],
    cleanViaIdx: Boolean = false)
  extends PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.read.PartitionReader
  import org.apache.spark.sql.vectorized.ColumnarBatch

  private def dvPathOf(f: PartitionedFile): Option[String] =
    f.otherConstantMetadataColumnValues.get(GraftScan.DvMetaKey)
      .map(String.valueOf)

  // Spark requires ALL of a scan's partitions to agree on columnar vs
  // row (DataSourceV2ScanExecBase.supportsColumnar), so a scan with any
  // live vector reads row-wise throughout — the temporary tax merge-on-
  // read pays until compaction materializes the vectors
  override def supportColumnarReads(partition: InputPartition): Boolean = false

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[ColumnarBatch] =
    throw new UnsupportedOperationException("dv factory reads rows")

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
    def idxProj() = UnsafeProjection.create(dvPerm.map(i =>
      BoundReference(i, dvOut(i).dataType, dvOut(i).nullable)))
    val rows: Iterator[InternalRow] =
      GraftColumnarReaderFactory.filesOf(partition).iterator.flatMap { f =>
        dvPathOf(f) match {
          case None if !cleanViaIdx => plainRowFunc(f)
          case None => dvFunc(f).map(idxProj()) // `_pos` requested: index read, no filter
          case Some(dvAbs) =>
            val deleted = Dv.read(sconf.value.value, dvAbs)
            val proj = idxProj()
            dvFunc(f)
              .filterNot(r => Dv.contains(deleted, r.getLong(idxOrdinal)))
              .map(proj)
        }
      }
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (rows.hasNext) { cur = rows.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}

/** Survivor-compaction of [[org.apache.spark.sql.vectorized.ColumnarBatch]]es
  * under a deletion vector — the columnar dv read's per-batch kernel.
  * Flat ATOMIC physical types only (what [[copyable]] admits): nested
  * vectors (struct/array/map) have no per-row copy cheap enough to
  * beat the row path, so scans projecting them keep it.
  */
private[sources] object DvBatchFilter {
  import org.apache.spark.sql.execution.vectorized.WritableColumnVector
  import org.apache.spark.sql.vectorized.ColumnVector

  def copyable(schema: StructType): Boolean =
    schema.fields.forall(f => f.dataType match {
      case BooleanType | ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType | StringType | BinaryType | DateType |
           TimestampType | TimestampNTZType | _: DecimalType => true
      case _ => false
    })

  /** Copy `src[i]` into `dst[j]`. `dst` rows are written in ascending
    * j order (the contract variable-length writers require).
    */
  def copyValue(dt: DataType, src: ColumnVector, i: Int,
                dst: WritableColumnVector, j: Int): Unit =
    if (src.isNullAt(i)) dst.putNull(j)
    else dt match {
      case BooleanType => dst.putBoolean(j, src.getBoolean(i))
      case ByteType => dst.putByte(j, src.getByte(i))
      case ShortType => dst.putShort(j, src.getShort(i))
      case IntegerType | DateType => dst.putInt(j, src.getInt(i))
      case LongType | TimestampType | TimestampNTZType =>
        dst.putLong(j, src.getLong(i))
      case FloatType => dst.putFloat(j, src.getFloat(i))
      case DoubleType => dst.putDouble(j, src.getDouble(i))
      case StringType =>
        val b = src.getUTF8String(i).getBytes
        dst.putByteArray(j, b, 0, b.length): Unit
      case BinaryType =>
        val b = src.getBinary(i)
        dst.putByteArray(j, b, 0, b.length): Unit
      case d: DecimalType =>
        dst.putDecimal(j, src.getDecimal(i, d.precision, d.scale), d.precision)
      case other => throw new IllegalStateException(
        s"DvBatchFilter admitted an uncopyable type $other")
    }
}

/** COLUMNAR reader factory for a scan whose planned files include
  * deletion vectors — the merge-on-read read tax, retired: without
  * this, one vectored file forces the WHOLE scan (clean files
  * included) onto the row path, because Spark requires every
  * partition of one scan to agree on columnar vs row
  * (`DataSourceV2ScanExecBase.supportsColumnar`). Here every file
  * yields ColumnarBatches, so the scan stays vectorized + feeds
  * whole-stage codegen's batch loop while vectors are live:
  *
  *  - CLEAN files ride the ordinary vectorized read; their batches
  *    pass through untouched (a column-pointer permutation, zero data
  *    movement) — clean-file throughput is unchanged by a takedown
  *    elsewhere in the table.
  *  - VECTORED files read through the parquet row-index mechanism
  *    (`_tmp_metadata_row_index`, absolute under splits / row-group
  *    skips / pushed filters) in BATCH mode. A batch whose index range
  *    contains no deleted position — the overwhelming case when a
  *    small takedown touches a huge file — also passes through as a
  *    pointer permutation. Only batches that actually contain deleted
  *    rows compact their survivors into fresh vectors
  *    ([[DvBatchFilter]]), O(surviving rows) for O(dirty batches).
  *
  * The row-path [[GraftDvReaderFactory]] remains for the shapes batch
  * reading can't serve: `_pos`-requesting row-level DML scans and
  * projections with nested types.
  */
private[sources] class GraftDvColumnarReaderFactory(
    cleanFunc: PartitionedFile => Iterator[org.apache.spark.sql.catalyst.InternalRow],
    dvFunc: PartitionedFile => Iterator[org.apache.spark.sql.catalyst.InternalRow],
    idxOrdinal: Int, cleanPerm: Array[Int], dvPerm: Array[Int],
    outSchema: StructType,
    sconf: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration])
  extends PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.read.PartitionReader
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("columnar dv factory: use createColumnarReader")

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[ColumnarBatch] = {
    // one flat (dv positions, batch) stream across the partition's
    // files — each file's batches paired with ITS sidecar (or null)
    val batches: Iterator[(Array[Long], ColumnarBatch)] =
      GraftColumnarReaderFactory.filesOf(partition).iterator.flatMap { f =>
        f.otherConstantMetadataColumnValues.get(GraftScan.DvMetaKey)
          .map(String.valueOf) match {
          case None =>
            cleanFunc(f).asInstanceOf[Iterator[ColumnarBatch]]
              .map(b => (null: Array[Long], b))
          case Some(dvAbs) =>
            val deleted = Dv.read(sconf.value.value, dvAbs)
            dvFunc(f).asInstanceOf[Iterator[ColumnarBatch]]
              .map(b => (deleted, b))
        }
      }
    new PartitionReader[ColumnarBatch] {
      private var src: ColumnarBatch = _   // reader-owned (reused across next())
      private var own: ColumnarBatch = _   // our compacted copy, when built
      private var out: ColumnarBatch = _

      private def passThrough(perm: Array[Int]): ColumnarBatch =
        new ColumnarBatch(perm.map(src.column(_)), src.numRows())

      /** First index at or after `key` in ascending `a`. */
      private def lowerBound(a: Array[Long], key: Long): Int = {
        val i = java.util.Arrays.binarySearch(a, key)
        if (i >= 0) i else -i - 1
      }

      private def compact(deleted: Array[Long]): ColumnarBatch = {
        val n = src.numRows()
        val idx = src.column(idxOrdinal)
        val cols = dvPerm.map(src.column(_))
        if (own != null) { own.close(); own = null }
        val fresh = outSchema.fields.map(f =>
          new OnHeapColumnVector(math.max(n, 1), f.dataType))
        var j = 0
        var r = 0
        while (r < n) {
          val pos = idx.getLong(r)
          if (!Dv.contains(deleted, pos)) {
            var c = 0
            while (c < cols.length) {
              DvBatchFilter.copyValue(
                outSchema.fields(c).dataType, cols(c), r, fresh(c), j)
              c += 1
            }
            j += 1
          }
          r += 1
        }
        own = new ColumnarBatch(
          fresh.map(v => v: ColumnVector).toArray, j)
        own
      }

      override def next(): Boolean =
        if (batches.hasNext) {
          val (deleted, b) = batches.next()
          src = b
          out =
            if (deleted == null) passThrough(cleanPerm)
            else {
              val n = b.numRows()
              // dirty iff any deleted position falls inside the
              // batch's (ascending) row-index range
              val dirty = n > 0 && {
                val idx = b.column(idxOrdinal)
                val lo = lowerBound(deleted, idx.getLong(0))
                lo < deleted.length && deleted(lo) <= idx.getLong(n - 1)
              }
              if (dirty) compact(deleted) else passThrough(dvPerm)
            }
          true
        } else false
      override def get(): ColumnarBatch = out
      override def close(): Unit = {
        if (src != null) src.close()
        if (own != null) own.close()
      }
    }
  }
}

/** A named-table catalog over a directory of stores — `CREATE TABLE
  * g.ns.t USING graft` / `INSERT INTO` / `SELECT ... VERSION AS OF v`.
  * Identifier ↔ path mapping is structural (`root/ns.../name`), so the
  * catalog needs no metastore: the [[StoreLog]] manifest under each
  * table directory IS the table metadata (schema/tsCol/uids recorded as
  * manifest props at CREATE; files authoritative once data lands).
  * `TIMESTAMP AS OF` resolves against manifest commit times.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {
  private var catName: String = _
  private var root: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    root = options.get("root")
    require(root != null && root.nonEmpty,
      s"catalog $name needs spark.sql.catalog.$name.root = <directory>")
  }

  override def name(): String = catName

  private def io: CommitIo = CommitIo.forPath(root).getOrElse(
    throw new IllegalArgumentException(
      s"catalog root '$root' has no commit backend"))

  private def pathOf(ident: Identifier): String =
    (root +: ident.namespace.toSeq :+ ident.name).mkString("/")

  private def nsPath(ns: Seq[String]): String = (root +: ns).mkString("/")

  private def isStore(p: String): Boolean = io.isDir(StoreLog.logDir(p))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val p = nsPath(namespace.toSeq)
    if (!io.isDir(p)) throw new NoSuchNamespaceException(namespace)
    io.list(p).filter(e => e.isDir && isStore(s"$p/${e.name}"))
      .map(e => Identifier.of(namespace, e.name)).toArray
  }

  override def tableExists(ident: Identifier): Boolean = isStore(pathOf(ident))

  private def tableAt(path: String, asOf: Option[Long]): Table = {
    // props at the REQUESTED version: they are per-manifest, so a time
    // travel reads the era's declared schema (pre-ALTER columns live)
    val props = asOf.orElse(StoreLog.latestVersion(path))
      .map(StoreLog.propsAt(path, _)).getOrElse(Map.empty)
    val schema = GraftTable.resolveSchema(SparkSession.active, path, asOf)
    val uids = props.get(GraftTable.UidsProp)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(GraftTable.partCols(path))
    new GraftTable(path, asOf, schema, uids,
      props.getOrElse(GraftTable.TsColProp, "ts"))
  }

  override def loadTable(ident: Identifier): Table = {
    val p = pathOf(ident)
    if (!isStore(p)) throw new NoSuchTableException(ident)
    tableAt(p, None)
  }

  /** `VERSION AS OF v` — the manifest version (same id space as the
    * Scala `asOf` and the `graft_store` TVF), or a NAMED TAG
    * (`VERSION AS OF 'pre_migration'` — `CALL system.tag` pins one;
    * vacuum retains it, so a tag is a durable readable era, the
    * Iceberg ref idea).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val p = pathOf(ident)
    if (!isStore(p)) throw new NoSuchTableException(ident)
    val v = version.toLongOption
      .orElse(StoreLog.tagVersion(p, version))
      // a BRANCH name reads the branch HEAD — the write-audit half of
      // write-audit-publish queries its staged view exactly like a tag
      .orElse(StoreLog.branchVersion(p, version))
      .getOrElse(throw new IllegalArgumentException(
        s"'$version' is neither a version number, a named tag, nor a " +
          s"branch of ${ident.name} (CALL system.tags / system.branches)"))
    tableAt(p, Some(v))
  }

  /** `TIMESTAMP AS OF t` — the newest version committed at or before the
    * instant (micros since epoch, Spark's unit for this call).
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val p = pathOf(ident)
    if (!isStore(p)) throw new NoSuchTableException(ident)
    val ms = timestampMicros / 1000L
    // raw-JSON timestamps: the walk probes many versions and must not
    // decode a parquet checkpoint sidecar per probe on big stores
    val v = StoreLog.listVersions(p).reverse
      .find(v => StoreLog.timestampAt(p, v) <= ms)
      .getOrElse(throw new IllegalArgumentException(
        s"no version of ${ident.name} committed at or before $ms ms"))
    // resolve THROUGH the era's main ref: the newest commit at-or-before
    // the instant may be a BRANCH commit, and "the table as of t" means
    // what a MAIN reader saw at t — staged write-audit-publish rows must
    // not leak through the timestamp face (branch heads are addressed
    // explicitly, via VERSION AS OF '<name>')
    tableAt(p, Some(StoreLog.mainVersionAt(p, v)))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val p = pathOf(ident)
    if (isStore(p)) throw new TableAlreadyExistsException(ident)
    val uids = partitions.toSeq.flatMap(GraftTable.identityCol)
    require(uids.size == partitions.length,
      "graft tables support identity partition transforms only")
    val props = properties.asScala
    val tsCol = props.get("tsCol").orElse(props.get("option.tsCol")).getOrElse("ts")
    require(schema.fieldNames.contains(tsCol),
      s"graft table needs its time column '$tsCol' in the schema " +
        "(override with TBLPROPERTIES('tsCol'='...'))")
    // v1 = an EMPTY committed manifest carrying the declared metadata;
    // the first INSERT appends through the ordinary logged write path
    StoreLog.commit(p, 0L, Seq.empty, Seq.empty,
      setProps = Map(
        GraftTable.SchemaProp -> schema.json,
        GraftTable.TsColProp -> tsCol,
        // an empty store is trivially layout-ordered; sorted writes
        // (INSERT via RequiresDistributionAndOrdering) inherit this,
        // the unsorted paths (zorder, streaming append) clear it
        GraftTable.LayoutSortedProp -> "true") ++
        (if (uids.nonEmpty) Map(GraftTable.UidsProp -> uids.mkString(",")) else Map.empty) ++
        // DELETE routing is a durable table property: 'dv' = merge-on-
        // read deletion vectors, default = copy-on-write
        props.get("delete.mode").map("delete.mode" -> _) ++
        // dv-density auto-compaction threshold for DML commits
        // (TsStore.dvDensityCompact); absent = advisory log only
        props.get("dv.compact.ratio").map("dv.compact.ratio" -> _) ++
        // CHECK constraints ('constraint.<name>' = boolean sql) — must
        // analyze against the declared schema NOW (a malformed
        // expression must refuse the CREATE, not the first INSERT);
        // there is no data to scan yet
        props.filter { case (k, _) => k.startsWith(Constraints.Prefix) }
          .map { case (k, v) =>
            Constraints.bind(SparkSession.active, schema,
              Seq(Constraints.Check(k.stripPrefix(Constraints.Prefix), v)))
            k -> v
          })
    tableAt(p, None)
  }

  /** `ALTER TABLE ... ADD/DROP COLUMN` / `SET TBLPROPERTIES`: a
    * metadata-only manifest commit updating the declared
    * [[GraftTable.SchemaProp]] — no data files touched.
    *
    * ADD: old rows surface NULL for the new column (the parquet reader
    * null-fills fields absent from a file's schema, the same union
    * semantics the write-side evolution is spec-pinned on). Added
    * columns must be top-level, nullable, and tail-positioned.
    *
    * DROP: the column disappears from the declared schema — readers
    * never request it, so the data left in existing parquet files is
    * simply dead weight until the next compact/zorder rewrite (and the
    * PRE-drop versions still read it via time travel: props are
    * per-manifest). The time column and partition columns refuse. A
    * dropped name is tombstoned (`graft.dropped.<name>`) so a later
    * ADD COLUMN of the same name refuses — old files still carry the
    * physical column, and re-declaring it would either resurface stale
    * values (same type) or crash the reader (retyped).
    *
    * RENAME COLUMN: metadata-only via COLUMN MAPPING — the declared
    * name changes, the field keeps its original PARQUET name
    * ([[GraftTable.PhysicalKey]]); reads and writes translate at the
    * DSv2 face, old files never move, and pre-rename versions time
    * travel under their era's name. The time and partition columns
    * refuse (layout/props are keyed on them).
    *
    * ALTER COLUMN TYPE: metadata-only for SAFE WIDENINGS (integral
    * up-chain, float→double, same-scale decimal precision growth) via
    * [[GraftTable.PhysicalTypeKey]] — old files keep their narrow
    * parquet type, readers upcast natively, new writes land the wide
    * declared type, and internal frames switch to explicit-schema
    * reads (mergeSchema refuses mixed widths). Narrowing and
    * cross-family retypes still refuse — those need data rewrites this
    * catalog deliberately doesn't hide behind DDL.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val p = pathOf(ident)
    if (!isStore(p)) throw new NoSuchTableException(ident)
    val cur = StoreLog.latest(p).getOrElse(throw new NoSuchTableException(ident))
    val spark = SparkSession.active
    var schema = GraftTable.resolveSchema(spark, p, Some(cur.version))
    val tsCol = cur.props.getOrElse(GraftTable.TsColProp, "ts")
    val uids = cur.props.get(GraftTable.UidsProp)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(GraftTable.partCols(p))
    var props = Map.empty[String, String]
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          "ALTER TABLE ADD COLUMN supports top-level columns only")
        val name = add.fieldNames.head
        require(add.isNullable,
          s"added column '$name' must be nullable — existing rows have no value for it")
        require(add.position() == null,
          "ALTER TABLE ADD COLUMN supports tail position only (FIRST/AFTER " +
            "would reorder the declared schema under live readers)")
        require(!schema.fieldNames.contains(name),
          s"column '$name' already exists in ${ident.name}")
        require(!cur.props.contains(s"${GraftTable.DroppedPropPrefix}$name") &&
            !props.contains(s"${GraftTable.DroppedPropPrefix}$name"),
          s"column '$name' was previously dropped from ${ident.name} and its " +
            "data still lives in existing files — compact/zorder the store " +
            "first, or pick a fresh name")
        // a renamed column's DATA still lives under its original parquet
        // name — declaring that name as a new column would alias two
        // logical columns onto one physical one (old files' values
        // would resurface in the "new" column)
        require(!schema.fields.exists(f =>
            f.name != name && GraftTable.physicalName(f) == name),
          s"column name '$name' is the stored physical anchor of a renamed " +
            s"column in ${ident.name} — old files still carry its data; " +
            "pick a fresh name")
        schema = schema.add(StructField(name, add.dataType, nullable = true,
          metadata = Option(add.comment()).fold(Metadata.empty)(c =>
            new MetadataBuilder().putString("comment", c).build())))
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          "ALTER TABLE DROP COLUMN supports top-level columns only")
        val name = del.fieldNames.head
        if (!schema.fieldNames.contains(name)) {
          if (!del.ifExists()) throw new IllegalArgumentException(
            s"column '$name' does not exist in ${ident.name}")
        } else {
          require(name != tsCol,
            s"cannot DROP the store's time column '$tsCol'")
          require(!uids.contains(name),
            s"cannot DROP partition column '$name' — the directory layout " +
              "is built on it")
          // a CHECK constraint referencing the column would dangle
          // (every later write's bind would fail) — UNSET it first
          locally {
            val cs = Constraints.referencing(spark, cur.props ++ props, name)
            require(cs.isEmpty,
              s"cannot DROP column '$name': constraint(s) " +
                s"${cs.mkString(", ")} reference it — UNSET TBLPROPERTIES " +
                s"('${Constraints.Prefix}<name>') or ALTER COLUMN ... " +
                "DROP NOT NULL first")
          }
          props += s"${GraftTable.DroppedPropPrefix}$name" -> "1"
          // a renamed column's DATA lives under its physical name —
          // tombstone that too, or a later ADD of the original name
          // would resurface the dropped values from old files
          val phys = GraftTable.physicalName(schema(name))
          if (phys != name)
            props += s"${GraftTable.DroppedPropPrefix}$phys" -> "1"
          schema = StructType(schema.fields.filterNot(_.name == name))
        }
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames.length == 1,
          "ALTER TABLE RENAME COLUMN supports top-level columns only")
        val from = rn.fieldNames.head
        val to = rn.newName
        require(schema.fieldNames.contains(from),
          s"column '$from' does not exist in ${ident.name}")
        require(!schema.fieldNames.contains(to),
          s"column '$to' already exists in ${ident.name}")
        require(from != tsCol,
          s"cannot RENAME the store's time column '$tsCol' — the manifest " +
            "ts index and layout-order contract are keyed on it")
        require(!uids.contains(from),
          s"cannot RENAME partition column '$from' — the directory layout " +
            "is built on it")
        // constraint expressions are stored as SQL text over declared
        // names — a rename would silently detach them; UNSET first
        // (re-SET under the new name re-validates)
        locally {
          val cs = Constraints.referencing(spark, cur.props ++ props, from)
          require(cs.isEmpty,
            s"cannot RENAME column '$from': constraint(s) " +
              s"${cs.mkString(", ")} reference it — UNSET TBLPROPERTIES " +
              s"('${Constraints.Prefix}<name>') or ALTER COLUMN ... " +
              "DROP NOT NULL first")
        }
        require(!cur.props.contains(s"${GraftTable.DroppedPropPrefix}$to") &&
            !props.contains(s"${GraftTable.DroppedPropPrefix}$to"),
          s"column '$to' was previously dropped from ${ident.name} and its " +
            "data still lives in existing files — compact/zorder the store " +
            "first, or pick a fresh name")
        // the ADD COLUMN anchor guard's RENAME twin: landing on another
        // column's stored physical anchor would alias two logical
        // columns onto one parquet name — the write-side translation
        // maps (logical→physical) and a duplicate target corrupts it
        require(!schema.fields.exists(f =>
            f.name != from && GraftTable.physicalName(f) == to),
          s"column name '$to' is the stored physical anchor of a renamed " +
            s"column in ${ident.name} — old files still carry its data; " +
            "pick a fresh name")
        // metadata-only: the column keeps reading/writing its ORIGINAL
        // parquet name (recorded once; renaming again, or back, keeps
        // the same physical anchor) — see [[GraftTable.PhysicalKey]]
        schema = StructType(schema.fields.map { f =>
          if (f.name != from) f
          else {
            val phys = GraftTable.physicalName(f)
            val md = new MetadataBuilder().withMetadata(f.metadata)
            if (phys == to) md.remove(GraftTable.PhysicalKey) // renamed back
            else md.putString(GraftTable.PhysicalKey, phys)
            f.copy(name = to, metadata = md.build())
          }
        })
      case ut: TableChange.UpdateColumnType =>
        require(ut.fieldNames.length == 1,
          "ALTER COLUMN TYPE supports top-level columns only")
        val name = ut.fieldNames.head
        require(schema.fieldNames.contains(name),
          s"column '$name' does not exist in ${ident.name}")
        require(name != tsCol,
          s"cannot retype the store's time column '$tsCol' — the manifest " +
            "ts index and layout contract are keyed on it")
        require(!uids.contains(name),
          s"cannot retype partition column '$name' — the directory layout " +
            "is built on it")
        val f = schema(name)
        // safe widenings only — exactly the promotions Spark 4's parquet
        // readers upcast natively, so old files never rewrite. The
        // manifest stat domains are width-blind ("i" integrals compare
        // as long, "f" floats stay refused for min/max), so pruning and
        // the agg pushdowns keep working across mixed-width files.
        val ok = (f.dataType, ut.newDataType) match {
          case (ByteType, ShortType | IntegerType | LongType) => true
          case (ShortType, IntegerType | LongType) => true
          case (IntegerType, LongType) => true
          case (FloatType, DoubleType) => true
          case (a: DecimalType, b: DecimalType) =>
            b.scale == a.scale && b.precision > a.precision
          case _ => false
        }
        require(ok,
          s"ALTER COLUMN TYPE supports only safe widenings (tinyint/" +
            "smallint/int→bigint up the chain, float→double, same-scale " +
            s"decimal precision growth); cannot retype '$name' from " +
            s"${f.dataType.sql} to ${ut.newDataType.sql} — narrowing or " +
            "cross-family retypes need a data rewrite")
        schema = StructType(schema.fields.map { g =>
          if (g.name != name) g
          else {
            val md = new MetadataBuilder().withMetadata(g.metadata)
            // the FIRST widen records the on-file type; widening again
            // (int→bigint after smallint→int) keeps the original anchor
            if (!g.metadata.contains(GraftTable.PhysicalTypeKey))
              md.putString(GraftTable.PhysicalTypeKey, g.dataType.json)
            g.copy(dataType = ut.newDataType, metadata = md.build())
          }
        })
      case un: TableChange.UpdateColumnNullability =>
        require(un.fieldNames.length == 1,
          "ALTER COLUMN SET/DROP NOT NULL supports top-level columns only")
        val name = un.fieldNames.head
        require(schema.fieldNames.contains(name),
          s"column '$name' does not exist in ${ident.name}")
        val liveProps = cur.props ++ props
        if (!un.nullable()) {
          // SET NOT NULL completes the CHECK family: validated like ADD
          // CONSTRAINT (one stop-at-first-NULL scan over existing rows —
          // a committed NOT NULL is a whole-table invariant), enforced
          // write-side through the same per-row guard machinery
          // ([[Constraints.effective]] synthesizes the check from the
          // graft-managed prop, so every ingest face and the
          // concurrent-ADD commit recheck apply unchanged)
          Constraints.validateAdd(spark, p, schema, Constraints.Check(
            Constraints.notNullName(name), s"`$name` IS NOT NULL"))
          val cols = (Constraints.notNullCols(liveProps) :+ name).distinct
          props += Constraints.NotNullProp -> cols.mkString(",")
        } else {
          // DROP NOT NULL lifts the invariant (an empty prop value
          // deletes the key at commit)
          val cols = Constraints.notNullCols(liveProps).filterNot(_ == name)
          props += Constraints.NotNullProp -> cols.mkString(",")
        }
        schema = StructType(schema.fields.map(f =>
          if (f.name == name) f.copy(nullable = un.nullable()) else f))
      case sp: TableChange.SetProperty if sp.property.startsWith(Constraints.Prefix) =>
        // ADD CHECK constraint: the expression must analyze against the
        // declared schema AND hold over every existing row (one
        // stop-at-first-violation scan) — a committed constraint is a
        // whole-table invariant, which is what lets every write path
        // skip re-checking survivors/maintenance rewrites
        Constraints.validateAdd(spark, p, schema,
          Constraints.Check(sp.property.stripPrefix(Constraints.Prefix), sp.value))
        props += sp.property -> sp.value
      case sp: TableChange.SetProperty =>
        require(!sp.property.startsWith("graft."),
          s"property '${sp.property}' is managed by the store")
        props += sp.property -> sp.value
      case rp: TableChange.RemoveProperty =>
        require(!rp.property.startsWith("graft."),
          s"property '${rp.property}' is managed by the store")
        props += rp.property -> "" // empty value deletes at commit
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE change $other is not supported; schema evolution " +
          "beyond ADD/DROP COLUMN flows through writes")
    }
    StoreLog.commit(p, cur.version, Seq.empty, cur.files, parent = Some(cur),
      setProps = props + (GraftTable.SchemaProp -> schema.json))
    tableAt(p, None)
  }

  /** DROP TABLE is deliberately destructive (directory + full
    * time-travel history — the table-format convention), but NEVER out
    * from under a live writer: while any fresh writer lease exists the
    * drop refuses loudly, the same handshake vacuum honors. A crashed
    * writer's stale lease expires by mtime and stops blocking.
    */
  override def dropTable(ident: Identifier): Boolean = {
    val p = pathOf(ident)
    if (!isStore(p)) false
    else if (StoreLog.hasFreshWriterLease(p))
      throw new IllegalStateException(
        s"cannot DROP ${ident.namespace.mkString(".")}.${ident.name}: a " +
          "writer lease is fresh (live commit in flight) — retry after it " +
          s"completes or expires (${StoreLog.WriterLeaseMs / 1000}s)")
    else { io.deleteDir(p); true }
  }

  /** `ALTER TABLE ... RENAME TO`: a directory move — the manifest log,
    * data files, and full time-travel history ride along because every
    * recorded path is store-RELATIVE. Refuses while a fresh writer
    * lease exists (a mid-commit writer would land files in the old
    * path), the same handshake DROP and vacuum honor. In-flight READERS
    * of the old name see their files vanish — the caveat every
    * path-addressed catalog shares; schedule renames like any other
    * maintenance window.
    */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = pathOf(oldIdent)
    val to = pathOf(newIdent)
    if (!isStore(from)) throw new NoSuchTableException(oldIdent)
    if (io.exists(to)) throw new TableAlreadyExistsException(newIdent)
    if (!namespaceExists(newIdent.namespace))
      throw new NoSuchNamespaceException(newIdent.namespace)
    if (StoreLog.hasFreshWriterLease(from))
      throw new IllegalStateException(
        s"cannot RENAME ${oldIdent.namespace.mkString(".")}.${oldIdent.name}: " +
          "a writer lease is fresh (live commit in flight) — retry after it " +
          s"completes or expires (${StoreLog.WriterLeaseMs / 1000}s)")
    io.move(from, to)
  }

  // ------------------------------------------------------- procedures

  /** `CALL <cat>.system.vacuum|compact|zorder(...)` — the maintenance
    * verbs from pure SQL; see [[GraftProcedures]].
    */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace.toSeq == Seq("system"),
      s"graft procedures live under $catName.system, got ${ident.namespace.mkString(".")}")
    GraftProcedures.load(root, ident.name)
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.toSeq == Seq("system"))
      GraftProcedures.Names.map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  // ------------------------------------------------------- namespaces
  override def listNamespaces(): Array[Array[String]] =
    io.list(root).filter(e => e.isDir && !isStore(s"$root/${e.name}"))
      .map(e => Array(e.name)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val p = nsPath(namespace.toSeq)
    if (!io.isDir(p)) throw new NoSuchNamespaceException(namespace)
    io.list(p).filter(e => e.isDir && !isStore(s"$p/${e.name}"))
      .map(e => namespace :+ e.name).toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || io.isDir(nsPath(namespace.toSeq))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    // directories materialize on first table creation; nothing to record
    val marker = s"${nsPath(namespace.toSeq)}/.ns"
    io.replaceAtomic(marker, Array[Byte]('1'))
  }

  override def alterNamespace(namespace: Array[String],
                              changes: org.apache.spark.sql.connector.catalog.NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE is not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val p = nsPath(namespace.toSeq)
    if (!io.isDir(p)) false
    else if (cascade) { io.deleteDir(p); true }
    else if (io.list(p).forall(e => !e.isDir)) { io.deleteDir(p); true }
    else throw new IllegalStateException(s"namespace ${namespace.mkString(".")} is not empty")
  }
}
