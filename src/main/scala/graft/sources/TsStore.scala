package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Spark-native equivalent of the reference's chunked columnar timeseries
  * store (corintick: named series in LZ4-compressed MongoDB documents with
  * a `(uid, start, end)` index — `corintick/corintick.py::Corintick.write`
  * ~L100–160 / `.read` ~L60–100, reconstructed; see SURVEY.md §1).
  *
  * Mapping (SURVEY §1.2):
  *   - named series `uid`        → partition directory (`partitionBy(uid)`)
  *   - chunk `start`/`end` bounds → parquet row-group min/max stats on `ts`
  *     (rows are range-partitioned + sorted on write so row groups carry
  *     tight bounds → data skipping ≙ the Mongo compound index)
  *   - per-column LZ4 blob       → parquet column chunks (zstd)
  *   - metadata key/values       → ordinary columns; filters are predicates
  *
  * At 100 TB: writes shuffle once (`repartitionByRange`) producing
  * time-clustered files per uid; reads are pruned by partition (uid) and
  * row group (ts) before any executor touches data — no driver collect,
  * no full scans for sliced reads.
  */
object TsStore {

  /** What to do when an append's time range overlaps data already stored
    * for the same series — the reference's write-time overlap validation
    * (`Corintick._validate*` ~L80–100 warns on overlapping `(uid, start,
    * end)` extents, because a double-write silently duplicates ticks).
    */
  sealed trait OverlapPolicy
  object OverlapPolicy {
    /** Refuse the write (fail fast — the strict-ingest setting). */
    case object Error extends OverlapPolicy
    /** Log a warning and append anyway (the reference's default). */
    case object Warn extends OverlapPolicy
    /** Skip the overlap check (bulk backfills that manage ranges). */
    case object Allow extends OverlapPolicy
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Balanced OR over disjuncts: a left-nested `reduce(_ || _)` builds a
    * Column tree as DEEP as the key count, and the ColumnNode→Expression
    * conversion recurses it — a 1000-key takedown chunk overflows the
    * stack before the plan even exists. Balancing keeps depth at
    * log2(n), so the chunk caps bound plan WIDTH and nothing bounds
    * depth but the logarithm.
    */
  private def orBalanced(cs: IndexedSeq[Column]): Column =
    if (cs.sizeIs == 1) cs.head
    else {
      val (a, b) = cs.splitAt(cs.size / 2)
      orBalanced(a) || orBalanced(b)
    }

  /** Partition predicate over collected uid values — [[upsertPlan]]'s
    * base prune. A single uid column (the Bundles case) becomes one
    * IN-list predicate: partition-prunable and O(1) plan nodes however
    * many series the batch touches. Composite keys fall back to an OR
    * of conjunctions, fine for the handful of series a normal batch
    * carries. Caller guarantees `rows` non-empty.
    */
  private[graft] def keyPredicate(rows: Seq[org.apache.spark.sql.Row],
                                  keyCols: Seq[String]): Column =
    if (keyCols.sizeIs == 1) col(keyCols.head).isin(rows.map(_.get(0)): _*)
    else orBalanced(rows.toIndexedSeq.map { r =>
      keyCols.zipWithIndex.map { case (c, i) => col(c) === lit(r.get(i)) }.reduce(_ && _)
    })

  /** VERSIONED takedown predicate: each row is (key components…,
    * delete-version), and a stored row matches when its key equals one
    * of them AND its `versionCol` is <= that key's delete version —
    * delete-wins-ties, reinserts-at-higher-versions survive (the CDC
    * in-batch order resolution; see
    * [[graft.streaming.StoreIngest.startCdc]]). Plan size is O(rows):
    * callers chunk large key sets
    * ([[graft.streaming.StoreIngest.MaxKeysPerDeletePass]]).
    */
  private[graft] def versionedKeyPredicate(rows: Seq[org.apache.spark.sql.Row],
                                           keyCols: Seq[String],
                                           versionCol: String): Column =
    orBalanced(rows.toIndexedSeq.map { r =>
      val keyEq = keyCols.zipWithIndex
        .map { case (c, i) => col(c) === lit(r.get(i)) }.reduce(_ && _)
      keyEq && col(versionCol) <= lit(r.get(keyCols.size))
    })

  /** A chunk's ts extent: (stat tag, min, max) in the tag's
    * [[FileStats.ColStat]] domain; tag "" holds values of a type no
    * stat records, compared as they are.
    */
  private type Extent = (String, Any, Any)

  private def cmpExtent(tag: String, a: Any, b: Any): Int =
    if (tag.isEmpty) a.asInstanceOf[Comparable[Any]].compareTo(b)
    else FileStats.cmpDomain(tag, a, b)

  /** Series of a staged append whose [min ts, max ts] extent intersects
    * a stored CHUNK's extent of the same series — per chunk (per file),
    * not the per-series hull, so a backfill into a genuine gap between
    * chunks is NOT flagged (the reference's per-chunk `(uid, start,
    * end)` validation, `Corintick._validate*` ~L80–100; a hull check
    * would refuse every legitimate gap fill). A series is its partition
    * directory, the store's file identity: both sides key by the
    * directory each file sits in (a null uid is the
    * `__HIVE_DEFAULT_PARTITION__` directory). Returns human-readable
    * descriptions, one per overlapping series.
    *
    * A driver-side lookup over stats, the analog of the reference's
    * `(uid, start, end)` index query: the incoming extents come from
    * the ts stats the staged files' write tasks returned, the stored
    * chunks' from the ts stats the MAIN view's manifest records for
    * the files under those directories ([[StoreLog.foldFiles]] by
    * prefix). Files the stats cannot answer are scanned, in one grouped
    * read restricted to exactly those files ([[scanExtents]]): a file
    * with a deletion vector (its footer bounds still cover the deleted
    * rows), a file without a ts stat or with one of another tag
    * (legacy, adopted or INT96 files), and the staged files when one
    * has no ts stat (a ts type no stat records). Otherwise no Spark job
    * runs. The store must have a log ([[write]] adopts a path first).
    */
  private[graft] def overlappingSeries(spark: SparkSession, path: String,
      staged: Staged, tsCol: String): Seq[String] = {
    def dirOf(f: String) = f.substring(0, math.max(f.lastIndexOf('/'), 0))
    def tsStat(st: Option[FileStats.FileStatsMap]) = st.flatMap(_.get(tsCol))
    val w = staged.written
    val statExts = w.files.flatMap(f =>
      tsStat(w.stats.get(f)).map(c => f -> (c.tag, c.min, c.max)))
    // each incoming series' hull, in one domain
    val incoming: Map[String, Extent] =
      (if (statExts.size == w.files.size) statExts
       else scanExtents(spark.read.format("graft").load(staged.staging), w.files, tsCol))
        .groupMapReduce(e => dirOf(e._1))(_._2) { case ((t, lo1, hi1), (_, lo2, hi2)) =>
          (t, if (cmpExtent(t, lo1, lo2) <= 0) lo1 else lo2,
            if (cmpExtent(t, hi1, hi2) >= 0) hi1 else hi2)
        }
    if (incoming.isEmpty) return Seq.empty
    val dirs = incoming.keys.toSeq.sorted
    val v = StoreLog.mainVersionAt(path, StoreLog.latestVersion(path).get)
    val (byStat, toScan) = StoreLog.foldFiles(path, v, prefixes = dirs)(
        (List.empty[(String, Extent)], List.empty[String])) { case (acc @ (st, sc), e) =>
      incoming.get(dirOf(e.path)) match {
        case None => acc // a deeper directory under a prefix
        case Some(in) => tsStat(e.stats) match {
          case Some(c) if e.dv.isEmpty && c.tag == in._1 =>
            ((e.path -> (c.tag, c.min, c.max)) :: st, sc)
          case _ => (st, e.path :: sc)
        }
      }
    }
    val stored = (byStat ++ scanExtents(
        spark.read.format("graft").option("asOf", v).load(path), toScan, tsCol))
      .groupMap(e => dirOf(e._1))(_._2)
    def show(tag: String, v: Any): Any = tag match {
      case "ts" => DateTimeUtils.microsToInstant(v.asInstanceOf[Long])
      case "tn" => DateTimeUtils.microsToLocalDateTime(v.asInstanceOf[Long])
      case "d" => java.time.LocalDate.ofEpochDay(v.asInstanceOf[Long])
      case _ => v
    }
    dirs.flatMap { d =>
      val (t, inMin, inMax) = incoming(d)
      stored.getOrElse(d, Nil).collectFirst {
        case (`t`, stMin, stMax)
            if cmpExtent(t, inMax, stMin) >= 0 && cmpExtent(t, inMin, stMax) <= 0 =>
          s"${d.split('/').map(ExternalCatalogUtils.unescapePathName).mkString(",")} " +
            s"incoming=[${show(t, inMin)}, ${show(t, inMax)}] " +
            s"stored-chunk=[${show(t, stMin)}, ${show(t, stMax)}]"
      }
    }
  }

  /** Per-file ts extents of the `files` of `store` (a `format("graft")`
    * read, built only when there are files to read) by one read of
    * exactly those files through the store's scan, which subtracts
    * deletion vectors, grouped by `_file`. A file whose rows are all
    * deleted has no extent.
    */
  private def scanExtents(store: => DataFrame, files: Seq[String],
                          tsCol: String): Seq[(String, Extent)] =
    if (files.isEmpty) Nil
    else {
      store.filter(col(GraftTable.FileColName).isin(files: _*))
        .groupBy(col(GraftTable.FileColName))
        .agg(min(col(tsCol)), max(col(tsCol)))
        .collect().toSeq.collect { case r if !r.isNullAt(1) =>
          val (tag, lo) = FileStats.domainOf(r.get(1))
          r.getString(0) -> (tag, lo, FileStats.domainOf(r.get(2))._2)
        }
    }

  /** Monotonicity / sanity validation analogous to the reference's
    * write-time checks (`Corintick._validate*` ~L80–100): the time column
    * must be non-null; if `strictlyIncreasing`, no duplicate timestamps
    * per uid. Returns the number of violations found (0 == valid).
    */
  def validate(df: DataFrame, tsCol: String, uidCols: Seq[String],
               strictlyIncreasing: Boolean = false): Long = {
    val nulls = df.filter(col(tsCol).isNull).count()
    if (nulls > 0) return nulls
    if (!strictlyIncreasing) 0L
    else {
      val w = if (uidCols.isEmpty) Window.orderBy(col(tsCol))
              else Window.partitionBy(uidCols.map(col): _*).orderBy(col(tsCol))
      df.select((col(tsCol) <= lag(col(tsCol), 1).over(w)).as("bad"))
        .filter(col("bad")).count()
    }
  }

  /** Chunked columnar write. Range-partition by (uid, ts) so each output
    * file covers a contiguous time slice of few uids (tight row-group
    * stats), sort within partitions by ts (monotonic chunks, as the
    * reference requires of its input), then write partitioned parquet
    * through the store's task writer ([[GraftBatchWrite.stage]]), whose
    * tasks also refuse a null ts.
    *
    * Chunk geometry is PINNED, not left to cluster defaults — the
    * reference splits chunks under the 16 MB BSON document cap
    * (`serialization.py` ~L90–110) because chunk size is what makes a
    * sliced read touch little data. Here the same role is played by the
    * parquet row group: `rowGroupBytes` (default
    * [[GraftBatchWrite.RowGroupBytes]]) bounds the unit of ts-slice
    * skipping, and `maxRecordsPerFile` bounds single-file blowup. Both
    * are per-write options set on the write's own Hadoop conf, like its
    * INT64-micros timestamps; the session conf is never touched.
    *
    * Every write commits to the path's manifest log; a scheme without
    * a commit backend is refused ([[CommitIo.forPath]]). Overwrite
    * creates a new store; Append commits to the existing one, adopting
    * a path without a log first ([[StoreLog.ensure]]: v1 names the
    * files already there). An Append with uid columns is checked
    * against the stored chunks between its stage and its commit
    * ([[overlappingSeries]], under `overlapPolicy`).
    */
  def write(df: DataFrame, path: String, tsCol: String = "ts",
            uidCols: Seq[String] = Seq.empty,
            mode: SaveMode = SaveMode.Overwrite,
            overlapPolicy: OverlapPolicy = OverlapPolicy.Warn,
            rowGroupBytes: Long = GraftBatchWrite.RowGroupBytes,
            maxRecordsPerFile: Long = GraftBatchWrite.MaxRecordsPerFile,
            commitTag: Option[String] = None,
            bloomKeys: Seq[String] = Nil,
            checkpointInterval: Int = StoreLog.CheckpointInterval,
            branch: Option[String] = None): Unit = {
    // fails here, with the log's own message, on a scheme that has no
    // atomic publish primitive (CommitIo.forPath)
    val logged = StoreLog.exists(path)
    // branch target: append-only onto a logged store's named branch
    // ([[TsStore.branch]]) — the write-audit-publish ingest shape. The
    // overlap guard (below) reads the MAIN view; branch-vs-branch
    // overlap is audited at publish, not per append.
    branch.foreach { b =>
      require(mode == SaveMode.Append,
        s"branch '$b' writes are append-only (Overwrite replaces the store)")
      require(logged, s"branch '$b' needs a logged store at $path")
    }
    if (mode == SaveMode.Overwrite && logged)
      require(StoreLog.branches(path).isEmpty,
        s"store at $path has open branch(es) " +
          s"${StoreLog.branches(path).keys.mkString(", ")} — an Overwrite " +
          "destroys the whole log; publish or drop them first")
    // a renamed store's files carry PHYSICAL names — translate an
    // appended frame's declared names before anything touches it
    // (an Overwrite REPLACES the store, declaration included, so the
    // incoming names ARE the new physical schema: no translation).
    // CHECK constraints gate the append FIRST, on the user's declared
    // names (the guard is a codegen'd filter inside the write lineage)
    val appendChecks =
      if (mode == SaveMode.Append) Constraints.forStore(path) else Nil
    val dfC = if (mode == SaveMode.Append) Constraints.guard(df, appendChecks)
              else df
    val dfW = if (mode == SaveMode.Append) physicalFrame(dfC, physRenames(path))
              else dfC
    // an Append inherits the store's bloom columns unless it names its
    // own; a path without a log has none yet (its adoption declares
    // `bloomKeys`)
    val blooms =
      if (bloomKeys.nonEmpty || mode == SaveMode.Overwrite || !logged) bloomKeys
      else StoreLog.bloomColsAt(path, StoreLog.latestVersion(path).get)
    // the incoming frame runs once, through the stage's jobs; every
    // check after it reads the staged files' task stats
    val staged = GraftBatchWrite.stage(canonical(dfW, uidCols, tsCol), path,
      uidCols, tsCol, blooms, maxRecordsPerFile, rowGroupBytes)
    // an Append to a path without a log adopts it first: v1 names the
    // files already there (none on a fresh path), so the guard reads
    // manifest stats and the append commits on top. Only after the
    // stage: a write whose tasks fail leaves the path untouched.
    // Then the write-time overlap guard (reference behavior): appending
    // a chunk whose time range intersects what's stored for the same
    // series is almost always a double-write that silently duplicates
    // rows. It checks the staged files before anything commits. A
    // failure or a refusal drops the staging dir
    val bad =
      try {
        if (mode == SaveMode.Append && !logged)
          StoreLog.ensure(path, checkpointInterval, blooms)
        if (mode == SaveMode.Append && uidCols.nonEmpty &&
            overlapPolicy != OverlapPolicy.Allow)
          overlappingSeries(dfW.sparkSession, path, staged, tsCol)
        else Nil
      } catch { case t: Throwable => StoreLog.deleteStaging(staged.staging); throw t }
    if (bad.nonEmpty) {
      val msg = s"append overlaps stored time ranges for ${bad.size} series " +
        s"(double-write?): ${bad.take(5).mkString("; ")}" +
        (if (bad.size > 5) " …" else "")
      if (overlapPolicy == OverlapPolicy.Error) {
        StoreLog.deleteStaging(staged.staging)
        throw new IllegalArgumentException(
          s"$msg — pass overlapPolicy=Warn/Allow to append anyway")
      } else log.warn(msg)
    }
    if (mode == SaveMode.Overwrite) {
      // an overwrite is a NEW store: it declares the frame it wrote,
      // partition columns last, typed by the staged directory names
      val schema = GraftTable.declare(org.apache.spark.sql.types.StructType(
        dfW.schema.filterNot(f => uidCols.contains(f.name)) ++ uidCols.map(dfW.schema(_))),
        staged.written.files)
      // The old log and data go only now, with the new files staged: a
      // refused write (a null ts fails its task) leaves the old store
      // intact
      StoreLog.clearExcept(path, staged.staging)
      val moved = staged.adopt()
      // the creating commit, while provenance is known: every file just
      // written is (uid..., ts)-sorted, so the manifest records the
      // layout-order contract (the scan's sort-elision license) plus
      // the ts column and any bloom columns — properties later rewrites
      // inherit or deliberately clear
      StoreLog.commit(path, 0L, Seq.empty, moved.files,
        interval = Some(checkpointInterval),
        addStats = moved.stats, addSizes = moved.sizes,
        bloomCols = if (bloomKeys.nonEmpty) Some(bloomKeys) else None,
        setProps = Map(GraftTable.LayoutSortedProp -> "true",
          GraftTable.TsColProp -> tsCol, GraftTable.SchemaProp -> schema.json))
    } else {
      // appended files must be NAMED by a manifest commit or manifest
      // readers never see them. Staged to a txn-private dir,
      // moved into place (invisible until committed), published. A pure
      // file ADDITION serializes after any concurrent commit, so a CAS
      // loss always rebases onto the winner's file list.
      StoreLog.withWriterLease(path) { lease =>
        val moved = staged.adopt()
        var committed = false
        var attempts = 0
        while (!committed) {
          lease.renew()
          val curV = StoreLog.latestVersion(path).get // held or adopted above
          val curProps = StoreLog.propsAt(path, curV)
          // a CHECK constraint added since this append bound its guard
          // set means the staged rows were never validated against it —
          // abort rather than commit unchecked rows AFTER the
          // constraint's whole-table certification (see
          // [[Constraints.addedSince]]; the CAS totally orders us)
          val added = Constraints.addedSince(appendChecks, curProps)
          if (added.nonEmpty) {
            StoreLog.deleteDataFiles(path, moved.files)
            throw new StoreLog.CommitConflict(
              s"CHECK constraint(s) ${added.map(_.name).mkString(", ")} added " +
                s"concurrently at $path — re-run the append")
          }
          try {
            if (branch.isEmpty && !curProps.contains(StoreLog.MainRefProp))
              // branchless HOT PATH: a pure addition commits O(its own
              // footprint) — no parent snapshot ever materializes
              // ([[StoreLog.commitTransform]]; the writer-side twin of
              // the stripe-lazy read on million-file stores)
              StoreLog.commitTransform(path, curV, Seq.empty,
                removeFiles = Nil, addFiles = moved.files,
                addStats = moved.stats, addSizes = moved.sizes,
                tag = commitTag,
                setProps = GraftTable.widenedSchemaProp(path, curV, curProps, dfW.schema,
                  moved.files))
            else {
              // REF-AWARE base: under an active branch the tip's file
              // list may be the OTHER ref's view — resolve the target
              // ref's files and advance its pointer in the same commit
              val cur = StoreLog.read(path, curV)
              val (baseFiles, refProps, carryStats, carrySizes, dvReset) =
                TsStore.refAppendBase(path, cur, branch)
              StoreLog.commit(path, cur.version, Seq.empty, baseFiles ++ moved.files,
                parent = Some(cur), addStats = carryStats ++ moved.stats,
                addSizes = carrySizes ++ moved.sizes,
                tag = commitTag,
                resetDvs = dvReset,
                setProps = GraftTable.widenedSchemaProp(path, cur.version, cur.props,
                  dfW.schema, moved.files) ++ refProps)
            }
            committed = true
          } catch {
            case c: StoreLog.CommitConflict =>
              attempts += 1; if (attempts > 50) throw c
          }
        }
      }
    }
  }

  /** `df` range-partitioned and sorted by (uidCols..., tsCol) — the
    * store's canonical layout, which every rewrite stages.
    */
  private[graft] def canonical(df: DataFrame, uidCols: Seq[String],
                               tsCol: String): DataFrame = {
    val rangeCols: Seq[Column] = uidCols.map(col) :+ col(tsCol)
    df.repartitionByRange(rangeCols: _*).sortWithinPartitions(rangeCols: _*)
  }

  private[graft] def txnDir(path: String): String =
    s"$path/_graft_txn_${java.util.UUID.randomUUID().toString.replace("-", "")}"

  /** logical→physical name map for the store's RENAMED columns only
    * (empty on never-renamed stores — the overwhelmingly common case).
    * See [[GraftTable.PhysicalKey]]: after ALTER TABLE RENAME COLUMN,
    * the data keeps living under the original parquet name; every
    * write path must land files carrying that one stable physical
    * schema, or reads (which request physical names) would null out
    * the new files' values.
    */
  private def physRenames(path: String): Map[String, String] =
    GraftTable.latestDeclared(path).filter(GraftTable.hasRenames)
      .map(d => GraftTable.physMap(d).filter { case (l, p) => l != p })
      .getOrElse(Map.empty)

  /** `df` with renamed columns translated to their PHYSICAL parquet
    * names — the Scala-path twin of the DSv2 writer's COLUMN MAPPING
    * ([[GraftBatchWrite]]). Identity when `renames` is empty. The
    * mapping is applied SIMULTANEOUSLY (one select, like the writer's
    * map-based [[GraftTable.toPhysical]]): a sequential
    * withColumnRenamed fold would collide on swap-shaped rename sets
    * ({amount→value, value→score} renames `amount` onto a still-live
    * `value`, and the second step then renames BOTH).
    */
  private def physicalFrame(df: DataFrame,
                            renames: Map[String, String]): DataFrame =
    if (renames.isEmpty) df
    else df.select(df.columns.map(c => col(c).as(renames.getOrElse(c, c))): _*)

  /** The MERGE read plan behind [[upsert]]: prune the stored base to the
    * partitions the delta touches, union, and keep the winning row per
    * key. Exposed separately so tests can pin the scan metadata (the
    * prune must be PLAN-TIME partition pruning, not a post-scan filter).
    *
    * Latest-wins semantics: highest `versionCol` wins; on a version tie
    * the delta row wins (MERGE's WHEN MATCHED THEN UPDATE).
    *
    * Scale shape: the collect is the delta's DISTINCT partition values —
    * driver-side metadata bounded by touched-series count. The base
    * scan then carries an
    * `uid IN (...)` predicate on partition columns only, so Catalyst
    * prunes untouched partitions before any executor reads a byte: a
    * 100-series delta against a 1M-series store scans 100 series, not
    * the store. Requires a key's partition values to be immutable (a
    * delta may not move a key across partitions) — the same contract
    * table formats impose on partition-pruned MERGE.
    */
  def upsertPlan(spark: SparkSession, path: String, delta: DataFrame,
                 keyCols: Seq[String], versionCol: String,
                 uidCols: Seq[String], asOf: Option[Long] = None,
                 touchedOpt: Option[Seq[org.apache.spark.sql.Row]] = None)
      : DataFrame = {
    require(keyCols.nonEmpty, "upsert needs at least one merge-key column")
    require(uidCols.nonEmpty, "upsert needs the store's partition columns")
    // `touchedOpt` lets [[upsert]] hand over the partition values it
    // already collected in its single probe job (emptiness + null-ts +
    // touched partitions in ONE pass over the pinned delta) — the
    // standalone path keeps the distinct-collect.
    val touched: Seq[org.apache.spark.sql.Row] = touchedOpt.getOrElse(
      delta.select(uidCols.map(col): _*).distinct().collect().toSeq)
    // empty delta → empty touched set → nothing to merge (also keeps the
    // composite-key predicate's reduce from seeing an empty collection)
    if (touched.isEmpty)
      return delta.withColumn("__src", lit(1)).transform(dedupLatest(keyCols, versionCol))
    // the base reads under the declared schema — the union of every
    // era's columns, so a column only some partitions carry survives the
    // rewrite of the touched ones — and the partition predicate pushes
    // into the scan: untouched partitions are pruned at plan time (a
    // million-file store resolves only the may-match files)
    val basePred = keyPredicate(touched.toSeq, uidCols)
    val base =
      try load(spark, path, asOf = asOf)
      catch { case _: org.apache.spark.sql.AnalysisException =>
        return delta.withColumn("__src", lit(1)).transform(dedupLatest(keyCols, versionCol)) }
    // UNION of the two schemas, not the delta's projection: a delta
    // narrower than the store must not silently DROP base-only columns
    // from the rewritten partitions (carried-over base rows keep their
    // values; delta rows get null for columns they didn't supply — the
    // whole-row MERGE UPDATE semantics). A wider delta adds its new
    // columns the same way (schema evolution; the commit widens the
    // declaration, so older partitions read them as null). Same-name
    // type conflicts still fail loudly in unionByName.
    base.filter(basePred)
      .withColumn("__src", lit(0))
      .unionByName(delta.withColumn("__src", lit(1)), allowMissingColumns = true)
      .transform(dedupLatest(keyCols, versionCol))
  }

  /** Latest-wins per key: highest version, delta over base on a version
    * tie. The trailing hash tie-break makes the winner DETERMINISTIC
    * even when the delta itself carries duplicate (key, version) rows
    * with different payloads — without it, row_number() would keep
    * whichever copy the shuffle delivered first, and re-running the
    * same upsert could persist different values (breaking the engine's
    * determinism contract). Identical duplicate rows hash equal, so the
    * tie-break is only ever visible where the outcome was ambiguous.
    */
  private def dedupLatest(keyCols: Seq[String], versionCol: String)(
      u: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    // xxhash64 rejects MapType at analysis time — serialize any column
    // whose type contains a map to its canonical JSON for the tie-break
    // (the events table's `props` map is a store-supported column; the
    // hash only breaks (key, version) ties, so a stable serialization is
    // all it needs to be)
    def unhashable(dt: DataType): Boolean = dt match {
      case _: MapType     => true
      case s: StructType  => s.fields.exists(f => unhashable(f.dataType))
      case a: ArrayType   => unhashable(a.elementType)
      case _              => false
    }
    val tieCols: Seq[Column] = u.schema.fields.toSeq.map { f =>
      if (unhashable(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(desc(versionCol), desc("__src"), xxhash64(tieCols: _*).desc)
    u.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "__src")
  }

  /** The leased commit loop of the REPLACING verbs (upsert, the
    * copy-on-write deletes, dv DML, branchless maintenance), in
    * O(COMMIT-FOOTPRINT): the commit is expressed as a TRANSFORM —
    * remove everything under the touched `prefixes`, add `moved` (the
    * staged files with their task-read stats) — so neither the base snapshot nor any rebased parent ever
    * materializes (the remove set streams per attempt through
    * [[StoreLog.foldFiles]] with row-group-skipped prefixes, and the
    * conflict walk reads intervening RAW manifests: `replaced` overlap
    * or delta adds under our prefixes abort exactly like the
    * materializing scaffold; a checkpoint-cadence intervening version —
    * whose raw manifest carries no diff — falls back to one full
    * set-diff for that version only). The writer-side fix for the
    * million-file store's per-upsert driver cost.
    */
  private[sources] def commitTransformWithRebase(path: String,
      lease: StoreLog.WriterLease, baseVersion: Long,
      moved: GraftWriteTaskResult, replaced: Seq[String],
      removeFilesOf: Long => Seq[String],
      abortOnAppendsUnder: Boolean,
      schemaForWiden: Option[org.apache.spark.sql.types.StructType] = None,
      extraProps: Map[String, String] = Map.empty,
      boundChecks: Option[Seq[Constraints.Check]] = None,
      addDvs: Map[String, Dv.Entry] = Map.empty,
      // verbs whose remove set is recomputed WHOLE from the rebased
      // parent (dropSeries: "whatever lives under the prefix now")
      // serialize soundly after ANY intervening commit — they opt out
      // of the replaced-overlap abort
      abortOnReplaced: Boolean = true,
      tag: Option[String] = None): Long = {
    def abort(why: String): Nothing = {
      StoreLog.deleteDataFiles(path, moved.files)
      throw new StoreLog.CommitConflict(why)
    }
    def under(f: String): Boolean = replaced.exists(p => f.startsWith(p + "/"))
    var expectedV = baseVersion
    var attempts = 0
    while (true) {
      lease.renew()
      val props = StoreLog.propsAt(path, expectedV)
      if (props.contains(StoreLog.MainRefProp))
        abort(s"store at $path has an active branch " +
          s"(${StoreLog.branches(path).keys.mkString(", ")}) — " +
          "replacing operations refuse while a branch is open; publish " +
          "or drop it first (appends — and branch-targeted upsert / " +
          "deleteVectors — may still run)")
      boundChecks.foreach { bc =>
        val added = Constraints.addedSince(bc, props)
        if (added.nonEmpty)
          abort(s"CHECK constraint(s) ${added.map(_.name).mkString(", ")} " +
            s"added concurrently at $path — the staged rows were never " +
            "validated against them; re-run the write")
      }
      try {
        val removed = removeFilesOf(expectedV)
        return StoreLog.commitTransform(path, expectedV, replaced,
          removed, moved.files,
          addStats = moved.stats, addSizes = moved.sizes, addDvs = addDvs,
          tag = tag,
          setProps = schemaForWiden.fold(Map.empty[String, String])(sc =>
            GraftTable.widenedSchemaProp(path, expectedV, props, sc, moved.files)) ++
            extraProps)
      } catch {
        case c: StoreLog.CommitConflict =>
          attempts += 1
          if (attempts > 20)
            abort(s"gave up after $attempts commit attempts at $path: ${c.getMessage}")
          val curV = StoreLog.latestVersion(path).getOrElse(throw c)
          ((expectedV + 1) to curV).foreach { v =>
            val conflict =
              try {
                if (abortOnReplaced &&
                    StoreLog.replacedAt(path, v).exists(replaced.contains))
                  Some("replaced")
                else if (!abortOnAppendsUnder) None
                else StoreLog.rawDelta(path, v) match {
                  case Some((add, _, _)) =>
                    if (add.exists(under)) Some("appended into") else None
                  case None =>
                    // checkpoint-cadence version: no raw diff — one full
                    // set comparison for this version only
                    val cur = StoreLog.read(path, v).files.toSet
                    val prev = StoreLog.read(path, v - 1).files.toSet
                    if ((cur -- prev).exists(under)) Some("appended into")
                    else None
                }
              } catch {
                case _: IllegalArgumentException =>
                  abort(s"manifest v$v pruned by a concurrent vacuum at " +
                    s"$path — re-run against the new base")
              }
            conflict.foreach(kind =>
              abort(s"concurrent writer $kind ${replaced.mkString(",")} at " +
                s"$path — re-run the operation against the new base"))
          }
          expectedV = curV
      }
    }
    sys.error("unreachable")
  }

  /** The MAINTENANCE-rewrite commit ([[compactPartitions]] / [[zorder]]):
    * swap `targets` (live files of the MAIN view) for `moved`. With no
    * branch open this is the streamed transform scaffold
    * ([[commitTransformWithRebase]], O(commit footprint)). Under open
    * branches the rewrite may still proceed — nightly compaction must
    * not stall for a day-scale WAP branch — when it is PROVABLY
    * semantics-preserving for every ref:
    *
    *  - a branch holding ALL targets (the common case: branches start
    *    as main's view and touch other partitions) gets its pin REBASED
    *    through the same file mapping in a follow-up commit, provided
    *    the targets' deletion-vector state matches main's (the rewrite
    *    materialized MAIN's vectors — substituting under diverging
    *    branch vectors would silently drop the branch's takedown);
    *  - a branch holding NONE of them (it replaced those partitions
    *    itself) is untouched — its own files supersede the rewrite at
    *    publish, which is exactly the branch's declared intent;
    *  - PARTIAL overlap, or diverging vectors on a shared target,
    *    refuses like the old blanket guard (genuine divergence).
    *
    * The MAIN commit advances `graft.ref.main` AND every branch's BASE
    * to itself — the rewrite is invisible to each ref's rows, so
    * publish's moved-since-creation divergence check must keep passing.
    * Branch-pin rebases are BEST-EFFORT layout propagation committed
    * after main: a crash or CAS storm between leaves the branch on its
    * pre-rewrite view — still correct (its pinned version retains its
    * files against vacuum) and still publishable (base already
    * advanced; the fast-forward simply carries the older layout).
    * Under branches the commit pays O(view) driver lists like every
    * other branch verb; branchless stores keep the streamed path.
    */
  private[sources] def commitMaintenanceRewrite(path: String,
      lease: StoreLog.WriterLease, baseViewV: Long, moved: GraftWriteTaskResult,
      replaced: Seq[String], targets: Seq[String],
      extraProps: Map[String, String] = Map.empty,
      tag: Option[String] = None): Long = {
    def abort(why: String): Nothing = {
      StoreLog.deleteDataFiles(path, moved.files)
      throw new StoreLog.CommitConflict(why)
    }
    val tipV0 = StoreLog.latestVersion(path)
      .getOrElse(abort(s"no manifest at $path"))
    if (!StoreLog.propsAt(path, tipV0).contains(StoreLog.MainRefProp))
      return commitTransformWithRebase(path, lease, baseViewV, moved,
        replaced, removeFilesOf = _ => targets,
        abortOnAppendsUnder = false, extraProps = extraProps, tag = tag)
    val targetSet = targets.toSet
    // the deletion-vector state the rewrite MATERIALIZED (it read live
    // rows as of baseViewV) — resolved once, only if the branch path
    // engages; the branchless path's conflict walk covers this itself
    lazy val baseDvs = StoreLog.read(path, baseViewV).dvs
    var attempts = 0
    while (true) {
      lease.renew()
      val cur = StoreLog.latest(path).getOrElse(abort(s"no manifest at $path"))
      if (!cur.props.contains(StoreLog.MainRefProp))
        // every branch closed mid-verb: the rewrite was computed under
        // assumptions a publish/drop may have invalidated — re-run
        abort(s"branches at $path closed mid-rewrite — re-run the " +
          "maintenance pass against the new state")
      val mv = cur.props(StoreLog.MainRefProp).toLong
      val mSnap = if (mv == cur.version) cur else StoreLog.read(path, mv)
      val mLive = mSnap.files.toSet
      // every target must still be live on MAIN: an intervening rewrite
      // or delete means ours was computed from superseded files (pure
      // appends simply join the view and survive untouched)
      if (!targets.forall(mLive))
        abort(s"concurrent writer replaced rewrite targets at $path — " +
          "re-run the maintenance pass against the new base")
      // …and must carry the SAME deletion vectors it had when the pass
      // read its rows: a takedown landing on a target after baseViewV
      // (but before this commit) would be silently resurrected — the
      // staged rewrite still contains the newly-deleted rows, and the
      // replaced file's vector dies with it. Parquet files never mutate,
      // so dv state is the only way a live target's content can drift.
      if (!targets.forall(f => mSnap.dvs.get(f) == baseDvs.get(f)))
        abort(s"deletion vectors changed on rewrite targets at $path " +
          "since the pass read them — re-run the maintenance pass " +
          "against the new base")
      // per-branch disjointness proofs against the CURRENT pins
      val pins: Seq[(String, Long)] = cur.props.toSeq.collect {
        case (k, s) if k.startsWith(StoreLog.BranchPropPrefix) &&
            s.toLongOption.isDefined =>
          k.stripPrefix(StoreLog.BranchPropPrefix) -> s.toLong
      }
      val plans: Seq[(String, Long, Boolean)] = pins.map { case (b, bv) =>
        val bSnap = if (bv == cur.version) cur else StoreLog.read(path, bv)
        val bLive = bSnap.files.toSet
        val overlap = targets.count(bLive)
        if (overlap == 0) (b, bv, false)
        else if (overlap == targets.size) {
          val dvEq = targets.forall(f => mSnap.dvs.get(f) == bSnap.dvs.get(f))
          if (!dvEq)
            abort(s"branch '$b' at $path holds diverging deletion " +
              "vectors on the rewrite's files — publish or drop it first")
          (b, bv, true)
        } else
          abort(s"branch '$b' at $path genuinely overlaps the rewrite " +
            s"($overlap of ${targets.size} files shared) — publish or " +
            "drop it first")
      }
      val newMain = mSnap.files.filterNot(targetSet) ++ moved.files
      val live = newMain.toSet
      val desired = mSnap.dvs.filter { case (f, _) => live(f) }
      val inherited = cur.dvs.filter { case (f, _) => live(f) }
      val dvReset = if (inherited == desired) None else Some(desired)
      val v = cur.version + 1
      // Advance ONLY a non-diverged base (base == mv): publish would
      // pass today and must keep passing across a semantics-preserving
      // rewrite. A DIVERGED base — main moved since the branch was
      // created — keeps its refusal: blindly advancing it would launder
      // the divergence and let a later publish fast-forward a branch
      // view that never saw main's post-branch appends, silently
      // dropping those rows from main.
      val baseAdv = plans.flatMap { case (b, _, _) =>
        val base = cur.props.get(StoreLog.BranchBasePrefix + b)
          .flatMap(_.toLongOption)
        if (base.contains(mv))
          Some((StoreLog.BranchBasePrefix + b) -> v.toString)
        else None
      }.toMap
      // the zig-zag delta vs a branch-view tip re-adds main-exclusive
      // files — their planner index must ride (refAppendBase's rule)
      val (carryStats, carrySizes) =
        if (mv == cur.version)
          (Map.empty[String, FileStats.FileStatsMap], Map.empty[String, Long])
        else (mSnap.stats, mSnap.sizes)
      val committed =
        try StoreLog.commit(path, cur.version, replaced, newMain,
          parent = Some(cur), addStats = carryStats ++ moved.stats,
          addSizes = carrySizes ++ moved.sizes, tag = tag,
          resetDvs = dvReset,
          setProps = extraProps ++ baseAdv +
            (StoreLog.MainRefProp -> v.toString))
        catch {
          case c: StoreLog.CommitConflict =>
            attempts += 1
            if (attempts > 20)
              abort(s"gave up after $attempts commit attempts at $path: " +
                c.getMessage)
            -1L
        }
      if (committed >= 0) {
        plans.foreach { case (b, bv, rebase) =>
          if (rebase) rebaseBranchPin(path, lease, b, bv, targetSet, moved)
        }
        return committed
      }
    }
    sys.error("unreachable")
  }

  /** Rebase branch `b`'s pin through a maintenance rewrite's file
    * mapping (targets → moved) — the follow-up commit after
    * [[commitMaintenanceRewrite]]'s main commit. BEST-EFFORT: a pin
    * that moved or vanished since the proof was taken is left alone
    * (the concurrent branch writer's view still references the old
    * targets, which stay vacuum-live through its pin), and a CAS storm
    * gives up quietly — correctness never depends on this commit.
    */
  private def rebaseBranchPin(path: String, lease: StoreLog.WriterLease,
      b: String, bv0: Long, targetSet: Set[String],
      moved: GraftWriteTaskResult): Unit = {
    var tries = 0
    while (tries <= 20) {
      lease.renew()
      val cur = StoreLog.latest(path).getOrElse(return)
      val bvNow = cur.props.get(StoreLog.BranchPropPrefix + b)
        .flatMap(_.toLongOption).getOrElse(return)
      if (bvNow != bv0) return
      val bSnap = if (bvNow == cur.version) cur else StoreLog.read(path, bvNow)
      val newB = bSnap.files.filterNot(targetSet) ++ moved.files
      val liveB = newB.toSet
      val desiredB = bSnap.dvs.filter { case (f, _) => liveB(f) }
      val inheritedB = cur.dvs.filter { case (f, _) => liveB(f) }
      val dvResetB = if (inheritedB == desiredB) None else Some(desiredB)
      try {
        StoreLog.commit(path, cur.version, Seq.empty, newB,
          parent = Some(cur),
          addStats = bSnap.stats ++ moved.stats,
          addSizes = bSnap.sizes ++ moved.sizes,
          resetDvs = dvResetB,
          setProps = Map(
            StoreLog.BranchPropPrefix + b -> (cur.version + 1).toString))
        return
      } catch {
        case _: StoreLog.CommitConflict => tries += 1
      }
    }
  }

  /** Partition-pruned MERGE (latest-wins upsert) into a TsStore layout —
    * the incremental-maintenance write path, CRASH-ATOMIC and
    * cross-process safe via the [[StoreLog]] manifest. The naive MERGE
    * re-windows base ∪ delta over the FULL key space (a 100 TB shuffle
    * for a 1 GB delta); this one touches only the partitions the delta
    * names:
    *
    *   1. ensure a manifest exists (v1 = the store's current files),
    *   2. read the base pruned to the delta's partition values
    *      ([[upsertPlan]] — plan-time pruning, pinned in TsStoreSpec),
    *   3. merge (one keyed window over touched-partitions ∪ delta),
    *   4. stage the merged rows to a txn-private dir INSIDE the store
    *      (underscore-hidden), then move the files into their partition
    *      dirs — present on disk but invisible to manifest readers,
    *   5. publish ONE manifest version that atomically swaps the touched
    *      partitions' old files for the new ones. Untouched partitions'
    *      files are never read OR rewritten; replaced files stay on disk
    *      for time travel ([[read]] `asOf`) until [[vacuum]].
    *
    * A crash at ANY step leaves the previous manifest live — readers see
    * fully-old or fully-new, never a mix. A concurrent writer is
    * detected by the commit CAS: commits over DISJOINT partition sets
    * serialize automatically (rebase + retry); overlapping ones abort
    * with [[StoreLog.CommitConflict]] and leave the store on the
    * winner's version (the staged files are removed). Returns the
    * committed manifest version.
    *
    * Cost: one pruned scan + one write of the touched partitions + one
    * manifest file. At 100 TB both sides scale with the DELTA's
    * footprint, not the store's.
    */
  def upsert(spark: SparkSession, path: String, delta: DataFrame,
             keyCols: Seq[String], versionCol: String,
             tsCol: String, uidCols: Seq[String],
             maxRecordsPerFile: Long = GraftBatchWrite.MaxRecordsPerFile,
             setProps: Map[String, String] = Map.empty,
             branch: Option[String] = None): Long = {
    // a renamed store's files (and upsertPlan's base read-back) carry
    // PHYSICAL names — translate the user delta and its named columns
    // (uid/ts columns refuse renames, so only keys/version can move).
    // CHECK constraints gate the DELTA (the new rows) on the declared
    // names; base survivors satisfied them at their own write
    val renames = physRenames(path)
    val boundChecks = Constraints.forStore(path)
    val deltaW = physicalFrame(Constraints.guard(delta, boundChecks), renames)
    val keyColsW = keyCols.map(c => renames.getOrElse(c, c))
    val versionColW = renames.getOrElse(versionCol, versionCol)
    // Pin the delta ONCE. The merge evaluates it twice (the combined
    // probe below, staging write); a nondeterministic
    // delta lineage (limit/sample/shuffled upstream) could otherwise
    // name partition set {A} during the prune but produce rows in
    // {A, B} at write time — the B partition, never merged with its
    // base rows, would then be swapped to delta rows only, silently
    // deleting base data. localCheckpoint is delta-sized. LAZY: the
    // probe below is a global aggregate — its job computes (and caches)
    // every partition of the delta, so an eager materialization pass
    // would scan the lineage a second time for nothing. That job is the
    // pin's only consumer until it ends and cuts the lineage, so no task
    // over the old lineage outlives it (unlike [[changes]]' pins, which
    // AQE consumes from concurrent stages).
    val pinned = deltaW.localCheckpoint(false)
    // light base handle: version + raw props/blooms — a million-file
    // store's upsert must not materialize its snapshot just to commit
    // (ensure() runs only for the first-ever write's adoption commit)
    val baseV: Long = StoreLog.latestVersion(path)
      .getOrElse(StoreLog.ensure(path).version)
    // BRANCH-TARGETED upsert (the WAP CDC-apply shape): merge against
    // the BRANCH view and commit through [[branchDmlCommit]] — main
    // readers never see the half-applied feed; publish fast-forwards it
    val branchPin: Option[Long] = branch.map { b =>
      StoreLog.propsAt(path, baseV).get(StoreLog.BranchPropPrefix + b)
        .flatMap(_.toLongOption).getOrElse(throw new IllegalArgumentException(
          s"no branch '$b' at $path (TsStore.branch / CALL system.branch " +
            "creates one)"))
    }
    // ONE probe job over the pinned delta answers every pre-write
    // question — emptiness, null-ts validation, and the touched
    // partition values — that previously each paid their own action
    // (isEmpty + validate + upsertPlan's distinct-collect = three scans
    // of the checkpoint, three scheduled jobs). The null-ts check runs
    // on the PINNED DELTA, not the merge lineage: the base was validated
    // at its own write, so the merge can only carry a null ts the delta
    // brought in. The collected set is the delta's DISTINCT partition
    // values — the same driver budget as upsertPlan's own collect.
    val probe = pinned.agg(
      count(lit(1)).as("__n"),
      count(when(col(tsCol).isNull, lit(1))).as("__nulls"),
      collect_set(struct(uidCols.map(col): _*)).as("__parts")).head()
    if (probe.getLong(0) == 0L) return branchPin.getOrElse(baseV)
    require(probe.getLong(1) == 0L,
      s"null $tsCol values in upsert delta — refusing write")
    val merged = upsertPlan(spark, path, pinned, keyColsW, versionColW,
      uidCols, asOf = branchPin,
      touchedOpt = Some(probe.getSeq[org.apache.spark.sql.Row](2)))
    // (A localCheckpoint of `merged` before the range write was tried
    // and measured SLOWER: repartitionByRange's bounds-sampling job and
    // the write job share the merge's shuffle map stages, so the
    // apparent double compute is mostly skipped stages — the extra
    // materialization pass costs more than it saves.)
    val staged = GraftBatchWrite.stage(canonical(merged, uidCols, tsCol), path,
      uidCols, tsCol, StoreLog.bloomColsAt(path, baseV), maxRecordsPerFile)
    StoreLog.withWriterLease(path) { lease =>
      val moved = staged.adopt()
      // the touched partition DIRECTORY prefixes — the unit of replacement
      // and of writer-vs-writer conflict detection — are read off the
      // STAGED OUTPUT's own directory names: the writer's partition-path
      // rendering (Spark's escaping, timestamp formatting, null spelling)
      // is the single source of truth, so a hand-built String.valueOf
      // rendering can never silently disagree with the directories the
      // base files actually live under (it would for timestamp uids).
      val prefixes: Set[String] = moved.files.map { f =>
        val i = f.lastIndexOf('/')
        require(i > 0, s"staged upsert file '$f' is not under a partition directory")
        f.substring(0, i)
      }.toSet
      // rebase is sound ONLY if no intervening commit touched our
      // partitions — neither replaced them nor appended files under
      // them; otherwise our merge used a stale base for those rows.
      // The TRANSFORM scaffold streams the remove set and walks raw
      // manifests — O(commit footprint), never the store
      branch match {
        case Some(b) =>
          branchDmlCommit(path, lease, b, branchPin.get, moved,
            prefixes.toSeq,
            // the upsert REPLACES whole touched partitions: its merged
            // output covers every base row of those prefixes
            removeOf = bs => bs.files.filter(f =>
              prefixes.exists(p => f.startsWith(p + "/"))),
            addDvs = Map.empty,
            boundChecks = Some(boundChecks),
            schemaForWiden = Some(delta.schema))
        case None =>
          commitTransformWithRebase(path, lease, baseV, moved, prefixes.toSeq,
            // the exact remove set at each attempt's base: live files under
            // the touched prefixes, streamed (never the whole store)
            removeFilesOf = v => StoreLog.foldFiles(path, v, prefixes.toSeq)(
              Vector.empty[String])((a, e) => a :+ e.path),
            abortOnAppendsUnder = true,
            schemaForWiden = Some(delta.schema), extraProps = setProps,
            boundChecks = Some(boundChecks))
      }
    }
  }

  /** Row-level DELETE through the manifest — the one maintenance verb a
    * training-corpus owner is legally guaranteed to need (takedown
    * requests, decontamination removals) and the reference never had.
    * FILE-granular copy-on-write: one pruned scan finds the live files
    * that actually CONTAIN matching rows, only those files' surviving
    * rows are rewritten (staged → adopted → ONE manifest commit swaps
    * the affected files for their rewrites), and everything else —
    * files of the same partition included — is never read for rewrite
    * or touched. Deleted rows remain readable `asOf` any pre-delete
    * version until [[vacuum]] reclaims the replaced files. Returns the
    * committed version (the current one when nothing matches).
    *
    * Cost at 100 TB: the match scan is predicate-pushed (a takedown by
    * uid/doc-id prunes to partitions and row groups), and the rewrite
    * IO is bounded by the affected FILES' size, not the store's or even
    * the partition's. A concurrent APPEND into a touched partition
    * serializes after the delete cleanly (the delete claims only the
    * files it named; appended files are untouched by construction);
    * a concurrent commit that REPLACED a touched partition aborts with
    * [[StoreLog.CommitConflict]] — the affected files may no longer be
    * live and rewriting them would resurrect replaced rows.
    */
  def delete(spark: SparkSession, path: String, pred: Column,
             tsCol: String, uidCols: Seq[String],
             maxRecordsPerFile: Long = GraftBatchWrite.MaxRecordsPerFile,
             branch: Option[String] = None): Long = {
    require(uidCols.nonEmpty, "delete needs the store's partition columns")
    val tipV = StoreLog.latestVersion(path)
      .getOrElse(StoreLog.ensure(path).version)
    // a BRANCH target rewrites the branch view's affected files and
    // commits through the WAP loop — invisible to main until publish
    val baseV = branch match {
      case Some(b) =>
        StoreLog.propsAt(path, tipV).get(StoreLog.BranchPropPrefix + b)
          .flatMap(_.toLongOption).getOrElse(
            throw new IllegalArgumentException(s"no branch '$b' at $path"))
      case None => tipV
    }
    // scoped resolution: past the lazy threshold only the may-match
    // files (stats/sizes/dvs riding along) materialize — the takedown's
    // driver cost tracks its SCOPE on a million-file store
    val base = scopedBase(path, baseV, pred)
    if (base.files.isEmpty) return base.version
    // the FIND side of the copy-on-write: manifest-stat pruning first
    // (a delete by merge key on a stat-carrying store opens only the
    // files whose recorded key bounds admit a match — the CDC takedown
    // path's scale fix), then a predicate-pushed scan over what's left.
    // Pruning is conservative; stat-less files are always candidates.
    val candidates = FileStats.prune(base.files, base.stats, pred)
    if (candidates.isEmpty) return base.version
    // which candidate files hold matching rows — the copy-on-write
    // unit, named by the scan's store-relative `_file`. Driver cost:
    // one string per affected file, the budget of a manifest delta.
    val affected = affectedFiles(candidates,
      readFilesDv(spark, path, base, candidates, keepMeta = true).filter(pred))
    if (affected.isEmpty) return base.version
    // conflict unit = the affected files' partition directories, read
    // off the manifest's own paths (never re-rendered from values)
    val prefixes: Set[String] = affected.map { f =>
      val i = f.lastIndexOf('/')
      require(i > 0, s"live file '$f' is not under a partition directory")
      f.substring(0, i)
    }.toSet
    // rewrite ONLY the affected files' survivors. DELETE semantics:
    // rows where pred is TRUE go; null-pred rows stay (SQL DELETE).
    // Dv-aware read: a replacement of an already-vectored file must not
    // resurrect its vectored rows (the new file carries no vector).
    val survivors = readFilesDv(spark, path, base, affected)
      .filter(!coalesce(pred, lit(false)))
    val staged = GraftBatchWrite.stage(canonical(survivors, uidCols, tsCol),
      path, uidCols, tsCol, base.bloomCols, maxRecordsPerFile)
    StoreLog.withWriterLease(path) { lease =>
      val moved = staged.adopt()
      // transform commit: remove exactly the affected files, add the
      // rewrites — no parent file list materializes; a concurrent
      // REPLACE of a touched partition aborts (its `replaced` record),
      // pure appends under it serialize after this delete cleanly
      branch match {
        case Some(b) =>
          branchDmlCommit(path, lease, b, base.version, moved,
            prefixes.toSeq, removeOf = _ => affected,
            addDvs = Map.empty, boundChecks = None, schemaForWiden = None)
        case None =>
          commitTransformWithRebase(path, lease, base.version, moved,
            prefixes.toSeq,
            removeFilesOf = _ => affected,
            abortOnAppendsUnder = false)
      }
    }
  }

  /** MERGE-ON-READ delete — the deletion-vector twin of [[delete]]: no
    * data file moves. Matching rows' PARQUET ROW INDICES are recorded
    * in per-file sidecars ([[Dv]]) and one manifest commit associates
    * each affected file with its (unioned) vector; readers subtract the
    * positions, [[compactPartitions]]/[[zorder]]/any rewrite
    * materializes them.
    *
    * Why it exists at 100 TB: copy-on-write IO is O(affected FILES) —
    * a takedown of a few thousand rows scattered across a million
    * 16 MB chunks rewrites terabytes. This path's write cost is
    * O(matching rows): the find scan (manifest-stat pruned, predicate
    * pushed) plus kilobyte sidecars, written DISTRIBUTED (one task
    * group per affected file, executor-side sidecar IO; the driver
    * sees only one (file, vector, count) row per affected file — the
    * same O(commit-footprint) budget as a manifest delta).
    *
    * Semantics match [[delete]] exactly (rows where `pred` is TRUE go,
    * null-pred rows stay; pre-delete versions stay readable `asOf`;
    * concurrent replaces of a touched partition abort). Repeated
    * vectored deletes against one file swap in the union sidecar, so a
    * single manifest entry always fully describes a file's deletions.
    *
    * Returns the committed version (the base version when nothing
    * matched).
    */
  def deleteVectors(spark: SparkSession, path: String, pred: Column,
                    branch: Option[String] = None): Long = {
    // scoped resolution: past the lazy threshold only the may-match
    // files (with their stats/sizes/dvs) materialize — a keyed or
    // sliced takedown against a million-file store stays O(its scope)
    // on the driver end to end. A BRANCH target finds over the branch
    // view and commits through the WAP loop — the takedown stays
    // invisible to main until publish, dies with a drop
    val tipV = StoreLog.latestVersion(path)
      .getOrElse(StoreLog.ensure(path).version)
    val baseV = branch match {
      case Some(b) =>
        StoreLog.propsAt(path, tipV).get(StoreLog.BranchPropPrefix + b)
          .flatMap(_.toLongOption).getOrElse(
            throw new IllegalArgumentException(s"no branch '$b' at $path"))
      case None => tipV
    }
    val base = scopedBase(path, baseV, pred)
    if (base.files.isEmpty) return base.version
    val candidates = FileStats.prune(base.files, base.stats, pred)
    if (candidates.isEmpty) return base.version
    deleteVectorsBy(spark, path, base, candidates, _.filter(pred), branch)
  }

  /** The keyed takedowns' find base at `baseV` and its candidate files
    * for the key frame `k`, pruned at manifest level: by the keys'
    * [min, max] extent (single-column keys; effective when the key
    * correlates with the chunk sort order — one Spark job) AND by the
    * per-file distinct-value digest probe (the SCATTERED-key accelerant
    * — a layout-uncorrelated key set keeps everything past the extent,
    * but a digest-carrying file admits the takedown only if it may
    * actually hold a key). Past the lazy threshold both gates also
    * SCOPE the resolution itself. A composite key probes on EVERY
    * digestable component (a file missing ANY component value cannot
    * hold the composite tuple).
    */
  private def takedownCandidates(path: String, baseV: Long, k: DataFrame,
      keyCols: Seq[String]): (StoreLog.Snapshot, Seq[String]) = {
    val probe = keyProbe(k, keyCols)
    val dKeep = digestKeep(probe) _
    val extent = Option.when(keyCols.sizeIs == 1) {
      val ext = k.agg(min(col(keyCols.head)).as("lo"),
        max(col(keyCols.head)).as("hi")).first()
      col(keyCols.head).between(lit(ext.get(0)), lit(ext.get(1)))
    }
    val base = extent match {
      case Some(e) => scopedBase(path, baseV, e, extraKeep = dKeep)
      case None if probe.nonEmpty &&
          StoreLog.liveFileCount(path, baseV) >= StoreLog.LazySnapshotThreshold =>
        StoreLog.readFiltered(path, baseV)(e => dKeep(e.stats))
      case None => StoreLog.read(path, baseV)
    }
    val extPruned = extent.fold(base.files)(FileStats.prune(base.files, base.stats, _))
    (base, extPruned.filter(f => dKeep(base.stats.get(f))))
  }

  /** KEYED merge-on-read takedown — [[deleteKeys]]' deletion-vector
    * twin and [[deleteVectors]]' join-based one: remove every stored
    * row whose merge key appears in `keys` with `versionCol <=` that
    * key's `deleteVersionCol`, as POSITION SIDECARS instead of a
    * copy-on-write rewrite. The key set rides as DATA (broadcast into
    * the dv-aware find scan), so the plan is O(1) in the key count —
    * the million-key GDPR batch shape.
    *
    * Why it exists at 100 TB: a SCATTERED takedown feed hits a few
    * rows in very many files — [[deleteKeys]] pays O(affected files)
    * rewrite IO where this path pays O(deleted rows) sidecar bytes
    * and ONE manifest commit. Version semantics match the CDC
    * contract exactly (delete wins ties, higher-version reinserts
    * survive); re-applying the same key batch is a no-op (the find is
    * dv-aware, so already-vectored rows never re-match). Returns the
    * committed version.
    */
  def deleteKeysVectors(spark: SparkSession, path: String, keys: DataFrame,
                        keyCols: Seq[String], deleteVersionCol: String,
                        versionCol: String): Long = {
    require(keyCols.nonEmpty, "deleteKeysVectors needs the store's merge-key columns")
    val baseV = StoreLog.latestVersion(path)
      .getOrElse(StoreLog.ensure(path).version)
    // one row per key, highest delete version wins (same resolution as
    // deleteKeys / the CDC predicate path)
    val k = keys.groupBy(keyCols.map(col): _*)
      .agg(max(col(deleteVersionCol)).as("__del_v"))
      .localCheckpoint() // evaluated by the extent probe and the find
    if (k.isEmpty) return baseV
    val (base, candidates) = takedownCandidates(path, baseV, k, keyCols)
    if (base.files.isEmpty) return base.version
    lastTakedownCandidates = candidates.size
    if (candidates.isEmpty) return base.version
    deleteVectorsBy(spark, path, base, candidates, { df =>
      // a using-columns join moves the key columns to the FRONT of the
      // output order; dvStatSelect takes the first MaxStatsCols columns
      // in SCHEMA order (the same cap the manifest stats use), so the
      // original order must be restored or a wide table's recorded
      // dv-stat column set would silently diverge from the manifest's —
      // answers stay exact-or-refuse, but COUNT/MIN/MAX pushdowns on
      // those files would be lost
      val orig = df.columns.toSeq
      df.join(broadcast(k), keyCols, "inner")
        .filter(col(versionCol) <= col("__del_v"))
        .select(orig.map(col): _*)
    })
  }

  /** The shared merge-on-read delete machinery: `matcher` narrows the
    * dv-aware keepMeta read of the candidate files to exactly the rows
    * to delete (a predicate filter, or a broadcast key join). See
    * [[deleteVectors]] for the full contract.
    */
  private def deleteVectorsBy(spark: SparkSession, path: String,
                              base: StoreLog.Snapshot, candidates: Seq[String],
                              matcher: DataFrame => DataFrame,
                              branch: Option[String] = None): Long = {
    val sconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    // (file, row position, per-column isnull, stat-domain values)
    // of every matching LIVE row — dv-aware find, so an already-
    // vectored row is never re-deleted (and a file whose only matches
    // are already vectored is not touched again). The null flags and
    // stat-domain values ride along so the commit can record per-column
    // DELETED-NULL counts ([[Dv.Entry.nulls]], keeps COUNT(col) a
    // metadata answer) and DELETED-ROW BOUNDS ([[Dv.Entry.bounds]],
    // keeps MIN/MAX a metadata answer when provably intact). Value
    // domains mirror the manifest stats exactly ([[FileStats.ColStat]]
    // tags): integral→long, date→epoch days, timestamp→epoch micros,
    // string as-is; float/double and NTZ are never recorded (the
    // pushdown refuses them regardless).
    val v = StoreLog.withWriterLease(path) { lease =>
      val (found, tags) = dvStatSelect(matcher(
        readFilesDv(spark, path, base, candidates, keepMeta = true)))
      // existing vectors' absolute sidecar paths, by data file
      val oldDvs = spark.sparkContext.broadcast(candidates.flatMap(f =>
        base.dvs.get(f).map(e => f -> s"$path/${e.path}")).toMap)
      // one task group per affected file: union the new positions with
      // the file's existing vector and publish a fresh sidecar. A
      // retried/speculative task writes an orphan sidecar — vacuumable
      // garbage, exactly like an unadopted staged data file (the lease
      // held here keeps vacuum off the fresh ones meanwhile).
      val written: Array[(String, String, Long, DvStatRaw)] =
        found.groupByKey(_._1).mapGroups { (dataRel, it) =>
          val freshB = Array.newBuilder[Long]
          val acc = new DvStatAcc
          it.foreach { case (_, p, ns, dl, dsv) =>
            freshB += p
            acc.add(ns, dl, dsv)
          }
          val fresh = freshB.result()
          val old = oldDvs.value.get(dataRel)
            .map(Dv.read(sconf.value, _)).getOrElse(Array.empty[Long])
          val rel = Dv.newRelPath()
          val n = Dv.write(sconf.value, s"$path/$rel", old ++ fresh)
          (dataRel, rel, n, acc.result)
        }.collect()
      if (written.isEmpty) base.version
      else {
        val entries: Map[String, Dv.Entry] = written.map {
          case (dataRel, rel, n, raw) =>
          // union with a pre-existing vector: summed counts / combined
          // bounds where BOTH entries know them, dropped where either
          // doesn't (a legacy entry without them stays unknowable —
          // exact-or-refuse)
          val (merged, mergedBounds) = mergeDvStats(base.dvs.get(dataRel),
            raw.nulls, raw.bounds(tags))
          dataRel -> Dv.Entry(rel, n, merged, mergedBounds)
        }.toMap
        val prefixes = entries.keySet.map { f =>
          val i = f.lastIndexOf('/')
          require(i > 0, s"live file '$f' is not under a partition directory")
          f.substring(0, i)
        }.toSeq
        branch match {
          case Some(b) =>
            // branch-targeted takedown: the vectors land on the BRANCH
            // view only (invisible to main; exact dv reset keeps the
            // refs' states from cross-leaking on later zig-zag commits)
            branchDmlCommit(path, lease, b, base.version,
              moved = GraftWriteTaskResult.empty,
              prefixes = prefixes, removeOf = _ => Nil, addDvs = entries,
              boundChecks = None, schemaForWiden = None)
          case None =>
            // dv-only transform: no file moves, no parent file list — the
            // commit is O(changed vectors) however many files the store has
            commitTransformWithRebase(path, lease, base.version,
              moved = GraftWriteTaskResult.empty, replaced = prefixes,
              removeFilesOf = _ => Nil, abortOnAppendsUnder = false,
              addDvs = entries)
        }
      }
    }
    // the density auto-compact cue targets the MAIN view (and is
    // branch-tolerant since commitMaintenanceRewrite); BRANCH-targeted
    // takedowns skip it — their vectors live on the branch view, which
    // main-side compaction can neither see nor help
    if (v != base.version && branch.isEmpty) dvDensityCompact(spark, path)
    v
  }

  /** The deleted-row STAT PROJECTION shared by every dv writer: per
    * matching live row — (file, position, per-column isnull map,
    * long-domain values, string-domain values) — capped at the stats
    * cap (schema order): the pushdowns can only use nulls/bounds
    * alongside the file's MANIFEST STATS, which
    * [[FileStats.MaxStatsCols]] bounds the same way, so a 500-column
    * table pays per-deleted-row map cost for 24 columns, not 500.
    * Value domains mirror the manifest stats exactly
    * ([[FileStats.ColStat]] tags): integral→long, date→epoch days,
    * timestamp→epoch micros, string as-is; float/double and NTZ are
    * never recorded (the pushdowns refuse them regardless).
    */
  private def dvStatSelect(df: DataFrame): (
      org.apache.spark.sql.Dataset[(String, Long, Map[String, Boolean],
        Map[String, Long], Map[String, String])],
      Map[String, String]) = {
    import df.sparkSession.implicits._
    val dataCols = df.columns.filterNot(c =>
        c == GraftTable.FileColName || c == GraftTable.PosColName)
      .take(FileStats.MaxStatsCols).toSeq
    import org.apache.spark.sql.types._
    val tags: Map[String, String] = df.schema.fields.iterator
      .filter(f => dataCols.contains(f.name))
      .flatMap { f =>
        f.dataType match {
          case ByteType | ShortType | IntegerType | LongType => Some(f.name -> "i")
          case DateType => Some(f.name -> "d")
          case TimestampType => Some(f.name -> "ts")
          case StringType => Some(f.name -> "s")
          case _ => None
        }
      }.toMap
    val longDom = dataCols.filter(c => tags.get(c).exists(_ != "s"))
    val strDom = dataCols.filter(c => tags.get(c).contains("s"))
    // the empty fallbacks are TYPED literals: a bare functions.map()
    // types as map<string,string>, and an NTZ-time store with no
    // integral/date/ts column among the stat-capped set would then
    // fail the Map[String,Long] decode below with a cannot-up-cast
    // AnalysisException, aborting the DELETE
    def nonNullMap(entries: Seq[Column], empty: Column): Column =
      if (entries.isEmpty) empty
      else map_filter(map(entries: _*), (_, v) => v.isNotNull)
    val longVals = nonNullMap(longDom.flatMap { c =>
      val v = tags(c) match {
        case "d" => unix_date(col(c)).cast(LongType)
        case "ts" => unix_micros(col(c))
        case _ => col(c).cast(LongType)
      }
      Seq(lit(c), v)
    }, typedLit(Map.empty[String, Long]))
    val strVals = nonNullMap(strDom.flatMap(c => Seq(lit(c), col(c))),
      typedLit(Map.empty[String, String]))
    val ds = df.select(col(GraftTable.FileColName), col(GraftTable.PosColName),
        map(dataCols.flatMap(c => Seq(lit(c), col(c).isNull)): _*).as("__nulls"),
        longVals.as("__dlong"), strVals.as("__dstr"))
      .as[(String, Long, Map[String, Boolean], Map[String, Long], Map[String, String])]
    (ds, tags)
  }

  /** One file's accumulated deleted-row stats in raw form — an
    * encodable product so the distributed stat passes can return it.
    * `bounds` builds the committed [[Dv.Bound]] map: every
    * stat-eligible column gets one — EMPTY when all its deleted values
    * were null (deletion provably can't move min/max then), dropped
    * for over-cap strings (`bad` — a truncated MAX bound would need
    * byte-order round-UP; FileStats refuses the same way).
    */
  private[sources] final case class DvStatRaw(n: Long,
      nulls: Map[String, Long],
      lo: Map[String, Long], hi: Map[String, Long],
      slo: Map[String, String], shi: Map[String, String],
      bad: Seq[String]) {
    def bounds(tags: Map[String, String]): Map[String, Dv.Bound] =
      tags.flatMap { case (c, tag) =>
        if (bad.contains(c)) None
        else if (tag == "s")
          Some(c -> slo.get(c).map(l => Dv.Bound(tag, Some(l), Some(shi(c))))
            .getOrElse(Dv.Bound.empty(tag)))
        else
          Some(c -> lo.get(c).map(l => Dv.Bound(tag, Some(l), Some(hi(c))))
            .getOrElse(Dv.Bound.empty(tag)))
      }
  }

  /** The executor-side accumulator behind [[DvStatRaw]]. */
  private[sources] final class DvStatAcc {
    var n = 0L
    val nc = scala.collection.mutable.HashMap.empty[String, Long]
    val lo = scala.collection.mutable.HashMap.empty[String, Long]
    val hi = scala.collection.mutable.HashMap.empty[String, Long]
    val slo = scala.collection.mutable.HashMap.empty[String, String]
    val shi = scala.collection.mutable.HashMap.empty[String, String]
    val bad = scala.collection.mutable.HashSet.empty[String]
    private var seeded = false

    def add(ns: Map[String, Boolean], dl: Map[String, Long],
            dsv: Map[String, String]): Unit = {
      n += 1
      if (!seeded) { ns.keysIterator.foreach(c => nc(c) = 0L); seeded = true }
      ns.foreach { case (c, isN) => if (isN) nc(c) = nc.getOrElse(c, 0L) + 1L }
      dl.foreach { case (c, v) =>
        if (!lo.contains(c) || v < lo(c)) lo(c) = v
        if (!hi.contains(c) || v > hi(c)) hi(c) = v
      }
      dsv.foreach { case (c, v) =>
        if (v.length > FileStats.MaxStringLen) { bad += c; slo.remove(c); shi.remove(c) }
        else if (!bad.contains(c)) {
          if (!slo.contains(c) || Dv.cmpBound("s", v, slo(c)) < 0) slo(c) = v
          if (!shi.contains(c) || Dv.cmpBound("s", v, shi(c)) > 0) shi(c) = v
        }
      }
    }

    def result: DvStatRaw =
      DvStatRaw(n, nc.toMap, lo.toMap, hi.toMap, slo.toMap, shi.toMap, bad.toSeq)
  }

  /** Merge a file's FRESH deleted-row stats with its pre-existing
    * vector entry's: summed counts / combined bounds where BOTH know
    * the column, dropped where either doesn't (a legacy entry without
    * stats keeps the union unknowable — exact-or-refuse).
    */
  private[graft] def mergeDvStats(old: Option[Dv.Entry],
      nulls: Map[String, Long], bounds: Map[String, Dv.Bound])
      : (Map[String, Long], Map[String, Dv.Bound]) = old match {
    case Some(o) if o.rows > 0 =>
      (nulls.flatMap { case (c, k) => o.nulls.get(c).map(x => c -> (x + k)) },
       bounds.flatMap { case (c, b) =>
         o.bounds.get(c).collect { case ob if ob.tag == b.tag =>
           c -> Dv.combineBounds(ob, b)
         }
       })
    case _ => (nulls, bounds)
  }

  /** Per-column deleted-null counts + deleted-row bounds for a delta
    * DML commit's FRESH positions, computed FROM THE FILES THEMSELVES
    * at commit time: one distributed pass over the touched files'
    * stat-capped columns, positions joined from the adopted fragment
    * sidecars. The delta WRITERS cannot record these from the rows
    * they see — Spark's delta plans project the POST-ASSIGNMENT values
    * (an UPDATE assigning a stat column hands the writer the NEW
    * value, verified empirically), and recording those would let a
    * MIN/MAX pushdown claim a deleted end intact while the end was in
    * fact deleted. The OLD rows are still in the files (merge-on-read
    * moves nothing), so the read-back is always sound; cost is one
    * column-pruned scan of exactly the touched files. Exact-or-refuse:
    * a file whose aggregated row count mismatches its fragments'
    * position count drops its stats.
    *
    * `fragsByFile`: data-file rel → (adopted fragment ABSOLUTE paths,
    * expected fresh position count). Returns rel → (nulls, bounds).
    */
  private[graft] def dvFreshStats(spark: SparkSession, path: String,
      base: StoreLog.Snapshot,
      fragsByFile: Map[String, (Seq[String], Long)])
      : Map[String, (Map[String, Long], Map[String, Dv.Bound])] = {
    if (fragsByFile.isEmpty) return Map.empty
    val sconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    val posDf = spark.createDataset(fragsByFile.toSeq.map { case (f, (frags, _)) => (f, frags) })
      .flatMap { case (f, frags) =>
        frags.iterator.flatMap(p => Dv.read(sconf.value, p).iterator)
          .map(p => (f, p)) }
      .toDF("__dv_file", "__dv_pos")
    // the PRE-commit live view of the touched files: old vectors are
    // subtracted by readFilesDv, and this commit's fresh positions are
    // disjoint from them by construction (the operation scanned only
    // live rows)
    val df0 = readFilesDv(spark, path, base, fragsByFile.keys.toSeq.sorted,
      keepMeta = true)
    val joined = df0.join(posDf, col(GraftTable.FileColName) === col("__dv_file") &&
        col(GraftTable.PosColName) === col("__dv_pos"), "inner")
      .drop("__dv_file", "__dv_pos")
    val (ds, tags) = dvStatSelect(joined)
    val got: Map[String, DvStatRaw] =
      ds.groupByKey(_._1).mapGroups { (f, it) =>
        val acc = new DvStatAcc
        it.foreach { case (_, _, ns, dl, dsv) => acc.add(ns, dl, dsv) }
        (f, acc.result)
      }.collect().toMap
    fragsByFile.map { case (f, (_, expected)) =>
      got.get(f) match {
        case Some(raw) if raw.n == expected =>
          f -> (raw.nulls, raw.bounds(tags))
        case _ =>
          // fewer (or no) rows matched than positions exist — refuse
          // this file's stats rather than under-count
          f -> (Map.empty[String, Long], Map.empty[String, Dv.Bound])
      }
    }
  }

  /** The `candidates` (in manifest order) holding a row of `matched`
    * — a keepMeta read narrowed to the rows a copy-on-write delete
    * removes. Shared by [[delete]] and [[deleteKeys]].
    */
  private def affectedFiles(candidates: Seq[String], matched: DataFrame): Seq[String] = {
    val hit = matched.select(GraftTable.FileColName).distinct()
      .collect().map(_.getString(0)).toSet
    candidates.filter(hit)
  }

  /** Join-based bulk takedown — [[delete]]'s large-batch twin: remove
    * every stored row whose merge key appears in `keys` with
    * `versionCol <= ` that key's `deleteVersionCol` (the same
    * delete-wins-ties / reinserts-survive version resolution as the CDC
    * predicate path). The key set is a DATAFRAME, broadcast into the
    * find scan and the survivor rewrite as an ordinary join — plan size
    * is O(1) in the key count, so a million-key takedown batch builds
    * the same plan a ten-key one does (the literal IN-list path is
    * bounded by [[graft.streaming.StoreIngest.MaxKeysPerDeletePass]];
    * this is what runs above it). One FILE-GRANULAR copy-on-write pass,
    * ONE manifest commit; deleted rows stay readable `asOf` until
    * [[vacuum]]. For single-column keys the find scan is additionally
    * manifest-stat-pruned by the key set's [min, max] extent (a
    * driver-side aggregate over the broadcast-sized key frame).
    * Returns the committed version.
    */
  def deleteKeys(spark: SparkSession, path: String, keys: DataFrame,
                 keyCols: Seq[String], deleteVersionCol: String,
                 versionCol: String, tsCol: String, uidCols: Seq[String],
                 maxRecordsPerFile: Long = GraftBatchWrite.MaxRecordsPerFile): Long = {
    require(keyCols.nonEmpty, "deleteKeys needs the store's merge-key columns")
    require(uidCols.nonEmpty, "deleteKeys needs the store's partition columns")
    val baseV = StoreLog.latestVersion(path)
      .getOrElse(StoreLog.ensure(path).version)
    // one row per key, highest delete version wins (same resolution the
    // chunked predicate applies per key)
    val k = keys.groupBy(keyCols.map(col): _*)
      .agg(max(col(deleteVersionCol)).as("__del_v"))
      .localCheckpoint() // evaluated 3× below (extent, find, rewrite)
    if (k.isEmpty) return baseV
    val (base, candidates) = takedownCandidates(path, baseV, k, keyCols)
    if (base.files.isEmpty) return base.version
    lastTakedownCandidates = candidates.size
    if (candidates.isEmpty) return base.version
    val affected = affectedFiles(candidates,
      readFilesDv(spark, path, base, candidates, keepMeta = true)
        .join(broadcast(k), keyCols, "inner")
        .filter(col(versionCol) <= col("__del_v")))
    if (affected.isEmpty) return base.version
    val prefixes: Set[String] = affected.map { f =>
      val i = f.lastIndexOf('/')
      require(i > 0, s"live file '$f' is not under a partition directory")
      f.substring(0, i)
    }.toSet
    // survivors: rows with no matching delete key, or reinserted ABOVE
    // the key's delete version
    val survivors = readFilesDv(spark, path, base, affected)
      .join(broadcast(k), keyCols, "left_outer")
      .filter(col("__del_v").isNull || col(versionCol) > col("__del_v"))
      .drop("__del_v")
    val staged = GraftBatchWrite.stage(canonical(survivors, uidCols, tsCol),
      path, uidCols, tsCol, base.bloomCols, maxRecordsPerFile)
    StoreLog.withWriterLease(path) { lease =>
      val moved = staged.adopt()
      // transform commit: remove exactly the affected files, add the
      // rewrites — no parent file list materializes; a concurrent
      // REPLACE of a touched partition aborts (its `replaced` record),
      // pure appends under it serialize after this delete cleanly
      commitTransformWithRebase(path, lease, base.version, moved,
        prefixes.toSeq,
        removeFilesOf = _ => affected,
        abortOnAppendsUnder = false)
    }
  }

  /** Compact the named partition DIRECTORIES of a logged store: rewrite
    * each prefix's live files into range-sorted chunks (one pruned read +
    * one staged write per call) and swap them in ONE CAS-committed
    * manifest version — the small-file maintenance verb for the
    * streaming-ingest regime, where every micro-batch lands its own file
    * set. Replaced chunks stay readable `asOf` pre-compaction versions
    * until [[vacuum]], like every other commit.
    *
    * Concurrency: a concurrent APPEND under a touched prefix serializes
    * cleanly (its files are not in the replace set and survive the
    * rebase); a concurrent commit that REPLACED a touched prefix aborts
    * with [[StoreLog.CommitConflict]] — the compaction's rewrite was
    * computed from files that are no longer live, and re-committing it
    * would resurrect replaced rows. Compaction is a maintenance op:
    * callers (e.g. [[graft.streaming.StoreIngest]]'s auto-compact) just
    * skip an aborted pass and retry on a later cadence.
    *
    * Returns the committed version, or the current one when every prefix
    * is already compact (nothing staged, nothing committed).
    */
  def compactPartitions(spark: SparkSession, path: String, prefixes: Seq[String],
                        tsCol: String, uidCols: Seq[String],
                        maxFilesPerPartition: Int = 1,
                        maxRecordsPerFile: Long = GraftBatchWrite.MaxRecordsPerFile): Long = {
    require(prefixes.nonEmpty, "compactPartitions needs at least one partition prefix")
    require(maxFilesPerPartition >= 1, "maxFilesPerPartition must be >= 1")
    // scoped resolution: past the lazy threshold only the TOUCHED
    // prefixes' files (their stats/sizes/dvs riding along) materialize
    // on the driver — a one-partition compaction against a million-file
    // store stays O(its scope), like the delete/takedown family.
    // Maintenance reads the MAIN view: under an open branch the tip may
    // be the branch's (the rewrite targets main; branch pins rebase or
    // prove disjoint at commit — [[commitMaintenanceRewrite]])
    val tipV = StoreLog.latestVersion(path)
      .getOrElse(StoreLog.ensure(path).version)
    val baseV = StoreLog.mainVersionAt(path, tipV)
    val base =
      if (StoreLog.liveFileCount(path, baseV) >= StoreLog.LazySnapshotThreshold)
        StoreLog.readFiltered(path, baseV, prefixes)(_ => true)
      else StoreLog.read(path, baseV)
    // only prefixes actually OVER the target are rewritten — an
    // already-compact partition costs nothing. A partition holding a
    // DELETION-VECTORED file is compaction-worthy at any file count:
    // materializing the vector (rewriting live rows, dropping the
    // sidecar) is part of this verb's contract.
    val byPrefix = prefixes.map { p =>
      p -> base.files.filter(_.startsWith(p + "/"))
    }.filter { case (_, fs) =>
      fs.size > maxFilesPerPartition || fs.exists(base.dvs.contains)
    }
    if (byPrefix.isEmpty) return base.version
    val targets = byPrefix.flatMap(_._2)
    val touched = byPrefix.map(_._1)
    // dv-aware: compaction MATERIALIZES deletion vectors — the rewrite
    // reads only live rows and the replaced files' vectors die with them
    val rows = readFilesDv(spark, path, base, targets)
    val staged = GraftBatchWrite.stage(canonical(rows, uidCols, tsCol),
      path, uidCols, tsCol, base.bloomCols, maxRecordsPerFile)
    StoreLog.withWriterLease(path) { lease =>
      val moved = staged.adopt()
      // maintenance commit: swap exactly the targets for the rewrite —
      // branchless, the streamed transform (no parent file list on any
      // attempt; an intervening REPLACE of a touched prefix aborts,
      // appends serialize); under open branches, the disjointness-
      // proved rewrite with branch-pin rebase.
      commitMaintenanceRewrite(path, lease, base.version, moved,
        replaced = touched, targets = targets)
    }
  }

  /** Partition prefixes whose DELETED-ROW RATIO — manifest-recorded
    * deletion-vector cardinality over recorded file rows — is at or
    * above `ratio`. Zero IO: both numbers live in the manifest, so the
    * "has merge-on-read churn made this partition worth rewriting?"
    * question is a driver-side sum, never a cluster job. This is the
    * AUTO-compaction cue for dv density: without it a table absorbing
    * steady dv DML pays the vectored read tax (and the per-file
    * position filtering) until a human calls compact. A vectored file
    * with NO recorded row count (legacy adopted files) makes its
    * prefix's density unknowable — included conservatively, since the
    * rewrite is exactly what retires the unknown.
    */
  def dvDensePrefixes(snap: StoreLog.Snapshot, ratio: Double): Seq[String] = {
    if (snap.dvs.isEmpty || ratio <= 0) return Seq.empty
    snap.files.groupBy { f =>
      val i = f.lastIndexOf('/')
      if (i > 0) f.substring(0, i) else ""
    }.collect { case (p, fs) if p.nonEmpty &&
        fs.exists(snap.dvs.contains) => (p, fs)
    }.collect { case (p, fs)
        if {
          val dvRows = fs.iterator.map(f =>
            snap.dvs.get(f).map(_.rows).getOrElse(0L)).sum
          val recorded = fs.map(f => snap.liveRows(f)
            .map(_ + snap.dvs.get(f).map(_.rows).getOrElse(0L)))
          recorded.exists(_.isEmpty) ||
            dvRows.toDouble >= ratio * recorded.flatten.sum
        } => p
    }.toSeq.sorted
  }

  /** [[dvDensePrefixes]] computed STREAMING from the manifest chain —
    * per-prefix tallies in O(live prefixes) driver state, so the
    * post-DML hook (which runs after EVERY dv commit) never resolves a
    * million-file snapshot just to read two sums. Same semantics as
    * the snapshot variant: a prefix is dense when any of its files'
    * row counts are unrecorded (conservative) or deleted ≥ ratio ×
    * recorded; only prefixes carrying at least one vector qualify.
    */
  private[graft] def dvDensePrefixesAt(path: String, v: Long,
                                       ratio: Double): Seq[String] = {
    if (ratio <= 0) return Seq.empty
    final class T {
      var dv = 0L; var rec = 0L; var unknown = false; var hasDv = false
    }
    val m = scala.collection.mutable.Map.empty[String, T]
    StoreLog.foldFiles(path, v)(()) { (_, e) =>
      val i = e.path.lastIndexOf('/')
      if (i > 0) {
        val t = m.getOrElseUpdate(e.path.substring(0, i), new T)
        e.dv.foreach { d => t.hasDv = true; t.dv += d.rows }
        e.stats.flatMap(_.values.collectFirst {
          case cs if cs.rows >= 0 => cs.rows
        }) match {
          case Some(r) => t.rec += r
          case None => t.unknown = true
        }
      }
    }
    m.collect { case (p, t) if t.hasDv &&
        (t.unknown || t.dv.toDouble >= ratio * t.rec) => p }.toSeq.sorted
  }

  /** The batch-DML twin of the streaming sink's dv-density hook: after
    * a deletion-vector commit (SQL DELETE/UPDATE/MERGE on a dv table,
    * or the Scala dv verbs), auto-compact the prefixes whose deleted
    * ratio crossed the table's `dv.compact.ratio` property — the cue
    * itself is zero IO ([[dvDensePrefixes]]: manifest sums only).
    * Without the property the hook only LOGS an advisory at the
    * default 20% ratio: a steady-DML table that nobody compacts pays
    * the vectored-read tax forever, and the log line is the operator's
    * signal. A compaction losing its CAS to a concurrent writer is
    * skipped — the next DML commit re-checks the same manifest sums.
    *
    * BEST-EFFORT by contract: the hook runs AFTER the DML's manifest
    * commit is durable, so no failure here may surface to the caller —
    * a transient IO error in the maintenance rewrite would otherwise
    * make an already-committed DELETE/UPDATE/MERGE report failure, and
    * a client retry of a non-idempotent statement (SET v = v + 1)
    * would double-apply. Anything NonFatal is logged and swallowed;
    * the density cue re-fires on the next DML commit anyway.
    */
  private[graft] def dvDensityCompact(spark: SparkSession, path: String): Unit =
    try dvDensityCompactUnsafe(spark, path)
    catch {
      case scala.util.control.NonFatal(e) =>
        log.warn(s"post-commit dv-density compaction at $path failed " +
          s"(DML itself is committed; will re-check next commit): $e")
    }

  private def dvDensityCompactUnsafe(spark: SparkSession, path: String): Unit =
    // density reads the MAIN view (under an open branch the tip may be
    // the branch's); compaction itself is branch-tolerant now
    // ([[commitMaintenanceRewrite]]), so the cue no longer stalls for a
    // long-lived WAP branch
    StoreLog.mainVersion(path).foreach { v =>
      val props = StoreLog.propsAt(path, StoreLog.latestVersion(path).getOrElse(v))
      props.get("dv.compact.ratio")
        .flatMap(r => scala.util.Try(r.toDouble).toOption).filter(_ > 0) match {
        case Some(ratio) =>
          val dense = dvDensePrefixesAt(path, v, ratio)
          if (dense.nonEmpty) {
            val tsCol = props.getOrElse(GraftTable.TsColProp, "ts")
            val uids = props.get(GraftTable.UidsProp)
              .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
              .getOrElse(GraftTable.partCols(path))
            if (uids.nonEmpty)
              try compactPartitions(spark, path, dense, tsCol, uids): Unit
              catch { case _: StoreLog.CommitConflict => () }
          }
        case None =>
          val dense = dvDensePrefixesAt(path, v, 0.2)
          if (dense.nonEmpty)
            log.info(s"store $path has ${dense.size} partition(s) at >=20% " +
              "deleted-row density — compact them (CALL system.compact / " +
              "TsStore.compactPartitions), or set TBLPROPERTIES" +
              "('dv.compact.ratio'='0.2') to auto-compact on DML commits")
      }
    }

  /** Exact row count of the (optionally `asOf`-versioned) live view from
    * the MANIFEST alone — zero file IO, zero Spark jobs (the Delta
    * "numRecords in the transaction log" role): every stat-carrying file
    * records its row count, so the total is a driver-side sum. `None`
    * when any live file lacks recorded stats (legacy commits, adopted
    * files whose footers failed to read) — the caller falls back to a
    * scan; NEVER a guess. At 100 TB this is the difference between a
    * metadata lookup and a cluster job for the most common question a
    * store is asked.
    */
  def countAt(path: String, asOf: Option[Long] = None): Option[Long] = {
    val snap = asOf.orElse(StoreLog.mainVersion(path))
      .map(v => StoreLog.read(path, v))
      .getOrElse(return None)
    // LIVE rows: recorded per-file counts minus each file's recorded
    // deletion-vector cardinality — still exact, still zero file IO
    val per = snap.files.map(snap.liveRows)
    if (per.exists(_.isEmpty)) None else Some(per.flatten.sum)
  }

  /** The series catalog from the MANIFEST alone — corintick's
    * `(uid, start, end)` index answered without touching a data file:
    * per partition-directory value, the summed row count and the
    * min/max of the recorded `tsCol` bounds. `None` when any live file
    * lacks the needed stats (legacy commits — fall back to
    * [[listSeries]] over a scan; never a guess). The list_uids question
    * a 100 TB store answers hundreds of times a day, for the cost of a
    * manifest read.
    */
  def catalogAt(spark: SparkSession, path: String, uidCol: String,
                tsCol: String = "ts",
                asOf: Option[Long] = None): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val snap = asOf.orElse(StoreLog.mainVersion(path))
      .map(v => StoreLog.read(path, v)).getOrElse(return None)
    // deletion vectors: a vectored file's LIVE count is exact from the
    // recorded cardinality; its ts bounds stay exact when the vector's
    // recorded deleted-row bounds ([[Dv.Entry.bounds]]) prove both ends
    // intact (every deleted ts strictly inside) — a fully-emptied file
    // contributes its zero count and no bounds, and a uid whose every
    // row is vectored away vanishes. A vector without recorded bounds
    // refuses (callers fall back to listSeries over a dv-applied scan);
    // never a guess.
    // per-file: (uid, liveRows, Option[(minUs, maxUs)])
    val per: Seq[Option[(String, Long, Option[(Long, Long)])]] = snap.files.map { f =>
      val i = f.indexOf('/')
      val j = f.indexOf('=')
      if (i <= 0 || j <= 0 || j >= i || f.substring(0, j) != uidCol) None
      else snap.stats.get(f).flatMap { fs =>
        for {
          ts <- fs.get(tsCol)
          if (ts.tag == "ts" || ts.tag == "tn") && ts.rows >= 0
          dvRows = snap.dvs.get(f).map(_.rows).getOrElse(0L)
          live = ts.rows - dvRows
          bounds <-
            if (live == 0L) Some(None)
            else if (dvRows == 0L)
              Some(Some((ts.min.asInstanceOf[Long], ts.max.asInstanceOf[Long])))
            else snap.dvs.get(f).flatMap(_.bounds.get(tsCol)).collect {
              case b if b.tag == ts.tag &&
                  (b.lo.isEmpty ||
                    (Dv.cmpBound(b.tag, b.lo.get, ts.min) > 0 &&
                     Dv.cmpBound(b.tag, b.hi.get, ts.max) < 0)) =>
                Some((ts.min.asInstanceOf[Long], ts.max.asInstanceOf[Long]))
            }
        } yield (ExternalCatalogUtils.unescapePathName(f.substring(j + 1, i)),
          live, bounds)
      }
    }
    if (per.exists(_.isEmpty)) return None
    val rows = per.flatten
      .groupBy(_._1).toSeq
      .collect { case (uid, fs) if fs.map(_._2).sum > 0 =>
        val bs = fs.flatMap(_._3)
        (uid, fs.map(_._2).sum, bs.map(_._1).min, bs.map(_._2).max)
      }
    val df = spark.createDataFrame(rows)
      .toDF(uidCol, "n_rows", "__min_us", "__max_us")
    Some(df.select(col(uidCol), col("n_rows"),
      timestamp_micros(col("__min_us")).as("ts_min"),
      timestamp_micros(col("__max_us")).as("ts_max")))
  }

  /** Store observability — the DESCRIBE DETAIL role: one row per LIVE
    * file of the (optionally `asOf`-versioned) manifest, with its
    * partition directory, on-disk size, and the manifest's recorded
    * per-column bounds (stringified, tagged with the stat's value
    * semantics — see [[FileStats.ColStat]]). Driver-side metadata only:
    * the manifest names the files, one FileSystem status call each for
    * the size — O(live files), no data pages, no Spark job until the
    * caller acts on the frame. The operational companion to the
    * maintenance verbs: "which partitions are fragmented" feeds
    * [[compactPartitions]], "which files' bounds are wide" feeds
    * [[zorder]], "what does this version hold" feeds [[restore]].
    */
  def detail(spark: SparkSession, path: String,
             asOf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.types._
    val snap = asOf.orElse(StoreLog.mainVersion(path))
      .map(v => StoreLog.read(path, v))
      .getOrElse(throw new IllegalArgumentException(
        s"detail needs a logged store; '$path' has no manifest"))
    val conf = spark.sparkContext.hadoopConfiguration
    val rows = snap.files.map { f =>
      // manifest-recorded byte length first (zero RPCs on a
      // sizes-complete store); status fallback for legacy files only
      val bytes = snap.sizes.getOrElse(f, {
        val p = new org.apache.hadoop.fs.Path(s"$path/$f")
        try p.getFileSystem(conf).getFileStatus(p).getLen
        catch { case scala.util.control.NonFatal(_) => -1L }
      })
      val i = f.lastIndexOf('/')
      val part = if (i > 0) f.substring(0, i) else ""
      val stats = snap.stats.getOrElse(f, Map.empty).map { case (c, cs) =>
        c -> org.apache.spark.sql.Row(cs.tag, String.valueOf(cs.min), String.valueOf(cs.max))
      }
      org.apache.spark.sql.Row(f, part, bytes, stats)
    }
    val schema = StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("partition", StringType, nullable = false),
      StructField("bytes", LongType, nullable = false),
      StructField("stats", MapType(StringType, StructType(Seq(
        StructField("tag", StringType, nullable = false),
        StructField("min", StringType, nullable = false),
        StructField("max", StringType, nullable = false)))))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** RESTORE the store to an earlier committed version — as a NEW
    * commit, not a history rewrite (the Delta RESTORE / Iceberg
    * rollback role): the target version's file list simply becomes the
    * next manifest version. Nothing is copied or rewritten — the old
    * files are still on disk until [[StoreLog.vacuum]] reclaims them,
    * which is exactly why the retention window is the undo window. The
    * bad intermediate versions stay readable `asOf` for audit until
    * vacuumed. This is the accident-undo verb: a botched upsert, an
    * over-broad delete, a corrupted CDC batch — one O(manifest) commit
    * walks it back.
    *
    * Concurrency: restore REPLACES the whole live view, so it cannot
    * rebase over anything — a concurrent commit of any kind aborts it
    * with [[StoreLog.CommitConflict]] (re-inspect and retry; blindly
    * rebasing would silently discard the concurrent writer's rows).
    *
    * Returns the new version. Requires `toVersion` to still be
    * resolvable (inside the vacuum retention window).
    */
  def restore(spark: SparkSession, path: String, toVersion: Long): Long =
    StoreLog.withWriterLease(path) { lease =>
      lease.renew()
      val curV = StoreLog.latestVersion(path)
        .getOrElse(StoreLog.ensure(path).version)
      if (curV == toVersion) curV
      else {
        // `replaced` must name every partition prefix the restore could
        // touch — concurrent writers' rebase checks look for THEIR
        // prefix there, and a sentinel would let e.g. a compaction
        // rebase over the restore and resurrect pre-restore rows. The
        // prefix union streams off both versions' folds: O(live
        // partitions) driver state, never two file lists.
        val s = scala.collection.mutable.Set.empty[String]
        def prefixesOf(v: Long): Unit =
          StoreLog.foldFiles(path, v)(()) { (_, e) =>
            val i = e.path.lastIndexOf('/')
            s += (if (i > 0) e.path.substring(0, i) else e.path)
          }
        prefixesOf(curV); prefixesOf(toVersion)
        // streamed checkpoint commit: the target's live state — files,
        // stats, sizes, and its EXACT deletion-vector set (shedding
        // newer vectors even for files live in both versions) — without
        // materializing either snapshot's maps
        StoreLog.restoreCommit(path, curV, toVersion, s.toSeq.sorted)
      }
    }

  /** Z-ORDER the live files of a logged store: rewrite them clustered on
    * the interleaved-bit Morton value of `clusterCols` (equi-depth
    * quantile buckets — [[graft.functions.ZOrder]]) and swap the whole
    * set in ONE CAS-committed manifest version. The multi-dimensional
    * layout verb (Delta `OPTIMIZE ZORDER BY` / Iceberg sort-order
    * rewrite): a store written range-sorted on (uid, ts) carries tight
    * per-file bounds on ts alone — a query keyed on ANY other column
    * (a user id, a merge key, a metric range) prunes nothing and scans
    * the store. After z-ordering on k columns, every file is local in
    * ALL k dimensions, so [[FileStats]] manifest pruning and parquet
    * row-group stats both engage for any of them (~N^((k-1)/k) of the
    * files admit a point predicate instead of all N).
    *
    * Scale shape: one `approxQuantile` sampling pass (driver gets
    * O(buckets) literals per column), then ONE shuffle
    * (`repartitionByRange` on the Z value) and a sorted write — the
    * same IO budget as a full compaction, which this also is (small
    * files collapse into `maxRecordsPerFile`-bounded chunks). Replaced
    * chunks stay readable `asOf` pre-rewrite versions until [[vacuum]].
    *
    * Concurrency mirrors [[compactPartitions]]: a concurrent APPEND
    * serializes cleanly (its files survive the rebase un-replaced); a
    * concurrent commit that REPLACED a touched partition aborts with
    * [[StoreLog.CommitConflict]] — rewriting its dead files would
    * resurrect replaced rows. Z-order is a maintenance op; callers skip
    * an aborted pass and retry later.
    *
    * `scope` bounds the rewrite to the NAMED partition prefixes (the
    * Delta `OPTIMIZE ... WHERE` role, resolved to prefixes — see
    * [[partitionPrefixesWhere]] for the predicate face): at 100 TB you
    * re-cluster yesterday's partitions, not the decade. Out-of-scope
    * files are untouched on disk and un-replaced in the manifest (their
    * partitions never even enter the rebase conflict set, so a writer
    * landing elsewhere serializes cleanly past a scoped pass); empty =
    * whole store. A scope naming no live files is a no-op.
    *
    * Returns the committed version (the store's current version when it
    * has no live files).
    */
  def zorder(spark: SparkSession, path: String, clusterCols: Seq[String],
             uidCols: Seq[String],
             buckets: Int = 256,
             maxRecordsPerFile: Long = GraftBatchWrite.MaxRecordsPerFile,
             numChunks: Int = 0,
             scope: Seq[String] = Nil,
             incremental: Boolean = false): Long = {
    require(clusterCols.nonEmpty, "zorder needs at least one cluster column")
    require(uidCols.nonEmpty, "zorder needs the store's partition columns")
    require(scope.isEmpty || !incremental,
      "incremental zorder covers the whole store — name a scope OR pass incremental")
    // maintenance reads the MAIN view (under a branch the tip may be
    // the branch's); marker props read at the TIP — the freshest store
    // properties
    val tipV = StoreLog.latestVersion(path)
      .getOrElse(StoreLog.ensure(path).version)
    val baseV = StoreLog.mainVersionAt(path, tipV)
    val props0 = StoreLog.propsAt(path, tipV)
    // INCREMENTAL (the liquid-clustering role): rewrite only files
    // added since the recorded marker — the walk reads each commit's
    // raw add/remove record (txn checkpoints keep it raw; a
    // record-less version — legacy checkpoint, restore — falls back to
    // one live-set diff), skipping the adds of PREVIOUS cluster
    // commits (their tag marks them — a pass must not churn its own
    // output). Marker soundness needs no append fencing: the marker is
    // the pass's BASE version, so files landing during the commit
    // window commit at higher versions and join the next pass's walk.
    val marker: Option[Long] =
      if (!incremental) None
      else props0.get(ClusterVersionProp).flatMap(m =>
        scala.util.Try(m.toLong).toOption)
          .filter(_ => props0.get(ClusterColsProp)
            .contains(clusterCols.mkString(",")))
    val incrTargets: Option[Seq[String]] = marker.map { m =>
      val added = scala.collection.mutable.LinkedHashSet.empty[String]
      var v = m + 1
      var raw = true
      while (raw && v <= tipV) {
        // a BRANCH-era version's raw record reflects the tip's view
        // FLIPS (zig-zag deltas), not main's semantic changes — one
        // live-set diff answers instead (conservative: re-clusters at
        // worst; never misses a main file a flip commit removed last)
        if (StoreLog.propsAt(path, v).contains(StoreLog.MainRefProp))
          raw = false
        else StoreLog.rawDelta(path, v) match {
          case Some((add, rm, _)) =>
            rm.foreach(added -= _)
            // skip ONLY the output of passes clustered on THESE columns
            // (the tag encodes them — see [[clusterTag]]): a scoped or
            // different-column pass's files are NOT clustered on the
            // marker's columns and must rejoin the walk. Legacy
            // uuid-suffixed tags never match — re-clustered once,
            // conservatively.
            if (!StoreLog.tagAt(path, v).contains(clusterTag(clusterCols)))
              added ++= add
          case None => raw = false // record-less version: diff instead
        }
        v += 1
      }
      if (raw) added.toSeq
      else {
        // fallback: files live now that were not live at the marker —
        // O(store paths) driver memory, only on restore/legacy chains
        val atMarker = StoreLog.foldFiles(path, m)(
          scala.collection.mutable.HashSet.empty[String])((s, e) => { s += e.path; s })
        StoreLog.foldFiles(path, baseV)(Vector.empty[String])((a, e) =>
          if (atMarker.contains(e.path)) a else a :+ e.path)
      }
    }
    if (incrTargets.exists(_.isEmpty)) return baseV // nothing new since marker
    def prefixOf(f: String): String = {
      val i = f.lastIndexOf('/')
      require(i > 0, s"live file '$f' is not under a partition directory")
      f.substring(0, i)
    }
    // SCOPED resolution: a prefix-bounded or incremental re-cluster
    // against a million-file store materializes only its targets (a
    // whole-store pass is O(store) by definition — its rewrite IS the
    // store — so it keeps the full resolve)
    val incrSet = incrTargets.map(_.toSet)
    val resolvePrefixes =
      incrTargets.map(_.map(prefixOf).distinct).getOrElse(scope)
    val base =
      if (resolvePrefixes.nonEmpty &&
          StoreLog.liveFileCount(path, baseV) >= StoreLog.LazySnapshotThreshold)
        StoreLog.readFiltered(path, baseV, resolvePrefixes)(e =>
          incrSet.forall(_.contains(e.path)))
      else StoreLog.read(path, baseV)
    if (base.files.isEmpty) return base.version
    val scopeSet = scope.toSet
    val targetFiles = incrSet match {
      case Some(ts) => base.files.filter(ts.contains)
      case None if scope.isEmpty => base.files
      case None => base.files.filter(f => scopeSet(prefixOf(f)))
    }
    if (targetFiles.isEmpty) return base.version
    val prefixes: Seq[String] = targetFiles.map(prefixOf).distinct
    val rows = readFilesDv(spark, path, base, targetFiles)
    val bs = graft.functions.ZOrder.boundaries(rows, clusterCols, buckets)
    val z = graft.functions.ZOrder.zValue(bs, clusterCols)
    // Explicit partition count (AQE would coalesce a default-count range
    // exchange, collapsing locality into giant tasks), and the sort key
    // leads with the PARTITION columns: the task writer opens one file
    // per run of a partition directory, so each file holds one z-sorted
    // run. The count is footer-only on parquet (no data pages).
    val n =
      if (numChunks > 0) numChunks
      else {
        // live row total from the MANIFEST when every target records
        // rows (commit-time footer stats minus dv cardinality — the
        // exact number rows.count() would return), saving a whole scan
        // job per pass; a store with any unrecorded file (legacy
        // adopted) falls back to the count
        val recorded = targetFiles.foldLeft(Option(0L)) {
          case (Some(acc), f) => base.liveRows(f).map(acc + _)
          case (None, _) => None
        }
        val total = recorded.getOrElse(rows.count())
        math.max(1, math.ceil(total.toDouble / maxRecordsPerFile).toInt)
      }
    val clustered = {
      val withZ = rows.withColumn("__z", z)
      val keys = uidCols.map(col) :+ col("__z")
      withZ.repartitionByRange(n, keys: _*)
        .sortWithinPartitions(keys: _*)
        .drop("__z")
    }
    // no ts column to guard: stored rows passed that check at their write
    val staged = GraftBatchWrite.stage(clustered, path, uidCols, tsCol = "",
      base.bloomCols, maxRecordsPerFile)
    StoreLog.withWriterLease(path) { lease =>
      val moved = staged.adopt()
      // transform commit: swap exactly the targets for the clustered
      // rewrite — O(rewrite footprint) on every attempt, no parent file
      // list. Conflict rules unchanged: an intervening commit REPLACING
      // a touched prefix aborts, appends serialize. Whole-store and
      // incremental passes advance the CLUSTER MARKER to their base
      // version (everything live there is clustered after this commit);
      // a scoped pass covers only its prefixes and leaves it alone. The
      // commit tag marks the adds as cluster OUTPUT so later
      // incremental walks skip them.
      val markerProps =
        if (incremental || scope.isEmpty)
          Map(ClusterColsProp -> clusterCols.mkString(","),
            ClusterVersionProp -> base.version.toString)
        else Map.empty[String, String]
      commitMaintenanceRewrite(path, lease, base.version, moved,
        replaced = prefixes, targets = targetFiles,
        tag = Some(clusterTag(clusterCols)),
        // z-clustered files are ordered by the interleave rank, NOT by
        // ts — the scan must stop claiming per-partition ts order
        extraProps = Map(GraftTable.LayoutSortedProp -> "false") ++ markerProps)
    }
  }

  /** Cluster-marker store properties ([[zorder]] incremental mode):
    * the version at which the whole store was last proven clustered on
    * [[ClusterColsProp]], and the commit-tag prefix that marks a
    * cluster pass's own output files (so incremental walks never churn
    * them).
    */
  val ClusterColsProp = "graft.cluster.cols"
  val ClusterVersionProp = "graft.cluster.v"
  val ClusterTagPrefix = "graft.zorder:"

  /** A cluster pass's commit tag: the prefix plus the CLUSTER COLUMNS —
    * so an incremental walk can tell "already clustered on my columns"
    * (skip) from a scoped/different-column pass's output (rejoin).
    */
  private[graft] def clusterTag(cols: Seq[String]): String =
    ClusterTagPrefix + cols.mkString(",")

  /** Resolve a partition-scope PREDICATE (a SQL boolean over the
    * store's partition columns — `"event_type = 'view'"`,
    * `"day >= '2024-06-01'"`) to the live partition PREFIXES it admits:
    * the selector behind scoped maintenance (`CALL system.zorder(...,
    * where)`, the Delta `OPTIMIZE ... WHERE` role). Manifest-only and
    * driver-side: one local row per LIVE PARTITION (never per file, and
    * no file IO), partition values directory-decoded with Spark's own
    * path unescaping (the Hive null sentinel decodes to NULL), typed as
    * strings and compared under Spark's usual implicit casts — `expr`
    * analysis gives predicate errors their natural message. The
    * `.collect()` is bounded by the live partition count by contract
    * (the same O(partitions) budget every prefix list in this file
    * carries).
    */
  def partitionPrefixesWhere(spark: SparkSession, snap: StoreLog.Snapshot,
                             where: String): Seq[String] =
    partitionPrefixesWhere(spark, snap.files.flatMap { f =>
      val i = f.lastIndexOf('/')
      if (i > 0) Some(f.substring(0, i)) else None
    }.distinct.sorted, where)

  /** Per-prefix (live file count, carries-a-deletion-vector) tallies,
    * STREAMED from the manifest chain — the compaction cue walk's
    * input, O(live prefixes) driver state on a million-file store
    * (the same budget [[dvDensePrefixesAt]] holds).
    */
  private[graft] def livePrefixStats(path: String, v: Long)
      : Map[String, (Int, Boolean)] = {
    val m = scala.collection.mutable.Map.empty[String, (Int, Boolean)]
    StoreLog.foldFiles(path, v)(()) { (_, e) =>
      val i = e.path.lastIndexOf('/')
      if (i > 0) {
        val p = e.path.substring(0, i)
        val (n, dv) = m.getOrElse(p, (0, false))
        m(p) = (n + 1, dv || e.dv.isDefined)
      }
    }
    m.toMap
  }

  /** [[partitionPrefixesWhere]] over an already-listed prefix set (the
    * streamed-cue callers' face — they hold the prefixes, never a
    * snapshot).
    */
  def partitionPrefixesWhere(spark: SparkSession, prefixes: Seq[String],
                             where: String): Seq[String] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    if (prefixes.isEmpty || where.trim.isEmpty) return prefixes
    val parsed: Seq[(String, Map[String, String])] = prefixes.map { p =>
      p -> p.split('/').toSeq.map { seg =>
        val j = seg.indexOf('=')
        require(j > 0, s"'$p' is not a partition directory prefix")
        ExternalCatalogUtils.unescapePathName(seg.substring(0, j)) ->
          ExternalCatalogUtils.unescapePathName(seg.substring(j + 1))
      }.toMap
    }
    val colNames = parsed.flatMap(_._2.keys).distinct
    val schema = StructType(
      colNames.map(StructField(_, StringType, nullable = true)) :+
        StructField("__prefix", StringType, nullable = false))
    val rows: java.util.List[Row] = parsed.map { case (p, m) =>
      Row.fromSeq(colNames.map(c => m.get(c)
        .filterNot(_ == ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
        .orNull) :+ p)
    }.asJava
    spark.createDataFrame(rows, schema)
      .filter(expr(where))
      .select("__prefix")
      .collect().map(_.getString(0)).toSeq.sorted
  }

  /** Change-feed read between two committed manifest versions — "what
    * changed from v_a to v_b, by merge key". The incremental-consumption
    * primitive a store CHAIN needs: a downstream stage applies the diff
    * instead of reprocessing the full live view (Delta CDF / Iceberg
    * incremental-read role, derived here purely from the manifest chain —
    * nothing extra is written at commit time).
    *
    * Returns the store's columns plus `change_type`:
    *   - `insert`: key live at `toV`, absent at `fromV` (the new row);
    *   - `update`: key live in both with a different (key, versionCol)
    *     pair (the `toV` row);
    *   - `delete`: key live at `fromV`, gone at `toV` (the OLD row, so a
    *     consumer knows what to take down).
    *
    * Scale shape: only the WINDOW's file diff is ever read — files added
    * between the versions and still live (`toV.files -- fromV.files`) on
    * the new side, files replaced/removed in the window
    * (`fromV.files -- toV.files`) on the old side. Files untouched by the
    * window's commits are in neither set, so the cost scales with what
    * the commits wrote, not the store (a 1 GB upsert against a 100 TB
    * store diffs ~2 GB whatever the store's size). Carried-over rows
    * (copy-on-write survivors rewritten with an UNCHANGED (key, version))
    * appear on both sides and cancel via an anti-join on the pair.
    *
    * Contract: the keyed-store invariants [[upsert]] maintains — one live
    * row per key, `versionCol` strictly increases when a key's payload
    * changes (a rewrite that changes a payload without bumping the
    * version is indistinguishable from a carried-over row and is
    * reported as unchanged).
    *
    * `preimages = true` additionally emits each updated key's OLD row as
    * `update_preimage` (the Delta CDF role) — what an incremental
    * aggregate consumer needs to SUBTRACT before adding the new row
    * ([[MatView]]); without it, updates are only additively visible.
    */
  def changes(spark: SparkSession, path: String, fromV: Long, toV: Long,
              keyCols: Seq[String], versionCol: String,
              preimages: Boolean = false): DataFrame = {
    require(keyCols.nonEmpty, "changes needs the store's merge-key columns")
    require(fromV <= toV, s"changes needs fromV <= toV, got $fromV > $toV")
    val fromSnap = StoreLog.read(path, fromV)
    val toSnap = StoreLog.read(path, toV)
    // each side reads through ITS OWN snapshot's deletion vectors, and a
    // file whose dv CHANGED inside the window (a merge-on-read delete —
    // no add/remove to diff) counts as replaced: read on BOTH sides, the
    // (key, version) anti-joins below cancel the survivors and emit the
    // newly-vectored rows as deletes. Each side also reads under ITS
    // snapshot's declared schema — the era's own columns
    def readFrom(fs: Seq[String]): DataFrame =
      readFilesDv(spark, path, fromSnap, fs)
    def readTo(fs: Seq[String]): DataFrame =
      readFilesDv(spark, path, toSnap, fs)
    val fromSet = fromSnap.files.toSet
    val toSet = toSnap.files.toSet
    val dvChanged = toSnap.files.filter(f =>
      fromSet(f) && fromSnap.dvs.get(f) != toSnap.dvs.get(f))
    val newFiles = toSnap.files.filterNot(fromSet) ++ dvChanged
    val goneFiles = fromSnap.files.filterNot(toSet) ++ dvChanged
    // empty diff → empty frame with the store's schema + change_type
    if (newFiles.isEmpty && goneFiles.isEmpty)
      return load(spark, path, asOf = Some(toV))
        .withColumn("change_type", lit("")).limit(0)
    val keyEq = keyCols.map(c => col(s"n.$c") <=> col(s"o.$c")).reduce(_ && _)
    (newFiles, goneFiles) match {
      case (nf, Nil) =>
        // pure append window: every row in the added files is an insert
        readTo(nf).withColumn("change_type", lit("insert"))
      case (Nil, gf) =>
        // pure removal window: every removed-file row's key is gone
        readFrom(gf).withColumn("change_type", lit("delete"))
      case (nf, gf) =>
        // PIN both sides ONCE (the shared-subtree rule, guide §5): the
        // insert/update/delete (+preimage) branches below fan `n` and
        // `o` into up to six join inputs, and each branch would
        // otherwise replay its side's whole readFilesDv lineage AND carry a duplicated subtree through
        // the optimizer — measured ~0.9 s of driver-side PLANNING per
        // MatView refresh before the pin, plus the repeated scans. Both
        // sides are bounded by the window's commit footprint, never the
        // store. localCheckpoint (not a recomputable
        // persist) is deliberate: it truncates the lineage so the
        // 6-branch plan optimizes over two leaf nodes — on executor
        // loss the QUERY retries, the price this site chooses. EAGER
        // (one job per side): AQE submits the branches' map stages over
        // a side at once, so a lazy pin has no single first consumer —
        // each concurrent stage's tasks carry the side's original lineage
        // and report its plan's metrics, which the driver may have
        // dropped by the time a later stage finishes (DAGScheduler:
        // "Failed to update accumulator … non-existent accumulator"); an
        // eager pin is cut before any consumer is planned.
        val n = readTo(nf).localCheckpoint()
        val o = readFrom(gf).localCheckpoint()
        // carried-over survivors cancel on the (key, version) pair
        val fresh = n.as("n").join(o.as("o"),
          keyEq && col(s"n.$versionCol") <=> col(s"o.$versionCol"), "left_anti")
        val oldKeys = o.select(keyCols.map(col): _*).distinct()
        val inserts = fresh.as("n").join(oldKeys.as("o"), keyEq, "left_anti")
          .withColumn("change_type", lit("insert"))
        val updates = fresh.as("n").join(oldKeys.as("o"), keyEq, "left_semi")
          .withColumn("change_type", lit("update"))
        val newKeys = n.select(keyCols.map(col): _*).distinct()
        val deletes = o.as("n").join(newKeys.as("o"), keyEq, "left_anti")
          .withColumn("change_type", lit("delete"))
        // an old row carries its era's columns: ones added since read
        // null on it
        val base = inserts.unionByName(updates)
          .unionByName(deletes, allowMissingColumns = true)
        if (!preimages) base
        else {
          // an updated key's OLD row: on the old side, not a carried-over
          // survivor (pair anti-join), key still live on the new side
          val oldFresh = o.as("n").join(n.as("o"),
            keyEq && col(s"n.$versionCol") <=> col(s"o.$versionCol"), "left_anti")
          val updatePre = oldFresh.as("n").join(newKeys.as("o"), keyEq, "left_semi")
            .withColumn("change_type", lit("update_preimage"))
          base.unionByName(updatePre, allowMissingColumns = true)
        }
    }
  }

  /** The snapshot a PREDICATE-scoped verb (dv/cow delete) works from:
    * stripe-lazily FILTERED to the may-match files past the lazy
    * threshold (their stats/sizes/dvs ride along — everything the find
    * scan and the dv union need), the ordinary full resolution below
    * it. The keep is the scan's own ([[FileStats.fileMayMatch]] under
    * the version's declared schema, whose partition types the pseudo-
    * stats need).
    */
  private def scopedBase(path: String, v: Long, pred: Column,
      extraKeep: Option[FileStats.FileStatsMap] => Boolean = _ => true)
      : StoreLog.Snapshot =
    if (StoreLog.liveFileCount(path, v) >= StoreLog.LazySnapshotThreshold) {
      val node = org.apache.spark.sql.GraftShim.predTree(pred)
      val declared = GraftTable.declaredIn(StoreLog.propsAt(path, v))
        .getOrElse(new org.apache.spark.sql.types.StructType())
      StoreLog.readFiltered(path, v)(e =>
        FileStats.fileMayMatch(e.path, e.stats, declared, node) && extraKeep(e.stats))
    } else StoreLog.read(path, v)

  /** Candidate-file count of the last keyed takedown's find scan —
    * observability seam for the digest-pruning specs only. PER-THREAD:
    * the takedown verbs run driver-side on the calling thread, so a
    * parallelized harness's concurrent takedowns can never interleave
    * each other's set/read (a process-global var could).
    */
  private val lastTakedownCandidatesTl: ThreadLocal[Integer] =
    ThreadLocal.withInitial(() => Integer.valueOf(-1))
  private[graft] def lastTakedownCandidates: Int =
    lastTakedownCandidatesTl.get().intValue()
  private[graft] def lastTakedownCandidates_=(n: Int): Unit =
    lastTakedownCandidatesTl.set(Integer.valueOf(n))

  /** The keyed takedown's MANIFEST-LEVEL key gate, over EVERY
    * digestable merge-key column: per column, 32-bit fingerprints of
    * the key set's distinct values in the column's stat domain —
    * probed against each candidate file's recorded distinct-value
    * digest ([[FileStats.ColStat.digest]]) so a SCATTERED takedown
    * (keys uncorrelated with the (uid, ts) layout, where the [min,max]
    * extent keeps everything) drops files BEFORE any footer opens.
    * Probing ALL key columns (column-independent AND — sound because a
    * present key tuple puts each component value in its column's
    * dictionary) closes the composite-key hole: a (coarse, fine) key
    * prunes on the FINE column's digest even though the coarse first
    * column matches every file. Timestamp keys probe as micros-
    * integral fingerprints. A column is skipped — no gate from it,
    * conservatively — when its domain is undigestable or its distinct
    * key count exceeds [[FileStats.DigestProbeMaxKeys]] (a purge that
    * size touches most files anyway).
    */
  private def keyProbe(k: DataFrame, keyCols: Seq[String])
      : Map[String, (String, java.util.HashSet[Integer])] = {
    import org.apache.spark.sql.types._
    val tagged: Seq[(String, String)] = keyCols.flatMap { keyCol =>
      (k.schema(keyCol).dataType match {
        case LongType | IntegerType | ShortType | ByteType => Some("i")
        case DateType => Some("d")
        case StringType => Some("s")
        case TimestampType => Some("ts")
        case TimestampNTZType => Some("tn")
        case _ => None
      }).map(keyCol -> _)
    }
    if (tagged.isEmpty) return Map.empty
    // ONE Spark action for every probed column: per-column distinct
    // sets as capped collect_set aggregates (cap+1 elements is the
    // over-cap sentinel), not one distinct()+collect() job per column —
    // a wide composite key must not multiply driver job latency.
    // collect_set drops nulls, matching the row-probe's null skip.
    val aggs = tagged.map { case (c, _) =>
      slice(collect_set(col(c)), 1, FileStats.DigestProbeMaxKeys + 1).as(c)
    }
    val row = k.agg(aggs.head, aggs.tail: _*).head()
    val out = Map.newBuilder[String, (String, java.util.HashSet[Integer])]
    tagged.zipWithIndex.foreach { case ((keyCol, tag), i) =>
      val vals = row.getSeq[Any](i)
      if (vals.length <= FileStats.DigestProbeMaxKeys) {
        val set = new java.util.HashSet[Integer](vals.length * 2)
        vals.foreach { a =>
          val v: Any = tag match {
            case "i" => a.asInstanceOf[Number].longValue()
            case "d" => org.apache.spark.sql.catalyst.util.DateTimeUtils
              .fromJavaDate(a.asInstanceOf[java.sql.Date]).toLong
            case "s" => a.asInstanceOf[String]
            case "ts" => org.apache.spark.sql.catalyst.util.DateTimeUtils
              .fromJavaTimestamp(a.asInstanceOf[java.sql.Timestamp])
            case "tn" => org.apache.spark.sql.catalyst.util.DateTimeUtils
              .localDateTimeToMicros(a.asInstanceOf[java.time.LocalDateTime])
          }
          set.add(FileStats.fingerprint(tag, v)); ()
        }
        out += keyCol -> ((tag, set))
      }
    }
    out.result()
  }

  /** File keep under the key probes: for EVERY probed column whose
    * recorded digest matches the probe's tag, at least one key
    * fingerprint must appear. An un-probed or un-digested column
    * contributes no gate (keeps), and an empty probe map keeps
    * everything — conservative at every fallback.
    */
  private def digestKeep(
      probes: Map[String, (String, java.util.HashSet[Integer])])(
      st: Option[FileStats.FileStatsMap]): Boolean =
    probes.forall { case (c, (tag, fps)) =>
      st.flatMap(_.get(c)) match {
        case Some(cs) if cs.digest != null && cs.tag == tag =>
          FileStats.digestMayContain(cs.digest, fps)
        case _ => true
      }
    }

  /** Read `files` of the store at `snap` — the one chokepoint every
    * internal read rides: the DSv2 scan ([[GraftScan]]) pinned to `snap`
    * restricted to `files`, so the snapshot's DELETION VECTORS filter
    * column batches (a vectored row can never resurrect through a
    * rewrite, a CDC diff, or a maintenance pass) and filters on the
    * frame prune files and row groups. The schema is `snap`'s version's
    * ([[GraftTable.resolveSchema]]) — its era's columns; files lacking
    * one read it as null.
    * `keepMeta` adds the scan's store-relative `_file` and the row's
    * parquet `_pos`: the file and row identities the delete verbs act on.
    */
  private[graft] def readFilesDv(spark: SparkSession, path: String,
      snap: StoreLog.Snapshot, files: Seq[String],
      keepMeta: Boolean = false): DataFrame = {
    val log = new StoreLog.Manifests(path)
    org.apache.spark.sql.GraftShim.ofRows(spark, scanPlan(spark, log, snap.version,
      GraftTable.resolveSchema(spark, log, snap.version), GraftTable.partCols(path),
      Some(snap.copy(files = files)), keepMeta))
  }

  /** The store at version `v` as a DSv2 relation over [[GraftScan]] (an
    * exact `pinned` snapshot, or `v` resolved at planning — stripe-lazily
    * under filters on a million-file store), unanalyzed. Columns come
    * back as a parquet read of the store infers them: data columns, then
    * partition columns (`parts`), under their PHYSICAL names — internal
    * rewrites of a renamed store write back what they read.
    */
  private def scanPlan(spark: SparkSession, log: StoreLog.Manifests, v: Long,
      schema: org.apache.spark.sql.types.StructType, parts: Seq[String],
      pinned: Option[StoreLog.Snapshot], keepMeta: Boolean): LogicalPlan = {
    val rel = org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation.create(
      new GraftTable(log.path, Some(v), schema, parts, "ts", pinned = pinned,
        manifests = Some(log)), None, None)
    val (partFields, dataFields) = schema.fields.toSeq.partition(f => parts.contains(f.name))
    def ref(n: String) = col(s"`${n.replace("`", "``")}`")
    val meta =
      if (keepMeta) Seq(col(GraftTable.FileColName), col(GraftTable.PosColName)) else Nil
    Project(((dataFields ++ partFields)
      .map(f => ref(f.name).as(GraftTable.physicalName(f))) ++ meta)
      .map(org.apache.spark.sql.GraftShim.named(spark, _)), rel)
  }

  /** The store as a DataFrame: the live (or `asOf`-versioned) snapshot
    * through [[scanPlan]] under that version's declared schema, so
    * filters on the frame prune partitions, manifest stats and row
    * groups before a footer opens. The one adapter for a directory
    * graft never wrote (no log yet; its first write adopts it): a plain
    * parquet read, one footer's schema unless the session sets
    * `spark.sql.parquet.mergeSchema`. A version with zero files and no
    * declared schema (the v1 a fresh-path upsert commits) surfaces as
    * UNABLE_TO_INFER_SCHEMA — deliberately the same AnalysisException
    * an empty directory read raises, which is what [[upsertPlan]]'s
    * empty-base catch keys on. A scheme without a commit backend is
    * refused ([[CommitIo.forPath]]).
    */
  def load(spark: SparkSession, path: String,
           asOf: Option[Long] = None): DataFrame =
    org.apache.spark.sql.GraftShim.ofRows(spark, loadPlan(spark, path, asOf))

  /** [[load]]'s plan, unanalyzed. One listing of the log names the tip;
    * each manifest the read touches after that is parsed once (one
    * [[StoreLog.Manifests]] serves the schema, the layout and the scan).
    */
  private def loadPlan(spark: SparkSession, path: String,
                       asOf: Option[Long]): LogicalPlan =
    StoreLog.latestVersion(path) match {
      case None if asOf.isEmpty =>
        org.apache.spark.sql.GraftShim.logicalPlan(spark.read.parquet(path))
      case tip =>
        val log = new StoreLog.Manifests(path)
        val v = asOf.getOrElse(log.mainAt(tip.get))
        val schema = GraftTable.resolveSchema(spark, log, v)
        scanPlan(spark, log, v, schema,
          tip.fold(Seq.empty[String])(GraftTable.partColsAt(log, _)),
          pinned = None, keepMeta = false)
    }

  /** Committed manifest versions of the store (empty before its first
    * write).
    */
  def versions(path: String): Seq[Long] = StoreLog.listVersions(path)

  /** Reclaim space: drop files no retained manifest references and
    * manifests beyond the newest `retainVersions` — the time-travel
    * window shrinks accordingly. Safe to run against live writers: the
    * adopt→commit danger window is covered by the writer-lease protocol
    * (see [[StoreLog.vacuum]]); a writer stalled past the lease window
    * without renewal loses that protection, by declaration.
    */
  def vacuum(path: String, retainVersions: Int = 1, retainMs: Long = 0L): Int = {
    // age out forgotten branches FIRST, so their pinned versions stop
    // counting as retention the same pass that reclaims them
    expireBranches(path)
    StoreLog.vacuum(path, retainVersions, retainMs)
  }

  /** Pin a manifest version under a NAME (the Iceberg tag role; the
    * Scala twin of `CALL system.tag`): a `graft.tag.<name>` metadata
    * commit. The tagged era stays readable (`load(asOf)`, `VERSION AS
    * OF '<name>'`) and [[vacuum]] retains it — manifest, data files,
    * dv sidecars, checkpoint-rewritten resolution chain — however far
    * it falls behind the retention window. Re-tagging a name moves it;
    * the default pins the CURRENT version. Returns the pinned version.
    */
  def tag(path: String, name: String, version: Option[Long] = None): Long = {
    require(name.nonEmpty && name.forall(c =>
        c.isLetterOrDigit || c == '_' || c == '-' || c == '.'),
      s"tag name '$name' must be [A-Za-z0-9_.-]+")
    // VERSION AS OF tries the numeric parse FIRST, so an all-digit tag
    // name would be silently shadowed by the manifest version of the
    // same number — refuse the foot-gun at creation
    require(!name.forall(_.isDigit),
      s"tag name '$name' is all digits — VERSION AS OF would read it " +
        "as a version number, shadowing the tag; include a letter")
    // metadata-only commit, but still CAS-raced by concurrent writer
    // churn — rebase-retry like every other commit path (a tag
    // serializes after ANY commit; only the pinned version's retention
    // must re-hold on the fresh base)
    metadataCommitWithRetry(path) { cur =>
      val v = version.getOrElse(cur.version)
      require(StoreLog.listVersions(path).contains(v),
        s"version $v is not a retained manifest version — vacuumed eras " +
          "cannot be tagged")
      (Map(s"${StoreLog.TagPropPrefix}$name" -> v.toString), v)
    }
  }

  /** The shared rebase-retry loop for METADATA-ONLY commits (tag,
    * drop_tag, branch verbs): re-read latest, recompute the props via
    * `propsOf` (which may re-validate against the fresh base and
    * throw), commit, retry on [[StoreLog.CommitConflict]]. A metadata
    * commit rebases trivially — it replaces nothing and carries the
    * parent's own file list — so concurrent writer churn must never
    * fail it spuriously.
    */
  private[sources] def metadataCommitWithRetry[T](path: String,
      filesOf: StoreLog.Snapshot => Seq[String] = _.files,
      dvsOf: StoreLog.Snapshot => Option[Map[String, Dv.Entry]] = _ => None)(
      propsOf: StoreLog.Snapshot => (Map[String, String], T)): T = {
    var attempts = 0
    while (true) {
      val cur = StoreLog.latest(path).getOrElse(
        throw new IllegalArgumentException(s"no manifest at $path"))
      val (props, result) = propsOf(cur)
      try {
        StoreLog.commit(path, cur.version, Seq.empty, filesOf(cur),
          parent = Some(cur), setProps = props, resetDvs = dvsOf(cur))
        return result
      } catch {
        case c: StoreLog.CommitConflict =>
          attempts += 1; if (attempts > 20) throw c
      }
    }
    sys.error("unreachable")
  }

  /** The ref-view base of an APPEND targeting `branch` (None = main)
    * against tip snapshot `cur` — the ref-aware half of the append
    * loops: under an active branch the tip's `files` may be the OTHER
    * ref's view, so the append resolves its target ref's files and
    * moves that ref's pointer to its own version in the same commit.
    * Returns (files, ref-advance props, carried stats, carried sizes,
    * dv reset): when the ref view is NOT the tip, the delta vs the tip
    * RE-ADDS the ref view's exclusive files, and their stats/sizes must
    * ride the commit or the zig-zag silently strips the planner's index
    * from every interleaved append (the manifest serializes a delta's
    * stats for its ADDED slice from exactly this map). The DV RESET is
    * the deletion-vector twin: since branch-targeted DML exists, the
    * two views' dv states can DIVERGE (a branch takedown vectors a file
    * both views share) — a commit inheriting the TIP's dv map would
    * leak the other ref's deletions into this ref's view, so when the
    * states differ the commit must exact-reset to the ref view's own
    * map (a checkpoint manifest; only paid when they actually diverged
    * — plain WAP append flows never do). Branchless stores pay nothing
    * (tip files, no props, empty carriage, no reset).
    */
  private[graft] def refAppendBase(path: String, cur: StoreLog.Snapshot,
      branch: Option[String]): (Seq[String], Map[String, String],
      Map[String, FileStats.FileStatsMap], Map[String, Long],
      Option[Map[String, Dv.Entry]]) = {
    def resolve(v: Long, props: Map[String, String])
        : (Seq[String], Map[String, String],
           Map[String, FileStats.FileStatsMap], Map[String, Long],
           Option[Map[String, Dv.Entry]]) =
      if (v == cur.version) (cur.files, props, Map.empty, Map.empty, None)
      else {
        val ref = StoreLog.read(path, v)
        // the dv state the commit would DEFAULT to (tip's map filtered
        // to the ref view's live files) vs the ref view's own — reset
        // only on genuine divergence
        val live = ref.files.toSet
        val inherited = cur.dvs.filter { case (f, _) => live(f) }
        val reset = if (inherited == ref.dvs) None else Some(ref.dvs)
        (ref.files, props, ref.stats, ref.sizes, reset)
      }
    branch match {
      case Some(b) =>
        val bv = cur.props.get(StoreLog.BranchPropPrefix + b)
          .flatMap(_.toLongOption).getOrElse(
            throw new IllegalArgumentException(
              s"no branch '$b' at $path (TsStore.branch / CALL " +
                "system.branch creates one)"))
        resolve(bv,
          Map(StoreLog.BranchPropPrefix + b -> (cur.version + 1).toString,
            // branch activity: advance the age-expiry touch stamp
            StoreLog.BranchTouchPrefix + b ->
              System.currentTimeMillis().toString))
      case None =>
        cur.props.get(StoreLog.MainRefProp).flatMap(_.toLongOption) match {
          case Some(mv) =>
            resolve(mv, Map(StoreLog.MainRefProp -> (cur.version + 1).toString))
          case None => (cur.files, Map.empty, Map.empty, Map.empty, None)
        }
    }
  }

  /** The leased commit loop for BRANCH-TARGETED DML — the write-audit-
    * publish gap-closer: a CDC batch (partition-replacing upsert) or a
    * keyed/predicate takedown (deletion vectors) lands ON a branch,
    * invisible to every main-facing read face, and [[publishBranch]]
    * fast-forwards the result atomically (re-audited against current
    * constraints) or [[dropBranch]] abandons it, vectors included.
    *
    * The commit's `files` is the NEW BRANCH VIEW (replaced-prefix files
    * dropped when `removeUnder`, staged files added) — main readers
    * resolve through their own pin, so the tip flip is invisible; the
    * target ref's pointer advances in the same commit, and the dv state
    * exact-resets to the branch view's whenever inheritance from the
    * tip would leak the other ref's vectors. Concurrency is the honest
    * WAP contract: a CAS loss against MAIN commits rebases transparently
    * (the branch pin did not move), while ANY other commit that moved
    * THIS branch's pin since the operation read its view aborts — the
    * rewrite/find was computed against a superseded branch head, and
    * branch feeds are single-writer by design. The branch vanishing
    * mid-flight (published or dropped) aborts too. `replaced` names the
    * touched prefixes, so a stale main-side writer rebasing across the
    * published era finds the conflict in this commit's own record.
    */
  private def branchDmlCommit(path: String, lease: StoreLog.WriterLease,
      b: String, bv0: Long, moved: GraftWriteTaskResult, prefixes: Seq[String],
      removeOf: StoreLog.Snapshot => Seq[String],
      addDvs: Map[String, Dv.Entry],
      boundChecks: Option[Seq[Constraints.Check]],
      schemaForWiden: Option[org.apache.spark.sql.types.StructType]): Long = {
    def abort(why: String): Nothing = {
      StoreLog.deleteDataFiles(path, moved.files)
      throw new StoreLog.CommitConflict(why)
    }
    var attempts = 0
    while (true) {
      lease.renew()
      val cur = StoreLog.latest(path).getOrElse(
        abort(s"no manifest at $path"))
      boundChecks.foreach { bc =>
        val added = Constraints.addedSince(bc, cur.props)
        if (added.nonEmpty)
          abort(s"CHECK constraint(s) ${added.map(_.name).mkString(", ")} " +
            s"added concurrently at $path — the staged rows were never " +
            "validated against them; re-run the write")
      }
      val bvNow = cur.props.get(StoreLog.BranchPropPrefix + b)
        .flatMap(_.toLongOption).getOrElse(abort(
          s"branch '$b' at $path was published or dropped mid-operation — " +
            "the staged change has no target; re-run against main or a " +
            "fresh branch"))
      if (bvNow != bv0)
        abort(s"branch '$b' at $path moved (v$bv0 → v$bvNow) since this " +
          "operation read its view — re-run against the new branch head")
      val bSnap = if (bvNow == cur.version) cur else StoreLog.read(path, bvNow)
      val rm = removeOf(bSnap).toSet
      val newFiles = bSnap.files.filterNot(rm) ++ moved.files
      val live = newFiles.toSet
      val desired = (bSnap.dvs ++ addDvs).filter { case (f, _) => live(f) }
      val inherited = (cur.dvs ++ addDvs).filter { case (f, _) => live(f) }
      val dvReset = if (inherited == desired) None else Some(desired)
      val (carryStats, carrySizes) =
        if (bvNow == cur.version)
          (Map.empty[String, FileStats.FileStatsMap], Map.empty[String, Long])
        else (bSnap.stats, bSnap.sizes)
      try {
        return StoreLog.commit(path, cur.version, prefixes.sorted, newFiles,
          parent = Some(cur),
          addStats = carryStats ++ moved.stats,
          addSizes = carrySizes ++ moved.sizes,
          addDvs = addDvs, resetDvs = dvReset,
          setProps = schemaForWiden.fold(Map.empty[String, String])(sc =>
            GraftTable.widenedSchemaProp(path, cur.version, cur.props, sc, moved.files)) +
            (StoreLog.BranchPropPrefix + b -> (cur.version + 1).toString) +
            // branch activity: advance the age-expiry touch stamp
            (StoreLog.BranchTouchPrefix + b ->
              System.currentTimeMillis().toString))
      } catch {
        case c: StoreLog.CommitConflict =>
          attempts += 1
          if (attempts > 20)
            abort(s"gave up after $attempts commit attempts at $path: ${c.getMessage}")
      }
    }
    sys.error("unreachable")
  }

  /** Validate a ref/tag name (shared rules: tag charset, no all-digit
    * shadowing of VERSION AS OF's numeric parse).
    */
  private def validRefName(name: String, kind: String): Unit = {
    require(name.nonEmpty && name.forall(c =>
        c.isLetterOrDigit || c == '_' || c == '-' || c == '.'),
      s"$kind name '$name' must be [A-Za-z0-9_.-]+")
    require(!name.forall(_.isDigit),
      s"$kind name '$name' is all digits — VERSION AS OF would read it " +
        s"as a version number, shadowing the $kind; include a letter")
  }

  /** Create a WRITABLE BRANCH at the current MAIN version (the Iceberg
    * branch / write-audit-publish pattern — see
    * [[StoreLog.MainRefProp]]): from here, `TsStore.write(branch =
    * Some(name))` / the streaming sink's `branch` option append to the
    * branch invisibly to main readers; [[publishBranch]] audits and
    * fast-forwards main atomically; [[dropBranch]] abandons. Vacuum
    * retains both refs' pinned versions like tags. Returns the branch's
    * base (= current main) version.
    */
  def branch(path: String, name: String,
             expireMs: Option[Long] = None): Long = {
    validRefName(name, "branch")
    expireMs.foreach(ms => require(ms >= 0, "branch expireMs must be >= 0"))
    metadataCommitWithRetry(path) { cur =>
      require(!cur.props.contains(s"${StoreLog.BranchPropPrefix}$name"),
        s"branch '$name' already exists at $path")
      require(!cur.props.contains(s"${StoreLog.TagPropPrefix}$name"),
        s"'$name' is a tag at $path — tags and branches share the " +
          "VERSION AS OF namespace")
      val mv = cur.props.get(StoreLog.MainRefProp).flatMap(_.toLongOption)
        .getOrElse(cur.version)
      val refs = Map(
        s"${StoreLog.BranchPropPrefix}$name" -> mv.toString,
        s"${StoreLog.BranchBasePrefix}$name" -> mv.toString,
        s"${StoreLog.BranchTouchPrefix}$name" ->
          System.currentTimeMillis().toString) ++
        expireMs.map(ms =>
          s"${StoreLog.BranchExpirePrefix}$name" -> ms.toString) ++
        (if (cur.props.contains(StoreLog.MainRefProp)) Map.empty
         else Map(StoreLog.MainRefProp -> mv.toString))
      (refs, mv)
    }
  }

  /** Drop every branch whose idle age — time since creation or the
    * latest branch-targeted commit ([[StoreLog.BranchTouchPrefix]]) —
    * exceeds its declared expiry ([[branch]]'s `expireMs`; the Iceberg
    * ref-aging role): a forgotten branch otherwise pins its versions
    * against [[vacuum]] and holds maintenance-overlap proofs open
    * forever. Branches without a declared expiry never expire; an
    * ACTIVE branch's touch stamp advances with every branch commit, so
    * it never expires while in use (maintenance rebases deliberately do
    * NOT touch — they are main's activity, not the branch's). Returns
    * the dropped names. Runs automatically at the head of [[vacuum]].
    */
  def expireBranches(path: String,
      nowMs: Long = System.currentTimeMillis()): Seq[String] = {
    val v = StoreLog.latestVersion(path).getOrElse(return Nil)
    val props = StoreLog.propsAt(path, v)
    val expired = props.toSeq.collect {
      case (k, ms) if k.startsWith(StoreLog.BranchExpirePrefix) &&
          ms.toLongOption.isDefined =>
        k.stripPrefix(StoreLog.BranchExpirePrefix) -> ms.toLong
    }.filter { case (b, expMs) =>
      props.contains(StoreLog.BranchPropPrefix + b) &&
        props.get(StoreLog.BranchTouchPrefix + b).flatMap(_.toLongOption)
          .exists(t => nowMs - t > expMs)
    }.map(_._1).sorted
    expired.filter { b =>
      // a racing publish/drop beat us to it — that IS the branch
      // ending; either way only branches actually GONE are reported
      // (a swallowed CAS storm must not read as a successful expiry)
      try { dropBranch(path, b); true }
      catch { case scala.util.control.NonFatal(_) => false }
    }
  }

  /** Abandon a branch: its head's files become unreferenced (a later
    * [[vacuum]] reclaims whatever fell outside retention). The commit
    * restores MAIN's file list when it releases the last ref, so the
    * tip's live view is main's again.
    */
  def dropBranch(path: String, name: String): Unit = {
    def mainRestore(cur: StoreLog.Snapshot): Option[StoreLog.Snapshot] = {
      // from cur.props (the attempt's own base), never a fresh
      // listing a concurrent commit could skew mid-attempt
      val lastBranch = cur.props.keys
        .count(_.startsWith(StoreLog.BranchPropPrefix)) <= 1
      val mv = cur.props.get(StoreLog.MainRefProp).flatMap(_.toLongOption)
      if (lastBranch && mv.isDefined && mv.get != cur.version)
        Some(StoreLog.read(path, mv.get))
      else None
    }
    metadataCommitWithRetry(path,
      filesOf = cur => mainRestore(cur).map(_.files).getOrElse(cur.files),
      // restoring main's view restores its DV STATE too: an abandoned
      // branch takedown's vectors must die with the branch (exact
      // reset only when the maps genuinely diverged)
      dvsOf = cur => mainRestore(cur).flatMap { m =>
        val live = m.files.toSet
        val inherited = cur.dvs.filter { case (f, _) => live(f) }
        if (inherited == m.dvs) None else Some(m.dvs)
      }) { cur =>
      require(cur.props.contains(s"${StoreLog.BranchPropPrefix}$name"),
        s"no branch '$name' at $path")
      val remaining =
        cur.props.keys.count(_.startsWith(StoreLog.BranchPropPrefix)) > 1
      ((Map(
        s"${StoreLog.BranchPropPrefix}$name" -> "",
        s"${StoreLog.BranchBasePrefix}$name" -> "",
        s"${StoreLog.BranchExpirePrefix}$name" -> "",
        s"${StoreLog.BranchTouchPrefix}$name" -> "") ++
        (if (remaining) Map.empty
         else Map(StoreLog.MainRefProp -> ""))), ())
    }
  }

  /** WRITE-AUDIT-PUBLISH's publish: validate the branch head against
    * the table's CURRENT constraints (CHECK + NOT NULL — one
    * stop-at-first-violation scan each over the branch view), then ONE
    * CAS commit whose `files` IS the branch view fast-forwards main and
    * releases the branch. Refuses when main moved since the branch was
    * created (diverged — like any rebase conflict) or when the audit
    * finds a violation. Returns the published (new main) version.
    */
  def publishBranch(spark: SparkSession, path: String, name: String): Long = {
    var attempts = 0
    while (true) {
      val cur = StoreLog.latest(path).getOrElse(
        throw new IllegalArgumentException(s"no manifest at $path"))
      val bv = cur.props.get(s"${StoreLog.BranchPropPrefix}$name")
        .flatMap(_.toLongOption).getOrElse(throw new IllegalArgumentException(
          s"no branch '$name' at $path"))
      val base = cur.props.get(s"${StoreLog.BranchBasePrefix}$name")
        .flatMap(_.toLongOption).getOrElse(bv)
      val mv = cur.props.get(StoreLog.MainRefProp).flatMap(_.toLongOption)
        .getOrElse(cur.version)
      require(mv == base,
        s"cannot publish branch '$name' at $path: main moved since the " +
          s"branch was created (v$base → v$mv) — diverged; re-create the " +
          "branch from current main and replay")
      // the AUDIT: the branch's rows were guarded per append against the
      // then-current constraint set; publish re-certifies the whole
      // branch view against the set AS OF NOW, so main's whole-table
      // invariants survive the fast-forward even if constraints landed
      // after the branch's writes
      val checks = Constraints.effective(cur.props)
      if (checks.nonEmpty) {
        val view = load(spark, path, asOf = Some(bv))
        checks.foreach { c =>
          val bad = view.filter(org.apache.spark.sql.functions.not(
            org.apache.spark.sql.functions.coalesce(
              org.apache.spark.sql.functions.expr(c.sql)
                .cast(org.apache.spark.sql.types.BooleanType),
              org.apache.spark.sql.functions.lit(true))))
            .limit(1).count()
          require(bad == 0L,
            s"publish audit failed for branch '$name' at $path: rows " +
              s"violate constraint '${c.name}' (${c.sql}) — fix the branch " +
              "or drop it")
        }
      }
      val bSnap = if (bv == cur.version) cur else StoreLog.read(path, bv)
      val bFiles = bSnap.files
      val remaining =
        cur.props.keys.count(_.startsWith(StoreLog.BranchPropPrefix)) > 1
      val v = cur.version + 1
      val refs = Map(
        s"${StoreLog.BranchPropPrefix}$name" -> "",
        s"${StoreLog.BranchBasePrefix}$name" -> "",
        s"${StoreLog.BranchExpirePrefix}$name" -> "",
        s"${StoreLog.BranchTouchPrefix}$name" -> "") ++
        (if (remaining) Map(StoreLog.MainRefProp -> v.toString)
         else Map(StoreLog.MainRefProp -> ""))
      // publish's dv state is the BRANCH VIEW's exactly: a branch
      // takedown's vectors must land on main with the fast-forward, and
      // an inherited tip map would carry the wrong ref's entries (exact
      // reset — checkpoint — only when they genuinely differ)
      val bLive = bFiles.toSet
      val dvReset =
        if (cur.dvs.filter { case (f, _) => bLive(f) } == bSnap.dvs) None
        else Some(bSnap.dvs)
      // (no `replaced` record: branch-era DML commits carry their own
      // prefix records, which is where a stale writer's rebase walk
      // finds them — the fast-forward itself replaces nothing)
      try {
        StoreLog.commit(path, cur.version, Seq.empty, bFiles,
          parent = Some(cur), setProps = refs, resetDvs = dvReset)
        return v
      } catch {
        case c: StoreLog.CommitConflict =>
          // retry re-reads everything: a concurrent MAIN append moves
          // the ref and the divergence check above then refuses
          attempts += 1; if (attempts > 20) throw c
      }
    }
    sys.error("unreachable")
  }

  /** The store's live branches: name → head version. */
  def listBranches(path: String): Map[String, Long] = StoreLog.branches(path)

  /** Remove a named tag — its version rejoins the ordinary vacuum
    * retention window.
    */
  def dropTag(path: String, name: String): Unit =
    metadataCommitWithRetry(path) { cur =>
      require(cur.props.contains(s"${StoreLog.TagPropPrefix}$name"),
        s"no tag '$name' at $path")
      (Map(s"${StoreLog.TagPropPrefix}$name" -> ""), ())
    }

  /** The store's named tags: name → pinned version. */
  def tags(path: String): Map[String, Long] = StoreLog.namedTags(path)

  /** Sliced read — the reference's core entry point (`Corintick.read`):
    * uid + inclusive time range + column projection. All three conditions
    * are declarative predicates/projections, so Catalyst pushes them to
    * the parquet scan (partition pruning on uid, row-group skipping on
    * ts, column pruning) — the Spark analog of the Mongo
    * `{uid, start:{$lte:e}, end:{$gte:s}}` index scan + projection doc.
    */
  def read(spark: SparkSession, path: String,
           uid: Option[(String, Any)] = None,
           tsCol: String = "ts",
           start: Option[java.sql.Timestamp] = None,
           end: Option[java.sql.Timestamp] = None,
           columns: Seq[String] = Seq.empty,
           meta: Map[String, Any] = Map.empty,
           asOf: Option[Long] = None): DataFrame = {
    // the reference's dynamic-schema read (SURVEY §1.1: chunks of one uid
    // may carry different column sets; read reassembles the union,
    // missing columns → null/NaN) is every read here: the declared
    // schema is the union (a directory graft never wrote merges its
    // footers under `spark.sql.parquet.mergeSchema`, see [[load]]).
    // `asOf` time-travels the store to the named manifest version
    // (upserted-away rows come back; requires the version inside the
    // vacuum retention window).
    val preds: Seq[Column] =
      uid.map { case (c, v) => col(c) === lit(v) }.toSeq ++
      start.map(s => col(tsCol) >= lit(s)) ++
      end.map(e => col(tsCol) <= lit(e)) ++
      // metadata key/values ≙ corintick's **meta kwargs on read: plain
      // equality predicates on attribute columns, pushed to the scan.
      meta.map { case (c, v) => col(c) === lit(v) }
    // the same predicates prune FILES in the scan via the manifest's
    // recorded bounds (a ts-slice on a many-file store opens only
    // time-overlapping files) and then filter ROWS on what remains;
    // one filter over their conjunction optimizes to the plan one filter
    // per predicate would, and the whole read is one plan, analyzed once
    val stored = loadPlan(spark, path, asOf)
    val filtered = preds.reduceOption(_ && _)
      .fold(stored)(p => Filter(org.apache.spark.sql.GraftShim.expression(spark, p), stored))
    org.apache.spark.sql.GraftShim.ofRows(spark,
      if (columns.nonEmpty)
        Project(columns.map(c => org.apache.spark.sql.GraftShim.named(spark, col(c))), filtered)
      else filtered)
  }

  /** Catalog listing ≙ `Corintick.list_uids` (Mongo $group aggregation):
    * per-series row count and time extent. Map-side partial aggregation
    * makes this a single cheap shuffle at any scale.
    */
  def listSeries(df: DataFrame, uidCol: String, tsCol: String = "ts"): DataFrame =
    df.groupBy(col(uidCol))
      .agg(count(lit(1)).as("n_rows"),
           min(col(tsCol)).as("ts_min"),
           max(col(tsCol)).as("ts_max"))
      .orderBy(col(uidCol))
}
