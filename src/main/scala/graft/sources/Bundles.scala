package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Instance facade over [[TsStore]] mirroring the reference's client
  * object model (`corintick/corintick.py::Corintick`): a base path plays
  * the MongoDB database, a named **collection** (bundle) per series
  * frequency/source plays a Mongo collection — here a subdirectory
  * holding one partitioned parquet dataset. A user of the reference maps
  * 1:1:
  *
  * {{{
  * val ct = new Bundles(spark, "/data/ticks")          // Corintick(config)
  * ct.write("AAPL", df)                                 // ct.write(uid, df)
  * ct.read("AAPL", start = ..., end = ...,
  *         columns = Seq("bid", "ask"))                 // ct.read(...)
  * ct.listUids()                                        // ct.list_uids()
  * }}}
  *
  * Series metadata travels as ordinary columns (so it is filterable by
  * predicate pushdown); the uid is a partition column (`__uid`), giving
  * the `(uid, start, end)`-index behavior via partition pruning +
  * row-group stats. A collection is a manifest-logged [[TsStore]] from
  * its first write; a collection directory written before that is
  * adopted by its first write or maintenance verb ([[StoreLog.ensure]]).
  */
class Bundles(spark: SparkSession, basePath: String,
              defaultCollection: String = "default") {

  private def dir(collection: String) = s"$basePath/$collection"

  val UidCol = "__uid"

  /** Write one named series (appends as new files of the uid partition).
    *
    * `allowNewColumns = true` opts into the reference's dynamic-schema
    * behavior (chunks of one series may carry different column sets;
    * SURVEY §1.1): the append-time schema-drift guard is relaxed to a
    * type-compatibility check on the SHARED columns only. Reads carry
    * the union the collection's declared schema holds (absent columns
    * come back null — the NaN analog).
    */
  def write(uid: String, df: DataFrame, collection: String = defaultCollection,
            tsCol: String = "ts",
            mode: SaveMode = SaveMode.Append,
            metadata: Map[String, Any] = Map.empty,
            allowNewColumns: Boolean = false,
            overlapPolicy: TsStore.OverlapPolicy = TsStore.OverlapPolicy.Warn): Unit = {
    var tagged = df.withColumn(UidCol, org.apache.spark.sql.functions.lit(uid))
    metadata.foreach { case (k, v) =>
      // constrain metadata to literal-able scalar types up front — lit()
      // on anything else throws an opaque runtime exception mid-write
      val c = v match {
        case x: String  => org.apache.spark.sql.functions.lit(x)
        case x: Int     => org.apache.spark.sql.functions.lit(x)
        case x: Long    => org.apache.spark.sql.functions.lit(x)
        case x: Double  => org.apache.spark.sql.functions.lit(x)
        case x: Boolean => org.apache.spark.sql.functions.lit(x)
        case other => throw new IllegalArgumentException(
          s"metadata '$k': unsupported type ${other.getClass.getName} " +
            "(use String/Int/Long/Double/Boolean)")
      }
      tagged = tagged.withColumn(k, c)
    }
    // appending a chunk whose column set diverges from the existing
    // collection would silently produce per-file schema drift; fail fast
    // unless the caller opted into dynamic schemas — then only verify the
    // SHARED columns agree on type (a silent type conflict would fail
    // far away, at merge-read time, with an opaque error). The
    // collection's schema is its declaration: the union of its chunks,
    // O(1) to read (a directory without a log reads one footer).
    if (mode == SaveMode.Append) {
      try {
        val existing = TsStore.load(spark, dir(collection)).schema
        val incoming = tagged.schema
        if (!allowNewColumns) {
          require(existing.fieldNames.toSet == incoming.fieldNames.toSet,
            s"schema drift on append to '$collection': existing=${existing.fieldNames.sorted
              .mkString(",")} incoming=${incoming.fieldNames.sorted.mkString(",")} " +
              "(pass allowNewColumns = true for dynamic-schema collections)")
        }
        val exTypes = existing.fields.map(f => f.name -> f.dataType).toMap
        incoming.fields.foreach { f =>
          exTypes.get(f.name).foreach { t =>
            require(t == f.dataType,
              s"type conflict on append to '$collection': column '${f.name}' " +
                s"is $t in the collection but ${f.dataType} in the chunk")
          }
        }
      } catch { case _: org.apache.spark.sql.AnalysisException => () /* first write */ }
    }
    TsStore.write(tagged, dir(collection), tsCol = tsCol,
      uidCols = Seq(UidCol), mode = mode, overlapPolicy = overlapPolicy)
  }

  /** Sliced read of one series: uid + inclusive range + projection +
    * metadata equality filters — the reference's core entry point.
    */
  def read(uid: String, collection: String = defaultCollection,
           tsCol: String = "ts",
           start: Option[java.sql.Timestamp] = None,
           end: Option[java.sql.Timestamp] = None,
           columns: Seq[String] = Seq.empty,
           meta: Map[String, Any] = Map.empty): DataFrame = {
    val cols = if (columns.nonEmpty) (Seq(tsCol) ++ columns).distinct else columns
    TsStore.read(spark, dir(collection), uid = Some((UidCol, uid)),
      tsCol = tsCol, start = start, end = end, columns = cols, meta = meta)
  }

  /** Read several named series in one scan: the uid IN-list becomes a
    * partition filter, so only the requested series' directories are
    * touched (multi-uid analog of the reference's per-uid read — one
    * Spark job instead of a client-side loop over uids).
    */
  def readMany(uids: Seq[String], collection: String = defaultCollection,
               tsCol: String = "ts",
               start: Option[java.sql.Timestamp] = None,
               end: Option[java.sql.Timestamp] = None,
               columns: Seq[String] = Seq.empty): DataFrame = {
    import org.apache.spark.sql.functions.col
    var df = TsStore.load(spark, dir(collection))
      .filter(col(UidCol).isin(uids: _*))
    start.foreach(s => df = df.filter(col(tsCol) >= s))
    end.foreach(e => df = df.filter(col(tsCol) <= e))
    if (columns.nonEmpty)
      df = df.select((Seq(UidCol, tsCol) ++ columns).distinct.map(col): _*)
    df
  }

  /** Aligned two-series read: both series' values on the UNION of their
    * timestamps, each forward-filled — the reference's client-side
    * `pandas.merge(...).ffill()` done engine-side, one scan + one window
    * pass (see `operators.TimeSeries` ts_align for the shape discussion).
    * Output: one row per distinct ts, columns `<uidA>_<valueCol>` /
    * `<uidB>_<valueCol>`.
    *
    * Scale note: a single pair is inherently one sequential merge (the
    * window is unpartitioned — fine for one series pair, which is the
    * reference's use case); aligning MANY pairs at once should go
    * through the keyed ts_align operator instead.
    */
  def align(uidA: String, uidB: String, valueCol: String,
            collection: String = defaultCollection,
            tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    require(uidA != uidB, "align needs two distinct series")
    val both = readMany(Seq(uidA, uidB), collection, tsCol, columns = Seq(valueCol))
    // tie-break the fill order by uid so equal-ts ticks fill
    // deterministically; the per-ts max() then collapses the ≤2 rows of
    // a shared timestamp (they differ only in null-vs-value fills)
    val w = Window.orderBy(col(tsCol), col(UidCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    both.select(col(tsCol), col(UidCol),
        when(col(UidCol) === uidA, col(valueCol)).as("__va"),
        when(col(UidCol) === uidB, col(valueCol)).as("__vb"))
      .select(col(tsCol),
        last(col("__va"), ignoreNulls = true).over(w).as("__fa"),
        last(col("__vb"), ignoreNulls = true).over(w).as("__fb"))
      .groupBy(col(tsCol))
      .agg(max(col("__fa")).as(s"${uidA}_$valueCol"),
        max(col("__fb")).as(s"${uidB}_$valueCol"))
      .orderBy(col(tsCol))
  }

  /** Latest-wins MERGE of one series — the facade over the manifest-
    * committed [[TsStore.upsert]]: only this uid's partition is read or
    * replaced, the commit is one atomic manifest version, and replaced
    * chunks stay readable via [[readAsOf]] until [[vacuum]]. Returns
    * the committed version. The reference had no update path at all
    * (appends only); this is the corintick write API completed for
    * correction/backfill workloads.
    */
  def upsert(uid: String, df: DataFrame, keyCols: Seq[String],
             versionCol: String, collection: String = defaultCollection,
             tsCol: String = "ts"): Long = {
    val tagged = df.withColumn(UidCol, org.apache.spark.sql.functions.lit(uid))
    TsStore.upsert(spark, dir(collection), tagged, keyCols = keyCols,
      versionCol = versionCol, tsCol = tsCol, uidCols = Seq(UidCol))
  }

  /** Delete one series' rows in an inclusive time range (whole series if
    * no bounds) through the manifest — the takedown verb, file-granular
    * copy-on-write via [[TsStore.delete]]: only the chunks that contain
    * matching ticks are rewritten, the commit is one atomic manifest
    * version, and the deleted ticks stay readable via [[readAsOf]] until
    * [[vacuum]]. Returns the committed version.
    */
  def delete(uid: String,
             start: Option[java.sql.Timestamp] = None,
             end: Option[java.sql.Timestamp] = None,
             collection: String = defaultCollection,
             tsCol: String = "ts"): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    var pred = col(UidCol) === lit(uid)
    start.foreach(s0 => pred = pred && col(tsCol) >= lit(s0))
    end.foreach(e => pred = pred && col(tsCol) <= lit(e))
    TsStore.delete(spark, dir(collection), pred, tsCol = tsCol, uidCols = Seq(UidCol))
  }

  /** Time-travel read of one series at a committed manifest version. */
  def readAsOf(uid: String, version: Long,
               collection: String = defaultCollection,
               tsCol: String = "ts",
               columns: Seq[String] = Seq.empty): DataFrame = {
    val cols = if (columns.nonEmpty) (Seq(tsCol) ++ columns).distinct else columns
    TsStore.read(spark, dir(collection), uid = Some((UidCol, uid)),
      tsCol = tsCol, columns = cols, asOf = Some(version))
  }

  /** Committed manifest versions of a collection (empty before its
    * first write).
    */
  def versions(collection: String = defaultCollection): Seq[Long] =
    TsStore.versions(dir(collection))

  /** Pin the collection's current (or a named) version under a NAME —
    * readable forever via [[readTagged]] and spared by [[vacuum]]
    * however small its retention window (see [[TsStore.tag]]).
    */
  def tag(name: String, collection: String = defaultCollection,
          version: Option[Long] = None): Long =
    TsStore.tag(dir(collection), name, version)

  /** Drop a named tag — its era rejoins the vacuum window. */
  def dropTag(name: String, collection: String = defaultCollection): Unit =
    TsStore.dropTag(dir(collection), name)

  /** The collection's named tags: name → pinned version. */
  def tags(collection: String = defaultCollection): Map[String, Long] =
    TsStore.tags(dir(collection))

  /** [[readAsOf]] addressed by tag name instead of version number. */
  def readTagged(uid: String, tagName: String,
                 collection: String = defaultCollection,
                 tsCol: String = "ts",
                 columns: Seq[String] = Seq.empty): DataFrame = {
    val v = StoreLog.tagVersion(dir(collection), tagName).getOrElse(
      throw new IllegalArgumentException(
        s"no tag '$tagName' on collection '$collection'"))
    readAsOf(uid, v, collection, tsCol, columns)
  }

  /** Reclaim replaced chunks beyond the newest `retainVersions`
    * manifests (shrinks the [[readAsOf]] window; safe against live
    * writers — see [[TsStore.vacuum]]). Returns files deleted.
    */
  def vacuum(collection: String = defaultCollection,
             retainVersions: Int = 1): Int =
    TsStore.vacuum(dir(collection), retainVersions)

  /** The series catalog from the MANIFEST alone — [[listUids]] without
    * touching a data file (uid, row count, time extent from the
    * recorded per-chunk bounds; see [[TsStore.catalogAt]]). `None` when
    * any live chunk lacks stats — fall back to [[listUids]].
    */
  def listUidsFast(collection: String = defaultCollection,
                   tsCol: String = "ts"): Option[DataFrame] =
    TsStore.catalogAt(spark, dir(collection), UidCol, tsCol)

  /** One row per live chunk of the collection with its partition,
    * on-disk size, and recorded column bounds (see [[TsStore.detail]])
    * — the observability feed for compaction/zorder/restore decisions.
    */
  def detail(collection: String = defaultCollection,
             asOf: Option[Long] = None): DataFrame =
    TsStore.detail(spark, dir(collection), asOf)

  /** Restore a collection to an earlier committed version — one
    * O(manifest) commit, nothing rewritten; the walked-back versions
    * stay readable via [[readAsOf]] until [[vacuum]] (see
    * [[TsStore.restore]]). The undo verb for a botched upsert/delete.
    */
  def restore(version: Long, collection: String = defaultCollection): Long =
    TsStore.restore(spark, dir(collection), version)

  /** Z-order the collection's live chunks on `clusterCols` (see
    * [[TsStore.zorder]]): after the rewrite, per-file bounds are tight
    * in every cluster dimension, so reads keyed on non-ts columns prune
    * files the (uid, ts) sort order never served. A maintenance verb —
    * run it on whatever cadence the workload's read patterns warrant.
    */
  def zorder(clusterCols: Seq[String],
             collection: String = defaultCollection): Long =
    TsStore.zorder(spark, dir(collection), clusterCols, uidCols = Seq(UidCol))

  /** Change-feed read between two collection versions, classified by
    * per-series key (the series id is prepended, as in [[upsert]]):
    * insert/update/delete rows plus `update_preimage` when `preimages`
    * — what a downstream incremental consumer applies instead of
    * re-reading the live view (see [[TsStore.changes]]).
    */
  def changes(fromV: Long, toV: Long, keyCols: Seq[String],
              versionCol: String = "version",
              collection: String = defaultCollection,
              preimages: Boolean = false): DataFrame =
    TsStore.changes(spark, dir(collection), fromV, toV,
      keyCols = UidCol +: keyCols, versionCol = versionCol,
      preimages = preimages)

  /** Streaming ingest into a collection — the facade over
    * [[graft.streaming.StoreIngest]]: the stream's `uidCol` column
    * becomes the series id (renamed to the collection's partition
    * column), each micro-batch is a manifest-committed latest-wins
    * upsert, and re-delivered batches converge (see StoreIngest's
    * idempotency contract). `keyCols` are PER-SERIES keys — the series
    * id is prepended automatically, so `keyCols = Seq("ts")` means "one
    * row per (series, ts)", and equal timestamps on different series
    * can never collide in the merge. Returns the running query.
    */
  def ingest(stream: DataFrame, uidCol: String,
             keyCols: Seq[String], versionCol: String,
             checkpoint: String,
             collection: String = defaultCollection,
             tsCol: String = "ts"): org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.StoreIngest.start(
      stream.withColumnRenamed(uidCol, UidCol), dir(collection),
      keyCols = UidCol +: keyCols, versionCol = versionCol, tsCol = tsCol,
      uidCols = Seq(UidCol), checkpoint = checkpoint)

  /** CDC/takedown-feed ingest into a collection — the facade over
    * [[graft.streaming.StoreIngest.startCdc]]: rows whose `opCol` is
    * `'D'` delete their (series, key) through one file-granular manifest
    * commit per batch; everything else merges latest-wins like
    * [[ingest]]. `keyCols` are PER-SERIES keys (the series id is
    * prepended). Returns the running query.
    */
  def ingestCdc(stream: DataFrame, uidCol: String, opCol: String,
                keyCols: Seq[String], versionCol: String,
                checkpoint: String,
                collection: String = defaultCollection,
                tsCol: String = "ts"): org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.StoreIngest.startCdc(
      stream.withColumnRenamed(uidCol, UidCol), dir(collection), opCol = opCol,
      keyCols = UidCol +: keyCols, versionCol = versionCol, tsCol = tsCol,
      uidCols = Seq(UidCol), checkpoint = checkpoint)

  /** Per-series row counts and time extents ≙ `list_uids`. */
  def listUids(collection: String = defaultCollection,
               tsCol: String = "ts"): DataFrame =
    TsStore.listSeries(TsStore.load(spark, dir(collection)), UidCol, tsCol)

  /** Delete one named series (≙ the reference's per-uid document
    * delete) through the manifest: a COMMIT (same CAS loop as the
    * append path) that removes the partition's files from the live
    * list — the data files stay on disk for time travel ([[readAsOf]])
    * until [[vacuum]] reclaims them. (A raw directory delete would
    * BRICK the collection: the live manifest would still name the
    * deleted files.) Returns true if the series existed.
    */
  def dropSeries(uid: String, collection: String = defaultCollection): Boolean = {
    // escape like the writer does — partition values with spaces/colons/
    // slashes live in escaped directory names (never probe the raw uid)
    val esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(uid)
    val partPrefix = s"$UidCol=$esc"
    val path = dir(collection)
    // the series' live files stream off a PREFIX-SCOPED fold (row
    // groups outside the uid's directory skip at the checkpoint) —
    // a one-series drop against a million-file collection is O(that
    // series), both here and per commit attempt below
    def seriesFiles(v: Long): Seq[String] =
      StoreLog.foldFiles(path, v, Seq(partPrefix))(
        Vector.empty[String])((a, e) => a :+ e.path)
    val curV = StoreLog.latestVersion(path).getOrElse(StoreLog.ensure(path).version)
    if (seriesFiles(curV).isEmpty) return false
    // the transform commit scaffold: no adopted files, and a rebase
    // is always sound — whatever an intervening commit did to the
    // partition, dropping the WHOLE series (the remove set recomputed
    // per attempt from the rebased parent) serializes after it
    StoreLog.withWriterLease(path) { lease =>
      TsStore.commitTransformWithRebase(path, lease, curV,
        moved = GraftWriteTaskResult.empty, replaced = Seq(partPrefix),
        removeFilesOf = seriesFiles,
        abortOnAppendsUnder = false,
        abortOnReplaced = false)
    }
    true
  }

  /** Compact a collection: rewrite its accumulated append-chunks into
    * range-partitioned, ts-sorted files — the small-file / chunk-
    * fragmentation answer (each append creates new files; at high write
    * rates a series degrades into thousands of tiny chunks whose open/
    * footer costs dominate reads; ≙ the reference re-chunking a
    * fragmented Mongo series). Compaction is a manifest COMMIT: the
    * rewritten files are staged to a hidden txn dir, moved into the
    * partition dirs (invisible until named), and ONE commit replaces
    * every live file with the compacted set. A reader never sees a
    * half-written layout or a manifest naming missing files; a crash
    * leaves the previous version live, a concurrent upsert is caught by
    * the commit CAS (compaction replaces everything, so ANY intervening
    * commit is a conflict — rerun). Replaced chunks stay
    * time-travelable until vacuum. Returns (live files before, after).
    */
  def compact(collection: String = defaultCollection,
              tsCol: String = "ts"): (Long, Long) = {
    val path = dir(collection)
    val snap = StoreLog.latest(path).getOrElse(StoreLog.ensure(path))
    val staged = GraftBatchWrite.stage(
      TsStore.canonical(TsStore.load(spark, path), Seq(UidCol), tsCol),
      path, Seq(UidCol), tsCol, snap.bloomCols, GraftBatchWrite.MaxRecordsPerFile)
    val movedN = StoreLog.withWriterLease(path) { _ =>
      val moved = staged.adopt()
      val replaced = snap.files.filter(_.contains("/"))
        .map(f => f.substring(0, f.lastIndexOf('/'))).distinct.sorted
      // a parentless commit would silently reset a store's configured
      // per-store checkpoint cadence and bloom columns — carry the
      // snapshot's through the full listing
      try StoreLog.commit(path, snap.version, replaced, moved.files,
        interval = Some(snap.checkpointInterval),
        bloomCols = Some(snap.bloomCols),
        addStats = moved.stats, addSizes = moved.sizes)
      catch {
        case c: StoreLog.CommitConflict =>
          StoreLog.deleteDataFiles(path, moved.files)
          throw c
      }
      moved.files.size.toLong
    }
    (snap.files.size.toLong, movedN)
  }

  /** Compact ONE series — the 100 TB maintenance shape: a hot series
    * fragments into thousands of small append-chunks while the rest of
    * the collection is fine, and rewriting everything ([[compact]]) for
    * one bad partition is a full-store IO bill. This reads ONLY the
    * series' live rows through the manifest (a raw directory read would
    * resurrect upserted-away dead chunks), rewrites them
    * range-partitioned and ts-sorted with TsStore's pinned chunk
    * geometry into a hidden txn dir, and commits them in place of the
    * series' live files — the same commit protocol as [[compact]].
    * Every other partition's files are untouched. Returns (live files
    * before, after) for the one partition.
    */
  def compactSeries(uid: String, collection: String = defaultCollection,
                    tsCol: String = "ts"): (Long, Long) = {
    val esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(uid)
    val partPrefix = s"$UidCol=$esc"
    val path = dir(collection)
    val snap = StoreLog.latest(path).getOrElse(StoreLog.ensure(path))
    val before = snap.files.count(_.startsWith(partPrefix + "/")).toLong
    require(before > 0, s"compactSeries: no partition for uid '$uid' at $path/$partPrefix")
    val rows = TsStore.load(spark, path)
      .filter(org.apache.spark.sql.functions.col(UidCol) === uid)
    val staged = GraftBatchWrite.stage(TsStore.canonical(rows, Seq(UidCol), tsCol),
      path, Seq(UidCol), tsCol, snap.bloomCols, GraftBatchWrite.MaxRecordsPerFile)
    val movedN = StoreLog.withWriterLease(path) { _ =>
      val moved = staged.adopt()
      require(moved.files.forall(_.startsWith(partPrefix + "/")),
        s"compactSeries staged files outside $partPrefix: ${moved.files.take(3)}")
      val kept = snap.files.filterNot(_.startsWith(partPrefix + "/"))
      try StoreLog.commit(path, snap.version, Seq(partPrefix), kept ++ moved.files,
        parent = Some(snap),
        addStats = moved.stats, addSizes = moved.sizes)
      catch {
        case c: StoreLog.CommitConflict =>
          StoreLog.deleteDataFiles(path, moved.files)
          throw c
      }
      moved.files.size.toLong
    }
    (before, movedN)
  }

  /** Drop a whole collection (≙ dropping a Mongo collection). */
  def dropCollection(collection: String = defaultCollection): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir(collection))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.delete(p, true)
  }
}
