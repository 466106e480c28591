package graft.sources

import java.util

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{Cast, GenericInternalRow, Literal}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The store as a STREAMING SOURCE — `readStream.format("graft-store-
  * changes").load(path)` tails a [[StoreLog]]-logged store one micro-batch
  * per manifest version, emitting the rows each version's commit ADDED
  * (the `files(v) − files(v−1)` diff) plus a `_commit_version` column.
  * This is the incremental-consumption path a store CHAIN needs: a
  * downstream stage keeps up with upstream commits instead of
  * reprocessing the full live view per cycle (the Delta "table as
  * source" role, driven here purely by the manifest chain).
  *
  * Semantics: an added file's rows are the commit's inserts and updates
  * PLUS any copy-on-write survivors the rewrite carried over — i.e.
  * at-least-once PER KEY, exactly-once per FILE. A downstream consumer
  * applying the feed with the latest-wins [[TsStore.upsert]] (see
  * [[graft.streaming.StoreIngest.follow]]) converges to the upstream
  * live view: carried-over and re-delivered rows map onto the same
  * winners, so redundancy never changes the outcome. DELETIONS are not
  * emitted (a removed file names no rows to read; a MERGE-ON-READ
  * delete — a deletion-vector-only commit — adds no file at all and
  * yields an empty batch, the same append-only stance Delta's plain
  * table stream takes); propagate takedowns by running the same CDC
  * feed into both stores, or with the batch [[TsStore.changes]] diff,
  * which classifies deletes and reads each window side through its own
  * snapshot's vectors.
  *
  * Scale shape: offsets are manifest versions (a LONG); each batch plans
  * from driver-side manifest metadata only — the version window's
  * added-file list, its sizes, and the partition values parsed off the
  * paths — and reads exactly those files through Spark's own vectorized
  * parquet reader. Nothing is ever listed or scanned beyond the window's
  * commit footprint, so a consumer of a 100 TB store pays per-batch cost
  * proportional to what upstream actually wrote. Restart/catch-up spans
  * several versions in one batch via the same diff (files added then
  * replaced WITHIN the window are skipped — their rows were already
  * superseded). Time travel limits apply: the consumer's lag must stay
  * inside the vacuum retention window, exactly like any `asOf` reader.
  */
class StoreChangeSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-store-changes"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    StoreChangeSource.sourceSchema(SparkSession.active, StoreChangeSource.pathOf(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new StoreChangeTable(schema,
      StoreChangeSource.pathOf(new CaseInsensitiveStringMap(properties)),
      Option(properties.get("startingVersion")).map(_.toLong).getOrElse(1L))
}

object StoreChangeSource {
  /** Appended LONG column: the manifest version whose commit added the
    * row's file — the stream's provenance/audit key.
    */
  val VersionCol = "_commit_version"

  private[sources] def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "graft-store-changes needs a store path: .option(\"path\", dir) or .load(dir)")
    p
  }

  /** The store's live schema (data columns + inferred uid partition
    * columns, in [[TsStore.load]]'s order) plus [[VersionCol]].
    */
  def sourceSchema(spark: SparkSession, path: String): StructType = {
    val base = TsStore.load(spark, path).schema
    require(!base.fieldNames.contains(VersionCol),
      s"store at $path already has a '$VersionCol' column")
    StructType(base.fields :+ StructField(VersionCol, LongType, nullable = false))
  }

  /** Partition column names in nesting order, read off a manifest rel
    * path's `name=value` directory segments (empty for unpartitioned
    * stores).
    */
  private[sources] def partitionColsOf(rel: String): Seq[String] =
    rel.split('/').dropRight(1).toSeq.takeWhile(_.contains('='))
      .map(_.takeWhile(_ != '='))

  /** Parse one rel path's partition values into an InternalRow laid out
    * as `partSchema` (the uid columns followed by [[VersionCol]], whose
    * value is `version`). Value strings are unescaped with Spark's own
    * partition-path rules and cast to the INFERRED column types, so the
    * rows match what a manifest-aware batch read of the same store
    * produces.
    */
  private[sources] def partitionValues(rel: String, partSchema: StructType,
                                       version: Long): InternalRow = {
    val segs = rel.split('/').dropRight(1).toSeq.takeWhile(_.contains('='))
      .map(s => s.takeWhile(_ != '=') -> s.dropWhile(_ != '=').drop(1)).toMap
    val vals = new Array[Any](partSchema.length)
    partSchema.fields.zipWithIndex.foreach { case (f, i) =>
      if (f.name == VersionCol) vals(i) = version
      else {
        val raw = ExternalCatalogUtils.unescapePathName(segs.getOrElse(f.name,
          throw new IllegalArgumentException(
            s"live file '$rel' has no partition segment for column '${f.name}'")))
        vals(i) =
          if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
          else if (f.dataType == StringType) UTF8String.fromString(raw)
          else Cast(Literal(UTF8String.fromString(raw), StringType), f.dataType,
            Some(java.time.ZoneOffset.UTC.getId)).eval(null)
      }
    }
    new GenericInternalRow(vals)
  }
}

private[sources] class StoreChangeTable(schema: StructType, path: String,
                                        startingVersion: Long)
  extends Table with SupportsRead {
  override def name(): String = s"graft-store-changes($path)"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = schema
        override def toBatch: Batch =
          throw new UnsupportedOperationException(
            "graft-store-changes is a streaming source; batch diffs go through TsStore.changes")
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new StoreChangeStream(SparkSession.active, schema, path, startingVersion)
      }
    }
}

/** One offset = one committed manifest version (`json` is the bare
  * long). A batch (a, b] reads the rows of `files(b) − files(a)`.
  */
private[sources] case class StoreVersionOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

private[sources] class StoreChangeStream(spark: SparkSession, schema: StructType,
                                         path: String, startingVersion: Long,
                                         withVersionCol: Boolean = true)
  extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  // split the source schema back into the reader's three parts: the uid
  // partition columns (directory-encoded) + _commit_version form the
  // partition schema whose values the driver supplies per file; the rest
  // is read from the parquet data pages. Result layout = data ++
  // partition — exactly `schema`'s order by construction (TsStore.load
  // appends inferred partition columns, sourceSchema appends VersionCol).
  // `withVersionCol = false` is the table-as-stream face (readStream
  // .format("graft")): same commit-feed semantics, the table's OWN
  // schema (no provenance column appended).
  private val partCols: Seq[String] = StoreLog.latest(path) match {
    case Some(s) if s.files.nonEmpty => StoreChangeSource.partitionColsOf(s.files.head)
    case _ => GraftTable.partCols(path)
  }
  private val partSchema = StructType(
    schema.fields.filter(f => partCols.contains(f.name)) ++
      (if (withVersionCol)
        Seq(StructField(StoreChangeSource.VersionCol, LongType, nullable = false))
      else Seq.empty))
  private val dataSchema = StructType(schema.fields.filterNot(f =>
    partCols.contains(f.name) || f.name == StoreChangeSource.VersionCol))

  override def initialOffset(): Offset = StoreVersionOffset(startingVersion - 1)

  override def getDefaultReadLimit: ReadLimit = StoreChangeStream.OneVersionPerBatch

  /** One manifest version per micro-batch under the source's own default
    * read limit: the next offset is start+1 (capped at the latest
    * committed version), so every upstream commit lands as its own batch
    * — the cadence the downstream store's manifest then mirrors. An
    * explicit all-available limit — which is also how Trigger.AvailableNow
    * captures its termination target — answers the true latest, so
    * catch-up consumers can take the whole backlog as one diff when they
    * ask for it.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[StoreVersionOffset].version
    val latest0 = math.max(s, StoreLog.latestVersion(path).getOrElse(s))
    // under Trigger.AvailableNow the target is PINNED at query start —
    // commits landing mid-run belong to the next invocation
    val latest = availableNowTarget.fold(latest0)(math.min(latest0, _))
    limit match {
      case _: org.apache.spark.sql.connector.read.streaming.ReadAllAvailable =>
        StoreVersionOffset(latest)
      case _ => StoreVersionOffset(math.min(s + 1, latest))
    }
  }

  /** Implemented DIRECTLY (not via Spark's AvailableNowDataStreamWrapper,
    * whose latestOffset jumps straight to the captured target in one
    * batch): pin the target version at query start, keep the
    * one-version-per-batch cadence on the way there.
    */
  private var availableNowTarget: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(StoreLog.latestVersion(path).getOrElse(startingVersion - 1))

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("driven via SupportsAdmissionControl")

  override def reportLatestOffset(): Offset =
    StoreVersionOffset(StoreLog.latestVersion(path).getOrElse(startingVersion - 1))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val a = start.asInstanceOf[StoreVersionOffset].version
    val b = end.asInstanceOf[StoreVersionOffset].version
    if (b <= a) return Array.empty
    // the window's diff, attributed version by version so each row's
    // _commit_version names the commit that actually added its file.
    // Driver cost: O(window's COMMIT FOOTPRINTS) — ordinary delta
    // manifests contribute their own add/remove lists straight from raw
    // JSON ([[StoreLog.rawDelta]]); only checkpoint versions (one per
    // interval) and branch-era view jumps pay a snapshot-set diff, so a
    // follower of a million-file store never resolves two full file
    // sets per micro-batch. Every version resolves through its MAIN
    // ref: a branch commit inherits the old pin (same main view →
    // empty diff — staged WAP rows never leak into the feed), and the
    // PUBLISH commit's view jump delivers the branch's adds at once.
    var prevMainV = if (a == 0) 0L else StoreLog.mainVersionAt(path, a)
    // the previous main view's FULL file set — materialized lazily,
    // only when some version in the window actually needs a set diff
    var prevSet: Set[String] = null
    def fullSetAt(mv: Long): Set[String] =
      if (mv == 0L) Set.empty else StoreLog.read(path, mv).files.toSet
    val added = scala.collection.mutable.LinkedHashMap[String, Long]()
    val sizes = scala.collection.mutable.Map.empty[String, Long]
    (a + 1 to b).foreach { v =>
      val mv = StoreLog.mainVersionAt(path, v)
      if (mv != prevMainV) {
        // the raw fast path is sound only when this version IS the main
        // view and its manifest's parent was the previous main view
        // (always true on branchless chains; a publish's view jump and
        // the first commit after a window gap fall back to set diffs)
        val fast =
          if (mv == v && prevMainV == v - 1) StoreLog.rawDelta(path, v)
          else None
        fast match {
          case Some((add, rm, sz)) =>
            add.foreach(f => added.getOrElseUpdate(f, v))
            // files added then removed within the window were
            // superseded before the consumer saw them — skip their IO
            rm.foreach(added.remove)
            sizes ++= sz
            if (prevSet != null) prevSet = prevSet -- rm ++ add
          case None =>
            if (prevSet == null) prevSet = fullSetAt(prevMainV)
            val snap = StoreLog.read(path, mv)
            val cur = snap.files.toSet
            (cur -- prevSet).foreach { f =>
              added.getOrElseUpdate(f, v)
              snap.sizes.get(f).foreach(sizes.update(f, _))
            }
            (prevSet -- cur).foreach(added.remove)
            prevSet = cur
        }
        prevMainV = mv
      }
    }
    // per-file byte lengths: the manifest's recorded sizes (free), a
    // status RPC only for unrecorded legacy files
    val fs = new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    added.toSeq.sortBy(_._1).map { case (rel, v) =>
      val p = new HPath(s"$path/$rel")
      val len = sizes.getOrElse(rel, fs.getFileStatus(p).getLen)
      StoreChangeInputPartition(PartitionedFile(
        StoreChangeSource.partitionValues(rel, partSchema, v),
        SparkPath.fromPath(p), 0L, len, Array.empty, 0L, len))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // Spark's own parquet reader (vectorized, codegen'd schema
    // conversion, partition values appended) — built once on the driver,
    // serialized to executors; the same machinery a batch scan ships, so
    // the stream's per-file read path is identical to a batch scan's.
    // Rows, not ColumnarBatches (the vectorized reader still runs
    // underneath)
    val readerFunc = ParquetFileReads(
      org.apache.spark.sql.GraftShim.parquetReaderFactory(
        spark, dataSchema, dataSchema, partSchema, Seq.empty),
      batches = false)
    // the reader emits (data ++ partition); permute back to the DECLARED
    // schema order — a catalog table may declare its partition column
    // mid-schema, and the stream's rows must match the schema it claims
    val outSchema = StructType(dataSchema.fields ++ partSchema.fields)
    val perm = schema.fieldNames.map(outSchema.fieldIndex)
    new StoreChangeReaderFactory(
      GraftColumnarReaderFactory.permuteRows(readerFunc, perm, outSchema))
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def deserializeOffset(json: String): Offset = StoreVersionOffset(json.toLong)
}

private[sources] object StoreChangeStream {
  /** The source's default pacing: advance one manifest version per
    * micro-batch. A marker `ReadLimit` — only this source interprets it.
    */
  case object OneVersionPerBatch extends ReadLimit
}

private[sources] case class StoreChangeInputPartition(file: PartitionedFile)
  extends InputPartition

private[sources] class StoreChangeReaderFactory(
    readerFunc: PartitionedFile => Iterator[InternalRow])
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    // a batch FilePartition concatenates its files'/splits' readers
    val rows: Iterator[InternalRow] =
      GraftColumnarReaderFactory.filesOf(partition).iterator.flatMap(readerFunc)
    new PartitionReader[InternalRow] {
      private var row: InternalRow = _
      override def next(): Boolean =
        if (rows.hasNext) { row = rows.next(); true } else false
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}
