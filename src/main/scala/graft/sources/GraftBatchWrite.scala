package graft.sources

import java.io.{IOException, ObjectInputStream, ObjectOutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapred.JobConf
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, PhysicalWriteInfo, RequiresDistributionAndOrdering, Write, WriterCommitMessage}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.types.StructType

/** The NATIVE DSv2 batch write for `INSERT INTO` on a graft table —
  * the write-side twin of the manifest-planned scan. What the V1
  * `InsertableRelation` fallback could never do: declare the store's
  * CANONICAL layout to Spark's planner via
  * [[RequiresDistributionAndOrdering]], so the engine itself
  * range-partitions and sorts the incoming rows by (uid..., ts) BEFORE
  * any writer task runs. The Scala verbs build that shape themselves
  * (`repartitionByRange(uid, ts).sortWithinPartitions`) and run the
  * same task writer over it ([[GraftBatchWrite.stage]]), so every
  * store file — SQL or Scala, append or rewrite — comes out of one
  * writer with the same tight per-file ts bounds (manifest stats),
  * which is what makes every later ts-slice prunable.
  *
  * Commit protocol: tasks write parquet into a txn-private staging
  * directory (UUID-named files — no coordination needed) and return
  * the files' names and footer stats; the driver's
  * [[BatchWrite.commit]] adopts the named files and publishes ONE
  * manifest version under a writer lease, with the same CAS-rebase
  * retry as the Scala append (pure file additions serialize after any
  * concurrent commit). A crash before the publish leaves the previous
  * version live — readers never see a partial INSERT.
  */
class GraftBatchWrite(path: String, writeSchema: StructType,
                      uids: Seq[String], tsCol: String,
                      truncate: Boolean = false)
  extends Write with RequiresDistributionAndOrdering {

  require(uids.forall(writeSchema.fieldNames.contains),
    s"partition columns ${uids.mkString(",")} must be in the written schema")

  /** Range-partition by (uid..., ts): a globally ORDERED distribution —
    * co-locates each series' time range AND splits a skewed series
    * across tasks by time, exactly the Scala path's
    * `repartitionByRange`. Clustered-by-uid would hotspot one task per
    * hot series.
    */
  override def requiredDistribution(): Distribution =
    Distributions.ordered(GraftBatchWrite.canonicalOrdering(writeSchema, uids, tsCol))

  override def requiredOrdering(): Array[SortOrder] =
    GraftBatchWrite.canonicalOrdering(writeSchema, uids, tsCol)

  override def toBatch: BatchWrite = {
    val spark = SparkSession.active
    val staging = TsStore.txnDir(path)
    val (factory, conf, maxRecords) =
      GraftBatchWrite.storeSetup(spark, path, writeSchema, uids)
    val boundSet = Constraints.forStore(path)
    val checks = Constraints.bind(spark, writeSchema, boundSet)
    new GraftBatchWriteExec(path, staging, writeSchema, uids, tsCol,
      factory, conf, truncate, maxRecords, checks, boundSet)
  }

  override def description(): String = s"graft-native-write:$path"
}

private[graft] object GraftBatchWrite {
  /** Parquet row-group size of every store write — the unit of
    * ts-slice skipping, ≙ the reference's 16 MB BSON chunk cap
    * (`serialization.py` ~L90–110): a 128 MB default row group makes a
    * 1-minute slice read 128 MB per file.
    */
  val RowGroupBytes: Long = 16L << 20

  /** Default file roll: bounds single-file blowup so one hot series
    * cannot produce a file whose footer stalls planning.
    */
  val MaxRecordsPerFile: Long = 8L << 20

  /** Parquet write setup shared by every store write: INT64 micros
    * timestamps (INT96 columns carry no min/max stats, which would
    * strip the manifest's ts index from every file), zstd (≙ the
    * reference's LZ4 column blobs — at 100 TB the ratio IS the IO
    * budget), `rowGroupBytes` row groups, and a parquet bloom filter per
    * `bloomCols` column (min/max only skip range-correlated keys; a
    * bloom answers "absent" per row group for a scattered merge key).
    * `dataSchema` is the files' schema under PHYSICAL names, partition
    * columns excluded. Everything is set on the write's own Hadoop
    * conf — no store write touches the session conf.
    */
  def parquetSetup(spark: SparkSession, dataSchema: StructType,
                   bloomCols: Seq[String], rowGroupBytes: Long)
      : (OutputWriterFactory, GraftSerializableConf) = {
    val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    val conf = job.getConfiguration
    val factory = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .prepareWrite(spark, job, Map("compression" -> "zstd"), dataSchema)
    // AFTER prepareWrite, which copies the session's timestamp type in
    conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    conf.setLong("parquet.block.size", rowGroupBytes)
    bloomCols.foreach(c => conf.set(s"$BloomKeyPrefix$c", "true"))
    (factory, new GraftSerializableConf(conf))
  }

  /** Hadoop-conf key prefix that enables a parquet bloom filter per
    * column — also how a write task knows which of its columns get a
    * key digest.
    */
  val BloomKeyPrefix = "parquet.bloom.filter.enabled#"

  /** [[parquetSetup]] for a SQL or streaming write into the store at
    * `path`, whose rows arrive under the DECLARED names: a renamed
    * column writes its ORIGINAL parquet name ([[GraftTable.PhysicalKey]])
    * so every file of the store carries one stable physical schema — a
    * pure field rename (rows are positional) — plus the store's bloom
    * columns and the session's `spark.graft.write.maxRecordsPerFile`.
    */
  def storeSetup(spark: SparkSession, path: String,
                 writeSchema: StructType, uids: Seq[String])
      : (OutputWriterFactory, GraftSerializableConf, Long) = {
    val physSchema = GraftTable.latestDeclared(path)
      .filter(GraftTable.hasRenames)
      .map(d => GraftTable.toPhysical(writeSchema, d))
      .getOrElse(writeSchema)
    val (factory, conf) = parquetSetup(spark,
      StructType(physSchema.fields.filterNot(f => uids.contains(f.name))),
      StoreLog.latestVersion(path).map(StoreLog.bloomColsAt(path, _)).getOrElse(Nil),
      RowGroupBytes)
    (factory, conf, sessionMaxRecords(spark))
  }

  /** The session's `spark.graft.write.maxRecordsPerFile` file roll. */
  def sessionMaxRecords(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.write.maxRecordsPerFile").map(_.toLong)
      .getOrElse(MaxRecordsPerFile)

  /** Stage a Scala verb's write into a fresh txn dir of `path`: run
    * `sorted` — already range-partitioned and sorted by (uids..., ts),
    * or by (uids..., any key) — through the task writer
    * ([[GraftDataWriter]]: one file per task and partition directory,
    * rolled at `maxRecords`). Each task returns its files' names, sizes
    * and footer stats, so nothing on the driver walks the staging dir
    * or reopens a footer. A failed job removes the staging dir. The
    * files reach the store only through [[Staged.adopt]].
    */
  def stage(sorted: DataFrame, path: String, uids: Seq[String],
            tsCol: String, bloomCols: Seq[String], maxRecords: Long,
            rowGroupBytes: Long = RowGroupBytes): Staged = {
    val schema = sorted.schema
    val (factory, conf) = parquetSetup(sorted.sparkSession,
      StructType(schema.fields.filterNot(f => uids.contains(f.name))),
      bloomCols, rowGroupBytes)
    val staging = TsStore.txnDir(path)
    val writers = new GraftDataWriterFactory(staging, schema, uids, tsCol,
      factory, conf, maxRecords)
    val qe = sorted.queryExecution
    val messages =
      try SQLExecution.withNewExecutionId(qe, Some(s"graft-stage:$path")) {
        qe.toRdd.mapPartitionsWithIndex { (pid, rows) =>
          val w = writers.createWriter(pid, TaskContext.get().taskAttemptId())
          try {
            rows.foreach(w.write)
            Iterator.single(w.commit())
          } catch {
            case t: Throwable => w.abort(); throw t
          } finally w.close()
        }.collect()
      } catch {
        case t: Throwable => StoreLog.deleteStaging(staging); throw t
      }
    Staged(path, staging, GraftWriteTaskResult.of(messages.toSeq))
  }

  /** The (uid..., ts) ascending sort — the store's canonical order,
    * shared by the batch and streaming writes' distribution contracts.
    */
  def canonicalOrdering(writeSchema: StructType, uids: Seq[String],
                        tsCol: String): Array[SortOrder] = {
    val cols = uids ++
      (if (writeSchema.fieldNames.contains(tsCol) && !uids.contains(tsCol))
        Seq(tsCol) else Seq.empty)
    cols.map(c =>
      Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)).toArray
  }
}

/** Driver-side commit half of the native write. */
private[sources] class GraftBatchWriteExec(path: String, staging: String,
    writeSchema: StructType, uids: Seq[String], tsCol: String,
    factory: OutputWriterFactory, conf: GraftSerializableConf,
    truncate: Boolean, maxRecordsPerFile: Long = 8L << 20,
    checks: Seq[Constraints.Bound] = Nil,
    boundSet: Seq[Constraints.Check] = Nil)
  extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftDataWriterFactory(staging, writeSchema, uids, tsCol, factory, conf,
      maxRecordsPerFile, checks)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = Staged(path, staging, GraftWriteTaskResult.of(messages.toSeq))
    // a path without a log is adopted before the write's files move
    // in, so v1 names only the files already there, and the commit
    // below adds the tasks' files with their stats (and declares the
    // schema of a store born empty)
    if (!StoreLog.exists(path)) StoreLog.ensure(path)
    StoreLog.withWriterLease(path) { lease =>
      val moved = staged.adopt()
      var committed = false
      var attempts = 0
      while (!committed) {
        lease.renew()
        val curV = StoreLog.latestVersion(path).get
        val curProps = StoreLog.propsAt(path, curV)
        // a CHECK constraint added while this INSERT was in flight —
        // the written rows were guarded against the set bound at
        // write-build; abort rather than commit unchecked rows after
        // the constraint's whole-table certification
        val addedChecks = Constraints.addedSince(boundSet, curProps)
        if (addedChecks.nonEmpty) {
          StoreLog.deleteDataFiles(path, moved.files)
          throw new StoreLog.CommitConflict(
            s"CHECK constraint(s) ${addedChecks.map(_.name).mkString(", ")} " +
              s"added concurrently at $path — re-run the INSERT")
        }
        // an OVERWRITE is a versioned REPLACE: only the new files live,
        // every touched partition named in `replaced` (concurrent
        // writers' rebase checks look for theirs there — the restore
        // pattern); an APPEND is a pure addition that rebases cleanly.
        // Appends are REF-AWARE (under an active branch the base is the
        // MAIN view's files and the commit advances the main pin) and
        // take the O(commit) transform path when branchless; OVERWRITE
        // replaces a view wholesale and refuses while a branch is open.
        if (truncate && curProps.contains(StoreLog.MainRefProp)) {
          StoreLog.deleteDataFiles(path, moved.files)
          throw new IllegalStateException(
            s"store at $path has open branch(es) — INSERT OVERWRITE " +
              "refuses while a branch is open; publish or drop it first")
        }
        try {
          if (!truncate && !curProps.contains(StoreLog.MainRefProp))
            StoreLog.commitTransform(path, curV, Seq.empty,
              removeFiles = Nil, addFiles = moved.files,
              addStats = moved.stats, addSizes = moved.sizes,
              setProps = GraftTable.widenedSchemaProp(path, curV, curProps, writeSchema,
                moved.files))
          else {
            val cur = StoreLog.read(path, curV)
            val (baseFiles, refProps, carryStats, carrySizes, dvReset) =
              TsStore.refAppendBase(path, cur, None)
            val (replaced, files) =
              if (truncate)
                ((cur.files ++ moved.files).map { f =>
                  val i = f.lastIndexOf('/')
                  if (i > 0) f.substring(0, i) else f
                }.distinct.sorted, moved.files)
              else (Seq.empty[String], baseFiles ++ moved.files)
            StoreLog.commit(path, cur.version, replaced, files,
              parent = Some(cur), addStats = carryStats ++ moved.stats,
              addSizes = carrySizes ++ moved.sizes,
              resetDvs = if (truncate) None else dvReset,
              // an OVERWRITE redefines the whole store with canonically
              // sorted files — (re)establish the layout-order contract;
              // an append's sorted additions just inherit the parent's
              setProps =
                GraftTable.widenedSchemaProp(path, cur.version, cur.props, writeSchema,
                  moved.files) ++
                (if (truncate) Map(GraftTable.LayoutSortedProp -> "true")
                 else Map.empty[String, String]) ++ refProps)
          }
          committed = true
        } catch {
          case c: StoreLog.CommitConflict =>
            attempts += 1; if (attempts > 50) throw c
        }
      }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    StoreLog.deleteStaging(staging)
}

/** One task's staged files (store-relative) with the stats and byte
  * sizes read off the footers it just wrote — what a commit needs to
  * name the files and index them in the manifest.
  */
private[graft] final case class GraftWriteTaskResult(files: Seq[String],
    stats: Map[String, FileStats.FileStatsMap], sizes: Map[String, Long])
  extends WriterCommitMessage

private[graft] object GraftWriteTaskResult {
  val empty: GraftWriteTaskResult = GraftWriteTaskResult(Nil, Map.empty, Map.empty)

  /** The committed task attempts' results as one. Only files a
    * committed attempt NAMED may reach the manifest — the staging dir
    * may also hold failed/speculative attempts' files (torn footers,
    * duplicate rows); those die with it.
    */
  def of(messages: Seq[WriterCommitMessage]): GraftWriteTaskResult = {
    val rs = messages.collect { case r: GraftWriteTaskResult => r }
    GraftWriteTaskResult(rs.flatMap(_.files), rs.flatMap(_.stats).toMap,
      rs.flatMap(_.sizes).toMap)
  }
}

/** A write's files in the txn dir `staging` of the store at `path`, as
  * its tasks named them.
  */
private[graft] final case class Staged(path: String, staging: String,
                                       written: GraftWriteTaskResult) {
  /** Move the named files into the store — present on disk but
    * invisible until a commit names them — and drop the staging dir
    * with whatever else is in it. Run under the writer lease of the
    * commit that follows (see [[StoreLog.WriterLease]]).
    */
  def adopt(): GraftWriteTaskResult =
    try written.copy(files = StoreLog.adoptStagedNamed(path, staging, written.files))
    finally StoreLog.deleteStaging(staging)
}

private[sources] class GraftDataWriterFactory(staging: String,
    writeSchema: StructType, uids: Seq[String], tsCol: String,
    factory: OutputWriterFactory, conf: GraftSerializableConf,
    maxRecordsPerFile: Long, checks: Seq[Constraints.Bound] = Nil)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(staging, writeSchema, uids, tsCol, factory,
      conf.value, partitionId, taskId, maxRecordsPerFile, checks)
}

/** Shared task-writer base: the projections, the hive-style
  * `name=value` path rendering (Spark's own escaping and UTC string
  * cast — the dynamic-partition writer's directory names),
  * the null-ts guard, file naming, and the commit message. Subclasses
  * supply only the OPEN-FILE policy (sorted single-writer vs hashed
  * map).
  */
private[graft] abstract class GraftWriterBase(staging: String,
    writeSchema: StructType, uids: Seq[String], tsCol: String,
    factory: OutputWriterFactory, conf: Configuration,
    partitionId: Int, taskId: Long,
    checks: Seq[Constraints.Bound] = Nil)
  extends DataWriter[InternalRow] {

  // CHECK constraints ride the writer itself (codegen'd predicates,
  // one branch per row) — enforcement costs no extra pass over the
  // incoming data; see [[Constraints]]
  private val rowGuard = new Constraints.RowGuard(checks, partitionId)

  protected val dataSchema = StructType(
    writeSchema.fields.filterNot(f => uids.contains(f.name)))
  protected val uidIdx = uids.map(writeSchema.fieldIndex)
  private val tsIdx =
    if (writeSchema.fieldNames.contains(tsCol)) writeSchema.fieldIndex(tsCol) else -1
  protected val dataProj = UnsafeProjection.create(
    writeSchema.fields.zipWithIndex.filterNot { case (f, _) => uids.contains(f.name) }
      .map { case (f, i) => BoundReference(i, f.dataType, f.nullable) }
      .toArray.asInstanceOf[Array[org.apache.spark.sql.catalyst.expressions.Expression]])
  // partition value rendering: Cast-to-string in UTC — the same
  // expression Spark's dynamic-partition writer uses for path segments
  private val segCasts = uidIdx.map { i =>
    Cast(BoundReference(i, writeSchema(i).dataType, writeSchema(i).nullable),
      org.apache.spark.sql.types.StringType, Some(java.time.ZoneOffset.UTC.getId))
  }

  private val taskUuid = java.util.UUID.randomUUID().toString.replace("-", "")
  private val written = Seq.newBuilder[String]
  private var fileSeq = 0

  // one attempt context per task, shared by every file it opens (Spark's
  // dynamic-partition writer does the same); it takes the task's
  // deserialized JobConf (GraftSerializableConf) without a copy
  private lazy val attemptContext: TaskAttemptContextImpl = {
    val attemptId = new TaskAttemptID(
      new TaskID(new JobID("graft", 0), TaskType.MAP, partitionId), taskId.toInt)
    new TaskAttemptContextImpl(conf, attemptId)
  }

  // null AND "" render as `__HIVE_DEFAULT_PARTITION__` (partition
  // discovery refuses an empty value); names and values are escaped
  protected def partitionDir(row: InternalRow): String =
    uids.zip(segCasts).map { case (name, cast) =>
      val v = cast.eval(row)
      ExternalCatalogUtils.getPartitionPathString(name,
        if (v == null) null else v.toString)
    }.mkString("/")

  /** Open the next uniquely-named file under `dir` ("" = staging root). */
  protected def openWriter(dir: String): OutputWriter = {
    val prefix = if (dir.isEmpty) "" else dir + "/"
    val rel = f"${prefix}part-$partitionId%05d-$taskUuid-$fileSeq%03d.parquet"
    fileSeq += 1
    written += rel
    factory.newInstance(s"$staging/$rel", dataSchema, attemptContext)
  }

  protected def guardTs(row: InternalRow): Unit = {
    if (tsIdx >= 0 && row.isNullAt(tsIdx))
      throw new IllegalArgumentException(
        s"null $tsCol value — refusing write (the store's time column is mandatory)")
    if (!rowGuard.isEmpty) rowGuard.check(row)
  }

  protected def closeOpenWriters(): Unit

  /** Close the files and read each one's stats off the footer just
    * written, with digests for the bloom columns it was written with and
    * the time column's bounds however wide the file — the commit runs no
    * footer pass of its own, and the append overlap guard reads the
    * staged files' ts extents from these stats. A footer that does not
    * read back fails the task. The read-back runs under the write's own
    * conf, the one the files were written with: it is loaded already,
    * whereas parquet's default read options would parse Hadoop's XML
    * config again for every file.
    */
  override def commit(): WriterCommitMessage = {
    closeOpenWriters()
    val files = written.result()
    val digestCols = conf.getPropsWithPrefix(GraftBatchWrite.BloomKeyPrefix)
      .asScala.collect { case (c, "true") => c }.toSet
    val stats = Map.newBuilder[String, FileStats.FileStatsMap]
    val sizes = Map.newBuilder[String, Long]
    files.foreach { rel =>
      val (fs, len) = FileStats.ofFile(s"$staging/$rel", conf, digestCols,
        keepCols = Set(tsCol))
      fs.foreach(stats += rel -> _)
      sizes += rel -> len
    }
    GraftWriteTaskResult(files, stats.result(), sizes.result())
  }

  override def abort(): Unit = closeOpenWriters()

  override def close(): Unit = closeOpenWriters()
}

/** One task's writer for SORTED input: rows arrive ordered by
  * (uid..., ts) (the Write's required ordering), so partition-directory
  * transitions are detected by comparing consecutive uid keys — one
  * open file at a time, rolled on key change or the max-records bound.
  */
private[graft] class GraftDataWriter(staging: String,
    writeSchema: StructType, uids: Seq[String], tsCol: String,
    factory: OutputWriterFactory, conf: Configuration,
    partitionId: Int, taskId: Long, maxRecordsPerFile: Long,
    checks: Seq[Constraints.Bound] = Nil)
  extends GraftWriterBase(staging, writeSchema, uids, tsCol, factory, conf,
    partitionId, taskId, checks) {

  private val keyProj = UnsafeProjection.create(uidIdx.map(i =>
    BoundReference(i, writeSchema(i).dataType, writeSchema(i).nullable)).toArray
    .asInstanceOf[Array[org.apache.spark.sql.catalyst.expressions.Expression]])

  private var currentKey: UnsafeRow = _
  private var writer: OutputWriter = _
  private var recordsInFile = 0L

  private def roll(row: InternalRow): Unit = {
    closeOpenWriters()
    writer = openWriter(if (uids.isEmpty) "" else partitionDir(row))
    recordsInFile = 0L
  }

  override def write(row: InternalRow): Unit = {
    guardTs(row)
    val key = keyProj(row)
    if (currentKey == null || key != currentKey) {
      currentKey = key.copy()
      roll(row)
    } else if (recordsInFile >= maxRecordsPerFile) roll(row)
    writer.write(dataProj(row))
    recordsInFile += 1L
  }

  override protected def closeOpenWriters(): Unit =
    if (writer != null) { writer.close(); writer = null }
}

/** The STREAMING append writer: same staged parquet layout, but robust
  * to UNSORTED input — a micro-batch engine may or may not honor the
  * write's required ordering, so open writers are kept per partition
  * directory in a map (bounded by the task's distinct uid values; with
  * the ordering honored the map holds one entry). Rolls on the
  * max-records bound.
  */
private[graft] class GraftHashedDataWriter(staging: String,
    writeSchema: StructType, uids: Seq[String], tsCol: String,
    factory: OutputWriterFactory, conf: Configuration,
    partitionId: Int, taskId: Long, maxRecordsPerFile: Long,
    checks: Seq[Constraints.Bound] = Nil)
  extends GraftWriterBase(staging, writeSchema, uids, tsCol, factory, conf,
    partitionId, taskId, checks) {

  private final class Open(var writer: OutputWriter, var records: Long)
  private val open = scala.collection.mutable.LinkedHashMap.empty[String, Open]

  override def write(row: InternalRow): Unit = {
    guardTs(row)
    val dir = if (uids.isEmpty) "" else partitionDir(row)
    val o = open.get(dir) match {
      case Some(cur) if cur.records < maxRecordsPerFile => cur
      case Some(cur) =>
        cur.writer.close()
        val fresh = new Open(openWriter(dir), 0L); open(dir) = fresh; fresh
      case None =>
        val fresh = new Open(openWriter(dir), 0L); open(dir) = fresh; fresh
    }
    o.writer.write(dataProj(row))
    o.records += 1L
  }

  override protected def closeOpenWriters(): Unit = {
    open.valuesIterator.foreach(o => o.writer.close())
    open.clear()
  }
}

/** Minimal serializable Hadoop-Configuration carrier (the Spark-internal
  * one is `private[spark]`). It deserializes into a `JobConf`, which a
  * task's `TaskAttemptContextImpl` takes as is; it copies any other
  * conf whole.
  */
private[graft] class GraftSerializableConf(@transient var value: Configuration)
  extends Serializable {
  @throws(classOf[IOException])
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  @throws(classOf[IOException])
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new JobConf(false)
    value.readFields(in)
  }
}
