package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expression, Expressions, NamedReference, SortOrder}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, RowLevelOperation, WriterCommitMessage}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DELTA-BASED (merge-on-read) row-level operations — SQL `UPDATE`,
  * `MERGE INTO`, and subquery `DELETE` on a graft table whose
  * `delete.mode` is `dv`. The copy-on-write twin
  * ([[GraftRowLevelOperation]]) rewrites every file that holds a
  * match; this operation rewrites NOTHING:
  *
  *   1. The operation scan reads the table WITH the physical row
  *      identity — the `(_file, _pos)` metadata columns (store-relative
  *      data file + parquet row index, the exact identity the deletion
  *      vectors are keyed by). Spark's delta rewrite plans only the
  *      MATCHED rows through the writer (no survivor copying), so
  *      pushed predicates may reach the parquet reader — row-group
  *      skips drop only rows the plan never wanted, and row indices
  *      stay absolute underneath.
  *   2. Each writer task turns `delete`d row IDs into per-file POSITION
  *      BUFFERS and `insert`ed rows into staged canonical-layout
  *      parquet; an `update` is a delete plus an insert in place. At
  *      task commit the buffers become deletion-vector FRAGMENT
  *      sidecars in the staging directory — executor-side IO, the
  *      driver sees one (file, fragment, count) triple per touched
  *      file.
  *   3. The driver commit adopts the staged inserts and fragments,
  *      resolves each touched file's final vector (a lone fresh
  *      fragment adopts as-is; multiple fragments or an existing
  *      vector union DISTRIBUTED into one sidecar), and publishes ONE
  *      manifest version carrying the new files and the changed dv
  *      entries — atomic, time-travelable, conflict-checked against
  *      concurrent writers by the same prefix-replace rules as the dv
  *      DELETE.
  *
  * Cost at 100 TB: an UPDATE of a thousand rows scattered across a
  * million files writes a thousand sidecar positions and a thousand
  * new rows — not a million-file rewrite, and not even the
  * copy-on-write path's thousand-file rewrite. Compaction later
  * materializes the vectors and restores fully-columnar scans.
  */
class GraftDeltaRowLevelOperation(path: String, tableSchema: StructType,
                                  uids: Seq[String], tsCol: String,
                                  cmd: RowLevelOperation.Command)
  extends org.apache.spark.sql.connector.write.SupportsDelta {

  @volatile private var builtScan: GraftScan = _

  override def command(): RowLevelOperation.Command = cmd

  /** The physical row identity: data file + parquet row index — the
    * deletion vectors' own key. Non-nullable metadata columns (Spark
    * refuses nullable row IDs).
    */
  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(GraftTable.FileColName),
    Expressions.column(GraftTable.PosColName))

  /** Keep UPDATE rows whole: the writer splits them into a vector
    * position and an appended row itself — no plan-side Expand into
    * delete+insert pairs.
    */
  override def representUpdateAsDeleteAndInsert(): Boolean = false

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(SparkSession.active, path, None, tableSchema,
      rowLevel = true, rowLevelDelta = true) {
      override def build(): org.apache.spark.sql.connector.read.Scan = {
        val s = super.build().asInstanceOf[GraftScan]
        builtScan = s
        s
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new GraftDeltaWrite(path, info.schema(), uids, tsCol, cmd,
          () => Option(builtScan))
    }

  override def description(): String = s"graft-delta-$cmd:$path"
}

/** The delta write: required layout, task writers, and the one-commit
  * vector+insert publish.
  */
private[sources] class GraftDeltaWrite(path: String, rowSchema: StructType,
    uids: Seq[String], tsCol: String, cmd: RowLevelOperation.Command,
    scanOf: () => Option[GraftScan])
  extends DeltaWrite with RequiresDistributionAndOrdering {

  private def fileRef: Expression = Expressions.column(GraftTable.FileColName)

  /** DELETE deltas carry only row IDs — cluster by file so each
    * vector's positions land in one task. UPDATE/MERGE rows carry the
    * (new) row too: clustering by (uids..., _file) keeps a file's
    * positions together for same-key mutations AND spreads MERGE's
    * not-matched inserts (null `_file`) across tasks by their series
    * key instead of funneling them through one null-cluster task.
    */
  override def requiredDistribution(): Distribution = cmd match {
    case RowLevelOperation.Command.DELETE =>
      Distributions.clustered(Array(fileRef))
    case _ =>
      Distributions.clustered(
        (uids.filter(rowSchema.fieldNames.contains).map(c =>
          Expressions.column(c): Expression) :+ fileRef).toArray)
  }

  /** Within a task: position order for pure deletes (sequential sidecar
    * fill), the store's canonical (uids..., ts) order otherwise — the
    * appended files then carry the same tight per-file ts bounds as
    * every other write path, keeping the layout-order contract.
    */
  override def requiredOrdering(): Array[SortOrder] = cmd match {
    case RowLevelOperation.Command.DELETE =>
      Array(
        Expressions.sort(fileRef,
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING),
        Expressions.sort(Expressions.column(GraftTable.PosColName),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
    case _ =>
      GraftBatchWrite.canonicalOrdering(rowSchema, uids, tsCol)
  }

  override def toBatch: DeltaBatchWrite = {
    val spark = SparkSession.active
    val staging = TsStore.txnDir(path)
    val (factory, conf, maxRecords) =
      GraftBatchWrite.storeSetup(spark, path, rowSchema, uids)
    // a pure DELETE's row schema is empty and never inserts — nothing
    // to gate (removing rows cannot violate a CHECK constraint). The
    // same holds per-constraint for a delete-only MERGE: its row schema
    // carries no data columns, so a constraint referencing one cannot
    // be violated by this operation (no insert/update carries the
    // column; an inserted row without it lands NULL, which SQL CHECK
    // passes) — bind only the constraints whose referenced columns the
    // row schema actually carries, instead of refusing a legal MERGE
    // the FULL set is also captured for the commit-time addedSince
    // recheck: a pure DELETE cannot violate any constraint (including
    // one added concurrently — removing rows preserves invariants), so
    // it skips both the guard and the recheck
    val boundSet =
      if (cmd == RowLevelOperation.Command.DELETE) None
      else Some(Constraints.forStore(path))
    val checks = boundSet match {
      case None => Nil
      case Some(bs) =>
        val have = rowSchema.fieldNames.map(_.toLowerCase).toSet
        Constraints.bind(spark, rowSchema,
          bs.filter(c =>
            Constraints.referencedCols(spark, c.sql).subsetOf(have)))
    }
    new GraftDeltaBatchWrite(path, staging, rowSchema, uids, tsCol,
      factory, conf, maxRecords, scanOf, checks, boundSet)
  }

  override def description(): String = s"graft-delta-write-$cmd:$path"
}

private[sources] class GraftDeltaBatchWrite(path: String, staging: String,
    rowSchema: StructType, uids: Seq[String], tsCol: String,
    factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    conf: GraftSerializableConf, maxRecordsPerFile: Long,
    scanOf: () => Option[GraftScan], checks: Seq[Constraints.Bound] = Nil,
    boundSet: Option[Seq[Constraints.Check]] = None)
  extends DeltaBatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    new GraftDeltaWriterFactory(staging, rowSchema, uids, tsCol, factory,
      conf, maxRecordsPerFile, checks)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val msgs = messages.toSeq.collect { case m: GraftDeltaTaskResult => m }
    val inserts = GraftWriteTaskResult.of(msgs.map(_.inserts))
    val frags = msgs.flatMap(_.frags)
    val scan = scanOf().getOrElse(throw new IllegalStateException(
      "delta write committed without its operation scan"))
    val base = scan.snapshot
    StoreLog.withWriterLease(path) { lease =>
      // adopt only the committed attempts' named artifacts; everything
      // else in staging (failed/speculative attempts) dies with it
      val moved =
        try {
          val m = inserts.copy(
            files = StoreLog.adoptStagedNamed(path, staging, inserts.files))
          StoreLog.adoptStagedNamed(path, staging, frags.map(_.rel))
          m
        } finally StoreLog.deleteStaging(staging)
      if (moved.files.isEmpty && frags.isEmpty) ()
      else {
        // final vector per touched file: a single fresh fragment IS the
        // sidecar; multiple fragments (a file's mutations split across
        // tasks) or an existing vector union DISTRIBUTED — one task per
        // file, executor-side IO, O(per-file deleted rows) each
        val byFile: Map[String, Seq[DvFrag]] = frags.groupBy(_.file)
        // fresh deleted-row stats per file, computed FROM THE FILES at
        // commit time (TsStore.dvFreshStats — the writer's rows carry
        // POST-assignment values and must not be recorded), then merged
        // with any pre-existing entry's. Keeps COUNT(col)/MIN/MAX
        // manifest-answerable on UPDATE/MERGE-vectored files, exactly
        // like the DELETE verb's recording.
        val fresh = TsStore.dvFreshStats(spark, path, base,
          byFile.map { case (f, fs) =>
            f -> (fs.map(x => s"$path/${x.rel}"), fs.map(_.rows).sum)
          })
        val statsOf: Map[String, (Map[String, Long], Map[String, Dv.Bound])] =
          byFile.keys.map { f =>
            val (nulls, bounds) = fresh.getOrElse(f, (Map.empty[String, Long],
              Map.empty[String, Dv.Bound]))
            f -> TsStore.mergeDvStats(base.dvs.get(f), nulls, bounds)
          }.toMap
        val (direct, needMerge) = byFile.partition { case (f, fs) =>
          fs.size == 1 && !base.dvs.contains(f)
        }
        val mergedEntries: Seq[(String, Dv.Entry)] =
          if (needMerge.isEmpty) Seq.empty
          else {
            val sconf = new org.apache.spark.util.SerializableConfiguration(
              spark.sparkContext.hadoopConfiguration)
            val storePath = path // local copy — the closure must not drag `this`
            val items: Seq[(String, Seq[String])] = needMerge.toSeq.map {
              case (f, fs) =>
                f -> (fs.map(x => s"$storePath/${x.rel}") ++
                  base.dvs.get(f).map(e => s"$storePath/${e.path}").toSeq)
            }
            import spark.implicits._
            spark.createDataset(items).map { case (f, parts) =>
              val all = parts.iterator.flatMap(Dv.read(sconf.value, _)).toArray
              val rel = Dv.newRelPath()
              (f, rel, Dv.write(sconf.value, s"$storePath/$rel", all))
            }.collect().toSeq.map { case (f, rel, n) =>
              val (nulls, bounds) = statsOf(f)
              f -> Dv.Entry(rel, n, nulls, bounds)
            }
          }
        val entries: Map[String, Dv.Entry] =
          direct.map { case (f, fs) =>
            val (nulls, bounds) = statsOf(f)
            f -> Dv.Entry(fs.head.rel, fs.head.rows, nulls, bounds)
          } ++ mergedEntries
        // every position refers to a file of the SCANNED snapshot — a
        // concurrent replace of a touched partition (compaction, cow
        // delete, another dv write) invalidates it; same abort rule as
        // the dv DELETE
        val prefixes = entries.keySet.map { f =>
          val i = f.lastIndexOf('/')
          require(i > 0, s"live file '$f' is not under a partition directory")
          f.substring(0, i)
        }.toSeq.distinct.sorted
        // transform commit: pure file additions + vector changes — no
        // parent file list materializes however many files the store
        // has; a concurrent REPLACE of a touched partition still aborts
        TsStore.commitTransformWithRebase(path, lease, base.version,
          moved, prefixes,
          removeFilesOf = _ => Nil, abortOnAppendsUnder = false,
          boundChecks = boundSet, addDvs = entries)
        ()
      }
    }
    // dv-density cue on the batch DML door too (outside the lease —
    // compaction takes its own): auto-compact per the table's
    // dv.compact.ratio property, or log the advisory
    if (frags.nonEmpty) TsStore.dvDensityCompact(spark, path)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    StoreLog.deleteStaging(staging)
}

/** One deletion-vector FRAGMENT: the positions one task deleted from
  * one data file. Deleted-row STATS are deliberately NOT recorded
  * here: the delta plan hands the writer POST-assignment values (an
  * UPDATE assigning a column would record the new value as "deleted"),
  * so the commit recomputes them from the files ([[TsStore
  * .dvFreshStats]]) where the OLD rows still live.
  */
private[graft] final case class DvFrag(file: String, rel: String, rows: Long)

/** One task's artifacts: staged insert files (with their stats) +
  * deletion-vector fragments.
  */
private[graft] case class GraftDeltaTaskResult(
    inserts: GraftWriteTaskResult, frags: Seq[DvFrag])
  extends WriterCommitMessage

private[sources] class GraftDeltaWriterFactory(staging: String,
    rowSchema: StructType, uids: Seq[String], tsCol: String,
    factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    conf: GraftSerializableConf, maxRecordsPerFile: Long,
    checks: Seq[Constraints.Bound] = Nil)
  extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaDataWriter(staging, rowSchema, uids, tsCol, factory,
      conf, partitionId, taskId, maxRecordsPerFile, checks)
}

/** The task writer: inserts ride the streaming-hardened hashed parquet
  * writer (per-partition-dir open files — correct under any arrival
  * order, optimal under the required one); deletes buffer positions
  * per data file and flush as fragment sidecars at commit. Memory is
  * O(task's deleted rows) longs — the same order as the sidecar bytes
  * the task is about to write.
  */
private[sources] class GraftDeltaDataWriter(staging: String,
    rowSchema: StructType, uids: Seq[String], tsCol: String,
    factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    conf: GraftSerializableConf, partitionId: Int, taskId: Long,
    maxRecordsPerFile: Long, checks: Seq[Constraints.Bound] = Nil)
  extends DeltaWriter[InternalRow] {

  // lazy: a pure-DELETE delta has an empty row schema and never inserts
  private lazy val insertW = new GraftHashedDataWriter(staging, rowSchema,
    uids, tsCol, factory, conf.value, partitionId, taskId, maxRecordsPerFile,
    checks)
  private var insertsOpened = false
  private val positions =
    scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuffer[Long]]
  private val frags = Seq.newBuilder[DvFrag]
  private var fragSeq = 0
  private val flushRows = conf.value.getInt(
    GraftDeltaDataWriter.FragmentFlushKey, GraftDeltaDataWriter.FragmentFlushRows)

  private def flushFrag(file: String, buf: scala.collection.mutable.ArrayBuffer[Long]): Unit = {
    val rel = f"${Dv.Dir}%s/frag-$partitionId%05d-$taskId%d-$fragSeq%03d.bin"
    fragSeq += 1
    frags += DvFrag(file, rel, Dv.write(conf.value, s"$staging/$rel", buf.toArray))
  }

  private def recordDelete(id: InternalRow): Unit = {
    val file = id.getUTF8String(0).toString // copy — the id row is reused
    val buf = positions.getOrElseUpdate(file,
      scala.collection.mutable.ArrayBuffer.empty[Long])
    buf += id.getLong(1)
    // bound task memory: a fully-deleted 8M-row file is 64 MB of
    // positions, and a task may own MANY files — spill an over-cap
    // buffer as its own fragment (the commit-side union merges
    // multi-fragment files anyway)
    if (buf.length >= flushRows) {
      flushFrag(file, buf)
      positions.remove(file)
    }
  }

  override def delete(metadata: InternalRow, id: InternalRow): Unit =
    recordDelete(id)

  override def update(metadata: InternalRow, id: InternalRow,
                      row: InternalRow): Unit = {
    recordDelete(id)
    insert(row)
  }

  override def insert(row: InternalRow): Unit = {
    insertsOpened = true
    insertW.write(row)
  }

  override def commit(): WriterCommitMessage = {
    val inserts =
      if (!insertsOpened) GraftWriteTaskResult.empty
      else insertW.commit() match { case r: GraftWriteTaskResult => r }
    positions.foreach { case (file, buf) => flushFrag(file, buf) }
    positions.clear()
    GraftDeltaTaskResult(inserts, frags.result())
  }

  override def abort(): Unit = if (insertsOpened) insertW.abort()

  override def close(): Unit = if (insertsOpened) insertW.close()
}

private[graft] object GraftDeltaDataWriter {
  /** Per-file position-buffer cap before an early fragment spill —
    * 4M longs = 32 MB; the commit-side union reassembles. Test seam:
    * the hadoop-conf key lowers it so specs can force the spill.
    */
  val FragmentFlushRows: Int = 4 << 20
  val FragmentFlushKey = "graft.delta.fragFlushRows"
}
