package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortOrder}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, RowLevelOperation, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Group-based COPY-ON-WRITE row-level operations — SQL `UPDATE` and
  * `MERGE INTO` on graft catalog tables, plus the DELETEs the metadata
  * path cannot express (subquery predicates). The implementation is the
  * standard table-format shape (Iceberg's copy-on-write), re-expressed
  * over the store's manifest:
  *
  *   1. Spark rewrites the command into a REPLACE-DATA plan: read every
  *      row of the AFFECTED groups (our group = one data FILE, named by
  *      the `_file` metadata column), apply the mutation, write the
  *      replacement.
  *   2. The read is this operation's [[GraftScanBuilder]] in row-level
  *      mode: pushed filters prune FILES only (a row-group skip inside
  *      an affected file would silently drop survivor rows), and
  *      Spark's runtime group filtering delivers the matching `_file`
  *      set back into the scan — only files actually holding matches
  *      are read and rewritten, everything else is untouched.
  *   3. The write stages replacement parquet in the store's canonical
  *      (uid, ts) layout ([[RequiresDistributionAndOrdering]], the same
  *      contract as the native INSERT) and commits ONE manifest version
  *      that swaps the scanned files for the written ones — atomic,
  *      time-travelable, conflict-checked against concurrent writers
  *      through the same rebase rules as the engine's own delete
  *      (concurrent appends serialize; a concurrent REPLACE of a
  *      touched partition aborts with [[StoreLog.CommitConflict]]).
  *
  * Cost at 100 TB: the rewrite IO is bounded by the files that hold
  * matches — a single-row UPDATE rewrites one file's survivors, not a
  * partition, not the store.
  */
class GraftRowLevelOperation(path: String, tableSchema: StructType,
                             uids: Seq[String], tsCol: String,
                             cmd: RowLevelOperation.Command)
  extends RowLevelOperation {

  // the operation's scan instance, captured at build so the write's
  // commit can ask which files were ACTUALLY planned (post runtime
  // group filtering) and which snapshot they came from
  @volatile private var builtScan: GraftScan = _

  override def command(): RowLevelOperation.Command = cmd

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(GraftTable.FileColName))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(SparkSession.active, path, None, tableSchema,
      rowLevel = true) {
      override def build(): org.apache.spark.sql.connector.read.Scan = {
        val s = super.build().asInstanceOf[GraftScan]
        builtScan = s
        s
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new GraftReplaceDataWrite(path, info.schema(), uids, tsCol,
          () => Option(builtScan))
    }

  override def description(): String = s"graft-row-level-$cmd:$path"
}

/** The replace-data write: stages canonical-layout parquet like the
  * native INSERT, but its commit SWAPS the operation scan's planned
  * files for the written ones in one manifest version.
  */
private[sources] class GraftReplaceDataWrite(path: String,
    writeSchema: StructType, uids: Seq[String], tsCol: String,
    scanOf: () => Option[GraftScan])
  extends Write with RequiresDistributionAndOrdering {

  override def requiredDistribution(): Distribution =
    Distributions.ordered(GraftBatchWrite.canonicalOrdering(writeSchema, uids, tsCol))

  override def requiredOrdering(): Array[SortOrder] =
    GraftBatchWrite.canonicalOrdering(writeSchema, uids, tsCol)

  override def toBatch: BatchWrite = {
    val spark = SparkSession.active
    val staging = TsStore.txnDir(path)
    val (factory, conf, maxRecords) =
      GraftBatchWrite.storeSetup(spark, path, writeSchema, uids)
    // copy-on-write replacement rows = survivors + UPDATE/MERGE output:
    // survivors satisfied the constraints at their own write (ADD
    // validates existing data), so the per-row guard here gates exactly
    // the mutated/inserted values
    val boundSet = Constraints.forStore(path)
    val checks = Constraints.bind(spark, writeSchema, boundSet)
    new BatchWrite {
      override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
        new GraftDataWriterFactory(staging, writeSchema, uids, tsCol,
          factory, conf, maxRecords, checks)

      override def commit(messages: Array[WriterCommitMessage]): Unit = {
        val staged = Staged(path, staging, GraftWriteTaskResult.of(messages.toSeq))
        val scan = scanOf().getOrElse(throw new IllegalStateException(
          "row-level write committed without its operation scan"))
        // the files the replacement rows were COMPUTED from — evaluated
        // now, after runtime group filtering narrowed the scan
        val removed = scan.plannedFiles
        val base = scan.snapshot
        val prefixes: Seq[String] = removed.map { f =>
          val i = f.lastIndexOf('/')
          if (i > 0) f.substring(0, i) else f
        }.distinct.sorted
        StoreLog.withWriterLease(path) { lease =>
          val moved = staged.adopt()
          if (removed.isEmpty && moved.files.isEmpty) ()
          else {
            // transform commit: swap exactly the operation's planned
            // files for the rewrites — no parent file list materializes
            TsStore.commitTransformWithRebase(path, lease, base.version,
              moved, prefixes,
              removeFilesOf = _ => removed,
              abortOnAppendsUnder = false,
              // UPDATE/MERGE rewrites carry mutated/inserted values the
              // guard validated against the build-time set — abort if a
              // constraint was added since (the survivors alone were
              // certified by the ADD scan; the new values were not)
              boundChecks = Some(boundSet))
            ()
          }
        }
      }

      override def abort(messages: Array[WriterCommitMessage]): Unit =
        StoreLog.deleteStaging(staging)
    }
  }

  override def description(): String = s"graft-replace-data:$path"
}
