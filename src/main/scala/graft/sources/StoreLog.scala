package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ArrayNode
import scala.jdk.CollectionConverters._

/** Versioned file manifest for a TsStore directory — the minimal commit
  * protocol that makes [[TsStore.upsert]] crash-atomic and cross-process
  * safe (the reference has no multi-writer story at all: MongoDB gave it
  * document-level atomicity for free; a parquet directory gives none).
  *
  * Layout: `<store>/_graft_log/v00000001.json`, one JSON file per
  * version. Underscore-prefixed, '='-free name, so Spark's partition
  * discovery never sees it. Every [[CheckpointInterval]]-th version is
  * a CHECKPOINT carrying the full live file list; versions between are
  * DELTAS (add/remove vs their parent), so a commit writes O(its own
  * footprint) and a read resolves at most `interval − 1` deltas above
  * one checkpoint:
  *
  * {{{
  * { "version": 10, "timestampMs": ..., "replaced": ["event_type=view"],
  *   "files": ["event_type=view/part-...parquet", ...] }        // checkpoint
  * { "version": 11, "timestampMs": ..., "replaced": [...],
  *   "add": [...], "remove": [...] }                            // delta
  * }}}
  *
  * Commit is compare-and-swap on the NEXT version's file name: the
  * content is fully staged, then made to appear with ONE atomic
  * fail-if-exists operation — the backend-specific primitive behind the
  * [[CommitIo]] seam (POSIX hard link on local paths; HDFS
  * rename-no-overwrite, which is atomic by NameNode contract). Two
  * writers racing to the same version: exactly one wins; the loser sees
  * the winner's snapshot and either rebases (disjoint `replaced`
  * partition sets — both commits serialize cleanly) or aborts. A crash
  * at ANY point before the publish leaves the previous version live and
  * intact — readers can never observe a half-committed state, because
  * the only mutation readers look at is the appearance of one file.
  *
  * Scale note: only checkpoints are O(live files); the commit hot path
  * (upserts, appends, single-series compaction) writes deltas. Readers
  * are safe against concurrent COMMITS at any time; [[vacuum]] is safe
  * against live WRITERS via the [[WriterLease]] protocol (round 9), and
  * a reader racing vacuum may need the one retry [[read]] performs (the
  * rewrite-then-delete ordering guarantees retained versions stay
  * resolvable).
  */
object StoreLog {

  final case class Snapshot(version: Long, timestampMs: Long,
                            replaced: Seq[String], files: Seq[String],
                            checkpointInterval: Int = CheckpointInterval,
                            stats: Map[String, FileStats.FileStatsMap] = Map.empty,
                            tag: Option[String] = None,
                            bloomCols: Seq[String] = Nil,
                            props: Map[String, String] = Map.empty,
                            sizes: Map[String, Long] = Map.empty,
                            dvs: Map[String, Dv.Entry] = Map.empty,
                            filtered: Boolean = false) {
    /** Live (post-deletion-vector) row count of `file`, when the
      * manifest records its rows — the number every metadata-served
      * count/limit path must use instead of the raw stat rows.
      */
    def liveRows(file: String): Option[Long] = {
      // deterministic across map orderings: every column records the same
      // file row count, but collectFirst over the unordered per-column
      // map would silently pick an arbitrary entry if one ever disagreed
      // — take the max of the recorded values instead
      val recorded = stats.get(file)
        .map(_.values.collect { case cs if cs.rows >= 0 => cs.rows })
        .filter(_.nonEmpty).map(_.max)
      recorded.map(_ - dvs.get(file).map(_.rows).getOrElse(0L))
    }
  }

  /** Every `interval`-th version is a CHECKPOINT (full live file
    * list); the versions between are DELTAS (add/remove lists vs the
    * previous version). This bounds the per-commit manifest cost by the
    * COMMIT's footprint, not the store's: a 1 GB upsert against a
    * 6M-file store writes the few hundred paths it touched, not a
    * 300 MB listing. Reading any version resolves ≤ interval−1 deltas
    * above its checkpoint ancestor — a bounded driver-side metadata
    * walk. (Pre-round-8.5 logs, whose every version carries `files`,
    * parse as all-checkpoints — fully backward compatible.)
    *
    * The interval is a PER-STORE option: [[ensure]] records it in the
    * store's first manifest and every later manifest re-records its
    * writer's value (v1 may be vacuumed away, so no reader ever needs
    * it), and [[commit]] inherits the parent's — a streaming-cadence
    * store can trade checkpoint cost against delta-resolution depth
    * (interval 3 = a full listing every 3 commits but ≤ 2 deltas per
    * read). Resolution itself is cadence-AGNOSTIC — a read walks down
    * to the nearest full-list manifest whatever rhythm wrote the chain
    * — so logs with mixed intervals resolve fine (pinned in
    * StoreLogSpec). This value is only the default.
    */
  val CheckpointInterval = 10

  /** Live-file count at which checkpoint manifests switch from inline
    * JSON to a parquet payload sidecar ([[CheckpointParquet]]). Small
    * stores keep the readable single-file JSON format; past this, a
    * checkpoint's JSON stays O(1) (a pointer) and the file list +
    * per-file stats ride a compressed columnar sidecar — the fix for
    * the million-file store's driver cost (a full Jackson DOM parse of
    * a multi-hundred-MB text checkpoint per plan). `@volatile var` as a
    * test seam only; both formats coexist freely in one log (resolution
    * is per-manifest), so flipping it mid-life is always safe.
    */
  @volatile private[graft] var ParquetCheckpointThreshold: Int = 4096

  /** Stage a checkpoint's payload for version `v`: None = inline JSON
    * (small store), Some((sidecarName, fileCount)) after writing the
    * parquet payload DURABLY into the log dir — called strictly before
    * the manifest that points at it publishes, so a reader can never
    * observe a dangling `filesRef`. The name is UUID-stamped: two
    * writers racing the same version stage distinct sidecars, the CAS
    * loser deletes its own, and a crashed loser's orphan is reclaimed
    * by [[vacuum]]'s aged-unreferenced sweep.
    */
  private def stageCheckpointPayload(path: String, v: Long,
      files: Seq[String], stats: Map[String, FileStats.FileStatsMap],
      sizes: Map[String, Long], dvs: Map[String, Dv.Entry])
      : Option[(String, Long)] =
    if (files.size < ParquetCheckpointThreshold) None
    else {
      val ref = f"v$v%08d-${java.util.UUID.randomUUID().toString.replace("-", "")}.ckpt.parquet"
      io(path).replaceAtomic(s"${logDir(path)}/$ref",
        CheckpointParquet.write(files, stats, sizes, dvs))
      Some((ref, files.size.toLong))
    }

  /** Thrown when a concurrent commit replaced an overlapping partition
    * set — the caller's merge was computed against a stale base and
    * cannot be serialized after the winner.
    */
  final class CommitConflict(msg: String) extends RuntimeException(msg)

  /** How long a writer lease stays valid without renewal. Writers renew
    * per commit attempt, and the protected window (adopt → commit) is
    * normally seconds; a writer stalled past this loses vacuum
    * protection — the same declared exposure as the txn-staging age
    * gate.
    */
  val WriterLeaseMs: Long = 10L * 60 * 1000

  /** A per-txn writer lease — the handshake that makes [[vacuum]] safe
    * to run against LIVE writers. A writer holds a lease across its
    * danger window (data files adopted into partition directories but
    * not yet named by a commit — to vacuum they look exactly like
    * garbage); while any fresh lease exists, vacuum spares dead files
    * young enough to be such an adoption. Lease files live in the log
    * directory (`.lease_<uuid>` — dot-prefixed, never matched by the
    * version listing); a crashed writer's stale lease expires by mtime
    * and is reclaimed by the next vacuum.
    */
  final class WriterLease private[StoreLog] (path: String) {
    private[StoreLog] val file =
      s"${logDir(path)}/.lease_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    private val fsio = io(path)
    // the lease CONTENT is its creation time: freshness is the file's
    // mtime (renewed), but vacuum's adopted-file protection needs to
    // know when the writer's danger window STARTED — everything the
    // writer adopted is newer than this instant, however long it stalls
    private val birth = System.currentTimeMillis().toString.getBytes("UTF-8")
    fsio.replaceAtomic(file, birth)
    /** Refresh the lease's mtime (called per commit attempt and by the
      * [[withWriterLease]] heartbeat). A lease that expired and was
      * reclaimed by a concurrent vacuum mid-renew is recreated — the
      * touch's missing-file failure falls through to the rewrite.
      */
    def renew(): Unit =
      try { if (fsio.exists(file)) fsio.touch(file) else fsio.replaceAtomic(file, birth) }
      catch {
        case _: java.nio.file.NoSuchFileException | _: java.io.FileNotFoundException =>
          fsio.replaceAtomic(file, birth)
      }
    private[StoreLog] def release(): Unit = fsio.deleteFile(file)
  }

  /** Heartbeat cadence for [[withWriterLease]]'s auto-renewal thread —
    * well inside [[WriterLeaseMs]] so a writer stalled in a long merge
    * (slow staging write, GC pause, slow commit IO) keeps its lease
    * fresh without any cooperation from the stalled code path. Test
    * seam: specs shrink it to exercise renewal quickly.
    */
  @volatile private[graft] var LeaseHeartbeatMs: Long = WriterLeaseMs / 4

  /** Run `body` under a writer lease (acquire → heartbeat-renewed body →
    * release). Every adopt-then-commit sequence must run inside one; see
    * [[WriterLease]]. The daemon heartbeat renews the lease on a fixed
    * cadence so protection no longer depends on the body reaching its
    * own renew() calls — a writer stalled past [[WriterLeaseMs]] used to
    * lose vacuum protection by declaration; now only a KILLED writer
    * (heartbeat died with it) expires.
    */
  def withWriterLease[T](path: String)(body: WriterLease => T): T = {
    val lease = new WriterLease(path)
    val stop = new java.util.concurrent.CountDownLatch(1)
    val hb = new Thread(() => {
      // await returns false on timeout → renew and loop; true on release
      while (!stop.await(LeaseHeartbeatMs, java.util.concurrent.TimeUnit.MILLISECONDS)) {
        try lease.renew()
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }, s"graft-lease-heartbeat-${lease.file.takeRight(8)}")
    hb.setDaemon(true)
    hb.start()
    try body(lease)
    finally {
      stop.countDown()
      hb.join(2000)
      lease.release()
    }
  }

  /** Whether any writer lease at `path` is still FRESH — the guard
    * destructive verbs (DROP TABLE) check before removing the store: a
    * live writer's staged/adopted files would vanish mid-commit, and
    * even the store's own vacuum honors leases. An unreadable mtime
    * counts as not-fresh only if the file vanished; transient errors
    * read as fresh (conservative — refuse the drop, retry later).
    */
  def hasFreshWriterLease(path: String): Boolean = {
    val fsio = io(path)
    if (!fsio.isDir(logDir(path))) return false
    val now = System.currentTimeMillis()
    fsio.list(logDir(path)).map(_.name).filter(_.startsWith(".lease_"))
      .exists { n =>
        try now - fsio.mtimeMs(s"${logDir(path)}/$n") < WriterLeaseMs
        catch {
          case _: java.nio.file.NoSuchFileException |
               _: java.io.FileNotFoundException => false
          case _: java.io.IOException | _: java.io.UncheckedIOException => true
        }
      }
  }

  private val mapper = new ObjectMapper()

  /** True for a plain (scheme-less) local filesystem path — these take
    * the java.nio commit primitives directly.
    */
  def isLocal(path: String): Boolean =
    !path.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:.*")

  /** The path's commit backend ([[CommitIo.forPath]]): every store
    * operation runs through it, so this is the one place a path whose
    * scheme has no atomic publish-if-absent primitive (plain S3 without
    * a registered backend) is refused — reads, writes and maintenance
    * alike.
    */
  private def io(path: String): CommitIo =
    CommitIo.forPath(path).getOrElse(throw new IllegalArgumentException(
      s"StoreLog cannot commit to '$path': the scheme has no atomic " +
        "publish-if-absent primitive (local paths, file:, and HDFS-like " +
        "URIs are supported)"))

  def logDir(path: String): String = s"$path/_graft_log"

  private def verFile(path: String, v: Long): String =
    f"${logDir(path)}/v$v%08d.json"

  def exists(path: String): Boolean =
    io(path).isDir(logDir(path)) && listVersions(path).nonEmpty

  /** Spark's hidden-path rule, mirrored exactly: `_`/`.`-prefixed names
    * are hidden UNLESS they contain '=' — a partition directory for an
    * underscore-named column (Bundles' `__uid=...`) is data, while
    * `_graft_log`, `_graft_txn_*`, `_SUCCESS` and dotfiles are not.
    */
  private def hiddenName(n: String): Boolean =
    (n.startsWith("_") || n.startsWith(".")) && !n.contains("=")

  def listVersions(path: String): Seq[Long] =
    io(path).list(logDir(path)).map(_.name)
      .collect { case n if n.matches("v\\d{8}\\.json") => n.substring(1, 9).toLong }
      .sorted

  def latestVersion(path: String): Option[Long] = listVersions(path).lastOption

  private def strings(n: JsonNode): Seq[String] =
    n.elements().asScala.map(_.asText()).toSeq

  private def readRaw(path: String, version: Long): JsonNode = {
    val f = verFile(path, version)
    require(io(path).exists(f), s"store log has no version $version at $f")
    mapper.readTree(io(path).readBytes(f))
  }

  def read(path: String, version: Long): Snapshot = {
    // one retry: a concurrent vacuum may delete a delta's checkpoint
    // ancestor, but only AFTER atomically rewriting the oldest retained
    // version as a checkpoint — so re-walking from the requested
    // version sees the rewritten (now self-contained) manifest. Reads
    // of versions vacuum actually DROPPED still fail, as they should.
    // IOException is retried too: a checksummed local-FS reader racing
    // the checkpoint rewrite can transiently see a manifest/crc
    // mismatch (ChecksumException) or a mid-swap read failure.
    try readResolve(path, version)
    catch {
      case _: IllegalArgumentException | _: java.io.IOException |
           _: java.io.UncheckedIOException => readResolve(path, version)
    }
  }

  private def statsOf(n: JsonNode): Map[String, FileStats.FileStatsMap] =
    if (!n.has("stats")) Map.empty
    else n.get("stats").properties().asScala
      .map(e => e.getKey -> FileStats.fromJson(e.getValue)).toMap

  private def sizesOf(n: JsonNode): Map[String, Long] =
    if (!n.has("sizes")) Map.empty
    else n.get("sizes").properties().asScala
      .map(e => e.getKey -> e.getValue.asLong()).toMap

  // deletion-vector entries:
  // { "<file>": {"p": "<dvRel>", "n": rows[, "nn": {col: deletedNulls}]
  //              [, "bb": {col: [tag, lo, hi] | [tag]}]} }
  private def dvsOf(n: JsonNode): Map[String, Dv.Entry] =
    if (!n.has("dvs")) Map.empty
    else n.get("dvs").properties().asScala
      .map(e => e.getKey -> dvEntryFromJson(e.getValue))
      .toMap

  /** One dv entry's JSON object — the SAME dialect inline manifests and
    * parquet checkpoint payloads ([[CheckpointParquet]]) carry.
    */
  private[sources] def dvEntryFromJson(v: JsonNode): Dv.Entry = {
    val nulls: Map[String, Long] =
      if (!v.has("nn")) Map.empty
      else v.get("nn").properties().asScala
        .map(p => p.getKey -> p.getValue.asLong()).toMap
    val bounds: Map[String, Dv.Bound] =
      if (!v.has("bb")) Map.empty
      else v.get("bb").properties().asScala
        .map { p =>
          val a = p.getValue
          val tag = a.get(0).asText()
          val b =
            if (a.size() < 3) Dv.Bound.empty(tag)
            else if (tag == "s")
              Dv.Bound(tag, Some(a.get(1).asText()), Some(a.get(2).asText()))
            else
              Dv.Bound(tag, Some(a.get(1).asLong()), Some(a.get(2).asLong()))
          p.getKey -> b
        }.toMap
    Dv.Entry(v.get("p").asText(), v.get("n").asLong(), nulls, bounds)
  }

  private[sources] def dvEntryJson(mapper: ObjectMapper,
      e: Dv.Entry): com.fasterxml.jackson.databind.node.ObjectNode = {
    val v = mapper.createObjectNode()
    v.put("p", e.path); v.put("n", e.rows)
    if (e.nulls.nonEmpty) {
      val nn = mapper.createObjectNode()
      e.nulls.toSeq.sortBy(_._1).foreach { case (c, k) => nn.put(c, k) }
      v.set[JsonNode]("nn", nn)
    }
    if (e.bounds.nonEmpty) {
      val bb = mapper.createObjectNode()
      e.bounds.toSeq.sortBy(_._1).foreach { case (c, b) =>
        val a = mapper.createArrayNode()
        a.add(b.tag)
        b.lo.foreach { lo =>
          if (b.tag == "s") {
            a.add(lo.asInstanceOf[String])
            a.add(b.hi.get.asInstanceOf[String])
          } else {
            a.add(lo.asInstanceOf[Long])
            a.add(b.hi.get.asInstanceOf[Long])
          }
        }
        bb.set[JsonNode](c, a)
      }
      v.set[JsonNode]("bb", bb)
    }
    v
  }

  /** Whether a raw manifest node is SELF-RESOLVABLE (a checkpoint):
    * either the inline `files` list or a `filesRef` parquet pointer.
    */
  private def isCheckpointNode(n: JsonNode): Boolean =
    n.has("files") || n.has("filesRef")

  /** A checkpoint node's full (files, stats, sizes, dvs) — decoding the
    * parquet sidecar when the manifest is a pointer.
    */
  private def checkpointOf(path: String, n: JsonNode): (Seq[String],
      Map[String, FileStats.FileStatsMap], Map[String, Long],
      Map[String, Dv.Entry]) =
    if (n.has("filesRef"))
      CheckpointParquet.read(
        io(path).readBytes(s"${logDir(path)}/${n.get("filesRef").asText()}"))
    else (strings(n.get("files")), statsOf(n), sizesOf(n), dvsOf(n))

  private def readResolve(path: String, version: Long): Snapshot = {
    val root = readRaw(path, version)
    val (files, stats, sizes, dvs) =
      if (isCheckpointNode(root)) checkpointOf(path, root)
      else {
        // walk raw manifests down to the checkpoint ancestor collecting
        // the deltas, then apply them FORWARD over one mutable set —
        // one checkpoint parse + one final sort, not a full Snapshot
        // materialization per chain level. Stats ride the same walk:
        // removed files drop theirs, added files bring theirs (absent
        // entries stay absent — stat-less files are legal).
        var v = version - 1
        var deltas = List(root) // newest-last after the walk below
        var node = readRaw(path, v)
        while (!isCheckpointNode(node)) {
          deltas ::= node
          v -= 1
          node = readRaw(path, v)
        }
        val (bFiles, bStats, bSizes, bDvs) = checkpointOf(path, node)
        val acc = scala.collection.mutable.Set[String](bFiles: _*)
        val sAcc = scala.collection.mutable.Map[String, FileStats.FileStatsMap](
          bStats.toSeq: _*)
        val zAcc = scala.collection.mutable.Map[String, Long](bSizes.toSeq: _*)
        // dv entries ride deltas keyed by their DATA file: a removed
        // file drops its vector with it (the replacement rewrote the
        // survivors), a delta's `dvs` node overrides (a second delete
        // against the same file swapped in the union sidecar)
        val dAcc = scala.collection.mutable.Map[String, Dv.Entry](bDvs.toSeq: _*)
        deltas.foreach { d =>
          val rm = strings(d.get("remove"))
          acc --= rm
          sAcc --= rm
          zAcc --= rm
          dAcc --= rm
          acc ++= strings(d.get("add"))
          sAcc ++= statsOf(d)
          zAcc ++= sizesOf(d)
          dAcc ++= dvsOf(d)
        }
        (acc.toSeq.sorted, sAcc.toMap, zAcc.toMap, dAcc.toMap)
      }
    Snapshot(root.get("version").asLong(), root.get("timestampMs").asLong(),
      strings(root.get("replaced")), files,
      if (root.has("checkpointInterval")) root.get("checkpointInterval").asInt()
      else CheckpointInterval,
      stats,
      if (root.has("tag")) Some(root.get("tag").asText()) else None,
      if (root.has("bloomCols")) strings(root.get("bloomCols")) else Nil,
      if (root.has("props"))
        root.get("props").properties().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap
      else Map.empty,
      sizes,
      // a legacy checkpoint may carry dv entries for files a later
      // writer removed without understanding dvs — prune to live
      if (dvs.isEmpty) dvs else {
        val live = files.toSet; dvs.filter { case (f, _) => live(f) }
      })
  }

  /** One live file's manifest state, as the STREAMING resolution hands
    * it to a fold — never part of a store-wide map.
    */
  final case class FileEntry(path: String,
                             stats: Option[FileStats.FileStatsMap],
                             size: Option[Long],
                             dv: Option[Dv.Entry])

  /** Live-file count at which the DSv2 scan resolves its snapshot
    * STRIPE-LAZILY ([[readFiltered]] — only files surviving the pushed
    * filters materialize on the driver) instead of through the full
    * [[read]]. Below it, plans resolve exactly as before — small
    * stores' behavior is bit-identical. `@volatile var` test seam.
    */
  @volatile private[graft] var LazySnapshotThreshold: Int = 65536

  /** EXACT live-file count of `version` from raw manifest JSON alone —
    * O(chain-to-checkpoint) small reads, never a sidecar decode (a
    * columnar checkpoint's count is its O(1) `fileCount` field; deltas
    * adjust by their disjoint add/remove list sizes). The O(1) gate
    * the scan path uses to decide lazy vs full resolution.
    */
  def liveFileCount(path: String, version: Long): Long = {
    var v = version
    var delta = 0L
    while (true) {
      val n = readRaw(path, v)
      if (n.has("filesRef")) return n.get("fileCount").asLong + delta
      if (n.has("files")) return n.get("files").size.toLong + delta
      delta += n.get("add").size.toLong - n.get("remove").size.toLong
      v -= 1
    }
    -1L // unreachable
  }

  /** STREAM-fold over a version's live file entries WITHOUT ever
    * materializing the store-wide file/stat/size/dv maps — the
    * driver-side scale fix for the million-file store: [[read]] decodes
    * the whole checkpoint into [[Snapshot]] maps (multi-GB at the
    * 100 TB ≈ 6–7M-file tier even though the parquet payload is tens of
    * MB); this walks the SAME chain but keeps only (a) the delta
    * overlays — O(sum of the ≤ interval−1 commits' footprints) — and
    * (b) whatever `op` itself retains. `prefixes` (partition directory
    * prefixes) push into the columnar checkpoint's sorted path column
    * as ROW-GROUP skips ([[CheckpointParquet.stream]]).
    *
    * Overlay semantics mirror [[readResolve]] exactly: a delta's
    * removes drop the file and its stats/sizes/dv; adds register the
    * delta's own entries (re-adding a removed path resurrects it with
    * whatever the re-adding delta carries); stat/size/dv nodes for
    * files the delta did NOT add override the checkpoint's (a dv write
    * touches files the add/remove lists never name). Entries arrive in
    * no promised order.
    */
  /** The delta-overlay state of a version's chain above its checkpoint
    * ancestor — O(sum of the ≤ interval−1 commits' footprints), the
    * bounded driver allocation every streamed resolution shares.
    */
  private final class Overlay(
      val ckptNode: JsonNode,
      val removed: scala.collection.mutable.Set[String],
      val added: scala.collection.mutable.LinkedHashMap[String,
        (Option[FileStats.FileStatsMap], Option[Long], Option[Dv.Entry])],
      val oStats: scala.collection.mutable.Map[String, FileStats.FileStatsMap],
      val oSizes: scala.collection.mutable.Map[String, Long],
      val oDvs: scala.collection.mutable.Map[String, Dv.Entry])

  private def overlayOf(path: String, version: Long): Overlay = {
    val root = readRaw(path, version)
    var deltas = List.empty[JsonNode] // oldest-first after the walk
    var node = root
    var v = version - 1
    while (!isCheckpointNode(node)) {
      deltas ::= node
      node = readRaw(path, v)
      v -= 1
    }
    // `node` is now the checkpoint: root itself when self-resolvable,
    // the chain's ancestor otherwise
    val removed = scala.collection.mutable.Set.empty[String]
    val added = scala.collection.mutable.LinkedHashMap
      .empty[String, (Option[FileStats.FileStatsMap], Option[Long], Option[Dv.Entry])]
    val oStats = scala.collection.mutable.Map.empty[String, FileStats.FileStatsMap]
    val oSizes = scala.collection.mutable.Map.empty[String, Long]
    val oDvs = scala.collection.mutable.Map.empty[String, Dv.Entry]
    deltas.foreach { d =>
      strings(d.get("remove")).foreach { f =>
        if (added.remove(f).isEmpty) removed += f
        oStats -= f; oSizes -= f; oDvs -= f
      }
      strings(d.get("add")).foreach { f =>
        removed -= f
        added(f) = (None, None, None)
      }
      statsOf(d).foreach { case (f, st) =>
        added.get(f) match {
          case Some((_, z, e)) => added(f) = (Some(st), z, e)
          case None => oStats(f) = st
        }
      }
      sizesOf(d).foreach { case (f, z) =>
        added.get(f) match {
          case Some((s, _, e)) => added(f) = (s, Some(z), e)
          case None => oSizes(f) = z
        }
      }
      dvsOf(d).foreach { case (f, e) =>
        added.get(f) match {
          case Some((s, z, _)) => added(f) = (s, z, Some(e))
          case None => oDvs(f) = e
        }
      }
    }
    new Overlay(node, removed, added, oStats, oSizes, oDvs)
  }

  def foldFiles[A](path: String, version: Long, prefixes: Seq[String] = Nil,
                   skipCheckpoint: Option[CheckpointParquet.Summary => Boolean] = None)
                  (zero: A)(op: (A, FileEntry) => A): A = {
    val o = overlayOf(path, version)
    val ckptNode = o.ckptNode
    val removed = o.removed; val added = o.added
    val oStats = o.oStats; val oSizes = o.oSizes; val oDvs = o.oDvs
    def underPrefix(f: String): Boolean =
      prefixes.isEmpty || prefixes.exists(p => f.startsWith(p + "/"))
    var acc = zero
    if (ckptNode.has("filesRef")) {
      val bytes = io(path).readBytes(
        s"${logDir(path)}/${ckptNode.get("filesRef").asText()}")
      // the footer-of-footers skip: when the caller's predicate
      // contradicts the checkpoint's GLOBAL per-column bounds
      // ([[CheckpointParquet.Summary]] — merged only over columns every
      // file records, so a false answer is proof), the entire payload's
      // rows never decode; only the delta adds (below) are considered
      val skipAll = skipCheckpoint.exists(p =>
        CheckpointParquet.summaryOf(bytes).exists(p))
      if (!skipAll)
        acc = CheckpointParquet.stream(bytes, prefixes, acc) { (a, e) =>
        if (removed.contains(e.path) || added.contains(e.path)) a
        else op(a, FileEntry(e.path,
          oStats.get(e.path).orElse(e.stats),
          oSizes.get(e.path).orElse(e.size),
          oDvs.get(e.path).orElse(e.dv)))
      }
    } else {
      val st = statsOf(ckptNode); val sz = sizesOf(ckptNode)
      val dv = dvsOf(ckptNode)
      strings(ckptNode.get("files")).foreach { f =>
        if (underPrefix(f) && !removed.contains(f) && !added.contains(f))
          acc = op(acc, FileEntry(f,
            oStats.get(f).orElse(st.get(f)),
            oSizes.get(f).orElse(sz.get(f)),
            oDvs.get(f).orElse(dv.get(f))))
      }
    }
    added.foreach { case (f, (s, z, e)) =>
      if (underPrefix(f)) acc = op(acc, FileEntry(f, s, z, e))
    }
    acc
  }

  /** [[foldFiles]] with entries delivered in ASCENDING PATH ORDER — the
    * feed for the streaming checkpoint writer
    * ([[CheckpointParquet.StreamWriter]] requires sorted rows so the
    * path column's row-group stats stay a skip index). Same overlay
    * semantics and the same bounded driver state: the checkpoint
    * payload streams sorted by construction, the inline-JSON file list
    * was written sorted, and the delta-added entries (O(chain
    * footprints)) merge in by a sorted cursor.
    */
  def foldFilesSorted[A](path: String, version: Long)(zero: A)(
      op: (A, FileEntry) => A): A = {
    val o = overlayOf(path, version)
    val addedSorted: IndexedSeq[(String,
        (Option[FileStats.FileStatsMap], Option[Long], Option[Dv.Entry]))] =
      o.added.toIndexedSeq.sortBy(_._1)
    var ai = 0
    var acc = zero
    def emitAdd(): Unit = {
      val (f, (s, z, e)) = addedSorted(ai)
      acc = op(acc, FileEntry(f, s, z, e))
      ai += 1
    }
    def onCkptFile(f: String, st: Option[FileStats.FileStatsMap],
                   sz: Option[Long], dv: Option[Dv.Entry]): Unit = {
      while (ai < addedSorted.length && addedSorted(ai)._1 < f) emitAdd()
      if (!o.removed.contains(f) && !o.added.contains(f))
        acc = op(acc, FileEntry(f,
          o.oStats.get(f).orElse(st),
          o.oSizes.get(f).orElse(sz),
          o.oDvs.get(f).orElse(dv)))
    }
    if (o.ckptNode.has("filesRef")) {
      val bytes = io(path).readBytes(
        s"${logDir(path)}/${o.ckptNode.get("filesRef").asText()}")
      CheckpointParquet.stream(bytes, Nil, ()) { (_, e) =>
        onCkptFile(e.path, e.stats, e.size, e.dv)
      }
    } else {
      val st = statsOf(o.ckptNode); val sz = sizesOf(o.ckptNode)
      val dv = dvsOf(o.ckptNode)
      strings(o.ckptNode.get("files")).foreach(f =>
        onCkptFile(f, st.get(f), sz.get(f), dv.get(f)))
    }
    while (ai < addedSorted.length) emitAdd()
    acc
  }

  /** A version's `replaced` record straight from raw JSON — the
    * conflict-detection unit every manifest carries.
    */
  def replacedAt(path: String, v: Long): Seq[String] =
    strings(readRaw(path, v).get("replaced"))

  /** A version's commit tag straight from raw JSON (None when untagged). */
  def tagAt(path: String, v: Long): Option[String] = {
    val n = readRaw(path, v)
    if (n.has("tag")) Some(n.get("tag").asText()) else None
  }

  /** A version's bloomCols straight from raw JSON. */
  def bloomColsAt(path: String, v: Long): Seq[String] = {
    val n = readRaw(path, v)
    if (n.has("bloomCols")) strings(n.get("bloomCols")) else Nil
  }

  /** A version's raw (added, removed, addedSizes) straight from its
    * manifest's own add/remove record. Every DELTA carries one by
    * construction, and checkpoint manifests written by the transform
    * path carry their commit's lists too (the TXN RECORD — see
    * [[commitTransform]]), so the change feed / conflict walks stay
    * O(commit footprint) across checkpoint boundaries. None only for
    * record-less checkpoints: legacy ones, and full-list commits whose
    * diff genuinely spans the store (restore, resetDvs rollbacks) —
    * those callers fall back to a set diff, correctly paying for what
    * the commit actually did. The inline-JSON txn checkpoint's `sizes`
    * map covers all live files (a superset of the adds') — consumers
    * look up added files only.
    */
  def rawDelta(path: String, v: Long)
      : Option[(Seq[String], Seq[String], Map[String, Long])] = {
    val n = readRaw(path, v)
    if (!n.has("add")) None
    else Some((strings(n.get("add")), strings(n.get("remove")), sizesOf(n)))
  }

  /** ANY file path the chain has ever named — a LAYOUT HINT only (the
    * file may be dead; partitioning is immutable per store, so any
    * historical path carries the directory shape). Raw manifest walks
    * first (a delta's add list answers without touching the sidecar);
    * only a delta-less columnar checkpoint decodes — one row.
    */
  def sampleFilePath(path: String, version: Long): Option[String] = {
    var v = version
    while (v >= 1) {
      val n = readRaw(path, v)
      if (n.has("add") && n.get("add").size() > 0)
        return Some(n.get("add").get(0).asText())
      if (n.has("files"))
        return if (n.get("files").size() > 0)
          Some(n.get("files").get(0).asText()) else None
      if (n.has("filesRef"))
        return CheckpointParquet.firstPath(
          io(path).readBytes(s"${logDir(path)}/${n.get("filesRef").asText()}"))
      v -= 1
    }
    None
  }

  /** Resolve `version` keeping ONLY files `keep` accepts — the
    * stripe-lazy [[read]]: the returned [[Snapshot]] (marked
    * `filtered`) carries the survivors' files/stats/sizes/dvs and the
    * full manifest metadata (version, props, tags, interval), with
    * driver allocations bounded by the surviving set + the delta
    * overlays, never the store. Callers own soundness: `keep` must be
    * at least as permissive as the pruning the plan later applies, and
    * a filtered snapshot must never serve as a WRITE conflict base.
    */
  def readFiltered(path: String, version: Long, prefixes: Seq[String] = Nil,
                   skipCheckpoint: Option[CheckpointParquet.Summary => Boolean] = None)
                  (keep: FileEntry => Boolean): Snapshot =
    // same one-retry contract as [[read]]: a concurrent vacuum may
    // checkpoint-rewrite the chain mid-walk; the re-walk sees the
    // rewritten self-contained manifest
    try readFilteredResolve(path, version, prefixes, skipCheckpoint)(keep)
    catch {
      case _: IllegalArgumentException | _: java.io.IOException |
           _: java.io.UncheckedIOException =>
        readFilteredResolve(path, version, prefixes, skipCheckpoint)(keep)
    }

  private def readFilteredResolve(path: String, version: Long,
      prefixes: Seq[String],
      skipCheckpoint: Option[CheckpointParquet.Summary => Boolean])(
      keep: FileEntry => Boolean): Snapshot = {
    val root = readRaw(path, version)
    val files = Seq.newBuilder[String]
    val st = Map.newBuilder[String, FileStats.FileStatsMap]
    val sz = Map.newBuilder[String, Long]
    val dv = Map.newBuilder[String, Dv.Entry]
    foldFiles(path, version, prefixes, skipCheckpoint)(()) { (_, e) =>
      if (keep(e)) {
        files += e.path
        e.stats.foreach(st += e.path -> _)
        e.size.foreach(sz += e.path -> _)
        e.dv.foreach(dv += e.path -> _)
      }
    }
    Snapshot(root.get("version").asLong(), root.get("timestampMs").asLong(),
      strings(root.get("replaced")), files.result().sorted,
      if (root.has("checkpointInterval")) root.get("checkpointInterval").asInt()
      else CheckpointInterval,
      st.result(),
      if (root.has("tag")) Some(root.get("tag").asText()) else None,
      if (root.has("bloomCols")) strings(root.get("bloomCols")) else Nil,
      if (root.has("props"))
        root.get("props").properties().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap
      else Map.empty,
      sz.result(), dv.result(), filtered = true)
  }

  /** Scan the newest `lookback` manifests for a commit carrying `tag` —
    * the idempotent-replay check behind tagged commits (the public
    * Delta/Iceberg txn-appId design): a re-delivered streaming batch
    * finds its own earlier commit and skips. Raw manifest parses only
    * (no chain resolution), so the cost is O(lookback) small JSON reads.
    * The window bounds the check deliberately: re-delivery only ever
    * replays the most recent batches, and manifests beyond the vacuum
    * retention are gone anyway.
    */
  def findTag(path: String, tag: String, lookback: Int = 100): Option[Long] =
    listVersions(path).reverse.take(lookback).find { v =>
      val n = readRaw(path, v)
      n.has("tag") && n.get("tag").asText() == tag
    }

  /** NAMED VERSION TAGS (the Iceberg tag/ref role — distinct from the
    * per-commit ingest `tag` field above, which dedups re-delivered
    * batches): a `graft.tag.<name>` prop on the LATEST manifest pins a
    * version for time travel (`VERSION AS OF '<name>'`) AND for
    * [[vacuum]], which retains every tagged version — manifest, data
    * files, and dv sidecars — however far past the retention window it
    * falls, checkpoint-rewriting it if its delta chain loses ancestors.
    * Managed through `CALL system.tag / drop_tag / tags` (the catalog
    * refuses direct SET of `graft.*` props).
    */
  val TagPropPrefix = "graft.tag."

  /** A version's commit time straight from its RAW manifest JSON —
    * like [[propsAt]], never decodes a checkpoint sidecar (the
    * TIMESTAMP AS OF walk probes many versions' timestamps and needs
    * none of their file lists).
    */
  def timestampAt(path: String, version: Long): Long =
    readRaw(path, version).get("timestampMs").asLong

  /** A version's props straight from its RAW manifest JSON — props are
    * embedded whole in every manifest (delta or checkpoint), so this
    * never decodes a parquet checkpoint sidecar. The cheap path for
    * metadata-only lookups (tags) on million-file stores, where a full
    * Snapshot resolution pays the sidecar decode.
    */
  def propsAt(path: String, version: Long): Map[String, String] = {
    val root = readRaw(path, version)
    if (root.has("props"))
      root.get("props").properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap
    else Map.empty
  }

  /** The version a named tag pins, from the latest manifest's props. */
  def tagVersion(path: String, name: String): Option[Long] =
    latestVersion(path).flatMap(v =>
      propsAt(path, v).get(TagPropPrefix + name)).flatMap(_.toLongOption)

  /** WRITABLE REFS (the Iceberg branch / Delta write-audit-publish
    * pattern, re-derived on this linear CAS log): a BRANCH is a named
    * moving pointer commits can target without touching what main
    * readers see. The log stays ONE version chain — branch commits are
    * ordinary CAS'd versions whose `files` list is the BRANCH view —
    * and three prop families carry the ref state on the tip manifest:
    *
    *   - `graft.ref.main = <v>`: present iff ≥1 branch exists; pins the
    *     version MAIN readers resolve (every main-targeted append
    *     advances it to its own version; branch commits inherit it
    *     unchanged — which is also how the change feed tells main
    *     versions apart: v is on main iff its props' ref is absent or
    *     equals v).
    *   - `graft.branch.<name> = <v>`: the branch head.
    *   - `graft.branchbase.<name> = <v>`: main's version at branch
    *     creation — the fast-forward guard (publish refuses if main
    *     moved since, like any rebase conflict).
    *
    * Publish = audit the branch head against the table's CURRENT
    * constraints, then ONE metadata-shaped commit whose `files` IS the
    * branch view and whose ref props fast-forward main — atomic via
    * the same CAS as every commit. Vacuum retains ref-pinned versions
    * exactly like tags. While a branch exists, REPLACING verbs
    * (upsert/delete/compact/zorder/DML) refuse — appends (the WAP
    * ingest shape) target either ref; publish-or-drop reopens the rest.
    */
  val MainRefProp = "graft.ref.main"
  val BranchPropPrefix = "graft.branch."
  val BranchBasePrefix = "graft.branchbase."
  // branch AGE-EXPIRY (the Iceberg ref-aging role): per-branch declared
  // max idle age (ms) and last-activity stamp (epoch ms, advanced by
  // every branch-targeted commit) — [[TsStore.expireBranches]] drops a
  // branch whose idle age exceeds its declared expiry, so a forgotten
  // branch stops pinning vacuum retention and maintenance-overlap
  // proofs forever. No declared expiry = never expires.
  val BranchExpirePrefix = "graft.branchexp."
  val BranchTouchPrefix = "graft.branchtouch."

  /** The MAIN view's version at the tip: the `graft.ref.main` pin when
    * a branch is active, the tip itself otherwise. Raw-JSON reads only.
    */
  def mainVersion(path: String): Option[Long] =
    latestVersion(path).map { v =>
      propsAt(path, v).get(MainRefProp).flatMap(_.toLongOption).getOrElse(v)
    }

  /** The main-view version AS OF manifest version `v` — what a main
    * reader (or the change feed) saw right after `v` committed.
    */
  def mainVersionAt(path: String, v: Long): Long =
    propsAt(path, v).get(MainRefProp).flatMap(_.toLongOption).getOrElse(v)

  /** A branch's head version, from the latest manifest's props. */
  def branchVersion(path: String, name: String): Option[Long] =
    latestVersion(path).flatMap(v =>
      propsAt(path, v).get(BranchPropPrefix + name)).flatMap(_.toLongOption)

  /** All live branches: name → head version. */
  def branches(path: String): Map[String, Long] =
    latestVersion(path).map(v => propsAt(path, v).collect {
      case (k, s) if k.startsWith(BranchPropPrefix) && s.toLongOption.isDefined =>
        k.stripPrefix(BranchPropPrefix) -> s.toLong
    }).getOrElse(Map.empty)

  /** All named tags of a store: name → pinned version. */
  def namedTags(path: String): Map[String, Long] =
    latestVersion(path).map(v => propsAt(path, v).collect {
      case (k, s) if k.startsWith(TagPropPrefix) && s.toLongOption.isDefined =>
        k.stripPrefix(TagPropPrefix) -> s.toLong
    }).getOrElse(Map.empty)

  def latest(path: String): Option[Snapshot] =
    latestVersion(path).map(read(path, _))

  /** Serialize one manifest. When `parentFiles` is present the version
    * is stored as add/remove lists vs that parent (a DELTA); otherwise
    * the full `files` list is embedded (a CHECKPOINT).
    */
  private def manifestBytes(version: Long, timestampMs: Long,
                            replaced: Seq[String], files: Seq[String],
                            parentFiles: Option[Seq[String]],
                            checkpointInterval: Int,
                            stats: Map[String, FileStats.FileStatsMap],
                            tag: Option[String] = None,
                            bloomCols: Seq[String] = Nil,
                            props: Map[String, String] = Map.empty,
                            sizes: Map[String, Long] = Map.empty,
                            dvs: Map[String, Dv.Entry] = Map.empty,
                            dvChanges: Map[String, Dv.Entry] = Map.empty,
                            filesRef: Option[(String, Long)] = None,
                            explicitDelta: Option[(Seq[String], Seq[String])] = None)
      : Array[Byte] = {
    val root = mapper.createObjectNode()
    root.put("version", version)
    root.put("timestampMs", timestampMs)
    root.put("checkpointInterval", checkpointInterval)
    tag.foreach(root.put("tag", _))
    def arr(xs: Seq[String]): ArrayNode = {
      val a = mapper.createArrayNode(); xs.foreach(a.add); a
    }
    if (bloomCols.nonEmpty) root.set[JsonNode]("bloomCols", arr(bloomCols))
    // per-store properties (small, so fully embedded in EVERY manifest —
    // delta and checkpoint alike — like the interval and bloomCols):
    // O(1)-readable metadata a caller would otherwise derive by scanning
    // data (e.g. a MatView's applied-upstream-version resume point)
    if (props.nonEmpty) {
      val o = mapper.createObjectNode()
      props.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
      root.set[JsonNode]("props", o)
    }
    def setStats(forFiles: Seq[String]): Unit = {
      val present = forFiles.filter(stats.contains).sorted
      if (present.nonEmpty) {
        val o = mapper.createObjectNode()
        present.foreach(f => o.set[JsonNode](f, FileStats.toJson(mapper, stats(f))))
        root.set[JsonNode]("stats", o)
      }
    }
    // per-file byte lengths, recorded at commit (the committing writer
    // just statted the files for their footers anyway) — so scan
    // planning and the planner's sizeInBytes never pay a per-file
    // getFileStatus RPC against a million-file store
    def setSizes(forFiles: Seq[String]): Unit = {
      val present = forFiles.filter(sizes.contains).sorted
      if (present.nonEmpty) {
        val o = mapper.createObjectNode()
        present.foreach(f => o.put(f, sizes(f)))
        root.set[JsonNode]("sizes", o)
      }
    }
    // deletion-vector entries — a delta serializes the COMMIT'S CHANGED
    // entries (a dv change touches a file the add/remove lists never
    // name), a checkpoint every live entry
    def setDvs(entries: Map[String, Dv.Entry]): Unit =
      if (entries.nonEmpty) {
        val o = mapper.createObjectNode()
        entries.toSeq.sortBy(_._1).foreach { case (f, e) =>
          o.set[JsonNode](f, dvEntryJson(mapper, e))
        }
        root.set[JsonNode]("dvs", o)
      }
    root.set[JsonNode]("replaced", arr(replaced.sorted))
    // an EXPLICIT delta (the O(commit-footprint) transform commit):
    // the caller states the exact add/remove lists — no parent file
    // set ever materializes to diff against
    explicitDelta.foreach { case (added, removed) =>
      root.set[JsonNode]("add", arr(added.sorted))
      root.set[JsonNode]("remove", arr(removed.sorted))
      setStats(added)
      setSizes(added)
      setDvs(dvChanges)
      return mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root)
    }
    parentFiles match {
      case Some(prev) =>
        val next = files.toSet; val prevSet = prev.toSet
        val added = (next -- prevSet).toSeq.sorted
        root.set[JsonNode]("add", arr(added))
        root.set[JsonNode]("remove", arr((prevSet -- next).toSeq.sorted))
        // a delta carries stats/sizes for its ADDED files only — O(commit)
        setStats(added)
        setSizes(added)
        setDvs(dvChanges)
      case None => filesRef match {
        case Some((ref, count)) =>
          // COLUMNAR checkpoint: the live list + per-file stats/sizes/
          // dvs live in a parquet sidecar ([[CheckpointParquet]], staged
          // durable BEFORE this manifest publishes); the JSON shrinks to
          // an O(1) pointer — a million-file store's manifest stays a
          // few hundred bytes, and resolution never builds a JSON DOM
          // proportional to the store
          root.put("filesRef", ref)
          root.put("fileCount", count)
        case None =>
          root.set[JsonNode]("files", arr(files.sorted))
          // a checkpoint re-embeds every live file's stats so the chain
          // below it can be vacuumed away without losing the index
          setStats(files)
          setSizes(files)
          setDvs(dvs)
      }
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root)
  }

  /** The O(COMMIT-FOOTPRINT) commit: the next version expressed as a
    * TRANSFORM of its parent — exact removed-file list + added files
    * with their stats/sizes + dv changes — so the parent snapshot is
    * NEVER materialized on a delta-due commit (the writer-side twin of
    * the stripe-lazy read: [[commit]] needs the full parent file list
    * to diff against, which at the ~6–7M-file tier is a multi-GB
    * driver allocation per append). Requirements the caller owns:
    * `removeFiles` ⊆ the parent's live set, `addFiles` disjoint from
    * it (exactly what every adopt-then-commit flow produces).
    * Checkpoint-due versions fall back internally to ONE full
    * resolution — 1-in-interval amortized, retired next by a streaming
    * checkpoint writer. Same CAS semantics as [[commit]].
    */
  def commitTransform(path: String, expectedVersion: Long,
                      replaced: Seq[String],
                      removeFiles: Seq[String], addFiles: Seq[String],
                      addStats: Map[String, FileStats.FileStatsMap] = Map.empty,
                      addSizes: Map[String, Long] = Map.empty,
                      addDvs: Map[String, Dv.Entry] = Map.empty,
                      tag: Option[String] = None,
                      setProps: Map[String, String] = Map.empty): Long = {
    val v = expectedVersion + 1
    val root = readRaw(path, expectedVersion)
    val eff =
      if (root.has("checkpointInterval")) root.get("checkpointInterval").asInt()
      else CheckpointInterval
    if (v % eff == 0)
      // checkpoint cadence: the full list must serialize anyway — but
      // STREAMED off the parent fold into the incremental payload
      // writer, never materialized as driver-side maps (the last
      // writer-side O(store) allocation, retired)
      return commitTransformCheckpoint(path, expectedVersion, replaced,
        removeFiles, addFiles, addStats, addSizes, addDvs, tag, setProps,
        eff, root)
    val pProps =
      if (root.has("props"))
        root.get("props").properties().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap
      else Map.empty[String, String]
    val effBlooms =
      if (root.has("bloomCols")) strings(root.get("bloomCols")) else Nil
    val effProps = (pProps ++ setProps).filter(_._2.nonEmpty)
    val add = addFiles.distinct
    val rm = removeFiles.distinct.toSet -- add
    val bytes = manifestBytes(v, System.currentTimeMillis(), replaced,
      files = Nil, parentFiles = None, checkpointInterval = eff,
      stats = addStats, tag = tag, bloomCols = effBlooms, props = effProps,
      sizes = addSizes, dvChanges = addDvs,
      explicitDelta = Some((add, rm.toSeq)))
    if (!io(path).publishIfAbsent(verFile(path, v), bytes))
      throw new CommitConflict(
        s"version $v already committed at $path — concurrent writer won")
    v
  }

  /** The CHECKPOINT-DUE arm of [[commitTransform]]: the parent's live
    * entries stream in sorted order ([[foldFilesSorted]]) through the
    * incremental payload writer ([[CheckpointParquet.StreamWriter]])
    * with the transform applied mid-stream (removes skipped, adds
    * merged in by a sorted cursor, dv changes overriding surviving
    * files) — driver state is O(commit footprint + row-group buffer),
    * never the store's maps. The manifest ALSO records the commit's own
    * add/remove lists (the TXN RECORD): [[rawDelta]] then serves
    * checkpoint versions too, so the change feed, the rebase conflict
    * walks, and incremental maintenance passes stay O(commit footprint)
    * across checkpoint boundaries instead of paying a full set diff
    * once per interval. Same CAS semantics as [[commit]]; a CAS loser
    * deletes its staged sidecar.
    */
  private def commitTransformCheckpoint(path: String, expectedVersion: Long,
      replaced: Seq[String], removeFiles: Seq[String], addFiles: Seq[String],
      addStats: Map[String, FileStats.FileStatsMap],
      addSizes: Map[String, Long], addDvs: Map[String, Dv.Entry],
      tag: Option[String], setProps: Map[String, String],
      eff: Int, parentRaw: JsonNode): Long = {
    val v = expectedVersion + 1
    val add: IndexedSeq[String] = addFiles.distinct.sorted.toIndexedSeq
    val addSet = add.toSet
    val rm = removeFiles.distinct.toSet -- addSet
    val pProps =
      if (parentRaw.has("props"))
        parentRaw.get("props").properties().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap
      else Map.empty[String, String]
    val effBlooms =
      if (parentRaw.has("bloomCols")) strings(parentRaw.get("bloomCols")) else Nil
    // container choice from the exact raw-manifest count (O(chain)) —
    // the same gate [[stageCheckpointPayload]] applies
    val est = liveFileCount(path, expectedVersion) - rm.size + add.size
    publishStreamedCheckpoint(path, v, eff, tag, effBlooms,
      (pProps ++ setProps).filter(_._2.nonEmpty), replaced, est,
      txn = Some((add, rm.toSeq.sorted,
        add.filter(addSizes.contains).map(f => f -> addSizes(f)).toMap))) { sink =>
      var ai = 0
      def drainAdds(limit: String): Unit =
        while (ai < add.length && (limit == null || add(ai) < limit)) {
          val f = add(ai)
          sink(CheckpointParquet.Entry(f, addStats.get(f), addSizes.get(f),
            addDvs.get(f)))
          ai += 1
        }
      foldFilesSorted(path, expectedVersion)(()) { (_, e) =>
        drainAdds(e.path)
        if (ai < add.length && add(ai) == e.path) {
          // contract corner (a re-added live path): mirror [[commit]]'s
          // merge — the new entry's attributes win, the parent's fill in
          sink(CheckpointParquet.Entry(e.path,
            addStats.get(e.path).orElse(e.stats),
            addSizes.get(e.path).orElse(e.size),
            addDvs.get(e.path).orElse(e.dv)))
          ai += 1
        } else if (!rm.contains(e.path))
          sink(CheckpointParquet.Entry(e.path, e.stats, e.size,
            addDvs.get(e.path).orElse(e.dv)))
      }
      drainAdds(null)
    }
  }

  /** RESTORE as a streamed checkpoint commit: publish `expectedVersion
    * + 1` whose live state is EXACTLY `targetVersion`'s — files, stats,
    * sizes, and deletion vectors (the exact-reset only a checkpoint can
    * express) — with the target's entries streaming straight off its
    * own fold into the payload writer. Neither the current NOR the
    * target snapshot ever materializes as driver maps; props/interval/
    * bloomCols inherit from the CURRENT version (a rollback rewinds
    * data, not store configuration — same semantics the materializing
    * restore always had). No txn record: a restore's diff genuinely
    * spans the store, so change-feed followers pay their one honest set
    * diff at the rollback boundary.
    */
  def restoreCommit(path: String, expectedVersion: Long, targetVersion: Long,
                    replaced: Seq[String]): Long = {
    val v = expectedVersion + 1
    val curRaw = readRaw(path, expectedVersion)
    val eff =
      if (curRaw.has("checkpointInterval")) curRaw.get("checkpointInterval").asInt()
      else CheckpointInterval
    val props =
      if (curRaw.has("props"))
        curRaw.get("props").properties().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap
      else Map.empty[String, String]
    val blooms =
      if (curRaw.has("bloomCols")) strings(curRaw.get("bloomCols")) else Nil
    publishStreamedCheckpoint(path, v, eff, None, blooms, props, replaced,
      est = liveFileCount(path, targetVersion), txn = None) { sink =>
      foldFilesSorted(path, targetVersion)(())((_, e) =>
        sink(CheckpointParquet.Entry(e.path, e.stats, e.size, e.dv)))
    }
  }

  /** Shared checkpoint publisher: `feed` pushes the new version's live
    * entries (ASCENDING path order) into the sink exactly once; the
    * container is a parquet sidecar past [[ParquetCheckpointThreshold]]
    * (per `est`) or inline JSON below it, and `txn` (add, remove,
    * addedSizes) — when the commit has a bounded footprint — is
    * recorded in the manifest for [[rawDelta]] consumers. CAS losers
    * delete their staged sidecar and throw [[CommitConflict]].
    */
  private def publishStreamedCheckpoint(path: String, v: Long, eff: Int,
      tag: Option[String], bloomCols: Seq[String], props: Map[String, String],
      replaced: Seq[String], est: Long,
      txn: Option[(Seq[String], Seq[String], Map[String, Long])],
      // `timestampMs` pins the manifest's commit time (the in-place
      // rewrite preserves the ORIGINAL commit's — age retention and
      // history must not see vacuum time); `replaceInPlace` swaps the
      // EXISTING manifest atomically instead of CAS-publishing a new
      // version (vacuum's stranded-delta repair owns the file)
      timestampMs: Option[Long] = None,
      replaceInPlace: Boolean = false)(
      feed: (CheckpointParquet.Entry => Unit) => Unit): Long = {
    val big = est >= ParquetCheckpointThreshold
    val writer = if (big) new CheckpointParquet.StreamWriter else null
    val inFiles = if (big) null else Seq.newBuilder[String]
    val inStats =
      if (big) null else Map.newBuilder[String, FileStats.FileStatsMap]
    val inSizes = if (big) null else Map.newBuilder[String, Long]
    val inDvs = if (big) null else Map.newBuilder[String, Dv.Entry]
    feed { e =>
      if (big) writer.add(e)
      else {
        inFiles += e.path
        e.stats.foreach(inStats += e.path -> _)
        e.size.foreach(inSizes += e.path -> _)
        e.dv.foreach(inDvs += e.path -> _)
      }
    }
    // ---- manifest JSON: checkpoint container (+ the txn record)
    val root = mapper.createObjectNode()
    root.put("version", v)
    root.put("timestampMs", timestampMs.getOrElse(System.currentTimeMillis()))
    root.put("checkpointInterval", eff)
    tag.foreach(root.put("tag", _))
    if (bloomCols.nonEmpty) {
      val a = mapper.createArrayNode(); bloomCols.foreach(a.add)
      root.set[JsonNode]("bloomCols", a)
    }
    if (props.nonEmpty) {
      val o = mapper.createObjectNode()
      props.toSeq.sortBy(_._1).foreach { case (k, pv) => o.put(k, pv) }
      root.set[JsonNode]("props", o)
    }
    def arr(xs: Seq[String]): ArrayNode = {
      val a = mapper.createArrayNode(); xs.foreach(a.add); a
    }
    root.set[JsonNode]("replaced", arr(replaced.sorted))
    txn.foreach { case (add, rm, _) =>
      root.set[JsonNode]("add", arr(add))
      root.set[JsonNode]("remove", arr(rm))
    }
    val staged: Option[String] =
      if (big) {
        val (bytes, n) = writer.finish()
        val ref = f"v$v%08d-${java.util.UUID.randomUUID().toString.replace("-", "")}.ckpt.parquet"
        io(path).replaceAtomic(s"${logDir(path)}/$ref", bytes)
        root.put("filesRef", ref)
        root.put("fileCount", n)
        // sizes for the ADDED slice only — the rawDelta consumers'
        // contract (full per-file attrs live in the payload)
        txn.map(_._3).filter(_.nonEmpty).foreach { asz =>
          val o = mapper.createObjectNode()
          asz.toSeq.sortBy(_._1).foreach { case (f, s) => o.put(f, s) }
          root.set[JsonNode]("sizes", o)
        }
        Some(ref)
      } else {
        val files = inFiles.result() // sorted by construction
        root.set[JsonNode]("files", arr(files))
        val st = inStats.result(); val sz = inSizes.result()
        val dv = inDvs.result()
        if (st.nonEmpty) {
          val o = mapper.createObjectNode()
          files.filter(st.contains).foreach(f =>
            o.set[JsonNode](f, FileStats.toJson(mapper, st(f))))
          root.set[JsonNode]("stats", o)
        }
        if (sz.nonEmpty) {
          val o = mapper.createObjectNode()
          files.filter(sz.contains).foreach(f => o.put(f, sz(f)))
          root.set[JsonNode]("sizes", o)
        }
        if (dv.nonEmpty) {
          val o = mapper.createObjectNode()
          dv.toSeq.sortBy(_._1).foreach { case (f, e) =>
            o.set[JsonNode](f, dvEntryJson(mapper, e))
          }
          root.set[JsonNode]("dvs", o)
        }
        None
      }
    val bytes = mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root)
    if (replaceInPlace) {
      io(path).replaceAtomic(verFile(path, v), bytes)
    } else if (!io(path).publishIfAbsent(verFile(path, v), bytes)) {
      staged.foreach { r =>
        try io(path).deleteFile(s"${logDir(path)}/$r")
        catch { case scala.util.control.NonFatal(_) => () }
      }
      throw new CommitConflict(
        s"version $v already committed at $path — concurrent writer won")
    }
    v
  }

  /** Rewrite version `v`'s manifest IN PLACE as a self-resolving
    * checkpoint — vacuum's stranded-delta repair — STREAMING the
    * version's live entries off its own fold into the payload writer:
    * neither the file list nor the stats/sizes/dv maps ever
    * materialize driver-side. The original commit's timestamp, tag,
    * replaced record, props, and TXN RECORD (add/remove lists) are
    * preserved, so age retention, history, and [[rawDelta]] consumers
    * see the manifest they always did — just checkpoint-shaped.
    */
  private def rewriteAsCheckpoint(path: String, v: Long): Unit = {
    val raw = readRaw(path, v)
    val eff =
      if (raw.has("checkpointInterval")) raw.get("checkpointInterval").asInt()
      else CheckpointInterval
    val props =
      if (raw.has("props"))
        raw.get("props").properties().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap
      else Map.empty[String, String]
    val blooms = if (raw.has("bloomCols")) strings(raw.get("bloomCols")) else Nil
    val tag = if (raw.has("tag")) Some(raw.get("tag").asText()) else None
    // a delta node's `sizes` slice covers its adds — exactly the txn
    // record's contract
    val txn =
      if (raw.has("add"))
        Some((strings(raw.get("add")), strings(raw.get("remove")), sizesOf(raw)))
      else None
    publishStreamedCheckpoint(path, v, eff, tag, blooms, props,
      strings(raw.get("replaced")), est = liveFileCount(path, v), txn = txn,
      timestampMs = Some(raw.get("timestampMs").asLong()),
      replaceInPlace = true) { sink =>
      foldFilesSorted(path, v)(())((_, e) =>
        sink(CheckpointParquet.Entry(e.path, e.stats, e.size, e.dv)))
    }
  }

  /** Atomically publish the next version after `expectedVersion` (0 =
    * creating a fresh log). Returns the committed version. Fails with
    * [[CommitConflict]] if another writer got there first — the caller
    * decides whether a rebase is sound.
    *
    * When `parent` is the resolved snapshot at `expectedVersion` (the
    * caller holds it anyway — it computed `files` from it) and the new
    * version is not checkpoint-due, the manifest is written as a DELTA
    * (add/remove vs the parent): O(commit footprint), not O(store).
    * Without a parent — or on the checkpoint cadence — the full list is
    * written.
    */
  def commit(path: String, expectedVersion: Long, replaced: Seq[String],
             files: Seq[String], parent: Option[Snapshot] = None,
             interval: Option[Int] = None,
             addStats: Map[String, FileStats.FileStatsMap] = Map.empty,
             tag: Option[String] = None,
             bloomCols: Option[Seq[String]] = None,
             setProps: Map[String, String] = Map.empty,
             addSizes: Map[String, Long] = Map.empty,
             addDvs: Map[String, Dv.Entry] = Map.empty,
             resetDvs: Option[Map[String, Dv.Entry]] = None): Long = {
    val v = expectedVersion + 1
    parent.foreach(p => require(p.version == expectedVersion,
      s"parent snapshot v${p.version} does not match expectedVersion $expectedVersion"))
    // dedupe defensively: an ambiguous-success commit retry (the CAS
    // landed but the writer saw a connection error) rebases onto its
    // own version and re-appends its files — `cur.files ++ moved` then
    // carries duplicates, which a CHECKPOINT would serialize verbatim
    val fileList = files.distinct
    val eff = interval.orElse(parent.map(_.checkpointInterval))
      .getOrElse(CheckpointInterval)
    require(eff >= 1, s"checkpoint interval must be >= 1, got $eff")
    // bloomCols is a per-store property like the interval: set at
    // creation, inherited from the parent on every later commit so
    // every rewrite path keeps writing the same per-column blooms
    val effBlooms = bloomCols.orElse(parent.map(_.bloomCols)).getOrElse(Nil)
    // properties inherit from the parent; setProps MERGES over them in
    // this commit (an empty-string value deletes a key)
    val effProps = (parent.map(_.props).getOrElse(Map.empty) ++ setProps)
      .filter(_._2.nonEmpty)
    // `resetDvs` REPLACES the inherited dv state wholesale (the restore
    // path: a rollback must resurrect the target version's vectors and
    // shed newer ones even for files live in both) — a delta cannot
    // express removing a live file's vector, so an exact reset forces a
    // CHECKPOINT manifest. Ordinary commits inherit the parent's
    // entries for surviving files and merge `addDvs` over them.
    val asDelta =
      if (resetDvs.isDefined) None
      else parent.filter(_ => v % eff != 0).map(_.files)
    // the stats index for the commit: surviving parent entries plus the
    // new files' (addStats wins on collision — a rewritten path is the
    // new file). A delta only serializes the ADDED slice; a checkpoint
    // embeds the whole map.
    val allStats = parent.map(_.stats).getOrElse(Map.empty) ++ addStats
    val allSizes = parent.map(_.sizes).getOrElse(Map.empty) ++ addSizes
    val liveSet = fileList.toSet
    val allDvs = resetDvs.getOrElse(
      (parent.map(_.dvs).getOrElse(Map.empty) ++ addDvs)
        .filter { case (f, _) => liveSet(f) })
    // a big store's checkpoint stages its columnar payload FIRST (so the
    // pointer manifest never dangles), then publishes the O(1) JSON
    val ref =
      if (asDelta.isDefined) None
      else stageCheckpointPayload(path, v, fileList.sorted, allStats,
        allSizes, allDvs)
    val bytes = manifestBytes(v, System.currentTimeMillis(), replaced, fileList,
      asDelta, eff, allStats, tag, effBlooms, effProps, allSizes,
      dvs = allDvs, dvChanges = addDvs, filesRef = ref)
    if (!io(path).publishIfAbsent(verFile(path, v), bytes)) {
      // CAS lost: this writer's staged sidecar will never be referenced
      ref.foreach { case (r, _) =>
        try io(path).deleteFile(s"${logDir(path)}/$r")
        catch { case scala.util.control.NonFatal(_) => () }
      }
      throw new CommitConflict(
        s"version $v already committed at $path — concurrent writer won")
    }
    v
  }

  /** List the store's CURRENT data files (relative paths) straight from
    * the directory — used to initialize a log over a store written
    * before logging, and by [[TsStore.vacuum]]. Hidden names
    * (`_`/`.`-prefixed path components: the log itself, txn staging
    * dirs, Spark's _SUCCESS markers) are excluded at every level.
    */
  def listDataFiles(path: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    foreachDataFile(path)(out += _)
    out.result().sorted
  }

  /** Streaming [[listDataFiles]]: walk the store directory and call
    * `f` per data file WITHOUT materializing the full path list — the
    * vacuum candidate scan's feed (the caller retains strings only for
    * the files it decides to keep, so vacuum's driver state is bounded
    * by the DEAD set, never the store).
    */
  def foreachDataFile(path: String)(f: String => Unit): Unit = {
    val fsio = io(path)
    if (!fsio.isDir(path)) return
    def walk(dir: String, prefix: String): Unit =
      fsio.list(dir).filterNot(e => hiddenName(e.name)).foreach { e =>
        if (e.isDir) walk(s"$dir/${e.name}", s"$prefix${e.name}/")
        else if (e.name.endsWith(".parquet")) f(s"$prefix${e.name}")
      }
    walk(path, "")
  }

  /** 64-bit fingerprint of a store-relative path — the unit of
    * vacuum's LIVENESS set: 8 bytes per live file instead of the path
    * string (a 1M-file store's live set is one 8 MB long array, not a
    * multi-hundred-MB Set[String]). A collision can only mark a DEAD
    * file live — kept this pass, never the reverse — so the set is
    * conservative by construction.
    */
  private def pathFp(f: String): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
      org.apache.spark.unsafe.types.UTF8String.fromString(f), 42L)

  /** Sorted-array fingerprint set (binary-search membership). */
  private final class FpSet(arr: Array[Long]) {
    def contains(f: String): Boolean =
      java.util.Arrays.binarySearch(arr, pathFp(f)) >= 0
  }

  /** The live-file fingerprint set across `versions`, STREAMED per
    * version through [[foldFiles]] — no version's file list ever
    * materializes driver-side (duplicates across versions are fine:
    * the array sorts, membership is binary search).
    */
  private def liveFps(path: String, versions: Seq[Long]): FpSet = {
    val b = new scala.collection.mutable.ArrayBuilder.ofLong
    versions.foreach(v =>
      foldFiles(path, v)(())((_, e) => { b += pathFp(e.path); () }))
    val arr = b.result(); java.util.Arrays.sort(arr)
    new FpSet(arr)
  }

  /** Same streamed fingerprint set over the versions' DELETION-VECTOR
    * sidecar paths — the dv-reclaim phase's referenced set.
    */
  private def dvFps(path: String, versions: Seq[Long]): FpSet = {
    val b = new scala.collection.mutable.ArrayBuilder.ofLong
    versions.foreach(v =>
      foldFiles(path, v)(())((_, e) => { e.dv.foreach(d => b += pathFp(d.path)); () }))
    val arr = b.result(); java.util.Arrays.sort(arr)
    new FpSet(arr)
  }

  /** Ensure a log exists, initializing version 1 from the current
    * directory contents if not. Init races resolve through the same CAS:
    * both writers list the same committed files (staging dirs are
    * hidden), so the loser just adopts the winner's identical v1.
    * Adopting files DECLARES the store's schema
    * ([[GraftTable.SchemaProp]], unless `props` carries one): files
    * graft did not write have no frame to declare from, so this is
    * where their schema is inferred ([[GraftTable.inferSchema]]) —
    * once, so no later read has to. A path with no files gets no
    * declaration; the commit adding its first files declares it.
    */
  def ensure(path: String,
             checkpointInterval: Int = CheckpointInterval,
             bloomCols: Seq[String] = Nil,
             props: Map[String, String] = Map.empty): Snapshot =
    latest(path).getOrElse {
      try {
        val files = listDataFiles(path)
        // the adoption commit is the one chance to index the ADOPTED
        // files — a one-time O(files) footer-metadata pass (the
        // convert-to-Delta cost); without it every pre-log file stays
        // stat-less and un-prunable for the store's whole life. Digest
        // cols come from THIS call's declaration: no manifest exists
        // yet to derive them from
        val (st, sz) = FileStats.forFilesWithSizes(path, files, bloomCols)
        val declared =
          if (files.isEmpty || props.contains(GraftTable.SchemaProp)) None
          else org.apache.spark.sql.SparkSession.getActiveSession
            .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
            .map(s => GraftTable.SchemaProp -> GraftTable.inferSchema(s, path, files).json)
        commit(path, 0L, Seq.empty, files,
          interval = Some(checkpointInterval),
          addStats = st, addSizes = sz,
          bloomCols = if (bloomCols.nonEmpty) Some(bloomCols) else None,
          setProps = props ++ declared); ()
      }
      catch { case _: CommitConflict => () }
      latest(path).get
    }

  /** Remove everything under `path` except `keep` (the staged files of
    * an Overwrite, about to be adopted): the old store's log, data and
    * any other writer's staging — an overwrite is a new store.
    */
  def clearExcept(path: String, keep: String): Unit = {
    val fsio = io(path)
    fsio.list(path).filterNot(e => s"$path/${e.name}" == keep).foreach { e =>
      if (e.isDir) fsio.deleteDir(s"$path/${e.name}")
      else fsio.deleteFile(s"$path/${e.name}")
    }
  }

  /** Delete previously-adopted data files by store-relative path — the
    * abort path of a failed commit (the files were staged, moved into
    * the store, but the manifest CAS lost and no rebase is sound).
    */
  def deleteDataFiles(path: String, rels: Seq[String]): Unit =
    rels.foreach(f => io(path).deleteFile(s"$path/$f"))

  /** Recursively delete a txn staging directory (same backend as the
    * store it lives under). Quiet on a missing path.
    */
  def deleteStaging(stagingDir: String): Unit =
    CommitIo.forPath(stagingDir).foreach(_.deleteDir(stagingDir))

  /** Garbage-collect: delete data files referenced by NO retained
    * snapshot and drop manifests older than the latest `retainVersions`.
    * Time travel beyond the retained window dies here, by declaration —
    * vacuum is the storage-reclaim lever, exactly as in table formats.
    * SAFE AGAINST LIVE WRITERS via the [[WriterLease]] protocol: while
    * any fresh lease exists, dead files young enough to be an in-flight
    * adoption are spared (they reclaim on a later pass once aged).
    * Returns the number of data files deleted.
    */
  def vacuum(path: String, retainVersions: Int = 1, retainMs: Long = 0L): Int = {
    require(retainVersions >= 1, "must retain at least the latest version")
    val fsio = io(path)
    // mtime of a path that may vanish mid-vacuum (a released lease, an
    // aborting writer's adopted file) — concurrency vacuum now claims
    // to survive, so a missing path must not crash the pass
    def mtimeOpt(p: String): Option[Long] =
      try { if (fsio.exists(p)) Some(fsio.mtimeMs(p)) else None }
      catch { case _: java.io.IOException | _: java.io.UncheckedIOException => None }
    def freshLeases(now: Long): Seq[String] =
      fsio.list(logDir(path)).map(_.name).filter(_.startsWith(".lease_"))
        .filter(n => mtimeOpt(s"${logDir(path)}/$n")
          .exists(m => now - m < WriterLeaseMs))
    // the earliest CREATION time among fresh leases (lease content;
    // mtime is renewal time): every file a live writer adopted is newer
    // than its lease's birth, so files at or past the cutoff are a live
    // writer's possible in-flight adoption HOWEVER long it has stalled —
    // the heartbeat keeps the lease fresh, this keeps the files safe.
    // Unparsable content (legacy '1' leases) reads as 0: maximally
    // conservative while that lease stays fresh.
    def leaseCutoff(fresh: Seq[String]): Long =
      if (fresh.isEmpty) Long.MaxValue
      else fresh.map { n =>
        try new String(fsio.readBytes(s"${logDir(path)}/$n"), "UTF-8").trim.toLong
        catch { case scala.util.control.NonFatal(_) => 0L }
      }.min
    // reclaim crashed writers' expired leases up front — only leases
    // whose age is READABLE and past the window; an unreadable mtime
    // (transient IO error, or the lease released mid-check) is left
    // alone rather than treated as expired
    locally {
      val now = System.currentTimeMillis()
      fsio.list(logDir(path)).map(_.name).filter(_.startsWith(".lease_"))
        .filter(n => mtimeOpt(s"${logDir(path)}/$n")
          .exists(m => now - m >= WriterLeaseMs))
        .foreach(n => fsio.deleteFile(s"${logDir(path)}/$n"))
    }
    if (listVersions(path).isEmpty) return 0
    // retention = the trailing window PLUS every version committed
    // within `retainMs` (the expire-snapshots-older-than role; a FULL
    // timestamp filter, not a newest-to-oldest takeWhile — multi-writer
    // clock skew can backdate one manifest mid-chain, and an early stop
    // there would silently drop younger-stamped OLDER versions from age
    // retention; one raw-JSON read per version either way) PLUS every
    // tagged version (named tags live on the latest manifest's props,
    // so a concurrent tag commit bumps the version and the stability
    // rechecks re-read them)
    def keep(vs: Seq[Long]): Seq[Long] = {
      val aged: Seq[Long] =
        if (retainMs <= 0) Nil
        else {
          val cutoff = System.currentTimeMillis() - retainMs
          vs.filter(v =>
            readRaw(path, v).get("timestampMs").asLong >= cutoff)
        }
      // tags AND refs: the main pin and every branch head are live
      // reader/writer targets — their manifests and files must survive
      // exactly like tagged eras (the Iceberg expire-vs-ref contract)
      val pinned: Seq[Long] = propsAt(path, vs.last).toSeq.collect {
        case (k, v) if (k.startsWith(TagPropPrefix) ||
            k.startsWith(BranchPropPrefix) || k == MainRefProp) &&
            v.toLongOption.isDefined =>
          v.toLong
      }.filter(vs.contains)
      (vs.takeRight(retainVersions) ++ aged ++ pinned).distinct.sorted
    }
    // Candidate collection must be SOUND against live writers. A writer
    // holds its lease from before adoptStagedNamed until after its commit,
    // so after candidates are listed, ONE recheck decides every case:
    //   - adopted after the data listing → not a candidate at all;
    //   - adopted before it, not yet committed → its lease is still
    //     fresh at the recheck → young candidates are spared;
    //   - committed since the version listing → latestVersion moved →
    //     recompute (bounded retries), because the files became LIVE.
    // A candidate that is BOTH old and dead under a stable version is
    // genuinely garbage whatever writers do next (new adoptions are
    // never old, new commits would bump the version again next round).
    var versions: Seq[Long] = Seq.empty
    var deleted: Seq[String] = Seq.empty
    var attempt = 0
    var done = false
    while (!done) {
      val vBefore = listVersions(path)
      val retained = keep(vBefore)
      // liveness STREAMS: one foldFiles pass per retained version into
      // a fingerprint set ([[liveFps]]), and the directory walk calls
      // back per file — driver string state is bounded by the DEAD
      // candidate set, never the live one
      val live = liveFps(path, retained)
      val candB = Seq.newBuilder[String]
      foreachDataFile(path)(f => if (!live.contains(f)) candB += f)
      val candidates = candB.result()
      val now = System.currentTimeMillis()
      val fresh = freshLeases(now)
      val writerActive = fresh.nonEmpty
      val cutoff = leaseCutoff(fresh)
      if (listVersions(path) == vBefore) {
        versions = vBefore
        deleted = candidates.filter { f =>
          // while a writer is live, a dead-looking file may be its
          // adopted-but-uncommitted output (mtime = adopt time, stamped
          // by adoptStagedNamed) — spare every candidate stamped at or after
          // the oldest fresh lease's BIRTH (a long-stalled writer's
          // adoption can be arbitrarily old in wall-clock terms; the
          // heartbeat vouches for it as long as the lease stays fresh),
          // plus the young-age belt for clock skew, and treat an
          // UNREADABLE mtime as young too (a transient mtime-read
          // failure on a live writer's freshly adopted file must not
          // delete it; a genuinely dead file reclaims next pass once
          // its age is readable). Without a live writer a missing
          // mtime just means the file already vanished — deleting is
          // a quiet no-op.
          !writerActive ||
            mtimeOpt(s"$path/$f").exists(m => now - m >= WriterLeaseMs && m < cutoff)
        }
        done = true
      } else {
        attempt += 1
        if (attempt > 5) {
          // continuous commit churn: fall back to age-only reclaim —
          // always safe (new adoptions are never old), never livelocks.
          // Writers are by definition active here, so an unreadable
          // mtime counts as young and the lease-birth cutoff applies
          // (same rules as the leased path above).
          versions = listVersions(path)
          val retained2 = keep(versions)
          val live2 = liveFps(path, retained2)
          val cutoff2 = leaseCutoff(freshLeases(now))
          val db = Seq.newBuilder[String]
          foreachDataFile(path) { f =>
            if (!live2.contains(f) && mtimeOpt(s"$path/$f")
                .exists(m => now - m >= WriterLeaseMs && m < cutoff2))
              db += f
          }
          deleted = db.result()
          done = true
        }
      }
    }
    // FRESH retention recheck right before anything is destroyed: a tag
    // (or ordinary commit) that landed after the candidate loop's last
    // stability check must be honored — re-list, re-read tags, and drop
    // from the kill sets anything the fresh retained set makes live.
    // (A tag committed after THIS point still races an in-flight vacuum
    // — the documented contract is tag-then-vacuum, same as Iceberg's
    // expire-snapshots-vs-ref ordering — but the window shrinks from
    // the whole GC pass to the deletes themselves.)
    versions = listVersions(path)
    val retained = keep(versions)
    val retainedSet = retained.toSet
    locally {
      val liveNow = liveFps(path, retained)
      deleted = deleted.filterNot(liveNow.contains)
    }
    deleted.foreach(f => fsio.deleteFile(s"$path/$f"))
    // every retained version must stay SELF-RESOLVABLE after the drops.
    // Delta resolution walks consecutive version numbers down to a
    // checkpoint, so ascending over the retained set: a delta resolves
    // iff its immediate predecessor is retained and itself resolves;
    // anything else (the oldest of the trailing window, and any TAGGED
    // version stranded past a gap) rewrites as a checkpoint — resolved
    // BEFORE any manifest deletion, atomic in-place replace. Same
    // format decision as a committed checkpoint: big stores get a
    // parquet payload (staged before the pointer swaps in).
    var resolvable = Set.empty[Long]
    retained.foreach { v =>
      if (isCheckpointNode(readRaw(path, v)) || resolvable.contains(v - 1)) {
        resolvable += v
      } else {
        rewriteAsCheckpoint(path, v)
        resolvable += v
      }
    }
    versions.filterNot(retainedSet)
      .foreach(v => fsio.deleteFile(verFile(path, v)))
    // checkpoint-payload reclaim: parquet sidecars no retained manifest
    // references — dropped versions' payloads, CAS losers' crashed
    // stages. Age + lease-birth gated exactly like dv sidecars: a live
    // writer's freshly staged payload (the pre-publish window) must
    // survive; genuinely orphaned ones reclaim once aged.
    locally {
      val referenced = listVersions(path).flatMap { v =>
        val n = readRaw(path, v)
        if (n.has("filesRef")) Some(n.get("filesRef").asText()) else None
      }.toSet
      val now = System.currentTimeMillis()
      val cutoff = leaseCutoff(freshLeases(now))
      fsio.list(logDir(path)).filterNot(_.isDir).map(_.name)
        .filter(_.endsWith(".ckpt.parquet"))
        .filterNot(referenced)
        .filter(n => mtimeOpt(s"${logDir(path)}/$n")
          .exists(m => now - m >= WriterLeaseMs && m < cutoff))
        .foreach(n => fsio.deleteFile(s"${logDir(path)}/$n"))
    }
    // DELETION-VECTOR reclaim: sidecars under _graft_dv/ that no
    // retained version references (orphaned by a union-rewrite, a
    // materializing compaction, or a crashed delete) — same guards as
    // data candidates: a live writer's freshly written sidecar (the
    // pre-commit window) is spared by age + lease birth, exactly like
    // an adopted-but-uncommitted data file
    locally {
      val dvDir = s"$path/${Dv.Dir}"
      if (fsio.isDir(dvDir)) {
        // The referenced set must come from a FRESH version listing
        // taken here, with the same stability recheck the data-file
        // candidate loop performs: `versions` was captured before the
        // manifest prune, and a writer that committed a NEW version
        // (naming a new sidecar) in that window would otherwise see its
        // live sidecar judged unreferenced. Bounded retries; on churn
        // the age gate below still makes deletion safe (a live writer's
        // sidecar is younger than its lease's birth cutoff).
        var referenced: FpSet = null
        var refTries = 0
        var refStable = false
        while (!refStable) {
          val vs = listVersions(path)
          referenced = dvFps(path, vs)
          refTries += 1
          refStable = listVersions(path) == vs || refTries > 5
        }
        val now = System.currentTimeMillis()
        val cutoff = leaseCutoff(freshLeases(now))
        fsio.list(dvDir).filterNot(_.isDir)
          .map(e => s"${Dv.Dir}/${e.name}")
          .filterNot(referenced.contains)
          // ALWAYS age + lease-birth gated (never skipped when no fresh
          // lease exists): a writer may commit and RELEASE its lease
          // between the listing above and this delete — its sidecar is
          // young, so the age belt spares it; genuinely orphaned
          // sidecars reclaim on a later pass once aged
          .filter(f => mtimeOpt(s"$path/$f")
            .exists(m => now - m >= WriterLeaseMs && m < cutoff))
          .foreach(f => fsio.deleteFile(s"$path/$f"))
      }
    }
    // stale txn staging dirs (a writer that crashed before adopting its
    // staged files) are hidden from listDataFiles and from readers —
    // this is their one reclaim point. AGE-gated (mtime > 1h), the
    // Delta/Iceberg convention: a merely in-flight writer's staging
    // survives even if someone vacuums against the documented
    // no-concurrent-writers contract.
    val txnCutoffMs = System.currentTimeMillis() - 60L * 60 * 1000
    fsio.list(path)
      .filter(e => e.isDir && e.name.startsWith("_graft_txn_") &&
        mtimeOpt(s"$path/${e.name}").exists(_ < txnCutoffMs))
      .foreach(e => fsio.deleteDir(s"$path/${e.name}"))
    // prune now-empty partition directories so discovery doesn't surface
    // phantom empty partitions — but never delete HIDDEN names (another
    // tool's marker/staging dir nested in a partition is not ours to
    // reclaim; only _graft_txn_* above and the log are)
    def pruneEmpty(dir: String, name: String): Unit = {
      fsio.list(dir).filter(_.isDir).foreach(e => pruneEmpty(s"$dir/${e.name}", e.name))
      if (!hiddenName(name)) fsio.deleteDirIfEmpty(dir)
    }
    fsio.list(path)
      .filter(e => e.isDir && !hiddenName(e.name))
      .foreach(e => pruneEmpty(s"$path/${e.name}", e.name))
    deleted.size
  }

  /** Move the EXPLICITLY NAMED staged files (store-relative paths
    * under `stagingDir`, a txn-private directory the task writer filled
    * with the store's partitioning) into the store root, preserving
    * partition subpaths. Returns them sorted. A distributed write's
    * staging dir may hold files from FAILED or SPECULATIVE task attempts
    * (torn footers, duplicate rows) alongside the committed attempts'
    * output; only the files the tasks' WriterCommitMessages named may
    * ever reach the manifest. Everything else dies with the staging
    * dir. Filenames are UUID-stamped per task, so moves cannot collide;
    * files surface in the store directory but stay INVISIBLE to
    * manifest readers until the commit that names them.
    */
  def adoptStagedNamed(path: String, stagingDir: String,
                       rels: Seq[String]): Seq[String] =
    adoptFiles(path, stagingDir, rels)

  private def adoptFiles(path: String, stagingDir: String,
                         rels: Seq[String]): Seq[String] = {
    val fsio = io(path)
    rels.map { rel =>
      // stamp the ADOPT time BEFORE the move (which preserves mtime):
      // the vacuum lease's young-file protection must date from when
      // the file becomes a garbage-lookalike in a partition dir, and a
      // touch-after-move would leave a descheduling window in which a
      // long-staged file still carries its old staging mtime
      fsio.touch(s"$stagingDir/$rel")
      fsio.move(s"$stagingDir/$rel", s"$path/$rel")
      rel
    }.sorted
  }
}
