package graft.sources

import java.nio.file.{Files, Path => NioPath, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** The filesystem primitives [[StoreLog]]'s commit protocol needs,
  * behind a seam so the crash-atomic store works beyond a single local
  * POSIX box. The protocol itself (stage → adopt → one atomic
  * publish-if-absent of the next manifest version) is backend-agnostic;
  * what varies per storage system is WHICH operation is atomic:
  *
  *   - local POSIX: `link(2)` is a kernel-level fail-if-exists — the CAS.
  *   - HDFS-likes (hdfs, viewfs, webhdfs, ofs): `FileContext.rename`
  *     with `Options.Rename.NONE` is atomic-no-overwrite by NameNode
  *     contract (the same primitive Delta's HDFS LogStore and Iceberg's
  *     Hadoop catalog rely on).
  *   - object stores without an atomic no-overwrite primitive (plain S3
  *     rename = copy+delete) are NOT claimed: [[CommitIo.forPath]]
  *     returns None and the store refuses the path, reads included
  *     (every store has a log). A conditional-PUT or coordinator-backed
  *     impl plugs in here.
  *
  * Every other operation (list, read, move, delete) only needs ordinary
  * filesystem semantics and routes through the backend's native API.
  */
trait CommitIo {

  /** Atomically publish `bytes` at `path` iff nothing exists there.
    * Returns false on a CAS loss (a concurrent writer published first).
    * Readers must never observe a partial `path`: implementations stage
    * the bytes fully, then make them appear with ONE atomic operation.
    */
  def publishIfAbsent(path: String, bytes: Array[Byte]): Boolean

  /** Atomically replace (or create) `path` with `bytes` — vacuum's
    * checkpoint rewrite. Readers see fully-old or fully-new.
    */
  def replaceAtomic(path: String, bytes: Array[Byte]): Unit

  def readBytes(path: String): Array[Byte]

  def exists(path: String): Boolean

  def isDir(path: String): Boolean

  /** Immediate children of a directory (name + dir flag); empty when the
    * directory is absent.
    */
  def list(dir: String): Seq[CommitIo.Entry]

  /** Move one file, creating the destination's parent directories. Not
    * required to be atomic vs. concurrent renames of the SAME name —
    * staged data files are UUID-stamped so adoption never collides.
    */
  def move(src: String, dst: String): Unit

  def deleteFile(path: String): Unit

  /** Set a file's modification time to now (used to stamp adopted data
    * files with their ADOPT time — the staging write's mtime would
    * predate the commit window the vacuum lease protects).
    */
  def touch(path: String): Unit

  /** Recursive, quiet (missing path is a no-op). */
  def deleteDir(path: String): Unit

  /** Delete a directory only if it is empty (no-op otherwise). */
  def deleteDirIfEmpty(path: String): Unit

  def mtimeMs(path: String): Long
}

object CommitIo {

  final case class Entry(name: String, isDir: Boolean)

  /** Schemes whose [[Hadoop]] impl has an honest atomic no-overwrite
    * publish. `file` qualifies because the impl delegates that one
    * operation to link(2) (see [[Hadoop.publishIfAbsent]]). `webhdfs`
    * does NOT: stock Hadoop ships no AbstractFileSystem binding for it,
    * so the FileContext the publish needs cannot even be constructed —
    * claiming it would fail at the first commit instead of refusing the
    * path up front.
    */
  private val HadoopCasSchemes = Set("file", "hdfs", "viewfs", "ofs")

  /** Hadoop conf key naming ADDITIONAL schemes whose
    * `FileContext.rename(Rename.NONE)` the operator asserts is atomic
    * no-overwrite (comma-separated). An HCFS that honors the NameNode
    * rename contract but isn't in the built-in set opts in here; the
    * scheme must ship an `AbstractFileSystem` binding
    * (`fs.AbstractFileSystem.<scheme>.impl`) or the first commit fails.
    */
  private[graft] val ExtraCasSchemesKey = "graft.commitio.extra.cas.schemes"

  /** Registered per-scheme backends — the plug-in point for commit
    * implementations beyond the built-ins (e.g. a [[CondPutIo]] over a
    * vendor object-store client). Registration wins over the built-in
    * resolution for its scheme.
    */
  private val registered =
    new java.util.concurrent.ConcurrentHashMap[String, CommitIo]()

  def register(scheme: String, io: CommitIo): Unit = {
    registered.put(scheme.toLowerCase, io); ()
  }

  def unregister(scheme: String): Unit = { registered.remove(scheme.toLowerCase); () }

  /** Resolve the backend for a path: registered schemes first, then
    * plain (scheme-less) paths take the java.nio impl and `file:`/
    * HDFS-like URIs the Hadoop impl; schemes without an atomic publish
    * primitive get None — the caller must not run the commit protocol
    * there.
    */
  def forPath(path: String): Option[CommitIo] =
    if (StoreLog.isLocal(path)) Some(Local)
    else Option(registered.get(path.takeWhile(_ != ':').toLowerCase)).orElse {
      // RFC 3986: schemes are case-insensitive, and Hadoop accepts both
      val scheme = path.takeWhile(_ != ':').toLowerCase
      lazy val extra = hadoopConf()
        .getTrimmedStrings(ExtraCasSchemesKey).map(_.toLowerCase).toSet
      if (!HadoopCasSchemes.contains(scheme) && !extra.contains(scheme)) None
      else {
        // one Hadoop impl per Configuration instance: forPath runs per
        // primitive on the metadata path (a delta-chain read makes
        // dozens of calls), and constructing a fresh Configuration
        // re-parses the XML resources every time
        val conf = hadoopConf()
        val cached = hadoopCache
        if (cached != null && (cached._1 eq conf)) Some(cached._2)
        else {
          val h = new Hadoop(conf)
          hadoopCache = (conf, h)
          Some(h)
        }
      }
    }

  @volatile private var hadoopCache
    : (org.apache.hadoop.conf.Configuration, Hadoop) = null

  private lazy val fallbackConf = new org.apache.hadoop.conf.Configuration()

  /** The active session's Hadoop configuration when one exists (so user
    * fs.* settings apply), a shared default otherwise — StoreLog
    * maintenance entry points (vacuum) run without a SparkSession.
    */
  private def hadoopConf(): org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(fallbackConf)

  /** java.nio implementation for plain local paths — link(2) CAS. */
  object Local extends CommitIo {
    private def p(s: String): NioPath = Paths.get(s)

    override def publishIfAbsent(path: String, bytes: Array[Byte]): Boolean = {
      val target = p(path)
      Files.createDirectories(target.getParent)
      val tmp = Files.createTempFile(target.getParent, ".commit_", ".tmp")
      try {
        Files.write(tmp, bytes)
        // POSIX link(2) is atomic and fails with EEXIST if the target
        // exists — the CAS. (A rename would silently OVERWRITE on a
        // local filesystem, losing the racing writer's commit.)
        try { Files.createLink(target, tmp); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } finally Files.deleteIfExists(tmp)
    }

    override def replaceAtomic(path: String, bytes: Array[Byte]): Unit = {
      val target = p(path)
      Files.createDirectories(target.getParent)
      val tmp = Files.createTempFile(target.getParent, ".ckpt_", ".tmp")
      try {
        Files.write(tmp, bytes)
        Files.move(tmp, target,
          StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
      } finally Files.deleteIfExists(tmp)
    }

    override def readBytes(path: String): Array[Byte] = Files.readAllBytes(p(path))

    override def exists(path: String): Boolean = Files.exists(p(path))

    override def isDir(path: String): Boolean = Files.isDirectory(p(path))

    override def list(dir: String): Seq[Entry] = {
      val d = p(dir)
      if (!Files.isDirectory(d)) return Seq.empty
      // close the stream eagerly — Files.list leaks a descriptor if the
      // stream is abandoned mid-iteration
      val s = Files.list(d)
      try s.iterator().asScala.toList.map(c =>
        Entry(c.getFileName.toString, Files.isDirectory(c)))
      finally s.close()
    }

    override def move(src: String, dst: String): Unit = {
      val d = p(dst)
      Files.createDirectories(d.getParent)
      // a concurrent vacuum's empty-dir prune can delete the just-created
      // parent before the move lands — recreate and retry once
      try Files.move(p(src), d, StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.NoSuchFileException =>
          Files.createDirectories(d.getParent)
          Files.move(p(src), d, StandardCopyOption.ATOMIC_MOVE)
      }
    }

    override def deleteFile(path: String): Unit = { Files.deleteIfExists(p(path)); () }

    override def touch(path: String): Unit =
      Files.setLastModifiedTime(p(path),
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))

    override def deleteDir(path: String): Unit = {
      val f = new java.io.File(path)
      if (f.exists()) org.apache.commons.io.FileUtils.deleteQuietly(f)
      ()
    }

    override def deleteDirIfEmpty(path: String): Unit = {
      val d = p(path)
      // check-then-delete races a writer creating the partition's first
      // file — losing the race is fine (the dir is simply kept)
      try { if (Files.isDirectory(d) && list(path).isEmpty) Files.deleteIfExists(d) }
      catch { case _: java.nio.file.DirectoryNotEmptyException | _: java.io.IOException => () }
      ()
    }

    override def mtimeMs(path: String): Long =
      Files.getLastModifiedTime(p(path)).toMillis
  }

  /** Hadoop-FileSystem implementation for URI paths. All plain
    * operations go through `FileSystem`; the two atomicity-critical ones
    * dispatch on what the scheme can honestly promise:
    *
    *   - `hdfs`-likes: stage to a hidden temp in the log directory, then
    *     `FileContext.rename(tmp, target, Rename.NONE)` — atomic
    *     no-overwrite at the NameNode.
    *   - `file`: Hadoop's no-overwrite rename is CHECK-THEN-ACT on the
    *     local backend (AbstractFileSystem tests the destination, then
    *     RawLocalFs renames via rename(2), which overwrites) — two
    *     racing writers could both "win", silently losing a commit. The
    *     publish therefore delegates to the same link(2) primitive
    *     [[Local]] uses; everything else still exercises the Hadoop
    *     code paths, which is what makes this impl testable without a
    *     NameNode.
    */
  final class Hadoop(conf: org.apache.hadoop.conf.Configuration) extends CommitIo {
    import org.apache.hadoop.fs.{FileContext, Options, Path => HPath}

    private def hp(s: String) = new HPath(s)
    private def fs(p: HPath) = p.getFileSystem(conf)

    /** The path `p` rewritten onto its BACKING local filesystem when the
      * operations at `p` would actually execute over RawLocalFs — either
      * because the scheme is `file` itself, or because a mount-table
      * scheme (viewfs) resolves there. The distinction matters for the
      * two atomicity-critical operations: a viewfs mount backed by
      * `file:` takes the same check-then-act `FileContext.rename` as a
      * bare local path would (ViewFs delegates to ChRootedFs over
      * RawLocalFs, whose rename(2) overwrites), so it needs the link(2)
      * publish just as much. Resolution goes through the PARENT
      * directory (created first) because `FileSystem.resolvePath`
      * requires an existing path and the publish target does not exist
      * yet by definition. Returns None for non-local backends (hdfs —
      * where the NameNode rename contract holds) and when resolution
      * itself fails (then the FileContext branch surfaces the real
      * error).
      */
    private[graft] def resolveLocal(p: HPath): Option[HPath] = {
      val f = fs(p)
      if (Option(f.getUri.getScheme).forall(_ == "file")) return Some(p)
      try {
        f.mkdirs(p.getParent)
        val rp = f.resolvePath(p.getParent)
        if (Option(rp.toUri.getScheme).contains("file"))
          Some(new HPath(rp, p.getName))
        else None
      } catch { case scala.util.control.NonFatal(_) => None }
    }

    /** Stage bytes to a hidden temp file next to `target` through the
      * FileContext API (raw — no checksum shadow files; the subsequent
      * FileContext rename would strand a FileSystem-layer `.crc`),
      * returning the temp path.
      */
    private def stage(fc: FileContext, target: HPath, bytes: Array[Byte],
                      prefix: String): HPath = {
      val tmp = new HPath(target.getParent,
        s".$prefix${java.util.UUID.randomUUID().toString.replace("-", "")}.tmp")
      val out = fc.create(tmp,
        java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE),
        Options.CreateOpts.createParent())
      try out.write(bytes) finally out.close()
      tmp
    }

    override def publishIfAbsent(path: String, bytes: Array[Byte]): Boolean = {
      val target = hp(path)
      resolveLocal(target) match {
        case Some(local) =>
          // local backend (bare file: or a viewfs mount resolving to
          // one): link(2) is the only atomic fail-if-exists the OS
          // offers — see the class doc
          fs(target).mkdirs(target.getParent)
          return Local.publishIfAbsent(local.toUri.getPath, bytes)
        case None => ()
      }
      val fc = FileContext.getFileContext(target.toUri, conf)
      val tmp = stage(fc, target, bytes, "commit_")
      try {
        fc.rename(tmp, target, Options.Rename.NONE)
        true
      } catch {
        // ONLY target-exists is a CAS loss; a ParentNotDirectoryException
        // or any other rename failure is a real layout/config error and
        // must surface, not masquerade as "concurrent writer won"
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: java.nio.file.FileAlreadyExistsException => false
      } finally {
        if (fc.util().exists(tmp)) fc.delete(tmp, false)
      }
    }

    override def replaceAtomic(path: String, bytes: Array[Byte]): Unit = {
      val target = hp(path)
      resolveLocal(target) match {
        case Some(local) =>
          // drop a stale checksum shadow BEFORE the replace: a reader
          // racing the other order would pair the new manifest with the
          // old .crc and fail with a ChecksumException; with the crc
          // gone first, Hadoop's checksummed local reads simply skip
          // verification for the window (nothing recreates the crc —
          // every manifest write here is raw)
          val crc = new HPath(target.getParent, s".${target.getName}.crc")
          if (fs(target).exists(crc)) fs(target).delete(crc, false)
          Local.replaceAtomic(local.toUri.getPath, bytes)
          return
        case None => ()
      }
      val fc = FileContext.getFileContext(target.toUri, conf)
      val tmp = stage(fc, target, bytes, "ckpt_")
      try fc.rename(tmp, target, Options.Rename.OVERWRITE)
      finally { if (fc.util().exists(tmp)) fc.delete(tmp, false) }
    }

    override def readBytes(path: String): Array[Byte] = {
      val p = hp(path)
      val in = fs(p).open(p)
      try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    }

    override def exists(path: String): Boolean = { val p = hp(path); fs(p).exists(p) }

    override def isDir(path: String): Boolean = {
      val p = hp(path)
      val f = fs(p)
      f.exists(p) && f.getFileStatus(p).isDirectory
    }

    override def list(dir: String): Seq[Entry] = {
      val p = hp(dir)
      val f = fs(p)
      if (!f.exists(p)) return Seq.empty
      f.listStatus(p).toSeq.map(st => Entry(st.getPath.getName, st.isDirectory))
    }

    override def move(src: String, dst: String): Unit = {
      val s = hp(src); val d = hp(dst)
      val f = fs(d)
      f.mkdirs(d.getParent)
      // retry once: a concurrent vacuum's empty-dir prune can take the
      // just-created parent before the rename lands
      if (!f.rename(s, d)) {
        f.mkdirs(d.getParent)
        require(f.rename(s, d), s"CommitIo.Hadoop: could not move $s to $d")
      }
    }

    override def deleteFile(path: String): Unit = {
      val p = hp(path)
      val f = fs(p)
      if (f.exists(p)) f.delete(p, false)
      ()
    }

    override def touch(path: String): Unit = {
      val p = hp(path)
      fs(p).setTimes(p, System.currentTimeMillis(), -1)
    }

    override def deleteDir(path: String): Unit = {
      val p = hp(path)
      val f = fs(p)
      if (f.exists(p)) f.delete(p, true)
      ()
    }

    override def deleteDirIfEmpty(path: String): Unit = {
      val p = hp(path)
      val f = fs(p)
      try {
        if (f.exists(p) && f.getFileStatus(p).isDirectory &&
            f.listStatus(p).isEmpty) f.delete(p, false)
      } catch { case _: java.io.IOException => () /* lost the race — keep it */ }
      ()
    }

    override def mtimeMs(path: String): Long = {
      val p = hp(path)
      fs(p).getFileStatus(p).getModificationTime
    }
  }
}
