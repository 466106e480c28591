package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataInputStream, FileStatus, Path, RawLocalFileSystem}

/** Local disk masquerading as scheme `gcnt`, counting `getFileStatus`
  * calls against DATA files (`*.parquet`) — the instrumentation behind
  * the metadata-only-planning pin: a sizes-complete manifest must let
  * the DSv2 scan plan splits and report statistics with ZERO per-file
  * status RPCs (the million-file-store bottleneck the manifest exists
  * to remove). It also counts listings of a store's `_graft_log` and
  * opens of its manifests (`_graft_log/v*.json`): the log IO one read
  * pays.
  */
class CountingLocalFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "gcnt"
  override def getUri: URI = URI.create("gcnt:///")
  override def getFileStatus(f: Path): FileStatus = {
    if (f.toString.endsWith(".parquet"))
      CountingLocalFileSystem.parquetStatusCalls.incrementAndGet()
    super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    if (f.getName == "_graft_log") CountingLocalFileSystem.logListings.incrementAndGet()
    super.listStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (f.getParent != null && f.getParent.getName == "_graft_log" &&
        f.getName.matches("v\\d+\\.json"))
      CountingLocalFileSystem.manifestOpens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object CountingLocalFileSystem {
  val parquetStatusCalls = new AtomicLong(0)
  val logListings = new AtomicLong(0)
  val manifestOpens = new AtomicLong(0)
}

/** The AbstractFileSystem (FileContext-side) binding for `gcnt`,
  * registered via `fs.AbstractFileSystem.gcnt.impl` — the commit
  * protocol's manifest IO routes through here.
  */
class CountingFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new CountingLocalFileSystem, conf, "gcnt", false)
