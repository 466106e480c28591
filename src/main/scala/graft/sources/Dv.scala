package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}

/** Deletion vectors — the merge-on-read DELETE (the Delta
  * deletion-vector / Iceberg position-delete role, re-derived for this
  * store's manifest protocol).
  *
  * A copy-on-write DELETE rewrites every file that holds a matching
  * row; at 100 TB a takedown of a few thousand rows scattered across a
  * million files rewrites terabytes to remove kilobytes. A deletion
  * vector instead records the DELETED ROW POSITIONS of one data file in
  * a tiny sidecar: the write cost becomes O(deleted rows), the read
  * cost a per-file position filter, and the rewrite is deferred to
  * compaction (which materializes the vector and drops it).
  *
  * Positions are PARQUET ROW INDICES — the absolute row ordinal within
  * the data file, the same value Spark's `_metadata.row_index` exposes
  * and the vectorized/parquet-mr readers generate from footer metadata.
  * Row indices are stable under splits, row-group skipping, and pushed
  * filters, which is what makes the position the sound identity of a
  * physical row (verified in DvSpec).
  *
  * Sidecar format (version 1): magic "GDV1" (int), count (long), then
  * `count` big-endian longs — the deleted positions in ascending order.
  * A sidecar fully describes its file's deletions: a second delete
  * against an already-vectored file writes the UNION as a NEW sidecar
  * (the manifest entry swaps; the old sidecar becomes vacuumable
  * garbage). Sidecars live under `_graft_dv/` — hidden from data-file
  * listings, never a data-vacuum candidate, reclaimed by vacuum's own
  * dv phase against the retained manifests' references.
  */
object Dv {

  /** One live file's deletion state: the sidecar's store-relative path
    * and the number of positions it holds (`rows`) — recorded in the
    * manifest so COUNT(*) stays a metadata answer (live rows = recorded
    * rows − dv rows) without opening the sidecar.
    *
    * `nulls` (optional, per PHYSICAL column name): how many of the
    * DELETED rows were null in that column — recorded by the DELETE
    * verb, which has the matching rows in hand anyway. With it,
    * COUNT(col) on a vectored file stays a metadata answer:
    * live non-null = (rows − nulls) − (dvRows − dvNulls(col)).
    * Absent (delta DML fragments, legacy commits) = unknowable —
    * the pushdown refuses for that column, exact-or-refuse as always.
    *
    * `bounds` (optional, per PHYSICAL column name): the DELETED rows'
    * non-null (min, max) in the manifest stat domain
    * ([[FileStats.ColStat]] tags) — also recorded by the DELETE verb.
    * With it, MIN/MAX on a vectored file stays a metadata answer
    * precisely when it is PROVABLE: live min = recorded file min iff
    * deletedMin > fileMin (a min-attaining row must then survive), and
    * symmetrically for max. An EMPTY bound ([[Bound.empty]]) means
    * every deleted row was null in that column — deletion provably
    * cannot move min/max at all. Absent = unknowable, refuse.
    */
  final case class Entry(path: String, rows: Long,
                         nulls: Map[String, Long] = Map.empty,
                         bounds: Map[String, Bound] = Map.empty)

  /** Deleted-row (min, max) for one column, in the SAME value domain as
    * [[FileStats.ColStat]] (`tag` ∈ i/s/ts/d — float/double columns are
    * never recorded: the MIN/MAX pushdown refuses them anyway for NaN
    * bounds). `lo`/`hi` both None = no non-null deleted value.
    */
  final case class Bound(tag: String, lo: Option[Any], hi: Option[Any]) {
    require(lo.isDefined == hi.isDefined, "half-open deleted bound")
  }
  object Bound {
    def empty(tag: String): Bound = Bound(tag, None, None)
  }

  /** Stat-domain compare for bound values — the SAME orders the
    * manifest stats use ([[FileStats]]): UTF8String binary order for
    * "s", signed long for the long-domain tags.
    */
  def cmpBound(tag: String, a: Any, b: Any): Int = tag match {
    case "s" =>
      org.apache.spark.unsafe.types.UTF8String.fromString(a.asInstanceOf[String])
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b.asInstanceOf[String]))
    case _ => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
  }

  /** The union vector's deleted bound: min/max across both (an empty
    * bound is the identity — it deleted no non-null value).
    */
  def combineBounds(a: Bound, b: Bound): Bound =
    if (a.lo.isEmpty) b
    else if (b.lo.isEmpty) a
    else Bound(a.tag,
      Some(if (cmpBound(a.tag, a.lo.get, b.lo.get) <= 0) a.lo.get else b.lo.get),
      Some(if (cmpBound(a.tag, a.hi.get, b.hi.get) >= 0) a.hi.get else b.hi.get))

  val Dir = "_graft_dv"
  private val Magic = 0x47445631 // "GDV1"

  /** A fresh sidecar's store-relative path. */
  def newRelPath(): String =
    s"$Dir/dv-${java.util.UUID.randomUUID().toString.replace("-", "")}.bin"

  /** Write `positions` (sorted ascending, deduplicated here) to the
    * ABSOLUTE path `abs`. Executor- and driver-callable: plain Hadoop
    * FS IO, no commit-protocol primitive needed — a sidecar is named by
    * at most one manifest and never rewritten in place.
    */
  def write(conf: Configuration, abs: String, positions: Array[Long]): Long = {
    val sorted = positions.distinct.sorted
    val p = new HPath(abs)
    val fs = p.getFileSystem(conf)
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(fs.create(p, true)))
    try {
      out.writeInt(Magic)
      out.writeLong(sorted.length.toLong)
      sorted.foreach(out.writeLong)
    } finally out.close()
    sorted.length.toLong
  }

  /** Read a sidecar's positions (ascending). */
  def read(conf: Configuration, abs: String): Array[Long] = {
    val p = new HPath(abs)
    val fs = p.getFileSystem(conf)
    val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(fs.open(p)))
    try {
      require(in.readInt() == Magic, s"'$abs' is not a graft deletion vector")
      val n = in.readLong()
      require(n >= 0 && n < Int.MaxValue, s"dv '$abs' has implausible count $n")
      Array.fill(n.toInt)(in.readLong())
    } finally in.close()
  }

  /** Is `pos` deleted? `positions` must be ascending (as [[read]]
    * returns). Binary search — O(log d) per row against a file's
    * deleted count.
    */
  def contains(positions: Array[Long], pos: Long): Boolean =
    java.util.Arrays.binarySearch(positions, pos) >= 0
}
