package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{ColumnIOFactory, DelegatingPositionOutputStream,
  DelegatingSeekableInputStream, InputFile, OutputFile, PositionOutputStream,
  SeekableInputStream}
import org.apache.parquet.schema.MessageTypeParser

/** The COLUMNAR checkpoint payload behind [[StoreLog]] — the public
  * Delta-checkpoint idea (a parquet file of the live-file list with a
  * JSON stats string per file) re-derived for this store's manifest
  * protocol. JSON checkpoints embed the full live list + per-file
  * stats/sizes/dvs as a pretty-printed object: readable and fine at
  * thousands of files, but at a MILLION files the checkpoint is
  * hundreds of MB of text and every plan pays a full Jackson tree
  * parse — the one remaining O(files) driver cost at 100 TB. A parquet
  * payload is ~20-40× smaller on disk (dictionary + snappy over the
  * shared path prefixes), decodes by streaming row groups without ever
  * materializing a DOM, and keeps the per-file attributes columnar so
  * a future stripe-lazy reader can skip what it doesn't need.
  *
  * One row per live file, schema:
  * {{{
  * message graft_checkpoint {
  *   required binary path (STRING);   // store-relative data file path
  *   optional int64 size;             // byte length (the manifest sizes index)
  *   optional binary stats (STRING);  // FileStats JSON, compact
  *   optional binary dv (STRING);     // Dv.Entry JSON, compact
  * }
  * }}}
  *
  * The payload is a SIDECAR next to the JSON manifest
  * (`vNNNNNNNN-<uuid>.ckpt.parquet` in the log dir); the manifest keeps
  * the commit protocol role (the CAS target, the version/tag/props
  * carrier) and shrinks to an O(1) pointer (`filesRef` + `fileCount`).
  * The sidecar is staged BEFORE the manifest publishes, so readers can
  * never see a dangling pointer; a CAS loser deletes its sidecar (and
  * vacuum reclaims aged unreferenced ones — crash insurance).
  *
  * Everything round-trips through the SAME JSON codecs the inline
  * format uses ([[FileStats.toJson]]/[[FileStats.fromJson]],
  * [[StoreLog.dvEntryJson]]/[[StoreLog.dvEntryFromJson]]) — one
  * serialization dialect, two containers.
  *
  * IO is bytes-in/bytes-out (in-memory [[InputFile]]/[[OutputFile]]):
  * the payload reaches storage through the SAME [[CommitIo]] seam as
  * every manifest, so object-store backends (mock S3, conditional-PUT
  * impls) carry checkpoints with zero extra surface. A million-file
  * payload is a few tens of MB in memory — bounded, and strictly less
  * than what the Jackson DOM of the same content would allocate.
  */
object CheckpointParquet {

  private val Schema = MessageTypeParser.parseMessageType(
    """message graft_checkpoint {
      |  required binary path (STRING);
      |  optional int64 size;
      |  optional binary stats (STRING);
      |  optional binary dv (STRING);
      |}""".stripMargin)

  /** One live file's decoded checkpoint row. */
  final case class Entry(path: String, stats: Option[FileStats.FileStatsMap],
                         size: Option[Long], dv: Option[Dv.Entry])

  /** The footer-of-footers row (parquet key-value metadata
    * `graft.summary`): whole-checkpoint totals plus per-column merged
    * MIN/MAX — recorded only for columns EVERY live file carries with
    * one consistent stat tag, so a reader may prune the ENTIRE
    * checkpoint (or skip decoding a stat it can bound globally) without
    * touching a single row. `rows` is −1 when any file's row count is
    * unrecorded.
    */
  final case class Summary(files: Long, rows: Long, dvRows: Long,
                           cols: Map[String, FileStats.ColStat])

  val SummaryKey = "graft.summary"

  // ------------------------------------------------- test instrumentation
  // Decode-cost counters for the stripe-lazy specs: reset before a
  // resolution, then pin that a prefix-scoped read SKIPPED row groups
  // and that a filtered plan MATERIALIZED only its survivors. Plain
  // counters, not behavior switches — production semantics never read
  // them.
  @volatile private[graft] var lastRowGroupsRead: Int = 0
  @volatile private[graft] var lastRowGroupsSkipped: Int = 0
  @volatile private[graft] var lastRowsDecoded: Long = 0L
  private[graft] def resetCounters(): Unit = {
    lastRowGroupsRead = 0; lastRowGroupsSkipped = 0; lastRowsDecoded = 0L
  }

  /** Serialize one checkpoint payload. `files` is written SORTED (the
    * order [[StoreLog.Snapshot.files]] promises), one row group per
    * ~64k rows so a streaming reader's working set stays bounded.
    * Implemented over [[StreamWriter]] — one serialization path whether
    * the caller holds materialized maps (this entry point) or streams
    * entries straight off a parent fold (the O(commit-footprint)
    * checkpoint commit, [[StoreLog.commitTransform]]).
    */
  def write(files: Seq[String],
            stats: Map[String, FileStats.FileStatsMap],
            sizes: Map[String, Long],
            dvs: Map[String, Dv.Entry]): Array[Byte] = {
    val w = new StreamWriter
    files.sorted.foreach(f =>
      w.add(Entry(f, stats.get(f), sizes.get(f), dvs.get(f))))
    w.finish()._1
  }

  /** INCREMENTAL checkpoint serializer — the writer-side twin of
    * [[stream]]: rows are appended one [[Entry]] at a time (REQUIRED in
    * ascending path order — the sorted path column is the stripe-lazy
    * reader's skip unit) and the footer summary is folded as they pass,
    * so a million-file checkpoint serializes with O(row-group buffer)
    * working state instead of the materialized file/stat/size/dv maps
    * the batch [[write]] signature implies. The summary lands in the
    * parquet footer via [[WriteSupport.finalizeWrite]] (evaluated at
    * close, after the fold has seen every row) — byte-compatible with
    * what the batch path always produced.
    */
  final class StreamWriter {
    import org.apache.parquet.hadoop.api.WriteSupport

    private val buf = new java.io.ByteArrayOutputStream(1 << 20)
    private val mapper = new ObjectMapper()
    private val factory = new SimpleGroupFactory(Schema)

    // ---- incrementally-folded summary state (batch semantics preserved: rows −1 once any file's count is unrecorded;
    // cols merged only over columns EVERY file records under one tag)
    private var count = 0L
    private var rowsKnown = true
    private var rows = 0L
    private var dvRows = 0L
    private var allStats = true
    private var merged: Map[String, FileStats.ColStat] = Map.empty
    private var lastPath: String = null

    private val support = new org.apache.parquet.hadoop.example.GroupWriteSupport {
      override def finalizeWrite(): WriteSupport.FinalizedWriteContext =
        new WriteSupport.FinalizedWriteContext(
          java.util.Collections.singletonMap(SummaryKey, summaryNow()))
    }
    private final class GroupBuilder(out: OutputFile)
        extends org.apache.parquet.hadoop.ParquetWriter.Builder[
          org.apache.parquet.example.data.Group, GroupBuilder](out) {
      override def self(): GroupBuilder = this
      override def getWriteSupport(conf: org.apache.hadoop.conf.Configuration)
          : WriteSupport[org.apache.parquet.example.data.Group] = support
    }
    private val writer = {
      val conf = new org.apache.hadoop.conf.Configuration(false)
      org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(Schema, conf)
      new GroupBuilder(new BytesOutputFile(buf))
        .withConf(conf)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .withRowGroupSize(4L << 20)
        // row-count cap as well as bytes: dictionary+snappy make these
        // rows tiny (a 4 MB group would hold ~750k of them), and the
        // row group is the SKIP UNIT of the stripe-lazy reader — a
        // prefix-scoped resolution on a million-file store should decode
        // tens of thousands of rows, not three-quarters of the store
        .withRowGroupRowCountLimit(64 << 10)
        .withDictionaryEncoding(true)
        .build()
    }

    def add(e: Entry): Unit = {
      require(lastPath == null || lastPath < e.path,
        s"checkpoint rows must arrive in ascending path order: " +
          s"'${e.path}' after '$lastPath'")
      lastPath = e.path
      val g = factory.newGroup()
      g.append("path", e.path)
      e.size.foreach(s => g.append("size", s))
      e.stats.foreach(m =>
        g.append("stats", mapper.writeValueAsString(FileStats.toJson(mapper, m))))
      e.dv.foreach(d =>
        g.append("dv", mapper.writeValueAsString(StoreLog.dvEntryJson(mapper, d))))
      writer.write(g)
      // ---- summary fold
      count += 1
      if (rowsKnown) {
        e.stats.flatMap(_.values.collectFirst {
          case cs if cs.rows >= 0 => cs.rows
        }) match {
          case Some(r) => rows += r
          case None => rowsKnown = false
        }
      }
      e.dv.foreach(dvRows += _.rows)
      if (allStats) e.stats match {
        case None => allStats = false; merged = Map.empty
        case Some(st) =>
          merged =
            if (count == 1L) st.map { case (c, cs) =>
              c -> FileStats.ColStat(cs.tag, cs.min, cs.max, cs.nulls, cs.rows)
            }
            else merged.flatMap { case (c, a) =>
              st.get(c).filter(_.tag == a.tag).map { b =>
                c -> FileStats.ColStat(a.tag,
                  if (FileStats.cmpDomain(a.tag, a.min, b.min) <= 0) a.min else b.min,
                  if (FileStats.cmpDomain(a.tag, a.max, b.max) >= 0) a.max else b.max,
                  if (a.nulls < 0 || b.nulls < 0) -1L else a.nulls + b.nulls,
                  if (a.rows < 0 || b.rows < 0) -1L else a.rows + b.rows)
              }
            }
      }
    }

    /** Close the writer and return (payload bytes, exact row count). */
    def finish(): (Array[Byte], Long) = {
      writer.close()
      (buf.toByteArray, count)
    }

    private def summaryNow(): String = {
      val root = mapper.createObjectNode()
      root.put("files", count)
      root.put("rows", if (rowsKnown) rows else -1L)
      root.put("dvRows", dvRows)
      if (count > 0 && allStats && merged.nonEmpty)
        root.set[com.fasterxml.jackson.databind.JsonNode]("cols",
          FileStats.toJson(mapper, merged))
      mapper.writeValueAsString(root)
    }
  }

  /** Decode a checkpoint payload: (files, stats, sizes, dvs) — exactly
    * the tuple the inline-JSON resolution produces. Streams through
    * [[stream]] (no whole-checkpoint DOM ever exists).
    */
  def read(bytes: Array[Byte]): (Seq[String],
      Map[String, FileStats.FileStatsMap], Map[String, Long],
      Map[String, Dv.Entry]) = {
    val files = Seq.newBuilder[String]
    val stats = Map.newBuilder[String, FileStats.FileStatsMap]
    val sizes = Map.newBuilder[String, Long]
    val dvs = Map.newBuilder[String, Dv.Entry]
    stream(bytes, Nil, ()) { (_, e) =>
      files += e.path
      e.stats.foreach(stats += e.path -> _)
      e.size.foreach(sizes += e.path -> _)
      e.dv.foreach(dvs += e.path -> _)
    }
    (files.result(), stats.result(), sizes.result(), dvs.result())
  }

  /** Unsigned byte-order compare (parquet's own string-statistics
    * order); `truncFirst` compares only the first operand's prefix of
    * the second's length — "is every string ≥ a ABOVE the whole range
    * under prefix b" reduces to trunc(a, |b|) > b.
    */
  private def cmpBytes(a: Array[Byte], b: Array[Byte],
                       truncFirst: Boolean = false): Int = {
    val la = if (truncFirst) math.min(a.length, b.length) else a.length
    var i = 0
    val n = math.min(la, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    la - b.length
  }

  /** THE stripe-lazy decode: fold `op` over the checkpoint's rows,
    * skipping whole ROW GROUPS whose sorted-path-column statistics
    * prove no row lives under any of `prefixes` (partition directory
    * prefixes; empty = no skipping). Rows outside the prefixes inside
    * surviving groups are dropped after the cheap path decode — their
    * stats/dv JSON never parses, and nothing the consumer doesn't keep
    * is ever materialized. This is what bounds the DRIVER working set
    * of a pruned plan over a million-file store: the full checkpoint is
    * scanned at most once as transient row-group buffers, while
    * allocations that survive are O(what `op` keeps).
    */
  def stream[A](bytes: Array[Byte], prefixes: Seq[String], zero: A)(
      op: (A, Entry) => A): A = {
    val mapper = new ObjectMapper()
    val pLos: Seq[Array[Byte]] =
      prefixes.map(p => (p + "/").getBytes("UTF-8"))
    val pStrs: Seq[String] = prefixes.map(_ + "/")
    var acc = zero
    val reader = openReader(bytes)
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      val columnIO = new ColumnIOFactory().getColumnIO(schema)
      val blocks = reader.getRowGroups
      var bi = 0
      while (bi < blocks.size()) {
        val keepGroup = pLos.isEmpty || {
          val st = blocks.get(bi).getColumns.asScala
            .find(c => c.getPath.size() == 1 && c.getPath.toDotString == "path")
            .map(_.getStatistics).orNull
          if (st == null || st.isEmpty || !st.hasNonNullValue) true // no stats: keep
          else {
            val mn = st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
            val mx = st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
            // a group may hold a path under prefix p iff NOT(every row
            // < "p/") and NOT(every row > everything under "p/") — the
            // latter via the truncated compare (sound for any suffix
            // bytes, unlike a '￿' sentinel, which 4-byte UTF-8
            // code points would leapfrog)
            pLos.exists(lo =>
              cmpBytes(mx, lo) >= 0 && cmpBytes(mn, lo, truncFirst = true) <= 0)
          }
        }
        if (!keepGroup) {
          reader.skipNextRowGroup()
          lastRowGroupsSkipped += 1
        } else {
          lastRowGroupsRead += 1
          val pages = reader.readNextRowGroup()
          val rr = columnIO.getRecordReader(pages, new GroupRecordConverter(schema))
          var i = 0L
          val n = pages.getRowCount
          while (i < n) {
            val g = rr.read()
            val p = g.getString("path", 0)
            lastRowsDecoded += 1
            if (pStrs.isEmpty || pStrs.exists(p.startsWith)) {
              val size =
                if (g.getFieldRepetitionCount("size") > 0)
                  Some(g.getLong("size", 0)) else None
              val st =
                if (g.getFieldRepetitionCount("stats") > 0)
                  Some(FileStats.fromJson(mapper.readTree(g.getString("stats", 0))))
                else None
              val dv =
                if (g.getFieldRepetitionCount("dv") > 0)
                  Some(StoreLog.dvEntryFromJson(mapper.readTree(g.getString("dv", 0))))
                else None
              acc = op(acc, Entry(p, st, size, dv))
            }
            i += 1
          }
        }
        bi += 1
      }
    } finally reader.close()
    acc
  }

  /** The first row's path — one row-group open, one record decode (the
    * layout-hint probe: any file of a store shares its partition
    * directory shape, so callers that only need the column NAMES never
    * stream the checkpoint).
    */
  def firstPath(bytes: Array[Byte]): Option[String] = {
    val reader = openReader(bytes)
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      val pages = reader.readNextRowGroup()
      if (pages == null || pages.getRowCount == 0) None
      else {
        val rr = new ColumnIOFactory().getColumnIO(schema)
          .getRecordReader(pages, new GroupRecordConverter(schema))
        Some(rr.read().getString("path", 0))
      }
    } finally reader.close()
  }

  /** The whole-checkpoint summary from the parquet FOOTER — no row
    * decode at all (None on pre-summary checkpoints).
    */
  def summaryOf(bytes: Array[Byte]): Option[Summary] = {
    val reader = openReader(bytes)
    try {
      Option(reader.getFooter.getFileMetaData.getKeyValueMetaData.get(SummaryKey))
        .map { j =>
          val mapper = new ObjectMapper()
          val n = mapper.readTree(j)
          val cols =
            if (!n.has("cols")) Map.empty[String, FileStats.ColStat]
            else FileStats.fromJson(n.get("cols"))
          Summary(n.get("files").asLong, n.get("rows").asLong,
            n.get("dvRows").asLong, cols)
        }
    } finally reader.close()
  }

  /** In-memory parquet sink — checkpoint bytes flow to storage through
    * [[CommitIo]], never a direct filesystem API.
    */
  private final class BytesOutputFile(buf: java.io.ByteArrayOutputStream)
      extends OutputFile {
    private def stream(): PositionOutputStream =
      new DelegatingPositionOutputStream(buf) {
        override def getPos: Long = buf.size().toLong
      }
    override def create(blockSizeHint: Long): PositionOutputStream = stream()
    override def createOrOverwrite(blockSizeHint: Long): PositionOutputStream =
      stream()
    override def supportsBlockSize(): Boolean = false
    override def defaultBlockSize(): Long = 0L
  }

  /** ByteArrayInputStream with its cursor exposed — the seek/getPos
    * pair [[DelegatingSeekableInputStream]] leaves abstract must track
    * the SAME position the delegated reads advance.
    */
  private final class SeekableBytes(bytes: Array[Byte])
      extends java.io.ByteArrayInputStream(bytes) {
    def position: Long = pos.toLong
    def position(p: Long): Unit = { pos = p.toInt }
  }

  /** Checkpoint payloads carry nothing a Hadoop setting changes (snappy
    * pages, no encryption), so every reader runs under one empty conf,
    * as the writer does — parquet's default read options would build a
    * fresh `Configuration` per open and parse Hadoop's XML defaults.
    */
  private val readConf = new org.apache.hadoop.conf.Configuration(false)

  /** Options (and codec factory) are per reader: `close` releases the
    * factory, so it cannot be shared between readers.
    */
  private def openReader(bytes: Array[Byte]): ParquetFileReader =
    ParquetFileReader.open(new BytesInputFile(bytes),
      org.apache.parquet.HadoopReadOptions.builder(readConf).build())

  private final class BytesInputFile(bytes: Array[Byte]) extends InputFile {
    override def getLength: Long = bytes.length.toLong
    override def newStream(): SeekableInputStream = {
      val s = new SeekableBytes(bytes)
      new DelegatingSeekableInputStream(s) {
        override def getPos: Long = s.position
        override def seek(newPos: Long): Unit = s.position(newPos)
      }
    }
  }
}
