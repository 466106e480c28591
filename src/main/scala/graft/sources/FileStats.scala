package graft.sources

import scala.jdk.CollectionConverters._

/** Per-file column statistics carried in the [[StoreLog]] manifest — the
  * planner's index over the store's own files, the role Delta/Iceberg
  * give their per-file min/max records. Without them every manifest-aware
  * read knows only file NAMES: a ts-slice must open every live footer in
  * the touched partitions, and a delete-by-key must SCAN every live file
  * to find matches. With them, [[TsStore.read]] and [[TsStore.delete]]
  * build the candidate file list driver-side BEFORE Spark opens a single
  * footer — O(manifest) metadata work instead of O(store) IO.
  *
  * Collection is free-riding: each write task opens the footers of the
  * files it just PRODUCED ([[ofFile]]) and returns their stats with its
  * commit message, reading min/max straight out of the row-group
  * metadata (no data pages, no driver pass, no Spark job).
  *
  * Pruning ([[mayMatch]]) is CONSERVATIVE by construction: a file is
  * dropped only when its recorded bounds prove no row can satisfy the
  * predicate. Unrecognized predicate shapes, columns without stats,
  * type-tag mismatches (a micros timestamp bound never compares against
  * an NTZ literal), and stat-less legacy manifests all keep the file.
  * Strings compare by UNSIGNED UTF-8 byte order — the ordering parquet
  * used to compute the bounds (java String order diverges above the BMP,
  * and a wrong prune here is a silently-incomplete DELETE).
  */
object FileStats {

  /** One column's bounds. `tag` pins the VALUE SEMANTICS, not just the
    * storage type, so unit/zone mismatches can never compare:
    * "i" integral (Long), "f" floating (Double), "s" UTF-8 string,
    * "ts" instant micros (Long), "tn" local-datetime micros (Long),
    * "d" date days (Long). `nulls`/`rows` (−1 = unknown, e.g. a legacy
    * manifest) let `IS NULL` prune files with zero nulls — the
    * data-quality audit scan ("find the violating rows") skips every
    * clean file without opening it.
    *
    * `digest` (optional, null = none): the file's DISTINCT-VALUE
    * fingerprint set for this column — base64 of sorted 4-byte
    * big-endian 32-bit xxhash64 fingerprints, recorded only for the
    * store's declared bloom columns when the file's parquet dictionary
    * proves the closed value set (every page dictionary-encoded,
    * ≤ [[DigestMaxValues]] distinct). The SCATTERED-takedown
    * accelerant: a keyed delete probes candidate files at the MANIFEST
    * level — a file whose digest contains none of the key fingerprints
    * is dropped before any footer opens. Absent/saturated digests keep
    * the file; a fingerprint collision keeps it too — conservative
    * both ways.
    */
  final case class ColStat(tag: String, min: Any, max: Any,
                           nulls: Long = -1L, rows: Long = -1L,
                           digest: String = null)

  type FileStatsMap = Map[String, ColStat]

  /** Cap on columns recorded per file (schema order) — bounds manifest
    * growth on wide tables; later columns simply never prune, except the
    * store's time column, which a write task records wherever it sits
    * ([[ofFile]]'s `keepCols`).
    */
  val MaxStatsCols = 24

  /** Strings longer than this are not recorded: truncating a MAX bound
    * requires rounding UP in byte order (fiddly and rarely useful), and
    * long strings (document text) are poor prune keys anyway.
    */
  val MaxStringLen = 64

  // ---------------------------------------------------------------- write

  /** One parquet file's column bounds (None when no column qualifies)
    * and its BYTE LENGTH, off its footer — metadata-only, no data pages
    * ([[org.apache.parquet.hadoop.util.HadoopInputFile]] stats the file
    * to find the footer, so the length costs no extra RPC). A column is
    * recorded only when EVERY row group carries usable stats for it;
    * `digestCols` are the file's parquet-bloom columns, which also get
    * a key digest. `keepCols` are recorded even past the
    * [[MaxStatsCols]] cap. The store's task writer calls this on each
    * file it just wrote, passing the time column as `keepCols` (the
    * append overlap guard reads every file's ts bounds), so a commit's
    * stats come from its own tasks; an open failure propagates.
    *
    * The footer (and any dictionary page) is read under `conf` itself —
    * the caller's already-loaded conf — never under parquet's default
    * read options, whose fresh `Configuration` parses Hadoop's XML
    * defaults again on every open (most of a small file's read-back).
    */
  private[graft] def ofFile(file: String,
                            conf: org.apache.hadoop.conf.Configuration,
                            digestCols: Set[String],
                            keepCols: Set[String] = Set.empty)
      : (Option[FileStatsMap], Long) = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(file), conf)
    val len = in.getLength
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in,
      org.apache.parquet.HadoopReadOptions.builder(conf).build())
    try {
      val fs = fromFooter(reader.getFooter, digestCols, reader, keepCols)
      (if (fs.nonEmpty) Some(fs) else None, len)
    } finally reader.close()
  }

  /** [[ofFile]] over the store-relative `rels` of `path`, with sizes —
    * the one driver-side footer pass left: [[StoreLog.ensure]] indexing
    * files it ADOPTS from an existing directory (written before the
    * store had a log, so no task reported their stats). Files that fail
    * to open are skipped (the manifest carries no stats for them —
    * reads stay correct, just unpruned).
    */
  def forFilesWithSizes(path: String, rels: Seq[String],
                        digestCols: Seq[String])
      : (Map[String, FileStatsMap], Map[String, Long]) = {
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val dcols = digestCols.toSet
    // Footer opens are independent per file and IO-bound — run them on a
    // bounded pool instead of serially on the committing thread (adopting
    // hundreds of small files otherwise stalls the driver for the sum of
    // the opens; the pool keeps the pass O(files / parallelism)).
    // Results are folded back in input order, so the maps are identical
    // to the sequential build.
    def statOne(rel: String): Option[(Option[FileStatsMap], Long)] =
      try Some(ofFile(s"$path/$rel", conf, dcols))
      catch { case scala.util.control.NonFatal(_) => None }
    val results: Seq[Option[(Option[FileStatsMap], Long)]] =
      if (rels.size <= 4) rels.map(statOne)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, Runtime.getRuntime.availableProcessors()))
        try {
          val futs = rels.map(rel =>
            pool.submit(new java.util.concurrent.Callable[
              Option[(Option[FileStatsMap], Long)]] {
              def call() = statOne(rel)
            }))
          futs.map(_.get())
        } finally pool.shutdown()
      }
    val read = rels.zip(results).collect { case (rel, Some(r)) => rel -> r }
    (read.collect { case (rel, (Some(fs), _)) => rel -> fs }.toMap,
      read.map { case (rel, (_, len)) => rel -> len }.toMap)
  }

  /** Digest caps: a column with more distinct values than this per
    * file records no digest (a near-saturated fingerprint set prunes
    * nothing and bloats the manifest), and a takedown probing with
    * more keys than [[DigestProbeMaxKeys]] skips the digest gate
    * (a store-wide purge touches most files anyway).
    */
  val DigestMaxValues = 4096
  val DigestProbeMaxKeys = 65536

  private val DigestSeed = 42L

  /** 32-bit fingerprint of one value in its STAT DOMAIN (the same
    * canonical domains the bounds use — integral/date/timestamp →
    * long, string → UTF-8): both the dictionary side (file write) and
    * the key side (takedown probe) hash through here, so they can
    * never disagree on encoding.
    */
  private[sources] def fingerprint(tag: String, v: Any): Int = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val h = tag match {
      case "s" => XXH64.hashUTF8String(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          v.asInstanceOf[String]), DigestSeed)
      case _ => XXH64.hashLong(v.asInstanceOf[Long], DigestSeed)
    }
    (h >>> 32).toInt ^ h.toInt
  }

  private[sources] def digestEncode(fps: java.util.TreeSet[Integer]): String = {
    val bb = java.nio.ByteBuffer.allocate(fps.size * 4)
    fps.forEach(i => { bb.putInt(i); () })
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  /** Probe a recorded digest with a key-fingerprint set: true iff the
    * file MAY hold one of the keys. O(file's distinct values) hash
    * lookups with early exit on the first hit.
    */
  private[sources] def digestMayContain(digest: String,
      probe: java.util.HashSet[Integer]): Boolean = {
    val bytes = java.util.Base64.getDecoder.decode(digest)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    var i = 0
    val n = bytes.length / 4
    while (i < n) {
      if (probe.contains(bb.getInt(i * 4))) return true
      i += 1
    }
    false
  }

  /** The file's distinct-value fingerprints for `name`, from its
    * parquet DICTIONARY pages alone (no data pages): sound only when
    * EVERY page of every row group is dictionary-encoded (the
    * encoding stats prove it — a plain-encoded fallback page could
    * hold values outside the dictionary), capped at
    * [[DigestMaxValues]]. The dictionary may name values no surviving
    * page actually wrote — a superset only ever KEEPS files. Cost: one
    * dictionary-page read per row group, riding the same footer open
    * the bounds already paid for.
    */
  private def digestOf(reader: org.apache.parquet.hadoop.ParquetFileReader,
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      name: String, tag: String): Option[String] = {
    val schema = footer.getFileMetaData.getSchema
    val cd =
      try schema.getColumnDescription(Array(name))
      catch { case scala.util.control.NonFatal(_) => return None }
    val fps = new java.util.TreeSet[Integer]()
    val blocks = footer.getBlocks.asScala
    blocks.foreach { b =>
      val col = b.getColumns.asScala
        .find(c => c.getPath.size() == 1 && c.getPath.toDotString == name)
        .getOrElse(return None)
      val es = col.getEncodingStats
      if (es == null || !es.hasDictionaryPages || es.hasNonDictionaryEncodedPages)
        return None
      // upcast to the public interface: the concrete reader class is
      // package-private in parquet-hadoop
      val store: org.apache.parquet.column.page.DictionaryPageReadStore =
        reader.getDictionaryReader(b)
      val page = store.readDictionaryPage(cd)
      if (page == null) return None
      val dict = page.getEncoding.initDictionary(cd, page)
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
      var i = 0
      while (i <= dict.getMaxId) {
        val v: Any = cd.getPrimitiveType.getPrimitiveTypeName match {
          case INT64 => dict.decodeToLong(i)
          case INT32 => dict.decodeToInt(i).toLong
          case BINARY if tag == "s" =>
            new String(dict.decodeToBinary(i).getBytes, "UTF-8")
          case _ => return None
        }
        fps.add(fingerprint(tag, v))
        if (fps.size > DigestMaxValues) return None
        i += 1
      }
    }
    if (fps.isEmpty) None else Some(digestEncode(fps))
  }

  private def fromFooter(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      digestCols: Set[String] = Set.empty,
      reader: org.apache.parquet.hadoop.ParquetFileReader = null,
      keepCols: Set[String] = Set.empty): FileStatsMap = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val schema = footer.getFileMetaData.getSchema
    val blocks = footer.getBlocks.asScala.toSeq
    if (blocks.isEmpty) return Map.empty
    // eligible TOP-LEVEL primitive fields, schema order, capped (but
    // for `keepCols`)
    val all: Seq[(String, String)] = schema.getFields.asScala.toSeq.flatMap { f =>
      if (!f.isPrimitive) None
      else {
        val p = f.asPrimitiveType()
        val tag = (p.getPrimitiveTypeName, p.getLogicalTypeAnnotation) match {
          case (INT64, t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation)
            if t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS =>
            Some(if (t.isAdjustedToUTC) "ts" else "tn")
          case (_, _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation) => None
          case (INT32, _: LogicalTypeAnnotation.DateLogicalTypeAnnotation) => Some("d")
          case (INT32 | INT64, _) => Some("i")
          case (FLOAT | DOUBLE, _) => Some("f")
          case (BINARY, _: LogicalTypeAnnotation.StringLogicalTypeAnnotation) => Some("s")
          case _ => None
        }
        tag.map(t => f.getName -> t)
      }
    }
    val eligible = all.take(MaxStatsCols) ++
      all.drop(MaxStatsCols).filter { case (name, _) => keepCols(name) }
    eligible.flatMap { case (name, tag) =>
      // per row group: usable stats or the column is dropped for the file
      val perBlock = blocks.map { b =>
        b.getColumns.asScala
          .find(c => c.getPath.size() == 1 && c.getPath.toDotString == name)
          .flatMap { c =>
            val st = c.getStatistics
            if (st == null || st.isEmpty || !st.hasNonNullValue) None
            else convert(tag, st)
          }
      }
      if (perBlock.exists(_.isEmpty)) None
      else {
        val vals = perBlock.flatten
        val lo = vals.map(_._1).reduce((a, b) => if (cmp(tag, a, b) <= 0) a else b)
        val hi = vals.map(_._2).reduce((a, b) => if (cmp(tag, a, b) >= 0) a else b)
        // null counts: known only when EVERY row group reports one
        val perBlockNulls = blocks.map { b =>
          b.getColumns.asScala
            .find(c => c.getPath.size() == 1 && c.getPath.toDotString == name)
            .map(_.getStatistics)
            .filter(st => st != null && !st.isEmpty && st.isNumNullsSet)
            .map(_.getNumNulls)
        }
        val nulls =
          if (perBlockNulls.exists(_.isEmpty)) -1L else perBlockNulls.flatten.sum
        val rows = blocks.map(_.getRowCount).sum
        val dg =
          // probe-able domains only (the takedown's key side hashes
          // i/d/s/ts/tn — recording others would bloat manifests unread)
          if (reader == null || !digestCols.contains(name) ||
              (tag != "i" && tag != "d" && tag != "s" &&
                tag != "ts" && tag != "tn")) null
          // guarded on its own: a dictionary-read failure (odd/corrupt
          // dictionary page) must cost only the DIGEST, never the
          // file's whole stats map (or, in a write task, the write)
          else try digestOf(reader, footer, name, tag).orNull
          catch { case scala.util.control.NonFatal(_) => null }
        Some(name -> ColStat(tag, lo, hi, nulls, rows, dg))
      }
    }.toMap
  }

  /** One row group's (min, max) in domain form, or None if unusable. */
  private def convert(tag: String,
      st: org.apache.parquet.column.statistics.Statistics[_]): Option[(Any, Any)] =
    (tag, st) match {
      case (_, s: org.apache.parquet.column.statistics.LongStatistics) =>
        Some((s.getMin, s.getMax))
      case (_, s: org.apache.parquet.column.statistics.IntStatistics) =>
        Some((s.getMin.toLong, s.getMax.toLong))
      case (_, s: org.apache.parquet.column.statistics.DoubleStatistics) =>
        Some((s.getMin, s.getMax))
      case (_, s: org.apache.parquet.column.statistics.FloatStatistics) =>
        Some((s.getMin.toDouble, s.getMax.toDouble))
      case ("s", s: org.apache.parquet.column.statistics.BinaryStatistics) =>
        val mn = s.genericGetMin.toStringUsingUTF8
        val mx = s.genericGetMax.toStringUsingUTF8
        if (mn.length > MaxStringLen || mx.length > MaxStringLen) None
        else Some((mn, mx))
      case _ => None
    }

  // ----------------------------------------------------------------- json

  private[sources] def toJson(mapper: com.fasterxml.jackson.databind.ObjectMapper,
      fs: FileStatsMap): com.fasterxml.jackson.databind.node.ObjectNode = {
    val o = mapper.createObjectNode()
    fs.toSeq.sortBy(_._1).foreach { case (name, cs) =>
      val a = mapper.createArrayNode()
      a.add(cs.tag)
      cs.tag match {
        case "f" => a.add(cs.min.asInstanceOf[Double]); a.add(cs.max.asInstanceOf[Double])
        case "s" => a.add(cs.min.asInstanceOf[String]); a.add(cs.max.asInstanceOf[String])
        case _   => a.add(cs.min.asInstanceOf[Long]); a.add(cs.max.asInstanceOf[Long])
      }
      // element 6 (the digest) needs 4-5 present — −1 spells "unknown"
      if (cs.rows >= 0 || cs.digest != null) { a.add(cs.nulls); a.add(cs.rows) }
      if (cs.digest != null) a.add(cs.digest)
      o.set[com.fasterxml.jackson.databind.JsonNode](name, a)
    }
    o
  }

  private[sources] def fromJson(
      n: com.fasterxml.jackson.databind.JsonNode): FileStatsMap =
    n.properties().asScala.map { e =>
      val a = e.getValue
      val tag = a.get(0).asText()
      val (mn, mx): (Any, Any) = tag match {
        case "f" => (a.get(1).asDouble(), a.get(2).asDouble())
        case "s" => (a.get(1).asText(), a.get(2).asText())
        case _   => (a.get(1).asLong(), a.get(2).asLong())
      }
      // legacy 3-element arrays parse with unknown null counts
      val (nulls, rows) =
        if (a.size() >= 5) (a.get(3).asLong(), a.get(4).asLong()) else (-1L, -1L)
      val dg = if (a.size() >= 6) a.get(5).asText() else null
      e.getKey -> ColStat(tag, mn, mx, nulls, rows, dg)
    }.toMap

  // ---------------------------------------------------------------- prune

  /** Domain compare within one tag. Strings: unsigned UTF-8 byte order
    * (parquet's own), via UTF8String whose compareTo IS that order.
    */
  private[sources] def cmpDomain(tag: String, a: Any, b: Any): Int = cmp(tag, a, b)

  private def cmp(tag: String, a: Any, b: Any): Int = tag match {
    case "f" => java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case "s" =>
      org.apache.spark.unsafe.types.UTF8String.fromString(a.asInstanceOf[String])
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b.asInstanceOf[String]))
    case _ => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
  }

  /** A predicate literal's EXTERNAL value (what `lit(x)` carries in the
    * ColumnNode tree) lowered into a stat column's domain, or None when
    * the semantics don't line up (then the file is kept). Numeric
    * widening: an integral bound compared against a fractional literal
    * (or vice versa) compares as Double — exactly what Spark's own
    * analysis would coerce to.
    */
  private def lower(tag: String, v: Any): Option[(String, Any)] = (tag, v) match {
    // a NaN literal must never prune: parquet min/max EXCLUDE NaN rows,
    // so bounds can't prove a NaN match absent (Spark's own parquet
    // filter pushdown refuses NaN for the same reason)
    case (_, x: Float) if x.isNaN => None
    case (_, x: Double) if x.isNaN => None
    case ("i", x: Byte) => Some(("i", x.toLong))
    case ("i", x: Short) => Some(("i", x.toLong))
    case ("i", x: Int) => Some(("i", x.toLong))
    case ("i", x: Long) => Some(("i", x))
    case ("i", x: Float) => Some(("f", x.toDouble))
    case ("i", x: Double) => Some(("f", x))
    case ("f", x: Number) if x.isInstanceOf[Byte] || x.isInstanceOf[Short] ||
        x.isInstanceOf[Integer] || x.isInstanceOf[java.lang.Long] ||
        x.isInstanceOf[java.lang.Float] || x.isInstanceOf[java.lang.Double] =>
      Some(("f", x.doubleValue()))
    case ("ts", t: java.sql.Timestamp) =>
      Some(("ts", t.getTime * 1000L + (t.getNanos % 1000000L) / 1000L))
    case ("ts", t: java.time.Instant) =>
      Some(("ts", t.getEpochSecond * 1000000L + t.getNano / 1000L))
    case ("tn", t: java.time.LocalDateTime) =>
      Some(("tn", t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
        t.getNano / 1000L))
    case ("d", d: java.sql.Date) => Some(("d", d.toLocalDate.toEpochDay))
    case ("d", d: java.time.LocalDate) => Some(("d", d.toEpochDay))
    // catalyst-INTERNAL temporal encodings: DPP's runtime IN-sets on
    // date/timestamp partition columns arrive as Int epoch days / Long
    // micros (the analyzer's pushed filters carry external types — a
    // bare Int/Long against a temporal stat tag can only be internal).
    // Without these, runtime partition pruning on time-typed columns
    // silently keeps every file.
    case ("d", x: Int) => Some(("d", x.toLong))
    case ("ts", x: Long) => Some(("ts", x))
    case ("tn", x: Long) => Some(("tn", x))
    case ("s", s: String) => Some(("s", s))
    case _ => None
  }

  /** A value a scan returned, as (tag, value) in the stat domain of its
    * type — how a scanned bound compares with recorded ones. ("", v)
    * for a type no stat records.
    */
  private[sources] def domainOf(v: Any): (String, Any) = v match {
    case _: java.sql.Timestamp | _: java.time.Instant => lower("ts", v).get
    case _: java.time.LocalDateTime => lower("tn", v).get
    case _: java.sql.Date | _: java.time.LocalDate => lower("d", v).get
    case _: Byte | _: Short | _: Int | _: Long => lower("i", v).get
    case x: Float => ("f", x.toDouble)
    case x: Double => ("f", x)
    case x: String => ("s", x)
    case _ => ("", v)
  }

  /** Conservative may-any-row-match over one file's recorded bounds,
    * walking the UNCONVERTED ColumnNode tree (`col("a") === lit(1)`
    * builds `UnresolvedFunction("=", …)`; the catalyst Expression exists
    * only after analysis). Sound under nulls: parquet min/max cover
    * non-null values only, and every recognized comparison is
    * null-rejecting — a null row never satisfies it, so bounds that
    * exclude all non-null rows exclude the file. `!` and any
    * unrecognized shape return true (keep).
    */
  def mayMatch(stats: FileStatsMap,
               node: org.apache.spark.sql.GraftShim.PNode): Boolean = {
    import org.apache.spark.sql.GraftShim.PNode

    def colName(n: PNode): Option[String] = n match {
      case PNode.Attr(name) => Some(name)
      case _ => None
    }
    def litVal(n: PNode): Option[Any] = n match {
      case PNode.Lit(v) => Some(v)
      case _ => None
    }
    // bound check for `col op value`; op encoded as the range test
    def rangeTest(c: String, v: Any)(
        test: (String, ColStat, Any) => Boolean): Boolean =
      stats.get(c) match {
        case None => true
        case Some(cs) => lower(cs.tag, v) match {
          case None => true
          case Some((effTag, lv)) =>
            // integral bounds vs fractional literal: widen the bounds too
            val (lo, hi) =
              if (effTag == "f" && cs.tag == "i")
                (cs.min.asInstanceOf[Long].toDouble: Any,
                 cs.max.asInstanceOf[Long].toDouble: Any)
              else (cs.min, cs.max)
            test(effTag, ColStat(effTag, lo, hi), lv)
        }
      }
    def eq(c: String, v: Any): Boolean = rangeTest(c, v) { (t, cs, lv) =>
      cmp(t, cs.min, lv) <= 0 && cmp(t, cs.max, lv) >= 0
    }
    // `attr op lit` (or flipped): dispatch to the right bound test
    def binary(fn: String, args: Seq[PNode]): Option[Boolean] = {
      val (c, v, flip) = (colName(args(0)), litVal(args(1))) match {
        case (Some(c0), Some(v0)) => (c0, v0, false)
        case _ => (colName(args(1)), litVal(args(0))) match {
          case (Some(c1), Some(v1)) => (c1, v1, true)
          case _ => return None
        }
      }
      val op = if (!flip) fn else fn match {
        case "<" => ">" case "<=" => ">=" case ">" => "<" case ">=" => "<="
        case other => other
      }
      Some(op match {
        case "=" | "==" => if (v == null) false else eq(c, v)
        case "<=>" => if (v == null) true else eq(c, v)
        case "<" => if (v == null) false
          else rangeTest(c, v)((t, cs, lv) => cmp(t, cs.min, lv) < 0)
        case "<=" => if (v == null) false
          else rangeTest(c, v)((t, cs, lv) => cmp(t, cs.min, lv) <= 0)
        case ">" => if (v == null) false
          else rangeTest(c, v)((t, cs, lv) => cmp(t, cs.max, lv) > 0)
        case ">=" => if (v == null) false
          else rangeTest(c, v)((t, cs, lv) => cmp(t, cs.max, lv) >= 0)
        case _ => true
      })
    }
    node match {
      case PNode.Fn(name, args) => (name, args) match {
        case ("and", Seq(a, b)) => mayMatch(stats, a) && mayMatch(stats, b)
        // IS NULL can't match a file recorded null-free; IS NOT NULL
        // always may (an all-null column is never recorded — it has no
        // min/max — so its absence keeps the file, conservatively)
        case (n, Seq(attr)) if n.equalsIgnoreCase("isnull") &&
            colName(attr).isDefined =>
          stats.get(colName(attr).get) match {
            case Some(cs) if cs.nulls == 0L => false
            case _ => true
          }
        case ("or", Seq(a, b)) => mayMatch(stats, a) || mayMatch(stats, b)
        case ("in", attr +: rest) if colName(attr).isDefined &&
            rest.forall(litVal(_).isDefined) =>
          val c = colName(attr).get
          rest.exists { l =>
            val v = litVal(l).get
            v != null && eq(c, v)
          }
        case (fn @ ("=" | "==" | "<=>" | "<" | "<=" | ">" | ">="), as)
            if as.size == 2 =>
          binary(fn, as).getOrElse(true)
        case _ => true
      }
      case PNode.Lit(v) if v == false => false
      case _ => true
    }
  }

  /** The file-keep rule of every manifest prune (the scan's static and
    * stripe-lazy tiers, the scoped resolution of the delete verbs):
    * `rel`'s recorded stats plus the partition pseudo-stats its
    * directory values imply under `schema`
    * ([[GraftTable.partPseudoStats]] — partition columns never appear
    * in footer stats, so without them a partition predicate prunes
    * nothing) may satisfy `node`. A file with no stats at all is kept.
    */
  def fileMayMatch(rel: String, stats: Option[FileStatsMap],
                   schema: org.apache.spark.sql.types.StructType,
                   node: org.apache.spark.sql.GraftShim.PNode): Boolean = {
    val all = stats.getOrElse(Map.empty) ++ GraftTable.partPseudoStats(rel, schema)
    all.isEmpty || mayMatch(all, node)
  }

  /** Prune `files` to those that MAY hold a row matching `pred`. Files
    * without recorded stats are kept; so is everything when the
    * predicate has no prunable shape.
    */
  def prune(files: Seq[String], stats: Map[String, FileStatsMap],
            pred: org.apache.spark.sql.Column): Seq[String] = {
    if (stats.isEmpty) return files
    val node = org.apache.spark.sql.GraftShim.predTree(pred)
    files.filter(f => stats.get(f).forall(fs => mayMatch(fs, node)))
  }
}
