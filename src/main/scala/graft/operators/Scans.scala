package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.DeclaredQuery
import graft.sources.{MatView, Tables, TsStore}

/** §2.1 — scans / sources / sinks: the reference's own queryable surface
  * (time-range slice, column projection, metadata filter, chunked write,
  * catalog listing — `corintick/corintick.py::Corintick.read/write/
  * list_uids`, reconstructed anchors in SURVEY §1/§3).
  */
object Scans {

  private val lineitemCols =
    "SELECT l_orderkey, l_partkey, l_suppkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, " +
      "l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate " +
      "FROM lineitem"

  private val eventCols = "event_id, ts, user_id, event_type, value, props"

  val SliceStart = "2024-01-05 00:00:00"
  val SliceEnd = "2024-01-12 00:00:00"

  /** Process-scoped sink dir (see [[graft.Q.scratchDir]]): isolated
    * across concurrent processes, reused (mode overwrite) within one,
    * deleted on JVM exit. The path never affects the query result.
    */
  private def sinkDir(prefix: String, d: String): String =
    graft.Q.scratchDir(s"${prefix}_${new java.io.File(d).getName}")

  /** True if the physical plan contains a shuffle exchange (or, with
    * `orSort`, a SortExec) anywhere — AQE wrappers unwrapped. The
    * layout queries call this on an UNEXECUTED plan, which is sound
    * for the zero-exchange proof: a plan with no exchange is a single
    * AQE stage, so the pre-execution plan IS the plan that runs —
    * there is no stage boundary at which AQE could re-plan one in.
    */
  private def planBreaks(p: org.apache.spark.sql.execution.SparkPlan,
                         orSort: Boolean): Boolean = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      planBreaks(a.executedPlan, orSort)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      planBreaks(q.plan, orSort)
    case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => true
    case _: org.apache.spark.sql.execution.SortExec if orSort => true
    case other => other.children.exists(c => planBreaks(c, orSort))
  }

  /** Execute `df` DISTRIBUTED — a parquet sink, never a driver-side
    * collect — while the caller's session confs are in force, then
    * return the sunk result as a fresh read. Executors stream their
    * partitions straight to files; no full result ever materializes
    * on the driver, however large the join output grows at scale.
    */
  private def sinkAndReload(s: org.apache.spark.sql.SparkSession,
                            df: org.apache.spark.sql.DataFrame,
                            dir: String): org.apache.spark.sql.DataFrame = {
    df.write.mode("overwrite").parquet(dir)
    s.read.parquet(dir)
  }

  def defs: Seq[(String, DeclaredQuery)] = Seq(
    "scan_parquet" -> DeclaredQuery(
      // (l_orderkey, l_linenumber) is NOT unique in the fixture (~25% dup
      // rate!) — the ORDER BY carries enough columns for a verified total
      // order, else tie order is engine-arbitrary and the hash flaky.
      (s, d) => Tables.lineitem(s, d)
        .withColumn("l_linenumber", col("l_linenumber").cast("long"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("l_quantity"), col("l_extendedprice")),
      Some(s"$lineitemCols ORDER BY l_orderkey, l_linenumber, l_partkey, " +
        "l_suppkey, l_quantity, l_extendedprice"),
      "full stable-ordered scan of one table"),

    "ts_slice" -> DeclaredQuery(
      (s, d) => Tables.eventsSliced(s, d, SliceStart, SliceEnd)
        .orderBy(col("event_id")),
      Some(s"SELECT $eventCols FROM events WHERE ts BETWEEN TIMESTAMP '$SliceStart' " +
        s"AND TIMESTAMP '$SliceEnd' ORDER BY event_id"),
      "corintick core read: inclusive time-range slice (row-group pruning on ts)"),

    "ts_slice_proj" -> DeclaredQuery(
      (s, d) => Tables.eventsSliced(s, d, SliceStart, SliceEnd)
        .select(col("ts"), col("user_id"), col("value"))
        .orderBy(col("ts"), col("user_id"), col("value")),
      Some(s"SELECT ts, user_id, value FROM events WHERE ts BETWEEN TIMESTAMP '$SliceStart' " +
        s"AND TIMESTAMP '$SliceEnd' ORDER BY ts, user_id, value"),
      "slice + column projection (column pruning ≙ Mongo projection doc)"),

    "meta_filter" -> DeclaredQuery(
      (s, d) => Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .orderBy(col("event_id")),
      Some(s"SELECT $eventCols FROM events WHERE event_type = 'purchase' ORDER BY event_id"),
      "metadata key/value filter as an ordinary pushed predicate"),

    "write_roundtrip" -> DeclaredQuery(
      (s, d) => {
        val tmp = sinkDir("roundtrip", d)
        TsStore.write(Tables.events(s, d), tmp, tsCol = "ts", uidCols = Seq("event_type"))
        TsStore.read(s, tmp)
          .select("event_id", "ts", "user_id", "event_type", "value", "props")
          .orderBy(col("event_id"))
      },
      Some(s"SELECT $eventCols FROM events ORDER BY event_id"),
      "chunked columnar write (range-partitioned, ts-sorted, partitioned parquet) then read back"),

    "write_upsert" -> DeclaredQuery(
      // Incremental corpus maintenance — MERGE/latest-wins upsert
      // without a table format: base = the documents table, delta = a
      // derived batch (re-delivered docs 0..49 with updated text, plus
      // 10 brand-new ids). Union + one (doc_id) window keeping the
      // highest version: the only shuffle carries base+delta once; at
      // 100 TB the production variant partition-prunes the base to the
      // touched partitions first (TsStore's layout), same plan after
      // the prune. The merged result round-trips through a parquet sink
      // before verification, so the oracle also gates the sink path.
      (s, d) => {
        val base = Tables.documents(s, d)
          .select(col("doc_id"), col("text"), col("lang"), lit(1L).as("version"))
        val delta = Tables.documents(s, d)
          .filter(col("doc_id") < 50)
          .select(col("doc_id"), concat(lit("v2 "), col("text")).as("text"),
            col("lang"), lit(2L).as("version"))
          .unionByName(Tables.documents(s, d).filter(col("doc_id") < 10)
            .select((col("doc_id") + 1000000).as("doc_id"), col("text"),
              col("lang"), lit(2L).as("version")))
        val w = Window.partitionBy("doc_id").orderBy(desc("version"))
        val merged = base.unionByName(delta)
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("doc_id"), col("text"), col("lang"), col("version"))
        val tmp = sinkDir("upsert", d)
        merged.write.mode("overwrite").parquet(tmp)
        s.read.parquet(tmp)
          .select(col("doc_id"), md5(col("text")).as("digest"), col("lang"), col("version"))
          .orderBy(col("doc_id"))
      },
      Some("WITH delta AS (SELECT doc_id, 'v2 ' || text AS text, lang, 2 AS version " +
        "FROM documents WHERE doc_id < 50 " +
        "UNION ALL SELECT doc_id + 1000000, text, lang, 2 FROM documents WHERE doc_id < 10), " +
        "u AS (SELECT doc_id, text, lang, 1 AS version FROM documents " +
        "UNION ALL SELECT * FROM delta), " +
        "m AS (SELECT doc_id, text, lang, version, " +
        "row_number() OVER (PARTITION BY doc_id ORDER BY version DESC) AS rn FROM u) " +
        "SELECT doc_id, md5(text) AS digest, lang, CAST(version AS BIGINT) AS version " +
        "FROM m WHERE rn = 1 ORDER BY doc_id"),
      "MERGE-style latest-wins upsert (union + one keyed window) through a parquet sink"),

    "write_upsert_pruned" -> DeclaredQuery(
      // The PRODUCTION upsert path: same latest-wins MERGE semantics as
      // write_upsert, but through TsStore.upsert — the base is partition-
      // PRUNED to the delta's uid values (here: only the 'purchase'
      // partition) and the touched partitions are swapped by ONE atomic
      // manifest commit (StoreLog), so the four untouched event_type
      // partitions are never read or rewritten and a crash mid-upsert
      // leaves the previous version live. TsStoreSpec pins the pruning
      // in the scan metadata; this oracle gates the end-to-end result
      // through the store.
      (s, d) => {
        val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
        val base = Tables.events(s, d)
          .select(cols.map(col) :+ lit(1L).as("version"): _*)
        val dir = sinkDir("upsert_pruned", d)
        TsStore.write(base, dir, tsCol = "ts", uidCols = Seq("event_type"))
        val purchases = Tables.events(s, d).filter(col("event_type") === "purchase")
        val delta = purchases.filter(col("event_id") % 10 === 0)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
            (col("value") + 1000.0).as("value"), lit(2L).as("version"))
          .unionByName(purchases.filter(col("event_id") % 97 === 0)
            .select((col("event_id") + 10000000L).as("event_id"), col("ts"),
              col("user_id"), col("event_type"), col("value"), lit(2L).as("version")))
        TsStore.upsert(s, dir, delta, keyCols = Seq("event_id"),
          versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))
        TsStore.read(s, dir)
          .select((cols :+ "version").map(col): _*)
          .orderBy(col("event_id"))
      },
      Some("WITH base AS (SELECT event_id, ts, user_id, event_type, value, 1 AS version, 0 AS src FROM events), " +
        "delta AS (SELECT event_id, ts, user_id, event_type, value + 1000.0 AS value, 2 AS version, 1 AS src " +
        "FROM events WHERE event_type = 'purchase' AND event_id % 10 = 0 " +
        "UNION ALL SELECT event_id + 10000000, ts, user_id, event_type, value, 2, 1 " +
        "FROM events WHERE event_type = 'purchase' AND event_id % 97 = 0), " +
        "u AS (SELECT * FROM base UNION ALL SELECT * FROM delta), " +
        "m AS (SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY version DESC, src DESC) AS rn FROM u) " +
        "SELECT event_id, ts, user_id, event_type, value, CAST(version AS BIGINT) AS version " +
        "FROM m WHERE rn = 1 ORDER BY event_id"),
      "partition-pruned MERGE through TsStore: prune base to delta's partitions, atomically swap only those"),

    "write_upsert_timetravel" -> DeclaredQuery(
      // Versioned (time-travel) read over the store's manifest log: the
      // upsert publishes ONE atomic manifest version, and the replaced
      // files stay on disk until vacuum — so reading `asOf` the
      // pre-upsert version reconstructs the exact pre-merge store from
      // the same directory, no copy. The oracle is simply the base
      // table: if any merged row leaked into (or base row vanished
      // from) the old snapshot, the hash diverges. At 100 TB this is
      // the audit/debug/reproduce-training-run read path — a snapshot
      // is a file LIST, so holding history costs zero data movement.
      (s, d) => {
        val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
        val base = Tables.events(s, d)
          .select(cols.map(col) :+ lit(1L).as("version"): _*)
        val dir = sinkDir("upsert_tt", d)
        TsStore.write(base, dir, tsCol = "ts", uidCols = Seq("event_type"))
        val delta = Tables.events(s, d)
          .filter(col("event_type") === "purchase" && col("event_id") % 5 === 0)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
            (col("value") * 3.0).as("value"), lit(2L).as("version"))
        val v = TsStore.upsert(s, dir, delta, keyCols = Seq("event_id"),
          versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))
        TsStore.read(s, dir, asOf = Some(v - 1))
          .select((cols :+ "version").map(col): _*)
          .orderBy(col("event_id"))
      },
      Some("SELECT event_id, ts, user_id, event_type, value, CAST(1 AS BIGINT) AS version " +
        "FROM events ORDER BY event_id"),
      "time-travel read: the pre-upsert manifest version reconstructs the unmerged store"),

    "store_sql_timetravel" -> DeclaredQuery(
      // The SQL face of the versioned store: graft_store('path', asOf =>
      // v) is a table-valued function (SparkSessionExtensions), so the
      // manifest-aware read — live file list from the log, dead chunks
      // invisible, partition/row-group pruning unchanged — is reachable
      // from plain SQL like the rest of the surface. Same store
      // construction as write_upsert_timetravel; the read goes through
      // spark.sql instead of the Scala API, and the oracle is again the
      // pre-upsert base.
      (s, d) => {
        val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
        val base = Tables.events(s, d)
          .select(cols.map(col) :+ lit(1L).as("version"): _*)
        val dir = sinkDir("store_sql_tt", d)
        TsStore.write(base, dir, tsCol = "ts", uidCols = Seq("event_type"))
        val delta = Tables.events(s, d)
          .filter(col("event_type") === "purchase" && col("event_id") % 5 === 0)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
            (col("value") * 3.0).as("value"), lit(2L).as("version"))
        val v = TsStore.upsert(s, dir, delta, keyCols = Seq("event_id"),
          versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))
        s.sql(s"SELECT event_id, ts, user_id, event_type, value, version " +
          s"FROM graft_store('$dir', asOf => ${v - 1}) ORDER BY event_id")
      },
      Some("SELECT event_id, ts, user_id, event_type, value, CAST(1 AS BIGINT) AS version " +
        "FROM events ORDER BY event_id"),
      "SQL time travel via the graft_store table-valued function"),

    "write_delete" -> DeclaredQuery(
      // Row-level DELETE through the store — the takedown/
      // decontamination verb (GDPR erasure, eval-set removal): write
      // events as a logged store, delete a keyed slice of one series,
      // read the live view back. TsStore.delete is FILE-granular
      // copy-on-write: one predicate-pushed scan names the live files
      // containing matching rows, only those files' survivors are
      // rewritten, and ONE manifest commit swaps them — untouched
      // files (same partition included) are never read for rewrite.
      // The deleted rows stay readable asOf the pre-delete version
      // until vacuum (pinned in StoreLogSpec); the oracle gates the
      // live view: SELECT ... WHERE NOT pred.
      (s, d) => {
        val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
        val base = Tables.events(s, d)
          .select(cols.map(col) :+ lit(1L).as("version"): _*)
        val dir = sinkDir("delete", d)
        TsStore.write(base, dir, tsCol = "ts", uidCols = Seq("event_type"))
        TsStore.delete(s, dir,
          col("event_type") === "purchase" && col("event_id") % 7 === 0,
          tsCol = "ts", uidCols = Seq("event_type"))
        TsStore.read(s, dir)
          .select((cols :+ "version").map(col): _*)
          .orderBy(col("event_id"))
      },
      Some("SELECT event_id, ts, user_id, event_type, value, CAST(1 AS BIGINT) AS version " +
        "FROM events WHERE NOT (event_type = 'purchase' AND event_id % 7 = 0) " +
        "ORDER BY event_id"),
      "row-level DELETE through the manifest: file-granular copy-on-write anti-merge"),

    "write_json_roundtrip" -> DeclaredQuery(
      // Second source format: JSON-lines sink + source. Schema is pinned
      // on read — at scale, inference is a full extra pass over the data.
      (s, d) => {
        val tmp = sinkDir("json", d)
        Tables.documents(s, d).select("doc_id", "text", "lang", "source", "n_chars")
          .write.mode("overwrite").json(tmp)
        s.read.schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
          .json(tmp)
          .orderBy(col("doc_id"))
      },
      Some("SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id"),
      "JSON-lines write then pinned-schema read back"),

    "write_csv_roundtrip" -> DeclaredQuery(
      // Third source format: CSV with header + quoting. Explicit schema on
      // read (CSV carries no types); quote mode ALL so embedded delimiters
      // in text columns can never corrupt the framing.
      (s, d) => {
        val tmp = sinkDir("csv", d)
        Tables.documents(s, d).select("doc_id", "text", "lang", "source", "n_chars")
          .write.mode("overwrite").option("header", "true").option("quoteAll", "true")
          .csv(tmp)
        // multiLine: quoted fields may legally contain newlines; without
        // it the reader splits records mid-field. Scale tradeoff: a
        // multiLine CSV file is not line-splittable — which is the real
        // argument for parquet/ORC over CSV at 100 TB, stated here
        // rather than hidden by a corruption bug.
        s.read.schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
          .option("header", "true").option("multiLine", "true").csv(tmp)
          .orderBy(col("doc_id"))
      },
      Some("SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id"),
      "CSV write (header, quoted) then typed read back"),

    "write_orc_roundtrip" -> DeclaredQuery(
      // Fourth source format: ORC (columnar, footer-typed like parquet —
      // schema comes back from file metadata, no pinning needed).
      (s, d) => {
        val tmp = sinkDir("orc", d)
        Tables.documents(s, d).select("doc_id", "text", "lang", "source", "n_chars")
          .write.mode("overwrite").orc(tmp)
        s.read.orc(tmp).orderBy(col("doc_id"))
      },
      Some("SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id"),
      "ORC write then typed read back (footer schema)"),

    "catalog_list" -> DeclaredQuery(
      (s, d) => TsStore.listSeries(Tables.events(s, d), uidCol = "user_id"),
      Some("SELECT user_id, count(*) AS n_rows, min(ts) AS ts_min, max(ts) AS ts_max " +
        "FROM events GROUP BY user_id ORDER BY user_id"),
      "series catalog ≙ corintick list_uids"),

    "store_changes" -> DeclaredQuery(
      // Incremental (change-feed) READ over the manifest chain: write the
      // store, upsert one series (updates + inserts, v2), delete a keyed
      // slice of ANOTHER series (v3), then ask "what changed from v1 to
      // v3, by key". TsStore.changes diffs the two manifests' file lists
      // — only the window's added/replaced files are read, so the cost
      // scales with what the commits wrote, not the store — and
      // classifies rows insert/update/delete via (key, version)
      // anti-joins that cancel carried-over copy-on-write survivors.
      // The oracle reconstructs the same diff from the base table: the
      // upsert's rows (update where the key existed, insert where it
      // didn't) plus the deleted slice's pre-delete rows.
      (s, d) => {
        val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
        val base = Tables.events(s, d)
          .select(cols.map(col) :+ lit(1L).as("version"): _*)
        val dir = sinkDir("changes", d)
        TsStore.write(base, dir, tsCol = "ts", uidCols = Seq("event_type"))
        val delta = Tables.events(s, d)
          .filter(col("event_type") === "purchase" && col("event_id") % 10 === 0)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
            (col("value") + 1000.0).as("value"), lit(2L).as("version"))
          .unionByName(Tables.events(s, d)
            .filter(col("event_type") === "purchase" && col("event_id") % 97 === 0)
            .select((col("event_id") + 10000000L).as("event_id"), col("ts"),
              col("user_id"), col("event_type"), col("value"), lit(2L).as("version")))
        val v2 = TsStore.upsert(s, dir, delta, keyCols = Seq("event_id"),
          versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))
        val v3 = TsStore.delete(s, dir,
          col("event_type") === "click" && col("event_id") % 7 === 0,
          tsCol = "ts", uidCols = Seq("event_type"))
        TsStore.changes(s, dir, v2 - 1, v3,
            keyCols = Seq("event_id"), versionCol = "version")
          .select((cols :+ "version" :+ "change_type").map(col): _*)
          .orderBy(col("event_id"), col("change_type"))
      },
      Some("WITH upd AS (SELECT event_id, ts, user_id, event_type, value + 1000.0 AS value, " +
        "CAST(2 AS BIGINT) AS version, 'update' AS change_type FROM events " +
        "WHERE event_type = 'purchase' AND event_id % 10 = 0), " +
        "ins AS (SELECT event_id + 10000000 AS event_id, ts, user_id, event_type, value, " +
        "CAST(2 AS BIGINT) AS version, 'insert' AS change_type FROM events " +
        "WHERE event_type = 'purchase' AND event_id % 97 = 0), " +
        "del AS (SELECT event_id, ts, user_id, event_type, value, " +
        "CAST(1 AS BIGINT) AS version, 'delete' AS change_type FROM events " +
        "WHERE event_type = 'click' AND event_id % 7 = 0) " +
        "SELECT * FROM (SELECT * FROM upd UNION ALL SELECT * FROM ins " +
        "UNION ALL SELECT * FROM del) ORDER BY event_id, change_type"),
      "change-feed read: manifest-diff CDC between two store versions (insert/update/delete by key)"),

    "store_zorder" -> DeclaredQuery(
      // Multi-dimensional clustering rewrite (the Delta OPTIMIZE ZORDER /
      // Iceberg sort-order-rewrite role): the store lands ts-sorted in
      // deliberately small chunks — tight ts bounds per file, USELESS
      // user_id/value bounds — then one TsStore.zorder pass rewrites the
      // live set clustered on the interleaved quantile-bucket bits of
      // (user_id, value). After the rewrite every file is local in BOTH
      // dimensions, so the same manifest-stat pruning that serves
      // ts-slices engages for user/value predicates too (ZorderSpec pins
      // the kept-file drop and per-file bound tightness). The rewrite
      // only MOVES rows, so the oracle is a plain filter on the fixture.
      (s, d) => {
        val dir = sinkDir("zorder", d)
        TsStore.write(Tables.events(s, d), dir, tsCol = "ts",
          uidCols = Seq("event_type"), maxRecordsPerFile = 2000)
        TsStore.zorder(s, dir, clusterCols = Seq("user_id", "value"),
          uidCols = Seq("event_type"))
        val pred = col("user_id").between(3, 7) && col("value") <= 120.0
        TsStore.load(s, dir).filter(pred)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .orderBy(col("event_id"))
      },
      Some("SELECT event_id, ts, user_id, event_type, value FROM events " +
        "WHERE user_id BETWEEN 3 AND 7 AND value <= 120.0 ORDER BY event_id"),
      "z-order clustering rewrite: multi-dimensional file locality, manifest-stat pruning on non-sort keys"),

    "store_zorder_scoped" -> DeclaredQuery(
      // PARTITION-SCOPED clustering rewrite (the Delta OPTIMIZE ...
      // WHERE role): at 100 TB you re-cluster yesterday's partitions,
      // not the decade — the whole-store pass above would rewrite
      // everything to fix one partition's layout. A predicate over the
      // partition columns resolves to live prefixes driver-side
      // (manifest-only, one local row per partition), the rewrite
      // touches ONLY those prefixes' files, and `replaced` names only
      // the scope so concurrent writers elsewhere serialize cleanly.
      // Self-pins the out-of-scope-untouched contract (ZorderSpec pins
      // it byte-level plus in-scope pruning) before the content gate;
      // the rewrite only moves rows, so the oracle is a plain filter.
      (s, d) => {
        val dir = sinkDir("zorder_scope", d)
        TsStore.write(Tables.events(s, d), dir, tsCol = "ts",
          uidCols = Seq("event_type"), maxRecordsPerFile = 2000)
        val pre = graft.sources.StoreLog.latest(dir).get
        val scope = TsStore.partitionPrefixesWhere(s, pre, "event_type = 'view'")
        TsStore.zorder(s, dir, clusterCols = Seq("user_id", "value"),
          uidCols = Seq("event_type"), scope = scope)
        val snap = graft.sources.StoreLog.latest(dir).get
        require(pre.files.filterNot(_.startsWith("event_type=view/")).sorted ==
          snap.files.filterNot(_.startsWith("event_type=view/")).sorted,
          "scoped zorder must leave out-of-scope partitions' file sets alone")
        require(snap.files.filter(_.startsWith("event_type=view/"))
            .forall(f => !pre.files.contains(f)),
          "every in-scope file must be replaced")
        val pred = col("event_type") === "view" && col("user_id").between(3, 7)
        TsStore.load(s, dir).filter(pred)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .orderBy(col("event_id"))
      },
      Some("SELECT event_id, ts, user_id, event_type, value FROM events " +
        "WHERE event_type = 'view' AND user_id BETWEEN 3 AND 7 ORDER BY event_id"),
      "partition-scoped z-order rewrite: re-cluster only the partitions a predicate names"),

    "store_zorder_incremental" -> DeclaredQuery(
      // INCREMENTAL clustering (the Delta liquid-clustering role): a
      // whole-store z-order pass records a cluster MARKER (version +
      // columns) in the manifest props; a later `incremental = true`
      // pass walks the raw commit records since the marker — O(commits),
      // txn-carrying checkpoints included — and rewrites ONLY the files
      // appended since, skipping earlier cluster passes' own tagged
      // output. At 100 TB the steady state is "cluster tonight's ingest",
      // never "rewrite the decade nightly". Self-pins the exact remove
      // set (== the appended files) and the marker advance before the
      // content gate; clustering only moves rows, so the oracle is the
      // plain table.
      (s, d) => {
        val dir = sinkDir("zorder_incr", d)
        val ev = Tables.events(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value")
        TsStore.write(ev.filter(col("event_id") % 2 === 0), dir,
          tsCol = "ts", uidCols = Seq("event_type"), maxRecordsPerFile = 2000)
        TsStore.zorder(s, dir, clusterCols = Seq("user_id", "value"),
          uidCols = Seq("event_type"), maxRecordsPerFile = 2000)
        TsStore.write(ev.filter(col("event_id") % 2 === 1), dir,
          tsCol = "ts", uidCols = Seq("event_type"),
          mode = org.apache.spark.sql.SaveMode.Append,
          overlapPolicy = TsStore.OverlapPolicy.Allow,
          maxRecordsPerFile = 2000)
        val v2 = graft.sources.StoreLog.latestVersion(dir).get
        val appended = graft.sources.StoreLog.rawDelta(dir, v2).get._1.toSet
        val v3 = TsStore.zorder(s, dir, clusterCols = Seq("user_id", "value"),
          uidCols = Seq("event_type"), maxRecordsPerFile = 2000,
          incremental = true)
        val (_, rm, _) = graft.sources.StoreLog.rawDelta(dir, v3).get
        require(rm.toSet == appended,
          "incremental zorder must rewrite exactly the files appended " +
            s"since the marker: $rm vs $appended")
        require(graft.sources.StoreLog.propsAt(dir, v3)
            .get(TsStore.ClusterVersionProp).exists(_.toLong == v2),
          "the incremental pass must advance the cluster marker to its base")
        val pred = col("user_id").between(2, 6)
        TsStore.load(s, dir).filter(pred)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .orderBy(col("event_id"))
      },
      Some("SELECT event_id, ts, user_id, event_type, value FROM events " +
        "WHERE user_id BETWEEN 2 AND 6 ORDER BY event_id"),
      "incremental z-order: cluster only the files appended since the last pass's marker"),

    "store_takedown_scattered" -> DeclaredQuery(
      // SCATTERED keyed takedown with MANIFEST-LEVEL key digests: the
      // store declares a bloom column, so every committed file records
      // its distinct-value fingerprint set (derived from the parquet
      // dictionary the write task's footer read already holds). A GDPR-
      // shaped key set — uncorrelated with the (uid, ts) layout, so
      // the [min,max] extent gate keeps EVERY file — prunes at the
      // manifest instead: only files whose digest may hold a key join
      // the find scan, so footers open for O(the keys' files), not
      // O(store). Self-pins the candidate count ≪ live files before
      // the content gate; absent digests only ever widen (KeyDigestSpec
      // pins the conservative cases).
      (s, d) => {
        val dir = sinkDir("takedown_scatter", d)
        // a scatter-permuted ENTITY key (each key owns ~8 adjacent
        // rows): consecutive key values land far apart in key space, so
        // per-file key ranges all span ~everything — and the per-file
        // distinct set stays small enough that parquet keeps the column
        // dictionary-encoded (an all-unique key column falls back to
        // PLAIN and records no digest — the unique-id takedown keeps
        // the extent gate + parquet blooms instead)
        // the % 100000 BEFORE the multiply keeps the product inside
        // int64 for ANY id magnitude (ANSI overflow would kill the
        // query on replicated/offset id spaces)
        val kExpr = expr("(event_id DIV 8) % 100000 * 2654435761 % 1000000")
        TsStore.write(Tables.events(s, d)
            .select(col("event_id"), col("ts"), col("user_id"),
              col("event_type"), col("value"))
            .withColumn("k", kExpr).withColumn("version", lit(1L)),
          dir, tsCol = "ts", uidCols = Seq("event_type"),
          maxRecordsPerFile = 1000, bloomKeys = Seq("k"))
        val keys = Tables.events(s, d)
          .filter(col("event_id").between(100, 149))
          .select(kExpr.as("k"), lit(2L).as("del_v"))
        TsStore.lastTakedownCandidates = -1
        TsStore.deleteKeysVectors(s, dir, keys, keyCols = Seq("k"),
          deleteVersionCol = "del_v", versionCol = "version")
        val snap = graft.sources.StoreLog.latest(dir).get
        // the 50 keys live in ~one file per partition; everything else
        // survives only as a ~1%-per-file fingerprint collision (the
        // tiniest fixture is all-partitions-affected — skip the ratio)
        require(TsStore.lastTakedownCandidates >= 0 &&
            (snap.files.size <= 10 ||
              TsStore.lastTakedownCandidates * 2 < snap.files.size),
          s"the digest gate must prune a scattered takedown's find scan: " +
            s"${TsStore.lastTakedownCandidates} of ${snap.files.size} files")
        TsStore.load(s, dir)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .orderBy(col("event_id"))
      },
      Some("SELECT event_id, ts, user_id, event_type, value FROM events " +
        "WHERE (event_id // 8) % 100000 * 2654435761 % 1000000 NOT IN " +
        "(SELECT (event_id // 8) % 100000 * 2654435761 % 1000000 FROM events " +
        "WHERE event_id BETWEEN 100 AND 149) ORDER BY event_id"),
      "scattered keyed takedown: manifest key digests prune the find scan before any footer opens"),

    "store_schema_evolution" -> DeclaredQuery(
      // Schema evolution through the store's MERGE: the upsert delta is
      // WIDER than the base (adds a `score` column) and touches only the
      // purchase partition. upsertPlan takes the UNION of the two schemas
      // (unionByName allowMissingColumns), so the rewritten partition
      // carries the new column while the four untouched partitions keep
      // their old footprint — the upsert widens the declared schema, and
      // a read surfaces score as null for them. No
      // table-format DDL, no full-store rewrite: at 100 TB adding a
      // column costs exactly the partitions the delta touches. The
      // arithmetic (value*2, value+0.5) is exact IEEE on both engines.
      (s, d) => {
        val dir = sinkDir("schemaevo", d)
        val base = Tables.events(s, d)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
            col("value"), lit(1L).as("version"))
        TsStore.write(base, dir, tsCol = "ts", uidCols = Seq("event_type"))
        val delta = Tables.events(s, d)
          .filter(col("event_type") === "purchase" && col("event_id") % 5 === 0)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
            (col("value") * 2.0).as("value"), lit(2L).as("version"),
            (col("value") + 0.5).as("score"))
        TsStore.upsert(s, dir, delta, keyCols = Seq("event_id"),
          versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))
        TsStore.load(s, dir)
          .select(col("event_id"), col("value"), col("score"), col("version"))
          .orderBy(col("event_id"))
      },
      Some("SELECT event_id, " +
        "CASE WHEN event_type = 'purchase' AND event_id % 5 = 0 " +
        "THEN value * 2.0 ELSE value END AS value, " +
        "CASE WHEN event_type = 'purchase' AND event_id % 5 = 0 " +
        "THEN value + 0.5 END AS score, " +
        "CAST(CASE WHEN event_type = 'purchase' AND event_id % 5 = 0 " +
        "THEN 2 ELSE 1 END AS BIGINT) AS version " +
        "FROM events ORDER BY event_id"),
      "schema evolution: a wider upsert delta adds a column to touched partitions only; reads surface it as null elsewhere"),

    "store_incremental_view" -> DeclaredQuery(
      // Incremental materialized-view maintenance over the change feed
      // (the Delta-CDF-consumer / IVM role): a per-user (sum, count)
      // aggregate view follows the store through the SAME lifecycle as
      // store_changes — base write, upsert (updates + inserts), keyed
      // delete — applying only each window's change rows (with update
      // PREIMAGES, so an updated key subtracts its old measure before
      // adding the new one) instead of recomputing the aggregate. The
      // measure is an exact scaled integer (round(value*1e4)), so
      // +/− application is associative and the incremental result is
      // BIT-equal to the full recompute the oracle runs. Per-refresh
      // cost: the upstream commits' file diff + the touched groups —
      // never the store, never the whole view.
      (s, d) => {
        val dir = sinkDir("ivm_store", d)
        val vdir = sinkDir("ivm_view", d)
        val base = Tables.events(s, d)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
            col("value"), lit(1L).as("version"))
        TsStore.write(base, dir, tsCol = "ts", uidCols = Seq("event_type"))
        graft.sources.StoreLog.ensure(dir)
        val measure = round(col("value") * 10000).cast("long")
        MatView.init(s, dir, vdir, groupCols = Seq("user_id"), measureE4 = measure)
        val delta = Tables.events(s, d)
          .filter(col("event_type") === "purchase" && col("event_id") % 10 === 0)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
            (col("value") + 1000.0).as("value"), lit(2L).as("version"))
          .unionByName(Tables.events(s, d)
            .filter(col("event_type") === "purchase" && col("event_id") % 97 === 0)
            .select((col("event_id") + 10000000L).as("event_id"), col("ts"),
              col("user_id"), col("event_type"), col("value"), lit(2L).as("version")))
        TsStore.upsert(s, dir, delta, keyCols = Seq("event_id"),
          versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))
        MatView.refresh(s, dir, vdir, storeKeyCols = Seq("event_id"),
          storeVersionCol = "version", groupCols = Seq("user_id"),
          measureE4 = measure)
        TsStore.delete(s, dir,
          col("event_type") === "click" && col("event_id") % 7 === 0,
          tsCol = "ts", uidCols = Seq("event_type"))
        MatView.refresh(s, dir, vdir, storeKeyCols = Seq("event_id"),
          storeVersionCol = "version", groupCols = Seq("user_id"),
          measureE4 = measure)
        MatView.read(s, vdir, Seq("user_id")).orderBy(col("user_id"))
      },
      Some("WITH fin AS (SELECT event_id, user_id, " +
        "CASE WHEN event_type = 'purchase' AND event_id % 10 = 0 " +
        "THEN value + 1000.0 ELSE value END AS value " +
        "FROM events WHERE NOT (event_type = 'click' AND event_id % 7 = 0) " +
        "UNION ALL SELECT event_id + 10000000, user_id, value FROM events " +
        "WHERE event_type = 'purchase' AND event_id % 97 = 0) " +
        "SELECT user_id, CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS sum_e4, " +
        "count(*) AS cnt FROM fin GROUP BY user_id ORDER BY user_id"),
      "incrementally-maintained materialized aggregate: change-feed deltas with update preimages, exact integer measures"),

    "store_restore" -> DeclaredQuery(
      // The accident-undo verb (Delta RESTORE role): after a botched
      // upsert AND an over-broad delete, one O(manifest) commit makes an
      // earlier version's file list the live view again — nothing copied,
      // nothing rewritten, the bad versions still auditable asOf until
      // vacuum. The oracle is simply the original base: a correct restore
      // is indistinguishable from never having made the mistakes.
      (s, d) => {
        val dir = sinkDir("restore", d)
        val base = Tables.events(s, d)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
            col("value"), lit(1L).as("version"))
        TsStore.write(base, dir, tsCol = "ts", uidCols = Seq("event_type"))
        val v1 = graft.sources.StoreLog.ensure(dir).version
        val botched = Tables.events(s, d)
          .filter(col("event_type") === "purchase" && col("event_id") % 3 === 0)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
            (col("value") + 999999.0).as("value"), lit(2L).as("version"))
        TsStore.upsert(s, dir, botched, keyCols = Seq("event_id"),
          versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))
        TsStore.delete(s, dir, col("event_type") === "click",
          tsCol = "ts", uidCols = Seq("event_type"))
        TsStore.restore(s, dir, v1)
        TsStore.load(s, dir)
          .select(col("event_id"), col("user_id"), col("value"), col("version"))
          .orderBy(col("event_id"))
      },
      Some("SELECT event_id, user_id, value, CAST(1 AS BIGINT) AS version " +
        "FROM events ORDER BY event_id"),
      "restore to an earlier version as one O(manifest) commit; botched versions stay auditable asOf until vacuum"),

    "store_sql_changes" -> DeclaredQuery(
      // SQL face of the change feed: the same lifecycle as store_changes
      // (base write, upsert with updates + inserts, keyed delete) but the
      // CDC read is issued as warehouse SQL through the
      // graft_store_changes table-valued function — the Delta
      // `table_changes()` role. Same manifest-diff plan underneath (only
      // the window's added/replaced files are read), same oracle.
      (s, d) => {
        val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
        val base = Tables.events(s, d)
          .select(cols.map(col) :+ lit(1L).as("version"): _*)
        val dir = sinkDir("sqlchanges", d)
        TsStore.write(base, dir, tsCol = "ts", uidCols = Seq("event_type"))
        val delta = Tables.events(s, d)
          .filter(col("event_type") === "purchase" && col("event_id") % 10 === 0)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
            (col("value") + 1000.0).as("value"), lit(2L).as("version"))
          .unionByName(Tables.events(s, d)
            .filter(col("event_type") === "purchase" && col("event_id") % 97 === 0)
            .select((col("event_id") + 10000000L).as("event_id"), col("ts"),
              col("user_id"), col("event_type"), col("value"), lit(2L).as("version")))
        val v2 = TsStore.upsert(s, dir, delta, keyCols = Seq("event_id"),
          versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))
        val v3 = TsStore.delete(s, dir,
          col("event_type") === "click" && col("event_id") % 7 === 0,
          tsCol = "ts", uidCols = Seq("event_type"))
        s.sql(s"SELECT event_id, ts, user_id, event_type, value, version, change_type " +
          s"FROM graft_store_changes('$dir', ${v2 - 1}, $v3, 'event_id', 'version') " +
          "ORDER BY event_id, change_type")
      },
      Some("WITH upd AS (SELECT event_id, ts, user_id, event_type, value + 1000.0 AS value, " +
        "CAST(2 AS BIGINT) AS version, 'update' AS change_type FROM events " +
        "WHERE event_type = 'purchase' AND event_id % 10 = 0), " +
        "ins AS (SELECT event_id + 10000000 AS event_id, ts, user_id, event_type, value, " +
        "CAST(2 AS BIGINT) AS version, 'insert' AS change_type FROM events " +
        "WHERE event_type = 'purchase' AND event_id % 97 = 0), " +
        "del AS (SELECT event_id, ts, user_id, event_type, value, " +
        "CAST(1 AS BIGINT) AS version, 'delete' AS change_type FROM events " +
        "WHERE event_type = 'click' AND event_id % 7 = 0) " +
        "SELECT * FROM (SELECT * FROM upd UNION ALL SELECT * FROM ins " +
        "UNION ALL SELECT * FROM del) ORDER BY event_id, change_type"),
      "SQL face of CDC: the graft_store_changes TVF (the table_changes() role) over the same lifecycle as store_changes"),

    "store_null_audit" -> DeclaredQuery(
      // The data-quality audit scan: "find the rows violating a
      // NOT NULL expectation" over a stored corpus. The manifest now
      // records per-column NULL COUNTS next to the min/max bounds, so
      // `IS NULL` pruning skips every file recorded null-free before a
      // footer is opened (FileStatsSpec pins the skip; at 100 TB the
      // audit costs the dirty files, not the store). Here the planted
      // nulls cross partitions (every 11th event), so the result is the
      // full violating set.
      (s, d) => {
        val dir = sinkDir("nullaudit", d)
        val base = Tables.events(s, d)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
            when(col("event_id") % 11 === 0, lit(null).cast("double"))
              .otherwise(col("value")).as("v_q"))
        TsStore.write(base, dir, tsCol = "ts", uidCols = Seq("event_type"))
        graft.sources.StoreLog.ensure(dir)
        val pred = col("v_q").isNull
        TsStore.load(s, dir).filter(pred)
          .select(col("event_id"), col("user_id"), col("event_type"))
          .orderBy(col("event_id"))
      },
      Some("SELECT event_id, user_id, event_type FROM events " +
        "WHERE event_id % 11 = 0 ORDER BY event_id"),
      "NOT NULL violation audit over the store: manifest null counts prune clean files before any footer opens"),

    "store_fast_count" -> DeclaredQuery(
      // count(*) answered from the MANIFEST alone (the Delta numRecords
      // role): every stat-carrying file records its row count at commit
      // time, so the store's cardinality — per version — is a driver-side
      // sum with zero file IO and zero Spark jobs. The lifecycle makes
      // it earn the claim: after an upsert AND a keyed delete, the
      // manifest count at EACH version must equal the oracle's
      // arithmetic. countAt returns None (→ loud failure here, never a
      // guess) if any live file lacks stats.
      (s, d) => {
        import s.implicits._
        val dir = sinkDir("fastcount", d)
        val base = Tables.events(s, d)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
            col("value"), lit(1L).as("version"))
        TsStore.write(base, dir, tsCol = "ts", uidCols = Seq("event_type"))
        val v1 = graft.sources.StoreLog.ensure(dir).version
        val delta = Tables.events(s, d)
          .filter(col("event_type") === "purchase" && col("event_id") % 97 === 0)
          .select((col("event_id") + 10000000L).as("event_id"), col("ts"),
            col("user_id"), col("event_type"), col("value"), lit(2L).as("version"))
        val v2 = TsStore.upsert(s, dir, delta, keyCols = Seq("event_id"),
          versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))
        val v3 = TsStore.delete(s, dir,
          col("event_type") === "click" && col("event_id") % 7 === 0,
          tsCol = "ts", uidCols = Seq("event_type"))
        def cnt(v: Long): Long = TsStore.countAt(dir, asOf = Some(v))
          .getOrElse(sys.error(s"manifest count unavailable at v$v"))
        Seq(("v_base", cnt(v1)), ("v_upsert", cnt(v2)), ("v_delete", cnt(v3)))
          .toDF("step", "cnt").orderBy(col("step"))
      },
      Some("WITH b AS (SELECT count(*) AS n FROM events), " +
        "i AS (SELECT count(*) AS n FROM events " +
        "WHERE event_type = 'purchase' AND event_id % 97 = 0), " +
        "x AS (SELECT count(*) AS n FROM events " +
        "WHERE event_type = 'click' AND event_id % 7 = 0) " +
        "SELECT 'v_base' AS step, b.n AS cnt FROM b " +
        "UNION ALL SELECT 'v_upsert', b.n + i.n FROM b, i " +
        "UNION ALL SELECT 'v_delete', b.n + i.n - x.n FROM b, i, x " +
        "ORDER BY step"),
      "count(*) per store version from the manifest's recorded row counts — zero IO, zero jobs"),

    "store_catalog_fast" -> DeclaredQuery(
      // The series catalog (corintick list_uids — uid, row count, time
      // extent) answered from the MANIFEST alone: per partition value,
      // summed recorded row counts and the hull of the recorded ts
      // bounds. catalog_list computes the same catalog by SCANNING; this
      // is the zero-IO twin a 100 TB store actually serves lookups from,
      // and the same oracle gates both. catalogAt returns None (→ loud
      // failure, never a guess) if any live file lacks stats.
      (s, d) => {
        val dir = sinkDir("fastcat", d)
        TsStore.write(Tables.events(s, d), dir, tsCol = "ts",
          uidCols = Seq("event_type"))
        graft.sources.StoreLog.ensure(dir)
        TsStore.catalogAt(s, dir, uidCol = "event_type")
          .getOrElse(sys.error("manifest catalog unavailable"))
          .orderBy(col("event_type"))
      },
      Some("SELECT event_type, count(*) AS n_rows, min(ts) AS ts_min, " +
        "max(ts) AS ts_max FROM events GROUP BY event_type ORDER BY event_type"),
      "series catalog (uid, rows, time extent) from the manifest's recorded bounds — zero IO"),

    "store_dsv2_read" -> DeclaredQuery(
      // The store as a first-class DSv2 source: `spark.read
      // .format("graft")` plans the LIVE manifest view through
      // GraftTableProvider — dead pre-upsert chunks invisible, pushed
      // filters pruning files via partition values + manifest stats
      // before the vectorized parquet reader opens anything
      // (GraftTableSpec pins the plannedFiles subset). The oracle gates
      // the merged content: purchase keys divisible by 5 carry the
      // delta's tripled value at version 2, everything else the base.
      (s, d) => {
        val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
        val base = Tables.events(s, d)
          .select(cols.map(col) :+ lit(1L).as("version"): _*)
        val dir = sinkDir("dsv2_read", d)
        TsStore.write(base, dir, tsCol = "ts", uidCols = Seq("event_type"))
        val delta = Tables.events(s, d)
          .filter(col("event_type") === "purchase" && col("event_id") % 5 === 0)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
            (col("value") * 3.0).as("value"), lit(2L).as("version"))
        TsStore.upsert(s, dir, delta, keyCols = Seq("event_id"),
          versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))
        s.read.format("graft").load(dir)
          .select((cols :+ "version").map(col): _*)
          .orderBy(col("event_id"))
      },
      Some("SELECT event_id, ts, user_id, event_type, " +
        "CASE WHEN event_type = 'purchase' AND event_id % 5 = 0 " +
        "THEN value * 3.0 ELSE value END AS value, " +
        "CAST(CASE WHEN event_type = 'purchase' AND event_id % 5 = 0 " +
        "THEN 2 ELSE 1 END AS BIGINT) AS version " +
        "FROM events ORDER BY event_id"),
      "DSv2 read of the live manifest view via spark.read.format(graft)"),

    "store_dsv2_timetravel" -> DeclaredQuery(
      // Time travel through the DSv2 option face: .option("asOf", v)
      // resolves the named manifest version at plan time — the same id
      // space as the Scala asOf and the graft_store TVF, now reachable
      // from the standard reader API. Oracle = the unmerged base.
      (s, d) => {
        val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
        val base = Tables.events(s, d)
          .select(cols.map(col) :+ lit(1L).as("version"): _*)
        val dir = sinkDir("dsv2_tt", d)
        TsStore.write(base, dir, tsCol = "ts", uidCols = Seq("event_type"))
        val delta = Tables.events(s, d)
          .filter(col("event_type") === "purchase" && col("event_id") % 5 === 0)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
            (col("value") * 3.0).as("value"), lit(2L).as("version"))
        val v = TsStore.upsert(s, dir, delta, keyCols = Seq("event_id"),
          versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))
        s.read.format("graft").option("asOf", v - 1).load(dir)
          .select((cols :+ "version").map(col): _*)
          .orderBy(col("event_id"))
      },
      Some("SELECT event_id, ts, user_id, event_type, value, CAST(1 AS BIGINT) AS version " +
        "FROM events ORDER BY event_id"),
      "DSv2 time travel via spark.read.format(graft).option(asOf, v)"),

    "store_sql_fast_agg" -> DeclaredQuery(
      // Aggregate PUSHDOWN through the DSv2 scan: unfiltered COUNT /
      // COUNT(col) / MIN / MAX over a graft table answer from the
      // MANIFEST alone (GraftScanBuilder.pushAggregation — recorded
      // per-file row counts, null counts and column bounds; zero file
      // IO, a one-row scan). The store has lived through an upsert, so
      // the stats answering here are the ones every rewrite path
      // re-recorded — and the oracle computes the same aggregates from
      // the raw table. GraftTableSpec pins the plan (GraftAggScan, no
      // parquet partitions) and the refusal paths (filters, float
      // min/max, missing stats).
      (s, d) => {
        val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
        val base = Tables.events(s, d)
          .select(cols.map(col) :+ lit(1L).as("version"): _*)
        val dir = sinkDir("dsv2_agg", d)
        TsStore.write(base, dir, tsCol = "ts", uidCols = Seq("event_type"))
        val delta = Tables.events(s, d)
          .filter(col("event_type") === "purchase" && col("event_id") % 5 === 0)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
            (col("value") * 3.0).as("value"), lit(2L).as("version"))
        TsStore.upsert(s, dir, delta, keyCols = Seq("event_id"),
          versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))
        s.read.format("graft").load(dir).createOrReplaceTempView("graft_agg_v")
        s.sql("SELECT count(*) AS n, count(user_id) AS n_users, " +
          "min(event_id) AS id_lo, max(event_id) AS id_hi, " +
          "min(event_type) AS t_first, max(ts) AS ts_max FROM graft_agg_v")
      },
      Some("SELECT count(*) AS n, count(user_id) AS n_users, " +
        "min(event_id) AS id_lo, max(event_id) AS id_hi, " +
        "min(event_type) AS t_first, max(ts) AS ts_max FROM events"),
      "DSv2 aggregate pushdown: COUNT/MIN/MAX from the manifest's recorded stats, zero file IO"),

    "store_sql_maintenance" -> DeclaredQuery(
      // The CALL face: catalog stored procedures run the store's
      // maintenance verbs from pure SQL (the Iceberg system.* role).
      // Two INSERTs fragment the partitions; CALL system.compact
      // collapses each to one chunk as a CAS-committed maintenance txn
      // (layout from the table's own manifest props — no layout args to
      // get wrong); the ordered read-back gates content preservation
      // against the doubled-events oracle. GraftTableSpec pins the
      // file-count collapse, zorder and vacuum's reclaim count.
      (s, d) => {
        val root = sinkDir("proc_root", d)
        val cat = s"graftproc_${new java.io.File(d).getName.replace('.', '_')}"
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.main")
        s.sql(s"DROP TABLE IF EXISTS $cat.main.events")
        s.sql(s"CREATE TABLE $cat.main.events (" +
          "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
          "event_type STRING, value DOUBLE) " +
          "USING graft PARTITIONED BY (event_type)")
        Tables.events(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value")
          .createOrReplaceTempView("graft_proc_src")
        s.sql(s"INSERT INTO $cat.main.events " +
          "SELECT event_id, ts, user_id, event_type, value FROM graft_proc_src")
        s.sql(s"INSERT INTO $cat.main.events " +
          "SELECT event_id + 10000000, ts, user_id, event_type, value FROM graft_proc_src")
        s.sql(s"CALL $cat.system.compact(table => 'main.events', max_files => 1)")
        s.sql(s"SELECT event_id, ts, user_id, event_type, value " +
          s"FROM $cat.main.events ORDER BY event_id")
      },
      Some("WITH u AS (SELECT event_id, ts, user_id, event_type, value FROM events " +
        "UNION ALL SELECT event_id + 10000000, ts, user_id, event_type, value FROM events) " +
        "SELECT event_id, ts, user_id, event_type, value FROM u ORDER BY event_id"),
      "catalog stored procedures: CALL system.compact collapses fragmented partitions, content gated"),

    "store_sql_catalog" -> DeclaredQuery(
      // The NAMED-TABLE face: a GraftCatalog registered under
      // spark.sql.catalog.<name> maps identifiers onto store
      // directories, so the full DDL/DML lifecycle — CREATE TABLE ...
      // USING graft PARTITIONED BY, INSERT INTO, SELECT — runs from
      // pure SQL with no path in sight (the door every BI/SQL user
      // walks through; VERSION AS OF is pinned in GraftTableSpec). The
      // catalog name carries the scale-factor suffix because Spark
      // caches catalog instances per name and each sf needs its own
      // root.
      (s, d) => {
        val root = sinkDir("cat_root", d)
        val cat = s"graftcat_${new java.io.File(d).getName.replace('.', '_')}"
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.main")
        s.sql(s"DROP TABLE IF EXISTS $cat.main.events")
        s.sql(s"CREATE TABLE $cat.main.events (" +
          "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
          "event_type STRING, value DOUBLE) " +
          "USING graft PARTITIONED BY (event_type)")
        Tables.events(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value")
          .createOrReplaceTempView("graft_cat_src")
        s.sql(s"INSERT INTO $cat.main.events " +
          "SELECT event_id, ts, user_id, event_type, value FROM graft_cat_src")
        s.sql(s"SELECT event_id, ts, user_id, event_type, value " +
          s"FROM $cat.main.events ORDER BY event_id")
      },
      Some("SELECT event_id, ts, user_id, event_type, value " +
        "FROM events ORDER BY event_id"),
      "named-table catalog: CREATE TABLE USING graft + INSERT INTO + SELECT, pure SQL"),

    "store_sql_update" -> DeclaredQuery(
      // SQL UPDATE via group-based COPY-ON-WRITE (SupportsRowLevelOps):
      // Spark rewrites to a replace-data plan over the operation's
      // file-prune-only scan; runtime group filtering narrows the read
      // to files actually holding matches; the commit swaps exactly
      // those files for their rewritten replacements — one atomic
      // version, pre-update state time-travelable (GraftTableSpec pins
      // file granularity, untouched-sibling survival, time travel).
      (s, d) => {
        val root = sinkDir("upd_root", d)
        val cat = s"graftupd_${new java.io.File(d).getName.replace('.', '_')}"
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.main")
        s.sql(s"DROP TABLE IF EXISTS $cat.main.events")
        s.sql(s"CREATE TABLE $cat.main.events (" +
          "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
          "event_type STRING, value DOUBLE) " +
          "USING graft PARTITIONED BY (event_type)")
        Tables.events(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value")
          .createOrReplaceTempView("graft_upd_src")
        s.sql(s"INSERT INTO $cat.main.events " +
          "SELECT event_id, ts, user_id, event_type, value FROM graft_upd_src")
        s.sql(s"UPDATE $cat.main.events SET value = value * 2.0 " +
          "WHERE event_type = 'click' AND event_id % 7 = 0")
        s.sql(s"SELECT event_id, ts, user_id, event_type, value " +
          s"FROM $cat.main.events ORDER BY event_id")
      },
      Some("SELECT event_id, ts, user_id, event_type, " +
        "CASE WHEN event_type = 'click' AND event_id % 7 = 0 " +
        "THEN value * 2.0 ELSE value END AS value " +
        "FROM events ORDER BY event_id"),
      "SQL UPDATE on a catalog table: copy-on-write replace of only the matching files"),

    "store_sql_merge" -> DeclaredQuery(
      // SQL MERGE INTO — the full upsert verb from pure SQL (matched
      // UPDATE + not-matched INSERT in ONE atomic manifest commit),
      // through the same copy-on-write row-level machinery as UPDATE:
      // matched groups rewrite their files, inserted rows land as new
      // files, runtime group filtering keeps untouched files untouched.
      (s, d) => {
        val root = sinkDir("mrg_root", d)
        val cat = s"graftmrg_${new java.io.File(d).getName.replace('.', '_')}"
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.main")
        s.sql(s"DROP TABLE IF EXISTS $cat.main.events")
        s.sql(s"CREATE TABLE $cat.main.events (" +
          "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
          "event_type STRING, value DOUBLE) " +
          "USING graft PARTITIONED BY (event_type)")
        Tables.events(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value")
          .createOrReplaceTempView("graft_mrg_src")
        s.sql(s"INSERT INTO $cat.main.events " +
          "SELECT event_id, ts, user_id, event_type, value FROM graft_mrg_src")
        s.sql(s"MERGE INTO $cat.main.events AS tg USING (" +
          "SELECT event_id, ts, user_id, event_type, value * 3.0 AS value " +
          "FROM graft_mrg_src WHERE event_type = 'purchase' AND event_id % 5 = 0 " +
          "UNION ALL " +
          "SELECT event_id + 10000000, ts, user_id, event_type, value " +
          "FROM graft_mrg_src WHERE event_type = 'signup') AS s " +
          "ON tg.event_id = s.event_id " +
          "WHEN MATCHED THEN UPDATE SET value = s.value " +
          "WHEN NOT MATCHED THEN INSERT *")
        s.sql(s"SELECT event_id, ts, user_id, event_type, value " +
          s"FROM $cat.main.events ORDER BY event_id")
      },
      Some("WITH u AS (SELECT event_id, ts, user_id, event_type, " +
        "CASE WHEN event_type = 'purchase' AND event_id % 5 = 0 " +
        "THEN value * 3.0 ELSE value END AS value FROM events " +
        "UNION ALL SELECT event_id + 10000000, ts, user_id, event_type, value " +
        "FROM events WHERE event_type = 'signup') " +
        "SELECT event_id, ts, user_id, event_type, value FROM u ORDER BY event_id"),
      "SQL MERGE INTO: matched update + not-matched insert, one atomic copy-on-write commit"),

    "store_sql_alter" -> DeclaredQuery(
      // ALTER TABLE ADD COLUMN as a metadata-only manifest commit: the
      // declared-schema property updates, no data file is touched, and
      // rows written BEFORE the ALTER surface NULL for the new column
      // (parquet null-fills absent fields) while a post-ALTER INSERT
      // carries real values — the catalog-DDL face of the write-side
      // schema-union evolution already pinned in TsStoreSpec.
      (s, d) => {
        val root = sinkDir("alter_root", d)
        val cat = s"graftalt_${new java.io.File(d).getName.replace('.', '_')}"
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.main")
        s.sql(s"DROP TABLE IF EXISTS $cat.main.events")
        s.sql(s"CREATE TABLE $cat.main.events (" +
          "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
          "event_type STRING, value DOUBLE) " +
          "USING graft PARTITIONED BY (event_type)")
        Tables.events(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value")
          .createOrReplaceTempView("graft_alt_src")
        s.sql(s"INSERT INTO $cat.main.events " +
          "SELECT event_id, ts, user_id, event_type, value FROM graft_alt_src")
        s.sql(s"ALTER TABLE $cat.main.events ADD COLUMN score DOUBLE")
        s.sql(s"INSERT INTO $cat.main.events " +
          "SELECT event_id + 10000000, ts, user_id, event_type, value, " +
          "value * 2.0 FROM graft_alt_src")
        s.sql(s"SELECT event_id, ts, user_id, event_type, value, score " +
          s"FROM $cat.main.events ORDER BY event_id")
      },
      Some("WITH u AS (SELECT event_id, ts, user_id, event_type, value, " +
        "CAST(NULL AS DOUBLE) AS score FROM events " +
        "UNION ALL SELECT event_id + 10000000, ts, user_id, event_type, value, " +
        "value * 2.0 AS score FROM events) " +
        "SELECT event_id, ts, user_id, event_type, value, score FROM u ORDER BY event_id"),
      "ALTER TABLE ADD COLUMN: metadata-only schema evolution, old rows read back NULL"),

    "store_sql_group_fast" -> DeclaredQuery(
      // GROUPED aggregate pushdown: GROUP BY a partition column with
      // COUNT/MIN/MAX answers from the MANIFEST alone — the group key is
      // the directory value, the aggregates come from recorded per-file
      // stats, zero file IO (store_catalog_fast's catalogAt role on the
      // STANDARD scan interface, reachable from any SQL client).
      // GraftTableSpec pins the plan (GraftAggScan) and the refusal for
      // data-column grouping. The store lives through an upsert first so
      // the stats answering are post-rewrite.
      (s, d) => {
        val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
        val base = Tables.events(s, d)
          .select(cols.map(col) :+ lit(1L).as("version"): _*)
        val dir = sinkDir("dsv2_gagg", d)
        TsStore.write(base, dir, tsCol = "ts", uidCols = Seq("event_type"))
        val delta = Tables.events(s, d)
          .filter(col("event_type") === "purchase" && col("event_id") % 5 === 0)
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
            (col("value") * 3.0).as("value"), lit(2L).as("version"))
        TsStore.upsert(s, dir, delta, keyCols = Seq("event_id"),
          versionCol = "version", tsCol = "ts", uidCols = Seq("event_type"))
        s.read.format("graft").load(dir).createOrReplaceTempView("graft_gagg_v")
        s.sql("SELECT event_type, count(*) AS n_rows, " +
          "min(event_id) AS id_lo, max(event_id) AS id_hi, max(ts) AS ts_max " +
          "FROM graft_gagg_v GROUP BY event_type ORDER BY event_type")
      },
      Some("SELECT event_type, count(*) AS n_rows, min(event_id) AS id_lo, " +
        "max(event_id) AS id_hi, max(ts) AS ts_max " +
        "FROM events GROUP BY event_type ORDER BY event_type"),
      "grouped aggregate pushdown: GROUP BY partition column answered from the manifest, zero file IO"),

    "store_sql_delete" -> DeclaredQuery(
      // SQL row-level DML: DELETE FROM a graft catalog table
      // (SupportsDelete → TsStore.delete's file-granular copy-on-write).
      // The takedown verb through the door BI/SQL users walk through —
      // only files holding matches are rewritten (GraftTableSpec pins
      // the file granularity and that the pre-delete version stays
      // readable VERSION AS OF), one atomic manifest commit, and the
      // ordered read-back gates the exact SQL DELETE semantics against
      // the oracle's NOT(pred) filter.
      (s, d) => {
        val root = sinkDir("del_root", d)
        val cat = s"graftdel_${new java.io.File(d).getName.replace('.', '_')}"
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.main")
        s.sql(s"DROP TABLE IF EXISTS $cat.main.events")
        s.sql(s"CREATE TABLE $cat.main.events (" +
          "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
          "event_type STRING, value DOUBLE) " +
          "USING graft PARTITIONED BY (event_type)")
        Tables.events(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value")
          .createOrReplaceTempView("graft_del_src")
        s.sql(s"INSERT INTO $cat.main.events " +
          "SELECT event_id, ts, user_id, event_type, value FROM graft_del_src")
        s.sql(s"DELETE FROM $cat.main.events " +
          "WHERE event_type = 'click' AND event_id % 7 = 0")
        s.sql(s"SELECT event_id, ts, user_id, event_type, value " +
          s"FROM $cat.main.events ORDER BY event_id")
      },
      Some("SELECT event_id, ts, user_id, event_type, value FROM events " +
        "WHERE NOT (event_type = 'click' AND event_id % 7 = 0) " +
        "ORDER BY event_id"),
      "SQL DELETE FROM on a catalog table: file-granular copy-on-write, pre-delete versions time-travelable"),

    "store_sql_drop_col" -> DeclaredQuery(
      // ALTER TABLE DROP COLUMN as a metadata-only manifest commit: the
      // column leaves the declared schema (readers stop requesting it —
      // the parquet data becomes dead weight until the next rewrite),
      // pre-drop versions still read it via time travel, and a
      // post-drop INSERT writes the narrowed contract. GraftTableSpec
      // pins the tombstone (re-ADD refuses) and the per-era history.
      (s, d) => {
        val root = sinkDir("dropc_root", d)
        val cat = s"graftdc_${new java.io.File(d).getName.replace('.', '_')}"
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.main")
        s.sql(s"DROP TABLE IF EXISTS $cat.main.events")
        s.sql(s"CREATE TABLE $cat.main.events (" +
          "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
          "event_type STRING, value DOUBLE, score DOUBLE) " +
          "USING graft PARTITIONED BY (event_type)")
        Tables.events(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value")
          .createOrReplaceTempView("graft_dc_src")
        s.sql(s"INSERT INTO $cat.main.events " +
          "SELECT event_id, ts, user_id, event_type, value, value * 2.0 " +
          "FROM graft_dc_src")
        s.sql(s"ALTER TABLE $cat.main.events DROP COLUMN score")
        s.sql(s"INSERT INTO $cat.main.events " +
          "SELECT event_id + 10000000, ts, user_id, event_type, value " +
          "FROM graft_dc_src")
        s.sql(s"SELECT event_id, ts, user_id, event_type, value " +
          s"FROM $cat.main.events ORDER BY event_id")
      },
      Some("WITH u AS (SELECT event_id, ts, user_id, event_type, value FROM events " +
        "UNION ALL SELECT event_id + 10000000, ts, user_id, event_type, value " +
        "FROM events) " +
        "SELECT event_id, ts, user_id, event_type, value FROM u ORDER BY event_id"),
      "ALTER TABLE DROP COLUMN: metadata-only narrowing, pre-drop eras stay time-travelable"),

    "store_sql_rename_col" -> DeclaredQuery(
      // ALTER TABLE RENAME COLUMN as a METADATA-ONLY commit (column
      // mapping, GraftTable.PhysicalKey): the renamed column keeps its
      // original parquet name in every file ever written — old files
      // never move, a post-rename INSERT writes the same physical
      // schema, filters and aggregate pushdowns translate, and the
      // pre-rename era still time-travels under its own name
      // (RenameColSpec pins all of it). At 100 TB this is the
      // difference between a metadata commit and a full-store rewrite
      // for the most routine of schema edits.
      (s, d) => {
        val root = sinkDir("renc_root", d)
        val cat = s"graftrc_${new java.io.File(d).getName.replace('.', '_')}"
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.main")
        s.sql(s"DROP TABLE IF EXISTS $cat.main.events")
        s.sql(s"CREATE TABLE $cat.main.events (" +
          "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
          "event_type STRING, value DOUBLE) " +
          "USING graft PARTITIONED BY (event_type)")
        Tables.events(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value")
          .createOrReplaceTempView("graft_rc_src")
        s.sql(s"INSERT INTO $cat.main.events " +
          "SELECT event_id, ts, user_id, event_type, value FROM graft_rc_src")
        s.sql(s"ALTER TABLE $cat.main.events RENAME COLUMN value TO amount")
        s.sql(s"INSERT INTO $cat.main.events " +
          "SELECT event_id + 10000000, ts, user_id, event_type, amount * 2 " +
          "FROM (SELECT event_id, ts, user_id, event_type, value AS amount " +
          "FROM graft_rc_src)")
        // read under the NEW name, filtered on it (translated pushdown),
        // across both eras' files
        s.sql(s"SELECT event_id, ts, user_id, event_type, amount " +
          s"FROM $cat.main.events WHERE amount > 0 ORDER BY event_id")
      },
      Some("WITH u AS (SELECT event_id, ts, user_id, event_type, value AS amount " +
        "FROM events UNION ALL SELECT event_id + 10000000, ts, user_id, " +
        "event_type, value * 2 AS amount FROM events) " +
        "SELECT event_id, ts, user_id, event_type, amount FROM u " +
        "WHERE amount > 0 ORDER BY event_id"),
      "ALTER TABLE RENAME COLUMN: metadata-only column mapping — no file rewrites, translated reads"),

    "store_sql_retype" -> DeclaredQuery(
      // ALTER COLUMN TYPE as a METADATA-ONLY commit (type widening,
      // GraftTable.PhysicalTypeKey): the declared type widens
      // (int→bigint here), old files keep their narrow parquet type
      // and the readers upcast them natively, a post-widen INSERT
      // lands values only the wide type can hold, and both widths read
      // as ONE coherent column (RetypeSpec pins the refusals, the time
      // travel and the internal verbs). At 100 TB this is a manifest
      // commit where a rewrite-based retype would be a full-store job.
      (s, d) => {
        val root = sinkDir("retype_root", d)
        val cat = s"graftrt_${new java.io.File(d).getName.replace('.', '_')}"
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.main")
        s.sql(s"DROP TABLE IF EXISTS $cat.main.events")
        s.sql(s"CREATE TABLE $cat.main.events (" +
          "event_id BIGINT, ts TIMESTAMP, uid_small INT, " +
          "event_type STRING, value DOUBLE) " +
          "USING graft PARTITIONED BY (event_type)")
        Tables.events(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value")
          .createOrReplaceTempView("graft_rt_src")
        s.sql(s"INSERT INTO $cat.main.events " +
          "SELECT event_id, ts, CAST(user_id AS INT), event_type, value " +
          "FROM graft_rt_src")
        val before = graft.sources.StoreLog.latest(s"$root/main/events").get.files
        s.sql(s"ALTER TABLE $cat.main.events ALTER COLUMN uid_small TYPE BIGINT")
        require(graft.sources.StoreLog.latest(s"$root/main/events").get.files == before,
          "the widen must be a metadata-only commit")
        // era 2: values only the WIDE type can hold, same table
        s.sql(s"INSERT INTO $cat.main.events " +
          "SELECT event_id + 10000000, ts, user_id + 5000000000, event_type, value " +
          "FROM graft_rt_src")
        // read across both widths, filtered on the widened column
        s.sql(s"SELECT event_id, ts, uid_small, event_type, value " +
          s"FROM $cat.main.events WHERE uid_small >= 0 ORDER BY event_id")
      },
      Some("WITH u AS (SELECT event_id, ts, CAST(user_id AS BIGINT) AS uid_small, " +
        "event_type, value FROM events " +
        "UNION ALL SELECT event_id + 10000000, ts, user_id + 5000000000, " +
        "event_type, value FROM events) " +
        "SELECT event_id, ts, uid_small, event_type, value FROM u " +
        "WHERE uid_small >= 0 ORDER BY event_id"),
      "ALTER COLUMN TYPE: metadata-only widening — old files upcast, new files land wide"),

    "store_sql_rename" -> DeclaredQuery(
      // ALTER TABLE RENAME TO: one directory move — manifest log, data
      // files, and the whole time-travel history ride along because
      // every recorded path is store-relative. GraftTableSpec pins the
      // lease-guard refusal and the post-rename history read.
      (s, d) => {
        val root = sinkDir("ren_root", d)
        val cat = s"graftren_${new java.io.File(d).getName.replace('.', '_')}"
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.main")
        s.sql(s"DROP TABLE IF EXISTS $cat.main.events")
        s.sql(s"DROP TABLE IF EXISTS $cat.main.events_renamed")
        s.sql(s"CREATE TABLE $cat.main.events (" +
          "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
          "event_type STRING, value DOUBLE) " +
          "USING graft PARTITIONED BY (event_type)")
        Tables.events(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value")
          .createOrReplaceTempView("graft_ren_src")
        s.sql(s"INSERT INTO $cat.main.events " +
          "SELECT event_id, ts, user_id, event_type, value FROM graft_ren_src")
        s.sql(s"ALTER TABLE $cat.main.events RENAME TO main.events_renamed")
        s.sql(s"SELECT event_id, ts, user_id, event_type, value " +
          s"FROM $cat.main.events_renamed ORDER BY event_id")
      },
      Some("SELECT event_id, ts, user_id, event_type, value FROM events " +
        "ORDER BY event_id"),
      "ALTER TABLE RENAME TO: directory move carrying the manifest history, lease-guarded"),

    "store_sql_where_fast" -> DeclaredQuery(
      // FILTERED aggregate pushdown: a WHERE made entirely of
      // partition-column predicates is accepted residual-free (every
      // row of a file shares its partition values, so file-level
      // keep/drop IS the filter), which lets the grouped COUNT/MIN/MAX
      // still answer from the MANIFEST alone — `WHERE uid IN (...)
      // GROUP BY uid` on a million-file store stays zero file IO.
      // GraftTableSpec pins the GraftAggScan plan, the A/B predicate
      // parity, and the null-partition three-valued semantics.
      (s, d) => {
        val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
        val base = Tables.events(s, d)
          .select(cols.map(col) :+ lit(1L).as("version"): _*)
        val dir = sinkDir("dsv2_wfast", d)
        TsStore.write(base, dir, tsCol = "ts", uidCols = Seq("event_type"))
        s.read.format("graft").load(dir).createOrReplaceTempView("graft_wfast_v")
        s.sql("SELECT event_type, count(*) AS n_rows, " +
          "min(event_id) AS id_lo, max(event_id) AS id_hi " +
          "FROM graft_wfast_v " +
          "WHERE event_type IN ('purchase', 'view') OR event_type > 'signup' " +
          "GROUP BY event_type ORDER BY event_type")
      },
      Some("SELECT event_type, count(*) AS n_rows, min(event_id) AS id_lo, " +
        "max(event_id) AS id_hi FROM events " +
        "WHERE event_type IN ('purchase', 'view') OR event_type > 'signup' " +
        "GROUP BY event_type ORDER BY event_type"),
      "filtered aggregate pushdown: partition-exact WHERE accepted residual-free, grouped agg stays manifest-only"),

    "store_sql_history" -> DeclaredQuery(
      // `CALL <cat>.system.history('ns.t')`: the commit audit from pure
      // SQL — one row per retained manifest version (committed_at,
      // n_files, replaced partitions, live bytes, tag). The declared
      // read projects the DETERMINISTIC columns: the version sequence
      // (CREATE=1, INSERT=2, DELETE=3) and each commit's
      // replaced-partition count (the DELETE's copy-on-write touches
      // exactly the one matching partition).
      (s, d) => {
        val root = sinkDir("hist_root", d)
        val cat = s"grafthist_${new java.io.File(d).getName.replace('.', '_')}"
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.main")
        s.sql(s"DROP TABLE IF EXISTS $cat.main.events")
        s.sql(s"CREATE TABLE $cat.main.events (" +
          "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
          "event_type STRING, value DOUBLE) " +
          "USING graft PARTITIONED BY (event_type)")
        Tables.events(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value")
          .createOrReplaceTempView("graft_hist_src")
        s.sql(s"INSERT INTO $cat.main.events " +
          "SELECT event_id, ts, user_id, event_type, value FROM graft_hist_src")
        s.sql(s"DELETE FROM $cat.main.events " +
          "WHERE event_type = 'click' AND event_id % 7 = 0")
        s.sql(s"CALL $cat.system.history('main.events')")
          .select(col("version"), col("n_replaced"))
          .orderBy("version")
      },
      Some("SELECT CAST(v AS BIGINT) AS version, CAST(r AS INTEGER) AS n_replaced " +
        "FROM (VALUES (1, 0), (2, 0), (3, 1)) AS t(v, r) ORDER BY version"),
      "CALL system.history: the commit audit (versions, replaced partitions) from pure SQL"),

    "store_sql_partitions" -> DeclaredQuery(
      // SHOW PARTITIONS + ALTER TABLE DROP PARTITION on the manifest's
      // own metadata (SupportsPartitionManagement): listing is a
      // driver-side walk over the live files' directory values, DROP
      // PARTITION routes through the same versioned copy-on-write as
      // SQL DELETE (pre-drop versions stay time-travelable —
      // GraftTableSpec pins that, plus TRUNCATE TABLE as a versioned
      // empty). The declared read is the partition listing AFTER the
      // drop — the partition-management surface itself under the hash
      // gate.
      (s, d) => {
        val root = sinkDir("pm_root", d)
        val cat = s"graftpm_${new java.io.File(d).getName.replace('.', '_')}"
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.main")
        s.sql(s"DROP TABLE IF EXISTS $cat.main.events")
        s.sql(s"CREATE TABLE $cat.main.events (" +
          "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
          "event_type STRING, value DOUBLE) " +
          "USING graft PARTITIONED BY (event_type)")
        Tables.events(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value")
          .createOrReplaceTempView("graft_pm_src")
        s.sql(s"INSERT INTO $cat.main.events " +
          "SELECT event_id, ts, user_id, event_type, value FROM graft_pm_src")
        s.sql(s"ALTER TABLE $cat.main.events DROP PARTITION (event_type = 'click')")
        s.sql(s"SHOW PARTITIONS $cat.main.events")
          .select(col("partition"))
          .orderBy("partition")
      },
      Some("SELECT 'event_type=' || event_type AS partition FROM events " +
        "WHERE event_type <> 'click' GROUP BY event_type ORDER BY partition"),
      "SHOW PARTITIONS from the manifest; DROP PARTITION as versioned copy-on-write"),

    "store_spj_join" -> DeclaredQuery(
      // STORAGE-PARTITIONED JOIN (SupportsReportPartitioning +
      // HasPartitionKey): two stores partitioned on the same key
      // aggregate and join with ZERO exchanges — the scans report their
      // directory partitioning as a KeyGroupedPartitioning, the
      // group-bys ride the scan clustering, and the join co-locates.
      // At 100 TB this is the difference between shuffling both fact
      // tables and shuffling nothing. The body executes under graft's
      // opt-in (spark.graft.scan.preserveDataGrouping — default off so
      // low-cardinality partitioning never caps ordinary scans'
      // parallelism at the key count), REQUIRES the executed plan to be
      // exchange-free, then restores the session confs; the oracle
      // gates the joined aggregates. SpjSpec pins the layout, pruning
      // interplay, and the off-by-default contract.
      (s, d) => {
        val base = Tables.events(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value")
        val dirL = sinkDir("spj_l", d); val dirR = sinkDir("spj_r", d)
        TsStore.write(base, dirL, tsCol = "ts", uidCols = Seq("event_type"))
        TsStore.write(base.filter(col("event_id") % 3 === 0), dirR,
          tsCol = "ts", uidCols = Seq("event_type"))
        val confs = Seq(
          graft.sources.GraftScan.PreserveGroupingKey -> "true",
          "spark.sql.sources.v2.bucketing.enabled" -> "true",
          "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1")
        val olds = confs.map { case (k, _) => k -> s.conf.getOption(k) }
        confs.foreach { case (k, v) => s.conf.set(k, v) }
        try {
          val l = s.read.format("graft").load(dirL).groupBy("event_type")
            .agg(count(lit(1)).as("n_l"), sum(floor(col("value"))).as("v_l"))
          val r = s.read.format("graft").load(dirR).groupBy("event_type")
            .agg(count(lit(1)).as("n_r"), sum(floor(col("value"))).as("v_r"))
          val j = l.join(r, "event_type")
          require(!planBreaks(j.queryExecution.executedPlan, orSort = false),
            "storage-partitioned join must plan zero exchanges")
          // execute WHILE the opt-in holds — distributed, to a sink
          sinkAndReload(s, j, sinkDir("spj_out", d)).orderBy("event_type")
        } finally olds.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None) => s.conf.unset(k)
        }
      },
      Some("SELECT l.event_type, l.n_l, l.v_l, r.n_r, r.v_r FROM " +
        "(SELECT event_type, count(*) AS n_l, " +
        "CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS v_l " +
        "FROM events GROUP BY event_type) l JOIN " +
        "(SELECT event_type, count(*) AS n_r, " +
        "CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS v_r " +
        "FROM events WHERE event_id % 3 = 0 GROUP BY event_type) r " +
        "ON l.event_type = r.event_type ORDER BY l.event_type"),
      "storage-partitioned join: co-located stores aggregate + join with zero exchanges"),

    "store_sql_ctas" -> DeclaredQuery(
      // CREATE TABLE AS SELECT and REPLACE TABLE AS SELECT through the
      // graft catalog: CTAS derives the table's schema + partitioning
      // from the query and lands the data through the native DSv2
      // batch write (canonical uid/ts layout, stats in the manifest);
      // RTAS then swaps the definition wholesale — the standard
      // "rebuild this derived table" verb. The declared read is the
      // post-REPLACE content (purchases only); the pre-replace era is
      // a separate store generation by design (REPLACE TABLE is a
      // definition swap, not a data version).
      (s, d) => {
        val root = sinkDir("ctas_root", d)
        val cat = s"graftctas_${new java.io.File(d).getName.replace('.', '_')}"
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.main")
        s.sql(s"DROP TABLE IF EXISTS $cat.main.evsel")
        Tables.events(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value")
          .createOrReplaceTempView("graft_ctas_src")
        s.sql(s"CREATE TABLE $cat.main.evsel USING graft " +
          "PARTITIONED BY (event_type) AS " +
          "SELECT event_id, ts, user_id, event_type, value " +
          "FROM graft_ctas_src WHERE event_type IN ('purchase', 'click')")
        s.sql(s"REPLACE TABLE $cat.main.evsel USING graft " +
          "PARTITIONED BY (event_type) AS " +
          "SELECT event_id, ts, user_id, event_type, value " +
          "FROM graft_ctas_src WHERE event_type = 'purchase'")
        s.sql(s"SELECT event_id, ts, user_id, event_type, value " +
          s"FROM $cat.main.evsel ORDER BY event_id")
      },
      Some("SELECT event_id, ts, user_id, event_type, value FROM events " +
        "WHERE event_type = 'purchase' ORDER BY event_id"),
      "CTAS + RTAS through the graft catalog: schema/partitioning from the query, native write"),

    "store_sorted_window" -> DeclaredQuery(
      // LAYOUT-ORDERED EXECUTION (SupportsReportOrdering + the
      // graft.layout.tsSorted manifest contract): the store's written
      // (uid, ts)-sorted layout is reported to Spark as per-partition
      // ordering, so the per-uid windowed delta below — the shape every
      // time-series feature pipeline is made of — plans with NO
      // exchange and NO sort: scan → window → per-key aggregate,
      // straight through. At 100 TB the sort this elides is a full
      // spill-prone re-sort of every series on every read. The body
      // self-pins the plan shape (requires zero exchanges AND zero
      // sorts) under graft's opt-in, then restores the confs; SpjSpec
      // pins the contract's lifecycle (set by sorted writes, cleared by
      // zorder / streaming append). One row per (uid, ts) so lag() is
      // deterministic on both engines.
      (s, d) => {
        val dedup = Tables.events(s, d)
          .groupBy("event_type", "ts")
          .agg(sum(floor(col("value"))).as("v"))
        val dir = sinkDir("sorted_win", d)
        TsStore.write(dedup, dir, tsCol = "ts", uidCols = Seq("event_type"))
        val confs = Seq(
          graft.sources.GraftScan.PreserveGroupingKey -> "true",
          "spark.sql.sources.v2.bucketing.enabled" -> "true")
        val olds = confs.map { case (k, _) => k -> s.conf.getOption(k) }
        confs.foreach { case (k, v) => s.conf.set(k, v) }
        try {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("event_type").orderBy("ts")
          val df = s.read.format("graft").load(dir)
            .withColumn("delta", col("v") - lag(col("v"), 1).over(w))
            .groupBy("event_type").agg(
              count(lit(1)).as("n"),
              sum(when(col("delta") > 0, col("delta"))).as("gains"),
              sum(when(col("delta") < 0, -col("delta"))).as("losses"))
          require(!planBreaks(df.queryExecution.executedPlan, orSort = true),
            "layout-ordered window must plan zero exchanges and zero sorts")
          // execute WHILE the opt-in holds — distributed, to a sink
          sinkAndReload(s, df, sinkDir("sorted_win_out", d)).orderBy("event_type")
        } finally olds.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None) => s.conf.unset(k)
        }
      },
      Some("WITH d AS (SELECT event_type, ts, " +
        "CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS v " +
        "FROM events GROUP BY event_type, ts), " +
        "w AS (SELECT event_type, " +
        "v - lag(v) OVER (PARTITION BY event_type ORDER BY ts) AS delta FROM d) " +
        "SELECT event_type, count(*) AS n, " +
        "CAST(sum(CASE WHEN delta > 0 THEN delta END) AS BIGINT) AS gains, " +
        "CAST(sum(CASE WHEN delta < 0 THEN -delta END) AS BIGINT) AS losses " +
        "FROM w GROUP BY event_type ORDER BY event_type"),
      "layout-ordered per-uid window: the stored sort IS the execution sort — zero exchange, zero sort"),

    "store_sorted_asof" -> DeclaredQuery(
      // CO-LOCATED AS-OF JOIN: the reference's flagship verb (align two
      // tick series in time) over two ordered, co-partitioned stores —
      // AsofJoinStrategy PROVES both sides are ordered graft scans with
      // identical live key sets (Spark's own SPJ machinery is
      // instanceof-gated to SMJ/SHJ, so the custom exec carries its own
      // proof) and the merge pass zips the stores' partitions directly:
      // ZERO exchanges, ZERO sorts, O(1) state per key. At 100 TB
      // neither tick store moves — the layout they were written in is
      // the layout they join in. Self-pins the plan; oracle = the
      // correlated-subquery as-of over the same deduped series.
      (s, d) => {
        // pinned: the aggregate feeds TWO independent store writes (each
        // paying a range-sample pass + a write pass) — four evaluations
        // without the pin. Failure-mode choice (r20): a RECOMPUTABLE
        // persist, not a localCheckpoint — the aggregate lineage is
        // deterministic, so executor loss recomputes instead of failing
        // the query at cluster scale; unpersisted after the writes.
        val dedup = Tables.events(s, d)
          .groupBy("event_type", "ts")
          .agg(sum(floor(col("value"))).as("v"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val dirL = sinkDir("asof_l", d); val dirR = sinkDir("asof_r", d)
        // the two sinks are INDEPENDENT (different paths, both reading
        // the pinned aggregate) — submit them concurrently so the second
        // write's tasks back-fill the first's straggler tail (guide §2.6)
        try graft.Q.inParallel(
          () => TsStore.write(dedup, dirL, tsCol = "ts", uidCols = Seq("event_type")),
          () => TsStore.write(
            dedup.select(col("event_type"),
              (col("ts") - expr("INTERVAL 90 SECONDS")).as("r_ts"),
              col("v").as("r_v")),
            dirR, tsCol = "r_ts", uidCols = Seq("event_type")))
        finally dedup.unpersist(blocking = false)
        val confs = Seq(
          graft.sources.GraftScan.PreserveGroupingKey -> "true",
          "spark.sql.sources.v2.bucketing.enabled" -> "true")
        val olds = confs.map { case (k, _) => k -> s.conf.getOption(k) }
        confs.foreach { case (k, v) => s.conf.set(k, v) }
        try {
          val l = s.read.format("graft").load(dirL)
            .select("event_type", "ts", "v")
          val r = s.read.format("graft").load(dirR)
            .select(col("event_type").as("r_et"), col("r_ts"), col("r_v"))
          val j = TimeSeries.asofJoinNative(l, r,
            leftKeys = Seq("event_type"), rightKeys = Seq("r_et"),
            leftTs = "ts", rightTs = "r_ts")
          val out = j.select(col("event_type"), col("ts"), col("v"),
            col("r_ts"), col("r_v"))
          require(!planBreaks(out.queryExecution.executedPlan, orSort = true),
            "co-located as-of must plan zero exchanges and zero sorts")
          // execute WHILE the opt-in holds — distributed, to a sink:
          // the join output is row-per-tick (unbounded at scale) and
          // must never materialize on the driver
          sinkAndReload(s, out, sinkDir("asof_out", d))
            .orderBy("event_type", "ts")
        } finally olds.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None) => s.conf.unset(k)
        }
      },
      // oracle spelled as the union + last_value(IGNORE NULLS) as-of
      // (right rows sort BEFORE left on a ts tie — backward as-of is
      // inclusive): one window pass instead of the double correlated
      // scalar subquery, which spilled >48 GB in DuckDB at sf0.1. The
      // deduped d has unique (event_type, ts), so the ordering is total
      // and both last_value frames pick the same right row.
      Some("WITH d AS (SELECT event_type, ts, " +
        "CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS v " +
        "FROM events GROUP BY event_type, ts), " +
        "r AS (SELECT event_type, ts - INTERVAL 90 SECOND AS r_ts, v AS r_v FROM d), " +
        "u AS (SELECT event_type, ts AS o_ts, 1 AS src, ts, v, " +
        "CAST(NULL AS TIMESTAMP) AS r_ts, CAST(NULL AS BIGINT) AS r_v FROM d " +
        "UNION ALL SELECT event_type, r_ts AS o_ts, 0 AS src, " +
        "CAST(NULL AS TIMESTAMP) AS ts, CAST(NULL AS BIGINT) AS v, r_ts, r_v FROM r), " +
        "f AS (SELECT event_type, src, ts, v, " +
        "last_value(r_ts IGNORE NULLS) OVER w AS r_ts, " +
        "last_value(r_v IGNORE NULLS) OVER w AS r_v FROM u " +
        "WINDOW w AS (PARTITION BY event_type ORDER BY o_ts, src " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
        "SELECT event_type, ts, v, r_ts, r_v FROM f WHERE src = 1 " +
        "ORDER BY event_type, ts"),
      "co-located as-of join: two ordered stores zip their partitions — zero exchange, zero sort"),

    "store_delete_vector" -> DeclaredQuery(
      // MERGE-ON-READ delete (deletion vectors): the same takedown verb
      // as write_delete, but NO data file moves — matching rows' parquet
      // row indices land in per-file sidecars, one manifest commit
      // associates them, the scan subtracts them, compaction later
      // materializes. At 100 TB the write cost drops from O(affected
      // files) rewrite IO to O(deleted rows) sidecar bytes — the
      // difference between rewriting terabytes and writing kilobytes
      // for a scattered GDPR takedown. Self-pins the merge-on-read
      // contract: file set unchanged, vectors live, metadata count
      // exact; oracle gates the visible rows: SELECT ... WHERE NOT pred.
      (s, d) => {
        val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
        val base = Tables.events(s, d).select(cols.map(col): _*)
        val dir = sinkDir("delete_dv", d)
        TsStore.write(base, dir, tsCol = "ts", uidCols = Seq("event_type"))
        val before = graft.sources.StoreLog.latest(dir).get.files
        val pred = col("event_type") === "purchase" && col("event_id") % 7 === 0
        TsStore.deleteVectors(s, dir, pred)
        val snap = graft.sources.StoreLog.latest(dir).get
        require(snap.files == before, "merge-on-read must not move data files")
        require(snap.dvs.nonEmpty, "the delete must have committed vectors")
        require(TsStore.countAt(dir).contains(
          snap.files.flatMap(snap.liveRows).sum),
          "metadata count must stay exact under vectors")
        TsStore.read(s, dir).select(cols.map(col): _*).orderBy(col("event_id"))
      },
      Some("SELECT event_id, ts, user_id, event_type, value " +
        "FROM events WHERE NOT (event_type = 'purchase' AND event_id % 7 = 0) " +
        "ORDER BY event_id"),
      "merge-on-read DELETE: row positions to sidecars, no data file rewritten"),

    "store_sql_delete_dv" -> DeclaredQuery(
      // The dv takedown through the SQL door: a catalog table created
      // with TBLPROPERTIES('delete.mode'='dv') routes DELETE FROM
      // through deletion vectors — BI users get O(deleted rows)
      // takedowns without knowing the mechanism exists. Read-back is a
      // plain SELECT (the DSv2 scan subtracts positions row-exactly);
      // the pre-delete version stays VERSION AS OF-readable.
      (s, d) => {
        // catalog name embeds the data dir: Spark caches an initialized
        // catalog per session, so a fixed name would pin the FIRST
        // directory's root forever (ScaleSmoke drives two dirs)
        val cat = s"gdvq_${new java.io.File(d).getName.replace('.', '_')}"
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.root", sinkDir("sql_dv_root", d))
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.q")
        s.sql(s"DROP TABLE IF EXISTS $cat.q.ev")
        Tables.events(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value")
          .createOrReplaceTempView("dv_sql_src")
        s.sql(s"CREATE TABLE $cat.q.ev USING graft " +
          "PARTITIONED BY (event_type) TBLPROPERTIES('delete.mode'='dv') " +
          "AS SELECT * FROM dv_sql_src")
        s.sql(s"DELETE FROM $cat.q.ev WHERE event_id % 11 = 3")
        val snap = graft.sources.StoreLog.latest(
          s"${s.conf.get(s"spark.sql.catalog.$cat.root")}/q/ev").get
        require(snap.dvs.nonEmpty, "dv-mode SQL DELETE must commit vectors")
        s.sql(s"SELECT event_id, ts, user_id, event_type, value FROM $cat.q.ev " +
          "ORDER BY event_id")
      },
      Some("SELECT event_id, ts, user_id, event_type, value " +
        "FROM events WHERE event_id % 11 <> 3 ORDER BY event_id"),
      "SQL DELETE under TBLPROPERTIES delete.mode=dv: merge-on-read from pure SQL"),

    "store_sql_tag_travel" -> DeclaredQuery(
      // NAMED VERSION TAGS (the Iceberg tag/ref role): CALL system.tag
      // pins an era under a name — readable as VERSION AS OF '<name>'
      // and RETAINED BY VACUUM however far it falls behind the window
      // (manifest, data files, dv sidecars; a stranded delta chain is
      // checkpoint-rewritten self-resolvable — TagSpec pins the byte
      // mechanics). At 100 TB this is how "the dataset the March model
      // trained on" stays readable for a year while the table churns
      // daily and vacuum holds the live set tight. Self-pins: the
      // vacuum drops untagged old manifests but keeps the tagged one.
      (s, d) => {
        val cat = s"gtgq_${new java.io.File(d).getName.replace('.', '_')}"
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.root", sinkDir("sql_tag_root", d))
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.q")
        s.sql(s"DROP TABLE IF EXISTS $cat.q.ev")
        Tables.events(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value")
          .createOrReplaceTempView("tag_sql_src")
        s.sql(s"CREATE TABLE $cat.q.ev (" +
          "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
          "event_type STRING, value DOUBLE) USING graft " +
          "PARTITIONED BY (event_type)")
        s.sql(s"INSERT INTO $cat.q.ev SELECT * FROM tag_sql_src " +
          "WHERE event_id % 2 = 0")
        s.sql(s"CALL $cat.system.tag('q.ev', 'era1')").collect()
        // the table churns on: more data, a takedown, then a tight vacuum
        s.sql(s"INSERT INTO $cat.q.ev SELECT * FROM tag_sql_src " +
          "WHERE event_id % 2 = 1")
        s.sql(s"DELETE FROM $cat.q.ev WHERE event_id % 11 = 0")
        val path = s"${s.conf.get(s"spark.sql.catalog.$cat.root")}/q/ev"
        val taggedV = graft.sources.StoreLog.tagVersion(path, "era1").get
        val nBefore = graft.sources.StoreLog.listVersions(path).size
        s.sql(s"CALL $cat.system.vacuum('q.ev')").collect()
        val after = graft.sources.StoreLog.listVersions(path)
        require(after.contains(taggedV),
          "vacuum must retain the tagged era's manifest")
        require(after.size < nBefore,
          "vacuum must drop the untagged old manifests")
        s.sql("SELECT event_id, ts, user_id, event_type, value " +
          s"FROM $cat.q.ev VERSION AS OF 'era1' ORDER BY event_id")
      },
      Some("SELECT event_id, ts, user_id, event_type, value FROM events " +
        "WHERE event_id % 2 = 0 ORDER BY event_id"),
      "named version tags: CALL system.tag pins an era for VERSION AS OF '<name>' and vacuum retention"),

    "store_sql_constraint" -> DeclaredQuery(
      // Table CHECK constraints (the Delta delta.constraints / ANSI
      // CHECK role): TBLPROPERTIES('constraint.<name>' = '<bool sql>')
      // makes EVERY write path refuse rows proven false — per row,
      // INSIDE the write job (codegen'd predicate in the DSv2 writers,
      // assert_true filter in the Scala frame paths), so at 100 TB the
      // guarantee costs no second pass over ingested data. SQL CHECK
      // null semantics (unknown passes); ALTER-time ADD validates the
      // expression AND scans existing rows (stop-at-first-violation),
      // making every committed constraint a whole-table invariant that
      // maintenance rewrites never need to re-check. Self-pins: a
      // violating INSERT refuses atomically (no manifest commit), an
      // ADD over violating data refuses, a valid ADD + NULL row pass.
      (s, d) => {
        val cat = s"gckq_${new java.io.File(d).getName.replace('.', '_')}"
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.root", sinkDir("sql_ck_root", d))
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.q")
        s.sql(s"DROP TABLE IF EXISTS $cat.q.ev")
        s.sql(s"CREATE TABLE $cat.q.ev (" +
          "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
          "event_type STRING, value DOUBLE) USING graft " +
          "PARTITIONED BY (event_type) " +
          "TBLPROPERTIES('constraint.vpos' = 'value >= 0')")
        Tables.events(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value")
          .filter(col("value") >= 0 && col("event_id") % 3 === 0)
          .createOrReplaceTempView("ck_sql_src")
        s.sql(s"INSERT INTO $cat.q.ev SELECT * FROM ck_sql_src")
        val path = s"${s.conf.get(s"spark.sql.catalog.$cat.root")}/q/ev"
        val before = graft.sources.StoreLog.latest(path).get.version
        val bad = scala.util.Try(s.sql(s"INSERT INTO $cat.q.ev VALUES " +
          "(999999901, TIMESTAMP'2024-01-01 00:00:00', 1, 'view', -5.0)"))
        require(bad.isFailure, "a violating INSERT must refuse")
        require(graft.sources.StoreLog.latest(path).get.version == before,
          "the refused INSERT must commit NOTHING (atomicity)")
        val worse = scala.util.Try(s.sql(s"ALTER TABLE $cat.q.ev " +
          "SET TBLPROPERTIES('constraint.impossible' = 'value > 1e15')"))
        require(worse.isFailure,
          "ADD of a constraint the live rows violate must refuse")
        // a second, valid constraint ADDs (validating existing rows)
        s.sql(s"ALTER TABLE $cat.q.ev " +
          "SET TBLPROPERTIES('constraint.idpos' = 'event_id >= 0')")
        s.sql(s"SELECT event_id, ts, user_id, event_type, value FROM $cat.q.ev " +
          "ORDER BY event_id")
      },
      Some("SELECT event_id, ts, user_id, event_type, value FROM events " +
        "WHERE value >= 0 AND event_id % 3 = 0 ORDER BY event_id"),
      "table CHECK constraints: per-row write-path enforcement, validated ADD, atomic refusal"),

    "store_sql_notnull" -> DeclaredQuery(
      // NOT NULL column constraints complete the CHECK family: `CALL
      // system.set_not_null(table, col)` validates existing rows (one
      // stop-at-first-NULL scan — Spark's analyzer refuses ALTER COLUMN
      // ... SET NOT NULL against ANY v2 catalog, so the tightening verb
      // is a procedure, like Iceberg) and from then on every write path
      // refuses NULLs per row through the same synthesized-CHECK guard
      // machinery (graft.notnull prop → Constraints.effective — zero
      // new enforcement code, and the concurrent-ADD commit recheck
      // covers it too). `ALTER COLUMN ... DROP NOT NULL` (the loosening
      // direction Spark does allow through) lifts it. Self-pins: NULL
      // INSERT refuses atomically under the invariant, SET over
      // existing NULLs refuses, DROP re-opens the gate.
      (s, d) => {
        val cat = s"gnnq_${new java.io.File(d).getName.replace('.', '_')}"
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.root", sinkDir("sql_nn_root", d))
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.q")
        s.sql(s"DROP TABLE IF EXISTS $cat.q.ev")
        s.sql(s"CREATE TABLE $cat.q.ev (" +
          "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
          "event_type STRING, value DOUBLE) USING graft " +
          "PARTITIONED BY (event_type)")
        Tables.events(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value")
          .filter(col("value").isNotNull && col("event_id") % 4 === 1)
          .createOrReplaceTempView("nn_sql_src")
        s.sql(s"INSERT INTO $cat.q.ev SELECT * FROM nn_sql_src")
        s.sql(s"CALL $cat.system.set_not_null('q.ev', 'value')")
        val path = s"${s.conf.get(s"spark.sql.catalog.$cat.root")}/q/ev"
        val before = graft.sources.StoreLog.latest(path).get.version
        val bad = scala.util.Try(s.sql(s"INSERT INTO $cat.q.ev VALUES " +
          "(999999902, TIMESTAMP'2024-01-01 00:00:00', 1, 'view', NULL)"))
        require(bad.isFailure, "a NULL INSERT must refuse under NOT NULL")
        require(graft.sources.StoreLog.latest(path).get.version == before,
          "the refused INSERT must commit NOTHING (atomicity)")
        // DROP re-opens the gate; SET over live NULLs then refuses
        s.sql(s"ALTER TABLE $cat.q.ev ALTER COLUMN value DROP NOT NULL")
        s.sql(s"INSERT INTO $cat.q.ev VALUES " +
          "(999999903, TIMESTAMP'2024-01-01 00:00:00', 1, 'view', NULL)")
        val reSet = scala.util.Try(
          s.sql(s"CALL $cat.system.set_not_null('q.ev', 'value')"))
        require(reSet.isFailure,
          "SET NOT NULL over existing NULL rows must refuse")
        s.sql(s"DELETE FROM $cat.q.ev WHERE event_id = 999999903")
        s.sql(s"CALL $cat.system.set_not_null('q.ev', 'value')")
        s.sql(s"SELECT event_id, ts, user_id, event_type, value FROM $cat.q.ev " +
          "ORDER BY event_id")
      },
      Some("SELECT event_id, ts, user_id, event_type, value FROM events " +
        "WHERE value IS NOT NULL AND event_id % 4 = 1 ORDER BY event_id"),
      "NOT NULL column constraints: CALL system.set_not_null validates + enforces; DROP NOT NULL lifts"),

    "store_sql_branch_wap" -> DeclaredQuery(
      // WRITABLE BRANCHES + WRITE-AUDIT-PUBLISH (the Iceberg branch /
      // Delta WAP pattern on graft's linear CAS log): `CALL
      // system.branch` pins main and opens a named ref; appends target
      // it (`TsStore.write(branch = ...)` / the sink's branch option)
      // INVISIBLY to main readers — the branch head stays readable as
      // `VERSION AS OF '<name>'` for the audit; `CALL
      // system.publish_branch` re-validates the branch view against the
      // table's CURRENT constraints and fast-forwards main in ONE
      // atomic commit (refusing if main diverged). At 100 TB this is
      // the ingest-gate shape: land a day's feed on a branch, run the
      // quality audit against real committed files, publish — readers
      // never see a half-loaded day. Self-pins invisibility and the
      // atomic jump before the content gate; BranchSpec pins the
      // divergence refusal, the audit, vacuum ref retention, and the
      // change-feed no-leak contract.
      (s, d) => {
        val cat = s"gbrq_${new java.io.File(d).getName.replace('.', '_')}"
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.root", sinkDir("sql_br_root", d))
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.q")
        s.sql(s"DROP TABLE IF EXISTS $cat.q.ev")
        s.sql(s"CREATE TABLE $cat.q.ev (" +
          "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
          "event_type STRING, value DOUBLE) USING graft " +
          "PARTITIONED BY (event_type)")
        Tables.events(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value")
          .filter(col("event_id") % 3 === 0)
          .createOrReplaceTempView("br_main_src")
        s.sql(s"INSERT INTO $cat.q.ev SELECT * FROM br_main_src")
        val path = s"${s.conf.get(s"spark.sql.catalog.$cat.root")}/q/ev"
        val n0 = s.sql(s"SELECT count(*) FROM $cat.q.ev").head().getLong(0)
        s.sql(s"CALL $cat.system.branch('q.ev', 'stage')")
        // the staged feed: appended to the BRANCH only
        graft.sources.TsStore.write(
          Tables.events(s, d)
            .select("event_id", "ts", "user_id", "event_type", "value")
            .filter(col("event_id") % 3 === 1),
          path, tsCol = "ts", uidCols = Seq("event_type"),
          mode = org.apache.spark.sql.SaveMode.Append,
          overlapPolicy = graft.sources.TsStore.OverlapPolicy.Allow,
          branch = Some("stage"))
        // WRITE-audit: main is untouched, the branch head reads the union
        require(s.sql(s"SELECT count(*) FROM $cat.q.ev").head().getLong(0) == n0,
          "staged branch rows must be invisible to main readers")
        require(s.sql(s"SELECT count(*) FROM $cat.q.ev VERSION AS OF 'stage'")
          .head().getLong(0) > n0,
          "the branch head must read the staged rows")
        // PUBLISH: one atomic fast-forward
        s.sql(s"CALL $cat.system.publish_branch('q.ev', 'stage')")
        require(s.sql(s"CALL $cat.system.branches('q.ev')").collect().isEmpty,
          "publish must release the branch")
        s.sql(s"SELECT event_id, ts, user_id, event_type, value FROM $cat.q.ev " +
          "ORDER BY event_id")
      },
      Some("SELECT event_id, ts, user_id, event_type, value FROM events " +
        "WHERE event_id % 3 IN (0, 1) ORDER BY event_id"),
      "writable branches + write-audit-publish: staged appends invisible to main, audited atomic fast-forward"),

    "store_branch_cdc" -> DeclaredQuery(
      // BRANCH-TARGETED DML — WAP for a CDC feed, not just an append
      // feed (the real-world gap: a day's change batch carries UPDATES
      // and DELETES): a keyed upsert and a deletion-vector takedown
      // both land ON the branch (TsStore.upsert(branch)/
      // deleteVectors(branch) — the branch-ref commit loop: new branch
      // view + pin advance in one commit, dv state exact-reset whenever
      // tip inheritance would leak across refs), stay INVISIBLE to
      // every main read face, and publish fast-forwards the fully-
      // applied batch atomically; a drop sheds rewrites AND vectors.
      // Self-pins main invisibility mid-batch before the content gate.
      (s, d) => {
        val dir = sinkDir("branch_cdc", d)
        val ev = Tables.events(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value")
        TsStore.write(ev.withColumn("version", lit(1L)), dir,
          tsCol = "ts", uidCols = Seq("event_type"), maxRecordsPerFile = 2000)
        TsStore.branch(dir, "cdc")
        // the change batch: value updates for every 10th id…
        TsStore.upsert(s, dir,
          ev.filter(col("event_id") % 10 === 0 &&
              col("event_type") === "view")
            .withColumn("value", col("value") * 2)
            .withColumn("version", lit(2L)),
          keyCols = Seq("event_id"), versionCol = "version",
          tsCol = "ts", uidCols = Seq("event_type"), branch = Some("cdc"))
        // …and takedowns for every 7th — vectors on the branch only
        TsStore.deleteVectors(s, dir, col("event_id") % 7 === 0,
          branch = Some("cdc"))
        // O(1) existence probes, not full-store counts: a branch
        // takedown's vectors must not hide main rows…
        require(TsStore.load(s, dir).filter(col("event_id") % 7 === 0)
            .limit(1).count() == 1L,
          "the half-applied CDC batch must be invisible to main")
        require(TsStore.load(s, dir)
            .filter(col("event_id") % 10 === 0 && col("version") === 2L)
            .limit(1).count() == 0L,
          "branch upserts must not leak into the main view")
        TsStore.publishBranch(s, dir, "cdc")
        TsStore.load(s, dir)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .orderBy(col("event_id"))
      },
      Some("SELECT event_id, ts, user_id, event_type, " +
        "CASE WHEN event_id % 10 = 0 AND event_type = 'view' " +
        "THEN value * 2 ELSE value END AS value " +
        "FROM events WHERE event_id % 7 <> 0 ORDER BY event_id"),
      "branch-targeted CDC batch: upsert + dv takedown on a WAP branch, published atomically"),

    "store_compact_branch" -> DeclaredQuery(
      // MAINTENANCE UNDER AN OPEN BRANCH (the nightly-compaction
      // blocker): a day-scale WAP branch used to stall every replacing
      // verb on main for its whole lifetime. A rewrite whose targets
      // the branch holds IN FULL (branches start as main's view and
      // touch other partitions) is semantics-preserving for both refs:
      // the main commit swaps the files AND advances every branch's
      // BASE (so publish's divergence check keeps passing), then the
      // branch pin REBASES through the same file mapping. Genuine
      // overlap — a branch rewrite of some target, diverging vectors —
      // still refuses (BranchSpec pins the matrix). Self-pins: main
      // compacted to one file, branch rows invisible mid-flight,
      // publish lands the batch.
      (s, d) => {
        val dir = sinkDir("compact_branch", d)
        val ev = Tables.events(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value")
        TsStore.write(ev, dir, tsCol = "ts", uidCols = Seq("event_type"),
          maxRecordsPerFile = 1000)
        TsStore.branch(dir, "wap")
        // the day's CDC batch lands on the branch (new view rows).
        // Staged ids are NEGATIVE — a sentinel no replication offset
        // can collide with, so the invisibility probe stays sound at
        // any fixture scale (positive offsets alias replica ids).
        TsStore.write(
          ev.filter(col("event_type") === "view" && col("event_id") < 50)
            .withColumn("event_id", -col("event_id") - 1L)
            .withColumn("value", col("value") * 3),
          dir, tsCol = "ts", uidCols = Seq("event_type"),
          mode = org.apache.spark.sql.SaveMode.Append,
          overlapPolicy = TsStore.OverlapPolicy.Allow, branch = Some("wap"))
        // nightly compaction of a partition the branch only shares —
        // proceeds under the open branch, rebasing the branch pin.
        // The pin is a SHRINK, not ==1: past the AQE advisory size the
        // range writer splits the rewrite across tasks by design, so an
        // exact count would couple the pin to the fixture scale —
        // refusal (the old blanket behavior) leaves the count unchanged
        // either way. An already-compact partition (the smallest
        // fixture holds < maxRecordsPerFile click rows) is a no-op by
        // contract and asserts nothing; BranchSpec pins the shrink
        // matrix at controlled file counts.
        def clickFiles(): Int = graft.sources.StoreLog.read(dir,
          graft.sources.StoreLog.mainVersion(dir).get).files
          .count(_.startsWith("event_type=click/"))
        val preClick = clickFiles()
        TsStore.compactPartitions(s, dir, Seq("event_type=click"),
          tsCol = "ts", uidCols = Seq("event_type"))
        require(preClick <= 1 || clickFiles() < preClick,
          "main's partition must be compacted under the open branch")
        require(TsStore.load(s, dir)
            .filter(col("event_id") < 0L).limit(1).count() == 0L,
          "the staged batch must stay invisible to main across maintenance")
        TsStore.publishBranch(s, dir, "wap")
        TsStore.load(s, dir)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .orderBy(col("event_id"))
      },
      Some("SELECT event_id, ts, user_id, event_type, value FROM events " +
        "UNION ALL SELECT -event_id - 1 AS event_id, ts, user_id, " +
        "event_type, value * 3 AS value FROM events " +
        "WHERE event_type = 'view' AND event_id < 50 ORDER BY event_id"),
      "nightly compaction under an open WAP branch: disjoint rewrite + branch-pin rebase + publish"),

    "store_branch_expiry" -> DeclaredQuery(
      // BRANCH AGE-EXPIRY (the Iceberg ref-aging role): a branch
      // declared with expire_hours dies at vacuum once idle that long —
      // its staged rewrites AND deletion vectors shed like dropBranch,
      // its pinned versions rejoin vacuum retention, and the
      // maintenance-overlap proofs it held open release. Without it a
      // forgotten WAP feed pins manifests forever. Self-pins: the
      // expired branch is gone after vacuum while an unexpiring one
      // survives, its vectors died, and main never saw its rows.
      (s, d) => {
        val dir = sinkDir("branch_expiry", d)
        val ev = Tables.events(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value")
        TsStore.write(ev.withColumn("version", lit(1L)), dir,
          tsCol = "ts", uidCols = Seq("event_type"))
        TsStore.branch(dir, "stale", expireMs = Some(0L))
        // the forgotten feed staged real work: an upsert and a takedown
        TsStore.upsert(s, dir,
          ev.filter(col("event_id") % 13 === 0 &&
              col("event_type") === "view")
            .withColumn("value", col("value") * 5)
            .withColumn("version", lit(2L)),
          keyCols = Seq("event_id"), versionCol = "version",
          tsCol = "ts", uidCols = Seq("event_type"), branch = Some("stale"))
        TsStore.deleteVectors(s, dir, col("event_id") % 17 === 0,
          branch = Some("stale"))
        TsStore.branch(dir, "live") // no declared expiry — survives
        // expiry is STRICTLY idle-longer-than-declared: even at
        // expire=0 the stale branch needs >=1ms between its last touch
        // stamp and the expiry check — a fast page cache can land both
        // in the same millisecond
        Thread.sleep(5L)
        TsStore.vacuum(dir, retainVersions = 100) // expiry runs here
        require(graft.sources.StoreLog.branches(dir).keySet == Set("live"),
          "vacuum must age out exactly the expired branch")
        require(graft.sources.StoreLog.read(dir,
            graft.sources.StoreLog.mainVersion(dir).get).dvs.isEmpty,
          "the expired branch's vectors must die from the main view")
        TsStore.load(s, dir)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .orderBy(col("event_id"))
      },
      Some("SELECT event_id, ts, user_id, event_type, value FROM events " +
        "ORDER BY event_id"),
      "branch age-expiry: a forgotten WAP branch dies at vacuum, rewrites and vectors included"),

    "store_takedown_composite" -> DeclaredQuery(
      // COMPOSITE-KEY scattered takedown: the key is a (coarse, fine)
      // tuple whose COARSE first column holds the same four values in
      // every file — a first-column-only digest probe would keep the
      // whole store. The manifest gate probes EVERY digestable key
      // column (column-independent AND: a present tuple puts each
      // component in its column's dictionary), so the FINE scatter
      // column's digest prunes the find scan to O(the keys' files).
      // Self-pins candidates ≪ live files before the content gate;
      // KeyDigestSpec pins the probe matrix and the timestamp domain.
      (s, d) => {
        val dir = sinkDir("takedown_comp", d)
        val gExpr = expr("event_id % 4")
        // bounded multiplicands (% BEFORE *) keep the product in int64
        // under ANSI at any replicated id magnitude
        val kExpr = expr("(event_id DIV 8) % 100000 * 2654435761 % 1000000")
        TsStore.write(Tables.events(s, d)
            .select(col("event_id"), col("ts"), col("user_id"),
              col("event_type"), col("value"))
            .withColumn("g", gExpr).withColumn("k", kExpr)
            .withColumn("version", lit(1L)),
          dir, tsCol = "ts", uidCols = Seq("event_type"),
          maxRecordsPerFile = 1000, bloomKeys = Seq("g", "k"))
        val keys = Tables.events(s, d)
          .filter(col("event_id").between(200, 249))
          .select(gExpr.as("g"), kExpr.as("k"), lit(2L).as("del_v"))
        TsStore.lastTakedownCandidates = -1
        TsStore.deleteKeysVectors(s, dir, keys, keyCols = Seq("g", "k"),
          deleteVersionCol = "del_v", versionCol = "version")
        val snap = graft.sources.StoreLog.latest(dir).get
        require(TsStore.lastTakedownCandidates >= 0 &&
            (snap.files.size <= 10 ||
              TsStore.lastTakedownCandidates * 2 < snap.files.size),
          s"the fine column's digest must prune a composite takedown: " +
            s"${TsStore.lastTakedownCandidates} of ${snap.files.size} files")
        TsStore.load(s, dir)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .orderBy(col("event_id"))
      },
      Some("SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value " +
        "FROM events e WHERE NOT EXISTS (" +
        "SELECT 1 FROM events x WHERE x.event_id BETWEEN 200 AND 249 " +
        "AND x.event_id % 4 = e.event_id % 4 " +
        "AND (x.event_id // 8) % 100000 * 2654435761 % 1000000 = " +
        "(e.event_id // 8) % 100000 * 2654435761 % 1000000) " +
        "ORDER BY e.event_id"),
      "composite-key scattered takedown: every key column's digest probes, the fine one prunes"),

    "store_sql_delete_keys" -> DeclaredQuery(
      // The KEYED takedown from pure SQL: DELETE WHERE expresses a
      // predicate, but the GDPR/takedown shape is a MILLION-KEY LIST —
      // `CALL system.delete_keys(table, keys_view, ...)` routes a keys
      // relation through the merge-on-read keyed delete
      // (deleteKeysVectors: broadcast key join, plan O(1) in key count,
      // O(deleted rows) sidecar IO, ONE manifest commit). Version
      // semantics match the CDC contract (delete wins at version <=
      // del_v; higher-version reinserts survive — DvSpec pins both).
      // Self-pins sidecars-only before the content gate.
      (s, d) => {
        val cat = s"gdkq_${new java.io.File(d).getName.replace('.', '_')}"
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.root", sinkDir("sql_dk_root", d))
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.q")
        s.sql(s"DROP TABLE IF EXISTS $cat.q.ev")
        Tables.events(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value")
          .withColumn("version", lit(1L))
          .createOrReplaceTempView("dk_sql_src")
        s.sql(s"CREATE TABLE $cat.q.ev USING graft " +
          "PARTITIONED BY (event_type) AS SELECT * FROM dk_sql_src")
        Tables.events(s, d).filter(col("event_id") % 7 === 0)
          .select(col("event_id"), lit(2L).as("del_v"))
          .createOrReplaceTempView("dk_sql_keys")
        val path = s"${s.conf.get(s"spark.sql.catalog.$cat.root")}/q/ev"
        val before = graft.sources.StoreLog.latest(path).get
        s.sql(s"CALL $cat.system.delete_keys(table => 'q.ev', " +
          "keys => 'dk_sql_keys', key_cols => 'event_id', " +
          "delete_version_col => 'del_v', version_col => 'version')").collect()
        val snap = graft.sources.StoreLog.latest(path).get
        require(snap.files == before.files && snap.dvs.nonEmpty,
          "the keyed takedown must be sidecars-only: no data file moves")
        require(snap.version == before.version + 1,
          "the keyed takedown must be ONE commit")
        s.sql(s"SELECT event_id, ts, user_id, event_type, value FROM $cat.q.ev " +
          "ORDER BY event_id")
      },
      Some("SELECT event_id, ts, user_id, event_type, value " +
        "FROM events WHERE event_id % 7 <> 0 ORDER BY event_id"),
      "CALL system.delete_keys: million-key takedown from SQL — dv sidecars, one commit, plan O(1) in keys"),

    "store_sql_update_dv" -> DeclaredQuery(
      // MERGE-ON-READ UPDATE (the delta row-level operation,
      // SupportsDelta): the matched rows' physical identities
      // (_file, _pos) become deletion-vector positions and the updated
      // rows APPEND — zero data files rewritten, one atomic commit. At
      // 100 TB an UPDATE touching a thousand rows scattered over a
      // million files writes kilobytes of sidecar + a thousand new
      // rows; even the copy-on-write path would rewrite a thousand
      // whole files. Self-pins the no-rewrite contract (pre-update
      // files all survive) before the content gate.
      (s, d) => {
        val cat = s"gduq_${new java.io.File(d).getName.replace('.', '_')}"
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.root", sinkDir("sql_dvu_root", d))
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.q")
        s.sql(s"DROP TABLE IF EXISTS $cat.q.ev")
        Tables.events(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value")
          .createOrReplaceTempView("dvu_sql_src")
        s.sql(s"CREATE TABLE $cat.q.ev USING graft " +
          "PARTITIONED BY (event_type) TBLPROPERTIES('delete.mode'='dv') " +
          "AS SELECT * FROM dvu_sql_src")
        val path = s"${s.conf.get(s"spark.sql.catalog.$cat.root")}/q/ev"
        val before = graft.sources.StoreLog.latest(path).get.files.toSet
        s.sql(s"UPDATE $cat.q.ev SET value = value * 2 WHERE event_id % 13 = 5")
        val snap = graft.sources.StoreLog.latest(path).get
        require(before.subsetOf(snap.files.toSet),
          "merge-on-read UPDATE must rewrite no data file")
        require(snap.dvs.nonEmpty, "the old rows must be vectored")
        s.sql(s"SELECT event_id, ts, user_id, event_type, value FROM $cat.q.ev " +
          "ORDER BY event_id")
      },
      Some("SELECT event_id, ts, user_id, event_type, " +
        "CASE WHEN event_id % 13 = 5 THEN value * 2 ELSE value END AS value " +
        "FROM events ORDER BY event_id"),
      "SQL UPDATE as a delta operation: vector the old rows, append the new — no rewrites"),

    "store_sql_merge_dv" -> DeclaredQuery(
      // MERGE-ON-READ MERGE INTO: matched updates vector+append,
      // not-matched rows append, ONE manifest commit — the CDC-apply
      // verb (upsert a change batch into a 100 TB table) without
      // rewriting a single file. The delta write clusters by
      // (partition key, file) so each file's positions land together
      // while fresh inserts spread by series key.
      (s, d) => {
        val cat = s"gdmq_${new java.io.File(d).getName.replace('.', '_')}"
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.sources.GraftCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.root", sinkDir("sql_dvm_root", d))
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.q")
        s.sql(s"DROP TABLE IF EXISTS $cat.q.ev")
        Tables.events(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value")
          .createOrReplaceTempView("dvm_sql_src")
        s.sql(s"CREATE TABLE $cat.q.ev USING graft " +
          "PARTITIONED BY (event_type) TBLPROPERTIES('delete.mode'='dv') " +
          "AS SELECT * FROM dvm_sql_src")
        val path = s"${s.conf.get(s"spark.sql.catalog.$cat.root")}/q/ev"
        val before = graft.sources.StoreLog.latest(path).get
        // change batch: updates for event_id % 17 = 2, inserts at offset ids
        s.sql("SELECT event_id, ts, user_id, event_type, value * 3 AS value " +
          "FROM dvm_sql_src WHERE event_id % 17 = 2 " +
          "UNION ALL " +
          "SELECT event_id + 100000000, ts, user_id, event_type, value " +
          "FROM dvm_sql_src WHERE event_id % 509 = 1")
          .createOrReplaceTempView("dvm_sql_delta")
        s.sql(s"MERGE INTO $cat.q.ev AS t USING dvm_sql_delta AS c " +
          "ON t.event_id = c.event_id " +
          "WHEN MATCHED THEN UPDATE SET value = c.value " +
          "WHEN NOT MATCHED THEN INSERT *")
        val snap = graft.sources.StoreLog.latest(path).get
        require(snap.version == before.version + 1,
          "MERGE must land as one atomic manifest commit")
        require(before.files.toSet.subsetOf(snap.files.toSet),
          "merge-on-read MERGE must rewrite no data file")
        s.sql(s"SELECT event_id, ts, user_id, event_type, value FROM $cat.q.ev " +
          "ORDER BY event_id")
      },
      Some("SELECT event_id, ts, user_id, event_type, " +
        "CASE WHEN event_id % 17 = 2 THEN value * 3 ELSE value END AS value " +
        "FROM events " +
        "UNION ALL " +
        "SELECT event_id + 100000000, ts, user_id, event_type, value " +
        "FROM events WHERE event_id % 509 = 1 " +
        "ORDER BY event_id"),
      "SQL MERGE INTO as a delta operation: the CDC-apply verb with zero file rewrites")
  )
}
