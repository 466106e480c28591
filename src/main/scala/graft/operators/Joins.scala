package graft.operators

import org.apache.spark.sql.functions._
import graft.DeclaredQuery
import graft.sources.Tables

/** §2.3 — joins. Equi joins ride the planner (AQE picks SMJ/shuffled-hash;
  * skew handled by AQE skew-join). Small dimensions are broadcast
  * explicitly so no shuffle of the fact side ever happens. The interval
  * join keeps an equi prefix (`user_id`) so it plans as a sort-merge join
  * with a residual range condition — never a cross product, which is the
  * difference between minutes and never-finishes at 100 TB.
  * (As-of join lives in TimeSeries.scala.)
  */
object Joins {

  def defs: Seq[(String, DeclaredQuery)] = Seq(

    "join_inner" -> DeclaredQuery(
      (s, d) => Tables.orders(s, d).join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_custkey", "c_name", "c_mktsegment", "o_totalprice")
        .orderBy(col("o_orderkey")),
      Some("SELECT o_orderkey, c_custkey, c_name, c_mktsegment, o_totalprice " +
        "FROM orders JOIN customer ON o_custkey = c_custkey ORDER BY o_orderkey")),

    "join_broadcast" -> DeclaredQuery(
      // part is O(20k rows) at sf0.1 — always broadcast-able; pins
      // BroadcastHashJoinExec so the lineitem side never shuffles.
      (s, d) => Tables.lineitem(s, d).join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("p_name"), col("p_brand"), col("l_extendedprice"))
        // ORDER BY covers every output column ((okey, line) is not unique)
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("p_name"),
          col("p_brand"), col("l_extendedprice")),
      Some("SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, p_name, p_brand, " +
        "l_extendedprice FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "ORDER BY l_orderkey, l_linenumber, p_name, p_brand, l_extendedprice")),

    "join_left" -> DeclaredQuery(
      (s, d) => Tables.customer(s, d).join(Tables.orders(s, d),
          col("c_custkey") === col("o_custkey"), "left")
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice")
        .orderBy(asc("c_custkey"), asc_nulls_first("o_orderkey")),
      Some("SELECT c_custkey, c_name, o_orderkey, o_totalprice FROM customer " +
        "LEFT JOIN orders ON c_custkey = o_custkey " +
        "ORDER BY c_custkey, o_orderkey NULLS FIRST")),

    "join_semi" -> DeclaredQuery(
      (s, d) => Tables.customer(s, d).join(Tables.orders(s, d),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy(col("c_custkey")),
      Some("SELECT c_custkey, c_name, c_acctbal FROM customer c WHERE EXISTS " +
        "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) ORDER BY c_custkey")),

    "join_anti" -> DeclaredQuery(
      // Anti-join against a filtered right side (every customer has SOME
      // order in the fixture, so the unfiltered anti-join is empty).
      (s, d) => Tables.customer(s, d).join(
          Tables.orders(s, d).filter(col("o_totalprice") > 300000.0),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy(col("c_custkey")),
      Some("SELECT c_custkey, c_name, c_acctbal FROM customer c WHERE NOT EXISTS " +
        "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0) " +
        "ORDER BY c_custkey")),

    "join_full" -> DeclaredQuery(
      // Full outer with unmatched rows on BOTH sides: high-balance
      // customers vs per-customer totals of F-status orders.
      (s, d) => {
        val c = Tables.customer(s, d).filter(col("c_acctbal") > 7000.0)
          .select("c_custkey", "c_name")
        val o = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
          .groupBy(col("o_custkey")).agg(round(sum("o_totalprice"), 2).as("f_total"))
        c.join(o, col("c_custkey") === col("o_custkey"), "full")
          .orderBy(asc_nulls_first("c_custkey"), asc_nulls_first("o_custkey"))
      },
      Some("SELECT c_custkey, c_name, o_custkey, f_total FROM " +
        "(SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 7000.0) c " +
        "FULL JOIN (SELECT o_custkey, round(sum(o_totalprice), 2) AS f_total FROM orders " +
        "WHERE o_orderstatus = 'F' GROUP BY o_custkey) o ON c_custkey = o_custkey " +
        "ORDER BY c_custkey NULLS FIRST, o_custkey NULLS FIRST")),

    "join_range" -> DeclaredQuery(
      (s, d) => {
        val e = Tables.events(s, d)
        val p = e.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
        val v = e.filter(col("event_type") === "view")
          .select(col("event_id").as("view_id"), col("user_id").as("v_user"), col("ts").as("v_ts"))
        p.join(v, col("user_id") === col("v_user") &&
            col("v_ts") >= col("p_ts") - expr("INTERVAL 5 MINUTES") &&
            col("v_ts") <= col("p_ts") + expr("INTERVAL 5 MINUTES"))
          .select(col("purchase_id"), col("view_id"), col("user_id"),
            (unix_micros(col("v_ts")) - unix_micros(col("p_ts"))).as("delta_us"))
          .orderBy(col("purchase_id"), col("view_id"))
      },
      Some("SELECT p.event_id AS purchase_id, v.event_id AS view_id, p.user_id, " +
        "epoch_us(v.ts) - epoch_us(p.ts) AS delta_us FROM events p JOIN events v " +
        "ON p.user_id = v.user_id AND p.event_type = 'purchase' AND v.event_type = 'view' " +
        "AND v.ts BETWEEN p.ts - INTERVAL 5 MINUTE AND p.ts + INTERVAL 5 MINUTE " +
        "ORDER BY purchase_id, view_id")),

    "join_interval" -> DeclaredQuery(
      // Interval-overlap join WITHOUT an equi key — the case join_range's
      // user_id prefix can't cover. Naively this is a cross product with
      // a range residual (BroadcastNestedLoop — never finishes at
      // 100 TB). The scale spelling MANUFACTURES the equi key: chop time
      // into fixed W-width buckets, explode each interval onto the
      // buckets it covers (≤ 2 here, intervals are W long), equi-join on
      // the bucket, and keep a pair only in the FIRST bucket both share
      // (bucket == greatest(start_a, start_b) div W) — each overlapping
      // pair surfaces exactly once with NO distinct/dedup shuffle. One
      // equi shuffle on a dense integer key; skew = real temporal
      // hotspots, handled by AQE like any other key.
      (s, d) => {
        val W = 600000000L // 10 minutes in micros
        val e = Tables.events(s, d)
        def ivals(t: String, p: String) = e.filter(col("event_type") === t)
          .select(col("event_id").as(s"${p}_id"),
            unix_micros(col("ts")).as(s"${p}_s"),
            (unix_micros(col("ts")) + W).as(s"${p}_e"))
        def chopped(df: org.apache.spark.sql.DataFrame, p: String) =
          df.withColumn("bucket",
            explode(sequence(expr(s"${p}_s div ${W}L"), expr(s"(${p}_e - 1) div ${W}L"))))
        val a = chopped(ivals("purchase", "a"), "a")
        val b = chopped(ivals("error", "b"), "b")
        a.join(b, a("bucket") === b("bucket") &&
            col("a_s") < col("b_e") && col("b_s") < col("a_e") &&
            a("bucket") === expr(s"greatest(a_s, b_s) div ${W}L"))
          .select(col("a_id"), col("b_id"),
            (least(col("a_e"), col("b_e")) - greatest(col("a_s"), col("b_s")))
              .as("overlap_us"))
          .orderBy(col("a_id"), col("b_id"))
      },
      Some("SELECT p.event_id AS a_id, e2.event_id AS b_id, " +
        "least(epoch_us(p.ts), epoch_us(e2.ts)) + 600000000 - " +
        "greatest(epoch_us(p.ts), epoch_us(e2.ts)) AS overlap_us " +
        "FROM events p JOIN events e2 ON p.event_type = 'purchase' " +
        "AND e2.event_type = 'error' " +
        "AND epoch_us(p.ts) < epoch_us(e2.ts) + 600000000 " +
        "AND epoch_us(e2.ts) < epoch_us(p.ts) + 600000000 " +
        "ORDER BY a_id, b_id"),
      "interval-overlap join with no equi key: bucket-chopped into an equi join, first-shared-bucket dedup"),

    "q3_shipping" -> DeclaredQuery(
      // TPC-H Q3-shaped composite: 3-table join → grouped revenue →
      // top-10. The plan is the full-pipeline showcase: both dimension
      // filters reach their scans, customer broadcasts into orders,
      // revenue is a two-phase hash aggregate, and the LIMIT plans as
      // TakeOrderedAndProject (k-row merge, no global sort). Revenue is
      // summed at full precision and rounded once at the end — rounding
      // per-row would accumulate engine-divergent sub-cent drift (the
      // per-group term counts are small, so the unrounded double sums
      // agree to well under the 2dp rounding on both engines).
      (s, d) => {
        val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
          .select("c_custkey")
        val o = Tables.orders(s, d)
          .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
          .select("o_orderkey", "o_custkey", "o_orderdate")
        val l = Tables.lineitem(s, d)
          .select(col("l_orderkey"),
            (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
        o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .join(l, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderkey", "o_orderdate")
          .agg(round(sum(col("rev")), 2).as("revenue"))
          .orderBy(desc("revenue"), col("o_orderkey"))
          .limit(10)
      },
      Some("SELECT o_orderkey, o_orderdate, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue " +
        "FROM customer JOIN orders ON c_custkey = o_custkey " +
        "JOIN lineitem ON l_orderkey = o_orderkey " +
        "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01' " +
        "GROUP BY o_orderkey, o_orderdate ORDER BY revenue DESC, o_orderkey LIMIT 10"),
      "TPC-H Q3 analog: segment-filtered 3-table join, top-10 revenue"),

    "q10_returns" -> DeclaredQuery(
      // TPC-H Q10-shaped composite: revenue lost to returned lineitems
      // per customer, top-20. Same discipline: filters at the scans,
      // dim broadcast, sum-then-round, TakeOrderedAndProject.
      (s, d) => {
        val c = Tables.customer(s, d).select("c_custkey", "c_name")
        val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
        val l = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
          .select(col("l_orderkey"),
            (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .groupBy("c_custkey", "c_name")
          .agg(round(sum(col("rev")), 2).as("lost_revenue"),
            count(lit(1)).as("n_items"))
          .orderBy(desc("lost_revenue"), col("c_custkey"))
          .limit(20)
      },
      Some("SELECT c_custkey, c_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS lost_revenue, " +
        "count(*) AS n_items FROM lineitem " +
        "JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey " +
        "WHERE l_returnflag = 'R' GROUP BY c_custkey, c_name " +
        "ORDER BY lost_revenue DESC, c_custkey LIMIT 20"),
      "TPC-H Q10 analog: returned-revenue per customer, top-20"),

    "q5_local_supplier" -> DeclaredQuery(
      // TPC-H Q5 analog — the 6-table join showcase: revenue by nation
      // for ASIA customers served by a SAME-NATION supplier in 1996.
      // Join strategy by table role: region→nation collapses to a tiny
      // broadcast dimension that prunes customers map-side; supplier is
      // the classic small dimension (1 per 10 customers in TPC-H) and
      // broadcasts into the fact chain; the only shuffles are the two
      // fact joins (orders⋈customer on custkey, lineitem⋈ on orderkey),
      // both equi-joins AQE can re-plan. Date filter reaches the orders
      // scan. Revenue summed at full precision, rounded once.
      (s, d) => {
        val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
          .select("r_regionkey")
        val n = Tables.nation(s, d).join(broadcast(r),
            col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey", "n_name")
        val c = Tables.customer(s, d).join(broadcast(n),
            col("c_nationkey") === col("n_nationkey"))
          .select("c_custkey", "c_nationkey", "n_name")
        val o = Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
          .select("o_orderkey", "o_custkey")
        val l = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
        val sup = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
        o.join(c, col("o_custkey") === col("c_custkey"))
          .join(l, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
            col("s_nationkey") === col("c_nationkey"))
          .groupBy("n_name")
          .agg(round(sum(col("rev")), 2).as("revenue"))
          .orderBy(desc("revenue"), col("n_name"))
      },
      Some("SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue " +
        "FROM region JOIN nation ON n_regionkey = r_regionkey " +
        "JOIN customer ON c_nationkey = n_nationkey " +
        "JOIN orders ON o_custkey = c_custkey " +
        "JOIN lineitem ON l_orderkey = o_orderkey " +
        "JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey " +
        "WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01' " +
        "AND o_orderdate < TIMESTAMP '1997-01-01' " +
        "GROUP BY n_name ORDER BY revenue DESC, n_name"),
      "TPC-H Q5 analog: 6-table local-supplier revenue by nation"),

    "q18_big_orders" -> DeclaredQuery(
      // TPC-H Q18 analog — the HAVING-subquery showcase: orders whose
      // total line quantity exceeds a threshold, with customer detail.
      // The having-filtered aggregate is BY NATURE small (high-threshold
      // survivors), so it broadcasts back into orders carrying its qty —
      // no second lineitem scan, no semi-join pass. Quantities are
      // integral doubles: sums are exact on both engines, so the
      // threshold compare can never flip on float noise. TakeOrdered
      // top-100 on (o_totalprice desc, o_orderkey).
      (s, d) => {
        val big = Tables.lineitem(s, d).select("l_orderkey", "l_quantity")
          .groupBy("l_orderkey").agg(sum(col("l_quantity")).as("__qty"))
          .filter(col("__qty") > 180.0)
          .select(col("l_orderkey"), round(col("__qty"), 2).as("qty"))
        val c = Tables.customer(s, d).select("c_custkey", "c_name")
        Tables.orders(s, d)
          .join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            col("o_orderdate"), col("o_totalprice"), col("qty"))
          .orderBy(desc("o_totalprice"), col("o_orderkey"))
          .limit(100)
      },
      Some("WITH big AS (SELECT l_orderkey, round(sum(l_quantity), 2) AS qty " +
        "FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 180) " +
        "SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, qty " +
        "FROM orders JOIN big ON o_orderkey = big.l_orderkey " +
        "JOIN customer ON c_custkey = o_custkey " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"),
      "TPC-H Q18 analog: large-quantity orders via broadcast having-aggregate"),

    "join_salted" -> DeclaredQuery(
      // Salt-and-replicate skew join (graft.Q.saltedJoin): the fact side
      // gets a deterministic salt in [0,8), the dim side is exploded 8×,
      // and the equi-join runs on (key, salt) — one hot customer key
      // spreads over 8 reducers instead of melting one. The oracle is the
      // PLAIN join: salting must be a pure physical rewrite, bit-identical
      // results. (AQE skew-join handles this adaptively when it can; the
      // explicit salt is for required-distribution shapes it can't touch.)
      (s, d) => {
        val o = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        val c = Tables.customer(s, d)
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
        graft.Q.saltedJoin(o, c, "o_custkey", buckets = 8)
          .select(col("o_orderkey"), col("o_custkey"), col("c_mktsegment"),
            col("o_totalprice"))
          .orderBy(col("o_orderkey"))
      },
      Some("SELECT o_orderkey, o_custkey, c_mktsegment, o_totalprice " +
        "FROM orders JOIN customer ON o_custkey = c_custkey ORDER BY o_orderkey"),
      "salted skew join (8 buckets) — equals the plain join bit-for-bit"),

    "join_bucketed" -> DeclaredQuery(
      // Co-located join via bucketing — the other 100 TB shuffle-killer
      // next to broadcast: both sides are written bucketed (8 buckets) on
      // the join key, so the sort-merge join reads matching buckets
      // directly and NO Exchange appears before the join (PlanSpec
      // asserts this). The write cost is paid once per dataset lifetime
      // in a real deployment; the merge hint stops the planner from
      // choosing broadcast (which would ignore the bucketing and hide
      // the demonstration). Results are the plain join, so the oracle is
      // ordinary SQL.
      (s, d) => {
        // table names take only [A-Za-z0-9_]: a fixture directory named
        // `sf-0.001` must not become an unparseable identifier
        val sfTag = new java.io.File(d).getName.replaceAll("[^A-Za-z0-9_]", "_")
        val ot = s"graft_orders_bkt_$sfTag"; val ct = s"graft_cust_bkt_$sfTag"
        // a fresh session's in-memory catalog is empty but the managed
        // location may persist from an earlier run — drop both
        Seq(ot, ct).foreach { t =>
          s.sql(s"DROP TABLE IF EXISTS $t")
          val p = new org.apache.hadoop.fs.Path(
            s.conf.get("spark.sql.warehouse.dir") + "/" + t)
          val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (fs.exists(p)) fs.delete(p, true)
        }
        // the two bucketed sides are independent sinks — overlap them so
        // the second write back-fills the first's tail (guide §2.6)
        graft.Q.inParallel(
          () => Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
            .write.mode("overwrite").format("parquet")
            .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable(ot),
          () => Tables.customer(s, d).select("c_custkey", "c_mktsegment")
            .write.mode("overwrite").format("parquet")
            .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable(ct))
        s.table(ot).hint("merge")
          .join(s.table(ct), col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("o_custkey"), col("c_mktsegment"),
            col("o_totalprice"))
          .orderBy(col("o_orderkey"))
      },
      Some("SELECT o_orderkey, o_custkey, c_mktsegment, o_totalprice " +
        "FROM orders JOIN customer ON o_custkey = c_custkey ORDER BY o_orderkey"),
      "bucketed co-located sort-merge join — zero shuffle before the join"),

    "join_cross" -> DeclaredQuery(
      // Explicit cartesian product of the two tiny dimension tables
      // (5×25 rows). Only safe because both sides are dimension-sized;
      // every large-scale pairing op in this repo goes through an
      // equi-join on a derived key instead (bands/buckets/blocks).
      (s, d) => Tables.region(s, d).crossJoin(Tables.nation(s, d))
        .select(col("r_regionkey").cast("long").as("r_regionkey"),
          col("r_name"), col("n_nationkey").cast("long").as("n_nationkey"),
          col("n_name"))
        .orderBy(col("r_regionkey"), col("n_nationkey")),
      Some("SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name, " +
        "CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name " +
        "FROM region CROSS JOIN nation ORDER BY r_regionkey, n_nationkey"),
      "bounded cartesian product of dimension tables"),

    "join_bloom" -> DeclaredQuery(
      // User-steerable runtime-filter join (graft.functions.BloomFilter):
      // a 16 KiB bloom built over the selective dimension's keys rides a
      // one-row broadcast to the fact scan, and fact rows failing the
      // K-bit probe are dropped BEFORE the exact join — at 100 TB,
      // non-matching fact rows never reach the join's shuffle (Spark's
      // InjectRuntimeFilter shape, but available from the public API and
      // composable with any downstream plan). False positives are
      // removed by the exact join that follows, so the result — and the
      // oracle, which is the PLAIN join — stay exact. The probe is pure
      // built-in Column arithmetic (whole-stage codegen); the build side
      // is an ObjectHashAggregate with an O(m) buffer merged per
      // partition partial.
      (s, d) => {
        import graft.functions.BloomFilter
        val dim = Tables.customer(s, d)
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"), col("c_name"))
        val (h1, h2) = BloomFilter.probes(col("c_custkey"))
        val bloomAgg = udaf(BloomFilter.agg(), org.apache.spark.sql.Encoders.product[BloomFilter.Probes])
        val bloom = dim.select(h1.as("h1"), h2.as("h2"))
          .agg(bloomAgg(col("h1"), col("h2")).as("bf"))
          .select(col("bf.bits").as("__bits"))
        val facts = Tables.orders(s, d)
          .join(broadcast(bloom))
          .filter(BloomFilter.mightContain(col("__bits"), col("o_custkey")))
        facts.join(dim, col("o_custkey") === col("c_custkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
          .orderBy(col("o_orderpriority"))
      },
      Some("SELECT o_orderpriority, count(*) AS n, " +
        "round(sum(o_totalprice), 2) AS total " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "WHERE c_mktsegment = 'BUILDING' " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
      "bloom-filter runtime-filtered join (exact result; probe prunes pre-shuffle)"),

    "q7_volume" -> DeclaredQuery(
      // TPC-H Q7 analog — the two-dimension-chain showcase: shipping
      // volume between CROSS-nation (supplier nation ≠ customer nation)
      // pairs per ship year. Both nation lookups ride broadcasts (via
      // supplier and customer, each joined to the tiny nation table
      // before touching facts); the only shuffles are the two fact
      // equi-joins. Output is bounded at #nations² × #years no matter
      // the corpus size. The ordered (supp < cust) pair keeps the
      // result one row per unordered pair-direction, as in Q7.
      (s, d) => {
        val nat = Tables.nation(s, d).select("n_nationkey", "n_name")
        val sup = Tables.supplier(s, d).join(broadcast(nat),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name").as("supp_nation"))
        val cust = Tables.customer(s, d).join(broadcast(nat),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("n_name").as("cust_nation"))
        val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
        // revenue in EXACT scaled integers (price and discount are 2dp:
        // cents × (100 − discount-bp) is an exact long) — the grouped
        // sums here are small enough that double summation order flips
        // the 2dp rounding on ~.xx5 boundaries (observed at sf0.01);
        // integer sums are order-independent on both engines.
        val l = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).cast("long").as("l_year"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_e4"))
        l.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .filter(col("supp_nation") < col("cust_nation"))
          .groupBy("supp_nation", "cust_nation", "l_year")
          .agg(sum(col("rev_e4")).as("__s"), count(lit(1)).as("n"))
          // HALF-UP to whole cents in pure integer arithmetic — no
          // double ever rounds, so no engine-dependent .xx5 behavior
          .select(col("supp_nation"), col("cust_nation"), col("l_year"),
            expr("CAST((__s + 50) div 100 AS BIGINT)").as("revenue_cents"),
            col("n"))
          .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      },
      Some("SELECT n2.n_name AS supp_nation, n1.n_name AS cust_nation, " +
        "CAST(year(l_shipdate) AS BIGINT) AS l_year, " +
        "CAST((sum(CAST(round(l_extendedprice * 100) AS BIGINT) * " +
        "(100 - CAST(round(l_discount * 100) AS BIGINT))) + 50) // 100 AS BIGINT) AS revenue_cents, count(*) AS n " +
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation n2 ON s_nationkey = n2.n_nationkey " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation n1 ON c_nationkey = n1.n_nationkey " +
        "WHERE n2.n_name < n1.n_name " +
        "GROUP BY 1, 2, 3 ORDER BY supp_nation, cust_nation, l_year"),
      "TPC-H Q7 analog: cross-nation shipping volume by nation pair and year"),

    "q6_forecast" -> DeclaredQuery(
      // TPC-H Q6 analog — the pure-scan showcase: no join, no window,
      // just predicates that must ALL reach the parquet scan (date
      // range, discount band, quantity cap) and a single-row aggregate.
      // At 100 TB this query is entirely IO-bound; the plan to demand
      // is scan-with-PushedFilters → partial agg → one 1-row exchange.
      // Revenue = sum(price × discount) in exact scaled integers
      // (q7_volume's idiom: discount-bp × cents is an exact long).
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .select((round(col("l_extendedprice") * 100).cast("long") *
          round(col("l_discount") * 100).cast("long")).as("__rev_e4"))
        .agg(expr("CAST((sum(__rev_e4) + 50) div 100 AS BIGINT)").as("revenue_cents"),
          count(lit(1)).as("n"))
        .orderBy(col("revenue_cents")),
      Some("SELECT CAST((sum(CAST(round(l_extendedprice * 100) AS BIGINT) * " +
        "CAST(round(l_discount * 100) AS BIGINT)) + 50) // 100 AS BIGINT) AS revenue_cents, " +
        "count(*) AS n FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01' " +
        "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24 " +
        "ORDER BY revenue_cents"),
      "TPC-H Q6 analog: all-predicates-pushed scan, single-row exact-cents aggregate"),

    "q12_priority" -> DeclaredQuery(
      // TPC-H Q12 analog — the conditional-count join: per returnflag,
      // how many lineitems belong to critical (1-URGENT / 2-HIGH)
      // orders vs not. The orders side projects to (key, one boolean)
      // before joining, and the conditional split is two sums inside
      // ONE aggregate pass — not two filtered scans. Pure integer
      // outputs: nothing to round.
      (s, d) => {
        val o = Tables.orders(s, d)
          .select(col("o_orderkey"),
            col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("__crit"))
        Tables.lineitem(s, d).select("l_orderkey", "l_returnflag")
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_returnflag")
          // Null-explicit: isin yields NULL for a null priority; the
          // oracle's CASE ... ELSE 1 counts those as regular, so spell
          // both branches with when/otherwise instead of (!__crit).
          .agg(sum(when(col("__crit"), 1L).otherwise(0L)).as("n_critical"),
            sum(when(col("__crit"), 0L).otherwise(1L)).as("n_regular"))
          .orderBy(col("l_returnflag"))
      },
      Some("SELECT l_returnflag, " +
        "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS n_critical, " +
        "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS n_regular " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
      "TPC-H Q12 analog: critical-vs-regular conditional counts in one pass"),

    "q14_promo" -> DeclaredQuery(
      // TPC-H Q14 analog — promotion revenue share for one ship month.
      // part broadcasts (it always fits relative to lineitem); both the
      // promo numerator and the total denominator are EXACT scaled-
      // integer sums from the same single aggregate, so the final share
      // is one double division of two identical longs on both engines.
      (s, d) => {
        val l = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
          .select(col("l_partkey"),
            (round(col("l_extendedprice") * 100).cast("long") *
              (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("__rev_e4"))
        l.join(broadcast(Tables.part(s, d).select("p_partkey", "p_type")),
            col("l_partkey") === col("p_partkey"))
          .agg(sum(when(col("p_type") === "PROMO", col("__rev_e4")).otherwise(0L)).as("__promo"),
            sum(col("__rev_e4")).as("__total"))
          .select(round(lit(100.0) * col("__promo") / col("__total"), 6).as("promo_share"),
            expr("CAST((__total + 50) div 100 AS BIGINT)").as("revenue_cents"))
          .orderBy(col("promo_share"))
      },
      Some("WITH l AS (SELECT l_partkey, CAST(round(l_extendedprice * 100) AS BIGINT) * " +
        "(100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_e4 FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01') " +
        "SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO' THEN rev_e4 ELSE 0 END) / sum(rev_e4), 6) AS promo_share, " +
        "CAST((sum(rev_e4) + 50) // 100 AS BIGINT) AS revenue_cents " +
        "FROM l JOIN part ON l_partkey = p_partkey ORDER BY promo_share"),
      "TPC-H Q14 analog: promo revenue share (exact integer sums, one division)"),

    "q4_priority_exists" -> DeclaredQuery(
      // TPC-H Q4 analog — the EXISTS/semi-join showcase: 1996 orders
      // with at least one lineitem shipped after the order date (the
      // fixture has no commit/receipt dates; shipped-late plays Q4's
      // late-commit flag), counted per priority. The semi join keeps
      // exactly one copy of each qualifying order however many
      // lineitems match, projects lineitem to (key, shipdate) before
      // shuffling, and the 1996 filter reaches the orders scan.
      (s, d) => {
        val o = Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
          .select("o_orderkey", "o_orderdate", "o_orderpriority")
        val l = Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
        o.join(l, col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate"), "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"))
          .orderBy(col("o_orderpriority"))
      },
      Some("SELECT o_orderpriority, count(*) AS n_orders FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01' " +
        "AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey " +
        "AND l_shipdate > o_orderdate) " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
      "TPC-H Q4 analog: per-priority count of orders with a late-shipped line (semi join)"),

    "q13_custdist" -> DeclaredQuery(
      // TPC-H Q13 analog — the outer-join distribution: orders per
      // customer (LEFT join so order-less customers count at 0), then
      // the distribution of customers over order counts. Two hash
      // aggregates; the second one's input is #customers rows, and its
      // output is bounded by the max order count per customer.
      (s, d) => {
        val c = Tables.customer(s, d).select("c_custkey")
        val o = Tables.orders(s, d).select("o_custkey", "o_orderkey")
        c.join(o, col("c_custkey") === col("o_custkey"), "left")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy("c_count")
          .agg(count(lit(1)).as("custdist"))
          .orderBy(desc("custdist"), desc("c_count"))
      },
      Some("WITH co AS (SELECT c_custkey, count(o_orderkey) AS c_count " +
        "FROM customer LEFT JOIN orders ON c_custkey = o_custkey GROUP BY c_custkey) " +
        "SELECT c_count, count(*) AS custdist FROM co GROUP BY c_count " +
        "ORDER BY custdist DESC, c_count DESC"),
      "TPC-H Q13 analog: distribution of customers by order count (left join + two aggs)"),

    "q15_top_supplier" -> DeclaredQuery(
      // TPC-H Q15 analog — revenue view + max selection: per-supplier
      // Q1-1996 revenue (exact e4 integers), then the supplier(s) whose
      // revenue equals the maximum. The max is a one-row aggregate over
      // the #suppliers-row revenue table, broadcast back as a cross
      // join — never a single-partition global window. Supplier names
      // ride a broadcast.
      (s, d) => {
        val rev = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
          .select(col("l_suppkey"),
            (round(col("l_extendedprice") * 100).cast("long") *
              (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_e4"))
          .groupBy("l_suppkey").agg(sum(col("rev_e4")).as("total_e4"))
        val top = rev.crossJoin(broadcast(rev.agg(max(col("total_e4")).as("__mx"))))
          .filter(col("total_e4") === col("__mx"))
        top.join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_name")),
            col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"),
            expr("CAST((total_e4 + 50) div 100 AS BIGINT)").as("revenue_cents"))
          .orderBy(col("s_suppkey"))
      },
      Some("WITH rev AS (SELECT l_suppkey, sum(CAST(round(l_extendedprice * 100) AS BIGINT) * " +
        "(100 - CAST(round(l_discount * 100) AS BIGINT))) AS total_e4 FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01' " +
        "GROUP BY l_suppkey) " +
        "SELECT s_suppkey, s_name, CAST((total_e4 + 50) // 100 AS BIGINT) AS revenue_cents " +
        "FROM rev JOIN supplier ON l_suppkey = s_suppkey " +
        "WHERE total_e4 = (SELECT max(total_e4) FROM rev) ORDER BY s_suppkey"),
      "TPC-H Q15 analog: top revenue supplier for a quarter (agg + one-row broadcast max)"),

    "q17_small_qty" -> DeclaredQuery(
      // TPC-H Q17 analog — the avg-broadcast-back pattern: revenue and
      // count of Brand#1 lineitems whose quantity is under 20% of that
      // part's average quantity. One scan of the brand's lineitems
      // (part broadcast) feeds BOTH the per-part average and the
      // filtered sum; the tiny averages table broadcasts back. The
      // average is exact-integer sum / count (quantities are integral
      // in the fixture), so the 0.2× threshold is bit-identical on
      // both engines.
      (s, d) => {
        val base = Tables.lineitem(s, d)
          .select("l_partkey", "l_quantity", "l_extendedprice")
          .join(broadcast(Tables.part(s, d).filter(col("p_brand") === "Brand#1")
            .select("p_partkey")), col("l_partkey") === col("p_partkey"))
        val avgs = base.groupBy("l_partkey")
          .agg((sum(round(col("l_quantity")).cast("long")).cast("double") /
            count(lit(1))).as("avg_qty"))
          .select(col("l_partkey").as("a_pk"), col("avg_qty"))
        base.join(broadcast(avgs), col("l_partkey") === col("a_pk"))
          .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
          .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_cents"),
            count(lit(1)).as("n"))
          .select(col("sum_cents"), col("n"))
          .orderBy(col("sum_cents"))
      },
      Some("WITH b AS (SELECT l_partkey, l_quantity, l_extendedprice FROM lineitem " +
        "JOIN part ON l_partkey = p_partkey WHERE p_brand = 'Brand#1'), " +
        "a AS (SELECT l_partkey AS a_pk, CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE) / count(*) AS avg_qty " +
        "FROM b GROUP BY l_partkey) " +
        "SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents, " +
        "count(*) AS n FROM b JOIN a ON l_partkey = a_pk " +
        "WHERE l_quantity < 0.2 * avg_qty ORDER BY sum_cents"),
      "TPC-H Q17 analog: small-quantity revenue vs per-part average (avg broadcast back)"),

    "q19_disjunction" -> DeclaredQuery(
      // TPC-H Q19 analog — the disjunctive-predicate join: revenue over
      // two (brand, size-range, quantity-range) OR-branches. The
      // part-only half of the disjunction is applied to the part side
      // BEFORE the join (the CNF factor Catalyst won't always extract),
      // so the broadcast carries only candidate parts; the full
      // disjunction re-checks after the join. Exact e4 revenue.
      (s, d) => {
        val b1p = col("p_brand") === "Brand#1" && col("p_size").between(1, 15)
        val b2p = col("p_brand") === "Brand#2" && col("p_size").between(10, 30)
        val p = Tables.part(s, d).filter(b1p || b2p)
          .select("p_partkey", "p_brand", "p_size")
        val l = Tables.lineitem(s, d)
          .select(col("l_partkey"), col("l_quantity"),
            (round(col("l_extendedprice") * 100).cast("long") *
              (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_e4"))
        l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .filter((b1p && col("l_quantity").between(1, 20)) ||
            (b2p && col("l_quantity").between(10, 30)))
          .agg(sum(col("rev_e4")).as("__s"), count(lit(1)).as("n"))
          .select(expr("CAST((__s + 50) div 100 AS BIGINT)").as("revenue_cents"), col("n"))
          .orderBy(col("revenue_cents"))
      },
      Some("SELECT CAST((sum(CAST(round(l_extendedprice * 100) AS BIGINT) * " +
        "(100 - CAST(round(l_discount * 100) AS BIGINT))) + 50) // 100 AS BIGINT) AS revenue_cents, " +
        "count(*) AS n FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20) " +
        "OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30) " +
        "ORDER BY revenue_cents"),
      "TPC-H Q19 analog: disjunctive brand/size/quantity revenue (part-side OR pre-filter)"),

    "q8_market_share" -> DeclaredQuery(
      // TPC-H Q8 analog — national market share: NATION_7 suppliers'
      // slice of ASIA-region customers' ECONOMY-part revenue per order
      // year. Every dimension chain (part filter, supplier→nation,
      // customer→nation→region) broadcasts; the only shuffles are the
      // two fact equi-joins (lineitem⋈orders, orders⋈customer). The
      // share is one double division of two exact-e4 integer sums from
      // the same aggregate — the q14 pattern over a 6-table join.
      (s, d) => {
        val nat = Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
        val asiaCust = Tables.customer(s, d)
          .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select("c_custkey")
        val sup = Tables.supplier(s, d)
          .join(broadcast(nat.select(col("n_nationkey").as("__snk"), col("n_name").as("supp_nation"))),
            col("s_nationkey") === col("__snk"))
          .select("s_suppkey", "supp_nation")
        val eco = Tables.part(s, d).filter(col("p_type") === "ECONOMY").select("p_partkey")
        val l = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            (round(col("l_extendedprice") * 100).cast("long") *
              (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_e4"))
          .join(broadcast(eco), col("l_partkey") === col("p_partkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        val o = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"),
            year(col("o_orderdate")).cast("long").as("o_year"))
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(asiaCust, col("o_custkey") === col("c_custkey"))
          .groupBy("o_year")
          .agg(sum(when(col("supp_nation") === "NATION_7", col("rev_e4"))
            .otherwise(0L)).as("__n7"),
            sum(col("rev_e4")).as("__tot"))
          .select(col("o_year"),
            round(col("__n7").cast("double") / col("__tot").cast("double"), 6).as("mkt_share"),
            expr("CAST((__tot + 50) div 100 AS BIGINT)").as("revenue_cents"))
          .orderBy(col("o_year"))
      },
      Some("SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, " +
        "round(CAST(sum(CASE WHEN sn.n_name = 'NATION_7' THEN rev_e4 ELSE 0 END) AS DOUBLE) / " +
        "CAST(sum(rev_e4) AS DOUBLE), 6) AS mkt_share, " +
        "CAST((sum(rev_e4) + 50) // 100 AS BIGINT) AS revenue_cents FROM " +
        "(SELECT l_orderkey, l_suppkey, CAST(round(l_extendedprice * 100) AS BIGINT) * " +
        "(100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_e4 FROM lineitem " +
        "JOIN part ON l_partkey = p_partkey WHERE p_type = 'ECONOMY') l " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation sn ON s_nationkey = sn.n_nationkey " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation cn ON c_nationkey = cn.n_nationkey " +
        "JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA' " +
        "GROUP BY 1 ORDER BY o_year"),
      "TPC-H Q8 analog: NATION_7 market share of ASIA ECONOMY revenue per year"),

    "q9_profit" -> DeclaredQuery(
      // TPC-H Q9 analog — profit per supplier nation per ship year:
      // revenue minus quantity × retail cost (the fixture has no
      // partsupp, so p_retailprice plays ps_supplycost). ALL arithmetic
      // is exact e4 integers — including the possibly-NEGATIVE profit,
      // which is emitted as raw e4 (never half-up-divided: integer div
      // truncates toward zero in Spark but floors in DuckDB, so signed
      // cents conversion is the one place the q7 rounding trick breaks).
      (s, d) => {
        val nat = Tables.nation(s, d).select("n_nationkey", "n_name")
        val sup = Tables.supplier(s, d)
          .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name").as("supp_nation"))
        val p = Tables.part(s, d)
          .select(col("p_partkey"),
            (round(col("p_retailprice") * 100).cast("long") * 100L).as("cost_e4"))
        Tables.lineitem(s, d)
          .select(col("l_partkey"), col("l_suppkey"),
            year(col("l_shipdate")).cast("long").as("l_year"),
            round(col("l_quantity")).cast("long").as("qty"),
            (round(col("l_extendedprice") * 100).cast("long") *
              (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("rev_e4"))
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .groupBy("supp_nation", "l_year")
          .agg(sum(col("rev_e4") - col("qty") * col("cost_e4")).as("profit_e4"),
            count(lit(1)).as("n"))
          .orderBy(col("supp_nation"), col("l_year"))
      },
      Some("SELECT n_name AS supp_nation, CAST(year(l_shipdate) AS BIGINT) AS l_year, " +
        "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * " +
        "(100 - CAST(round(l_discount * 100) AS BIGINT)) - " +
        "CAST(round(l_quantity) AS BIGINT) * CAST(round(p_retailprice * 100) AS BIGINT) * 100) AS BIGINT) AS profit_e4, " +
        "count(*) AS n FROM lineitem " +
        "JOIN part ON l_partkey = p_partkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "GROUP BY 1, 2 ORDER BY supp_nation, l_year"),
      "TPC-H Q9 analog: per-nation-per-year profit in exact signed e4 integers"),

    "q1_pricing" -> DeclaredQuery(
      // TPC-H Q1 analog — the full pricing summary: per (returnflag,
      // linestatus), sums of quantity / base price / discounted price /
      // charge plus three averages and a count, over one scan-and-agg.
      // Every sum is an exact scaled integer (qty ×1, price cents ×e2,
      // disc price ×e4, charge ×e6 — the e6 sum stays far inside long
      // range at fixture scale; a 100 TB run would bucket by month or
      // use decimal), and each average is ONE double division of two
      // exact integers — nothing order-dependent anywhere.
      (s, d) => {
        val cents = round(col("l_extendedprice") * 100).cast("long")
        val dbp = lit(100L) - round(col("l_discount") * 100).cast("long")
        val tbp = lit(100L) + round(col("l_tax") * 100).cast("long")
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") < lit("2001-01-01").cast("timestamp"))
          .select(col("l_returnflag"), col("l_linestatus"),
            round(col("l_quantity")).cast("long").as("qty"),
            cents.as("price_c"), (cents * dbp).as("disc_e4"),
            (cents * dbp * tbp).as("charge_e6"),
            round(col("l_discount") * 100).cast("long").as("disc_bp"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(sum(col("qty")).as("sum_qty"),
            sum(col("price_c")).as("sum_base_cents"),
            sum(col("disc_e4")).as("sum_disc_e4"),
            sum(col("charge_e6")).as("sum_charge_e6"),
            count(lit(1)).as("n"),
            sum(col("disc_bp")).as("__sd"))
          .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
            col("sum_base_cents"), col("sum_disc_e4"), col("sum_charge_e6"),
            round(col("sum_qty").cast("double") / col("n"), 6).as("avg_qty"),
            round(col("sum_base_cents").cast("double") / col("n") / 100.0, 6).as("avg_price"),
            round(col("__sd").cast("double") / col("n") / 100.0, 6).as("avg_disc"),
            col("n"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some("SELECT l_returnflag, l_linestatus, " +
        "CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty, " +
        "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents, " +
        "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS sum_disc_e4, " +
        "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT)) * (100 + CAST(round(l_tax * 100) AS BIGINT))) AS BIGINT) AS sum_charge_e6, " +
        "round(CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE) / count(*), 6) AS avg_qty, " +
        "round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / count(*) / 100.0, 6) AS avg_price, " +
        "round(CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) / count(*) / 100.0, 6) AS avg_disc, " +
        "count(*) AS n FROM lineitem WHERE l_shipdate < TIMESTAMP '2001-01-01' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
      "TPC-H Q1 analog: full pricing summary in exact scaled-integer sums"),

    "q2_min_supplier" -> DeclaredQuery(
      // TPC-H Q2 analog — correlated-min supplier selection: for each
      // ECONOMY part, the EUROPE-region supplier who has shipped it
      // (distinct lineitem pairs play partsupp) with the lowest account
      // balance. The argmin is a partial-aggregatable min_by over the
      // (balance, suppkey) struct — deterministic tie-break, no
      // per-group sort, one aggregate after the broadcast joins.
      (s, d) => {
        val es = Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)),
            col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d).filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("s_suppkey"), col("s_name"),
            round(col("s_acctbal") * 100).cast("long").as("bal_cents"))
        val eco = Tables.part(s, d).filter(col("p_type") === "ECONOMY")
          .select("p_partkey")
        Tables.lineitem(s, d).select("l_partkey", "l_suppkey").distinct()
          .join(broadcast(eco), col("l_partkey") === col("p_partkey"))
          .join(broadcast(es), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("l_partkey").as("p_partkey"))
          .agg(min_by(struct(col("s_suppkey"), col("s_name"), col("bal_cents")),
            struct(col("bal_cents"), col("s_suppkey"))).as("__w"))
          .select(col("p_partkey"), col("__w.s_suppkey").as("s_suppkey"),
            col("__w.s_name").as("s_name"), col("__w.bal_cents").as("bal_cents"))
          .orderBy(col("p_partkey"))
      },
      Some("WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem), " +
        "es AS (SELECT s_suppkey, s_name, CAST(round(s_acctbal * 100) AS BIGINT) AS bal_cents " +
        "FROM supplier JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'), " +
        "j AS (SELECT l_partkey AS p_partkey, s_suppkey, s_name, bal_cents, " +
        "row_number() OVER (PARTITION BY l_partkey ORDER BY bal_cents, s_suppkey) AS rn " +
        "FROM ps JOIN es ON l_suppkey = s_suppkey " +
        "JOIN part ON l_partkey = p_partkey WHERE p_type = 'ECONOMY') " +
        "SELECT p_partkey, s_suppkey, s_name, bal_cents FROM j WHERE rn = 1 " +
        "ORDER BY p_partkey"),
      "TPC-H Q2 analog: cheapest EUROPE supplier per ECONOMY part (min_by argmin)"),

    "q21_late_supplier" -> DeclaredQuery(
      // TPC-H Q21 analog — the double-correlated self-join: suppliers
      // who were the ONLY late shipper (>90 days after order date) in a
      // multi-supplier 'F' order. One F-order line projection feeds both
      // the late set and the all-pairs set (ReuseExchange collapses the
      // shared distinct); the EXISTS is a semi join, the NOT EXISTS an
      // anti join, both on (orderkey, suppkey≠) conditions.
      (s, d) => {
        val f = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderdate")
        val lines = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey", "l_shipdate")
          .join(f, col("l_orderkey") === col("o_orderkey"))
        val pairs = lines.select("l_orderkey", "l_suppkey").distinct()
        val late = lines
          .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
          .select("l_orderkey", "l_suppkey").distinct()
        late.as("t")
          .join(pairs.as("p"), col("t.l_orderkey") === col("p.l_orderkey") &&
            col("t.l_suppkey") =!= col("p.l_suppkey"), "left_semi")
          .join(late.as("x").select(col("l_orderkey").as("__xo"), col("l_suppkey").as("__xs")),
            col("t.l_orderkey") === col("__xo") && col("t.l_suppkey") =!= col("__xs"),
            "left_anti")
          .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_name")),
            col("t.l_suppkey") === col("s_suppkey"))
          .groupBy("s_name")
          .agg(count(lit(1)).as("numwait"))
          .orderBy(desc("numwait"), col("s_name"))
      },
      Some("WITH f AS (SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderstatus = 'F'), " +
        "l AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem JOIN f ON l_orderkey = o_orderkey), " +
        "late AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem JOIN f ON l_orderkey = o_orderkey " +
        "WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY) " +
        "SELECT s_name, count(*) AS numwait FROM late t " +
        "JOIN supplier ON t.l_suppkey = s_suppkey " +
        "WHERE EXISTS (SELECT 1 FROM l WHERE l.l_orderkey = t.l_orderkey AND l.l_suppkey <> t.l_suppkey) " +
        "AND NOT EXISTS (SELECT 1 FROM late x WHERE x.l_orderkey = t.l_orderkey AND x.l_suppkey <> t.l_suppkey) " +
        "GROUP BY s_name ORDER BY numwait DESC, s_name"),
      "TPC-H Q21 analog: sole late supplier in multi-supplier orders (semi + anti self-joins)"),

    "q22_inactive" -> DeclaredQuery(
      // TPC-H Q22 analog — scalar-subquery + anti-join: customers with
      // above-average balance (exact-cents average over positive
      // balances, one row broadcast) and NO orders since 2000, rolled
      // up per nation. The anti join projects orders to the key before
      // shuffling; nation names ride a broadcast. (The fixture has no
      // phone column, so nation plays Q22's country code.)
      (s, d) => {
        val cents = round(col("c_acctbal") * 100).cast("long")
        val c = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_nationkey"), cents.as("bal_cents"))
        // exact-integer sum then ONE double division (NOT avg(): Spark's
        // Average over longs runs a double sum buffer — order-dependent
        // past 2^53 total cents; the sum/count spelling stays exact and
        // matches the q1/q15/q17 average pattern)
        val avgPos = c.filter(col("bal_cents") > 0)
          .agg((sum(col("bal_cents")).cast("double") / count(lit(1))).as("__avg"))
        val recent = Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
          .select("o_custkey")
        c.crossJoin(broadcast(avgPos))
          .filter(col("bal_cents") > col("__avg"))
          .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
          .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_name")),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(count(lit(1)).as("n_cust"), sum(col("bal_cents")).as("total_cents"))
          .orderBy(col("n_name"))
      },
      Some("WITH c AS (SELECT c_custkey, c_nationkey, CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents FROM customer) " +
        "SELECT n_name, count(*) AS n_cust, CAST(sum(bal_cents) AS BIGINT) AS total_cents " +
        "FROM c JOIN nation ON c_nationkey = n_nationkey " +
        "WHERE bal_cents > (SELECT CAST(sum(bal_cents) AS DOUBLE) / count(*) FROM c WHERE bal_cents > 0) " +
        "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
        "AND o_orderdate >= TIMESTAMP '2000-01-01') " +
        "GROUP BY n_name ORDER BY n_name"),
      "TPC-H Q22 analog: wealthy inactive customers per nation (scalar avg + anti join)")
  )
}
