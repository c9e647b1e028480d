package graft.queries

import org.apache.spark.sql.functions._

/** Join pack — q13, q17, q18, q19 (SURVEY.md §2.5).
  *
  * J1's 1:1 left-outer enrichment shape (extract.py:197-215) plus the
  * engine-declared join strategies: broadcast hash (tiny dims — Catalyst
  * auto-broadcasts under the threshold), forced sort-merge for the
  * large-large case (at 100 TB orders⋈lineitem can never broadcast; the
  * `merge` hint makes the bench measure that plan at every SF), semi/anti,
  * and a band-limited range join against a broadcast boundary table (never
  * a full cartesian).
  */
object PackJoin {

  /** q13 — J1 left-outer enrich through the dim chain + A6 distinct agg.
    * nation/region are tiny at every SF → Catalyst broadcasts them; the
    * only shuffle is the final groupBy on 5 regions.
    */
  private val q13 = Q(
    "q13_join_enrich",
    (s, d) => {
      Tables.customer(s, d)
        .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"), "left")
        .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"), "left")
        .groupBy(col("r_name"))
        .agg(
          count(lit(1)).as("n_cust"),
          countDistinct(col("n_name")).as("n_nations"),
          Det.dsum(col("c_acctbal")).as("sum_bal"))
        .orderBy("r_name")
    },
    Some("""
      SELECT r_name, count(*) AS n_cust,
             count(DISTINCT n_name) AS n_nations,
             cast(sum(cast(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
      FROM customer
      LEFT JOIN nation ON c_nationkey = n_nationkey
      LEFT JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name ORDER BY r_name
    """),
    doc = "J1/A6: broadcast dim enrich + count distinct")

  /** q17 — large-large sort-merge join, orders⋈lineitem on orderkey.
    * Explicit `merge` hints: at bench SFs Catalyst would broadcast orders,
    * hiding the plan that actually runs at scale.
    */
  private val q17 = Q(
    "q17_smj",
    (s, d) => {
      Tables.lineitem(s, d).hint("merge")
        .join(Tables.orders(s, d).hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderstatus")
        .agg(
          count(lit(1)).as("n_items"),
          Det.dsum(col("l_quantity")).as("sum_qty"),
          Det.dsum4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
        .orderBy("o_orderkey")
    },
    Some("""
      SELECT o_orderkey, o_orderstatus, count(*) AS n_items,
             cast(sum(cast(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             cast(sum(cast(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,4))) AS DOUBLE) AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderkey, o_orderstatus
      ORDER BY o_orderkey
    """),
    doc = "sort-merge join large-large (hinted; broadcast impossible at scale)")

  /** q18 — left semi / left anti: customers with vs without orders,
    * counted per nation, tagged and unioned.
    */
  private val q18 = Q(
    "q18_semi_anti",
    (s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      val withO = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_nationkey").agg(count(lit(1)).as("n"))
        .withColumn("tag", lit("with"))
      val withoutO = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_nationkey").agg(count(lit(1)).as("n"))
        .withColumn("tag", lit("without"))
      withO.unionByName(withoutO)
        .select(col("tag"), col("c_nationkey"), col("n"))
        .orderBy("tag", "c_nationkey")
    },
    Some("""
      SELECT 'with' AS tag, c_nationkey, count(*) AS n
      FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      GROUP BY c_nationkey
      UNION ALL
      SELECT 'without' AS tag, c_nationkey, count(*) AS n
      FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      GROUP BY c_nationkey
      ORDER BY tag, c_nationkey
    """),
    doc = "left semi + left anti, tagged union")

  /** q19 — range (theta) join: orders against a 5-row price-band boundary
    * table, explicitly broadcast — the scale path for banded range joins
    * (band table stays driver-small; never an all-pairs cartesian).
    */
  private val q19 = Q(
    "q19_range_join",
    (s, d) => {
      val bands = Tables.region(s, d).select(
        col("r_regionkey").as("band_id"),
        (col("r_regionkey") * lit(100000.0)).as("lo"),
        ((col("r_regionkey") + 1) * lit(100000.0)).as("hi"))
      Tables.orders(s, d)
        .join(broadcast(bands),
          col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .groupBy("band_id")
        .agg(
          count(lit(1)).as("n_orders"),
          Det.dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("band_id")
    },
    Some("""
      WITH bands AS (
        SELECT r_regionkey AS band_id,
               r_regionkey * 100000.0 AS lo,
               (r_regionkey + 1) * 100000.0 AS hi
        FROM region)
      SELECT band_id, count(*) AS n_orders,
             cast(sum(cast(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
      GROUP BY band_id ORDER BY band_id
    """),
    doc = "band range join vs broadcast boundary table")

  /** q128 — the flagship OLAP composition: revenue by region × quarter
    * over the FULL star join (lineitem ⋈ orders ⋈ customer ⋈ nation ⋈
    * region) with ROLLUP subtotals and grand total — the multi-level
    * report shape (and the one SQL grouping surface — GROUPING SETS /
    * ROLLUP / grouping_id — the catalog lacked). Revenue rides the
    * exact-decimal device (Det.dsum4) so every subtotal level hashes
    * bit-for-bit; rollup NULLs render as '(all)' (the data has no real
    * nulls, so coalesce is unambiguous).
    *
    * Plan shape: the fact join (lineitem⋈orders) shuffles key-
    * partitioned (q17's shape, size-based at gated SFs); every dim hop
    * (customer, nation, region) broadcasts. Spark executes ROLLUP as
    * ONE Expand (×3 grouping sets) over the PRE-AGGREGATED join output
    * — partial aggregation runs below the expand, so the fact stream is
    * folded once, not three times. At 100 TB this is the report a
    * nightly build emits; nothing here is more than one fact shuffle.
    */
  private val q128 = Q(
    "q128_revenue_rollup",
    (s, d) => {
      // ORDER-cardinality pre-fold below the orders join (r16 — the
      // §7.5 experiment, measured in r16 on the CUBE sibling with a
      // per-query profiler since deleted: 2.59 → 1.40 s at sf0.1):
      // per-order line count + exact decimal revenue fold
      // map-side-partials through one fact exchange, so
      // the Expand multiplies ~orders rows, not ~lines — a 4× smaller
      // grouping-sets stream for one well-compressed shuffle. Decimal
      // addition is associative, so the two-level sum is bit-identical
      // to the per-line Det.dsum4.
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("rev"))
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("nl"),
          sum(col("rev").cast(org.apache.spark.sql.types
            .DecimalType(22, 4))).as("revd"))
      val or = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          concat(year(col("o_orderdate")), lit("-Q"),
            quarter(col("o_orderdate"))).as("qtr"))
      li.join(or, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)
          .select(col("r_regionkey"), col("r_name"))),
          col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("qtr"))
        .agg(grouping_id().cast("long").as("gid"),
          sum("nl").as("n_items"),
          sum("revd").cast("double").as("revenue"))
        .select(coalesce(col("r_name"), lit("(all)")).as("r_name"),
          coalesce(col("qtr"), lit("(all)")).as("qtr"),
          col("gid"), col("n_items"), col("revenue"))
        .orderBy("gid", "r_name", "qtr")
    },
    Some("""
      SELECT COALESCE(r_name, '(all)') AS r_name,
             COALESCE(qtr, '(all)') AS qtr,
             CAST(GROUPING(r_name, qtr) AS BIGINT) AS gid,
             count(*) AS n_items,
             cast(sum(cast(rev AS DECIMAL(22,4))) AS DOUBLE) AS revenue
      FROM (SELECT r_name,
              CAST(year(o_orderdate) AS VARCHAR) || '-Q' ||
                CAST(quarter(o_orderdate) AS VARCHAR) AS qtr,
              l_extendedprice * (1.0 - l_discount) AS rev
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey)
      GROUP BY ROLLUP(r_name, qtr)
      ORDER BY gid, r_name, qtr
    """),
    doc = "star-join revenue ROLLUP: one fact shuffle, broadcast dim " +
      "hops, Expand over pre-aggregated output, exact-decimal subtotals")

  /** q136 — market share (round 15, the TPC-H Q8 shape over this star):
    * revenue per nation WITHIN its region and year, with each nation's
    * share of the region-year total in basis points. q128 gives the
    * subtotals; this gives the normalized competitive readout a planner
    * actually charts.
    *
    * Plan shape: ONE fact shuffle (lineitem⋈orders on orderkey — the
    * planner picks broadcast at gated SFs and degrades to the q17 SMJ
    * shape past the threshold, q127's posture), three broadcast dim
    * hops, then a (region, nation, year) fold; the share normalizer is
    * a (region, year)-partitioned window over the ≤ |nations|·|years|
    * output frame — never the fact stream. Money travels as exact
    * integer ten-thousandths (the DECIMAL(22,4) cast both engines
    * round identically — q128's device), so the bp division is integer
    * end to end; at sums beyond ~9·10¹⁴ the e4 math moves to
    * DECIMAL(38) (documented swap, same shape).
    */
  private val q136 = Q(
    "q136_market_share",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        expr("cast(cast(l_extendedprice * (1 - l_discount) " +
          "as decimal(22,4)) * 10000 as bigint)").as("net4"))
      val or = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_custkey"), year(col("o_orderdate")).cast("long").as("yr"))
      val rev = li.join(or, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)
          .select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)
          .select("n_nationkey", "n_name", "n_regionkey")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region"), col("yr"),
          col("n_name").as("nation"))
        .agg(sum("net4").as("rev_e4"))
      rev
        .withColumn("tot_e4",
          sum("rev_e4").over(Window.partitionBy("region", "yr")))
        .select(col("region"), col("yr"), col("nation"), col("rev_e4"),
          expr("rev_e4 * 10000 div tot_e4").as("share_bp"))
        .orderBy("region", "yr", "nation")
    },
    Some("""
      WITH f AS (SELECT r_name AS region, year(o_orderdate) AS yr,
               n_name AS nation,
               CAST(sum(CAST(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(22,4)) * 10000 AS BIGINT)) AS BIGINT) AS rev_e4
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             JOIN customer ON o_custkey = c_custkey
             JOIN nation ON c_nationkey = n_nationkey
             JOIN region ON n_regionkey = r_regionkey
             GROUP BY 1, 2, 3),
      t AS (SELECT region, yr, CAST(sum(rev_e4) AS BIGINT) AS tot_e4
            FROM f GROUP BY 1, 2)
      SELECT f.region, f.yr, f.nation, f.rev_e4,
             f.rev_e4 * 10000 // t.tot_e4 AS share_bp
      FROM f JOIN t USING (region, yr) ORDER BY region, yr, nation
    """),
    doc = "nation market share within region-year: one fact shuffle, " +
      "broadcast dim hops, share via a window over the output frame; " +
      "exact integer e4 money")

  /** q138 — late-order priority count (round 15, the TPC-H Q4 shape):
    * per order priority, how many orders had AT LEAST ONE line item
    * shipped more than 60 days after the order date — the correlated
    * EXISTS surface as a catalog operator. Late = `datediff > 60` on
    * calendar dates (integer days, both engines).
    *
    * Plan shape: one LEFT SEMI join of orders against the late-filtered
    * lineitem projection on the orderkey — the semi stops at first
    * match, never multiplies rows (the EXISTS semantics in the join
    * algebra). Deliberately UNHINTED (q127's posture): at gated SFs the
    * planner broadcasts the late set, past the threshold it degrades to
    * the q17 large-large SMJ shape, both correct. The late filter
    * prunes lineitem BEFORE the join — only late lines travel.
    */
  private val q138 = Q(
    "q138_late_orders",
    (s, d) => {
      val late = Tables.lineitem(s, d)
        .join(Tables.orders(s, d).select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .filter(datediff(col("l_shipdate"), col("o_orderdate")) > 60)
        .select(col("l_orderkey"))
      Tables.orders(s, d)
        .join(late, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_late_orders"))
        .orderBy("o_orderpriority")
    },
    Some("""
      SELECT o_orderpriority, count(*) AS n_late_orders
      FROM orders o
      WHERE EXISTS (SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
        AND date_diff('day', cast(o.o_orderdate AS DATE),
              cast(l.l_shipdate AS DATE)) > 60)
      GROUP BY o_orderpriority ORDER BY o_orderpriority
    """),
    doc = "TPC-H Q4 shape: correlated EXISTS as one left-semi join on " +
      "the pre-filtered late set; unhinted so the planner degrades " +
      "broadcast->SMJ with scale")

  /** q139 — sole-blame late suppliers (round 15, the TPC-H Q21 shape):
    * for multi-supplier orders where EXACTLY ONE supplier shipped late,
    * blame that supplier — per supplier, the blamed-order count and its
    * nation. Q21's reference formulation is lineitem self-joined twice
    * (an exists + a not-exists against the same fact); here the whole
    * per-order decision is ONE orderkey-keyed fold — distinct-supplier
    * count and the late-supplier set fold together, the
    * exactly-one-blamed test is `size(set) = 1` on the folded row, and
    * the fact table is never self-joined at all. At 100 TB that is the
    * difference between one shuffle and three.
    *
    * Plan shape: lineitem⋈orders on the orderkey (unhinted — q138's
    * degradation story), ONE orderkey fold (collect_set hard-bounded by
    * suppliers-per-order), a supplier-cardinality count, and two
    * broadcast dim hops. The oracle reaches the same rows through
    * DuckDB's FILTERed list aggregates — independent mechanism, same
    * semantics.
    */
  private val q139 = Q(
    "q139_blame_supplier",
    (s, d) => {
      val blamed = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(Tables.orders(s, d).select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey")
        // BOTH statistics fold from one collect_list: a countDistinct
        // here would rewrite to a (orderkey, suppkey) pre-aggregation —
        // a SECOND fact-sized exchange (measured in the plan) — while
        // the per-order array is hard-bounded by lines-per-order
        .agg(expr("array_distinct(collect_list(l_suppkey))").as("supps"),
          expr("array_distinct(collect_list(CASE WHEN " +
            "datediff(l_shipdate, o_orderdate) > 60 " +
            "THEN l_suppkey END))").as("late_supps"))
        .withColumn("n_supp", size(col("supps")).cast("long"))
        .filter(col("n_supp") >= 2 && size(col("late_supps")) === 1)
        .select(element_at(col("late_supps"), 1).as("s_suppkey"))
        .groupBy("s_suppkey").agg(count(lit(1)).as("n_blamed"))
      blamed
        .join(broadcast(Tables.supplier(s, d)
          .select("s_suppkey", "s_name", "s_nationkey")), "s_suppkey")
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey").as("s_nationkey"),
            col("n_name").as("nation"))), "s_nationkey")
        .select(col("s_name"), col("nation"), col("n_blamed"))
        .orderBy(col("n_blamed").desc, col("s_name"))
    },
    Some("""
      WITH f AS (SELECT l.l_orderkey,
               count(DISTINCT l.l_suppkey) AS n_supp,
               list_distinct(list(l.l_suppkey) FILTER (
                 date_diff('day', cast(o.o_orderdate AS DATE),
                   cast(l.l_shipdate AS DATE)) > 60)) AS late_supps
             FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
             GROUP BY l.l_orderkey),
      b AS (SELECT late_supps[1] AS s_suppkey, count(*) AS n_blamed
            FROM f WHERE n_supp >= 2 AND len(late_supps) = 1
            GROUP BY 1)
      SELECT s.s_name, n.n_name AS nation, b.n_blamed
      FROM b JOIN supplier s USING (s_suppkey)
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      ORDER BY b.n_blamed DESC, s.s_name
    """),
    doc = "TPC-H Q21 shape as ONE orderkey fold: exactly-one-late-" +
      "supplier via bounded collect_set, no fact self-join; broadcast " +
      "supplier/nation hops")

  /** q141 — year-over-year revenue growth per nation (round 15): the
    * lag-window trend readout over q136's revenue frame — per (nation,
    * year), revenue, the prior year's revenue, and signed growth in
    * basis points; first observed year per nation is excluded (no
    * prior, not zero growth). Money rides the exact integer-e4 device.
    *
    * Plan shape: q136's exactly — one fact pass, broadcast dim hops,
    * (nation, year) fold — then a nation-partitioned lag window over
    * the ≤ |nations|·|years| output frame. The window never sees the
    * fact stream; partitions are bounded by the year count.
    */
  private val q141 = Q(
    "q141_yoy_growth",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        expr("cast(cast(l_extendedprice * (1 - l_discount) " +
          "as decimal(22,4)) * 10000 as bigint)").as("net4"))
      val or = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_custkey"), year(col("o_orderdate")).cast("long").as("yr"))
      val rev = li.join(or, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)
          .select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)
          .select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"), col("yr"))
        .agg(sum("net4").as("rev_e4"))
      rev
        .withColumn("prev_e4", lag("rev_e4", 1).over(
          Window.partitionBy("nation").orderBy("yr")))
        .filter(col("prev_e4").isNotNull)
        .select(col("nation"), col("yr"), col("rev_e4"), col("prev_e4"),
          expr("(rev_e4 - prev_e4) * 10000 div prev_e4").as("yoy_bp"))
        .orderBy("nation", "yr")
    },
    Some("""
      WITH f AS (SELECT n_name AS nation, year(o_orderdate) AS yr,
               CAST(sum(CAST(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(22,4)) * 10000 AS BIGINT)) AS BIGINT) AS rev_e4
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             JOIN customer ON o_custkey = c_custkey
             JOIN nation ON c_nationkey = n_nationkey
             GROUP BY 1, 2),
      l AS (SELECT nation, yr, rev_e4,
              lag(rev_e4) OVER (PARTITION BY nation ORDER BY yr) AS prev_e4
            FROM f)
      SELECT nation, yr, rev_e4, prev_e4,
             (rev_e4 - prev_e4) * 10000 // prev_e4 AS yoy_bp
      FROM l WHERE prev_e4 IS NOT NULL ORDER BY nation, yr
    """),
    doc = "YoY revenue growth per nation: one fact pass + broadcast " +
      "dims, lag window over the bounded (nation, year) frame, signed " +
      "bp growth, first year excluded")

  /** q143 — small-quantity revenue audit per brand (round 15, the
    * TPC-H Q17 shape): line items whose quantity is below 20% of their
    * PART's average (the "could have been batched" fulfillment-waste
    * signal), folded to per-brand counts and lost revenue. The
    * correlated scalar subquery (`qty < 0.2 * (SELECT avg ... same
    * part)`) is expressed as an integer cross-multiplication against
    * per-part windowed stats: `5·qty·n < Σqty` — no float average, no
    * parity trapdoor, no join-back.
    *
    * Plan shape: ONE fact shuffle — the per-part stats ride a window
    * PARTITIONED by partkey (partitions bounded by lines-per-part), so
    * the Q17 textbook form's second fact-sized exchange (fold + join
    * back on partkey) never exists. Brand attribution is a broadcast
    * part hop; the report folds at brand cardinality.
    */
  private val q143 = Q(
    "q143_small_qty_audit",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("l_partkey")
      Tables.lineitem(s, d)
        .select(col("l_partkey"),
          col("l_quantity").cast("long").as("qty"),
          expr("cast(cast(l_extendedprice * (1 - l_discount) " +
            "as decimal(22,4)) * 10000 as bigint)").as("net4"))
        .withColumn("sum_q", sum("qty").over(w))
        .withColumn("n_q", count(lit(1)).over(w))
        .filter(expr("5 * qty * n_q < sum_q"))
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"))
        .agg(count(lit(1)).as("n_small_lines"),
          sum("net4").as("lost_rev_e4"))
        .orderBy("brand")
    },
    Some("""
      WITH t AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
               CAST(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(22,4)) * 10000 AS BIGINT) AS net4,
               CAST(sum(CAST(l_quantity AS BIGINT))
                 OVER (PARTITION BY l_partkey) AS BIGINT) AS sum_q,
               count(*) OVER (PARTITION BY l_partkey) AS n_q
             FROM lineitem)
      SELECT p.p_brand AS brand, count(*) AS n_small_lines,
             CAST(sum(t.net4) AS BIGINT) AS lost_rev_e4
      FROM t JOIN part p ON t.l_partkey = p.p_partkey
      WHERE 5 * t.qty * t.n_q < t.sum_q
      GROUP BY 1 ORDER BY brand
    """),
    doc = "TPC-H Q17 shape in ONE fact shuffle: correlated scalar avg " +
      "as integer cross-multiplication over a partkey-partitioned " +
      "window, broadcast brand hop, brand-cardinality fold")

  /** q144 — top revenue supplier per nation (round 15, the TPC-H Q15
    * shape, tie-safe): revenue folds per supplier, and each nation
    * reports its maximum-revenue supplier(s) — ALL of them on a tie,
    * which is the Q15 subtlety a LIMIT 1 gets wrong. The max is a
    * window aggregate (not a rank) so ties survive by construction.
    *
    * Plan shape: one fact fold at supplier cardinality, broadcast
    * supplier/nation hops, then a nation-partitioned max window over
    * the supplier-cardinality frame — the fact stream never sees a
    * window or a second pass.
    */
  private val q144 = Q(
    "q144_top_supplier",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val rev = Tables.lineitem(s, d)
        .groupBy(col("l_suppkey"))
        .agg(expr("sum(cast(cast(l_extendedprice * (1 - l_discount) " +
          "as decimal(22,4)) * 10000 as bigint))").as("rev_e4"))
      rev
        .join(broadcast(Tables.supplier(s, d)
          .select("s_suppkey", "s_name", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)
          .select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .withColumn("mx", max("rev_e4").over(
          Window.partitionBy("n_name")))
        .filter(col("rev_e4") === col("mx"))
        .select(col("n_name").as("nation"), col("s_name"), col("rev_e4"))
        .orderBy("nation", "s_name")
    },
    Some("""
      WITH rev AS (SELECT l_suppkey,
               CAST(sum(CAST(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(22,4)) * 10000 AS BIGINT)) AS BIGINT) AS rev_e4
             FROM lineitem GROUP BY l_suppkey),
      j AS (SELECT n.n_name AS nation, s.s_name, rev.rev_e4,
              max(rev.rev_e4) OVER (PARTITION BY n.n_name) AS mx
            FROM rev JOIN supplier s ON rev.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey)
      SELECT nation, s_name, rev_e4 FROM j WHERE rev_e4 = mx
      ORDER BY nation, s_name
    """),
    doc = "TPC-H Q15 shape, tie-safe: supplier revenue fold, broadcast " +
      "hops, nation-partitioned max window at supplier cardinality — " +
      "ties survive")

  /** q146 — revenue CUBE over (nation, priority) (round 15): the
    * grouping-sets surface completed — q128 covers ROLLUP (the
    * hierarchy walk); CUBE adds the cross-tab's marginals in BOTH
    * directions plus the grand total, one Expand, four grouping
    * combinations, `grouping_id` disambiguating NULL-as-subtotal from
    * NULL-as-value exactly as q128 documents.
    *
    * Plan shape: q128's — one fact shuffle, broadcast dim hops, the
    * Expand multiplies the PRE-AGGREGATED stream (partial aggregation
    * below the exchange), never the raw fact rows.
    *
    * Stage economics, revised r16 (both rounds measured with per-query
    * profilers since deleted): the r15 audit read the pair as
    * join-scan-bound with the bare star join a ~1.0 s floor — but the
    * §7.5 pre-fold experiment found the real lever: folding lineitem to
    * ORDER cardinality below the orders join (one map-side-partialed
    * fact exchange) shrinks the Expand's input ~4× and measured **2.59 → 1.40 s** here and
    * 2.14 → 1.68 s on the q128 sibling. The two-level decimal sum is
    * associative, so the rework is hash-identical to the per-line
    * Det.dsum4 form.
    */
  private val q146 = Q(
    "q146_revenue_cube",
    (s, d) => {
      // q128's r16 order-cardinality pre-fold, measured HERE in r16
      // with a profiler since deleted: 2.59 → 1.40 s at sf0.1 — the
      // Expand multiplies ~orders rows instead of ~lines for one
      // map-side-partialed fact exchange; the two-level decimal sum is
      // exact (associative)
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("rev"))
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("nl"),
          sum(col("rev").cast(org.apache.spark.sql.types
            .DecimalType(22, 4))).as("revd"))
      val or = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderpriority").as("priority"))
      li.join(or, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .cube(col("n_name"), col("priority"))
        .agg(grouping_id().cast("long").as("gid"),
          sum("nl").as("n_items"),
          sum("revd").cast("double").as("revenue"))
        .select(coalesce(col("n_name"), lit("(all)")).as("nation"),
          coalesce(col("priority"), lit("(all)")).as("priority"),
          col("gid"), col("n_items"), col("revenue"))
        .orderBy("gid", "nation", "priority")
    },
    Some("""
      SELECT COALESCE(n_name, '(all)') AS nation,
             COALESCE(o_orderpriority, '(all)') AS priority,
             CAST(GROUPING(n_name, o_orderpriority) AS BIGINT) AS gid,
             count(*) AS n_items,
             cast(sum(cast(rev AS DECIMAL(22,4))) AS DOUBLE) AS revenue
      FROM (SELECT n_name, o_orderpriority,
              l_extendedprice * (1.0 - l_discount) AS rev
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey)
      GROUP BY CUBE(n_name, o_orderpriority)
      ORDER BY gid, nation, priority
    """),
    doc = "revenue CUBE over (nation, priority): one Expand over the " +
      "pre-aggregated stream, both marginals + grand total, " +
      "grouping_id discriminates subtotal rows")

  /** q157 — customer order-count distribution (round 15, the TPC-H Q13
    * shape): how many customers placed exactly k orders, INCLUDING the
    * k = 0 customers the inner join would silently drop — the
    * distribution every retention model is fitted against.
    *
    * Plan shape: Q13's reference formulation left-joins the raw orders
    * table onto customer and counts per customer — a fact-sized join
    * carrying customer attributes through the shuffle. Here orders
    * folds FIRST to per-custkey counts (one fact-sized fold with
    * map-side partials; output is custkey-cardinality), and only that
    * folded frame left-joins onto the customer keys — both join inputs
    * are custkey-cardinality, so the join shuffles |customers| rows
    * instead of |orders|. The zero-preservation is `coalesce(cnt, 0)`
    * on the outer join. The final histogram fold is k-cardinality
    * (≤ max orders per customer).
    */
  private val q157 = Q(
    "q157_order_count_dist",
    (s, d) => {
      val cnts = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("cnt"))
      Tables.customer(s, d).select(col("c_custkey"))
        .join(cnts, col("c_custkey") === col("o_custkey"), "left_outer")
        .select(coalesce(col("cnt"), lit(0L)).as("n_orders"))
        .groupBy("n_orders")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("n_customers").desc, col("n_orders").desc)
    },
    Some("""
      WITH oc AS (SELECT o_custkey, count(*) AS cnt FROM orders
                  GROUP BY o_custkey),
      pc AS (SELECT c.c_custkey,
               CAST(COALESCE(oc.cnt, 0) AS BIGINT) AS n_orders
             FROM customer c LEFT JOIN oc ON c.c_custkey = oc.o_custkey)
      SELECT n_orders, count(*) AS n_customers
      FROM pc GROUP BY n_orders
      ORDER BY n_customers DESC, n_orders DESC
    """),
    doc = "TPC-H Q13 shape: orders folded to custkey counts BEFORE the " +
      "outer join, zeros preserved by coalesce, k-cardinality histogram")

  /** q158 — dormant high-balance customers (round 15, the TPC-H Q22
    * shape): customers whose balance beats the positive-balance average
    * yet who placed NO order in the final year of the data — per
    * nation, how many and how much capital sits idle. Q22's two
    * subquery devices both appear: the scalar aggregate threshold and
    * the NOT EXISTS (here windowed to the trailing 365 days, because
    * this dataset gives every customer SOME order — "never ordered"
    * would gate an empty frame, and an empty frame hash-matches
    * anything).
    *
    * Plan shape: money rides the exact integer-cents device (the
    * DECIMAL(18,2) cast both engines round identically). The
    * positive-balance average is a 1-row (sum, count) fold broadcast
    * back, and the threshold test is the division-free cross-multiply
    * `bal_cents * n_pos > sum_cents` — integer-exact in both engines,
    * no float average to disagree over. The dormancy horizon is a
    * second 1-row broadcast (max orderdate), the recency test rides
    * integer datediff (no interval arithmetic for engines to disagree
    * over), and NOT EXISTS is one left-anti join against the
    * recent-orders custkey projection (unhinted — q138's
    * broadcast→SMJ degradation posture). Nothing here is fact-sized
    * except the single anti-join probe of the date-filtered fact
    * slice — and that filter reaches the scan.
    */
  private val q158 = Q(
    "q158_dormant_rich",
    (s, d) => {
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"),
          expr("cast(cast(c_acctbal as decimal(18,2)) * 100 as bigint)")
            .as("bal_cents"))
      val thr = cust.filter(col("bal_cents") > 0)
        .agg(sum("bal_cents").as("sum_cents"),
          count(lit(1)).as("n_pos"))
      val mx = Tables.orders(s, d).agg(max("o_orderdate").as("mo"))
      val recent = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderdate"))
        .crossJoin(broadcast(mx))
        .filter(datediff(col("mo"), col("o_orderdate")) < 365)
        .select(col("o_custkey"))
      cust
        .crossJoin(broadcast(thr))
        .filter(col("bal_cents") * col("n_pos") > col("sum_cents"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey").as("c_nationkey"),
            col("n_name").as("nation"))), "c_nationkey")
        .groupBy("nation")
        .agg(count(lit(1)).as("n_custs"),
          sum("bal_cents").as("total_cents"))
        .orderBy("nation")
    },
    Some("""
      WITH c AS (SELECT c_custkey, c_nationkey,
               CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                 AS bal_cents
             FROM customer),
      t AS (SELECT CAST(sum(bal_cents) AS BIGINT) AS sum_cents,
               count(*) AS n_pos
            FROM c WHERE bal_cents > 0),
      mx AS (SELECT max(o_orderdate) AS mo FROM orders)
      SELECT n.n_name AS nation, count(*) AS n_custs,
             CAST(sum(c.bal_cents) AS BIGINT) AS total_cents
      FROM c CROSS JOIN t CROSS JOIN mx
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE c.bal_cents * t.n_pos > t.sum_cents
        AND NOT EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
              AND date_diff('day', cast(o.o_orderdate AS DATE),
                    cast(mx.mo AS DATE)) < 365)
      GROUP BY n.n_name ORDER BY nation
    """),
    doc = "TPC-H Q22 shape: 1-row threshold + horizon folds broadcast, " +
      "division-free integer compare, integer-datediff recency, " +
      "left-anti NOT EXISTS on the date-filtered fact slice")

  /** q161 — market-basket co-purchase affinity (round 15): the top part
    * pairs by LIFT among pairs bought together in ≥ 3 orders, with
    * support and confidence — the frequent-2-itemset readout behind
    * every "customers also bought" surface, and the warehouse sibling
    * of q105's source-overlap lift (same statistic, transaction-keyed
    * instead of corpus-keyed).
    *
    * Plan shape: the fact folds ONCE, straight to per-order baskets
    * (collect_set dedups within the basket — a separate distinct pass
    * would be a second fact-sized exchange for nothing), and the
    * basket frame — order-cardinality, arrays bounded by
    * lines-per-order — is scope-cached for its three readers: pair
    * generation, part frequencies (explode of the cached arrays), and
    * the 1-row order total (a plain count, no countDistinct). Pairs
    * come from the per-basket combinations HOF — fan-out bounded by
    * C(lines-per-order, 2), never parts² — and fold to supports in
    * one exchange; the ≥ 3 support gate kills the heavy tail before
    * any join. Part frequencies and the order total broadcast onto
    * the surviving pairs, the lift/confidence arithmetic is integer
    * basis points end to end, and the literal top-10 rides
    * TakeOrderedAndProject — never a global sort of the pair frame.
    */
  private val q161 = Q(
    "q161_copurchase",
    (s, d) => {
      val baskets = graft.ops.CacheScope.persisted(
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"))
          .groupBy("l_orderkey")
          .agg(array_sort(collect_set(col("l_partkey"))).as("ps")))
      val pairs = baskets
        .filter(size(col("ps")) >= 2)
        .select(explode(expr(
          "flatten(transform(sequence(1, size(ps) - 1), " +
            "i -> transform(slice(ps, i + 1, size(ps) - i), " +
            "x -> struct(element_at(ps, i) AS pa, x AS pb))))")).as("p"))
        .groupBy(col("p.pa").as("part_a"), col("p.pb").as("part_b"))
        .agg(count(lit(1)).as("n_both"))
        .filter(col("n_both") >= 3)
      val freq = baskets.select(explode(col("ps")).as("l_partkey"))
        .groupBy("l_partkey").agg(count(lit(1)).as("nf"))
      val tot = baskets.agg(count(lit(1)).as("n_orders"))
      pairs
        .join(broadcast(freq.select(col("l_partkey").as("part_a"),
          col("nf").as("n_a"))), "part_a")
        .join(broadcast(freq.select(col("l_partkey").as("part_b"),
          col("nf").as("n_b"))), "part_b")
        .crossJoin(broadcast(tot))
        .select(col("part_a"), col("part_b"), col("n_both"),
          col("n_a"), col("n_b"),
          expr("n_both * 10000 div n_a").as("conf_bp"),
          expr("n_both * n_orders * 10000 div (n_a * n_b)").as("lift_bp"))
        .orderBy(col("lift_bp").desc, col("part_a"), col("part_b"))
        .limit(10)
    },
    Some("""
      WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      pr AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(*) AS n_both
             FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey < b.l_partkey
             GROUP BY 1, 2 HAVING count(*) >= 3),
      f AS (SELECT l_partkey, count(*) AS nf FROM items GROUP BY 1),
      t AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM items)
      SELECT pr.part_a, pr.part_b, pr.n_both,
             fa.nf AS n_a, fb.nf AS n_b,
             pr.n_both * 10000 // fa.nf AS conf_bp,
             pr.n_both * t.n_orders * 10000 // (fa.nf * fb.nf) AS lift_bp
      FROM pr JOIN f fa ON pr.part_a = fa.l_partkey
      JOIN f fb ON pr.part_b = fb.l_partkey
      CROSS JOIN t
      ORDER BY lift_bp DESC, part_a, part_b LIMIT 10
    """),
    doc = "frequent-pair mining: one cached item-set fold, basket-" +
      "bounded pair HOF, support gate before any join, broadcast " +
      "frequencies, integer lift/confidence, literal top-10")

  /** q167 — cross-nation trade flows (round 15): TPC-H Q7's shape
    * generalized (Q7 fixes one nation pair; `/root/reference` has no
    * SQL surface at all, so the shape is sourced from the public TPC-H
    * spec) — yearly revenue between every (supplier nation → customer
    * nation) pair with the two sides different: the trade-balance
    * matrix. Exercises the one join layout the catalog's star queries
    * don't: the SAME broadcast dimension (nation) joined TWICE under
    * two roles against one fact exchange.
    *
    * Plan shape: lineitem carries both l_suppkey and l_orderkey, so the
    * fact needs exactly ONE non-broadcast join — lineitem⋈orders on
    * orderkey (the only key too big to broadcast at 100 TB) — while
    * supplier, customer, and both nation roles ride broadcast hash
    * joins onto it. Aggregation lands on the (25×24×years)-bounded
    * pair-year frame; revenue sums through the exact DECIMAL device.
    */
  private val q167 = Q(
    "q167_nation_flows",
    (s, d) => {
      val nat = Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name"))
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("rev"))
      li.join(Tables.orders(s, d)
            .select(col("o_orderkey"), col("o_custkey"),
              year(col("o_orderdate")).cast("long").as("yr")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.supplier(s, d)
            .select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat.select(col("n_nationkey").as("sn_key"),
            col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("sn_key"))
        .join(broadcast(nat.select(col("n_nationkey").as("cn_key"),
            col("n_name").as("cust_nation"))),
          col("c_nationkey") === col("cn_key"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", "yr")
        .agg(count(lit(1)).as("n_items"), Det.dsum4(col("rev")).as("revenue"))
        .orderBy("supp_nation", "cust_nation", "yr")
    },
    Some("""
      SELECT supp_nation, cust_nation, yr, count(*) AS n_items,
             cast(sum(cast(rev AS DECIMAL(22,4))) AS DOUBLE) AS revenue
      FROM (SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
              CAST(year(o_orderdate) AS BIGINT) AS yr,
              l_extendedprice * (1.0 - l_discount) AS rev
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            JOIN nation cn ON c_nationkey = cn.n_nationkey
            WHERE sn.n_name <> cn.n_name)
      GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """),
    doc = "TPC-H Q7 generalized to the full trade-balance matrix: one " +
      "fact-fact exchange (lineitem x orders), supplier/customer and " +
      "BOTH nation roles broadcast, pair-year-bounded aggregation, " +
      "exact decimal revenue")

  val all: Seq[Q] = Seq(q13, q17, q18, q19, q128, q136, q138, q139,
    q141, q143, q144, q146, q157, q158, q161, q167)
}
