package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.TextOps.words

/** q126/q127 — warehouse-hygiene pack (round 14): the relational-side
  * passes a table owner runs on every ingest —
  *
  *  - q126: ANALYZE-style COLUMN STATISTICS (row count, exact NDV, null
  *    count, min/max) — the cost-based-optimizer input as data: these
  *    are the numbers behind every broadcast-vs-shuffle and join-order
  *    decision this engine's plans rely on,
  *  - q127: REFERENTIAL-INTEGRITY audit — orphan foreign keys across
  *    the star schema (lineitem→orders→customer→nation), the quality
  *    gate that catches a partial load before queries silently lose
  *    rows to inner joins.
  *
  * Both oracle-gated.
  */
object PackStats {

  /** The audited columns: a representative slice of each fact/dim table
    * (keys, a numeric, a low-cardinality enum, a date).
    */
  private val Audited: Seq[(String, Seq[String])] = Seq(
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_returnflag",
      "l_quantity"),
    "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus"),
    "customer" -> Seq("c_custkey", "c_nationkey", "c_mktsegment"))

  /** q126 — column statistics: per audited column, row count, exact
    * distinct count, null count, and min/max rendered as strings (one
    * uniform output type across numeric/string/date columns; cast
    * before render so both engines format identically).
    *
    * Plan shape: TWO passes per table, both one shuffle or less. Pass 1
    * folds count/min/max/null-count for ALL columns in a single
    * aggregation (mergeable shard stats, map-side partials). Pass 2
    * computes ALL the exact NDVs together: unpivot the audited columns
    * to (col_name, value) pairs, distinct with MAP-SIDE partial
    * deduplication (an enum column's three values collapse before the
    * exchange — this is why the form beats Catalyst's multi-distinct
    * Expand, which shuffled rows×(cols+1) un-deduplicated: measured
    * 5.9 → 2.2 s at sf0.1), count per column. At 100 TB the exact NDV
    * swaps for q34's HLL or q106's KMV — the documented sketch path.
    */
  private val q126 = Q(
    "q126_column_stats",
    (s, d) => {
      val perTable = Audited.map { case (t, cols) =>
        val df = Tables.tbl(s, d, t)
        val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { c =>
          Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
            min(col(c)).cast("string").as(s"mn_$c"),
            max(col(c)).cast("string").as(s"mx_$c"))
        }
        val stacked = cols.map { c =>
          s"'$c', nn_$c, mn_$c, mx_$c"
        }.mkString(", ")
        val base = df.agg(aggs.head, aggs.tail: _*)
          .select(lit(t).as("tbl"), col("n_rows"),
            expr(s"stack(${cols.size}, $stacked)")
              .as(Seq("col_name", "n_null", "min_s", "max_s")))
        val ndv = df
          .select(explode(array(cols.map(c =>
            struct(lit(c).as("c"), col(c).cast("string").as("v"))): _*))
            .as("p"))
          .select(col("p.c").as("col_name"), col("p.v").as("v"))
          .filter(col("v").isNotNull)
          .distinct()
          .groupBy("col_name").agg(count(lit(1)).as("ndv"))
        // LEFT join + fill: a fully-null column has no NDV row (the
        // distinct pass drops nulls), and an inner join would silently
        // drop it from the report where the oracle's count(DISTINCT c)
        // reports ndv=0 (ADVICE r14 — latent until Audited grows a
        // nullable column)
        base.join(broadcast(ndv), Seq("col_name"), "left")
          .na.fill(0L, Seq("ndv"))
      }
      perTable.reduce(_.unionByName(_))
        .select("tbl", "col_name", "n_rows", "ndv", "n_null",
          "min_s", "max_s")
        .orderBy("tbl", "col_name")
    },
    Some(Audited.map { case (t, cols) =>
      cols.map { c =>
        s"""SELECT '$t' AS tbl, '$c' AS col_name,
            (SELECT count(*) FROM $t) AS n_rows,
            CAST(count(DISTINCT $c) AS BIGINT) AS ndv,
            CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
              AS n_null,
            CAST(min($c) AS VARCHAR) AS min_s,
            CAST(max($c) AS VARCHAR) AS max_s
            FROM $t"""
      }.mkString(" UNION ALL ")
    }.mkString(" UNION ALL ") + " ORDER BY tbl, col_name"),
    doc = "ANALYZE-style column stats: one all-columns aggregation pass " +
      "per table, stacked readout; exact NDV at gated SF with the " +
      "HLL/KMV sketch swap-in documented for scale")

  /** q127 — referential-integrity audit: for each declared foreign-key
    * edge, the child row count, the number of orphan child rows (FK
    * value absent from the parent), the distinct orphan key count, and
    * the orphan share in basis points. Healthy driver data reads all
    * zeros — the audit's steady-state — and any non-zero is the
    * partial-load alarm.
    *
    * Plan shape: each edge is a LEFT ANTI join on its key. Dim parents
    * (customer, nation) are hinted broadcast; the lineitem→orders edge
    * is deliberately UNHINTED — the size-based planner broadcasts the
    * distinct-orderkey side at the gated SFs and degrades to the q17
    * large-large SMJ shape on its own past the broadcast threshold,
    * which is the 100 TB posture. The per-edge readouts are 1-row
    * folds unioned — never a row-level union of the fact tables.
    */
  private val q127 = Q(
    "q127_fk_audit",
    (s, d) => {
      def edge(name: String, child: DataFrame, ck: String,
          parent: DataFrame, pk: String, bcast: Boolean) = {
        val par = parent.select(col(pk).as(ck)).distinct()
        val orphans = child.select(col(ck))
          .join(if (bcast) broadcast(par) else par, Seq(ck), "left_anti")
        val total = child.select(count(lit(1)).as("n_child"))
        orphans.agg(count(lit(1)).as("n_orphan"),
          countDistinct(col(ck)).as("n_orphan_keys"))
          .crossJoin(broadcast(total))
          .select(lit(name).as("edge"), col("n_child"), col("n_orphan"),
            col("n_orphan_keys"),
            expr("n_orphan * 10000 div n_child").as("orphan_bp"))
      }
      val li = Tables.lineitem(s, d)
      val or = Tables.orders(s, d)
      val cu = Tables.customer(s, d)
      val na = Tables.nation(s, d)
      Seq(
        edge("lineitem.l_orderkey->orders", li, "l_orderkey",
          or.select(col("o_orderkey").as("l_orderkey")), "l_orderkey",
          bcast = false),
        edge("orders.o_custkey->customer", or, "o_custkey",
          cu.select(col("c_custkey").as("o_custkey")), "o_custkey",
          bcast = true),
        edge("customer.c_nationkey->nation", cu, "c_nationkey",
          na.select(col("n_nationkey").as("c_nationkey")), "c_nationkey",
          bcast = true))
        .reduce(_.unionByName(_))
        .orderBy("edge")
    },
    Some("""
      SELECT 'lineitem.l_orderkey->orders' AS edge,
             (SELECT count(*) FROM lineitem) AS n_child,
             count(*) FILTER (o IS NULL) AS n_orphan,
             CAST(count(DISTINCT CASE WHEN o IS NULL THEN l_orderkey END)
               AS BIGINT) AS n_orphan_keys,
             count(*) FILTER (o IS NULL) * 10000
               // (SELECT count(*) FROM lineitem) AS orphan_bp
      FROM (SELECT l.l_orderkey, o.o_orderkey AS o FROM lineitem l
            LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
              ON l.l_orderkey = o.o_orderkey)
      UNION ALL
      SELECT 'orders.o_custkey->customer',
             (SELECT count(*) FROM orders),
             count(*) FILTER (c IS NULL),
             CAST(count(DISTINCT CASE WHEN c IS NULL THEN o_custkey END)
               AS BIGINT),
             count(*) FILTER (c IS NULL) * 10000
               // (SELECT count(*) FROM orders)
      FROM (SELECT o.o_custkey, c.c_custkey AS c FROM orders o
            LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
              ON o.o_custkey = c.c_custkey)
      UNION ALL
      SELECT 'customer.c_nationkey->nation',
             (SELECT count(*) FROM customer),
             count(*) FILTER (n IS NULL),
             CAST(count(DISTINCT CASE WHEN n IS NULL THEN c_nationkey END)
               AS BIGINT),
             count(*) FILTER (n IS NULL) * 10000
               // (SELECT count(*) FROM customer)
      FROM (SELECT c.c_nationkey, n.n_nationkey AS n FROM customer c
            LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n
              ON c.c_nationkey = n.n_nationkey)
      ORDER BY edge
    """),
    doc = "referential-integrity audit: left-anti orphan counts per FK " +
      "edge — dims broadcast, the fact edge shuffles key-partitioned " +
      "once; 1-row folds unioned")

  /** q129 — join-size estimation by CMS inner product (AMS/Alon-Matias-
    * Szegedy by way of Cormode-Muthukrishnan): the join-cardinality
    * numbers a cost-based planner wants BEFORE running the join, next
    * to the exact answers so the estimator's guarantee is gated AS DATA
    * (q93's device). Two edges: the self-join size of lineitem on
    * l_partkey (the second frequency moment F2 = Σc² — the skew number
    * that decides salting) and the lineitem⋈orders equi-join size
    * (Σ cA(k)·cB(k)). The CMS estimate is the MIN over hash rows of the
    * per-row sketch inner product — one-sided (≥ exact) by
    * construction, and every cell is deterministic integer arithmetic
    * over q93's explicit affine family applied to the KEY VALUE (keys
    * here fit well under the modulus; a wider key space hashes first —
    * q93's token path).
    *
    * The two edges are chosen to show BOTH regimes, which is the point
    * of gating err_bp as data: the F2 edge is skew-mass-dominated and
    * the sketch reads tight, while the key-unique orderkey join is
    * SPARSE — its exact size (‖a‖₁) is far below the collision mass
    * ‖a‖₁·‖b‖₁/W, so the estimate reads ~6× and the report SAYS so.
    * That readout is the planner's signal to fall back to the
    * NDV-containment estimate (q126's numbers) for key-unique edges —
    * the sketch telling you when it is the wrong tool is the behavior
    * a CBO needs.
    *
    * Plan shape: per side, ONE key-histogram fold (the corpus-sized
    * aggregation; map-side partials — counting again) cached; the
    * sketch folds from the histogram at key cardinality to ≤ D·W = 1024
    * cells (shard-mergeable by construction: the sketch of a union is
    * the sum), and the inner product is a 1024-row join + D-row fold.
    * The EXACT branch joins histograms at distinct-key cardinality —
    * the audit that doesn't scale; at 100 TB only the sketches travel
    * (2·D·W longs per table, whatever the data), which is the point.
    */
  private val q129 = Q(
    "q129_join_size_est",
    (s, d) => {
      val D = PackScale.Cms.D
      val W = PackScale.Cms.W
      val M = PackScale.Cms.M
      def cmsOf(hist: DataFrame): DataFrame =
        hist.select(col("c"), explode(array((0 until D).map(j =>
          struct(lit(j).as("dd"),
            expr(s"(key * ${PackScale.Cms.a(j)}L + " +
              s"${PackScale.Cms.c(j)}L) % ${M}L % ${W}L").as("w"))): _*))
          .as("p"))
          .select(col("c"), col("p.dd").as("dd"), col("p.w").as("w"))
          .groupBy("dd", "w").agg(sum("c").as("cnt"))
      def innerProduct(a: DataFrame, b: DataFrame) =
        a.join(b.withColumnRenamed("cnt", "cnt_b"), Seq("dd", "w"))
          .groupBy("dd").agg(sum(expr("cnt * cnt_b")).as("ip"))
          .agg(min("ip").as("est"))
      // ONE lineitem scan feeds both histograms: unpivot the two keys
      // (q126's device) and fold by (kind, key); the cache splits by a
      // metadata filter
      val liBoth = graft.ops.CacheScope.persisted(
        Tables.lineitem(s, d)
          .select(explode(array(
            struct(lit("p").as("kind"), col("l_partkey").as("key")),
            struct(lit("o").as("kind"), col("l_orderkey").as("key"))))
            .as("e"))
          .groupBy(col("e.kind").as("kind"), col("e.key").as("key"))
          .agg(count(lit(1)).as("c")))
      val liPart = liBoth.filter(col("kind") === "p").select("key", "c")
      val liOrd = liBoth.filter(col("kind") === "o").select("key", "c")
      val orOrd = graft.ops.CacheScope.persisted(
        Tables.orders(s, d).groupBy(col("o_orderkey").as("key"))
          .agg(count(lit(1)).as("c")))
      val selfExact = liPart.agg(sum(expr("c * c")).as("exact"))
      // self inner product = Σ cnt² per hash row: the sketch's (dd, w)
      // cells are UNIQUE (they are a groupBy's output), so joining the
      // sketch with itself pairs every cell with exactly itself — the
      // join and the second cmsOf evaluation were pure overhead (the
      // plan evaluated the explode+fold subtree twice; no exchange
      // reuse fired across the self-join). One sketch fold, zero joins;
      // the inner-product arithmetic is unchanged cell for cell
      // (round 22, guide §2.4)
      val selfEst = cmsOf(liPart)
        .groupBy("dd").agg(sum(expr("cnt * cnt")).as("ip"))
        .agg(min("ip").as("est"))
      val joinEx = liOrd.join(orOrd.withColumnRenamed("c", "cb"), "key")
        .agg(sum(expr("c * cb")).as("exact"))
      val r1 = selfExact.crossJoin(broadcast(selfEst))
        .select(lit("lineitem self-join on l_partkey (F2)").as("edge"),
          col("exact"), col("est"),
          expr("(est - exact) * 10000 div exact").as("err_bp"))
      val r2 = joinEx.crossJoin(broadcast(
        innerProduct(cmsOf(liOrd), cmsOf(orOrd))))
        .select(lit("lineitem x orders on orderkey").as("edge"),
          col("exact"), col("est"),
          expr("(est - exact) * 10000 div exact").as("err_bp"))
      r1.unionByName(r2).orderBy("edge")
    },
    Some {
      val D = PackScale.Cms.D
      val W = PackScale.Cms.W
      val M = PackScale.Cms.M
      def cells(j: Int) =
        s"(key * ${PackScale.Cms.a(j)} + ${PackScale.Cms.c(j)}) % $M % $W"
      def cmsSql(histCte: String) =
        s"""SELECT dd, w, CAST(sum(c) AS BIGINT) AS cnt FROM (
            ${(0 until D).map(j =>
          s"SELECT $j AS dd, ${cells(j)} AS w, c FROM $histCte")
          .mkString(" UNION ALL ")}) GROUP BY dd, w"""
      s"""
      WITH hp AS (SELECT l_partkey AS key, count(*) AS c FROM lineitem GROUP BY 1),
      ho AS (SELECT l_orderkey AS key, count(*) AS c FROM lineitem GROUP BY 1),
      hq AS (SELECT o_orderkey AS key, count(*) AS c FROM orders GROUP BY 1),
      cp AS (${cmsSql("hp")}),
      co AS (${cmsSql("ho")}),
      cq AS (${cmsSql("hq")}),
      e1 AS (SELECT CAST(sum(c * c) AS BIGINT) AS exact FROM hp),
      s1 AS (SELECT CAST(min(ip) AS BIGINT) AS est FROM (
               SELECT a.dd, sum(a.cnt * b.cnt) AS ip
               FROM cp a JOIN cp b ON a.dd = b.dd AND a.w = b.w
               GROUP BY a.dd)),
      e2 AS (SELECT CAST(sum(ho.c * hq.c) AS BIGINT) AS exact
             FROM ho JOIN hq USING (key)),
      s2 AS (SELECT CAST(min(ip) AS BIGINT) AS est FROM (
               SELECT a.dd, sum(a.cnt * b.cnt) AS ip
               FROM co a JOIN cq b ON a.dd = b.dd AND a.w = b.w
               GROUP BY a.dd))
      SELECT 'lineitem self-join on l_partkey (F2)' AS edge,
             exact, est, (est - exact) * 10000 // exact AS err_bp
      FROM e1 CROSS JOIN s1
      UNION ALL
      SELECT 'lineitem x orders on orderkey', exact, est,
             (est - exact) * 10000 // exact
      FROM e2 CROSS JOIN s2
      ORDER BY edge
    """
    },
    doc = "CMS-inner-product join-size estimation gated against exact: " +
      "key histograms fold once, sketches are 1024 mergeable cells, " +
      "estimate = min-over-rows inner product (one-sided >= exact)")

  /** q133 — RFM customer segmentation over orders (round 15): the
    * classic warehouse marketing readout — each customer scored by
    * Recency (days since last order, vs the corpus max date), Frequency
    * (order count) and Monetary (exact-decimal total), each mapped to
    * its quartile by the row-number device ((rank−1)·4 div n + 1 —
    * deterministic, tie-broken on custkey; ntile's remainder placement
    * is an engine-parity trapdoor), and the report is one row per
    * occupied segment with its customer count and exact money total.
    *
    * Plan shape: ONE orders shuffle (custkey fold); everything after
    * runs at CUSTOMER cardinality — the three rank windows are
    * unpartitioned by design over the post-aggregation frame (q119's
    * pattern, same swap-in: at 10⁸⁺ customers replace exact quartile
    * ranks with approx_percentile thresholds / q99's sketch readout;
    * the quartile SEMANTICS keep, only the rank device swaps). The
    * global max date is a 1-row broadcast.
    */
  private val q133 = Q(
    "q133_rfm_segments",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      // customer-cardinality cache: gmax and the ranked frame both read
      // it — uncached, the broadcast side re-ran the orders fold (a
      // second scan + shuffle; q130's doubling, caught by plan audit)
      val per = graft.ops.CacheScope.persisted(
        Tables.orders(s, d).groupBy(col("o_custkey"))
          .agg(max(col("o_orderdate")).as("last_d"),
            count(lit(1)).as("freq"),
            Det.dsum(col("o_totalprice")).as("money")))
      val gmax = per.agg(max("last_d").as("gmax"))
      val scored = per.crossJoin(broadcast(gmax))
        .withColumn("rec_days",
          datediff(col("gmax"), col("last_d")).cast("long"))
        .withColumn("nc", count(lit(1)).over(Window.partitionBy(lit(1))))
        .withColumn("rr", row_number().over(
          Window.orderBy(col("rec_days"), col("o_custkey"))).cast("long"))
        .withColumn("fr", row_number().over(
          Window.orderBy(col("freq"), col("o_custkey"))).cast("long"))
        .withColumn("mr", row_number().over(
          Window.orderBy(col("money"), col("o_custkey"))).cast("long"))
      scored
        .select(expr(
          "concat('r', cast((rr - 1) * 4 div nc + 1 as string), " +
            "'f', cast((fr - 1) * 4 div nc + 1 as string), " +
            "'m', cast((mr - 1) * 4 div nc + 1 as string))").as("segment"),
          col("money"))
        .groupBy("segment")
        .agg(count(lit(1)).as("n_customers"),
          Det.dsum(col("money")).as("money_total"))
        .orderBy("segment")
    },
    Some("""
      WITH per AS (SELECT o_custkey, max(o_orderdate) AS last_d,
               count(*) AS freq,
               cast(sum(cast(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS money
             FROM orders GROUP BY o_custkey),
      g AS (SELECT max(last_d) AS gmax FROM per),
      rk AS (SELECT o_custkey, freq, money,
               date_diff('day', cast(last_d AS DATE), cast(gmax AS DATE))
                 AS rec_days,
               count(*) OVER () AS nc,
               row_number() OVER (ORDER BY date_diff('day',
                 cast(last_d AS DATE), cast(gmax AS DATE)), o_custkey) AS rr,
               row_number() OVER (ORDER BY freq, o_custkey) AS fr,
               row_number() OVER (ORDER BY money, o_custkey) AS mr
             FROM per CROSS JOIN g)
      SELECT 'r' || CAST((rr - 1) * 4 // nc + 1 AS VARCHAR) ||
             'f' || CAST((fr - 1) * 4 // nc + 1 AS VARCHAR) ||
             'm' || CAST((mr - 1) * 4 // nc + 1 AS VARCHAR) AS segment,
             count(*) AS n_customers,
             cast(sum(cast(money AS DECIMAL(18,2))) AS DOUBLE)
               AS money_total
      FROM rk GROUP BY 1 ORDER BY segment
    """),
    doc = "RFM segmentation: one custkey fold, quartiles by the " +
      "row-number device at customer cardinality (approx-threshold " +
      "swap-in documented), exact-decimal money totals")

  /** q149 — per-source DATASHEET (round 15): the one-row-per-source
    * summary a dataset card ships with — documents, exact-dup documents
    * (sha2 within source) and their share, token and char totals, mean
    * doc length, dominant language with its share, and language count.
    * Each number exists elsewhere in the catalog as a full query
    * (q24 dedup, q26 token stats, q29 lang-id's dimension); this is
    * their roll-up into the publishable table, which is exactly how a
    * release pipeline consumes them.
    *
    * Plan shape: ONE corpus pass folds per-source counts/tokens AND the
    * sha-distinct side folds off a (source, sha) pre-dedup (map-side
    * partial dedup — q24's shape); the language breakdown folds at
    * (source, lang) cardinality with the dominant row settled by the
    * max-count device (tie on lang name — deterministic, no rank
    * window over anything corpus-sized). Everything joins back at
    * SOURCE cardinality, broadcast.
    */
  private val q149 = Q(
    "q149_source_datasheet",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val base = docs
        .select(col("source"),
          size(words(col("text"))).cast("long").as("n_toks"),
          col("n_chars"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("total_toks"),
          sum("n_chars").as("total_chars"))
      val distinctSha = docs
        .select(col("source"), sha2(col("text"), 256).as("h")).distinct()
        .groupBy("source").agg(count(lit(1)).as("n_distinct"))
      val langs = docs.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_l"))
      val topLang = langs
        .withColumn("r", row_number().over(Window.partitionBy("source")
          .orderBy(col("n_l").desc, col("lang"))))
        .filter(col("r") === 1)
        .select(col("source"), col("lang").as("top_lang"),
          col("n_l").as("top_lang_docs"))
      val nLangs = langs.groupBy("source")
        .agg(count(lit(1)).as("n_langs"))
      base
        .join(broadcast(distinctSha), "source")
        .join(broadcast(topLang), "source")
        .join(broadcast(nLangs), "source")
        .select(col("source"), col("n_docs"),
          (col("n_docs") - col("n_distinct")).as("dup_docs"),
          expr("(n_docs - n_distinct) * 10000 div n_docs").as("dup_bp"),
          col("total_toks"), col("total_chars"),
          expr("total_toks div n_docs").as("mean_toks"),
          col("top_lang"),
          expr("top_lang_docs * 10000 div n_docs").as("top_lang_bp"),
          col("n_langs"))
        .orderBy("source")
    },
    Some("""
      WITH base AS (SELECT source, count(*) AS n_docs,
               CAST(sum(len(list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0))) AS BIGINT) AS total_toks,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
             FROM documents GROUP BY source),
      ds AS (SELECT source, count(*) AS n_distinct
             FROM (SELECT DISTINCT source, sha256(text) FROM documents)
             GROUP BY source),
      lg AS (SELECT source, lang, count(*) AS n_l FROM documents
             GROUP BY 1, 2),
      tl AS (SELECT source, lang AS top_lang, n_l AS top_lang_docs
             FROM (SELECT *, row_number() OVER (PARTITION BY source
                     ORDER BY n_l DESC, lang) AS r FROM lg)
             WHERE r = 1),
      nl AS (SELECT source, count(*) AS n_langs FROM lg GROUP BY source)
      SELECT base.source, base.n_docs,
             base.n_docs - ds.n_distinct AS dup_docs,
             (base.n_docs - ds.n_distinct) * 10000 // base.n_docs AS dup_bp,
             base.total_toks, base.total_chars,
             base.total_toks // base.n_docs AS mean_toks,
             tl.top_lang,
             tl.top_lang_docs * 10000 // base.n_docs AS top_lang_bp,
             nl.n_langs
      FROM base JOIN ds USING (source) JOIN tl USING (source)
      JOIN nl USING (source)
      ORDER BY source
    """),
    doc = "per-source dataset datasheet: docs, exact-dup share, token/" +
      "char totals, mean length, dominant language + share, language " +
      "count — all folds, source-cardinality joins broadcast")

  /** q151 — revenue-concentration Gini per nation (round 15): how
    * unequally is order revenue distributed across a nation's
    * customers? Gini by the exact rank formula
    * `(2·Σ(i·xᵢ) − (n+1)·Σx) / (n·Σx)` over each nation's customers
    * sorted ascending by their cent-exact order total (rank i settled
    * by the row-number device, ties on custkey), reported in basis
    * points (0 = perfectly equal, →10⁴ = one customer is the whole
    * market). The concentration readout a revenue-risk dashboard
    * leads with — and exactly the same inequality math a data-mixture
    * owner runs over per-source token counts.
    *
    * Plan shape: one orders fold at customer cardinality, cents as
    * exact integers (DECIMAL(18,2)·100 — both engines round
    * identically), a nation-partitioned rank window over the customer
    * frame, and a 2-sum fold at nation cardinality. Magnitudes stay
    * within int64 through ~10⁶ customers·cents per nation; past that
    * the e-scaled sums move to DECIMAL(38) (q136's documented swap).
    */
  private val q151 = Q(
    "q151_revenue_gini",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val per = Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)
          .select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)
          .select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"), col("o_custkey"))
        .agg(expr("cast(sum(cast(o_totalprice as decimal(18,2))) * 100 " +
          "as bigint)").as("cents"))
      // the rank formula's cross terms overflow BIGINT long before
      // 100 TB (caught by the r19 sf1 scaling checkpoint under ANSI
      // mode: 2·swx·10⁴ ≈ 1.1e19 at 6k customers/nation) — the swx
      // aggregation and the numerator run in decimal(38,0); gini_bp
      // itself is ≤ 10⁴ so the readout stays BIGINT
      per
        .withColumn("i", row_number().over(Window.partitionBy("nation")
          .orderBy(col("cents"), col("o_custkey"))).cast("long"))
        .groupBy("nation")
        .agg(count(lit(1)).as("n_cust"),
          sum("cents").as("total_cents"),
          sum(expr("cast(i as decimal(38,0)) * cents")).as("swx"))
        .select(col("nation"), col("n_cust"), col("total_cents"),
          expr("cast((2 * swx - (cast(n_cust as decimal(38,0)) + 1) " +
            "* total_cents) * 10000 " +
            "div (cast(n_cust as decimal(38,0)) * total_cents) " +
            "as bigint)").as("gini_bp"))
        .orderBy("nation")
    },
    Some("""
      WITH per AS (SELECT n.n_name AS nation, o.o_custkey,
               CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) * 100
                 AS BIGINT) AS cents
             FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
             JOIN nation n ON c.c_nationkey = n.n_nationkey
             GROUP BY 1, 2),
      rk AS (SELECT nation, cents,
               row_number() OVER (PARTITION BY nation
                 ORDER BY cents, o_custkey) AS i
             FROM per),
      f AS (SELECT nation, count(*) AS n_cust,
              CAST(sum(cents) AS BIGINT) AS total_cents,
              sum(CAST(i AS HUGEINT) * cents) AS swx
            FROM rk GROUP BY nation)
      SELECT nation, n_cust, total_cents,
             CAST((2 * swx - (CAST(n_cust AS HUGEINT) + 1) * total_cents)
               * 10000 // (CAST(n_cust AS HUGEINT) * total_cents)
               AS BIGINT) AS gini_bp
      FROM f ORDER BY nation
    """),
    doc = "exact Gini per nation by the rank formula in integer cents: " +
      "customer fold, nation-partitioned rank window, 2-sum fold — " +
      "the revenue-concentration readout")

  /** q156 — order-to-ship latency SLA per priority (round 15): per
    * order priority, line count and exact p50/p90/max shipping latency
    * in days. The percentile device here is the SCALABLE one — q119's
    * rank window sorts the value frame, which is fine post-aggregation
    * but wrong on raw fact rows (a priority-partitioned rank would put
    * a fifth of the fact table through each of five tasks); instead the
    * fact folds ONCE to a (priority, lat_days) HISTOGRAM — bounded by
    * the latency domain (~hundreds of days), whatever the fact count —
    * and the exact percentile reads off the cumulative histogram:
    * p(q) = smallest day with cum ≥ ⌈q·n⌉. Same exact answer, state
    * bounded by the AXIS, not the data — the device q154's scaladoc
    * points at.
    *
    * Plan shape: one fact-sized fold (map-side partials on the tiny
    * key space), a priority-partitioned cumulative window over the
    * ≤ |priorities|·|days| frame, per-priority totals broadcast back,
    * one readout fold.
    */
  private val q156 = Q(
    "q156_ship_latency",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val hist = graft.ops.CacheScope.persisted(
        Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
          .join(Tables.orders(s, d)
            .select("o_orderkey", "o_orderdate", "o_orderpriority"),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_orderpriority").as("priority"),
            datediff(col("l_shipdate"), col("o_orderdate")).cast("long")
              .as("lat"))
          .groupBy("priority", "lat").agg(count(lit(1)).as("c")))
      val totals = hist.groupBy("priority").agg(sum("c").as("n"))
      hist
        .withColumn("cum", sum("c").over(Window.partitionBy("priority")
          .orderBy("lat").rowsBetween(Window.unboundedPreceding, 0)))
        .join(broadcast(totals), "priority")
        .groupBy("priority")
        .agg(max("n").as("n_lines"),
          min(when(col("cum") * 100 >= col("n") * 50, col("lat")))
            .as("p50_days"),
          min(when(col("cum") * 100 >= col("n") * 90, col("lat")))
            .as("p90_days"),
          max("lat").as("max_days"))
        .orderBy("priority")
    },
    Some("""
      WITH j AS (SELECT o.o_orderpriority AS priority,
               date_diff('day', cast(o.o_orderdate AS DATE),
                 cast(l.l_shipdate AS DATE)) AS lat
             FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      h AS (SELECT priority, lat, count(*) AS c FROM j GROUP BY 1, 2),
      t AS (SELECT priority, CAST(sum(c) AS BIGINT) AS n FROM h
            GROUP BY priority),
      cw AS (SELECT h.priority, h.lat, t.n,
               CAST(sum(h.c) OVER (PARTITION BY h.priority ORDER BY h.lat
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
             FROM h JOIN t USING (priority))
      SELECT priority, max(n) AS n_lines,
             CAST(min(CASE WHEN cum * 100 >= n * 50 THEN lat END)
               AS BIGINT) AS p50_days,
             CAST(min(CASE WHEN cum * 100 >= n * 90 THEN lat END)
               AS BIGINT) AS p90_days,
             CAST(max(lat) AS BIGINT) AS max_days
      FROM cw GROUP BY priority ORDER BY priority
    """),
    doc = "ship-latency SLA per priority: exact p50/p90 read off a " +
      "bounded (priority, day) cumulative histogram — one fact fold, " +
      "axis-sized state, never a fact-partitioned rank")

  /** q159 — declarative constraint audit (round 15): the data-validation
    * gate (the Deequ/Great-Expectations shape) a 100 TB ingest runs
    * BEFORE training ever sees a shard — a set of declared constraints
    * over orders (row-count floor, key uniqueness, completeness, range,
    * domain membership, regex pattern, and one deliberately strict
    * price floor that FAILS on this data so the report exercises both
    * verdict branches), evaluated in a fixed number of passes and
    * emitted as one (check, observed, pass) frame.
    *
    * Plan shape — the part that matters: SEVEN constraints cost TWO
    * folds, not seven scans. Every row-local check folds as an
    * indicator sum in a single per-orderkey pre-aggregation (map-side
    * partials; output is key-cardinality), which SIMULTANEOUSLY gives
    * uniqueness — dup rows = n_rows − n_keys — without a second
    * countDistinct pass (q126's partial-dedup device; a naive
    * agg(countDistinct, ...) would rewrite to the multi-distinct
    * Expand, re-scanning the fact per distinct). The global fold is
    * 1 row; the report rows explode from an in-memory array of structs
    * — adding a constraint is one struct literal, zero new passes.
    */
  private val q159 = Q(
    "q159_constraint_audit",
    (s, d) => {
      val perKey = Tables.orders(s, d)
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("c"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("nulls"),
          sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L))
            .as("nonpos"),
          // domain/pattern indicators are INVERTED (pass ⇒ 0, else 1) so
          // a NULL status/priority lands in the otherwise-branch and is
          // COUNTED as a violation — the direct `when(NOT in-domain, 1)`
          // form evaluates to NULL for null input and silently passes,
          // a semantic hole for a validation gate (ADVICE r15)
          sum(when(col("o_orderstatus").isin("O", "F", "P"), 0L)
            .otherwise(1L)).as("bad_status"),
          sum(when(col("o_orderpriority").rlike("^[1-5]-"), 0L)
            .otherwise(1L)).as("bad_prio"),
          sum(when(col("o_totalprice") < 5000, 1L).otherwise(0L))
            .as("below_floor"))
      perKey.agg(
        sum("c").as("n_rows"), count(lit(1)).as("n_keys"),
        sum("nulls").as("nulls"), sum("nonpos").as("nonpos"),
        sum("bad_status").as("bad_status"),
        sum("bad_prio").as("bad_prio"),
        sum("below_floor").as("below_floor"))
        .select(explode(array(
          struct(lit("c1_row_count_min_100").as("check_name"),
            col("n_rows").as("observed"),
            (col("n_rows") >= 100).cast("long").as("pass")),
          struct(lit("c2_orderkey_unique").as("check_name"),
            (col("n_rows") - col("n_keys")).as("observed"),
            (col("n_rows") === col("n_keys")).cast("long").as("pass")),
          struct(lit("c3_custkey_complete").as("check_name"),
            col("nulls").as("observed"),
            (col("nulls") === 0).cast("long").as("pass")),
          struct(lit("c4_totalprice_positive").as("check_name"),
            col("nonpos").as("observed"),
            (col("nonpos") === 0).cast("long").as("pass")),
          struct(lit("c5_status_in_domain").as("check_name"),
            col("bad_status").as("observed"),
            (col("bad_status") === 0).cast("long").as("pass")),
          struct(lit("c6_priority_pattern").as("check_name"),
            col("bad_prio").as("observed"),
            (col("bad_prio") === 0).cast("long").as("pass")),
          struct(lit("c7_totalprice_min_5000").as("check_name"),
            col("below_floor").as("observed"),
            (col("below_floor") === 0).cast("long").as("pass"))))
          .as("r"))
        .select(col("r.check_name").as("check_name"), col("r.observed"),
          col("r.pass"))
        .orderBy("check_name")
    },
    Some("""
      WITH k AS (SELECT o_orderkey, count(*) AS c,
               sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nulls,
               sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS nonpos,
               sum(CASE WHEN o_orderstatus IN ('O', 'F', 'P')
                 THEN 0 ELSE 1 END) AS bad_status,
               sum(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-')
                 THEN 0 ELSE 1 END) AS bad_prio,
               sum(CASE WHEN o_totalprice < 5000 THEN 1 ELSE 0 END)
                 AS below_floor
             FROM orders GROUP BY o_orderkey),
      g AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows, count(*) AS n_keys,
              CAST(sum(nulls) AS BIGINT) AS nulls,
              CAST(sum(nonpos) AS BIGINT) AS nonpos,
              CAST(sum(bad_status) AS BIGINT) AS bad_status,
              CAST(sum(bad_prio) AS BIGINT) AS bad_prio,
              CAST(sum(below_floor) AS BIGINT) AS below_floor
            FROM k)
      SELECT * FROM (
        SELECT 'c1_row_count_min_100' AS check_name, n_rows AS observed,
               CAST(n_rows >= 100 AS BIGINT) AS pass FROM g
        UNION ALL SELECT 'c2_orderkey_unique', n_rows - n_keys,
               CAST(n_rows = n_keys AS BIGINT) FROM g
        UNION ALL SELECT 'c3_custkey_complete', nulls,
               CAST(nulls = 0 AS BIGINT) FROM g
        UNION ALL SELECT 'c4_totalprice_positive', nonpos,
               CAST(nonpos = 0 AS BIGINT) FROM g
        UNION ALL SELECT 'c5_status_in_domain', bad_status,
               CAST(bad_status = 0 AS BIGINT) FROM g
        UNION ALL SELECT 'c6_priority_pattern', bad_prio,
               CAST(bad_prio = 0 AS BIGINT) FROM g
        UNION ALL SELECT 'c7_totalprice_min_5000', below_floor,
               CAST(below_floor = 0 AS BIGINT) FROM g)
      ORDER BY check_name
    """),
    doc = "declarative 7-constraint validation gate in TWO folds: " +
      "per-key indicator pre-aggregation gives uniqueness without a " +
      "countDistinct Expand, 1-row global fold, report rows explode " +
      "from struct literals")

  /** q165 — k-anonymity audit (round 15): the privacy-release gate.
    * Before a customer extract ships (to a vendor, an analyst, a
    * training corpus), the releasing side must know how identifiable
    * each row is under its QUASI-IDENTIFIERS — the attribute
    * combination an adversary can join to an external dataset. A row in
    * an equivalence class of size k hides among k−1 others; k < 5 is
    * the conventional re-identification-risk line (HIPAA Safe Harbor
    * reasoning, k-anonymity per Sweeney 2002 — public literature).
    *
    * QIDs here: (nation, market segment, account-balance band of 1000)
    * — the classic "coarse demographics still identify" trio. Output is
    * the CLASS-SIZE DISTRIBUTION: for each observed k, how many
    * classes, how many rows, the cumulative share of the population at
    * ≤ k (basis points), and the at-risk flag — the exact table a
    * data-protection review reads, plus the suppression cost of
    * enforcing k ≥ 5 (drop every at-risk row) as the cum share at k=4.
    *
    * Plan shape: two folds, both mergeable — customers → equivalence
    * classes (one exchange on the QID triple), classes → the k axis
    * (cardinality ≤ max class size). The running share is a window on
    * the k axis; totals ride a 1-row broadcast. floor() on the balance
    * band keeps negative balances exact in both engines.
    */
  private val q165 = Q(
    "q165_kanonymity",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val classes = Tables.customer(s, d)
        .select(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / lit(1000.0)).as("bal_band"))
        .groupBy("c_nationkey", "c_mktsegment", "bal_band")
        .agg(count(lit(1)).as("k"))
      val axis = classes.groupBy("k")
        .agg(count(lit(1)).as("n_classes"),
          (col("k") * count(lit(1))).as("n_rows"))
      val tot = axis.agg(sum("n_rows").as("n_all"))
      axis
        .withColumn("cum_rows", sum("n_rows").over(Window.orderBy("k")
          .rowsBetween(Window.unboundedPreceding, 0)))
        .crossJoin(broadcast(tot))
        .select(col("k"), col("n_classes"), col("n_rows"),
          expr("cum_rows * 10000 div n_all").as("cum_share_bp"),
          when(col("k") < 5, 1L).otherwise(0L).as("at_risk"))
        .orderBy("k")
    },
    Some("""
      WITH cls AS (SELECT c_nationkey, c_mktsegment,
               CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
               count(*) AS k
             FROM customer GROUP BY 1, 2, 3),
      ax AS (SELECT k, count(*) AS n_classes,
               k * count(*) AS n_rows
             FROM cls GROUP BY k),
      t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS n_all FROM ax)
      SELECT k, n_classes, n_rows,
             CAST(sum(n_rows) OVER (ORDER BY k
               ROWS UNBOUNDED PRECEDING) AS BIGINT) * 10000
               // n_all AS cum_share_bp,
             CAST(CASE WHEN k < 5 THEN 1 ELSE 0 END AS BIGINT) AS at_risk
      FROM ax CROSS JOIN t ORDER BY k
    """),
    doc = "k-anonymity class-size distribution over the (nation, " +
      "segment, balance-band) quasi-identifiers: two mergeable folds " +
      "(rows -> classes -> k axis), running share on the k axis, " +
      "1-row broadcast total — the privacy-release gate as data")

  val all: Seq[Q] = Seq(q126, q127, q129, q133, q149, q151, q156, q159,
    q165)
}
