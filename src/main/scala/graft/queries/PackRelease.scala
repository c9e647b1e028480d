package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.TextOps.words

/** q95 — the corpus RELEASE pipeline: the five separately-gated release
  * stages composed into one oracle-gated job, the q78 composition story
  * applied to the curation side. A real corpus release is not five jobs
  * — it is one plan in which each stage consumes the previous stage's
  * survivors:
  *
  *   quality gate (q57's global p10/p90 band) →
  *   exact dedup (q24's sha2 first-wins) →
  *   decontamination (q40's eval-shingle broadcast probe) →
  *   source quotas (q68's largest-remainder apportionment) →
  *   split assignment (q60's md5 buckets)
  *
  * returning the release manifest: one row per SHIPPED document with its
  * audit numbers (score, per-source rank, quota, split). Composition is
  * what the standalone gates cannot see: the percentile thresholds are
  * computed over the corpus the release actually draws from (eval rows
  * excluded), and the quotas apportion over the CLEANED corpus — dupes
  * and contaminated docs no longer eat budget, which is exactly why the
  * stages must run in this order in production.
  *
  * Scale posture, stage by stage (each inherited from the query that
  * proved it): the quality pass is two corpus scans (threshold fold +
  * survivor projection — q57's shape) feeding ONE survivor-cardinality
  * cached frame carrying (sha2, shingles) that the dedup fold, the
  * decon probe, the quota join, and the output all read; dedup shuffles
  * on the uniform sha2 key; the eval shingle set distinct-compresses
  * and BROADCASTS (the corpus never shuffles to meet it — q40/q88's
  * asymmetry); quota math is window functions over the source-
  * cardinality histogram in one single-partition stage (bounded by
  * |sources| whatever the corpus — fused in r15: the former
  * totals/extra 1-row aggregations each cost a sequential broadcast-
  * collect job, q95's measured tiny-job residue), with the literal
  * `rk <= B` conjunct keeping the WindowGroupLimit pushable below the
  * rank exchange; the split is a stateless md5 projection. Caches: 1
  * (survivors), scoped.
  */
object PackRelease {

  private val B = 200 // release budget (q68's)

  /** The release pipeline as a declarative [[graft.plans.StageGraph]]
    * (round 16 — VERDICT r15 item 6: the second pipeline on the DAG,
    * proving the abstraction generalizes beyond q78). Stage bodies are
    * VERBATIM the hand-wired r15 form; the q95 oracle hash plus the
    * existing PlanSpec pins (broadcasts, WindowGroupLimit, one cache,
    * fused quota windows) are what prove the re-expression changed
    * nothing. `base` is the one cached stage — the survivor frame
    * carrying (sha2, shingles) that dedup, decon, quota, and the
    * manifest all read.
    */
  private[graft] val stages: Seq[graft.plans.Stage] = {
    import graft.plans.Stage
    import org.apache.spark.sql.graftglue.ExprGlue
    def sh4 = ExprGlue.column(graft.expr.WordShingleStrings(
      ExprGlue.expression(words(col("text"))), 4))
    Seq(
      // stage 1: q57's score + global band — 1-row thresholds broadcast
      Stage.cached("base") { (s, d, _) =>
        val scored = Tables.documents(s, d).filter(col("doc_id") >= 25)
          .select(col("doc_id"), col("source"), col("n_chars"), col("text"),
            words(col("text")).as("ws"))
          .select(col("doc_id"), col("source"), col("n_chars"), col("text"),
            expr("size(array_distinct(ws)) * 10000L div greatest(size(ws), 1)" +
              " + length(text) * 100L div greatest(size(ws), 1)").as("score"))
        val thresholds = scored.agg(
          expr("percentile(score, 0.1)").as("lo"),
          expr("percentile(score, 0.9)").as("hi"))
        scored.crossJoin(broadcast(thresholds))
          .filter(col("score") >= col("lo") && col("score") <= col("hi"))
          .select(col("doc_id"), col("source"), col("n_chars"),
            col("score"), sha2(col("text"), 256).as("h"), sh4.as("shs"))
      },
      // stage 2: q24's first-wins exact dedup on the content hash
      Stage("dedup", "base") { (_, _, in) =>
        val base = in("base")
        val canon = base.groupBy("h").agg(min("doc_id").as("doc_id"))
          .select("doc_id")
        base.join(canon, Seq("doc_id"), "left_semi")
      },
      // stage 3: q40's decontamination — any shared eval 4-gram drops
      // the doc; the eval shingle set distinct-compresses and BROADCASTS
      Stage("clean", "dedup") { (s, d, in) =>
        val dedup = in("dedup")
        val evalSh = Tables.documents(s, d).filter(col("doc_id") < 25)
          .select(explode(sh4).as("sh")).distinct()
        val contam = dedup.select(col("doc_id"), explode(col("shs")).as("sh"))
          .join(broadcast(evalSh), Seq("sh"))
          .select("doc_id").distinct()
        dedup.join(contam, Seq("doc_id"), "left_anti")
      },
      // stage 4: q68's largest-remainder quotas over the CLEANED corpus.
      // The whole apportionment (grand total, base shares, leftover
      // seats, remainder ranks) is window functions over the |sources|-
      // row histogram in ONE single-partition stage — the r14 form ran
      // totals and extra as separate 1-row aggregations, each a
      // sequential broadcast-collect job; on a 131-query bench that
      // tiny-job scheduling residue was q95's measured overhead. The
      // frame is source-cardinality by construction, so the
      // single-partition window is bounded whatever the corpus size.
      Stage("quota", "clean") { (_, _, in) =>
        val wAll = Window.partitionBy(lit(1))
        in("clean").groupBy("source").agg(count(lit(1)).as("n"))
          .withColumn("nn", sum("n").over(wAll))
          .withColumn("base", expr(s"($B * n) div nn"))
          .withColumn("extra",
            lit(B) - sum(expr(s"($B * n) div nn")).over(wAll))
          .withColumn("rr", row_number().over(
            Window.orderBy(expr(s"($B * n) % nn").desc, col("source"))))
          .select(col("source"),
            (col("base") + when(col("rr") <= col("extra"), 1).otherwise(0))
              .as("quota"))
      },
      // stage 5: per-source rank against the broadcast quota (literal
      // rk <= B keeps WindowGroupLimit pushable below the rank
      // exchange) + q60's deterministic md5 split on the shipped rows
      Stage("manifest", "clean", "quota") { (_, _, in) =>
        val released = in("clean").join(broadcast(in("quota")), "source")
          .withColumn("rk", row_number().over(
            Window.partitionBy("source")
              .orderBy(col("n_chars").desc, col("doc_id"))))
          .filter(col("rk") <= lit(B) && col("rk") <= col("quota"))
        val hx = substring(md5(col("doc_id").cast("string")), 1, 2)
        released
          .select(col("doc_id"), col("source"), col("score"),
            col("quota"), col("rk"),
            when(hx < "cc", "train").when(hx < "e6", "val")
              .otherwise("test").as("split"))
          .orderBy("doc_id")
      })
  }

  private val q95 = Q(
    "q95_release_pipeline",
    (s, d) => graft.plans.StageGraph.compose(stages, "manifest")(s, d),
    Some(s"""
      WITH w AS (SELECT doc_id, source, n_chars, text, list_filter(string_split_regex(lower(text), '\\W+'), x -> len(x) > 0) AS ws FROM documents WHERE doc_id >= 25),
      s AS (SELECT doc_id, source, n_chars, text, ws, (CAST(len(list_distinct(ws)) AS BIGINT) * 10000) // greatest(len(ws), 1) + (CAST(length(text) AS BIGINT) * 100) // greatest(len(ws), 1) AS score FROM w),
      t AS (SELECT quantile_cont(score, 0.1) AS lo, quantile_cont(score, 0.9) AS hi FROM s),
      a AS (SELECT doc_id, source, n_chars, text, ws, score FROM s, t WHERE score >= lo AND score <= hi),
      canon AS (SELECT min(doc_id) AS doc_id FROM a GROUP BY sha256(text)),
      dd AS (SELECT a.* FROM a JOIN canon USING (doc_id)),
      shc AS (SELECT doc_id, unnest(CASE WHEN len(ws) >= 4 THEN list_distinct(list_transform(range(1, len(ws) - 2), i -> array_to_string(list_slice(ws, i, i + 3), ' '))) ELSE [] END) AS sh FROM dd),
      ev AS (SELECT DISTINCT unnest(CASE WHEN len(ws) >= 4 THEN list_distinct(list_transform(range(1, len(ws) - 2), i -> array_to_string(list_slice(ws, i, i + 3), ' '))) ELSE [] END) AS sh FROM (SELECT list_filter(string_split_regex(lower(text), '\\W+'), x -> len(x) > 0) AS ws FROM documents WHERE doc_id < 25)),
      contam AS (SELECT DISTINCT shc.doc_id FROM shc JOIN ev USING (sh)),
      cln AS (SELECT * FROM dd WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
      c AS (SELECT source, count(*) AS n FROM cln GROUP BY source),
      tt AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM c),
      b AS (SELECT source, n, ($B * n) // nn AS base, ($B * n) % nn AS rem FROM c CROSS JOIN tt),
      e AS (SELECT $B - CAST(sum(base) AS BIGINT) AS extra FROM b),
      q AS (SELECT source, base + CASE WHEN row_number() OVER (ORDER BY rem DESC, source) <= extra THEN 1 ELSE 0 END AS quota FROM b CROSS JOIN e),
      r AS (SELECT cln.doc_id, cln.source, cln.score, q.quota, row_number() OVER (PARTITION BY cln.source ORDER BY cln.n_chars DESC, cln.doc_id) AS rk FROM cln JOIN q USING (source))
      SELECT doc_id, source, score, quota, CAST(rk AS INTEGER) AS rk,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
                  ELSE 'test' END AS split
      FROM r WHERE rk <= quota ORDER BY doc_id
    """),
    doc = "corpus release pipeline: quality band -> exact dedup -> " +
      "decontamination -> largest-remainder quotas over the CLEANED " +
      "corpus -> md5 split; one composed plan, audit columns throughout")

  val all: Seq[Q] = Seq(q95)
}
