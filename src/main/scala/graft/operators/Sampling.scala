package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Util._

/** Training-data partitioning and mixing (north-star LLM-pipeline ops):
  * deterministic hash-gated train/val/test assignment and per-source
  * weighted corpus sampling.
  *
  * Both use the cross-engine bucket
  * `(md5_lower64(key) & 0x7FFFFFFF) % 1000` — the same value DuckDB
  * computes as `(md5_number_lower(key) & 2147483647) % 1000` — so both
  * queries are hash-checked against the oracle, not rows-only. Bucket
  * gating is the 100 TB-correct mechanism: assignment is a pure per-row
  * projection (no shuffle, no RNG state, no sampling drift between
  * runs/retries), stable under repartitioning, and new data lands in
  * splits at the configured ratios without touching old rows. The sample
  * gate salts the id with the source so mixing is independent of split
  * assignment. */
object Sampling {

  val queries: Map[String, Q] = Map(
    // ---- q179: stratified sample, EXACT proportional allocation —
    // ⌊100·n_lang/N⌋ docs per language in md5-hash order (q47/q48 keep
    // ratios only in expectation; eval sets need exact counts). The
    // sample itself is the gated output — reproducible bit-for-bit. ----
    "q179_stratified_sample" -> ((s, dir) => {
      import s.implicits._
      graft.api.Graft.proportionalSample(
          t(s, dir, "documents").select($"doc_id", $"lang"),
          "lang", "doc_id", sampleSize = 100)
        .orderBy($"lang", $"doc_id")
    }),

    // ---- q47: deterministic train/val/test split (800/100/100 permille) ----
    "q47_train_split" -> ((s, dir) => {
      import s.implicits._
      graft.api.Graft.assignSplit(t(s, dir, "documents"), "doc_id")
        .groupBy($"split")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"))
        .orderBy($"split")
    }),

    // ---- q48: weighted corpus mixing — single-digit sources keep 700
    // permille, the rest 300; gate salted with the source name ----
    "q48_corpus_sample" -> ((s, dir) => {
      import s.implicits._
      val rate = when(length($"source") === 4, 700).otherwise(300)
      val docs = graft.api.Graft.sampleGate(
        t(s, dir, "documents"), concat($"source", lit("|"), $"doc_id".cast(StringType)))
      docs.groupBy($"source")
        .agg(count(lit(1)).as("n_total"),
          count(when($"__gate" < rate, 1)).as("n_kept"))
        .orderBy($"source")
    }),

    // ---- q108: temperature-based source mixing (α-sampling) — quotas
    // ∝ √n_s of a 200-doc budget, filled by md5 rank. The per-source
    // summary pins the quota math AND the exact kept set (sum of kept
    // ids), hash-checked. ----
    "q108_temperature_mix" -> ((s, dir) => {
      import s.implicits._
      graft.api.Graft.temperatureMix(t(s, dir, "documents"), "source",
          "doc_id", totalTarget = 200L)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_kept"), max($"quota").as("quota"),
          sum($"doc_id").as("kept_id_sum"))
        .orderBy($"source")
    }),

    // ---- q213: repeat-upweighting mix plan — the "epochs per dataset"
    // table of the LLaMA/GPT reports: sqrt-temperature weights over
    // per-source token counts, a 200k-token budget, a 3-epoch cap, and
    // one documented redistribution round of the capped-off remainder.
    // q108 samples ROWS to hit a mix; this plans TOKEN BUDGETS and
    // repeat factors — the step before q208's epoch shuffle. ----
    "q213_mix_plan" -> ((s, dir) => {
      import s.implicits._
      val toks = t(s, dir, "documents")
        .withColumn("ts", expr("text_stats(text)"))
        .select($"source", $"ts.ws_tokens".cast(LongType).as("n_tok"))
      graft.api.Graft.mixPlan(toks, "n_tok", "source",
          budgetTokens = 200000L, maxEpochs = 3.0)
        .orderBy($"source")
    })
  )

  val oracle: Map[String, String] = Map(
    // stratified-sample twin: identical floor allocation and md5-order
    // within-stratum selection
    "q179_stratified_sample" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(md5_number_lower(CAST(doc_id AS VARCHAR))
        |      & 9223372036854775807::UBIGINT AS BIGINT) AS h
        |  FROM documents),
        |cnt AS (SELECT lang, COUNT(*) AS ng FROM d GROUP BY lang),
        |tot AS (SELECT COUNT(*) AS n FROM d),
        |alloc AS (SELECT lang, (100 * ng) // n AS take
        |          FROM cnt CROSS JOIN tot),
        |r AS (SELECT d.doc_id, d.lang,
        |        row_number() OVER (PARTITION BY d.lang ORDER BY d.h, d.doc_id)
        |          AS rn
        |      FROM d)
        |SELECT r.doc_id, r.lang FROM r JOIN alloc USING (lang)
        |WHERE rn <= take ORDER BY lang, doc_id""".stripMargin,

    "q47_train_split" ->
      """SELECT CASE WHEN b < 800 THEN 'train' WHEN b < 900 THEN 'val' ELSE 'test' END AS split,
        | COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM (SELECT n_chars,
        |        (md5_number_lower(CAST(doc_id AS VARCHAR)) & 2147483647::UBIGINT) % 1000 AS b
        |      FROM documents)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q48_corpus_sample" ->
      """SELECT source, COUNT(*) AS n_total,
        | COUNT(CASE WHEN (md5_number_lower(source || '|' || CAST(doc_id AS VARCHAR))
        |                    & 2147483647::UBIGINT) % 1000
        |              < (CASE WHEN length(source) = 4 THEN 700 ELSE 300 END)
        |            THEN 1 END) AS n_kept
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // mix-plan twin: nano-quantized sqrt weights summed exactly
    // (HUGEINT), micro-token allocations, identical single-expression
    // double conversions, one redistribution round
    "q213_mix_plan" ->
      """WITH d AS (
        |  SELECT source,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS nt
        |  FROM documents),
        |c AS (SELECT source, SUM(nt) AS n_tokens FROM d GROUP BY source),
        |w AS (SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
        |        CAST(ROUND(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000000.0)
        |          AS BIGINT) AS wq
        |      FROM c),
        |tt AS (SELECT SUM(wq) AS tw FROM w),
        |r1 AS (SELECT source, n_tokens, wq, tw,
        |         CAST(wq AS DOUBLE) * 200000.0 / CAST(tw AS DOUBLE) AS want,
        |         3.0 * CAST(n_tokens AS DOUBLE) AS cap
        |       FROM w CROSS JOIN tt),
        |r1b AS (SELECT *, (want >= cap) AS capped,
        |          CAST(ROUND(least(want, cap) * 1000000.0) AS BIGINT) AS a1q
        |        FROM r1),
        |t2 AS (SELECT SUM(a1q) AS a1, SUM(CASE WHEN NOT capped THEN wq
        |                                       ELSE 0 END) AS wu
        |       FROM r1b),
        |r2 AS (SELECT r1b.*, a1, wu,
        |         CASE WHEN capped OR wu = 0 THEN 0
        |              ELSE CAST(ROUND(CAST(200000000000 - a1 AS DOUBLE) *
        |                     CAST(wq AS DOUBLE) / CAST(wu AS DOUBLE)) AS BIGINT)
        |         END AS addq
        |       FROM r1b CROSS JOIN t2),
        |r3 AS (SELECT *, CAST(ROUND(cap * 1000000.0) AS BIGINT) AS capq,
        |         least(a1q + addq,
        |           CAST(ROUND(cap * 1000000.0) AS BIGINT)) AS a2q FROM r2)
        |SELECT source, n_tokens,
        |  CAST(wq AS DOUBLE) / CAST(tw AS DOUBLE) AS weight,
        |  (a2q = capq) AS capped,
        |  CAST(a2q AS DOUBLE) / 1000000.0 / CAST(n_tokens AS DOUBLE) AS epochs,
        |  CAST(a2q AS DOUBLE) / 1000000.0 AS alloc_tokens,
        |  CAST(a2q AS DOUBLE) / (200000.0 * 1000000.0) AS share
        |FROM r3 ORDER BY source""".stripMargin,

    // Replays the √n quota math (sqrt is IEEE-exact in both engines; the
    // k-row normalizing sum runs in the same source order) and the md5
    // rank fill.
    "q108_temperature_mix" ->
      """WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
        |w AS (SELECT source, n, sqrt(CAST(n AS DOUBLE)) AS wt FROM c),
        |s AS (SELECT source, n, wt,
        |        SUM(wt) OVER (ORDER BY source
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS tot
        |      FROM w),
        |q AS (SELECT source, n,
        |        CAST(FLOOR(CAST(200 AS DOUBLE) * wt / tot) AS BIGINT) AS quota
        |      FROM s),
        |r AS (SELECT source, doc_id,
        |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY
        |          (md5_number_lower(CAST(doc_id AS VARCHAR)) & 9223372036854775807::UBIGINT),
        |          doc_id) AS rk
        |      FROM documents)
        |SELECT q.source, COUNT(*) AS n_kept, q.quota,
        |       CAST(SUM(r.doc_id) AS BIGINT) AS kept_id_sum
        |FROM r JOIN q ON r.source = q.source
        |WHERE r.rk <= q.quota
        |GROUP BY q.source, q.quota
        |ORDER BY q.source""".stripMargin
  )
}
