package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Util._

/** Data-quality / profiling family (q168–q170) — the first-contact and
  * continuous-audit operators a lake pipeline runs before and after
  * every ingest: a one-pass column profiler, a constraint audit
  * (uniqueness, referential integrity, domain, range — with
  * deterministically injected violations so the oracle gates real
  * counts, not four zeros), and a Benford leading-digit audit.
  *
  * Exactness: profiles stringify AFTER typed min/max aggregates (money
  * pre-cast to DECIMAL(18,2) so both engines render "1.00"); audits are
  * pure integer counts; Benford's expected curve is the identical
  * ln-chain both engines and the observed side is integer counts with
  * one division. */
object Quality {

  val queries: Map[String, Q] = Map(
    // ---- q300: differentially-private count release (Laplace
    // mechanism) — the privacy-preserving publication layer for
    // per-slice corpus statistics: per-source doc counts + Laplace
    // (sensitivity 1 / ε = 0.5) noise via the inverse CDF
    // L = −(1/ε)·sign(v−½)·ln(1−2|v−½|). The noise stream is
    // md5-derived per source so the MECHANISM (calibration, ε
    // accounting, inverse-CDF shape) is deterministic and hash-gated —
    // a production release swaps the hash for a CSPRNG (documented;
    // deterministic noise is a test harness, not a privacy guarantee).
    // The audit view deliberately shows true next to noisy. One keyed
    // aggregate + a projection; the ln output is micro-quantized (the
    // q297 libm lesson: transcendental OUTPUTS need the grain). ----
    "q300_dp_release" -> ((s, dir) => {
      val eps = 0.5
      val counts = t(s, dir, "documents").groupBy(col("source"))
        .agg(count(lit(1)).as("true_count"))
      val u = call_function("md5_lower64", concat(lit("dp:"), col("source")))
        .bitwiseAND(lit(Long.MaxValue)) % lit(1000000L)
      val v = (u.cast(DoubleType) + lit(0.5)) / lit(1000000.0)
      val lap = -lit(1.0 / eps) *
        when(v >= 0.5, lit(1.0)).otherwise(lit(-1.0)) *
        log(lit(1.0) - lit(2.0) * abs(v - lit(0.5)))
      counts
        .withColumn("lq", round(lap * lit(1.0e6)).cast(LongType))
        .select(col("source"), col("true_count"),
          (col("true_count").cast(DoubleType) +
            col("lq").cast(DoubleType) / lit(1.0e6)).as("noisy_count"),
          lit(eps).as("epsilon"),
          abs(col("lq").cast(DoubleType) / lit(1.0e6)).as("abs_noise"))
        .orderBy(col("source"))
    }),

    // ---- q168: column profiler over lineitem — null/distinct/min/max
    // per column in ONE aggregate pass (exact distincts → Spark plans
    // the Expand; the documented approx swap keeps the same shape at
    // extreme width). ----
    "q168_profile" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast(DecimalType(18, 2)).as("l_quantity"),
        col("l_extendedprice").cast(DecimalType(18, 2)).as("l_extendedprice"),
        col("l_returnflag"), col("l_shipdate"))
      graft.api.Graft.profileColumns(li,
          Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
            "l_returnflag", "l_shipdate"))
        .orderBy(col("col_name"))
    }),

    // ---- q169: constraint audit with DETERMINISTICALLY INJECTED
    // violations (orphan FKs every 997th order key, collapsed PK
    // line numbers every 499th, domain 'X' every 1009th, +100 quantity
    // every 1013th) — so the gate checks real violation counts, not
    // four trivial zeros. Each rule is one count aggregate. ----
    "q169_constraint_audit" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val orders = t(s, dir, "orders")
      val fkChild = li.withColumn("l_orderkey",
        when(col("l_orderkey") % 997 === 0, col("l_orderkey") + 1000000000L)
          .otherwise(col("l_orderkey")))
      val pkChild = li.withColumn("l_linenumber",
        when(col("l_orderkey") % 499 === 0, lit(1)).otherwise(col("l_linenumber")))
      val domChild = li.withColumn("l_returnflag",
        when(col("l_orderkey") % 1009 === 0, lit("X")).otherwise(col("l_returnflag")))
      val rngChild = li.withColumn("l_quantity",
        when(col("l_orderkey") % 1013 === 0, col("l_quantity") + 100.0)
          .otherwise(col("l_quantity")))
      graft.api.Graft.fkViolations(fkChild, "l_orderkey", orders, "o_orderkey")
        .unionAll(graft.api.Graft.uniqueViolations(pkChild,
          Seq("l_orderkey", "l_linenumber")))
        .unionAll(graft.api.Graft.domainViolations(domChild, "l_returnflag",
          Seq("A", "N", "R")))
        .unionAll(graft.api.Graft.rangeViolations(rngChild, "l_quantity", 1L, 50L))
        .orderBy(col("rule"))
    }),

    // ---- q170: Benford leading-digit audit of o_totalprice — digit
    // from the CENTS integer's string form (a ×100 shift preserves the
    // leading significant digit; no log10-at-power-boundary hazard),
    // expected = ln(1+1/d)/ln(10) as the identical chain both engines. ----
    "q170_benford" -> ((s, dir) =>
      graft.api.Graft.benfordAudit(t(s, dir, "orders"), "o_totalprice")
        .orderBy(col("digit"))),

    // ---- q188: functional-dependency audit — the count-based FD test
    // (|distinct A| = |distinct (A,B)|) over a candidate mix that spans
    // true keys (o_orderkey→o_custkey, n_nationkey→n_regionkey) and
    // expected failures (o_custkey→o_orderpriority, p_brand→p_type), so
    // the gate checks real violation counts in both directions, not a
    // column of TRUEs (q169's injected-violation discipline). ----
    "q188_fd_audit" -> ((s, dir) => {
      val g = graft.api.Graft
      g.fdAudit(t(s, dir, "orders"), "orders",
          Seq(("o_orderkey", "o_custkey"), ("o_custkey", "o_orderpriority")))
        .unionAll(g.fdAudit(t(s, dir, "part"), "part",
          Seq(("p_partkey", "p_name"), ("p_brand", "p_type"))))
        .unionAll(g.fdAudit(t(s, dir, "nation"), "nation",
          Seq(("n_nationkey", "n_regionkey"))))
        .unionAll(g.fdAudit(t(s, dir, "lineitem"), "lineitem",
          Seq(("l_orderkey", "l_returnflag"))))
        .orderBy(col("fd"))
    }),

    // ---- q236: k-anonymity / l-diversity release audit — can a row
    // hide in the crowd of customers sharing its (nation, segment)
    // quasi-identifier tuple, and do those crowds carry diverse account
    // balances (banded to $1000)? One row per observed class size, the
    // at_risk flag at k=5 — the privacy gate a dataset passes before
    // leaving the pipeline. ----
    "q236_k_anonymity" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .withColumn("acct_band",
          floor(col("c_acctbal") / 1000.0).cast(LongType))
      graft.api.Graft.kAnonymityAudit(c, Seq("c_nationkey", "c_mktsegment"),
          "acct_band", k = 5)
        .orderBy(col("class_size"))
    }),

    // ---- q264: Unicode hygiene audit — the mojibake / mixed-script /
    // denormalization screen a multilingual crawl runs before langid and
    // dedup (two byte-different spellings of one grapheme defeat exact
    // dedup). Non-NFC sequences and a confusable Cyrillic 'е' are
    // injected DETERMINISTICALLY (combining acute after every 'a',
    // U+0435 for every 'e') so both engines exercise real normalization:
    // codepoints saved by NFC, combining-mark count, Cyrillic count, and
    // changed-doc count per source — all exact integers; character
    // classes are counted as length deltas (one regexp_replace, no
    // per-char explode). Spark side runs the codegen'd NfcNormalize
    // (java.text.Normalizer); DuckDB replays with utf8proc's
    // nfc_normalize — agreement IS the gate. ----
    "q264_unicode_hygiene" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("t2", regexp_replace(
          regexp_replace(col("text"), "a", "á"), "e", "е"))
        .withColumn("n_cp", length(col("t2")).cast(LongType))
        .withColumn("n_nfc", length(expr("nfc_normalize(t2)")).cast(LongType))
        .withColumn("n_comb", (length(col("t2")) -
          length(regexp_replace(col("t2"), "[̀-ͯ]", "")))
          .cast(LongType))
        .withColumn("n_cyr", (length(col("t2")) -
          length(regexp_replace(col("t2"), "[Ѐ-ӿ]", "")))
          .cast(LongType))
      d.groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_cp")).as("cp_total"),
          sum(col("n_cp") - col("n_nfc")).as("cp_saved_nfc"),
          sum(col("n_comb")).as("n_combining"),
          sum(col("n_cyr")).as("n_cyrillic"),
          count(when(col("n_nfc") =!= col("n_cp"), 1)).as("n_docs_changed"))
        .orderBy(col("source"))
    }),

    // ---- q256: group-fairness audit — per-segment selection rates for
    // the acctbal>5000 decision, disparate impact vs the best-treated
    // segment, four-fifths-rule flags (cross-multiplied, never a float
    // threshold). The governance gate beside q236's privacy gate. ----
    "q256_fairness_audit" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .withColumn("approved", (col("c_acctbal") > 5000.0).cast(LongType))
      graft.api.Graft.fairnessAudit(c, "c_mktsegment", "approved")
        .orderBy(col("grp"))
    })
  )

  val oracle: Map[String, String] = Map(
    // DP-release twin: the same md5-uniform draw, inverse-CDF Laplace,
    // micro-quantized ln output, identical fixed double chains
    "q300_dp_release" ->
      """WITH counts AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS true_count
        |  FROM documents GROUP BY source),
        |noise AS (
        |  SELECT source, true_count,
        |    CAST(ROUND(
        |      -(1.0 / 0.5)
        |      * (CASE WHEN (CAST((md5_number_lower('dp:' || source)
        |            & 9223372036854775807::UBIGINT) % 1000000 AS DOUBLE)
        |            + 0.5) / 1000000.0 >= 0.5 THEN 1.0 ELSE -1.0 END)
        |      * ln(1.0 - 2.0 * abs((CAST((md5_number_lower('dp:' || source)
        |            & 9223372036854775807::UBIGINT) % 1000000 AS DOUBLE)
        |            + 0.5) / 1000000.0 - 0.5))
        |      * 1000000.0) AS BIGINT) AS lq
        |  FROM counts)
        |SELECT source, true_count,
        |  CAST(true_count AS DOUBLE) + CAST(lq AS DOUBLE) / 1000000.0
        |    AS noisy_count,
        |  CAST(0.5 AS DOUBLE) AS epsilon,
        |  abs(CAST(lq AS DOUBLE) / 1000000.0) AS abs_noise
        |FROM noise ORDER BY source""".stripMargin,

    // q264 twin: identical deterministic injection (chr() keeps the
    // oracle ASCII-only — no encoding hazards in the JSON transport),
    // utf8proc's nfc_normalize vs the Spark side's java.text.Normalizer,
    // the same length-delta character-class counts ('g' flags where the
    // Spark side replaces all)
    "q264_unicode_hygiene" ->
      """WITH t AS (
        |  SELECT source,
        |    regexp_replace(regexp_replace(text, 'a', 'a' || chr(769), 'g'),
        |      'e', chr(1077), 'g') AS t2
        |  FROM documents),
        |m AS (
        |  SELECT source,
        |    length(t2) AS n_cp,
        |    length(nfc_normalize(t2)) AS n_nfc,
        |    length(t2) - length(regexp_replace(t2,
        |      '[' || chr(768) || '-' || chr(879) || ']', '', 'g')) AS n_comb,
        |    length(t2) - length(regexp_replace(t2,
        |      '[' || chr(1024) || '-' || chr(1279) || ']', '', 'g')) AS n_cyr
        |  FROM t)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_cp) AS BIGINT) AS cp_total,
        |  CAST(SUM(n_cp - n_nfc) AS BIGINT) AS cp_saved_nfc,
        |  CAST(SUM(n_comb) AS BIGINT) AS n_combining,
        |  CAST(SUM(n_cyr) AS BIGINT) AS n_cyrillic,
        |  CAST(COUNT(CASE WHEN n_nfc <> n_cp THEN 1 END) AS BIGINT) AS n_docs_changed
        |FROM m GROUP BY source ORDER BY source""".stripMargin,

    // k-anonymity twin: identical $1000 banding, the same two-level
    // class-size / diversity aggregation, pure integer counts
    "q236_k_anonymity" ->
      """WITH b AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS acct_band
        |  FROM customer),
        |cls AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(COUNT(*) AS BIGINT) AS class_size,
        |    CAST(COUNT(DISTINCT acct_band) AS BIGINT) AS l
        |  FROM b GROUP BY 1, 2)
        |SELECT class_size, CAST(COUNT(*) AS BIGINT) AS n_classes,
        |  CAST(class_size * COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(MIN(l) AS BIGINT) AS min_l_diversity,
        |  class_size < 5 AS at_risk
        |FROM cls GROUP BY class_size ORDER BY class_size""".stripMargin,

    // fairness twin: identical counts, micro-rate reference pick with
    // group tie-break, same double chains and cross-multiplied flag
    "q256_fairness_audit" ->
      """WITH g AS (
        |  SELECT c_mktsegment AS grp, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN c_acctbal > 5000.0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ns
        |  FROM customer GROUP BY 1),
        |ref AS (
        |  SELECT n AS rn, ns AS rs FROM (
        |    SELECT g.*, row_number() OVER (
        |      ORDER BY (ns * 1000000) // n DESC, grp) AS rk FROM g) x
        |  WHERE rk = 1)
        |SELECT grp, n, ns AS n_selected,
        |  CAST(ns AS DOUBLE) / CAST(n AS DOUBLE) AS selection_rate,
        |  CAST(ns AS DOUBLE) * CAST(rn AS DOUBLE) /
        |    (CAST(n AS DOUBLE) * CAST(rs AS DOUBLE)) AS impact_ratio,
        |  ns * rn * 5 < rs * n * 4 AS four_fifths_violation
        |FROM g CROSS JOIN ref ORDER BY grp""".stripMargin,

    // profiler twin: per-column SELECTs unioned, identical DECIMAL(18,2)
    // money rendering, typed min/max stringified after aggregation
    "q168_profile" -> {
      def row(c: String, e: String) =
        s"""SELECT '$c' AS col_name, COUNT(*) - COUNT($e) AS n_nulls,
           |  COUNT(DISTINCT $e) AS n_distinct,
           |  CAST(MIN($e) AS VARCHAR) AS min_value,
           |  CAST(MAX($e) AS VARCHAR) AS max_value FROM lineitem""".stripMargin
      Seq(
        row("l_orderkey", "l_orderkey"),
        row("l_linenumber", "l_linenumber"),
        row("l_quantity", "CAST(l_quantity AS DECIMAL(18,2))"),
        row("l_extendedprice", "CAST(l_extendedprice AS DECIMAL(18,2))"),
        row("l_returnflag", "l_returnflag"),
        row("l_shipdate", "l_shipdate")).mkString(
        "", "\nUNION ALL\n", "\nORDER BY col_name")
    },

    // audit twin: identical injected mutations, each rule one count
    "q169_constraint_audit" ->
      """SELECT 'domain' AS rule, (
        |  SELECT COUNT(*) FROM (
        |    SELECT CASE WHEN l_orderkey % 1009 = 0 THEN 'X'
        |                ELSE l_returnflag END AS f FROM lineitem) m
        |  WHERE f IS NOT NULL AND f NOT IN ('A', 'N', 'R')) AS n_bad
        |UNION ALL
        |SELECT 'fk_orphans', (
        |  SELECT COUNT(*) FROM (
        |    SELECT CASE WHEN l_orderkey % 997 = 0 THEN l_orderkey + 1000000000
        |                ELSE l_orderkey END AS k FROM lineitem) m
        |  WHERE k IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = m.k))
        |UNION ALL
        |SELECT 'pk_duplicates', (
        |  SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) FROM (
        |    SELECT COUNT(*) AS c FROM (
        |      SELECT l_orderkey,
        |        CASE WHEN l_orderkey % 499 = 0 THEN 1
        |             ELSE l_linenumber END AS ln FROM lineitem) m
        |    GROUP BY l_orderkey, ln) g)
        |UNION ALL
        |SELECT 'range', (
        |  SELECT COUNT(*) FROM (
        |    SELECT CASE WHEN l_orderkey % 1013 = 0 THEN l_quantity + 100.0
        |                ELSE l_quantity END AS q FROM lineitem) m
        |  WHERE q IS NOT NULL AND (q < 1 OR q > 50))
        |ORDER BY rule""".stripMargin,

    // Benford twin: identical cents digit extraction and ln-chain
    "q170_benford" ->
      """WITH b AS (
        |  SELECT substr(CAST(abs(CAST(ROUND(o_totalprice * 100.0) AS BIGINT))
        |    AS VARCHAR), 1, 1) AS digit
        |  FROM orders
        |  WHERE o_totalprice IS NOT NULL
        |    AND abs(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) > 0),
        |c AS (SELECT digit, COUNT(*) AS n FROM b GROUP BY digit),
        |tt AS (SELECT COUNT(*) AS t FROM b)
        |SELECT digit, n, CAST(n AS DOUBLE) / t AS frac,
        |  ln(1.0 + 1.0 / CAST(digit AS BIGINT)) / ln(10.0) AS expected,
        |  abs(CAST(n AS DOUBLE) / t -
        |    ln(1.0 + 1.0 / CAST(digit AS BIGINT)) / ln(10.0)) AS abs_dev
        |FROM c CROSS JOIN tt ORDER BY digit""".stripMargin,

    // FD twin: the same count-based test per candidate, null rows
    // excluded so DISTINCT-row and multi-column count_distinct agree
    "q188_fd_audit" -> {
      def row(tbl: String, lhs: String, rhs: String) =
        s"""SELECT '$tbl.$lhs->$rhs' AS fd,
           |  CAST(COUNT(DISTINCT $lhs) AS BIGINT) AS n_lhs,
           |  CAST(COUNT(DISTINCT ($lhs, $rhs)) AS BIGINT) AS n_pair,
           |  CAST(COUNT(DISTINCT ($lhs, $rhs)) - COUNT(DISTINCT $lhs) AS BIGINT) AS violations,
           |  COUNT(DISTINCT ($lhs, $rhs)) = COUNT(DISTINCT $lhs) AS holds
           |FROM $tbl WHERE $lhs IS NOT NULL AND $rhs IS NOT NULL""".stripMargin
      Seq(
        row("orders", "o_orderkey", "o_custkey"),
        row("orders", "o_custkey", "o_orderpriority"),
        row("part", "p_partkey", "p_name"),
        row("part", "p_brand", "p_type"),
        row("nation", "n_nationkey", "n_regionkey"),
        row("lineitem", "l_orderkey", "l_returnflag")
      ).mkString("", "\nUNION ALL\n", "\nORDER BY fd")
    }
  )
}
