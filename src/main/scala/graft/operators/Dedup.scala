package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Util._

/** Document deduplication suite (north-star LLM-pipeline surface).
  *
  * Exact dedup      — hash-groupBy on normalized text (one shuffle).
  * N-gram Jaccard   — word-trigram shingles, shingle-equality self-join,
  *                    integer cross-multiplied threshold (5*I >= 4*U ⇔
  *                    J >= 0.8) so no float compare is involved.
  * MinHash + LSH    — 128 permutations, 32 bands × 4 rows, banded bucket
  *                    join for candidates, then EXACT Jaccard verification
  *                    of candidates only. At the 0.8 threshold the planted
  *                    near-dups (J≈0.97) are caught with prob 1-1e-30, so
  *                    the output equals the exact-Jaccard pair set and is
  *                    oracle-checkable.
  * SimHash          — 64-bit signature over word hashes; 4×16-bit band join
  *                    (pigeonhole: hamming<=3 ⇒ some 16-bit chunk equal),
  *                    exact hamming via bit_count(xor).
  *
  * Scale notes (100 TB): shingle self-joins shuffle on the shingle hash —
  * the classic skew risk is stop-shingles; MinHash-LSH is the scale path
  * (candidates ∝ true dups, not n^2). All stages are partial-agg friendly;
  * no driver-side materialization anywhere.
  */
object Dedup {

  /** Word tokens of the trimmed text (single shuffle-free projection). */
  private def tokens(df: DataFrame): DataFrame =
    df.select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))

  /** Shared trigram shingle ARTIFACT for the exact-Jaccard family — q24
    * (near-dup pairs), q52 (containment) and q205 (threshold sweep) all
    * consume the SAME exploded (doc_id, shingle) table of `documents`.
    * Materialized once per (session, sfDir) as a shingle-bucketed table
    * via [[graft.api.Graft.materializeBucketed]]: one corpus
    * tokenization pass instead of three, and the df-count +
    * pair-generation aggregations (all keyed on the shingle) read
    * co-located buckets. Hash gates unchanged — the artifact holds the
    * exact string multiset of the inline projection. */
  private def docShingles(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.api.Graft.materializeBucketed(s, s"doc_shingles3:$dir", "s", 16) {
      graft.api.Graft.shingleTable(t(s, dir, "documents"), "text", "doc_id", 3)
    }

  /** Shared near-dup COMPONENT artifact — q54 returns these clusters and
    * q270 (impact report), q343 (B³) and q344 (V-measure) audit them:
    * all four ran the SAME `minhashPairs(documents, 4/5)` candidate
    * pipeline plus the SAME label-propagation closure, so the most
    * expensive dedup machinery in the suite was paid four times per
    * session (~2.5 s each at sf0.1 beyond q54's own run — round-13
    * measurement). The propagation is fully deterministic (min-label
    * fixpoint over a deterministic pair set), so per (session, sfDir)
    * the (node, component) result is materialized ONCE as a bucketed
    * table ([[graft.api.Graft.materializeBucketed]], the
    * basketCommunities precedent — same honest-cost rule: the first
    * consumer pays pairs + closure inside its own timed query; the
    * rest read node-bucketed sorted longs). Hash gates unchanged:
    * parquet round-trips the long pairs bit-for-bit and each query's
    * oracle still replays the full pair + closure pipeline. */
  private def dedupComponents(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.api.Graft.materializeBucketed(s, s"dedup_cc45:$dir", "node", 16) {
      val pairs = minhashPairs(t(s, dir, "documents"), "text", "doc_id", 4, 5)
        .select(col("da"), col("db"))
      graft.api.Graft.connectedComponents(pairs, "da", "db")
    }

  /** Parametric MinHash+LSH near-dup pipeline (the public API entry):
    * per-row signature banding → banded bucket join for candidates →
    * exact Jaccard verify on candidates only, at `num/den` threshold.
    *
    * Shape notes: shingling AND the 128-permutation signature are one
    * codegen'd projection (ShingleKernels.minhashBands) — the previous
    * plan shuffled every (doc, shingle) row through 128 separate min()
    * aggregates. Per-doc shingle counts come from size(ss) in the same
    * projection (no counting shuffle). Candidate and verify joins are
    * plain shuffle joins: the candidate list is corpus-proportional
    * (∝ true dups), so broadcasting it is driver-memory-bounded at
    * 100 TB; AQE still picks a broadcast at runtime when a side turns
    * out tiny. */
  def minhashPairs(df: DataFrame, textCol: String, idCol: String,
      num: Int, den: Int, maxPairs: Long = 100000000L): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    // EXACT-DUP COLLAPSE (r8, found by the sf1 ladder): identical texts
    // share identical shingle sets, signatures, and bands, so ALL
    // signature/bucket/verify work runs once per DISTINCT text and
    // member pairs are re-expanded afterwards. On a d×-duplicated corpus
    // (the realistic crawl input) this cuts the in-bucket pair quadratic
    // from (d·g)² to g²; the expansion is output-sized, which no exact
    // pair enumeration can avoid. Pair set is IDENTICAL: identical texts
    // always collide in every band (within-group pairs, J=1), and a
    // cross-group member pair collides iff its representatives do.
    val groups = df.select(col(idCol).as("doc_id"), md5(col(textCol)).as("__fp"))
    val reps = df.select(md5(col(textCol)).as("__fp"), col(textCol).as("__text"))
      .groupBy(col("__fp")).agg(min(col("__text")).as("__text"))
    val withSh = reps.select(col("__fp"),
      expr(s"shingle_set(`__text`, 3)").as("ss"))
    val banded = withSh.select(col("__fp"),
      posexplode(expr("minhash_bands(ss)")).as(Seq("band", "bh")))
    // Loud pair-budget tripwire (r9): Σ C(bucket, 2) over the band
    // buckets bounds candidate generation, Σ C(group, 2) over the
    // exact-dup groups IS the within-pair output — both quadratics fail
    // loudly past maxPairs instead of OOMing a downstream stage.
    val guardedBanded = graft.api.Graft.pairBudgetGuard(banded,
      Seq(banded.groupBy(col("band"), col("bh")).agg(count(lit(1)).as("__n"))),
      maxPairs, "minhashPairs")
    val cands = guardedBanded.alias("a")
      .join(banded.alias("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.__fp") < col("b.__fp"))
      .select(col("a.__fp").as("fa"), col("b.__fp").as("fb"))
      .distinct()
    val sh = withSh.select(col("__fp"), explode(col("ss")).as("s"))
    val shA = sh.select(col("__fp").as("fa"), col("s"))
    val shB = sh.select(col("__fp").as("fb"), col("s"))
    val sizes = withSh.select(col("__fp"), size(col("ss")).cast(LongType).as("n"))
    val inter = shA.join(cands, "fa").join(shB, Seq("fb", "s"))
      .groupBy(col("fa"), col("fb")).agg(count(lit(1)).as("i"))
    // exact member-expansion tripwire (Σ|ga|·|gb| over the verified rep
    // pairs — the d² the bucket/within budgets cannot see)
    val repPairs = graft.api.Graft.expansionGuard(inter
      .join(sizes.select(col("__fp").as("fa"), col("n").as("na")), "fa")
      .join(sizes.select(col("__fp").as("fb"), col("n").as("nb")), "fb")
      .filter(lit(den) * col("i") >= lit(num) * (col("na") + col("nb") - col("i")))
      .select(col("fa"), col("fb"), col("i"), col("na"), col("nb"),
        (col("i") / (col("na") + col("nb") - col("i"))).as("jac")),
      "fa", "fb",
      groups.groupBy(col("__fp")).agg(count(lit(1)).as("__n"))
        .select(col("__fp").as("__g"), col("__n")),
      maxPairs, "minhashPairs(expansion)")
    val cross = repPairs
      .join(groups.select(col("__fp").as("fa"), col("doc_id").as("ia")), "fa")
      .join(groups.select(col("__fp").as("fb"), col("doc_id").as("ib")), "fb")
      .select(least(col("ia"), col("ib")).as("da"),
        greatest(col("ia"), col("ib")).as("db"),
        col("i"), col("na"), col("nb"), col("jac"))
    // within-group pairs: J = 1 exactly, i = na = nb = |shingle set|;
    // groups whose text yields NO shingles never produce bands, so the
    // original path cannot pair them — exclude n = 0 here too
    val within = graft.api.Graft.pairBudgetGuard(groups,
        Seq(groups.groupBy(col("__fp")).agg(count(lit(1)).as("__n"))),
        maxPairs, "minhashPairs(within-group)").alias("a")
      .join(groups.alias("b"),
        col("a.__fp") === col("b.__fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.__fp").as("__fp"),
        col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .join(sizes, "__fp").filter(col("n") > 0)
      .select(col("da"), col("db"), col("n").as("i"), col("n").as("na"),
        col("n").as("nb"), lit(1.0).as("jac"))
    cross.unionByName(within)
  }

  val queries: Map[String, Q] = Map(
    // ---- q235: cross-doc duplicated-span audit (Lee et al. 2022) —
    // the measurement that motivates exact substring dedup: what
    // fraction of each doc's 40-char grams (stride 10) also appear in
    // ANOTHER doc? Shared spans ≥ 49 chars are guaranteed caught;
    // within-doc repetition never counts. ----
    "q235_dup_spans" -> ((s, dir) =>
      graft.api.Graft.duplicatedSpans(t(s, dir, "documents"), "text",
          "doc_id", gramLen = 40, stride = 10)
        .orderBy(col("doc_id"))),

    // ---- q171: sorted-neighborhood record linkage — the second classic
    // blocking strategy next to q78's equality blocks (a sort key
    // brings near-misses together even when they straddle a block
    // boundary): rank part names globally, pair each with the 4
    // following, verify with Levenshtein ≤ 4. Pair gen is an integer
    // equi join on the rank — N·(w−1) candidates by construction. ----
    "q171_sorted_neighborhood" -> ((s, dir) => {
      val pairs = graft.api.Graft.sortedNeighborhoodPairs(
        t(s, dir, "part"), "p_name", "p_partkey", windowSize = 5)
      pairs.withColumn("dist", levenshtein(col("key_a"), col("key_b")))
        .filter(col("dist") <= 4)
        .select(col("id_a"), col("id_b"), col("dist").cast(LongType).as("dist"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- q23: exact dedup on normalized text ----
    "q23_dedup_exact" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(graft.api.Graft.normFp(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"))
        .orderBy(col("keep_id"))
    }),

    // ---- q24: n-gram Jaccard near-dup pairs (J >= 0.8) ----
    // maxShingleDf=20 drops stop-shingles BEFORE the self-join: a shingle
    // in >20 docs carries no near-dup signal but contributes O(df^2) join
    // pairs — at 100 TB the hot-shingle key is the shuffle skew that kills
    // the plan. The oracle SQL applies the identical cap, so the hash-match
    // pins the capped semantics. (At the test SFs the cap drops nothing at
    // sf0.01 — max df 7 — and leaves the sf0.1 pair set unchanged.)
    "q24_dedup_ngram_jaccard" -> ((s, dir) => {
      graft.api.Graft.nearDupPairsExact(t(s, dir, "documents"), "text", "doc_id",
        maxShingleDf = Some(20), shingles = Some(docShingles(s, dir)))
        .orderBy(col("da"), col("db"))
    }),

    // ---- q187: prefix-filtered similarity join — the PPJoin-family
    // formulation: candidates only from each doc's L = n−⌈t·n⌉+1
    // RAREST bigrams under the global df order (plus the lossless
    // length and positional prunes), then exact verify. t = 4/5, the
    // q24 threshold family: measured at sf0.1 this corpus's planted
    // near-dups (256 pairs) separate cleanly while candidates stay
    // 19× below brute force.
    // Unlike q24's df-cap (lossy, oracle must mirror it), the prefix
    // filter is PROVABLY lossless — so the oracle is pure brute force
    // with no knowledge of the plan's filter: the strongest gate a
    // candidate-pruning technique can get. ----
    "q187_prefix_filter_join" -> ((s, dir) => {
      graft.api.Graft.prefixFilterJaccardPairs(t(s, dir, "documents"),
        "text", "doc_id", num = 4, den = 5, ngram = 2)
        .orderBy(col("da"), col("db"))
    }),

    // ---- q205: Jaccard threshold sweep — the calibration report run
    // before fixing a dedup threshold: pair counts at 0.5/0.6/0.7/0.8/
    // 0.9 from ONE capped intersect computation (the threshold only
    // filters; candidate generation is shared — the reason a sweep
    // costs the same as a single threshold). Integer cross-multiplied
    // comparisons at every level; thresholds with zero pairs still
    // appear with n_pairs = 0. ----
    "q205_jaccard_threshold_sweep" -> ((s, dir) => {
      import s.implicits._
      val pairs = graft.api.Graft.nearDupPairsExact(t(s, dir, "documents"),
          "text", "doc_id", num = 1, den = 2, maxShingleDf = Some(20),
          shingles = Some(docShingles(s, dir)))
        .select(col("i"), (col("na") + col("nb") - col("i")).as("u"))
      val th = Seq((1, 2), (3, 5), (7, 10), (4, 5), (9, 10))
        .toDF("nu", "de")
      val counts = pairs.crossJoin(broadcast(th))
        .filter(col("de") * col("i") >= col("nu") * col("u"))
        .groupBy(col("nu"), col("de")).agg(count(lit(1)).as("n_pairs"))
      th.join(counts, Seq("nu", "de"), "left")
        .select(expr("(nu * 1000) div de").as("threshold_permille"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"))
        .orderBy(col("threshold_permille"))
    }),

    // ---- q195: Fellegi–Sunter linkage scoring — the probabilistic layer
    // over q78's equality blocks: each blocked pair gets a match score
    // Σ_field ln(m/u) (agree) or ln((1−m)/(1−u)) (disagree) under
    // declared priors. Weights are PRE-QUANTIZED micro-nat literals
    // (±2890372 etc.), so the score is an exact integer sum — the
    // ln-at-runtime formulation would ride on libm last-ulp agreement
    // (the q123 class of hazard), this one cannot. Field comparators:
    // name edit ≤ 2, type equality, price within 50 cents (integer
    // cents). Output: pairs scoring > 0 (likely matches). ----
    "q195_linkage_score" -> ((s, dir) => {
      val p = t(s, dir, "part").select(col("p_partkey"), col("p_name"),
        col("p_brand"), col("p_size"), col("p_type"),
        round(col("p_retailprice") * 100.0).cast(LongType).as("cents"))
      val pairs = p.alias("a").join(p.alias("b"),
          col("a.p_brand") === col("b.p_brand") &&
            col("a.p_size") === col("b.p_size") &&
            col("a.p_partkey") < col("b.p_partkey"))
        .select(col("a.p_partkey").as("id_a"), col("b.p_partkey").as("id_b"),
          // bounded banded-DP levenshtein (-1 past the threshold): at
          // k=2 the band is 5 cells/row vs the ~30-char full table —
          // A/B'd at sf1: 7.1 -> 4.0 s. (At k≥8 the bounded form LOSES;
          // see q78's comment.) `>= 0` ≡ `<= 2`.
          (levenshtein(col("a.p_name"), col("b.p_name"), 2) >= 0).as("agree_name"),
          (col("a.p_type") === col("b.p_type")).as("agree_type"),
          (abs(col("a.cents") - col("b.cents")) <= 50L).as("agree_price"))
      pairs.withColumn("score_micro",
          when(col("agree_name"), 2890372L).otherwise(-2251292L) +
            when(col("agree_type"), 1386294L).otherwise(-1386294L) +
            when(col("agree_price"), 1945910L).otherwise(-1098612L))
        .filter(col("score_micro") > 0L)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- q224: Fellegi–Sunter EM learning — where q195's declared
    // micro-nat weights COME from: learn per-field m/u probabilities
    // and the match prior from the blocked pairs' agreement-pattern
    // counts (one keyed shuffle over the pairs; EM runs on the 8-row
    // pattern table with nano-quantized steps so both engines round
    // identically every round). The learned w_agree/w_disagree are the
    // ln-weights a production scorer would freeze into q195. ----
    "q224_fs_em" -> ((s, dir) => {
      val p = t(s, dir, "part").select(col("p_partkey"), col("p_name"),
        col("p_brand"), col("p_size"), col("p_type"),
        round(col("p_retailprice") * 100.0).cast(LongType).as("cents"))
      val pairs = p.alias("a").join(p.alias("b"),
          col("a.p_brand") === col("b.p_brand") &&
            col("a.p_size") === col("b.p_size") &&
            col("a.p_partkey") < col("b.p_partkey"))
        .select(
          (levenshtein(col("a.p_name"), col("b.p_name"), 2) >= 0)
            .as("agree_name"),
          (col("a.p_type") === col("b.p_type")).as("agree_type"),
          (abs(col("a.cents") - col("b.cents")) <= 50L).as("agree_price"))
      val pat = pairs.groupBy(col("agree_name"), col("agree_type"),
          col("agree_price"))
        .agg(count(lit(1)).as("c"))
      graft.api.Graft.fsEmLearn(pat,
          Seq("agree_name", "agree_type", "agree_price"), rounds = 5)
        .orderBy(col("field"))
    }),

    // ---- q133: incremental ingestion dedup — the cross-corpus form a
    // pipeline runs on every fresh crawl batch before appending: flag
    // each new doc (doc_id % 10 = 0 plays the batch) whose Jaccard vs
    // ANY existing-corpus doc reaches 1/2. One shingle-keyed join
    // between the sides (never a corpus self-join), corpus-side
    // stop-shingles capped off both sides, integer-cross-mult
    // threshold. ----
    "q133_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.api.Graft.incrementalNearDup(
        docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0),
        "text", "doc_id", num = 1, den = 2, maxShingleDf = Some(20))
        .orderBy(col("doc_id"))
    }),

    // ---- q138: leakage-safe train/val/test split — q47's split rule
    // applied to DEDUP CLUSTERS instead of raw doc ids, so near-dup
    // documents can never land on both sides of a split (the
    // train/eval-contamination failure mode q58 tests for is prevented
    // by construction). Components from the q54 machinery; singleton
    // docs are their own component; split = md5(component) bucket. ----
    "q138_leakage_safe_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = minhashPairs(docs, "text", "doc_id", 4, 5)
        .select(col("da"), col("db"))
      val comp = graft.api.Graft.connectedComponents(pairs, "da", "db")
        .withColumnRenamed("node", "doc_id")
      docs.select(col("doc_id"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"))
        .withColumn("b",
          call_function("md5_lower64", col("component").cast(StringType))
            .bitwiseAND(lit(2147483647L)) % 1000)
        .withColumn("split",
          when(col("b") < 800, "train").when(col("b") < 900, "val")
            .otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("component")).as("n_components"))
        .orderBy(col("split"))
    }),

    // ---- q25: MinHash + LSH candidates, exact-verified (J >= 0.8) ----
    "q25_dedup_minhash_lsh" -> ((s, dir) => {
      minhashPairs(t(s, dir, "documents"), "text", "doc_id", 4, 5)
        .select(col("da"), col("db"), col("jac"))
        .orderBy(col("da"), col("db"))
    }),

    // ---- q316: LSH quality audit — measured recall/precision of q25's
    // 32×4 MinHash bands against brute-force J ≥ 0.8 ground truth,
    // beside the analytic 1−(1−J⁴)³² bound. q25's oracle ASSERTS the
    // pair sets agree; this query REPORTS the audit a pipeline owner
    // reads (plus the candidate-stream precision — the verification
    // cost LSH pays). Deterministic (fixed xxhash64 seeds, set
    // semantics) and partition-invariant → golden VALUES oracle, the
    // q46 discipline. ----
    "q316_lsh_quality_audit" -> ((s, dir) =>
      graft.api.Graft.lshAuditPairs(t(s, dir, "documents"), "text",
        "doc_id", 4, 5)),

    // ---- q54: near-dup pair graph → duplicate clusters (connected
    // components by distributed label propagation; edges from the
    // MinHash+LSH scale path, which equals the exact pair set here) ----
    "q54_dedup_clusters" -> ((s, dir) =>
      // consumes the shared component artifact ([[dedupComponents]]) —
      // pairs + closure run once per session; q270/q343/q344 audit the
      // same result
      dedupComponents(s, dir).orderBy(col("node"))),

    // ---- q270: dedup impact report — the table every dedup pipeline
    // publishes before committing a threshold: per CLUSTER SIZE, how
    // many clusters exist, how many documents they hold, and how many
    // characters deduplication would remove under the keep-best policy
    // (chars_total − max-chars copy per cluster). Singletons (docs in
    // no near-dup pair) appear as cluster_size = 1 with zero savings —
    // the report always accounts for 100% of the corpus. Built on the
    // q54 component machinery; two keyed aggs after it, all integers.
    // 100 TB shape: output is bounded by distinct cluster sizes;
    // everything between is partial-agg-friendly. ----
    "q270_dedup_impact" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // shared component artifact ([[dedupComponents]]) — the q54 result
      val comp = dedupComponents(s, dir)
        .withColumnRenamed("node", "doc_id")
      val all = docs.select(col("doc_id"), col("n_chars").cast(LongType).as("n_chars"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chars"),
          coalesce(col("component"), col("doc_id")).as("component"))
      val per = all.groupBy(col("component"))
        .agg(count(lit(1)).as("cluster_size"),
          sum(col("n_chars")).as("chars"),
          max(col("n_chars")).as("kept"))
      per.groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("cluster_size")).as("n_docs"),
          sum(col("chars")).as("chars_total"),
          sum(col("chars") - col("kept")).as("chars_removed"))
        .orderBy(col("cluster_size"))
    }),

    // ---- q55: exact dedup keeping the best-quality copy (longest text,
    // ties by smallest id) — the quality-aware keep policy ----
    "q55_dedup_keep_best" -> ((s, dir) => {
      graft.api.Graft.dedupKeepBest(t(s, dir, "documents"), "text", "doc_id", "n_chars")
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // ---- q343: B³ (B-cubed) clustering evaluation — the per-ITEM
    // dedup-quality score the pair-level audits can't give: q316 scores
    // LSH pair recall/precision, q183 scores partition agreement (ARI),
    // but B³ is what annotation/dedup evaluations actually report
    // (Bagga–Baldwin; the standard for entity resolution): for each
    // document, precision = fraction of its SYSTEM cluster sharing its
    // gold label, recall = fraction of its GOLD class sharing its
    // cluster. System = the q54 minhash components; gold = exact
    // normalized-content identity (the q55 md5 device). Both reduce to
    // per-(cluster, label) cell counts: P = Σ n²/|C| / N, R = Σ n²/|L|
    // / N — each cell term ONE double chain nano-quantized before the
    // global sum. Cells/sizes are keyed aggregates: linear beyond the
    // q54 component machinery it reuses. ----
    "q343_bcubed" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // shared component artifact ([[dedupComponents]]) — the q54 result
      val comp = dedupComponents(s, dir)
        .withColumnRenamed("node", "doc_id")
      val base = docs.select(col("doc_id"),
          md5(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
            .as("gold"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"), col("gold"),
          coalesce(col("component"), col("doc_id")).as("sys"))
      val cells = base.groupBy(col("sys"), col("gold"))
        .agg(count(lit(1)).as("ncl"))
        .localCheckpoint() // feeds both size tables + the contrib scan
      val csz = cells.groupBy(col("sys")).agg(sum(col("ncl")).as("cs"))
      val lsz = cells.groupBy(col("gold")).agg(sum(col("ncl")).as("ls"))
      val contrib = cells.join(csz, "sys").join(lsz, "gold")
        .select(col("ncl"),
          round(col("ncl").cast(DoubleType) * col("ncl").cast(DoubleType) /
            col("cs").cast(DoubleType) * lit(1.0e9)).cast(LongType)
            .as("__p"),
          round(col("ncl").cast(DoubleType) * col("ncl").cast(DoubleType) /
            col("ls").cast(DoubleType) * lit(1.0e9)).cast(LongType)
            .as("__r"))
      val agg = contrib.agg(sum(col("ncl")).as("n_docs"),
        sum(col("__p")).as("__sp"), sum(col("__r")).as("__sr"))
      val p = col("__sp").cast(DoubleType) / lit(1.0e9) /
        col("n_docs").cast(DoubleType)
      val r = col("__sr").cast(DoubleType) / lit(1.0e9) /
        col("n_docs").cast(DoubleType)
      agg.select(col("n_docs"),
        round(p, 6).as("bcubed_precision"), round(r, 6).as("bcubed_recall"),
        when(p + r <= lit(0.0), lit(null).cast(DoubleType))
          .otherwise(round(lit(2.0) * p * r / (p + r), 6)).as("bcubed_f1"))
    }),

    // ---- q344: V-measure (homogeneity / completeness) — the ENTROPY
    // view of the q343 B³ question (Rosenberg & Hirschberg 2007): h =
    // 1 − H(gold|sys)/H(gold) punishes clusters that MIX classes, c =
    // 1 − H(sys|gold)/H(sys) punishes classes SPLIT across clusters, V
    // their harmonic mean — unlike B³ it is invariant to cluster-size
    // reweighting, so the two gates disagree exactly when dedup errors
    // concentrate in big clusters. Same (sys, gold) cell reduction as
    // q343 (q54 minhash components vs exact-content identity); every
    // entropy term is ncl · round(ln(ncl/size)·1e9) — the ln factor
    // nano-quantized BEFORE the exact long multiply/sum, marginals via
    // H(X) = ln N − (1/N)Σ n·ln n so no term ever needs the global N
    // inside the quantized ln. Linear beyond the component machinery. ----
    "q344_vmeasure" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // shared component artifact ([[dedupComponents]]) — the q54 result
      val comp = dedupComponents(s, dir)
        .withColumnRenamed("node", "doc_id")
      val base = docs.select(col("doc_id"),
          md5(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
            .as("gold"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("gold"),
          coalesce(col("component"), col("doc_id")).as("sys"))
      val cells = base.groupBy(col("sys"), col("gold"))
        .agg(count(lit(1)).as("ncl"))
        .localCheckpoint() // feeds the joint scan + both marginal tables
      val csz = cells.groupBy(col("sys")).agg(sum(col("ncl")).as("cs"))
      val lsz = cells.groupBy(col("gold")).agg(sum(col("ncl")).as("ls"))
      def lnq(x: org.apache.spark.sql.Column) =
        round(log(x) * lit(1.0e9)).cast(LongType)
      val joint = cells.join(csz, "sys").join(lsz, "gold")
        .select(
          (col("ncl") * lnq(col("ncl").cast(DoubleType) /
            col("cs").cast(DoubleType))).as("__hq"),
          (col("ncl") * lnq(col("ncl").cast(DoubleType) /
            col("ls").cast(DoubleType))).as("__cq"))
        .agg(sum(col("__hq")).as("__sh"), sum(col("__cq")).as("__sc"))
      val m1 = csz.agg(count(lit(1)).as("n_clusters"),
        sum(col("cs")).as("n_docs"),
        sum(col("cs") * lnq(col("cs").cast(DoubleType))).as("__ss"))
      val m2 = lsz.agg(count(lit(1)).as("n_classes"),
        sum(col("ls") * lnq(col("ls").cast(DoubleType))).as("__sl"))
      val one = joint.crossJoin(m1).crossJoin(m2) // three 1-row aggregates
      val n = col("n_docs").cast(DoubleType)
      val hGS = -(col("__sh").cast(DoubleType) / lit(1.0e9)) / n
      val cSG = -(col("__sc").cast(DoubleType) / lit(1.0e9)) / n
      val hG = log(n) - (col("__sl").cast(DoubleType) / lit(1.0e9)) / n
      val hS = log(n) - (col("__ss").cast(DoubleType) / lit(1.0e9)) / n
      // degenerate marginals (one class / one cluster) leave only
      // quantization residue (|.| <= 5e-10) — the 1e-6 floor maps them
      // to the defined h = 1 / c = 1 instead of dividing by residue
      val h = when(hG < lit(1.0e-6), lit(1.0)).otherwise(lit(1.0) - hGS / hG)
      val c = when(hS < lit(1.0e-6), lit(1.0)).otherwise(lit(1.0) - cSG / hS)
      one.select(col("n_docs"), col("n_clusters"), col("n_classes"),
        round(h, 6).as("homogeneity"), round(c, 6).as("completeness"),
        when(h + c <= lit(0.0), lit(null).cast(DoubleType))
          .otherwise(round(lit(2.0) * h * c / (h + c), 6)).as("v_measure"))
    }),

    // ---- q356: capture–recapture corpus-size estimate (Chapman) —
    // how many DISTINCT contents exist beyond what two overlapping
    // crawls saw (the "how complete is my corpus" question q114's
    // overlap counts stop short of): treat the doc-parity halves as
    // two captures of the content population, mark–recapture on exact
    // content identity (the q55 md5 device), N̂ = (n₁+1)(n₂+1)/(m+1)−1
    // with the Chapman variance CI. Because the truth is computable
    // here (countDistinct over everything), the output also scores the
    // estimator's error — the honesty twist the q304/q328 audits
    // apply to NDV/cardinality estimators. One content-keyed aggregate
    // + one 1-row reduction: linear. ----
    "q356_capture_recapture" -> ((s, dir) => {
      val sets = t(s, dir, "documents")
        .select((col("doc_id") % 2 === 0).as("a"),
          md5(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
            .as("fp"))
        .groupBy(col("fp"))
        .agg(max(when(col("a"), 1L).otherwise(0L)).as("ina"),
          max(when(!col("a"), 1L).otherwise(0L)).as("inb"))
      val ag = sets.agg(sum(col("ina")).as("n_a"), sum(col("inb")).as("n_b"),
        sum(col("ina") * col("inb")).as("overlap"),
        count(lit(1)).as("n_true"))
      def d(c: String) = col(c).cast(DoubleType)
      val nhat = (d("n_a") + lit(1.0)) * (d("n_b") + lit(1.0)) /
        (d("overlap") + lit(1.0)) - lit(1.0)
      val vr = (d("n_a") + lit(1.0)) * (d("n_b") + lit(1.0)) *
        (d("n_a") - d("overlap")) * (d("n_b") - d("overlap")) /
        ((d("overlap") + lit(1.0)) * (d("overlap") + lit(1.0)) *
          (d("overlap") + lit(2.0)))
      ag.select(col("n_a"), col("n_b"), col("overlap"),
        round(nhat, 2).as("n_hat"),
        round(nhat - lit(1.96) * sqrt(vr), 2).as("ci_lo"),
        round(nhat + lit(1.96) * sqrt(vr), 2).as("ci_hi"),
        col("n_true"),
        round((nhat - d("n_true")) / d("n_true") * lit(100.0), 4)
          .as("err_pct"))
    }),

    // ---- q52: containment near-dup pairs (C >= 0.9 of the smaller set) ----
    "q52_dedup_containment" -> ((s, dir) => {
      containmentPairs(t(s, dir, "documents"), "text", "doc_id",
        num = 9, den = 10, maxShingleDf = 20,
        shingles = Some(docShingles(s, dir)))
        .orderBy(col("da"), col("db"))
    }),

    // ---- q26: SimHash near-dup pairs (hamming <= 3) ----
    // Signature = native one-pass `simhash64(tokens)` projection (no
    // explode, no shuffle — the old plan ran 64 sum-aggs over every
    // (doc, word) pair). The word hash is MD5-low-64 == DuckDB
    // `md5_number_lower`, so the oracle reproduces the signature exactly
    // and this query is hash-checked, not rows-only.
    "q26_dedup_simhash" -> ((s, dir) => {
      // SIGNATURE-LEVEL COLLAPSE (r8, sf1 ladder): identical texts have
      // identical simhashes, so the 4×16-bit pigeonhole chunk joins run
      // over DISTINCT signatures only; member pairs re-expand afterwards
      // (within-signature pairs at hamming 0, cross pairs at the
      // representatives' hamming). Pair set identical to the per-doc
      // join: chunks collide iff the signatures' chunks do.
      val chunks = (0 until 4).map { k =>
        shiftright(col("sig"), 16 * k).bitwiseAND(lit(0xFFFFL)).as(s"k$k")
      }
      // three consumers (distinct sigs, cross expansion ×2, within) —
      // materialize so tokenization + simhash run once over the corpus
      val docSigs = tokens(t(s, dir, "documents"))
        .select(col("doc_id"), expr("simhash64(t)").as("sig"))
        .localCheckpoint()
      // r9 pair-budget tripwire: 4 chunk-bucket budgets (candidate gen)
      // + the signature-group budget (within-pair output) in ONE guard
      // on the shared chunk-join input — a duplication-quadratic corpus
      // fails loudly instead of OOMing downstream (this query's answer
      // grew 190× on the 10×-duplicated sf1 ladder).
      val sigs0 = docSigs.select(col("sig")).distinct()
        .select(col("sig") +: chunks: _*)
      val budgets = (0 until 4).map(k =>
        sigs0.groupBy(col(s"k$k")).agg(count(lit(1)).as("__n"))) :+
        docSigs.groupBy(col("sig")).agg(count(lit(1)).as("__n"))
      val sigs = graft.api.Graft.pairBudgetGuard(
        sigs0, budgets, 100000000L, "q26_dedup_simhash")
      // exact member-expansion tripwire on the verified signature pairs
      val sigPairs = graft.api.Graft.expansionGuard(
        (0 until 4).map { k =>
          sigs.alias("a").join(sigs.alias("b"),
            col(s"a.k$k") === col(s"b.k$k") && col("a.sig") < col("b.sig"))
            .select(col("a.sig").as("sa"), col("b.sig").as("sb"))
        }.reduce(_ unionAll _).distinct()
          .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))).cast(LongType))
          .filter(col("hamming") <= 3),
        "sa", "sb",
        docSigs.groupBy(col("sig")).agg(count(lit(1)).as("__n"))
          .select(col("sig").as("__g"), col("__n")),
        100000000L, "q26_dedup_simhash(expansion)")
      val cross = sigPairs
        .join(docSigs.select(col("sig").as("sa"), col("doc_id").as("ia")), "sa")
        .join(docSigs.select(col("sig").as("sb"), col("doc_id").as("ib")), "sb")
        .select(least(col("ia"), col("ib")).as("da"),
          greatest(col("ia"), col("ib")).as("db"), col("hamming"))
      val within = docSigs.alias("a")
        .join(docSigs.alias("b"),
          col("a.sig") === col("b.sig") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
          lit(0L).as("hamming"))
      cross.unionByName(within).orderBy(col("da"), col("db"))
    })
  )

  /** DuckDB twins. q24/q25 share the exact-Jaccard pair oracle (LSH recall
    * at J≈0.97 under 32x4 banding is 1 - ~1e-30, verified empirically on
    * the deterministic testdata). q26's twin rebuilds the identical MD5
    * SimHash signature in SQL (md5_number_lower == the expression's word
    * hash) and applies the same 4×16-bit pigeonhole banding. */
  /** q24 twin — mirrors the maxShingleDf=20 stop-shingle cap. */
  private val exactJaccardPairsSql =
    """WITH toks AS (
      |  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
      |), sh0 AS (
      |  SELECT DISTINCT doc_id, t[i] || chr(0) || t[i+1] || chr(0) || t[i+2] AS s
      |  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i FROM toks)
      |), sh AS (
      |  SELECT sh0.* FROM sh0
      |  JOIN (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= 20) keep USING (s)
      |), sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
      |), inter AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT da, db, i, sa.n AS na, sb.n AS nb, i / (sa.n + sb.n - i) AS jac
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = da
      |JOIN sizes sb ON sb.doc_id = db
      |WHERE 5 * i >= 4 * (sa.n + sb.n - i)
      |ORDER BY da, db""".stripMargin

  /** Containment near-dup pairs: C(a→b) = |A∩B| / |A| ≥ num/den — the
    * asymmetric overlap that catches partial copies (quotes, wrapped
    * reposts) which symmetric Jaccard misses when sizes differ. Same
    * capped bounded-pair-generation shape as q24; emitted for the
    * smaller-side containment so (da, db) is still an unordered pair. */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
      num: Int, den: Int, maxShingleDf: Int,
      maxPairs: Long = 100000000L,
      shingles: Option[DataFrame] = None): DataFrame = {
    val inter = graft.api.Graft.nearDupPairsExact(df, textCol, idCol,
      num = 0, den = 1, maxShingleDf = Some(maxShingleDf),
      maxPairs = maxPairs, shingles = shingles)
    // num=0/den=1 keeps every intersecting pair; re-threshold on
    // containment of the smaller shingle set
    inter
      .filter(lit(den) * col("i") >= lit(num) * least(col("na"), col("nb")))
      .select(col("da"), col("db"), col("i"),
        (col("i") / least(col("na"), col("nb"))).as("containment"))
  }

  /** q133 twin — the same shingle construction as q24's twin, split into
    * batch/corpus sides, corpus-side df cap applied to both. */
  private val incrementalDedupSql =
    """WITH toks AS (
      |  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
      |), sh0 AS (
      |  SELECT DISTINCT doc_id, t[i] || chr(0) || t[i+1] || chr(0) || t[i+2] AS s
      |  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i FROM toks)
      |), bs0 AS (SELECT * FROM sh0 WHERE doc_id % 10 = 0
      |), cs0 AS (SELECT * FROM sh0 WHERE doc_id % 10 <> 0
      |), hot AS (SELECT s FROM cs0 GROUP BY s HAVING COUNT(*) > 20
      |), bs AS (SELECT * FROM bs0 WHERE s NOT IN (SELECT s FROM hot)
      |), cs AS (SELECT * FROM cs0 WHERE s NOT IN (SELECT s FROM hot)
      |), inter AS (
      |  SELECT b.doc_id AS bid, c.doc_id AS cid, COUNT(*) AS i
      |  FROM bs b JOIN cs c ON b.s = c.s GROUP BY 1, 2
      |), nb AS (SELECT doc_id, COUNT(*) AS n FROM bs GROUP BY 1
      |), nc AS (SELECT doc_id, COUNT(*) AS n FROM cs GROUP BY 1
      |), m AS (
      |  SELECT bid, COUNT(*) AS n_matches
      |  FROM inter
      |  JOIN nb ON nb.doc_id = bid
      |  JOIN nc ON nc.doc_id = cid
      |  WHERE 2 * i >= 1 * (nb.n + nc.n - i)
      |  GROUP BY bid)
      |SELECT d.doc_id, CAST(COALESCE(m.n_matches, 0) AS BIGINT) AS n_matches,
      |  COALESCE(m.n_matches, 0) > 0 AS is_dup
      |FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 10 = 0) d
      |LEFT JOIN m ON m.bid = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** q138 twin — q54's recursive transitive closure for the component
    * table, singleton docs as their own component, then q47's split
    * bucketing applied to the component id. */
  private val leakageSafeSplitSql =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
      |), sh AS (
      |  SELECT DISTINCT doc_id, t[i] || chr(0) || t[i+1] || chr(0) || t[i+2] AS s
      |  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i FROM toks)
      |), sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
      |), inter AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), pairs AS (
      |  SELECT da, db FROM inter
      |  JOIN sizes sa ON sa.doc_id = da
      |  JOIN sizes sb ON sb.doc_id = db
      |  WHERE 5 * i >= 4 * (sa.n + sb.n - i)
      |), edges AS (
      |  SELECT da AS a, db AS b FROM pairs UNION SELECT db, da FROM pairs
      |), reach AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
      |), comp AS (
      |  SELECT a AS doc_id, least(a, MIN(b)) AS component
      |  FROM reach GROUP BY a
      |), allc AS (
      |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
      |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
      |), sp AS (
      |  SELECT doc_id, component,
      |    (md5_number_lower(CAST(component AS VARCHAR)) & 2147483647::UBIGINT) % 1000 AS b
      |  FROM allc)
      |SELECT CASE WHEN b < 800 THEN 'train' WHEN b < 900 THEN 'val' ELSE 'test' END AS split,
      |  COUNT(*) AS n_docs, COUNT(DISTINCT component) AS n_components
      |FROM sp GROUP BY 1 ORDER BY 1""".stripMargin

  /** q224 twin: the q195 blocked pairs reduced to 8 agreement-pattern
    * counts, then `rounds` EM iterations as chained MATERIALIZED CTEs —
    * each round the identical nano-quantized E (responsibility) and M
    * (weighted-count ratio) chains the Spark side runs, so both engines
    * round to the same longs every round and libm drift cannot
    * accumulate. */
  private def fsEmSql(rounds: Int): String = {
    val q9 = "1000000000"
    def dv(c: String) = s"CAST($c AS DOUBLE) / $q9.0"
    def pmExpr(pre: String) = (0 to 2).map(i =>
      s"(CASE WHEN g$i THEN ${dv(s"m$i")} ELSE 1.0 - ${dv(s"m$i")} END)")
      .mkString(s"$pre * ", " * ", "")
    def puExpr(pre: String) = (0 to 2).map(i =>
      s"(CASE WHEN g$i THEN ${dv(s"u$i")} ELSE 1.0 - ${dv(s"u$i")} END)")
      .mkString(s"$pre * ", " * ", "")
    val rs = (1 to rounds).map { r =>
      val fields = (0 to 2).flatMap { i =>
        Seq(
          s"""CASE WHEN SUM(c * w) = 0 THEN MAX(m$i)
             |  ELSE CAST(round(CAST(SUM(CASE WHEN g$i THEN c * w ELSE 0 END)
             |    AS DOUBLE) / CAST(SUM(c * w) AS DOUBLE) * $q9.0) AS BIGINT)
             |END AS m$i""".stripMargin,
          s"""CASE WHEN SUM(c * ($q9 - w)) = 0 THEN MAX(u$i)
             |  ELSE CAST(round(CAST(SUM(CASE WHEN g$i THEN c * ($q9 - w)
             |    ELSE 0 END) AS DOUBLE) / CAST(SUM(c * ($q9 - w)) AS DOUBLE)
             |    * $q9.0) AS BIGINT)
             |END AS u$i""".stripMargin)
      }.mkString(",\n")
      s"""r$r AS MATERIALIZED (
         |  SELECT
         |    CASE WHEN SUM(c * w) = 0 THEN MAX(p)
         |      ELSE CAST(round(CAST(SUM(c * w) AS DOUBLE)
         |        / CAST(SUM(c) AS DOUBLE)) AS BIGINT)
         |    END AS p,
         |$fields
         |  FROM (SELECT g0, g1, g2, c, p, m0, u0, m1, u1, m2, u2,
         |          CAST(round(pm / (pm + pu) * $q9.0) AS BIGINT) AS w
         |        FROM (SELECT pat.*, r.*,
         |                ${pmExpr(s"${dv("p")}")} AS pm,
         |                ${puExpr(s"(1.0 - ${dv("p")})")} AS pu
         |              FROM pat CROSS JOIN r${r - 1} r)))""".stripMargin
    }.mkString(",\n")
    def leg(field: String, i: Int) =
      s"""SELECT '$field' AS field, ${dv(s"m$i")} AS m, ${dv(s"u$i")} AS u,
         |  ${dv("p")} AS lambda,
         |  CASE WHEN m$i = 0 OR u$i = 0 THEN NULL
         |    ELSE round(ln((${dv(s"m$i")}) / (${dv(s"u$i")})), 6) END AS w_agree,
         |  CASE WHEN m$i = $q9 OR u$i = $q9 THEN NULL
         |    ELSE round(ln((1.0 - ${dv(s"m$i")}) / (1.0 - ${dv(s"u$i")})), 6)
         |  END AS w_disagree
         |FROM r$rounds""".stripMargin
    s"""WITH p AS (
       |  SELECT p_partkey, p_name, p_brand, p_size, p_type,
       |    CAST(round(p_retailprice * 100.0) AS BIGINT) AS cents
       |  FROM part),
       |pat AS MATERIALIZED (
       |  SELECT levenshtein(a.p_name, b.p_name) <= 2 AS g0,
       |    a.p_type = b.p_type AS g1,
       |    abs(a.cents - b.cents) <= 50 AS g2,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM p a JOIN p b
       |    ON a.p_brand = b.p_brand AND a.p_size = b.p_size
       |   AND a.p_partkey < b.p_partkey
       |  GROUP BY 1, 2, 3),
       |r0 AS (SELECT CAST(100000000 AS BIGINT) AS p,
       |  CAST(800000000 AS BIGINT) AS m0, CAST(200000000 AS BIGINT) AS u0,
       |  CAST(800000000 AS BIGINT) AS m1, CAST(200000000 AS BIGINT) AS u1,
       |  CAST(800000000 AS BIGINT) AS m2, CAST(200000000 AS BIGINT) AS u2),
       |$rs
       |${leg("agree_name", 0)}
       |UNION ALL
       |${leg("agree_type", 1)}
       |UNION ALL
       |${leg("agree_price", 2)}
       |ORDER BY field""".stripMargin
  }

  val oracle: Map[String, String] = Map(

    // q316 GOLDEN PIN: deterministic (fixed xxhash64 seeds) and
    // partition-invariant (set cardinalities only), so the sf0.01 row is
    // hard-pinned like q46/q28/q43. 25 true rep-level pairs at J ≥ 0.8,
    // all 25 caught by the bands with zero below-threshold candidates —
    // matching the 1−(1−0.8⁴)³² ≈ 0.99999995 analytic bound. (Captured
    // 2026-08-16; recapture via SPARK_GRAFT_ONLY=q316 Verify if the
    // driver regenerates testdata.)
    "q316_lsh_quality_audit" ->
      """SELECT CAST(25 AS BIGINT) AS n_true, CAST(25 AS BIGINT) AS n_cand,
        |  CAST(25 AS BIGINT) AS n_hit, CAST(1.0 AS DOUBLE) AS recall,
        |  CAST(1.0 AS DOUBLE) AS "precision",
        |  CAST(0.999999953 AS DOUBLE) AS th_recall""".stripMargin,
    // duplicated-span twin: identical stride-10 positions over docs of
    // length >= 40, md5 of the same 40-char substr, cross-doc distinct
    // count, left join restores short docs at 0 grams / NULL fraction
    "q235_dup_spans" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
        |g AS (
        |  SELECT doc_id, md5(substr(text, i, 40)) AS h
        |  FROM (SELECT doc_id, text,
        |          unnest(generate_series(1, len - 39, 10)) AS i
        |        FROM d WHERE len >= 40)),
        |hc AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY h),
        |per AS (
        |  SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |    CAST(SUM(CASE WHEN hc.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_dup
        |  FROM g JOIN hc USING (h) GROUP BY g.doc_id)
        |SELECT d.doc_id, COALESCE(n_grams, 0) AS n_grams,
        |  COALESCE(n_dup, 0) AS n_dup,
        |  CASE WHEN n_grams IS NULL THEN NULL
        |    ELSE CAST(n_dup AS DOUBLE) / CAST(n_grams AS DOUBLE) END
        |    AS dup_frac
        |FROM (SELECT DISTINCT doc_id FROM d) d LEFT JOIN per USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q224_fs_em" -> fsEmSql(5),
    "q133_incremental_dedup" -> incrementalDedupSql,
    "q138_leakage_safe_split" -> leakageSafeSplitSql,

    // sorted-neighborhood twin: identical (p_name, p_partkey) total
    // order, the same rank-offset pair join and Levenshtein gate
    "q171_sorted_neighborhood" ->
      """WITH r AS (
        |  SELECT p_partkey AS id, p_name AS k,
        |    row_number() OVER (ORDER BY p_name, p_partkey) AS rn
        |  FROM part),
        |o AS (SELECT unnest([1, 2, 3, 4]) AS o),
        |p AS (SELECT a.id AS id_a, b.id AS id_b, a.k AS ka, b.k AS kb
        |      FROM r a CROSS JOIN o JOIN r b ON b.rn = a.rn + o.o)
        |SELECT id_a, id_b, CAST(levenshtein(ka, kb) AS BIGINT) AS dist
        |FROM p WHERE levenshtein(ka, kb) <= 4
        |ORDER BY id_a, id_b""".stripMargin,

    "q23_dedup_exact" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents
        |GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |ORDER BY keep_id""".stripMargin,
    "q24_dedup_ngram_jaccard" -> exactJaccardPairsSql,

    // sweep twin: the q24 capped pair computation, counted at each
    // threshold (VALUES frame left-joined so empty levels emit 0)
    "q205_jaccard_threshold_sweep" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
        |), sh0 AS (
        |  SELECT DISTINCT doc_id, t[i] || chr(0) || t[i+1] || chr(0) || t[i+2] AS s
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i FROM toks)
        |), sh AS (
        |  SELECT sh0.* FROM sh0
        |  JOIN (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= 20) keep USING (s)
        |), sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), pairs AS (
        |  SELECT i, sa.n + sb.n - i AS u FROM inter
        |  JOIN sizes sa ON sa.doc_id = da
        |  JOIN sizes sb ON sb.doc_id = db
        |), th(nu, de) AS (VALUES (1, 2), (3, 5), (7, 10), (4, 5), (9, 10)),
        |counts AS (
        |  SELECT th.nu, th.de, COUNT(*) AS n_pairs
        |  FROM pairs CROSS JOIN th
        |  WHERE th.de * pairs.i >= th.nu * pairs.u
        |  GROUP BY th.nu, th.de)
        |SELECT CAST((th.nu * 1000) // th.de AS BIGINT) AS threshold_permille,
        |  CAST(COALESCE(counts.n_pairs, 0) AS BIGINT) AS n_pairs
        |FROM th LEFT JOIN counts ON counts.nu = th.nu AND counts.de = th.de
        |ORDER BY threshold_permille""".stripMargin,

    // brute-force bigram Jaccard with NO filter: the plan's prefix
    // pruning must be invisible in the result
    "q187_prefix_filter_join" ->
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, t[i] || chr(0) || t[i+1] AS tok
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i
        |        FROM (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents))),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
        |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT da, db, inter, sa.n + sb.n - inter AS uni
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = da
        |JOIN sizes sb ON sb.doc_id = db
        |WHERE 5 * inter >= 4 * (sa.n + sb.n - inter)
        |ORDER BY da, db""".stripMargin,

    // linkage twin: identical blocks, comparators, and micro-nat weight
    // literals (integer sum — no runtime ln anywhere)
    "q195_linkage_score" ->
      """WITH p AS (
        |  SELECT p_partkey, p_name, p_brand, p_size, p_type,
        |    CAST(round(p_retailprice * 100.0) AS BIGINT) AS cents
        |  FROM part)
        |SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |  levenshtein(a.p_name, b.p_name) <= 2 AS agree_name,
        |  a.p_type = b.p_type AS agree_type,
        |  abs(a.cents - b.cents) <= 50 AS agree_price,
        |  CAST(CASE WHEN levenshtein(a.p_name, b.p_name) <= 2
        |       THEN 2890372 ELSE -2251292 END
        |  + CASE WHEN a.p_type = b.p_type THEN 1386294 ELSE -1386294 END
        |  + CASE WHEN abs(a.cents - b.cents) <= 50
        |       THEN 1945910 ELSE -1098612 END AS BIGINT) AS score_micro
        |FROM p a JOIN p b
        |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        | AND a.p_partkey < b.p_partkey
        |WHERE CASE WHEN levenshtein(a.p_name, b.p_name) <= 2
        |       THEN 2890372 ELSE -2251292 END
        |  + CASE WHEN a.p_type = b.p_type THEN 1386294 ELSE -1386294 END
        |  + CASE WHEN abs(a.cents - b.cents) <= 50
        |       THEN 1945910 ELSE -1098612 END > 0
        |ORDER BY id_a, id_b""".stripMargin,
    "q52_dedup_containment" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
        |), sh0 AS (
        |  SELECT DISTINCT doc_id, t[i] || chr(0) || t[i+1] || chr(0) || t[i+2] AS s
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i FROM toks)
        |), sh AS (
        |  SELECT sh0.* FROM sh0
        |  JOIN (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= 20) keep USING (s)
        |), sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT da, db, i, i / least(sa.n, sb.n) AS containment
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = da
        |JOIN sizes sb ON sb.doc_id = db
        |WHERE 10 * i >= 9 * least(sa.n, sb.n)
        |ORDER BY da, db""".stripMargin,
    "q54_dedup_clusters" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, t[i] || chr(0) || t[i+1] || chr(0) || t[i+2] AS s
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i FROM toks)
        |), sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), pairs AS (
        |  SELECT da, db FROM inter
        |  JOIN sizes sa ON sa.doc_id = da
        |  JOIN sizes sb ON sb.doc_id = db
        |  WHERE 5 * i >= 4 * (sa.n + sb.n - i)
        |), edges AS (
        |  SELECT da AS a, db AS b FROM pairs UNION SELECT db, da FROM pairs
        |), reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        |)
        |SELECT a AS node, least(a, MIN(b)) AS component
        |FROM reach GROUP BY a ORDER BY node""".stripMargin,

    // B-cubed twin: q54's recursive closure for the system clusters,
    // q55's md5 normalization for gold, the same nano-quantized
    // per-cell n²/|C| and n²/|L| chains
    "q343_bcubed" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, t[i] || chr(0) || t[i+1] || chr(0) || t[i+2] AS s
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i FROM toks)
        |), sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), pairs AS (
        |  SELECT da, db FROM inter
        |  JOIN sizes sa ON sa.doc_id = da
        |  JOIN sizes sb ON sb.doc_id = db
        |  WHERE 5 * i >= 4 * (sa.n + sb.n - i)
        |), edges AS (
        |  SELECT da AS a, db AS b FROM pairs UNION SELECT db, da FROM pairs
        |), reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        |), comp AS (
        |  SELECT a AS node, least(a, MIN(b)) AS component
        |  FROM reach GROUP BY a
        |), base AS (
        |  SELECT d.doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS gold,
        |    COALESCE(c.component, d.doc_id) AS sys
        |  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
        |), cells AS (
        |  SELECT sys, gold, CAST(COUNT(*) AS BIGINT) AS ncl
        |  FROM base GROUP BY 1, 2
        |), csz AS (SELECT sys, CAST(SUM(ncl) AS BIGINT) AS cs
        |           FROM cells GROUP BY 1
        |), lsz AS (SELECT gold, CAST(SUM(ncl) AS BIGINT) AS ls
        |           FROM cells GROUP BY 1
        |), contrib AS (
        |  SELECT ncl,
        |    CAST(ROUND(CAST(ncl AS DOUBLE) * CAST(ncl AS DOUBLE)
        |      / CAST(cs AS DOUBLE) * 1000000000.0) AS BIGINT) AS pq,
        |    CAST(ROUND(CAST(ncl AS DOUBLE) * CAST(ncl AS DOUBLE)
        |      / CAST(ls AS DOUBLE) * 1000000000.0) AS BIGINT) AS rq
        |  FROM cells JOIN csz USING (sys) JOIN lsz USING (gold)
        |), agg AS (
        |  SELECT CAST(SUM(ncl) AS BIGINT) AS n_docs,
        |    CAST(SUM(pq) AS BIGINT) AS sp, CAST(SUM(rq) AS BIGINT) AS sr
        |  FROM contrib)
        |SELECT n_docs,
        |  round(CAST(sp AS DOUBLE) / 1000000000.0
        |    / CAST(n_docs AS DOUBLE), 6) AS bcubed_precision,
        |  round(CAST(sr AS DOUBLE) / 1000000000.0
        |    / CAST(n_docs AS DOUBLE), 6) AS bcubed_recall,
        |  CASE WHEN CAST(sp AS DOUBLE) / 1000000000.0
        |      / CAST(n_docs AS DOUBLE)
        |      + CAST(sr AS DOUBLE) / 1000000000.0
        |      / CAST(n_docs AS DOUBLE) <= 0.0 THEN NULL
        |    ELSE round(2.0 * (CAST(sp AS DOUBLE) / 1000000000.0
        |        / CAST(n_docs AS DOUBLE))
        |      * (CAST(sr AS DOUBLE) / 1000000000.0
        |        / CAST(n_docs AS DOUBLE))
        |      / (CAST(sp AS DOUBLE) / 1000000000.0
        |        / CAST(n_docs AS DOUBLE)
        |        + CAST(sr AS DOUBLE) / 1000000000.0
        |        / CAST(n_docs AS DOUBLE)), 6) END AS bcubed_f1
        |FROM agg""".stripMargin,

    // capture–recapture twin: identical parity capture marks, exact
    // content-keyed flags, the same Chapman/variance double chains
    "q356_capture_recapture" ->
      """WITH sets AS (
        |  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |      AS fp,
        |    CAST(MAX(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ina,
        |    CAST(MAX(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS inb
        |  FROM documents GROUP BY 1),
        |ag AS (
        |  SELECT CAST(SUM(ina) AS BIGINT) AS n_a,
        |    CAST(SUM(inb) AS BIGINT) AS n_b,
        |    CAST(SUM(ina * inb) AS BIGINT) AS overlap,
        |    CAST(COUNT(*) AS BIGINT) AS n_true
        |  FROM sets),
        |c AS (
        |  SELECT *,
        |    (CAST(n_a AS DOUBLE) + 1.0) * (CAST(n_b AS DOUBLE) + 1.0) /
        |      (CAST(overlap AS DOUBLE) + 1.0) - 1.0 AS nhat,
        |    (CAST(n_a AS DOUBLE) + 1.0) * (CAST(n_b AS DOUBLE) + 1.0) *
        |      (CAST(n_a AS DOUBLE) - CAST(overlap AS DOUBLE)) *
        |      (CAST(n_b AS DOUBLE) - CAST(overlap AS DOUBLE)) /
        |      ((CAST(overlap AS DOUBLE) + 1.0) *
        |       (CAST(overlap AS DOUBLE) + 1.0) *
        |       (CAST(overlap AS DOUBLE) + 2.0)) AS vr
        |  FROM ag)
        |SELECT n_a, n_b, overlap, round(nhat, 2) AS n_hat,
        |  round(nhat - 1.96 * sqrt(vr), 2) AS ci_lo,
        |  round(nhat + 1.96 * sqrt(vr), 2) AS ci_hi,
        |  n_true,
        |  round((nhat - CAST(n_true AS DOUBLE)) / CAST(n_true AS DOUBLE)
        |    * 100.0, 4) AS err_pct
        |FROM c""".stripMargin,

    // V-measure twin: q343's closure + cells, then the same nano-
    // quantized ln factors multiplied by exact integer cell counts;
    // marginal entropies via ln N − (1/N)·Σ n·ln n
    "q344_vmeasure" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, t[i] || chr(0) || t[i+1] || chr(0) || t[i+2] AS s
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i FROM toks)
        |), sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), pairs AS (
        |  SELECT da, db FROM inter
        |  JOIN sizes sa ON sa.doc_id = da
        |  JOIN sizes sb ON sb.doc_id = db
        |  WHERE 5 * i >= 4 * (sa.n + sb.n - i)
        |), edges AS (
        |  SELECT da AS a, db AS b FROM pairs UNION SELECT db, da FROM pairs
        |), reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        |), comp AS (
        |  SELECT a AS node, least(a, MIN(b)) AS component
        |  FROM reach GROUP BY a
        |), base AS (
        |  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS gold,
        |    COALESCE(c.component, d.doc_id) AS sys
        |  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
        |), cells AS (
        |  SELECT sys, gold, CAST(COUNT(*) AS BIGINT) AS ncl
        |  FROM base GROUP BY 1, 2
        |), csz AS (SELECT sys, CAST(SUM(ncl) AS BIGINT) AS cs
        |           FROM cells GROUP BY 1
        |), lsz AS (SELECT gold, CAST(SUM(ncl) AS BIGINT) AS ls
        |           FROM cells GROUP BY 1
        |), joint AS (
        |  SELECT
        |    CAST(SUM(ncl * CAST(ROUND(ln(CAST(ncl AS DOUBLE) / CAST(cs AS DOUBLE))
        |      * 1000000000.0) AS BIGINT)) AS BIGINT) AS shh,
        |    CAST(SUM(ncl * CAST(ROUND(ln(CAST(ncl AS DOUBLE) / CAST(ls AS DOUBLE))
        |      * 1000000000.0) AS BIGINT)) AS BIGINT) AS scc
        |  FROM cells JOIN csz USING (sys) JOIN lsz USING (gold)
        |), m1 AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
        |    CAST(SUM(cs) AS BIGINT) AS n_docs,
        |    CAST(SUM(cs * CAST(ROUND(ln(CAST(cs AS DOUBLE)) * 1000000000.0)
        |      AS BIGINT)) AS BIGINT) AS ss
        |  FROM csz
        |), m2 AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
        |    CAST(SUM(ls * CAST(ROUND(ln(CAST(ls AS DOUBLE)) * 1000000000.0)
        |      AS BIGINT)) AS BIGINT) AS sl
        |  FROM lsz
        |), fin AS (
        |  SELECT n_docs, n_clusters, n_classes,
        |    CASE WHEN ln(CAST(n_docs AS DOUBLE))
        |        - CAST(sl AS DOUBLE) / 1000000000.0 / CAST(n_docs AS DOUBLE)
        |        < 0.000001 THEN 1.0
        |      ELSE 1.0 - (-(CAST(shh AS DOUBLE) / 1000000000.0)
        |          / CAST(n_docs AS DOUBLE))
        |        / (ln(CAST(n_docs AS DOUBLE))
        |          - CAST(sl AS DOUBLE) / 1000000000.0 / CAST(n_docs AS DOUBLE))
        |      END AS h,
        |    CASE WHEN ln(CAST(n_docs AS DOUBLE))
        |        - CAST(ss AS DOUBLE) / 1000000000.0 / CAST(n_docs AS DOUBLE)
        |        < 0.000001 THEN 1.0
        |      ELSE 1.0 - (-(CAST(scc AS DOUBLE) / 1000000000.0)
        |          / CAST(n_docs AS DOUBLE))
        |        / (ln(CAST(n_docs AS DOUBLE))
        |          - CAST(ss AS DOUBLE) / 1000000000.0 / CAST(n_docs AS DOUBLE))
        |      END AS c
        |  FROM joint, m1, m2)
        |SELECT n_docs, n_clusters, n_classes,
        |  round(h, 6) AS homogeneity, round(c, 6) AS completeness,
        |  CASE WHEN h + c <= 0.0 THEN NULL
        |    ELSE round(2.0 * h * c / (h + c), 6) END AS v_measure
        |FROM fin""".stripMargin,

    // q270 twin: q54's recursive closure, then the same two integer
    // aggregations (LEFT JOIN keeps singletons; outer sums cast to
    // BIGINT so DuckDB's HUGEINT SUM never leaks into the schema)
    "q270_dedup_impact" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, t[i] || chr(0) || t[i+1] || chr(0) || t[i+2] AS s
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i FROM toks)
        |), sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), pairs AS (
        |  SELECT da, db FROM inter
        |  JOIN sizes sa ON sa.doc_id = da
        |  JOIN sizes sb ON sb.doc_id = db
        |  WHERE 5 * i >= 4 * (sa.n + sb.n - i)
        |), edges AS (
        |  SELECT da AS a, db AS b FROM pairs UNION SELECT db, da FROM pairs
        |), reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        |), comp AS (
        |  SELECT a AS node, least(a, MIN(b)) AS component FROM reach GROUP BY a
        |), allc AS (
        |  SELECT d.doc_id, CAST(d.n_chars AS BIGINT) AS n_chars,
        |    COALESCE(c.component, d.doc_id) AS component
        |  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
        |), per AS (
        |  SELECT component, COUNT(*) AS cluster_size, SUM(n_chars) AS chars,
        |    MAX(n_chars) AS kept
        |  FROM allc GROUP BY 1)
        |SELECT cluster_size, COUNT(*) AS n_clusters,
        |  CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
        |  CAST(SUM(chars) AS BIGINT) AS chars_total,
        |  CAST(SUM(chars - kept) AS BIGINT) AS chars_removed
        |FROM per GROUP BY 1 ORDER BY cluster_size""".stripMargin,

    "q55_dedup_keep_best" ->
      """SELECT doc_id, n_chars FROM (
        |  SELECT doc_id, n_chars, ROW_NUMBER() OVER (
        |    PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |    ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q26_dedup_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
        |), words AS (SELECT DISTINCT doc_id, unnest(t) AS w FROM toks
        |), wh AS (SELECT doc_id, md5_number_lower(w) AS h FROM words
        |), bitsums AS (
        |  SELECT doc_id, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
        |  FROM wh, (SELECT unnest(generate_series(0, 63)) AS j) js
        |  GROUP BY doc_id, j
        |), sigs AS (
        |  SELECT doc_id, bit_or(CASE WHEN cnt > 0 THEN (1::UBIGINT << j) ELSE 0::UBIGINT END) AS sig
        |  FROM bitsums GROUP BY doc_id
        |), ch AS (
        |  SELECT doc_id, sig,
        |    (sig >> 0) & 65535 AS k0, (sig >> 16) & 65535 AS k1,
        |    (sig >> 32) & 65535 AS k2, (sig >> 48) & 65535 AS k3
        |  FROM sigs
        |), pairs AS (
        |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, a.sig AS sa, b.sig AS sb
        |  FROM ch a JOIN ch b ON a.doc_id < b.doc_id AND
        |    (a.k0 = b.k0 OR a.k1 = b.k1 OR a.k2 = b.k2 OR a.k3 = b.k3))
        |SELECT da, db, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
        |FROM pairs WHERE bit_count(xor(sa, sb)) <= 3
        |ORDER BY da, db""".stripMargin,
    "q25_dedup_minhash_lsh" ->
      // Same pair set as q24 (see recall argument above), pairs+jac only.
      """WITH toks AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, t[i] || chr(0) || t[i+1] || chr(0) || t[i+2] AS s
        |  FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS i FROM toks)
        |), sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT da, db, i / (sa.n + sb.n - i) AS jac
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = da
        |JOIN sizes sb ON sb.doc_id = db
        |WHERE 5 * i >= 4 * (sa.n + sb.n - i)
        |ORDER BY da, db""".stripMargin
  )
}
