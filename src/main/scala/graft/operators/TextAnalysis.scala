package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Util._

/** Text-analysis suite over `documents` (north-star LLM-pipeline surface):
  * language-ID (stopword-marker heuristic), quality scoring, token counting
  * (whitespace + BPE-ish regex), and content fingerprinting.
  *
  * Every op is a pure per-row projection — embarrassingly parallel, no
  * shuffle, fully whole-stage-codegen'd — so it scales linearly. Patterns
  * are kept in the RE2 ∩ Java-regex common dialect so the DuckDB oracle can
  * run the structurally identical expression.
  */
object TextAnalysis {

  /** q109's fixed query — terms from the synthetic corpus vocabulary,
    * shared by the Spark query and the generated oracle so both build
    * the identical per-term expression chain. Declared before the maps
    * that interpolate it (object init order). */
  private val Bm25Terms = Seq("spark", "table", "query", "vector", "stream")

  /** q124's merge count — shared by the Spark loop and the generated
    * oracle so both unroll the same number of stages. */
  private val BpeLearnSteps = 6

  /** Shared hashed-feature ARTIFACT — the GD-probe planner family (q253,
    * q276, q284, q286, q289, q308, q310, q312, q313, q318, q319) and
    * q242 all featurize the SAME corpus the same way:
    * `featureHash(documents, "text", "doc_id", 64)` — a full tokenize
    * (explode over every word) + two md5s per token + one keyed
    * aggregate, repaid identically by every consumer (12 of them; ~1 s
    * each at sf0.1 — round-13 measurement). Per (session, sfDir) the
    * (doc_id, dim, weight) result is materialized ONCE as a bucketed
    * table ([[graft.api.Graft.materializeBucketed]] — the basketEdges /
    * docShingles machinery, same honest-cost rule: the first consumer
    * pays the build inside its own timed query) and every later probe
    * reads doc_id-bucketed sorted longs instead of re-tokenizing the
    * corpus. Hash gates are unchanged: parquet round-trips the long
    * triples bit-for-bit, and each query's oracle still replays the
    * full featurization. At 100 TB this is the difference between one
    * tokenization pass per experiment SUITE and one per experiment. */
  private def docFeats64(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.api.Graft.materializeBucketed(s, s"doc_feats64:$dir", "doc_id", 16) {
      graft.api.Graft.featureHash(t(s, dir, "documents"), "text", "doc_id", 64)
    }

  // Marker stopwords per language (classic dictionary heuristic; scores are
  // deterministic, arg-max with a fixed tie-break order en>de>es>fr>zh).
  private val markers = Map(
    "en" -> "(the|and|of|is|in)",
    "de" -> "(der|die|und|ist|das)",
    "es" -> "(el|la|que|los|y)",
    "fr" -> "(le|les|des|et|un)",
    "zh" -> "(de|shi|le|wo|ni)")

  /** Shared langid predictor (q29's heuristic): (doc_id, lang, pred_lang) —
    * a pure per-row projection, reused by the q164/q165 classifier-eval
    * queries as their prediction source. */
  private[operators] def langidPred(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val scored = markers.foldLeft(t(s, dir, "documents")) { case (df, (l, pat)) =>
      df.withColumn(s"s_$l", regexp_count(lower($"text"), lit("\\b" + pat + "\\b")).cast(LongType))
    }
    scored
      .withColumn("pred_lang",
        when($"s_en" >= $"s_de" && $"s_en" >= $"s_es" && $"s_en" >= $"s_fr" && $"s_en" >= $"s_zh", "en")
          .when($"s_de" >= $"s_es" && $"s_de" >= $"s_fr" && $"s_de" >= $"s_zh", "de")
          .when($"s_es" >= $"s_fr" && $"s_es" >= $"s_zh", "es")
          .when($"s_fr" >= $"s_zh", "fr")
          .otherwise("zh"))
      .select($"doc_id", $"lang", $"pred_lang")
  }

  /** SQL twin of [[langidPred]]: a query fragment producing
    * (doc_id, lang, pred_lang) — interpolate as a CTE body. */
  private[operators] def langidPredSql: String = {
    def cnt(pat: String) = s"len(regexp_extract_all(lower(text), '\\b$pat\\b'))"
    s"""SELECT doc_id, lang,
       |  CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
       |       WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
       |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
       |       WHEN s_fr >= s_zh THEN 'fr'
       |       ELSE 'zh' END AS pred_lang
       |FROM (SELECT doc_id, lang,
       |  ${cnt(markers("en"))} AS s_en, ${cnt(markers("de"))} AS s_de,
       |  ${cnt(markers("es"))} AS s_es, ${cnt(markers("fr"))} AS s_fr,
       |  ${cnt(markers("zh"))} AS s_zh
       | FROM documents) scored""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    // ---- q354: TextTiling-lite topic-shift boundaries — WHERE a long
    // document changes subject (Hearst 1997): cosine similarity between
    // ADJACENT 50-word block term vectors; the low-cohesion gap is
    // where topic-aware chunking should cut (q62's fixed-stride chunks
    // split mid-topic; RAG retrieval quality is the downstream cost).
    // Block ids come from the FILTERED token rank (keyed row_number —
    // identical to the oracle's filtered-list ordinality); dots/norms
    // are exact integer sums per (doc, block); each gap's cosine is ONE
    // sqrt·sqrt division micro-snapped; the cut block is the exact-
    // integer argmin (min cos, tie → smallest block). Everything is
    // doc-keyed: zero cross-doc state, linear at any corpus size. ----
    "q354_texttiling" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(lower(col("text")), "[^a-z0-9]+"))
            .as(Seq("__p", "__t")))
        .filter(col("__t") =!= "")
      val wp = Window.partitionBy(col("doc_id")).orderBy(col("__p"))
      val counts = toks
        .withColumn("pos", row_number().over(wp).cast(LongType))
        .select(col("doc_id"), expr("(pos - 1) div 50").as("blk"),
          col("__t").as("w"))
        .groupBy(col("doc_id"), col("blk"), col("w"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint() // feeds norms + the adjacent-block dot join
      val norms = counts.groupBy(col("doc_id"), col("blk"))
        .agg(sum(col("c") * col("c")).as("nrm"))
      val dots = counts.alias("a").join(counts.alias("b"),
          col("a.doc_id") === col("b.doc_id") && col("a.w") === col("b.w") &&
            col("b.blk") === col("a.blk") + 1L)
        .groupBy(col("a.doc_id").as("doc_id"), col("a.blk").as("blk"))
        .agg(sum(col("a.c") * col("b.c")).as("dot"))
      val gaps = norms.alias("x").join(norms.alias("y"),
          col("x.doc_id") === col("y.doc_id") &&
            col("y.blk") === col("x.blk") + 1L)
        .select(col("x.doc_id").as("doc_id"), col("x.blk").as("blk"),
          col("x.nrm").as("na"), col("y.nrm").as("nb"))
        .join(dots, Seq("doc_id", "blk"), "left")
        .select(col("doc_id"), col("blk"),
          round(coalesce(col("dot"), lit(0L)).cast(DoubleType) /
            (sqrt(col("na").cast(DoubleType)) *
             sqrt(col("nb").cast(DoubleType))) * lit(1.0e6))
            .cast(LongType).as("cosq"))
      val mn = gaps.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_gaps"), sum(col("cosq")).as("__sc"),
          min(col("cosq")).as("__mc"))
      val cut = gaps.join(mn.select(col("doc_id"), col("__mc")), Seq("doc_id"))
        .filter(col("cosq") === col("__mc"))
        .groupBy(col("doc_id")).agg(min(col("blk")).as("cut_block"))
      val nb = norms.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_blocks"))
      mn.join(cut, Seq("doc_id")).join(nb, Seq("doc_id"))
        .select(col("doc_id"), col("n_blocks"), col("n_gaps"),
          round(col("__sc").cast(DoubleType) / lit(1.0e6) /
            col("n_gaps").cast(DoubleType), 6).as("mean_cos"),
          round(col("__mc").cast(DoubleType) / lit(1.0e6), 6).as("min_cos"),
          col("cut_block"))
        .orderBy(col("doc_id"))
    }),

    // ---- q359: context-length truncation audit — the planning table
    // for picking a training context length (q216 scores PACKING waste
    // once a length is chosen; this scores what TRUNCATION destroys
    // before that): for each candidate context L, how many documents
    // exceed it and what fraction of corpus tokens a hard truncation
    // at L throws away. Exact integer token counts (the shared
    // filtered-token device), one conditional aggregate over a 4-way
    // broadcast explode, one division per row. ----
    "q359_truncation_audit" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(expr("cast(size(filter(split(lower(text), '[^a-z0-9]+'), " +
          "x -> x != '')) as long)").as("ntok"))
      docs.withColumn("ctx_len",
          explode(array(Seq(128L, 256L, 512L, 1024L).map(lit): _*)))
        .groupBy(col("ctx_len"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("ntok") > col("ctx_len"), 1L).otherwise(0L))
            .as("docs_over"),
          sum(col("ntok")).as("tokens_total"),
          sum(greatest(col("ntok") - col("ctx_len"), lit(0L)))
            .as("tokens_lost"))
        .select(col("ctx_len"), col("n_docs"), col("docs_over"),
          col("tokens_total"), col("tokens_lost"),
          round(col("tokens_lost").cast(DoubleType) /
            col("tokens_total").cast(DoubleType), 6).as("frac_lost"))
        .orderBy(col("ctx_len"))
    }),

    // ---- q357: template-prefix collapse audit — synthetic/boiler-
    // plate generation pipelines stamp documents from a few templates,
    // and the tell is many docs SHARING THEIR OPENING TOKENS (q53/q107
    // score within-doc repetition, q66 cross-doc n-grams anywhere;
    // templates specifically collapse the PREFIX distribution): per
    // source, the distinct first-8-token prefix count and the largest
    // prefix group's share, flagged above 5%. Prefix = md5 over the
    // NUL-joined filtered token slice (collision-proof, identical in
    // both engines); two keyed aggregates, exact counts, one division
    // per source. ----
    "q357_template_prefix" -> ((s, dir) => {
      val pre = t(s, dir, "documents")
        .select(col("source"),
          md5(expr("array_join(slice(filter(split(lower(text), " +
            "'[^a-z0-9]+'), x -> x != ''), 1, 8), chr(0))")).as("pre"))
        .groupBy(col("source"), col("pre"))
        .agg(count(lit(1)).as("cnt"))
      val ag = pre.groupBy(col("source"))
        .agg(sum(col("cnt")).as("n_docs"),
          count(lit(1)).as("n_prefixes"),
          max(col("cnt")).as("top_count"))
      val share = col("top_count").cast(DoubleType) /
        col("n_docs").cast(DoubleType)
      ag.select(col("source"), col("n_docs"), col("n_prefixes"),
          col("top_count"), round(share, 6).as("top_share"),
          (share > lit(0.05)).as("template_flag"))
        .orderBy(col("source"))
    }),

    // ---- q228: pairwise Jensen–Shannon divergence between source
    // unigram distributions — the mixture-design audit: which sources
    // are near-duplicates of each other's token distribution (mix them
    // as one) and which contribute genuinely distinct text? Shared-token
    // terms nano-quantized before the order-free long sum; disjoint
    // mass folds into the closed-form ½ln2·(1−cm) correction. ----
    "q228_jsd_sources" -> ((s, dir) =>
      graft.api.Graft.jsDivergence(t(s, dir, "documents"), "text", "source")
        .orderBy(col("source_a"), col("source_b"))),

    // ---- q229: per-source Zipf rank-frequency fit — log-log OLS slope
    // over each source's top-200 token types. Natural text sits near
    // −1; the slope + r² pair flags template farms (flat head) and
    // gibberish (steep tail) per source in one #sources-row report. ----
    "q229_zipf_fit" -> ((s, dir) =>
      graft.api.Graft.zipfFit(t(s, dir, "documents"), "text", "source",
          maxRank = 200, minRanks = 20)
        .orderBy(col("source"))),

    // ---- q230: Good–Turing frequency smoothing over word bigrams —
    // the Katz-backoff discount table: N_r histogram, smoothed
    // r* = (r+1)·N_{r+1}/N_r for r ≤ 10, and the r=0 row carrying
    // P₀ = N₁/N (the probability the next bigram is a NEW type). ----
    "q230_good_turing" -> ((s, dir) =>
      graft.api.Graft.goodTuring(t(s, dir, "documents"), "text", "doc_id",
          ngram = 2, maxR = 10)
        .orderBy(col("r"))),

    // ---- q231: Dirichlet query-likelihood retrieval — the LM ranker
    // next to q109's BM25 on the same 5-term query: smoothing by the
    // collection model instead of idf. Same one-pass conditional-tf
    // device, same fixed left-to-right score chain; μ=2000 (the Zhai &
    // Lafferty sweet spot). ----
    "q231_ql_dirichlet" -> ((s, dir) => {
      graft.api.Graft.qlDirichletScore(t(s, dir, "documents"), "text",
          "doc_id", Bm25Terms, mu = 2000.0)
        .select(col("doc_id"), col("dl"), col("n_terms_hit"),
          round(col("ql"), 6).as("ql"))
        .orderBy(col("doc_id"))
    }),

    // ---- q207: per-source n-gram diversity — the corpus DEGENERACY
    // audit (distinct-2 metric): distinct word bigrams across the whole
    // source vs total bigram occurrences. A template farm or
    // looping-generation source shows a collapsing ratio long before
    // per-doc repetition (q53) fires, because the duplication is
    // CROSS-doc. Two keyed aggregates — per-doc bigram counts summed
    // per source, and an exact countDistinct of (source, bigram) —
    // both partial-agg friendly; the per-doc shingle dedup
    // (shingle_set) cannot change the cross-doc distinct. ----
    "q207_source_diversity" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val totals = docs.select($"source",
          greatest(size(split(trim($"text"), " ")) - 1, lit(0))
            .cast(LongType).as("nb"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"nb").as("total_bigrams"))
      val distincts = docs
        .select($"source", explode(expr("shingle_set(text, 2)")).as("sh"))
        .groupBy($"source").agg(countDistinct($"sh").as("distinct_bigrams"))
      totals.join(distincts, Seq("source"), "left")
        .select($"source", $"n_docs", $"total_bigrams",
          coalesce($"distinct_bigrams", lit(0L)).as("distinct_bigrams"),
          // an all-single-token source has 0 bigrams: NULL diversity,
          // matching the twin's NULL-on-zero-divisor (review finding —
          // IEEE would give NaN here and diverge from DuckDB)
          when($"total_bigrams" === 0L, lit(null).cast(DoubleType))
            .otherwise(round(
              coalesce($"distinct_bigrams", lit(0L)).cast(DoubleType) /
                $"total_bigrams".cast(DoubleType), 6)).as("diversity"))
        .orderBy($"source")
    }),

    // ---- q113: bigram LM self-perplexity (CCNet-shape quality filter:
    // score docs by cross-entropy under an n-gram model trained on the
    // corpus itself — gibberish/outlier docs score high). Count tables
    // are keyed aggregates joined back by gram; per-doc -ln-P sums are
    // nano-quantized longs (order-free) with ONE final double division. ----
    "q113_ngram_lm" -> ((s, dir) => {
      graft.api.Graft.ngramLmScore(t(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("n_bigrams"),
          round(col("cross_entropy"), 6).as("cross_entropy"))
        .orderBy(col("doc_id"))
    }),

    // ---- q285: interpolated Kneser–Ney bigram LM self-perplexity —
    // the smoothing KenLM-class quality filters actually ship (q113's
    // add-k over-penalizes grams after frequent-but-promiscuous words;
    // KN backs off to CONTINUATION counts — "how many distinct contexts
    // precede w", not "how often w occurs"):
    //   P(w2|w1) = (c(w1w2)−D)/c(w1·) + D·N1+(w1·)/c(w1·) · N1+(·w2)/B
    // with fixed discount D=0.75 and B = distinct bigram types. Self-
    // scoring only touches OBSERVED bigrams (c ≥ 1 > D, so the max(·,0)
    // clamp is vacuous — documented, not dropped silently). Four count
    // tables are keyed aggregates joined back by gram (the q113 plan
    // shape: one token-stream shuffle on doc_id for bigrams via lead(),
    // count joins on gram keys, map-side partials); per-bigram −ln P is
    // nano-quantized before the order-free per-doc sum; the only
    // unquantized doubles are the fixed-shape P chain and the final
    // division. Docs with < 2 tokens keep a row with NULL score (the
    // q113 "no evidence" contract). ----
    "q285_kneser_ney" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(lower(col("text")), "[^a-z0-9]+"))
            .as(Seq("__p", "__t")))
        .filter(col("__t") =!= "")
      val wp = Window.partitionBy(col("doc_id")).orderBy(col("__p"))
      val bigrams = toks.select(col("doc_id"), col("__t").as("w1"),
          lead(col("__t"), 1).over(wp).as("w2"))
        .filter(col("w2").isNotNull)
        .localCheckpoint()
      val bi = bigrams.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("cb"))
      val left = bi.groupBy(col("w1"))
        .agg(sum(col("cb")).as("cl"), count(lit(1)).as("n1f"))
      val cont = bi.groupBy(col("w2")).agg(count(lit(1)).as("n1b"))
      val btot = bi.agg(count(lit(1)).as("b"))
      val p = (col("cb").cast(DoubleType) - lit(0.75)) /
        col("cl").cast(DoubleType) +
        (lit(0.75) * col("n1f").cast(DoubleType) /
          col("cl").cast(DoubleType)) *
        (col("n1b").cast(DoubleType) / col("b").cast(DoubleType))
      val scored = bigrams.join(bi, Seq("w1", "w2"))
        .join(left, Seq("w1")).join(cont, Seq("w2"))
        .crossJoin(broadcast(btot))
        .select(col("doc_id"),
          round(-log(p) * lit(1.0e9)).cast(LongType).as("__q"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          ((sum(col("__q")).cast(DoubleType) / lit(1.0e9)) / count(lit(1)))
            .as("kn_cross_entropy"))
      t(s, dir, "documents").select(col("doc_id")).distinct()
        .join(scored, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          col("kn_cross_entropy"))
        .orderBy(col("doc_id"))
    }),

    // ---- q209: CCNet perplexity buckets — q113's cross-entropy turned
    // into the actual CCNet DECISION layer: per-language reference LMs
    // from the doc_id%5=0 slice, every other doc scored with LEFT-join
    // smoothing for unseen grams, each language cut into exact
    // equal-frequency head/middle/tail terciles by integer rank
    // arithmetic over globalRank (never a per-lang ntile window). ----
    "q209_ccnet_buckets" -> ((s, dir) =>
      graft.api.Graft.ccnetBuckets(t(s, dir, "documents"), "text",
          "doc_id", "lang", col("doc_id") % 5 === 0)
        .orderBy(col("doc_id"))),

    // ---- q296: cross-domain LM transfer matrix — the mixture-design
    // signal behind DoReMi-style domain weighting: train a bigram LM on
    // each of 5 hub sources and score EVERY source's bigram stream
    // under every hub (add-0.5 LEFT-join smoothing, q209's conventions)
    // → a 5×20 cross-entropy matrix. Low CE off-diagonal = the hub
    // already covers that domain (mixing adds little); high = genuinely
    // novel content. Diagonal is the self-predictability baseline
    // (hubs score their own training text — documented). Scale shape:
    // counts keyed by (hub, gram); scoring fans each bigram out ×5 via
    // a broadcast 5-row vocab table then LEFT-joins the count tables on
    // gram keys — linear in corpus × hubs, map-side combined. ----
    "q296_domain_transfer" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hubs = Seq("src0", "src1", "src2", "src3", "src4")
      val toks = t(s, dir, "documents")
        .select(col("source"), col("doc_id").as("__id"),
          posexplode(split(lower(col("text")), "[^a-z0-9]+"))
            .as(Seq("__p", "__t")))
        .filter(col("__t") =!= "").localCheckpoint()
      val wp = Window.partitionBy(col("__id")).orderBy(col("__p"))
      val bigrams = toks.select(col("source"), col("__id"),
          col("__t").as("w1"), lead(col("__t"), 1).over(wp).as("w2"))
        .filter(col("w2").isNotNull).localCheckpoint()
      val trBi = bigrams.filter(col("source").isin(hubs: _*))
        .groupBy(col("source").as("hub"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("cb"))
      val trUni = toks.filter(col("source").isin(hubs: _*))
        .groupBy(col("source").as("hub"), col("__t").as("w1"))
        .agg(count(lit(1)).as("cu"))
      val vocab = toks.filter(col("source").isin(hubs: _*))
        .groupBy(col("source").as("hub"))
        .agg(countDistinct(col("__t")).as("v"))
      val nll = log((coalesce(col("cu"), lit(0L)).cast(DoubleType) +
          lit(0.5) * col("v").cast(DoubleType)) /
        (coalesce(col("cb"), lit(0L)).cast(DoubleType) + lit(0.5)))
      bigrams.crossJoin(broadcast(vocab))
        .join(trBi, Seq("hub", "w1", "w2"), "left")
        .join(trUni, Seq("hub", "w1"), "left")
        .select(col("hub"), col("source"),
          round(nll * lit(1.0e9)).cast(LongType).as("__q"))
        .groupBy(col("hub"), col("source"))
        .agg(count(lit(1)).as("n_bigrams"),
          ((sum(col("__q")).cast(DoubleType) / lit(1.0e9)) / count(lit(1)))
            .as("cross_entropy"))
        .orderBy(col("hub"), col("source"))
    }),

    // ---- q303: speculative-decoding acceptance estimator (Leviathan
    // et al. 2022) — the serving-side planner beside q298's prefix
    // cache: if a cheap draft model proposes tokens and the target
    // model verifies, what fraction survive? Draft = the GLOBAL
    // unigram LM; target = each source's bigram LM; token-level
    // acceptance under speculative sampling is E_ctx Σ_x min(p_t(x|w),
    // p_d(x)), which collapses ALGEBRAICALLY to one exact integer sum:
    // Σ_bigram-types min(c·N, u·c_w) / (N_b·N) — per-term cross-
    // multiplied min over exact Decimal(38) products (the Jaccard-
    // threshold device lifted to distributions), ONE division per
    // source. Expected tokens per verify step for γ=4 drafts,
    // (1−α⁵)/(1−α), is a fixed multiply chain on the 9-dp-rounded α —
    // never libm pow. Scale shape: gram-keyed aggregates + two
    // gram-equi joins + 1-row N broadcast; linear in corpus. ----
    "q303_spec_decode_accept" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val D = DecimalType(38, 0)
      val toks = t(s, dir, "documents")
        .select(col("source"), col("doc_id").as("__id"),
          posexplode(split(lower(col("text")), "[^a-z0-9]+"))
            .as(Seq("__p", "__t")))
        .filter(col("__t") =!= "").localCheckpoint()
      val wp = Window.partitionBy(col("__id")).orderBy(col("__p"))
      val bi = toks.select(col("source"), col("__id"),
          col("__t").as("w1"), lead(col("__t"), 1).over(wp).as("w2"))
        .filter(col("w2").isNotNull)
        .groupBy(col("source"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("cb"))
        .localCheckpoint()
      val cw = bi.groupBy(col("source"), col("w1"))
        .agg(sum(col("cb")).as("cwt"))
      val uni = toks.groupBy(col("__t").as("w2")).agg(count(lit(1)).as("cu"))
      val nTok = toks.agg(count(lit(1)).as("ntok"))
      val nbi = bi.groupBy(col("source"))
        .agg(sum(col("cb")).as("n_bigrams"), count(lit(1)).as("n_types"))
      val smn = bi.join(cw, Seq("source", "w1")).join(uni, Seq("w2"))
        .crossJoin(broadcast(nTok))
        .select(col("source"),
          least(col("cb").cast(D) * col("ntok").cast(D),
            col("cu").cast(D) * col("cwt").cast(D)).as("mn"))
        .groupBy(col("source")).agg(sum(col("mn")).as("smn"))
      val a = col("accept_rate")
      smn.join(nbi, Seq("source")).crossJoin(broadcast(nTok))
        .withColumn("accept_rate",
          round(col("smn").cast(DoubleType) /
            (col("n_bigrams").cast(D) * col("ntok").cast(D))
              .cast(DoubleType), 9))
        .select(col("source"), col("n_types"), col("n_bigrams"),
          col("accept_rate"),
          when(a >= 1.0, lit(5.0))
            .otherwise(round(
              (lit(1.0) - a * a * a * a * a) / (lit(1.0) - a), 6))
            .as("exp_tokens_per_step"))
        .orderBy(col("source"))
    }),

    // ---- q304: distinct-value estimation audit (Chao1 / Good–Turing)
    // — the planner question a 100 TB vocabulary build hits first: can
    // a 10% sample predict the full corpus's distinct-token count, and
    // by how much does the species-richness estimator miss? Chao1
    // (bias-corrected, Chao 1984) d_s + f1(f1−1)/(2(f2+1)) from the
    // sample's singleton/doubleton counts, checked against the TRUE
    // distinct count the full scan gives; Good–Turing unseen mass
    // f1/n is the probability the NEXT sampled token is a new type.
    // Scale shape: one token-keyed count over the (prunable) sample
    // slice + one distinct over the full stream; all estimator math on
    // 1-row broadcasts. Numerator f1(f1−1) is an exact Decimal(38)
    // product; every division single and rounded. ----
    "q304_ndv_estimate" -> ((s, dir) => {
      val D = DecimalType(38, 0)
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(split(lower(col("text")), "[^a-z0-9]+")).as("__t"))
        .filter(col("__t") =!= "").localCheckpoint()
      val dTrue = toks.agg(countDistinct(col("__t")).as("d_true"))
      val tc = toks.filter(col("doc_id") % 10 === 0)
        .groupBy(col("__t")).agg(count(lit(1)).as("c"))
      val a = tc.agg(count(lit(1)).as("d_sample"),
        sum(when(col("c") === 1L, lit(1L)).otherwise(lit(0L))).as("f1"),
        sum(when(col("c") === 2L, lit(1L)).otherwise(lit(0L))).as("f2"),
        sum(col("c")).as("n_sample_tokens"))
      val chao1 = round(col("d_sample").cast(DoubleType) +
        (col("f1").cast(D) * (col("f1") - lit(1L)).cast(D)).cast(DoubleType) /
        (lit(2.0) * (col("f2").cast(DoubleType) + lit(1.0))), 6)
      a.crossJoin(broadcast(dTrue))
        .withColumn("chao1", chao1)
        .select(col("d_sample"), col("f1"), col("f2"),
          col("n_sample_tokens"), col("d_true"), col("chao1"),
          round((col("chao1") - col("d_true").cast(DoubleType)) /
            col("d_true").cast(DoubleType) * lit(100.0), 6).as("err_pct"),
          round(col("f1").cast(DoubleType) /
            col("n_sample_tokens").cast(DoubleType), 9).as("unseen_mass"))
    }),

    // ---- q128: per-doc Shannon character entropy (nats) — the cheap
    // gibberish/boilerplate gate. Char explode fans out but every
    // shuffle keys on the doc id (zero cross-doc state, linear); each
    // char's (c/n)·ln(n/c) term is nano-quantized before the order-free
    // per-doc sum (q113 policy) and the output is the ONE division
    // exact-long/1e9 — deliberately NO trailing round(), the q123 lesson:
    // decimal rounding of a computed double is the only engine-divergent
    // op left in this family. ----
    "q128_char_entropy" -> ((s, dir) => {
      graft.api.Graft.charEntropy(t(s, dir, "documents"), "text", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // ---- q137: windowed PMI co-occurrence pairs — the distributional-
    // semantics primitive (word-embedding / collocation feature
    // engineering): token pairs within a ±2 window via lead() over the
    // SAME per-doc position window q113 uses (one token-stream shuffle,
    // never a self-join), PMI from keyed count tables with 1-row N
    // broadcasts. Ranking is on the NANO-QUANTIZED pmi (exact long), so
    // top-30 ordering is engine-exact; min-count 5 guards the tail. ----
    // ---- q239: TextRank keyword extraction (Mihalcea & Tarau 2004) —
    // PageRank over the word co-occurrence graph: q137's ±2-window
    // token pairs (lead() per doc, never a self-join) symmetrized into
    // a directed edge list over the top-40 vocabulary, then the SAME
    // quantized pageRank chain q111 gates, top-20 keywords by the
    // nano-exact rank long. Vocab cap bounds the graph no matter the
    // corpus size — the token stream reduces through one keyed count
    // before anything graph-shaped happens. ----
    "q239_textrank_keywords" -> ((s, dir) => {
      val toks = t(s, dir, "documents").select(col("doc_id").as("__id"),
          posexplode(split(lower(col("text")), "[^a-z0-9]+"))
            .as(Seq("__p", "__t")))
        .filter(col("__t") =!= "")
      val vocab = toks.groupBy(col("__t").as("tok"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok")).limit(40)
        .select(col("tok"))
      val wp = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__id")).orderBy(col("__p"))
      val adj = Seq(1, 2).map { kk =>
        toks.select(col("__t").as("a"), lead(col("__t"), kk).over(wp).as("b"))
          .filter(col("b").isNotNull)
      }.reduce(_ unionAll _).filter(col("a") =!= col("b"))
      val sym = adj.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(adj.select(col("b").as("src"), col("a").as("dst")))
      // materialize the ≤ 40²-row edge table ONCE: pageRank's setup
      // (weight validation, node set, transition probs, dangling set)
      // consumes edges four times, and each pass would otherwise replay
      // the token-explode + window + vocab joins (measured: 5.9 → 2.6 s)
      val edges = sym
        .join(broadcast(vocab.select(col("tok").as("src"))), "src")
        .join(broadcast(vocab.select(col("tok").as("dst"))), "dst")
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
        .localCheckpoint()
      graft.api.Graft.pageRank(edges, "src", "dst", "w", iterations = 3)
        .withColumn("rq", round(col("rank") * lit(1.0e12)).cast(LongType))
        .orderBy(col("rq").desc, col("node"))
        .limit(20)
        .select(col("node").as("token"),
          (col("rq").cast(DoubleType) / lit(1.0e12)).as("rank"))
    }),

    // ---- q253: in-engine quality-classifier training — fastText/CCNet
    // shape: logistic regression on q242's hashed bag-of-words (+bias),
    // 3 full-batch GD rounds, predicting lang=='en'. Round 1 is
    // exp-free (w=0 → p=½ exactly); floor-division updates make every
    // round integer-replayable, so the oracle unrolls the whole
    // training loop as chained CTEs (the EM/pagerank device). ----
    "q253_logistic_quality_train" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val feats = docFeats64(s, dir)
        .select(col("doc_id").as("id"), col("dim"), col("weight").as("x"))
        .unionAll(docs.select(col("doc_id").as("id"),
          lit(-1L).as("dim"), lit(1L).as("x")))
      val labels = docs.select(col("doc_id").as("id"),
        (col("lang") === "en").cast(LongType).as("y"))
      graft.api.Graft.logisticTrainHashed(feats, labels, rounds = 3)
        .orderBy(col("dim"))
    }),

    // ---- q281: vocabulary coverage@V — the tokenizer-design curve: at
    // a vocab budget of V types (most-frequent-first, the greedy
    // optimum for whole-word coverage), what fraction of corpus tokens
    // is covered and what hits OOV/byte-fallback? Feeds the BPE sizing
    // decision next to q124 (learned merges) and q211 (fertility).
    // Scale shape: the rank is over TYPES (vocabulary-sized, not
    // corpus-sized) via the two-phase globalRank — never a
    // one-partition window over the corpus; coverage@V is a filtered
    // keyed sum, no running cumsum. Exact integer counts; coverage is
    // one division. ----
    "q281_vocab_coverage" -> ((s, dir) => {
      import s.implicits._
      val types = t(s, dir, "documents")
        .select(explode(split(lower(col("text")), "[^a-z0-9]+")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      val ranked = graft.api.Graft.globalRank(
        types.withColumn("negc", -col("cnt")), Seq("negc", "tok"), "rnk")
      val totals = types.agg(sum(col("cnt")).as("total_tokens"),
        count(lit(1)).as("n_types"))
      val vs = Seq(100L, 1000L, 10000L).toDF("v")
      ranked.crossJoin(broadcast(vs)).filter(col("rnk") <= col("v"))
        .groupBy(col("v"))
        .agg(count(lit(1)).as("types_used"),
          sum(col("cnt")).as("covered_tokens"))
        .crossJoin(broadcast(totals))
        .select(col("v"), col("types_used"), col("covered_tokens"),
          col("total_tokens"), col("n_types"),
          (col("covered_tokens").cast(DoubleType) /
            col("total_tokens").cast(DoubleType)).as("coverage"))
        .orderBy(col("v"))
    }),

    // ---- q283: Heaps'-law vocabulary-growth fit — V(N) ≈ k·N^β: the
    // exponent that PREDICTS q281's coverage curve at 100 TB from the
    // corpus you already have (β≈0.5 natural text; β drifting toward 1
    // flags boilerplate/ID-heavy contamination, toward 0 template
    // collapse). Ten nested prefixes by doc_id; vocab-at-prefix comes
    // from each type's FIRST-occurrence doc (one aggregate over types —
    // never re-counting distinct types per prefix), token counts from a
    // per-doc aggregate; the log-log OLS slope runs over 10 quantized
    // points with Decimal(38) exact cross sums. ----
    "q283_heaps_law" -> ((s, dir) => {
      import s.implicits._
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(split(lower(col("text")), "[^a-z0-9]+")).as("tok"))
        .filter(col("tok") =!= "")
      val firstOcc = toks.groupBy(col("tok")).agg(min(col("doc_id")).as("fd"))
      val docTok = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("nt"))
      val mx = t(s, dir, "documents").agg(max(col("doc_id")).as("mxd"))
      val grid = Seq.tabulate(10)(i => i + 1L).toDF("i")
        .crossJoin(broadcast(mx))
        .select(col("i"), expr("(mxd * i) div 10").as("thr"))
      val vocab = firstOcc.crossJoin(broadcast(grid))
        .filter(col("fd") <= col("thr"))
        .groupBy(col("i"), col("thr")).agg(count(lit(1)).as("v"))
      val tokens = docTok.crossJoin(broadcast(grid))
        .filter(col("doc_id") <= col("thr"))
        .groupBy(col("i").as("i2")).agg(sum(col("nt")).as("n"))
      val pts = vocab.join(tokens, col("i") === col("i2"))
        .select(col("i"), col("thr"), col("n"), col("v"),
          round(log(col("n").cast(DoubleType)) * lit(1.0e9))
            .cast(LongType).as("xq"),
          round(log(col("v").cast(DoubleType)) * lit(1.0e9))
            .cast(LongType).as("yq"))
      val fit = pts.agg(count(lit(1)).as("n_points"),
          sum(col("xq").cast(DecimalType(38, 0))).as("sx"),
          sum(col("yq").cast(DecimalType(38, 0))).as("sy"),
          sum((col("xq").cast(DecimalType(38, 0)) *
            col("yq").cast(DecimalType(38, 0)))).as("sxy"),
          sum((col("xq").cast(DecimalType(38, 0)) *
            col("xq").cast(DecimalType(38, 0)))).as("sxx"))
        .select(col("n_points"),
          ((col("n_points").cast(DoubleType) * col("sxy").cast(DoubleType) -
            col("sx").cast(DoubleType) * col("sy").cast(DoubleType)) /
           (col("n_points").cast(DoubleType) * col("sxx").cast(DoubleType) -
            col("sx").cast(DoubleType) * col("sx").cast(DoubleType)))
            .as("beta"))
      val full = pts.filter(col("i") === 10L)
        .select(col("n").as("total_tokens"), col("v").as("total_types"))
      fit.crossJoin(broadcast(full))
    }),

    // ---- q284: dataset cartography (Swayamdipta et al. 2020) — the
    // training-dynamics map next to q276's one-shot EL2N score: mean
    // true-class confidence × cross-round variability per document
    // under the q253 classifier, bucketed into easy / ambiguous / hard
    // / medium quadrants (ambiguous = the data worth keeping; hard =
    // label-noise suspects, cross-check q233). Probabilities recover
    // EXACTLY from the loop's micro-quantized residuals; the oracle
    // unrolls one extra GD round and unions the r2/r3/r4 residual
    // CTEs. eta = 0.1 (vs q253's 0.5): the map reads training
    // DYNAMICS, and the 0.5 full-batch rate oscillates every example
    // into the ambiguous bin — the gentler rate is the informative
    // regime (sweep recorded in the round-12 notes). ----
    "q284_dataset_cartography" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val feats = docFeats64(s, dir)
        .select(col("doc_id").as("id"), col("dim"), col("weight").as("x"))
        .unionAll(docs.select(col("doc_id").as("id"),
          lit(-1L).as("dim"), lit(1L).as("x")))
      val labels = docs.select(col("doc_id").as("id"),
        (col("lang") === "en").cast(LongType).as("y"))
      graft.api.Graft.datasetCartography(feats, labels, rounds = 3,
        etaMilli = 100)
    }),

    // ---- q286: TracIn influence attribution (Pruthi et al. 2020) —
    // the "which training documents moved the model toward/away from
    // THIS example" debugging pass next to q284's population-level map:
    // for 8 fixed probe docs, the top-5 most influential training docs
    // under the q253 classifier's checkpoint trace. The logistic
    // gradient factors as (p−y)·x, so influence separates into
    // (feature dot) × (residual-trace dot) — both broadcast joins, no
    // per-pair weight vectors, no cartesian (probe count is FIXED, not
    // corpus-shaped). High positive influence = same-direction
    // gradients (reinforcing examples); strong negatives flag
    // conflicting labels worth a q233 cross-check. ----
    "q286_tracin_influence" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val feats = docFeats64(s, dir)
        .select(col("doc_id").as("id"), col("dim"), col("weight").as("x"))
        .unionAll(docs.select(col("doc_id").as("id"),
          lit(-1L).as("dim"), lit(1L).as("x")))
      val labels = docs.select(col("doc_id").as("id"),
        (col("lang") === "en").cast(LongType).as("y"))
      val probes = docs.filter(col("doc_id") % 7 === 3)
        .select(col("doc_id").as("id")).orderBy(col("id")).limit(8)
      graft.api.Graft.tracinInfluence(feats, labels, probes, rounds = 3,
        etaMilli = 500, topK = 5)
    }),

    // ---- q289: covariate-shift importance weights + ESS — "this
    // corpus slice is not the target distribution; how much is it
    // worth after reweighting?": train the q253 probe to separate
    // target docs (sources src0–src9) from the rest, weight every
    // non-target doc by the density-ratio p/(1−p), and report Kish's
    // effective sample size plus the weighted/unweighted source means
    // of n_chars against the true target mean — the self-check that
    // the reweighting moves the estimate toward the target. The
    // capability DSIR (q115) selects WITH; this is the diagnostic
    // that says whether selection/reweighting can work at all. ----
    "q289_covariate_shift" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val feats = docFeats64(s, dir)
        .select(col("doc_id").as("id"), col("dim"), col("weight").as("x"))
        .unionAll(docs.select(col("doc_id").as("id"),
          lit(-1L).as("dim"), lit(1L).as("x")))
      val labels = docs.select(col("doc_id").as("id"),
        (length(col("source")) === 4).cast(LongType).as("y"))
      val vals = docs.select(col("doc_id").as("id"),
        col("n_chars").as("v"))
      graft.api.Graft.covariateShiftEss(feats, labels, vals, rounds = 3,
        etaMilli = 500)
    }),

    // ---- q276: EL2N pruning report — what the q253 classifier is FOR
    // in a curation pipeline: score every document's error norm |p − y|
    // under the trained model (the EL2N margin of Paul et al. 2021 —
    // low = easy/redundant, high = informative or mislabeled), decile-
    // rank the corpus, and publish volume + mean score per decile with
    // the prune decision for the two easiest deciles. Same features,
    // labels, and GD rounds as q253; scoring is one more broadcast join
    // + keyed aggregate, the decile cut is the parallel order statistic.
    // ----
    "q276_el2n_prune" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val feats = docFeats64(s, dir)
        .select(col("doc_id").as("id"), col("dim"), col("weight").as("x"))
        .unionAll(docs.select(col("doc_id").as("id"),
          lit(-1L).as("dim"), lit(1L).as("x")))
      val labels = docs.select(col("doc_id").as("id"),
        (col("lang") === "en").cast(LongType).as("y"))
      graft.api.Graft.el2nPruneReport(feats, labels, rounds = 3)
    }),

    // ---- q308: RHO-loss selection (Mindermann et al. 2022) — the
    // data-selection upgrade over q276's EL2N: EL2N's "high error =
    // informative" cannot tell informative from MISLABELED; reducible
    // holdout loss CE(train model) − CE(holdout model) can. Two q253
    // probes on disjoint slices (train = doc_id%4≠1, irreducible-loss
    // model = the %4=1 holdout), rho scored on the train slice, decile
    // report with 'select' on the top two. High rho = learnable-but-
    // not-learnt (train on these); negative = noise (the selection
    // view of q233). Plan: 2× the q253 loop + one scoring pass —
    // nothing scales worse than q253 itself. ----
    "q308_rho_loss" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val feats = docFeats64(s, dir)
        .select(col("doc_id").as("id"), col("dim"), col("weight").as("x"))
        .unionAll(docs.select(col("doc_id").as("id"),
          lit(-1L).as("dim"), lit(1L).as("x")))
      val labels = docs.select(col("doc_id").as("id"),
        (col("lang") === "en").cast(LongType).as("y"))
      val ho = docs.filter(col("doc_id") % 4 === 1)
        .select(col("doc_id").as("id"))
      graft.api.Graft.rhoLossReport(feats, labels, ho, rounds = 3,
        etaMilli = 500)
    }),

    // ---- q310: data scaling-law fit — "will more data help?": the
    // q253 probe trained on nested 1/8, 1/4, 1/2 corpus slices, each
    // scored on the SAME %8=7 holdout, with L(N)=a·N^(−α) fitted by
    // log-log OLS over the three points. The measured data-term of
    // Kaplan et al. 2020 beside q283's Heaps curve — on loss, not
    // vocabulary. α ≈ 0 says the corpus is saturated for the probed
    // capability; the per-slice rows expose WHERE the curve bends.
    // ----
    "q310_scaling_law" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val feats = docFeats64(s, dir)
        .select(col("doc_id").as("id"), col("dim"), col("weight").as("x"))
        .unionAll(docs.select(col("doc_id").as("id"),
          lit(-1L).as("dim"), lit(1L).as("x")))
      val labels = docs.select(col("doc_id").as("id"),
        (col("lang") === "en").cast(LongType).as("y"))
      def ids(k: Int) = docs.filter(col("doc_id") % 8 < k)
        .select(col("doc_id").as("id"))
      val ev = docs.filter(col("doc_id") % 8 === 7)
        .select(col("doc_id").as("id"))
      graft.api.Graft.scalingLawFit(feats, labels,
        Seq("k=1" -> ids(1), "k=2" -> ids(2), "k=4" -> ids(4)), ev,
        rounds = 3, etaMilli = 500)
    }),

    // ---- q312: gradient-noise scale — the critical-batch-size number
    // (McCandlish et al. 2018) for the q253 probe on this corpus:
    // tr(Σ)/|G|² from exact per-example integer gradients rq·x. The
    // data-parallelism planner beside q310's data-scaling planner —
    // together they answer "more data, and how many machines?". ----
    "q312_gradient_noise" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val feats = docFeats64(s, dir)
        .select(col("doc_id").as("id"), col("dim"), col("weight").as("x"))
        .unionAll(docs.select(col("doc_id").as("id"),
          lit(-1L).as("dim"), lit(1L).as("x")))
      val labels = docs.select(col("doc_id").as("id"),
        (col("lang") === "en").cast(LongType).as("y"))
      graft.api.Graft.gradientNoiseScale(feats, labels, rounds = 3,
        etaMilli = 500)
    }),

    // ---- q313: temperature-scaling calibration — is the q253 probe's
    // confidence TRUSTWORTHY where q276/q308 consume it as a selection
    // signal? Train on %4≠1, grid T on the %4=1 calibration slice,
    // flag the NLL-argmin temperature. The post-hoc half of the
    // calibration story whose measurement half is q162/q232/q237. ----
    "q313_temperature_scaling" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val feats = docFeats64(s, dir)
        .select(col("doc_id").as("id"), col("dim"), col("weight").as("x"))
        .unionAll(docs.select(col("doc_id").as("id"),
          lit(-1L).as("dim"), lit(1L).as("x")))
      val labels = docs.select(col("doc_id").as("id"),
        (col("lang") === "en").cast(LongType).as("y"))
      val cal = docs.filter(col("doc_id") % 4 === 1)
        .select(col("doc_id").as("id"))
      graft.api.Graft.temperatureScaling(feats, labels, cal, rounds = 3,
        etaMilli = 500)
    }),

    // ---- q317: DoReMi-style mixture weights (Xie et al. 2023, the
    // one-step excess-loss form) — q296 MEASURES the transfer matrix;
    // this turns it into the decision: domains where the generalist LM
    // (trained on everything) loses more than the domain's own
    // reference LM are hard-but-learnable and get up-weighted,
    // w_h ∝ exp(η·excess_h). Saturated domains (excess ≈ 0) fall back
    // toward uniform. Same gram-keyed count tables and add-0.5
    // LEFT-join smoothing as q296; the exp is micro-quantized (the
    // q297 transcendental-output lesson) so the normalizing sum is
    // exact. ----
    "q317_doremi_weights" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val D = DecimalType(38, 0)
      val hubs = Seq("src0", "src1", "src2", "src3", "src4")
      val toks = t(s, dir, "documents")
        .select(col("source"), col("doc_id").as("__id"),
          posexplode(split(lower(col("text")), "[^a-z0-9]+"))
            .as(Seq("__p", "__t")))
        .filter(col("__t") =!= "").localCheckpoint()
      val wp = Window.partitionBy(col("__id")).orderBy(col("__p"))
      val bigrams = toks.select(col("source"), col("__id"),
          col("__t").as("w1"), lead(col("__t"), 1).over(wp).as("w2"))
        .filter(col("w2").isNotNull).localCheckpoint()
      val hb = bigrams.filter(col("source").isin(hubs: _*))
      val trBi = hb.groupBy(col("source").as("hub"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("cb"))
      val trUni = toks.filter(col("source").isin(hubs: _*))
        .groupBy(col("source").as("hub"), col("__t").as("w1"))
        .agg(count(lit(1)).as("cu"))
      val vocab = toks.filter(col("source").isin(hubs: _*))
        .groupBy(col("source").as("hub"))
        .agg(countDistinct(col("__t")).as("v"))
      val nllSelf = log((coalesce(col("cu"), lit(0L)).cast(DoubleType) +
          lit(0.5) * col("v").cast(DoubleType)) /
        (coalesce(col("cb"), lit(0L)).cast(DoubleType) + lit(0.5)))
      val selfCe = hb.withColumn("hub", col("source"))
        .join(trBi, Seq("hub", "w1", "w2"), "left")
        .join(trUni, Seq("hub", "w1"), "left")
        .join(broadcast(vocab), Seq("hub"))
        .select(col("hub"),
          round(nllSelf * lit(1.0e9)).cast(LongType).as("__q"))
        .groupBy(col("hub"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("__q")).as("__sqs"))
      val gBi = bigrams.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("gcb"))
      val gUni = toks.groupBy(col("__t").as("w1"))
        .agg(count(lit(1)).as("gcu"))
      val gV = toks.agg(countDistinct(col("__t")).as("gv"))
      val nllGlob = log((coalesce(col("gcu"), lit(0L)).cast(DoubleType) +
          lit(0.5) * col("gv").cast(DoubleType)) /
        (coalesce(col("gcb"), lit(0L)).cast(DoubleType) + lit(0.5)))
      val globCe = hb.join(gBi, Seq("w1", "w2"), "left")
        .join(gUni, Seq("w1"), "left")
        .crossJoin(broadcast(gV))
        .select(col("source").as("hub"),
          round(nllGlob * lit(1.0e9)).cast(LongType).as("__q"))
        .groupBy(col("hub")).agg(sum(col("__q")).as("__sqg"))
      val ceS = (col("__sqs").cast(DoubleType) / lit(1.0e9)) /
        col("n_bigrams").cast(DoubleType)
      val ceG = (col("__sqg").cast(DoubleType) / lit(1.0e9)) /
        col("n_bigrams").cast(DoubleType)
      val j = selfCe.join(globCe, Seq("hub"))
        .withColumn("eq", round(exp(ceG - ceS) * lit(1.0e6)).cast(LongType))
        .localCheckpoint()
      val tot = j.agg(sum(col("eq")).as("teq"))
      j.crossJoin(broadcast(tot))
        .select(col("hub"), col("n_bigrams"),
          round(ceS, 6).as("ce_self"), round(ceG, 6).as("ce_global"),
          round(ceG - ceS, 6).as("excess"),
          round(col("eq").cast(DoubleType) /
            col("teq").cast(DoubleType), 6).as("weight_doremi"))
        .orderBy(col("hub"))
    }),

    // ---- q318: black-box label-shift estimation (BBSE) — the target
    // slice's class prior WITHOUT target labels: invert the
    // calibration confusion out of the predicted-positive rate. Train
    // on %4∈{0,1}, confusion on %4=2, estimate on %4=3; the held-out
    // true prior rides along so the estimator's error is itself
    // hash-gated. Completes the shift triptych: q287/q288 detect,
    // q289 reweights covariates, q318 corrects the label prior. ----
    "q318_label_shift_bbse" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val feats = docFeats64(s, dir)
        .select(col("doc_id").as("id"), col("dim"), col("weight").as("x"))
        .unionAll(docs.select(col("doc_id").as("id"),
          lit(-1L).as("dim"), lit(1L).as("x")))
      val labels = docs.select(col("doc_id").as("id"),
        (col("lang") === "en").cast(LongType).as("y"))
      def ids(cond: org.apache.spark.sql.Column) =
        docs.filter(cond).select(col("doc_id").as("id"))
      graft.api.Graft.labelShiftBbse(feats, labels,
        ids(col("doc_id") % 4 < 2), ids(col("doc_id") % 4 === 2),
        ids(col("doc_id") % 4 === 3), rounds = 3, etaMilli = 500)
    }),

    // ---- q319: selective-prediction risk–coverage — if the q253 probe
    // may ABSTAIN (route to a bigger model / a human), how good is what
    // it keeps at each coverage level, and what's the AURC? The
    // abstention-aware eval beside q313's calibration fit: same probe,
    // same %4=1 holdout, confidence = exact integer |z|. ----
    "q319_risk_coverage" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val feats = docFeats64(s, dir)
        .select(col("doc_id").as("id"), col("dim"), col("weight").as("x"))
        .unionAll(docs.select(col("doc_id").as("id"),
          lit(-1L).as("dim"), lit(1L).as("x")))
      val labels = docs.select(col("doc_id").as("id"),
        (col("lang") === "en").cast(LongType).as("y"))
      val ev = docs.filter(col("doc_id") % 4 === 1)
        .select(col("doc_id").as("id"))
      graft.api.Graft.selectiveRiskReport(feats, labels, ev, rounds = 3,
        etaMilli = 500)
    }),

    // ---- q323: "Fightin' Words" log-odds drift (Monroe, Colaresi &
    // Quinn 2008) — WHICH tokens distinguish two corpus slices, with
    // the informative-Dirichlet shrinkage that kills the rare-word
    // false positives a raw log-odds top-k drowns in: δ_w = logit
    // difference under prior α_w = α0·p(w), z = δ/√(1/(y_a+α_w) +
    // 1/(y_b+α_w)), top-20 by |z|. The drilldown beside q136/q151's
    // "drift happened" scalars and q228's corpus-level JSD: the
    // reviewer-facing WHAT changed. English vs non-English here; any
    // two slices at 100 TB. Two token-keyed aggregates + 1-row
    // broadcasts; ranking on the nano-quantized z (exact), TakeOrdered
    // top-20. ----
    "q323_fightin_words" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select((col("lang") === "en").cast(LongType).as("ga"),
          explode(split(lower(col("text")), "[^a-z0-9]+")).as("w"))
        .filter(col("w") =!= "")
      val cnt = toks.groupBy(col("w"))
        .agg(sum(col("ga")).as("ya"), sum(lit(1L) - col("ga")).as("yb"))
        .localCheckpoint() // feeds totals AND the scored scan
      val tot = cnt.agg(sum(col("ya")).as("na"), sum(col("yb")).as("nb"),
        sum(col("ya") + col("yb")).as("nn"))
      val aw = lit(100.0) * (col("ya") + col("yb")).cast(DoubleType) /
        col("nn").cast(DoubleType)
      val da = log((col("ya").cast(DoubleType) + aw) /
        (col("na").cast(DoubleType) + lit(100.0) -
          col("ya").cast(DoubleType) - aw))
      val db = log((col("yb").cast(DoubleType) + aw) /
        (col("nb").cast(DoubleType) + lit(100.0) -
          col("yb").cast(DoubleType) - aw))
      val z = (da - db) / sqrt(lit(1.0) /
        (col("ya").cast(DoubleType) + aw) + lit(1.0) /
        (col("yb").cast(DoubleType) + aw))
      cnt.crossJoin(broadcast(tot))
        .withColumn("zq", round(z * lit(1.0e9)).cast(LongType))
        .orderBy(abs(col("zq")).desc, col("w"))
        .limit(20)
        .select(col("w").as("token"), col("ya"), col("yb"),
          round(col("zq").cast(DoubleType) / lit(1.0e9), 6).as("z_score"),
          when(col("zq") > 0L, lit("en")).otherwise(lit("other"))
            .as("leans"))
    }),

    // ---- q326: term burstiness / adaptation audit (Church & Gale
    // 1995) — tokens whose occurrences CLUMP into few documents vs the
    // Poisson spread their corpus count predicts: expected df under
    // Poisson is D·(1−e^(−c/D)); adaptation = df/edf ≪ 1 flags
    // template/boilerplate vocabulary that tf-weighting over-scores
    // and dedup under-shingles. Top-20 burstiest tokens with c ≥ 50,
    // ranked on the nano-quantized ratio (exact order); one token-
    // keyed aggregate + a 1-row doc-count broadcast. ----
    "q326_burstiness" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = docs.select(col("doc_id"),
          explode(split(lower(col("text")), "[^a-z0-9]+")).as("w"))
        .filter(col("w") =!= "")
      val cnt = toks.groupBy(col("w"))
        .agg(count(lit(1)).as("c"), countDistinct(col("doc_id")).as("df"))
      val dD = docs.agg(count(lit(1)).as("d"))
      val edf = col("d").cast(DoubleType) *
        (lit(1.0) - exp(-col("c").cast(DoubleType) /
          col("d").cast(DoubleType)))
      cnt.filter(col("c") >= 50L).crossJoin(broadcast(dD))
        .withColumn("aq",
          round(col("df").cast(DoubleType) / edf * lit(1.0e9))
            .cast(LongType))
        .orderBy(col("aq"), col("w")).limit(20)
        .select(col("w").as("token"), col("c"), col("df"),
          round(edf, 6).as("expected_df"),
          round(col("aq").cast(DoubleType) / lit(1.0e9), 6).as("adaptation"))
    }),

    // ---- q242: feature hashing — fixed-64-dim signed bag-of-words via
    // the hashing trick: no vocabulary pass, one projection + one keyed
    // aggregate; md5-derived dims/signs replay identically cross-engine
    // (the q189 device), zero-weight collisions cancel out of the
    // output. ----
    "q242_feature_hashing" -> ((s, dir) =>
      docFeats64(s, dir)
        .orderBy(col("doc_id"), col("dim"))),

    "q137_pmi_pairs" -> ((s, dir) => {
      val toks = t(s, dir, "documents").select(col("doc_id").as("__id"),
          posexplode(split(lower(col("text")), "[^a-z0-9]+")).as(Seq("__p", "__t")))
        .filter(col("__t") =!= "")
      val wp = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__id")).orderBy(col("__p"))
      val pairs = Seq(1, 2).map { k =>
        toks.select(col("__t").as("a"), lead(col("__t"), k).over(wp).as("b"))
          .filter(col("b").isNotNull)
      }.reduce(_ unionAll _)
        .select(least(col("a"), col("b")).as("w1"),
          greatest(col("a"), col("b")).as("w2"))
        .filter(col("w1") =!= col("w2"))
      val cab = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
      val np = pairs.agg(count(lit(1)).as("np"))
      val cw = toks.groupBy(col("__t").as("w")).agg(count(lit(1)).as("cw"))
      val nw = toks.agg(count(lit(1)).as("nw"))
      cab.filter(col("c_ab") >= 5)
        .join(cw.select(col("w").as("w1"), col("cw").as("c1")), "w1")
        .join(cw.select(col("w").as("w2"), col("cw").as("c2")), "w2")
        .crossJoin(broadcast(np)).crossJoin(broadcast(nw))
        .withColumn("pmi_q",
          round(log((col("c_ab").cast(DoubleType) / col("np")) /
            ((col("c1").cast(DoubleType) / col("nw")) *
             (col("c2").cast(DoubleType) / col("nw")))) * lit(1.0e9))
            .cast(LongType))
        .orderBy(col("pmi_q").desc, col("w1"), col("w2"))
        .limit(30)
        .select(col("w1"), col("w2"), col("c_ab"),
          (col("pmi_q").cast(DoubleType) / lit(1.0e9)).as("pmi"))
    }),

    // ---- q29: language identification ----
    "q29_langid" -> ((s, dir) => {
      import s.implicits._
      langidPred(s, dir)
        .select($"doc_id", $"pred_lang", ($"pred_lang" === $"lang").as("is_match"))
        .orderBy($"doc_id")
    }),

    // ---- q202: langid confusion matrix — the eval family (q164) turned
    // on a pipeline operator's own output: q29's heuristic predictions
    // vs the labeled lang column, as per-(actual, predicted) counts with
    // per-class recall (integer cross-checkable via n/row totals). The
    // audit that tells you WHERE the classifier bleeds (which language
    // pairs confuse), not just the q29 accuracy bit. ----
    "q202_langid_confusion" -> ((s, dir) => {
      import s.implicits._
      val preds = langidPred(s, dir)
      val rowTotals = preds.groupBy($"lang").agg(count(lit(1)).as("n_actual"))
      preds.groupBy($"lang", $"pred_lang").agg(count(lit(1)).as("n"))
        .join(rowTotals, Seq("lang"))
        .select($"lang", $"pred_lang", $"n", $"n_actual",
          ($"n".cast(DoubleType) / $"n_actual".cast(DoubleType)).as("frac_of_actual"))
        .orderBy($"lang", $"pred_lang")
    }),

    // ---- q30: quality scoring ----
    // All counts come from ONE code-point scan (text_stats — see
    // TextStatsKernel for the exact-regex-equivalence argument); the old
    // form ran three java.util.regex passes per document and was the
    // slowest linear operator in the bench. Oracle unchanged: counts are
    // semantics, not implementation.
    "q30_text_quality" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .withColumn("ts", expr("text_stats(text)"))
        .select($"doc_id", $"ts.ws_tokens".as("n_tokens"), $"ts.n_punct",
          $"ts.n_stop", $"ts.char_len")
        .withColumn("stop_ratio", $"n_stop" / $"n_tokens")
        .withColumn("quality_score",
          lit(0.5) * ($"n_stop" / $"n_tokens") + lit(0.5) * (lit(1.0) - $"n_punct" / $"char_len"))
        .orderBy($"doc_id")
    }),

    // ---- q211: tokenizer fertility audit — bytes/token and tokens/word
    // per language, the standard pretraining diagnostic for how
    // expensive each language is under the tokenizer (CJK text costs
    // ~3 UTF-8 bytes/char and fragments into more tokens/word than
    // English; a corpus mix budgeted in bytes silently under-trains
    // high-fertility languages). One pass of the q31 text_stats kernel
    // + UTF-8 octet_length, one keyed agg, ratios as single double
    // divisions of exact longs. ----
    "q211_tokenizer_fertility" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .withColumn("ts", expr("text_stats(text)"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(octet_length($"text")).as("n_bytes"),
          sum($"ts.bpe_tokens").as("bpe_tokens"),
          sum($"ts.ws_tokens").as("ws_tokens"))
        .select($"lang", $"n_docs", $"n_bytes", $"bpe_tokens", $"ws_tokens",
          ($"n_bytes".cast(DoubleType) / $"bpe_tokens".cast(DoubleType))
            .as("bytes_per_token"),
          ($"bpe_tokens".cast(DoubleType) / $"ws_tokens".cast(DoubleType))
            .as("fertility"))
        .orderBy($"lang")
    }),

    // ---- q31: token counting (whitespace + BPE-ish regex semantics,
    // computed by the one-pass text_stats kernel) ----
    "q31_token_count" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .withColumn("ts", expr("text_stats(text)"))
        .select($"doc_id", $"ts.ws_tokens".as("ws_tokens"),
          $"ts.bpe_tokens".as("bpe_tokens"))
        .orderBy($"doc_id")
    }),

    // ---- q217: readability scoring (Flesch reading ease) — the
    // classic "is this text at a trainable reading level?" screen that
    // completes the quality family (q30 surface stats, q107 repetition,
    // q128 entropy): words from the \S+ token definition (the q31/q59
    // convention), sentences from terminal-punctuation runs (floored at
    // 1 — this corpus is unpunctuated, so the w/s term degenerates to
    // w, which the formula tolerates), syllables from vowel-group runs
    // (the standard dictionary-free approximation). Pure per-row
    // codegen projection — no shuffle at any scale; the only doubles
    // are the final fixed-coefficient chain, rounded once. ----
    "q217_readability" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
          .cast(LongType).as("n_words"),
        greatest(lit(1L),
          size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
            .cast(LongType)).as("n_sentences"),
        size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
          .cast(LongType).as("n_syllables"))
      d.select(col("doc_id"), col("n_words"), col("n_sentences"),
          col("n_syllables"),
          when(col("n_words") === 0L, lit(null).cast(DoubleType))
            .otherwise(round(lit(206.835) -
              lit(1.015) * (col("n_words").cast(DoubleType) /
                col("n_sentences").cast(DoubleType)) -
              lit(84.6) * (col("n_syllables").cast(DoubleType) /
                col("n_words").cast(DoubleType)), 4)).as("flesch_r"))
        .orderBy(col("doc_id"))
    }),

    // ---- q53: repetition scoring — fraction of repeated word trigrams
    // (1 - distinct/total), the classic training-data looping/boilerplate
    // detector. Both counts come from one codegen'd projection
    // (shingle_set); the ratio is one double division of exact longs, so
    // the oracle matches bit-for-bit without rounding. ----
    "q53_text_repetition" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .withColumn("n_ngrams",
          greatest(size(split(trim($"text"), "\\s+")) - 2, lit(0)).cast(LongType))
        .filter($"n_ngrams" > 0)
        .withColumn("n_distinct", size(expr("shingle_set(text, 3)")).cast(LongType))
        .select($"doc_id", $"n_ngrams", $"n_distinct",
          (lit(1.0) - $"n_distinct" / $"n_ngrams").as("repetition"))
        .orderBy($"doc_id")
    }),

    // ---- q107: Gopher repetition filters (Rae et al. 2021, Table A1,
    // adapted to word n-grams) — char fraction of the most frequent
    // 2-gram/3-gram and of duplicated 10-grams, with the paper's
    // thresholds as the combined flag. Per-doc windows only (one
    // shuffle); exact-integer ratios under one double division. ----
    "q107_gopher_repetition" -> ((s, dir) => {
      graft.api.Graft.gopherRepetition(t(s, dir, "documents"), "text", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // ---- q109: BM25 relevance against a fixed query — the retrieval
    // scorer curation pipelines use to importance-sample documents
    // similar to a trusted reference. One token pass (conditional tf per
    // literal term, no postings join), 1-row stats broadcast, score as a
    // FIXED left-to-right expression chain (no double aggregation →
    // shuffle order cannot perturb it; ln rounded for output only,
    // q69's policy). ----
    "q109_bm25_score" -> ((s, dir) => {
      graft.api.Graft.bm25Score(t(s, dir, "documents"), "text", "doc_id",
          Bm25Terms)
        .select(col("doc_id"), col("dl"), col("n_terms_hit"),
          round(col("bm25"), 6).as("bm25"))
        .orderBy(col("doc_id"))
    }),

    // ---- q261: tf–idf cosine (vector-space model) — the classic third
    // retrieval ranker beside q109's BM25 and q231's Dirichlet QL, and
    // the one with a FULL document norm (Σ over every term's w², not
    // just query terms): long off-topic documents are punished where a
    // bare dot product would reward them. Same fixed-chain float policy
    // as q109; the norm's Σw² is micro-quantized per posting and summed
    // as exact longs. Same term list as q109 so the three rankers are
    // directly comparable downstream (q144-style fusion). ----
    "q261_vsm_cosine" -> ((s, dir) =>
      graft.api.Graft.tfidfCosine(t(s, dir, "documents"), "text", "doc_id",
          Bm25Terms)
        .orderBy(col("doc_id"))),

    // ---- q144: reciprocal-rank fusion — hybrid retrieval's standard
    // list combiner (Cormack 2009): the q109 lexical BM25 ranking fused
    // with a document-length prior ranking, score = Σ 1/(60 + rank).
    // Each list is truncated top-100 BEFORE fusion (the real RRF usage —
    // every join side is list-sized, not corpus-sized); each term is ONE
    // double division and the total a FIXED 2-term chain, so the oracle
    // replays it bit-for-bit (q109's policy). Completes the retrieval
    // family: BM25 (q109) + ANN (q28/q43/q46) + re-rank (q45) + fusion. ----
    "q144_rrf_fusion" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val bm = graft.api.Graft.bm25Score(docs, "text", "doc_id", Bm25Terms)
      val rankA = bm.orderBy(col("bm25").desc, col("doc_id")).limit(100)
        .withColumn("rank", row_number()
          .over(Window.orderBy(col("bm25").desc, col("doc_id"))))
      val rankB = docs.orderBy(col("n_chars").desc, col("doc_id")).limit(100)
        .withColumn("rank", row_number()
          .over(Window.orderBy(col("n_chars").desc, col("doc_id"))))
      graft.api.Graft.rrfFuse(Seq(rankA, rankB), "doc_id", "rank", k = 60)
        .orderBy(col("rrf").desc, col("doc_id")).limit(50)
    }),

    // ---- q32: document fingerprint (normalized-content hash) ----
    "q32_fingerprint" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select($"doc_id",
          md5(regexp_replace(lower($"text"), "[^a-z0-9]", "")).as("fp"))
        .orderBy($"doc_id")
    }),

    // ---- q333: winnowing fingerprints (Schleimer/Wilkerson/Aiken,
    // SIGMOD'03 — the MOSS algorithm) — the LOCAL fingerprinting scheme
    // the dedup family was missing: q32 hashes whole documents (misses
    // any partial overlap), q24/q25 use global shingle sets (position-
    // blind); winnowing guarantees any shared run of ≥ w+k−1 tokens
    // yields at least one SHARED fingerprint, which is exactly the
    // contamination/plagiarism detection contract. Per doc: 4-token
    // grams hashed with md5_lower64 (masked to 62 bits so signed/
    // unsigned MIN agrees cross-engine), window-of-5 minima, DISTINCT
    // selected hashes = the fingerprint set. Pairs join on fingerprint
    // with a document-frequency stop cap (df ≤ 50 — the q24
    // stop-shingle discipline: a boilerplate fingerprint's fan-out is
    // quadratic and its evidence value nil), gated on integer
    // containment shared·2 ≥ min(|A|,|B|). 100 TB shape: per-doc
    // windows (doc-sized partitions), fingerprint-blocked pair join
    // with bounded per-key fan-out — the standard dedup-at-scale
    // skeleton. ----
    "q333_winnowing" -> ((s, dir) => {
      import s.implicits._
      val wCnt = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id")
      val wMin = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"j")
        .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow, 4)
      val grams = t(s, dir, "documents")
        .select($"doc_id", expr(
          "filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')")
          .as("tk"))
        .filter(size($"tk") >= 4)
        .select($"doc_id", posexplode(expr(
          "transform(sequence(0, size(tk) - 4), i -> " +
            "concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3]))"))
          .as(Seq("j", "g")))
        .select($"doc_id", $"j".cast(LongType).as("j"),
          expr("md5_lower64(g)").bitwiseAND(lit(0x3FFFFFFFFFFFFFFFL))
            .as("h"))
      val fps = grams
        .withColumn("ng", count(lit(1)).over(wCnt))
        .withColumn("mh", min($"h").over(wMin))
        .filter($"j" <= $"ng" - lit(5L))
        .select($"doc_id", $"mh").distinct()
      val kept = fps.join(
        fps.groupBy($"mh").agg(count(lit(1)).as("ndocs"))
          .filter($"ndocs" <= 50L).select($"mh"), "mh")
      val sizes = kept.groupBy($"doc_id").agg(count(lit(1)).as("nfp"))
      val pairs = kept.alias("a").join(kept.alias("b"),
          $"a.mh" === $"b.mh" && $"a.doc_id" < $"b.doc_id")
        .groupBy($"a.doc_id".as("da"), $"b.doc_id".as("db"))
        .agg(count(lit(1)).as("shared"))
      pairs
        .join(sizes.select($"doc_id".as("da"), $"nfp".as("na")), "da")
        .join(sizes.select($"doc_id".as("db"), $"nfp".as("nb")), "db")
        .filter($"shared" * 2L >= least($"na", $"nb"))
        .select($"da", $"db", $"shared", $"na", $"nb",
          round($"shared".cast(DoubleType) /
            least($"na", $"nb").cast(DoubleType), 6).as("containment"))
        .orderBy($"da", $"db")
    }),

    // ---- q99: Unicode text normalization — NFC canonical composition
    // (codegen'd nfc_normalize, DuckDB-builtin name-twin; composed vs
    // decomposed accents stop being distinct tokens), lowercase, and
    // whitespace-run collapse: the normalization pass every corpus runs
    // before hashing/dedup. Pure per-row projection, no shuffle;
    // non-ASCII behavior value-tested in TextStatsSpec (the corpus here
    // is ASCII, where NFC is the identity — the md5 still pins the
    // lower/regex/trim plumbing). ----
    "q99_normalize_text" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .withColumn("norm",
          trim(regexp_replace(lower(expr("nfc_normalize(text)")), "\\s+", " ")))
        .select($"doc_id", length($"norm").cast(LongType).as("n_chars_norm"),
          md5($"norm").as("norm_md5"))
        .orderBy($"doc_id")
    }),

    // ---- q103: REAL BPE tokenization — the fixed-merge-table apply a
    // production tokenizer runs (vocab ships with the model; applying it
    // is the corpus-scale job). Codegen'd bpe_count: per word, merges in
    // priority order as boundary-safe literal replaces; the oracle
    // replays the SAME merge table (generated from one Scala list) with
    // SQL replace, which has identical left-to-right non-overlapping
    // semantics — upgrading q31's token counting from BPE-ish regex to a
    // hash-checked real BPE. Pure projection, no shuffle. ----
    "q103_bpe_tokens" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select($"doc_id", expr("bpe_count(text)").as("bpe_tokens"))
        .orderBy($"doc_id")
    }),

    // ---- q124: BPE merge-table LEARNING — the other half of q103
    // (which applies a fixed table). One vocab aggregate collapses the
    // corpus, then each merge step is a pair-count agg + 1-row argmax
    // to the driver; the oracle replays the identical loop as 6
    // unrolled CTE stages over the same delimited symbol form. ----
    "q124_bpe_learn" -> ((s, dir) => {
      graft.api.Graft.bpeLearn(t(s, dir, "documents"), "text", merges = BpeLearnSteps)
    }),

    // ---- q126: segmented inverted index over the q109 term set — the
    // Lucene-shape postings build. Per (term, doc-id bucket) segments
    // bound every task (a stopword's full posting list is the corpus);
    // the per-term rollup hashes segment digests in bucket order. ----
    "q126_inverted_index" -> ((s, dir) => {
      graft.api.Graft.invertedIndex(t(s, dir, "documents"), "text", "doc_id",
        Bm25Terms, bucketWidth = 100L)
    }),

    // ---- q33: multimodal column plumbing (binary length + first byte);
    //      the decode path itself is the mapPartitions stub in Multimodal ----
    "q33_multimodal_meta" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select($"doc_id",
          octet_length($"text").cast(LongType).as("n_bytes"),
          ascii(substring($"text", 1, 1)).cast(LongType).as("first_byte"))
        .orderBy($"doc_id")
    })
  )

  private def langidSql: String =
    s"""WITH p AS (
       |${langidPredSql})
       |SELECT doc_id, pred_lang, pred_lang = lang AS is_match FROM p
       |ORDER BY doc_id""".stripMargin

  /** q239 oracle: the q111 pagerank round device (MATERIALIZED rounds,
    * quantized in-sums, the dangling term kept for chain equality even
    * though the symmetric graph makes it 0) over the q137 token-pair
    * CTEs restricted to the top-40 vocabulary. */
  private def textrankSql(iters: Int): String = {
    val q = "1000000000000.0"
    val rounds = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT n.node,
         |    (1.0 - 0.85) / nn.nd + 0.85 * (COALESCE(ins.in_r, 0.0) + dg.dang / nn.nd) AS rank
         |  FROM nodes n
         |  CROSS JOIN nn
         |  LEFT JOIN (
         |    SELECT e.dst AS node,
         |      CAST(SUM(CAST(ROUND(r.rank * e.p * $q) AS BIGINT)) AS DOUBLE) / $q AS in_r
         |    FROM ep e JOIN r${i - 1} r ON r.node = e.src GROUP BY e.dst) ins USING (node)
         |  CROSS JOIN (
         |    SELECT CAST(COALESCE(SUM(CAST(ROUND(r.rank * $q) AS BIGINT)), 0) AS DOUBLE) / $q AS dang
         |    FROM r${i - 1} r JOIN dangling d ON d.node = r.node) dg)""".stripMargin
    }.mkString(",\n")
    s"""WITH tl AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
       |      x -> x <> '') AS w
       |  FROM documents),
       |toks AS (SELECT doc_id, unnest(w) AS t FROM tl),
       |vocab AS MATERIALIZED (
       |  SELECT t AS tok FROM toks GROUP BY t
       |  ORDER BY COUNT(*) DESC, t LIMIT 40),
       |b1 AS (SELECT w, unnest(range(1, len(w))) AS i FROM tl WHERE len(w) >= 2),
       |p1 AS (SELECT w[i] AS a, w[i+1] AS b FROM b1),
       |b2 AS (SELECT w, unnest(range(1, len(w) - 1)) AS i FROM tl WHERE len(w) >= 3),
       |p2 AS (SELECT w[i] AS a, w[i+2] AS b FROM b2),
       |adj AS (SELECT a, b FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2) u
       |        WHERE a <> b),
       |sym AS (SELECT a AS src, b AS dst FROM adj
       |        UNION ALL SELECT b AS src, a AS dst FROM adj),
       |edges AS MATERIALIZED (
       |  SELECT src, dst, COUNT(*) AS w FROM sym
       |  JOIN vocab va ON va.tok = sym.src
       |  JOIN vocab vb ON vb.tok = sym.dst
       |  GROUP BY src, dst),
       |nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM nodes),
       |outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src),
       |ep AS MATERIALIZED (SELECT src, dst, CAST(w AS DOUBLE) / CAST(ow AS DOUBLE) AS p
       |       FROM edges JOIN outw USING (src)),
       |dangling AS MATERIALIZED (SELECT node FROM nodes WHERE node NOT IN (SELECT src FROM edges)),
       |r0 AS MATERIALIZED (SELECT node, 1.0 / nd AS rank FROM nodes CROSS JOIN nn),
       |$rounds,
       |fin AS (SELECT node, CAST(ROUND(rank * $q) AS BIGINT) AS rq FROM r$iters)
       |SELECT node AS token, CAST(rq AS DOUBLE) / $q AS rank
       |FROM fin ORDER BY rq DESC, node LIMIT 20""".stripMargin
  }

  /** q253 oracle: the GD rounds unrolled — identical hashed features
    * (q242's md5 device) + bias, identical nano-weight / micro-residual
    * quantization, the same sigmoid chain, and the `//` update, which
    * on integers truncates toward zero exactly like Spark's `div`
    * (plain div on both sides — the repo's verified division rule). */
  /** The hashed-feature CTEs shared by every logistic-probe oracle
    * (q253 family + the two-model q308): tokenization, md5 dim/sign
    * hashing, per-(doc, dim) signed sums. */
  private val featureCtesSql: String =
    """toks AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |      x -> x <> '')) AS t
      |  FROM documents),
      |h AS (
      |  SELECT doc_id,
      |    CAST((md5_number_lower(t) & 9223372036854775807::UBIGINT) % 64
      |      AS BIGINT) AS dim,
      |    CAST((md5_number_lower('s:' || t) & 1::UBIGINT) * 2 AS BIGINT) - 1
      |      AS sgn
      |  FROM toks),
      |fh AS (
      |  SELECT doc_id AS id, dim, CAST(SUM(sgn) AS BIGINT) AS x
      |  FROM h GROUP BY doc_id, dim HAVING SUM(sgn) <> 0)""".stripMargin

  /** One GD chain (z/r/g/w steps ×rounds) over CTEs `${p}f`/`${p}y`/
    * `${p}nn`/`${p}w0`, emitting `${p}w$rounds` — prefixable so two
    * independently-trained probes can live in one oracle query. */
  private def gdChainSql(rounds: Int, etaMilli: Long, p: String): String =
    (1 to rounds).map { i =>
      s"""${p}z$i AS (
         |  SELECT f.id, CAST(SUM(w.wq * f.x) AS BIGINT) AS zq
         |  FROM ${p}f f JOIN ${p}w${i - 1} w USING (dim) GROUP BY f.id),
         |${p}r$i AS MATERIALIZED (
         |  SELECT z.id,
         |    CAST(ROUND((1.0 / (1.0 + exp(-(CAST(zq AS DOUBLE) / 1000000000.0)))
         |      - CAST(y.y AS DOUBLE)) * 1000000.0) AS BIGINT) AS rq
         |  FROM ${p}z$i z JOIN ${p}y y USING (id)),
         |${p}g$i AS (
         |  SELECT f.dim, CAST(SUM(r.rq * f.x) AS BIGINT) AS gq
         |  FROM ${p}f f JOIN ${p}r$i r USING (id) GROUP BY f.dim),
         |${p}w$i AS MATERIALIZED (
         |  SELECT w.dim,
         |    CAST(w.wq - ((COALESCE(g.gq, 0) * $etaMilli) // nn.N) AS BIGINT) AS wq
         |  FROM ${p}w${i - 1} w LEFT JOIN ${p}g$i g USING (dim)
         |  CROSS JOIN ${p}nn nn)""".stripMargin
    }.mkString(",\n")

  /** q310 oracle: three GD chains over nested %8<k slices (prefixes
    * s1/s2/s4), each scored on the shared %8=7 eval slice, log-log
    * OLS over the nano-quantized (ln N, ln CE) points with HUGEINT
    * moments — the quantization scale cancels in the slope. */
  private def scalingSql(rounds: Int, etaMilli: Long): String = {
    def slice(p: String, k: Int): String =
      s"""${p}f AS MATERIALIZED (SELECT * FROM fa WHERE id % 8 < $k),
         |${p}y AS MATERIALIZED (
         |  SELECT doc_id AS id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         |  FROM documents WHERE doc_id % 8 < $k),
         |${p}nn AS MATERIALIZED (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS N FROM ${p}y),
         |${p}w0 AS MATERIALIZED (
         |  SELECT dim, CAST(0 AS BIGINT) AS wq
         |  FROM (SELECT DISTINCT dim FROM ${p}f) d)""".stripMargin
    def score(p: String, name: String): String =
      s"""SELECT '$name' AS slice,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ${p}y) AS n_train,
         |  CAST(COUNT(*) AS BIGINT) AS n_eval,
         |  CAST(SUM(CAST(ROUND(ln(1.0 + exp(
         |      (CASE WHEN y.y = 1 THEN -CAST(zq AS DOUBLE)
         |            ELSE CAST(zq AS DOUBLE) END) / 1000000000.0))
         |    * 1000000.0) AS BIGINT)) AS BIGINT) AS sq
         |FROM (SELECT f.id, CAST(SUM(w.wq * f.x) AS BIGINT) AS zq
         |      FROM ef f JOIN ${p}w$rounds w USING (dim) GROUP BY f.id) z
         |JOIN ey y USING (id)""".stripMargin
    s"""WITH $featureCtesSql,
       |fa AS MATERIALIZED (
       |  SELECT * FROM fh
       |  UNION ALL
       |  SELECT doc_id AS id, CAST(-1 AS BIGINT) AS dim, CAST(1 AS BIGINT) AS x
       |  FROM documents),
       |ef AS MATERIALIZED (SELECT * FROM fa WHERE id % 8 = 7),
       |ey AS MATERIALIZED (
       |  SELECT doc_id AS id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM documents WHERE doc_id % 8 = 7),
       |${slice("s1", 1)},
       |${gdChainSql(rounds, etaMilli, "s1")},
       |${slice("s2", 2)},
       |${gdChainSql(rounds, etaMilli, "s2")},
       |${slice("s4", 4)},
       |${gdChainSql(rounds, etaMilli, "s4")},
       |rows_ AS (${score("s1", "k=1")}
       |  UNION ALL ${score("s2", "k=2")}
       |  UNION ALL ${score("s4", "k=4")}),
       |pts AS (SELECT slice, n_train, n_eval,
       |    (CAST(sq AS DOUBLE) / 1000000.0) / CAST(n_eval AS DOUBLE) AS ce,
       |    CAST(ROUND(ln(CAST(n_train AS DOUBLE)) * 1000000000.0) AS BIGINT)
       |      AS xq
       |  FROM rows_),
       |pts2 AS (SELECT slice, n_train, n_eval, ce, xq,
       |    CAST(ROUND(ln(ce) * 1000000000.0) AS BIGINT) AS yq FROM pts),
       |fit AS (SELECT round(-(
       |    CAST(COUNT(*) * SUM(CAST(xq AS HUGEINT) * yq)
       |      - SUM(CAST(xq AS HUGEINT)) * SUM(CAST(yq AS HUGEINT))
       |      AS DOUBLE)
       |    / CAST(COUNT(*) * SUM(CAST(xq AS HUGEINT) * xq)
       |      - SUM(CAST(xq AS HUGEINT)) * SUM(CAST(xq AS HUGEINT))
       |      AS DOUBLE)), 6) AS alpha FROM pts2)
       |SELECT slice, n_train, n_eval, round(ce, 6) AS holdout_ce, alpha
       |FROM pts2 CROSS JOIN fit ORDER BY slice""".stripMargin
  }

  /** q313 oracle: one GD chain on the %4≠1 slice, ∓z margins on the
    * %4=1 calibration slice, broadcast DOUBLE temperature grid, exact
    * keyed NLL sums, low-T-tie-break argmin. */
  private def tempSql(rounds: Int, etaMilli: Long,
      temps: Seq[Double]): String = {
    val tempVals = temps.map(t => s"(CAST($t AS DOUBLE))").mkString(", ")
    s"""WITH $featureCtesSql,
       |fa AS MATERIALIZED (
       |  SELECT * FROM fh
       |  UNION ALL
       |  SELECT doc_id AS id, CAST(-1 AS BIGINT) AS dim, CAST(1 AS BIGINT) AS x
       |  FROM documents),
       |${sliceSql("t", "<> 1")},
       |${gdChainSql(rounds, etaMilli, "t")},
       |cf AS (SELECT * FROM fa WHERE id % 4 = 1),
       |cy AS (SELECT doc_id AS id,
       |        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       |       FROM documents WHERE doc_id % 4 = 1),
       |zc AS (SELECT f.id, CAST(SUM(w.wq * f.x) AS BIGINT) AS zq
       |       FROM cf f JOIN tw$rounds w USING (dim) GROUP BY f.id),
       |mzt AS (SELECT z.id,
       |    CASE WHEN y.y = 1 THEN -CAST(zq AS DOUBLE)
       |         ELSE CAST(zq AS DOUBLE) END AS mz
       |  FROM zc z JOIN cy y USING (id)),
       |temps(temperature) AS (VALUES $tempVals),
       |terms AS (SELECT temperature,
       |    CAST(ROUND(ln(1.0 + exp((mz / 1000000000.0) / temperature))
       |      * 1000000.0) AS BIGINT) AS ceq
       |  FROM mzt CROSS JOIN temps),
       |ag AS (SELECT temperature, CAST(SUM(ceq) AS BIGINT) AS sq,
       |        CAST(COUNT(*) AS BIGINT) AS n FROM terms GROUP BY 1),
       |best AS (SELECT temperature AS bt FROM ag
       |         ORDER BY sq, temperature LIMIT 1)
       |SELECT temperature,
       |  round((CAST(sq AS DOUBLE) / 1000000.0) / CAST(n AS DOUBLE), 6)
       |    AS mean_nll,
       |  CAST(CASE WHEN temperature = bt THEN 1 ELSE 0 END AS BIGINT)
       |    AS is_best
       |FROM ag CROSS JOIN best ORDER BY temperature""".stripMargin
  }

  /** q318 oracle: one GD chain on the %4<2 slice, exact sign-test
    * predictions on the %4=2 confusion slice and %4=3 target slice,
    * the same clamped inverse with the cross-multiplied degeneracy
    * guard. */
  private def bbseSql(rounds: Int, etaMilli: Long): String = {
    val q1 =
      """LEAST(1.0, GREATEST(0.0,
        |      (CAST(pt AS DOUBLE) / CAST(n_target AS DOUBLE)
        |        - CAST(p01 AS DOUBLE) / CAST(n0 AS DOUBLE))
        |      / (CAST(p11 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |        - CAST(p01 AS DOUBLE) / CAST(n0 AS DOUBLE))))""".stripMargin
    s"""WITH $featureCtesSql,
       |fa AS MATERIALIZED (
       |  SELECT * FROM fh
       |  UNION ALL
       |  SELECT doc_id AS id, CAST(-1 AS BIGINT) AS dim, CAST(1 AS BIGINT) AS x
       |  FROM documents),
       |${sliceSql("t", "< 2")},
       |${gdChainSql(rounds, etaMilli, "t")},
       |cf AS (SELECT * FROM fa WHERE id % 4 = 2),
       |cy AS (SELECT doc_id AS id,
       |        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       |       FROM documents WHERE doc_id % 4 = 2),
       |gf AS (SELECT * FROM fa WHERE id % 4 = 3),
       |gy AS (SELECT doc_id AS id,
       |        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       |       FROM documents WHERE doc_id % 4 = 3),
       |zc AS (SELECT f.id, CAST(SUM(w.wq * f.x) AS BIGINT) AS zq
       |       FROM cf f JOIN tw$rounds w USING (dim) GROUP BY f.id),
       |zg AS (SELECT f.id, CAST(SUM(w.wq * f.x) AS BIGINT) AS zq
       |       FROM gf f JOIN tw$rounds w USING (dim) GROUP BY f.id),
       |cal AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal,
       |    CAST(SUM(y.y) AS BIGINT) AS n1,
       |    CAST(SUM(y.y * (CASE WHEN zq > 0 THEN 1 ELSE 0 END)) AS BIGINT)
       |      AS p11,
       |    CAST(SUM(1 - y.y) AS BIGINT) AS n0,
       |    CAST(SUM((1 - y.y) * (CASE WHEN zq > 0 THEN 1 ELSE 0 END))
       |      AS BIGINT) AS p01
       |  FROM zc z JOIN cy y USING (id)),
       |tgt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_target,
       |    CAST(SUM(CASE WHEN zq > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pt,
       |    CAST(SUM(y.y) AS BIGINT) AS ty
       |  FROM zg z JOIN gy y USING (id))
       |SELECT n_cal, n_target,
       |  round(CAST(p11 AS DOUBLE) / CAST(n1 AS DOUBLE), 9) AS c11,
       |  round(CAST(p01 AS DOUBLE) / CAST(n0 AS DOUBLE), 9) AS c01,
       |  round(CAST(pt AS DOUBLE) / CAST(n_target AS DOUBLE), 6) AS q1_naive,
       |  CASE WHEN p11 * n0 <> p01 * n1 THEN round($q1, 6)
       |    ELSE NULL END AS q1_bbse,
       |  round(CAST(ty AS DOUBLE) / CAST(n_target AS DOUBLE), 9) AS true_q1,
       |  CASE WHEN p11 * n0 <> p01 * n1 THEN round($q1
       |      - CAST(ty AS DOUBLE) / CAST(n_target AS DOUBLE), 6)
       |    ELSE NULL END AS bbse_err
       |FROM cal CROSS JOIN tgt""".stripMargin
  }

  private def logisticSql(rounds: Int, etaMilli: Long,
      labelSql: String = "CASE WHEN lang = 'en' THEN 1 ELSE 0 END")
      : String = {
    s"""WITH $featureCtesSql,
       |f AS MATERIALIZED (
       |  SELECT * FROM fh
       |  UNION ALL
       |  SELECT doc_id AS id, CAST(-1 AS BIGINT) AS dim, CAST(1 AS BIGINT) AS x
       |  FROM documents),
       |y AS MATERIALIZED (
       |  SELECT doc_id AS id, $labelSql AS y
       |  FROM documents),
       |nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS N FROM y),
       |w0 AS MATERIALIZED (
       |  SELECT dim, CAST(0 AS BIGINT) AS wq FROM (SELECT DISTINCT dim FROM f) d),
       |${gdChainSql(rounds, etaMilli, "")}
       |SELECT dim, CAST(wq AS DOUBLE) / 1000000000.0 AS weight
       |FROM w$rounds ORDER BY dim""".stripMargin
  }

  /** q308 oracle: the shared feature CTEs, TWO independent GD chains
    * (train slice prefixed `t`, holdout slice prefixed `o`), then the
    * per-doc CE under each final weight vector (micro-quantized
    * softplus, identical ∓z shape), exact long rho = ceA − ceB, and
    * the same row_number decile cut as el2nSql. */
  /** A `%4`-sliced f/y/nn/w0 CTE block for one GD probe (prefix `p`). */
  private def sliceSql(p: String, cond: String): String =
    s"""${p}f AS MATERIALIZED (SELECT * FROM fa WHERE id % 4 $cond),
       |${p}y AS MATERIALIZED (
       |  SELECT doc_id AS id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM documents WHERE doc_id % 4 $cond),
       |${p}nn AS MATERIALIZED (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS N FROM ${p}y),
       |${p}w0 AS MATERIALIZED (
       |  SELECT dim, CAST(0 AS BIGINT) AS wq
       |  FROM (SELECT DISTINCT dim FROM ${p}f) d)""".stripMargin

  private def rhoSql(rounds: Int, etaMilli: Long,
      selectDeciles: Int): String = {
    def slice(p: String, cond: String): String = sliceSql(p, cond)
    def ce(z: String): String =
      s"""SELECT z.id, CAST(ROUND(ln(1.0 + exp(
         |    (CASE WHEN y.y = 1 THEN -CAST(zq AS DOUBLE)
         |          ELSE CAST(zq AS DOUBLE) END) / 1000000000.0))
         |  * 1000000.0) AS BIGINT) AS c
         |FROM $z z JOIN ty y USING (id)""".stripMargin
    s"""WITH $featureCtesSql,
       |fa AS MATERIALIZED (
       |  SELECT * FROM fh
       |  UNION ALL
       |  SELECT doc_id AS id, CAST(-1 AS BIGINT) AS dim, CAST(1 AS BIGINT) AS x
       |  FROM documents),
       |${slice("t", "<> 1")},
       |${gdChainSql(rounds, etaMilli, "t")},
       |${slice("o", "= 1")},
       |${gdChainSql(rounds, etaMilli, "o")},
       |za AS (SELECT f.id, CAST(SUM(w.wq * f.x) AS BIGINT) AS zq
       |       FROM tf f JOIN tw$rounds w USING (dim) GROUP BY f.id),
       |zb AS (SELECT f.id, CAST(SUM(w.wq * f.x) AS BIGINT) AS zq
       |       FROM tf f JOIN ow$rounds w USING (dim) GROUP BY f.id),
       |cea AS (${ce("za")}),
       |ceb AS (${ce("zb")}),
       |sc AS (SELECT id, cea.c - ceb.c AS rhoq
       |       FROM cea JOIN ceb USING (id)),
       |rk AS (SELECT rhoq, ROW_NUMBER() OVER (ORDER BY rhoq, id) AS grank,
       |        (SELECT CAST(COUNT(*) AS BIGINT) FROM sc) AS n FROM sc)
       |SELECT ((grank - 1) * 10) // n AS decile,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(rhoq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       |    / 1000000.0 AS mean_rho,
       |  CASE WHEN ((grank - 1) * 10) // n >= ${10 - selectDeciles}
       |    THEN 'select' ELSE 'skip' END AS action
       |FROM rk GROUP BY 1, 4 ORDER BY decile""".stripMargin
  }

  /** q276 oracle: logisticSql's CTE chain (same features/labels/rounds)
    * plus one scoring pass — micro-quantized |p − y| per doc, a
    * row_number decile cut on (elq, id), per-decile long sums. */
  private def el2nSql(rounds: Int, etaMilli: Long, pruneDeciles: Int): String = {
    val base = logisticSql(rounds, etaMilli)
    val cut = base.indexOf(s"SELECT dim, CAST(wq AS DOUBLE)")
    base.substring(0, cut) +
      s""", zf AS (
         |  SELECT f.id, CAST(SUM(w.wq * f.x) AS BIGINT) AS zq
         |  FROM f JOIN w$rounds w USING (dim) GROUP BY f.id),
         |sc AS (
         |  SELECT z.id,
         |    ABS(CAST(ROUND((1.0 / (1.0 + exp(-(CAST(zq AS DOUBLE)
         |      / 1000000000.0))) - CAST(y.y AS DOUBLE)) * 1000000.0)
         |      AS BIGINT)) AS elq
         |  FROM zf z JOIN y USING (id)),
         |rk AS (
         |  SELECT elq, ROW_NUMBER() OVER (ORDER BY elq, id) AS grank,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM sc) AS n FROM sc)
         |SELECT ((grank - 1) * 10) // n AS decile,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(elq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |    / 1000000.0 AS mean_el2n,
         |  CASE WHEN ((grank - 1) * 10) // n < $pruneDeciles
         |    THEN 'prune' ELSE 'keep' END AS action
         |FROM rk GROUP BY 1, 4 ORDER BY decile""".stripMargin
  }

  /** q284 oracle: logisticSql(4)'s CTE chain (r2/r3/r4 hold the
    * residuals under w1/w2/w3), unioned into the per-doc
    * confidence/variability aggregate with the same micro-integer
    * quadrant thresholds. */
  private def cartographySql(etaMilli: Long): String = {
    val base = logisticSql(4, etaMilli)
    val cut = base.indexOf("SELECT dim, CAST(wq AS DOUBLE)")
    base.substring(0, cut) +
      """, tr AS (
        |  SELECT id, rq FROM r2
        |  UNION ALL SELECT id, rq FROM r3
        |  UNION ALL SELECT id, rq FROM r4),
        |pt AS (
        |  SELECT t.id,
        |    CASE WHEN y.y = 1 THEN t.rq + 1000000
        |         ELSE 1000000 - t.rq END AS ptq
        |  FROM tr t JOIN y USING (id)),
        |ag AS (
        |  SELECT id, CAST(SUM(ptq) AS BIGINT) AS s,
        |    CAST(MAX(ptq) - MIN(ptq) AS BIGINT) AS rng
        |  FROM pt GROUP BY id),
        |qd AS (
        |  SELECT CASE WHEN rng > 200000 THEN 'ambiguous'
        |    WHEN s >= 2100000 THEN 'easy'
        |    WHEN s <= 900000 THEN 'hard' ELSE 'medium' END AS quadrant,
        |    s, rng
        |  FROM ag)
        |SELECT quadrant, COUNT(*) AS n_docs,
        |  CAST(SUM(s) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    / 3000000.0 AS mean_conf,
        |  CAST(SUM(rng) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    / 1000000.0 AS mean_variability
        |FROM qd GROUP BY quadrant ORDER BY quadrant""".stripMargin
  }

  /** q286 oracle: logisticSql(3)'s CTE chain (r1/r2/r3 hold the
    * checkpoint residuals), the separated feature/residual dot
    * products over the 8-probe set, HUGEINT pair products ranked
    * (pq DESC, id) per probe, the same fixed influence double chain. */
  private def tracinSql(etaMilli: Long, topK: Int): String = {
    val base = logisticSql(3, etaMilli)
    val cut = base.indexOf("SELECT dim, CAST(wq AS DOUBLE)")
    base.substring(0, cut) +
      s""", p AS MATERIALIZED (
         |  SELECT id AS pid FROM y WHERE id % 7 = 3 ORDER BY id LIMIT 8),
         |tr AS (
         |  SELECT id, 0 AS r, rq FROM r1
         |  UNION ALL SELECT id, 1 AS r, rq FROM r2
         |  UNION ALL SELECT id, 2 AS r, rq FROM r3),
         |pt AS (SELECT p.pid, t.r, t.rq AS prq
         |       FROM tr t JOIN p ON t.id = p.pid),
         |rd AS (
         |  SELECT t.id, pt.pid, CAST(SUM(t.rq * pt.prq) AS BIGINT) AS rdq
         |  FROM tr t JOIN pt USING (r) WHERE t.id <> pt.pid
         |  GROUP BY t.id, pt.pid),
         |pfq AS (SELECT p.pid, f.dim, f.x AS px
         |        FROM f JOIN p ON f.id = p.pid),
         |xd AS (
         |  SELECT f.id, pfq.pid, CAST(SUM(f.x * pfq.px) AS BIGINT) AS xd
         |  FROM f JOIN pfq USING (dim) WHERE f.id <> pfq.pid
         |  GROUP BY f.id, pfq.pid),
         |pr AS (
         |  SELECT rd.id, rd.pid,
         |    CAST(xd.xd AS HUGEINT) * CAST(rd.rdq AS HUGEINT) AS pq
         |  FROM rd JOIN xd ON rd.id = xd.id AND rd.pid = xd.pid),
         |rk AS (
         |  SELECT pid, id, pq,
         |    ROW_NUMBER() OVER (PARTITION BY pid ORDER BY pq DESC, id) AS rnk
         |  FROM pr)
         |SELECT pid AS probe_id, CAST(rnk AS BIGINT) AS rnk, id AS doc_id,
         |  CAST(pq AS DOUBLE) / 1000000000000.0 * ${etaMilli.toDouble / 1000.0}
         |    / CAST((SELECT N FROM nn) AS DOUBLE) AS influence
         |FROM rk WHERE rnk <= $topK ORDER BY probe_id, rnk""".stripMargin
  }

  /** q289 oracle: logisticSql(3)'s chain under the source-membership
    * label, one scoring pass, clamped micro-quantized density-ratio
    * weights, HUGEINT moment sums, the same fixed ESS/mean chains. */
  private def covariateShiftSql(etaMilli: Long): String = {
    val base = logisticSql(3, etaMilli,
      "CASE WHEN length(source) = 4 THEN 1 ELSE 0 END")
    val cut = base.indexOf("SELECT dim, CAST(wq AS DOUBLE)")
    base.substring(0, cut) +
      """, zf AS (
        |  SELECT f.id, CAST(SUM(w.wq * f.x) AS BIGINT) AS zq
        |  FROM f JOIN w3 w USING (dim) GROUP BY f.id),
        |sc AS (
        |  SELECT z.id, y.y, d.n_chars AS v,
        |    GREATEST(LEAST(CAST(ROUND((1.0 / (1.0 + exp(-(CAST(zq AS DOUBLE)
        |      / 1000000000.0)))) * 1000000.0) AS BIGINT), 999999), 1) AS pq
        |  FROM zf z JOIN y USING (id) JOIN documents d ON d.doc_id = z.id),
        |wg AS (
        |  SELECT id, y, v,
        |    CAST(ROUND(CAST(pq AS DOUBLE) / (1000000.0 - CAST(pq AS DOUBLE))
        |      * 1000000.0) AS BIGINT) AS wgt
        |  FROM sc),
        |src AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_source,
        |    SUM(CAST(wgt AS HUGEINT)) AS sw,
        |    SUM(CAST(wgt AS HUGEINT) * CAST(wgt AS HUGEINT)) AS sw2,
        |    SUM(CAST(wgt AS HUGEINT) * CAST(v AS HUGEINT)) AS swv,
        |    SUM(CAST(v AS HUGEINT)) AS sv
        |  FROM wg WHERE y = 0),
        |tgt AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_target,
        |    SUM(CAST(v AS HUGEINT)) AS stv
        |  FROM wg WHERE y = 1),
        |ej AS (
        |  SELECT src.*, tgt.*,
        |    CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(sw2 AS DOUBLE)
        |      AS ess
        |  FROM src CROSS JOIN tgt)
        |SELECT n_source, n_target, ess,
        |  ess / CAST(n_source AS DOUBLE) AS ess_ratio,
        |  CAST(swv AS DOUBLE) / CAST(sw AS DOUBLE) AS weighted_mean,
        |  CAST(sv AS DOUBLE) / CAST(n_source AS DOUBLE) AS source_mean,
        |  CAST(stv AS DOUBLE) / CAST(n_target AS DOUBLE) AS target_mean
        |FROM ej""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // truncation twin: identical filtered token counts, exact
    // conditional sums per candidate context, one division
    "q359_truncation_audit" ->
      """WITH d AS (
        |  SELECT CAST(len(list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'),
        |    x -> x <> '')) AS BIGINT) AS ntok
        |  FROM documents),
        |x AS (
        |  SELECT ctx_len, ntok
        |  FROM d CROSS JOIN
        |    (SELECT CAST(unnest([128, 256, 512, 1024]) AS BIGINT)
        |       AS ctx_len) c)
        |SELECT ctx_len, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN ntok > ctx_len THEN 1 ELSE 0 END) AS BIGINT)
        |    AS docs_over,
        |  CAST(SUM(ntok) AS BIGINT) AS tokens_total,
        |  CAST(SUM(greatest(ntok - ctx_len, 0)) AS BIGINT) AS tokens_lost,
        |  round(CAST(SUM(greatest(ntok - ctx_len, 0)) AS DOUBLE) /
        |    CAST(SUM(ntok) AS DOUBLE), 6) AS frac_lost
        |FROM x GROUP BY 1 ORDER BY ctx_len""".stripMargin,

    // template-prefix twin: identical NUL-joined filtered token slice
    // under md5, exact group counts, one division + unrounded flag
    "q357_template_prefix" ->
      """WITH pre AS (
        |  SELECT source,
        |    md5(array_to_string(
        |      list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |        x -> x <> '')[1:8], chr(0))) AS pre,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM documents GROUP BY 1, 2),
        |ag AS (
        |  SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_docs,
        |    CAST(COUNT(*) AS BIGINT) AS n_prefixes,
        |    CAST(MAX(cnt) AS BIGINT) AS top_count
        |  FROM pre GROUP BY 1)
        |SELECT source, n_docs, n_prefixes, top_count,
        |  round(CAST(top_count AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
        |    AS top_share,
        |  CAST(top_count AS DOUBLE) / CAST(n_docs AS DOUBLE) > 0.05
        |    AS template_flag
        |FROM ag ORDER BY source""".stripMargin,

    // TextTiling twin: filtered-list ordinality == the keyed filtered
    // row_number, identical integer dots/norms and the micro-snapped
    // sqrt·sqrt chain, exact-integer argmin cut
    "q354_texttiling" ->
      """WITH toks AS (
        |  SELECT doc_id, t[i] AS w, CAST(i AS BIGINT) AS pos
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |            x -> x <> '') AS t
        |        FROM documents) d,
        |       unnest(generate_series(1, len(t))) AS u(i)),
        |counts AS (
        |  SELECT doc_id, (pos - 1) // 50 AS blk, w,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM toks GROUP BY 1, 2, 3),
        |norms AS (
        |  SELECT doc_id, blk, CAST(SUM(c * c) AS BIGINT) AS nrm
        |  FROM counts GROUP BY 1, 2),
        |dots AS (
        |  SELECT a.doc_id, a.blk, CAST(SUM(a.c * b.c) AS BIGINT) AS dot
        |  FROM counts a JOIN counts b
        |    ON a.doc_id = b.doc_id AND a.w = b.w AND b.blk = a.blk + 1
        |  GROUP BY 1, 2),
        |gaps AS (
        |  SELECT x.doc_id, x.blk,
        |    CAST(ROUND(CAST(COALESCE(d.dot, 0) AS DOUBLE) /
        |      (sqrt(CAST(x.nrm AS DOUBLE)) * sqrt(CAST(y.nrm AS DOUBLE))) *
        |      1000000.0) AS BIGINT) AS cosq
        |  FROM norms x
        |  JOIN norms y ON y.doc_id = x.doc_id AND y.blk = x.blk + 1
        |  LEFT JOIN dots d ON d.doc_id = x.doc_id AND d.blk = x.blk),
        |mn AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |    CAST(SUM(cosq) AS BIGINT) AS sc, CAST(MIN(cosq) AS BIGINT) AS mc
        |  FROM gaps GROUP BY 1),
        |cut AS (
        |  SELECT g.doc_id, CAST(MIN(g.blk) AS BIGINT) AS cut_block
        |  FROM gaps g JOIN mn ON mn.doc_id = g.doc_id AND g.cosq = mn.mc
        |  GROUP BY 1),
        |nb AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_blocks
        |  FROM norms GROUP BY 1)
        |SELECT mn.doc_id, nb.n_blocks, mn.n_gaps,
        |  round(CAST(sc AS DOUBLE) / 1000000.0 / CAST(n_gaps AS DOUBLE), 6)
        |    AS mean_cos,
        |  round(CAST(mc AS DOUBLE) / 1000000.0, 6) AS min_cos,
        |  cut.cut_block
        |FROM mn JOIN cut ON cut.doc_id = mn.doc_id
        |JOIN nb ON nb.doc_id = mn.doc_id
        |ORDER BY mn.doc_id""".stripMargin,
    "q253_logistic_quality_train" -> logisticSql(3, 500),

    "q289_covariate_shift" -> covariateShiftSql(500),

    "q284_dataset_cartography" -> cartographySql(100),

    "q286_tracin_influence" -> tracinSql(500, 5),

    "q276_el2n_prune" -> el2nSql(3, 500, 2),

    "q308_rho_loss" -> rhoSql(3, 500, 2),

    "q310_scaling_law" -> scalingSql(3, 500),

    "q313_temperature_scaling" -> tempSql(3, 500,
      Seq(0.25, 0.5, 1.0, 2.0, 4.0)),

    "q318_label_shift_bbse" -> bbseSql(3, 500),

    // burstiness twin: identical counts, the same Poisson-expected df
    // chain, nano-quantized adaptation ranking
    "q326_burstiness" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text),
        |      '[^a-z0-9]+'), x -> x <> '')) AS w
        |  FROM documents),
        |cnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c,
        |        CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        |        FROM toks GROUP BY w),
        |dd AS (SELECT CAST(COUNT(*) AS BIGINT) AS d FROM documents),
        |sc AS (SELECT w, c, df,
        |    CAST(d AS DOUBLE) * (1.0 - exp(-CAST(c AS DOUBLE)
        |      / CAST(d AS DOUBLE))) AS edf,
        |    CAST(ROUND(CAST(df AS DOUBLE)
        |      / (CAST(d AS DOUBLE) * (1.0 - exp(-CAST(c AS DOUBLE)
        |        / CAST(d AS DOUBLE)))) * 1000000000.0) AS BIGINT) AS aq
        |  FROM cnt CROSS JOIN dd WHERE c >= 50)
        |SELECT w AS token, c, df, round(edf, 6) AS expected_df,
        |  round(CAST(aq AS DOUBLE) / 1000000000.0, 6) AS adaptation
        |FROM sc ORDER BY aq, w LIMIT 20""".stripMargin,

    // Fightin'-Words twin: identical token counts, the same informative-
    // prior logit/variance double chain, nano-quantized z ranking
    "q323_fightin_words" ->
      """WITH toks AS (
        |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS ga,
        |    unnest(list_filter(string_split_regex(lower(text),
        |      '[^a-z0-9]+'), x -> x <> '')) AS w
        |  FROM documents),
        |cnt AS (SELECT w, CAST(SUM(ga) AS BIGINT) AS ya,
        |        CAST(SUM(1 - ga) AS BIGINT) AS yb FROM toks GROUP BY w),
        |tot AS (SELECT CAST(SUM(ya) AS BIGINT) AS na,
        |        CAST(SUM(yb) AS BIGINT) AS nb,
        |        CAST(SUM(ya + yb) AS BIGINT) AS nn FROM cnt),
        |pr AS (SELECT w, ya, yb, na, nb,
        |    100.0 * CAST(ya + yb AS DOUBLE) / CAST(nn AS DOUBLE) AS aw
        |  FROM cnt CROSS JOIN tot),
        |sc AS (SELECT w, ya, yb,
        |    CAST(ROUND(((ln((CAST(ya AS DOUBLE) + aw)
        |        / (CAST(na AS DOUBLE) + 100.0 - CAST(ya AS DOUBLE) - aw))
        |      - ln((CAST(yb AS DOUBLE) + aw)
        |        / (CAST(nb AS DOUBLE) + 100.0 - CAST(yb AS DOUBLE) - aw)))
        |      / sqrt(1.0 / (CAST(ya AS DOUBLE) + aw)
        |        + 1.0 / (CAST(yb AS DOUBLE) + aw))) * 1000000000.0)
        |      AS BIGINT) AS zq
        |  FROM pr)
        |SELECT w AS token, ya, yb,
        |  round(CAST(zq AS DOUBLE) / 1000000000.0, 6) AS z_score,
        |  CASE WHEN zq > 0 THEN 'en' ELSE 'other' END AS leans
        |FROM sc ORDER BY abs(zq) DESC, w LIMIT 20""".stripMargin,

    // risk-coverage twin: the t-chain on the %4≠1 slice, |z| ranking,
    // running decile sums, nano-quantized risks, the same AURC mean
    "q319_risk_coverage" -> {
      s"""WITH $featureCtesSql,
         |fa AS MATERIALIZED (
         |  SELECT * FROM fh
         |  UNION ALL
         |  SELECT doc_id AS id, CAST(-1 AS BIGINT) AS dim,
         |    CAST(1 AS BIGINT) AS x
         |  FROM documents),
         |${sliceSql("t", "<> 1")},
         |${gdChainSql(3, 500, "t")},
         |ef AS (SELECT * FROM fa WHERE id % 4 = 1),
         |ey AS (SELECT doc_id AS id,
         |        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         |       FROM documents WHERE doc_id % 4 = 1),
         |ze AS (SELECT f.id, CAST(SUM(w.wq * f.x) AS BIGINT) AS zq
         |       FROM ef f JOIN tw3 w USING (dim) GROUP BY f.id),
         |sc AS (SELECT z.id, -abs(zq) AS negconf,
         |    CASE WHEN (CASE WHEN zq > 0 THEN 1 ELSE 0 END) <> y.y
         |      THEN 1 ELSE 0 END AS err
         |  FROM ze z JOIN ey y USING (id)),
         |nn2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sc),
         |rk AS (SELECT err,
         |    CAST(ROW_NUMBER() OVER (ORDER BY negconf, id) AS BIGINT)
         |      AS grank FROM sc),
         |dec AS (SELECT ((grank - 1) * 10) // n AS decile,
         |    CAST(COUNT(*) AS BIGINT) AS n_d,
         |    CAST(SUM(err) AS BIGINT) AS e_d
         |  FROM rk CROSS JOIN nn2 GROUP BY 1),
         |cum AS (SELECT decile,
         |    CAST(SUM(n_d) OVER (ORDER BY decile) AS BIGINT) AS cn,
         |    CAST(SUM(e_d) OVER (ORDER BY decile) AS BIGINT) AS ce
         |  FROM dec),
         |rq AS (SELECT decile, cn, ce,
         |    CAST(ROUND(CAST(ce AS DOUBLE) / CAST(cn AS DOUBLE)
         |      * 1000000000.0) AS BIGINT) AS riskq FROM cum),
         |au AS (SELECT round((CAST(SUM(riskq) AS DOUBLE) / 1000000000.0)
         |    / 10.0, 6) AS aurc FROM rq)
         |SELECT decile,
         |  round(CAST(cn AS DOUBLE) / CAST(n AS DOUBLE), 6) AS coverage,
         |  cn AS n_covered, ce AS errors,
         |  round(CAST(riskq AS DOUBLE) / 1000000000.0, 6) AS risk, aurc
         |FROM rq CROSS JOIN nn2 CROSS JOIN au ORDER BY decile""".stripMargin
    },

    // gradient-noise twin: the logisticSql chain, final-weight residual
    // scoring, exact HUGEINT per-dim gradient moments, one division
    "q312_gradient_noise" -> {
      val base = logisticSql(3, 500)
      val cut = base.indexOf("SELECT dim, CAST(wq AS DOUBLE)")
      base.substring(0, cut) +
        """, zf AS (
          |  SELECT f.id, CAST(SUM(w.wq * f.x) AS BIGINT) AS zq
          |  FROM f JOIN w3 w USING (dim) GROUP BY f.id),
          |sc AS (
          |  SELECT z.id,
          |    CAST(ROUND((1.0 / (1.0 + exp(-(CAST(zq AS DOUBLE)
          |      / 1000000000.0))) - CAST(y.y AS DOUBLE)) * 1000000.0)
          |      AS BIGINT) AS rq
          |  FROM zf z JOIN y USING (id)),
          |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS N FROM sc),
          |pd AS (
          |  SELECT f.dim, SUM(CAST(s.rq * f.x AS HUGEINT)) AS sg,
          |    SUM(CAST(s.rq * f.x AS HUGEINT) * (s.rq * f.x)) AS sgg
          |  FROM f JOIN sc s USING (id) GROUP BY f.dim),
          |ag AS (
          |  SELECT N, CAST(COUNT(*) AS BIGINT) AS n_dims,
          |    SUM(CAST(N AS HUGEINT) * sgg - sg * sg) AS tr,
          |    SUM(sg * sg) AS g2
          |  FROM pd CROSS JOIN nd GROUP BY N)
          |SELECT N AS n_docs, n_dims,
          |  round(CAST(g2 AS DOUBLE)
          |    / CAST(CAST(N AS HUGEINT) * N AS DOUBLE) / 1000000000000.0, 9)
          |    AS grad_norm2,
          |  round(CAST(tr AS DOUBLE)
          |    / CAST(CAST(N AS HUGEINT) * (N - 1) AS DOUBLE)
          |    / 1000000000000.0, 9) AS trace_sigma,
          |  round(CAST(CAST(N AS HUGEINT) * tr AS DOUBLE)
          |    / CAST(CAST(N - 1 AS HUGEINT) * g2 AS DOUBLE), 6) AS b_noise
          |FROM ag""".stripMargin
    },

    // Heaps twin: identical prefixes (integer div thresholds), the same
    // first-occurrence vocab counting, nano-quantized logs, HUGEINT
    // cross sums cast through DOUBLE in the same OLS chain
    "q283_heaps_law" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text),
        |    '[^a-z0-9]+'), x -> x <> '')) AS tok
        |  FROM documents),
        |fo AS (SELECT tok, MIN(doc_id) AS fd FROM toks GROUP BY tok),
        |dt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nt
        |       FROM toks GROUP BY doc_id),
        |mx AS (SELECT MAX(doc_id) AS mxd FROM documents),
        |grid AS (
        |  SELECT CAST(i AS BIGINT) AS i, (mxd * i) // 10 AS thr
        |  FROM mx, UNNEST(generate_series(1, 10)) AS g(i)),
        |vocab AS (
        |  SELECT i, thr, CAST(COUNT(*) AS BIGINT) AS v
        |  FROM fo CROSS JOIN grid WHERE fd <= thr GROUP BY i, thr),
        |tok2 AS (
        |  SELECT i AS i2, CAST(SUM(nt) AS BIGINT) AS n
        |  FROM dt CROSS JOIN grid WHERE doc_id <= thr GROUP BY i),
        |pts AS (
        |  SELECT i, thr, n, v,
        |    CAST(ROUND(ln(CAST(n AS DOUBLE)) * 1000000000.0) AS BIGINT) AS xq,
        |    CAST(ROUND(ln(CAST(v AS DOUBLE)) * 1000000000.0) AS BIGINT) AS yq
        |  FROM vocab JOIN tok2 ON i = i2),
        |fit AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
        |    SUM(CAST(xq AS HUGEINT)) AS sx, SUM(CAST(yq AS HUGEINT)) AS sy,
        |    SUM(CAST(xq AS HUGEINT) * CAST(yq AS HUGEINT)) AS sxy,
        |    SUM(CAST(xq AS HUGEINT) * CAST(xq AS HUGEINT)) AS sxx
        |  FROM pts),
        |fl AS (SELECT n AS total_tokens, v AS total_types FROM pts
        |       WHERE i = 10)
        |SELECT n_points,
        |  (CAST(n_points AS DOUBLE) * CAST(sxy AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |  (CAST(n_points AS DOUBLE) * CAST(sxx AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS beta,
        |  total_tokens, total_types
        |FROM fit CROSS JOIN fl""".stripMargin,

    // coverage twin: identical tokenization, ROW_NUMBER over types by
    // (cnt DESC, tok), filtered keyed sums, one division per V
    "q281_vocab_coverage" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text),
        |    '[^a-z0-9]+'), x -> x <> '')) AS tok
        |  FROM documents),
        |ty AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
        |       FROM toks GROUP BY tok),
        |rk AS (SELECT tok, cnt,
        |         ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rnk FROM ty),
        |tt AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total_tokens,
        |         CAST(COUNT(*) AS BIGINT) AS n_types FROM ty),
        |vs AS (SELECT CAST(unnest([100, 1000, 10000]) AS BIGINT) AS v)
        |SELECT v, COUNT(*) AS types_used,
        |  CAST(SUM(cnt) AS BIGINT) AS covered_tokens,
        |  tt.total_tokens, tt.n_types,
        |  CAST(SUM(cnt) AS DOUBLE) / CAST(tt.total_tokens AS DOUBLE) AS coverage
        |FROM rk CROSS JOIN vs CROSS JOIN tt
        |WHERE rnk <= v
        |GROUP BY v, tt.total_tokens, tt.n_types
        |ORDER BY v""".stripMargin,

    "q239_textrank_keywords" -> textrankSql(3),

    // feature-hashing twin: identical tokenization, the q189
    // md5_number_lower device for dim and sign, one keyed sum,
    // zero weights dropped
    "q242_feature_hashing" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      x -> x <> '')) AS t
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    CAST((md5_number_lower(t) & 9223372036854775807::UBIGINT) % 64
        |      AS BIGINT) AS dim,
        |    CAST((md5_number_lower('s:' || t) & 1::UBIGINT) * 2 AS BIGINT) - 1
        |      AS sgn
        |  FROM toks)
        |SELECT doc_id, dim, CAST(SUM(sgn) AS BIGINT) AS weight
        |FROM h GROUP BY doc_id, dim
        |HAVING SUM(sgn) <> 0
        |ORDER BY doc_id, dim""".stripMargin,

    // QL twin: the q109 CTE skeleton with the Dirichlet chain — ctf/|C|
    // background from the same 1-row stats, ln((tf + μ·ctf/ctot)/(dl+μ))
    // per term in the identical fixed order, 0 for collection-absent
    // terms and empty docs
    "q231_ql_dirichlet" -> {
      val tfDefs = Bm25Terms.zipWithIndex.map { case (t, i) =>
        s"COUNT(CASE WHEN t = '$t' THEN 1 END) AS tf$i"
      }.mkString(",\n    ")
      val ctfDefs = Bm25Terms.indices.map(i =>
        s"SUM(tf$i) AS ctf$i").mkString(",\n    ")
      val hitChain = Bm25Terms.indices.map(i =>
        s"(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)").mkString(" + ")
      val scoreChain = Bm25Terms.indices.map { i =>
        s"(CASE WHEN ctf$i = 0 THEN 0.0 ELSE " +
          s"ln((CAST(tf$i AS DOUBLE) + 2000.0 * CAST(ctf$i AS DOUBLE) / CAST(ctot AS DOUBLE))" +
          s" / (CAST(dl AS DOUBLE) + 2000.0)) END)"
      }.mkString("\n    + ")
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t
         |  FROM documents),
         |tok2 AS (SELECT doc_id, t FROM toks WHERE t <> ''),
         |perdoc AS (
         |  SELECT doc_id, COUNT(*) AS dl,
         |    $tfDefs
         |  FROM tok2 GROUP BY doc_id),
         |stats AS (
         |  SELECT SUM(dl) AS ctot,
         |    $ctfDefs
         |  FROM perdoc),
         |j AS (SELECT perdoc.*, stats.* FROM perdoc CROSS JOIN stats)
         |SELECT d.doc_id, CAST(COALESCE(dl, 0) AS BIGINT) AS dl,
         |  CAST(COALESCE($hitChain, 0) AS BIGINT) AS n_terms_hit,
         |  ROUND(COALESCE($scoreChain, 0.0), 6) AS ql
         |FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN j USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },

    // JSD twin: identical tokenization, the same ½(p·ln(2p/(p+q)) +
    // q·ln(2q/(p+q))) shared-token term quantized to nano-longs before
    // the sum, the same closed-form ½ln2·(1−cm/n) private-mass chain,
    // and the all-pairs frame restored by the same LEFT join so
    // zero-overlap pairs read exactly ln 2
    "q228_jsd_sources" ->
      """WITH tok AS (
        |  SELECT g, t FROM (
        |    SELECT source AS g,
        |      unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t
        |    FROM documents) WHERE t <> ''),
        |cnt AS (SELECT g, t, CAST(COUNT(*) AS BIGINT) AS c
        |        FROM tok GROUP BY g, t),
        |tot AS (SELECT g, SUM(c) AS n FROM cnt GROUP BY g),
        |p AS (SELECT cnt.g, t, c, n FROM cnt JOIN tot USING (g)),
        |pr AS (
        |  SELECT a.g AS g1, b.g AS g2, a.c AS c1, b.c AS c2,
        |    CAST(a.c AS DOUBLE) / CAST(a.n AS DOUBLE) AS pd,
        |    CAST(b.c AS DOUBLE) / CAST(b.n AS DOUBLE) AS qd
        |  FROM p a JOIN p b ON a.t = b.t AND a.g < b.g),
        |sh AS (
        |  SELECT g1, g2, CAST(COUNT(*) AS BIGINT) AS n_common,
        |    SUM(c1) AS cm1, SUM(c2) AS cm2,
        |    SUM(CAST(ROUND(0.5 * (pd * ln(2.0 * pd / (pd + qd)) +
        |      qd * ln(2.0 * qd / (pd + qd))) * 1000000000.0) AS BIGINT)) AS s
        |  FROM pr GROUP BY g1, g2),
        |ap AS (
        |  SELECT a.g AS g1, a.n AS n1, b.g AS g2, b.n AS n2
        |  FROM tot a JOIN tot b ON a.g < b.g)
        |SELECT ap.g1 AS source_a, ap.g2 AS source_b,
        |  COALESCE(sh.n_common, 0) AS n_common,
        |  CAST(COALESCE(sh.s, 0) AS DOUBLE) / 1000000000.0
        |  + 0.5 * 0.6931471805599453 *
        |    (1.0 - CAST(COALESCE(sh.cm1, 0) AS DOUBLE) / CAST(ap.n1 AS DOUBLE))
        |  + 0.5 * 0.6931471805599453 *
        |    (1.0 - CAST(COALESCE(sh.cm2, 0) AS DOUBLE) / CAST(ap.n2 AS DOUBLE))
        |    AS jsd
        |FROM ap LEFT JOIN sh ON sh.g1 = ap.g1 AND sh.g2 = ap.g2
        |ORDER BY source_a, source_b""".stripMargin,

    // Zipf twin: identical tokenization, the same (count desc, token)
    // rank, ln(rank)/ln(count) nano-quantized, HUGEINT moment sums, and
    // the same num/denx and num²/(denx·deny) double chains
    "q229_zipf_fit" ->
      """WITH tok AS (
        |  SELECT g, t FROM (
        |    SELECT source AS g,
        |      unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t
        |    FROM documents) WHERE t <> ''),
        |cnt AS (SELECT g, t, CAST(COUNT(*) AS BIGINT) AS c
        |        FROM tok GROUP BY g, t),
        |rk AS (SELECT g, c, t,
        |         ROW_NUMBER() OVER (PARTITION BY g ORDER BY c DESC, t) AS r
        |       FROM cnt),
        |q AS (SELECT g,
        |        CAST(ROUND(ln(CAST(r AS DOUBLE)) * 1000000000.0) AS BIGINT) AS x,
        |        CAST(ROUND(ln(CAST(c AS DOUBLE)) * 1000000000.0) AS BIGINT) AS y
        |      FROM rk WHERE r <= 200),
        |m AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
        |        SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
        |        SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |        SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |        SUM(CAST(y AS HUGEINT) * y) AS syy
        |      FROM q GROUP BY g HAVING COUNT(*) >= 20)
        |SELECT g AS source, n AS n_ranks,
        |  CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE) AS zipf_slope,
        |  CASE WHEN n * syy - sy * sy = 0 THEN NULL
        |    ELSE CAST(n * sxy - sx * sy AS DOUBLE)
        |      * CAST(n * sxy - sx * sy AS DOUBLE)
        |      / (CAST(n * sxx - sx * sx AS DOUBLE)
        |         * CAST(n * syy - sy * sy AS DOUBLE))
        |  END AS r2
        |FROM m ORDER BY source""".stripMargin,

    // Good–Turing twin: identical tokenization (empties filtered BEFORE
    // adjacency, so grams pair across dropped empties exactly like the
    // lead() form), the same N_r histogram, the r+1 lookup as a LEFT
    // self-join (absent counts stay absent), identical
    // (r+1)·N_{r+1}/N_r and r_star/N double chains, and the same r=0
    // unseen-mass row
    "q230_good_turing" ->
      """WITH tl AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      x -> x <> '') AS w
        |  FROM documents),
        |bg AS (
        |  SELECT w[i] || ' ' || w[i+1] AS g
        |  FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
        |        FROM tl)),
        |cnt AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY g),
        |hist AS (SELECT c AS r, CAST(COUNT(*) AS BIGINT) AS n_types
        |         FROM cnt GROUP BY c),
        |tot AS (SELECT SUM(r * n_types) AS n_tok,
        |          SUM(CASE WHEN r = 1 THEN n_types ELSE 0 END) AS n1
        |        FROM hist),
        |rs AS (
        |  SELECT h.r, h.n_types,
        |    CASE WHEN x.n_types IS NULL THEN NULL
        |      ELSE CAST((h.r + 1) * x.n_types AS DOUBLE)
        |           / CAST(h.n_types AS DOUBLE) END AS r_star
        |  FROM hist h LEFT JOIN hist x ON x.r = h.r + 1
        |  WHERE h.r <= 10)
        |SELECT r, n_types, r_star,
        |  CASE WHEN r_star IS NULL THEN NULL
        |    ELSE r_star / CAST(t.n_tok AS DOUBLE) END AS gt_prob
        |FROM rs CROSS JOIN tot t
        |UNION ALL
        |SELECT 0 AS r, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
        |  CAST(n1 AS DOUBLE) / CAST(n_tok AS DOUBLE) FROM tot
        |ORDER BY r""".stripMargin,

    // diversity twin: identical single-space tokenization (the corpus is
    // single-space by construction, matching the q24-family twins),
    // chr(0)-joined bigrams, per-doc DISTINCT before the cross-doc
    // distinct (a per-doc dedup cannot change a cross-doc distinct)
    "q207_source_diversity" ->
      """WITH toks AS (
        |  SELECT doc_id, source, string_split(trim(text), ' ') AS t FROM documents
        |), tot AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(greatest(len(t) - 1, 0)) AS BIGINT) AS total_bigrams
        |  FROM toks GROUP BY source
        |), sh AS (
        |  SELECT DISTINCT source, t[i] || chr(0) || t[i+1] AS s
        |  FROM (SELECT source, t, unnest(generate_series(1, greatest(len(t) - 1, 0))) AS i
        |        FROM toks)
        |), dis AS (SELECT source, COUNT(*) AS distinct_bigrams FROM sh GROUP BY source)
        |SELECT tot.source, n_docs, total_bigrams,
        |  CAST(COALESCE(distinct_bigrams, 0) AS BIGINT) AS distinct_bigrams,
        |  round(COALESCE(distinct_bigrams, 0) / total_bigrams, 6) AS diversity
        |FROM tot LEFT JOIN dis ON dis.source = tot.source
        |ORDER BY tot.source""".stripMargin,

    // PMI twin: the q113 tokenization, pairs from (w[i], w[i+1]) and
    // (w[i], w[i+2]) of the filtered arrays (== lead over surviving
    // tokens), identical smoothing-free PMI chain, ranked on the same
    // quantized long
    "q137_pmi_pairs" ->
      """WITH tl AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      x -> x <> '') AS w
        |  FROM documents),
        |toks AS (SELECT doc_id, unnest(w) AS t FROM tl),
        |b1 AS (SELECT w, unnest(range(1, len(w))) AS i FROM tl WHERE len(w) >= 2),
        |p1 AS (SELECT least(w[i], w[i+1]) AS w1, greatest(w[i], w[i+1]) AS w2 FROM b1),
        |b2 AS (SELECT w, unnest(range(1, len(w) - 1)) AS i FROM tl WHERE len(w) >= 3),
        |p2 AS (SELECT least(w[i], w[i+2]) AS w1, greatest(w[i], w[i+2]) AS w2 FROM b2),
        |pairsf AS (
        |  SELECT * FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2) u
        |  WHERE w1 <> w2),
        |cab AS (SELECT w1, w2, COUNT(*) AS c_ab FROM pairsf GROUP BY w1, w2),
        |np AS (SELECT COUNT(*) AS np FROM pairsf),
        |cw AS (SELECT t AS w, COUNT(*) AS cw FROM toks GROUP BY t),
        |nw AS (SELECT COUNT(*) AS nw FROM toks),
        |scored AS (
        |  SELECT c.w1, c.w2, c.c_ab,
        |    CAST(ROUND(ln((CAST(c_ab AS DOUBLE) / np) /
        |      ((CAST(a.cw AS DOUBLE) / nw) * (CAST(b.cw AS DOUBLE) / nw))) * 1e9)
        |      AS BIGINT) AS pmi_q
        |  FROM cab c
        |  JOIN cw a ON a.w = c.w1
        |  JOIN cw b ON b.w = c.w2
        |  CROSS JOIN np CROSS JOIN nw
        |  WHERE c_ab >= 5)
        |SELECT w1, w2, c_ab, CAST(pmi_q AS DOUBLE) / 1e9 AS pmi
        |FROM scored ORDER BY pmi_q DESC, w1, w2 LIMIT 30""".stripMargin,

    // char-entropy twin: per-char counts via substr walk (ASCII corpus;
    // both engines index characters), the identical nano-quantized
    // (c/n)·ln(n/c) term, exact integer per-doc sum, one division — no
    // decimal rounding anywhere after quantization
    "q128_char_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, substr(text, i, 1) AS ch
        |  FROM (SELECT doc_id, text,
        |          unnest(generate_series(1, length(text))) AS i
        |        FROM documents) t),
        |cnt AS (SELECT doc_id, ch, COUNT(*) AS c FROM ch GROUP BY doc_id, ch),
        |tot AS (SELECT doc_id, SUM(c) AS n, COUNT(*) AS n_distinct
        |        FROM cnt GROUP BY doc_id),
        |ent AS (
        |  SELECT c.doc_id, t.n, t.n_distinct,
        |    CAST(SUM(CAST(ROUND((CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE)) *
        |      ln(CAST(t.n AS DOUBLE) / CAST(c.c AS DOUBLE)) * 1000000000.0)
        |      AS BIGINT)) AS DOUBLE) / 1000000000.0 AS entropy
        |  FROM cnt c JOIN tot t USING (doc_id)
        |  GROUP BY c.doc_id, t.n, t.n_distinct)
        |SELECT d.doc_id, CAST(COALESCE(e.n, 0) AS BIGINT) AS n_chars,
        |  CAST(COALESCE(e.n_distinct, 0) AS BIGINT) AS n_distinct, e.entropy
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN ent e USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // bigram-LM twin: identical tokenization (lowercase, non-alnum split,
    // empties dropped), identical add-0.5 smoothing expression tree, and
    // the same round(nll*1e9)-as-BIGINT quantization before the per-doc
    // sum — the only order-sensitive op is an exact integer sum.
    "q113_ngram_lm" ->
      """WITH tl AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      x -> x <> '') AS w
        |  FROM documents),
        |toks AS (SELECT doc_id, unnest(w) AS t FROM tl),
        |b0 AS (SELECT doc_id, w, unnest(range(1, len(w))) AS i
        |       FROM tl WHERE len(w) >= 2),
        |bigrams AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM b0),
        |uni AS (SELECT t AS w1, COUNT(*) AS cu FROM toks GROUP BY t),
        |bi AS (SELECT w1, w2, COUNT(*) AS cb FROM bigrams GROUP BY w1, w2),
        |vocab AS (SELECT COUNT(DISTINCT t) AS v FROM toks),
        |scored AS (
        |  SELECT g.doc_id, COUNT(*) AS n_bigrams,
        |    (CAST(SUM(CAST(ROUND(ln((CAST(cu AS DOUBLE) + 0.5 * CAST(v AS DOUBLE)) /
        |        (CAST(cb AS DOUBLE) + 0.5)) * 1000000000.0) AS BIGINT)) AS DOUBLE)
        |      / 1000000000.0) / COUNT(*) AS cross_entropy
        |  FROM bigrams g
        |  JOIN bi USING (w1, w2) JOIN uni USING (w1) CROSS JOIN vocab
        |  GROUP BY g.doc_id)
        |SELECT d.doc_id, CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  ROUND(cross_entropy, 6) AS cross_entropy
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN scored USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // transfer-matrix twin: identical tokenization, hub-keyed count
    // tables, the same ×5 fan-out and add-0.5 LEFT-join smoothing,
    // nano-quantized sums, one division per cell
    "q296_domain_transfer" ->
      """WITH tl AS (
        |  SELECT source, doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      x -> x <> '') AS w
        |  FROM documents),
        |toks AS (SELECT source, unnest(w) AS t FROM tl),
        |b0 AS (SELECT source, doc_id, w, unnest(range(1, len(w))) AS i
        |       FROM tl WHERE len(w) >= 2),
        |bigrams AS (SELECT source, doc_id, w[i] AS w1, w[i + 1] AS w2
        |            FROM b0),
        |trbi AS (
        |  SELECT source AS hub, w1, w2, CAST(COUNT(*) AS BIGINT) AS cb
        |  FROM bigrams
        |  WHERE source IN ('src0', 'src1', 'src2', 'src3', 'src4')
        |  GROUP BY 1, 2, 3),
        |truni AS (
        |  SELECT source AS hub, t AS w1, CAST(COUNT(*) AS BIGINT) AS cu
        |  FROM toks
        |  WHERE source IN ('src0', 'src1', 'src2', 'src3', 'src4')
        |  GROUP BY 1, 2),
        |vocab AS (
        |  SELECT source AS hub, CAST(COUNT(DISTINCT t) AS BIGINT) AS v
        |  FROM toks
        |  WHERE source IN ('src0', 'src1', 'src2', 'src3', 'src4')
        |  GROUP BY 1),
        |sc AS (
        |  SELECT h.hub, g.source,
        |    CAST(ROUND(ln((CAST(COALESCE(cu, 0) AS DOUBLE)
        |        + 0.5 * CAST(h.v AS DOUBLE))
        |      / (CAST(COALESCE(cb, 0) AS DOUBLE) + 0.5))
        |      * 1000000000.0) AS BIGINT) AS q
        |  FROM bigrams g CROSS JOIN vocab h
        |  LEFT JOIN trbi ON trbi.hub = h.hub AND trbi.w1 = g.w1
        |    AND trbi.w2 = g.w2
        |  LEFT JOIN truni ON truni.hub = h.hub AND truni.w1 = g.w1)
        |SELECT hub, source, COUNT(*) AS n_bigrams,
        |  (CAST(SUM(q) AS DOUBLE) / 1000000000.0) / COUNT(*)
        |    AS cross_entropy
        |FROM sc GROUP BY hub, source ORDER BY hub, source""".stripMargin,

    // speculative-acceptance twin: identical tokenization/bigram CTEs,
    // HUGEINT cross-multiplied per-type min (the Spark Decimal(38)),
    // one division per source, the same fixed (1−α⁵)/(1−α) multiply
    // chain on the 9-dp α
    "q303_spec_decode_accept" ->
      """WITH tl AS (
        |  SELECT source, doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      x -> x <> '') AS w
        |  FROM documents),
        |toks AS (SELECT source, unnest(w) AS t FROM tl),
        |b0 AS (SELECT source, w, unnest(range(1, len(w))) AS i
        |       FROM tl WHERE len(w) >= 2),
        |bigrams AS (SELECT source, w[i] AS w1, w[i + 1] AS w2 FROM b0),
        |bi AS (SELECT source, w1, w2, CAST(COUNT(*) AS BIGINT) AS cb
        |       FROM bigrams GROUP BY 1, 2, 3),
        |cw AS (SELECT source, w1, CAST(SUM(cb) AS BIGINT) AS cwt
        |       FROM bi GROUP BY 1, 2),
        |uni AS (SELECT t AS w2, CAST(COUNT(*) AS BIGINT) AS cu
        |        FROM toks GROUP BY 1),
        |ntok AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM toks),
        |nbi AS (SELECT source, CAST(SUM(cb) AS BIGINT) AS n_bigrams,
        |          CAST(COUNT(*) AS BIGINT) AS n_types FROM bi GROUP BY 1),
        |smn AS (SELECT bi.source,
        |          SUM(LEAST(CAST(cb AS HUGEINT) * n,
        |                    CAST(cu AS HUGEINT) * cwt)) AS s
        |        FROM bi JOIN cw USING (source, w1) JOIN uni USING (w2)
        |        CROSS JOIN ntok GROUP BY 1),
        |f AS (SELECT source, n_types, n_bigrams,
        |        round(CAST(s AS DOUBLE)
        |          / CAST(CAST(n_bigrams AS HUGEINT) * n AS DOUBLE), 9)
        |          AS accept_rate
        |      FROM smn JOIN nbi USING (source) CROSS JOIN ntok)
        |SELECT source, n_types, n_bigrams, accept_rate,
        |  CASE WHEN accept_rate >= 1.0 THEN 5.0
        |       ELSE round((1.0 - accept_rate * accept_rate * accept_rate
        |           * accept_rate * accept_rate) / (1.0 - accept_rate), 6)
        |  END AS exp_tokens_per_step
        |FROM f ORDER BY source""".stripMargin,

    // NDV-estimate twin: identical tokenization/sample slice, HUGEINT
    // f1(f1−1) numerator, the same single-division Chao1 / error /
    // unseen-mass chain on 1-row aggregates
    "q304_ndv_estimate" ->
      """WITH tl AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      x -> x <> '') AS w
        |  FROM documents),
        |toks AS (SELECT doc_id, unnest(w) AS t FROM tl),
        |dt AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS d_true FROM toks),
        |tc AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM toks
        |       WHERE doc_id % 10 = 0 GROUP BY t),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS d_sample,
        |        CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        |        CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
        |        CAST(SUM(c) AS BIGINT) AS n_sample_tokens FROM tc),
        |b AS (SELECT d_sample, f1, f2, n_sample_tokens, d_true,
        |        round(CAST(d_sample AS DOUBLE)
        |          + CAST(CAST(f1 AS HUGEINT) * (f1 - 1) AS DOUBLE)
        |            / (2.0 * (CAST(f2 AS DOUBLE) + 1.0)), 6) AS chao1
        |      FROM a CROSS JOIN dt)
        |SELECT d_sample, f1, f2, n_sample_tokens, d_true, chao1,
        |  round((chao1 - CAST(d_true AS DOUBLE)) / CAST(d_true AS DOUBLE)
        |    * 100.0, 6) AS err_pct,
        |  round(CAST(f1 AS DOUBLE) / CAST(n_sample_tokens AS DOUBLE), 9)
        |    AS unseen_mass
        |FROM b""".stripMargin,

    // DoReMi twin: q296's tokenization/count tables plus a global LM,
    // identical nano-quantized nll sums, micro-quantized exp(excess),
    // exact normalizing sum, one division per weight
    "q317_doremi_weights" ->
      """WITH tl AS (
        |  SELECT source, doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      x -> x <> '') AS w
        |  FROM documents),
        |toks AS (SELECT source, unnest(w) AS t FROM tl),
        |b0 AS (SELECT source, w, unnest(range(1, len(w))) AS i
        |       FROM tl WHERE len(w) >= 2),
        |bigrams AS (SELECT source, w[i] AS w1, w[i + 1] AS w2 FROM b0),
        |hb AS (SELECT * FROM bigrams
        |       WHERE source IN ('src0', 'src1', 'src2', 'src3', 'src4')),
        |trbi AS (
        |  SELECT source AS hub, w1, w2, CAST(COUNT(*) AS BIGINT) AS cb
        |  FROM hb GROUP BY 1, 2, 3),
        |truni AS (
        |  SELECT source AS hub, t AS w1, CAST(COUNT(*) AS BIGINT) AS cu
        |  FROM toks
        |  WHERE source IN ('src0', 'src1', 'src2', 'src3', 'src4')
        |  GROUP BY 1, 2),
        |vocab AS (
        |  SELECT source AS hub, CAST(COUNT(DISTINCT t) AS BIGINT) AS v
        |  FROM toks
        |  WHERE source IN ('src0', 'src1', 'src2', 'src3', 'src4')
        |  GROUP BY 1),
        |selfce AS (
        |  SELECT g.source AS hub, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(CAST(ROUND(ln((CAST(COALESCE(cu, 0) AS DOUBLE)
        |        + 0.5 * CAST(vocab.v AS DOUBLE))
        |      / (CAST(COALESCE(cb, 0) AS DOUBLE) + 0.5))
        |      * 1000000000.0) AS BIGINT)) AS BIGINT) AS sqs
        |  FROM hb g
        |  LEFT JOIN trbi ON trbi.hub = g.source AND trbi.w1 = g.w1
        |    AND trbi.w2 = g.w2
        |  LEFT JOIN truni ON truni.hub = g.source AND truni.w1 = g.w1
        |  JOIN vocab ON vocab.hub = g.source
        |  GROUP BY 1),
        |gbi AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS gcb
        |        FROM bigrams GROUP BY 1, 2),
        |guni AS (SELECT t AS w1, CAST(COUNT(*) AS BIGINT) AS gcu
        |         FROM toks GROUP BY 1),
        |gv AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS gv FROM toks),
        |globce AS (
        |  SELECT g.source AS hub,
        |    CAST(SUM(CAST(ROUND(ln((CAST(COALESCE(gcu, 0) AS DOUBLE)
        |        + 0.5 * CAST(gv.gv AS DOUBLE))
        |      / (CAST(COALESCE(gcb, 0) AS DOUBLE) + 0.5))
        |      * 1000000000.0) AS BIGINT)) AS BIGINT) AS sqg
        |  FROM hb g
        |  LEFT JOIN gbi ON gbi.w1 = g.w1 AND gbi.w2 = g.w2
        |  LEFT JOIN guni ON guni.w1 = g.w1
        |  CROSS JOIN gv
        |  GROUP BY 1),
        |j AS (SELECT hub, n_bigrams, sqs, sqg,
        |    CAST(ROUND(exp(
        |      (CAST(sqg AS DOUBLE) / 1000000000.0)
        |        / CAST(n_bigrams AS DOUBLE)
        |      - (CAST(sqs AS DOUBLE) / 1000000000.0)
        |        / CAST(n_bigrams AS DOUBLE)) * 1000000.0) AS BIGINT) AS eq
        |  FROM selfce JOIN globce USING (hub)),
        |tot AS (SELECT CAST(SUM(eq) AS BIGINT) AS teq FROM j)
        |SELECT hub, n_bigrams,
        |  round((CAST(sqs AS DOUBLE) / 1000000000.0)
        |    / CAST(n_bigrams AS DOUBLE), 6) AS ce_self,
        |  round((CAST(sqg AS DOUBLE) / 1000000000.0)
        |    / CAST(n_bigrams AS DOUBLE), 6) AS ce_global,
        |  round((CAST(sqg AS DOUBLE) / 1000000000.0)
        |      / CAST(n_bigrams AS DOUBLE)
        |    - (CAST(sqs AS DOUBLE) / 1000000000.0)
        |      / CAST(n_bigrams AS DOUBLE), 6) AS excess,
        |  round(CAST(eq AS DOUBLE) / CAST(teq AS DOUBLE), 6)
        |    AS weight_doremi
        |FROM j CROSS JOIN tot ORDER BY hub""".stripMargin,

    // Kneser–Ney twin: identical tokenization/bigram CTEs, the same four
    // count tables, the IDENTICAL fixed-order P double chain
    // ((cb−D)/cl + (D·n1f/cl)·(n1b/B)), nano-quantized −ln P before the
    // per-doc sum, one final division
    "q285_kneser_ney" ->
      """WITH tl AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      x -> x <> '') AS w
        |  FROM documents),
        |b0 AS (SELECT doc_id, w, unnest(range(1, len(w))) AS i
        |       FROM tl WHERE len(w) >= 2),
        |bigrams AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM b0),
        |bi AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb
        |       FROM bigrams GROUP BY w1, w2),
        |lft AS (SELECT w1, CAST(SUM(cb) AS BIGINT) AS cl,
        |          CAST(COUNT(*) AS BIGINT) AS n1f
        |        FROM bi GROUP BY w1),
        |cont AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1b
        |         FROM bi GROUP BY w2),
        |btot AS (SELECT CAST(COUNT(*) AS BIGINT) AS b FROM bi),
        |scored AS (
        |  SELECT g.doc_id, COUNT(*) AS n_bigrams,
        |    (CAST(SUM(CAST(ROUND(-ln(
        |        (CAST(cb AS DOUBLE) - 0.75) / CAST(cl AS DOUBLE)
        |        + (0.75 * CAST(n1f AS DOUBLE) / CAST(cl AS DOUBLE))
        |          * (CAST(n1b AS DOUBLE) / CAST(b AS DOUBLE)))
        |      * 1000000000.0) AS BIGINT)) AS DOUBLE)
        |      / 1000000000.0) / COUNT(*) AS kn_cross_entropy
        |  FROM bigrams g
        |  JOIN bi USING (w1, w2) JOIN lft USING (w1) JOIN cont USING (w2)
        |  CROSS JOIN btot
        |  GROUP BY g.doc_id)
        |SELECT d.doc_id, CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  kn_cross_entropy
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN scored USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // CCNet twin: identical tokenization and train/score split, lang-
    // keyed count tables with LEFT-join add-0.5 smoothing, the same
    // nano-quantized per-doc sum, and the identical integer-tercile
    // formula over ROW_NUMBER (PARTITION BY lang ORDER BY ce, doc_id)
    "q209_ccnet_buckets" ->
      """WITH tl AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      x -> x <> '') AS w
        |  FROM documents),
        |tr AS (SELECT * FROM tl WHERE doc_id % 5 = 0),
        |sc AS (SELECT * FROM tl WHERE doc_id % 5 <> 0),
        |trtoks AS (SELECT lang, unnest(w) AS t FROM tr),
        |trbi AS (SELECT lang, w[i] AS w1, w[i + 1] AS w2
        |         FROM (SELECT lang, w, unnest(range(1, len(w))) AS i
        |               FROM tr WHERE len(w) >= 2)),
        |uni AS (SELECT lang, t AS w1, COUNT(*) AS cu FROM trtoks GROUP BY lang, t),
        |bi AS (SELECT lang, w1, w2, COUNT(*) AS cb FROM trbi GROUP BY lang, w1, w2),
        |vocab AS (SELECT lang, COUNT(DISTINCT t) AS v FROM trtoks GROUP BY lang),
        |scb AS (SELECT doc_id, lang, w[i] AS w1, w[i + 1] AS w2
        |        FROM (SELECT doc_id, lang, w, unnest(range(1, len(w))) AS i
        |              FROM sc WHERE len(w) >= 2)),
        |scored AS (
        |  SELECT g.doc_id, g.lang, COUNT(*) AS n_bigrams,
        |    SUM(CAST(ROUND(ln((CAST(COALESCE(u.cu, 0) AS DOUBLE)
        |          + 0.5 * CAST(v.v AS DOUBLE)) /
        |        (CAST(COALESCE(cb2.cb, 0) AS DOUBLE) + 0.5)) * 1000000000.0) AS BIGINT)) AS sq
        |  FROM scb g
        |  LEFT JOIN bi cb2 ON cb2.lang = g.lang AND cb2.w1 = g.w1 AND cb2.w2 = g.w2
        |  LEFT JOIN uni u ON u.lang = g.lang AND u.w1 = g.w1
        |  JOIN vocab v ON v.lang = g.lang
        |  GROUP BY g.doc_id, g.lang),
        |ce AS (SELECT doc_id, lang, n_bigrams,
        |         (CAST(sq AS DOUBLE) / 1000000000.0) / n_bigrams AS cross_entropy
        |       FROM scored),
        |rk AS (SELECT *,
        |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cross_entropy, doc_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY lang) AS nl
        |       FROM ce)
        |SELECT doc_id, lang, CAST(n_bigrams AS BIGINT) AS n_bigrams, cross_entropy,
        |  CASE ((rn - 1) * 3) // nl WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM rk ORDER BY doc_id""".stripMargin,

    "q29_langid" -> langidSql,

    // confusion twin: identical marker-count predictions, plain counts,
    // one double division per cell
    "q202_langid_confusion" ->
      s"""WITH preds AS ($langidPredSql),
         |rt AS (SELECT lang, COUNT(*) AS n_actual FROM preds GROUP BY lang)
         |SELECT p.lang, p.pred_lang, COUNT(*) AS n, rt.n_actual,
         |  CAST(COUNT(*) AS DOUBLE) / CAST(rt.n_actual AS DOUBLE) AS frac_of_actual
         |FROM preds p JOIN rt ON rt.lang = p.lang
         |GROUP BY p.lang, p.pred_lang, rt.n_actual
         |ORDER BY p.lang, p.pred_lang""".stripMargin,

    "q30_text_quality" ->
      """WITH x AS (
        | SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS n_punct,
        |  CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|is|in|to)\b')) AS BIGINT) AS n_stop,
        |  CAST(length(text) AS BIGINT) AS char_len
        | FROM documents)
        |SELECT doc_id, n_tokens, n_punct, n_stop, char_len,
        | n_stop / n_tokens AS stop_ratio,
        | 0.5 * (n_stop / n_tokens) + 0.5 * (1.0 - n_punct / char_len) AS quality_score
        |FROM x ORDER BY doc_id""".stripMargin,

    "q31_token_count" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS ws_tokens,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    // fertility twin: q31's BPE-ish regex + strlen (UTF-8 bytes, the
    // DuckDB twin of octet_length), exact-long sums, single divisions
    "q211_tokenizer_fertility" ->
      """WITH x AS (
        |  SELECT lang, strlen(text) AS nb,
        |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe,
        |    len(regexp_extract_all(text, '\S+')) AS ws
        |  FROM documents)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(nb) AS BIGINT) AS n_bytes,
        |  CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
        |  CAST(SUM(ws) AS BIGINT) AS ws_tokens,
        |  CAST(SUM(nb) AS DOUBLE) / CAST(SUM(bpe) AS DOUBLE) AS bytes_per_token,
        |  CAST(SUM(bpe) AS DOUBLE) / CAST(SUM(ws) AS DOUBLE) AS fertility
        |FROM x GROUP BY lang ORDER BY lang""".stripMargin,

    // readability twin: identical \S+ / [.!?]+ / [aeiouy]+ run counts
    // (RE2 and Java agree on these classes) and the same fixed-
    // coefficient Flesch chain rounded once
    "q217_readability" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_words,
        |    GREATEST(1, CAST(len(regexp_extract_all(text, '[.!?]+'))
        |      AS BIGINT)) AS n_sentences,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      AS BIGINT) AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CASE WHEN n_words = 0 THEN NULL
        |       ELSE round(206.835
        |         - 1.015 * (CAST(n_words AS DOUBLE)
        |             / CAST(n_sentences AS DOUBLE))
        |         - 84.6 * (CAST(n_syllables AS DOUBLE)
        |             / CAST(n_words AS DOUBLE)), 4)
        |  END AS flesch_r
        |FROM c ORDER BY doc_id""".stripMargin,

    "q53_text_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
        |), base AS (
        |  SELECT doc_id, CAST(greatest(len(t) - 2, 0) AS BIGINT) AS n_ngrams, t
        |  FROM toks WHERE len(t) >= 3
        |), dis AS (
        |  SELECT doc_id, CAST(COUNT(DISTINCT s) AS BIGINT) AS n_distinct
        |  FROM (SELECT doc_id, t[i] || chr(0) || t[i+1] || chr(0) || t[i+2] AS s
        |        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
        |              FROM base))
        |  GROUP BY doc_id)
        |SELECT b.doc_id, b.n_ngrams, d.n_distinct,
        | 1.0 - d.n_distinct / b.n_ngrams AS repetition
        |FROM base b JOIN dis d ON b.doc_id = d.doc_id
        |ORDER BY b.doc_id""".stripMargin,

    "q32_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    // winnowing twin: identical tokenization/grams, md5_number_lower
    // masked to 62 bits (signed/unsigned MIN agreement), the same
    // window-of-5 minima, df cap, and integer containment gate
    "q333_winnowing" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'),
        |    x -> x <> '') AS tk
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS j,
        |    CAST(md5_number_lower(tk[i] || ' ' || tk[i+1] || ' ' ||
        |      tk[i+2] || ' ' || tk[i+3]) & 4611686018427387903 AS BIGINT)
        |      AS h
        |  FROM (SELECT doc_id, tk,
        |          unnest(generate_series(1, len(tk) - 3)) AS i
        |        FROM toks WHERE len(tk) >= 4)),
        |fps AS (
        |  SELECT DISTINCT doc_id, mh FROM (
        |    SELECT doc_id, j,
        |      COUNT(*) OVER (PARTITION BY doc_id) AS ng,
        |      MIN(h) OVER (PARTITION BY doc_id ORDER BY j
        |        ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS mh
        |    FROM grams) WHERE j <= ng - 5),
        |dfq AS (SELECT mh FROM fps GROUP BY mh HAVING COUNT(*) <= 50),
        |kept AS (SELECT fps.doc_id, fps.mh
        |         FROM fps JOIN dfq ON fps.mh = dfq.mh),
        |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nfp
        |          FROM kept GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db,
        |    CAST(COUNT(*) AS BIGINT) AS shared
        |  FROM kept a JOIN kept b
        |    ON a.mh = b.mh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT da, db, shared, sa.nfp AS na, sb.nfp AS nb,
        |  round(CAST(shared AS DOUBLE) /
        |    CAST(LEAST(sa.nfp, sb.nfp) AS DOUBLE), 6) AS containment
        |FROM pairs
        |JOIN sizes sa ON sa.doc_id = da
        |JOIN sizes sb ON sb.doc_id = db
        |WHERE shared * 2 >= LEAST(sa.nfp, sb.nfp)
        |ORDER BY da, db""".stripMargin,

    // BM25 oracle: the exact expression chain Graft.bm25Score builds,
    // generated from the same term list so both engines evaluate the
    // IDENTICAL left-associated double tree (k1=1.2, b=0.75 → the 2.2 /
    // 0.25 / 0.75 literals parse to the same doubles).
    "q109_bm25_score" -> {
      val tfDefs = Bm25Terms.zipWithIndex.map { case (t, i) =>
        s"COUNT(CASE WHEN t = '$t' THEN 1 END) AS tf$i"
      }.mkString(",\n    ")
      val dfDefs = Bm25Terms.indices.map(i =>
        s"COUNT(CASE WHEN tf$i > 0 THEN 1 END) AS df$i").mkString(",\n    ")
      val hitChain = Bm25Terms.indices.map(i =>
        s"(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)").mkString(" + ")
      val scoreChain = Bm25Terms.indices.map { i =>
        s"ln(1.0 + (CAST(n AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5) / (CAST(df$i AS DOUBLE) + 0.5))" +
          s" * (CAST(tf$i AS DOUBLE) * 2.2)" +
          s" / (CAST(tf$i AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))"
      }.mkString("\n    + ")
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t
         |  FROM documents),
         |tok2 AS (SELECT doc_id, t FROM toks WHERE t <> ''),
         |perdoc AS (
         |  SELECT doc_id, COUNT(*) AS dl,
         |    $tfDefs
         |  FROM tok2 GROUP BY doc_id),
         |stats AS (
         |  SELECT COUNT(*) AS n, SUM(dl) AS sumdl,
         |    $dfDefs
         |  FROM perdoc),
         |j AS (SELECT perdoc.*, stats.*, CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE) AS avgdl
         |      FROM perdoc CROSS JOIN stats)
         |SELECT d.doc_id, CAST(COALESCE(dl, 0) AS BIGINT) AS dl,
         |  CAST(COALESCE($hitChain, 0) AS BIGINT) AS n_terms_hit,
         |  ROUND(COALESCE($scoreChain, 0.0), 6) AS bm25
         |FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN j USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },

    // q261 twin: identical smooth-idf chains generated from the SAME
    // term list; the document norm recomputes the micro-quantized exact
    // long sum over all postings, the numerator and query norm are the
    // same fixed left-to-right expression trees as the Spark plan.
    "q261_vsm_cosine" -> {
      val tfDefs = Bm25Terms.zipWithIndex.map { case (t, i) =>
        s"CAST(SUM(CASE WHEN t = '$t' THEN tf ELSE 0 END) AS BIGINT) AS tf$i"
      }.mkString(",\n    ")
      val dfDefs = Bm25Terms.indices.map(i =>
        s"COUNT(CASE WHEN tf$i > 0 THEN 1 END) AS df$i").mkString(",\n    ")
      val hitChain = Bm25Terms.indices.map(i =>
        s"(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)").mkString(" + ")
      def idfOf(df: String, n: String): String =
        s"ln((CAST($n AS DOUBLE) + 1.0) / (CAST($df AS DOUBLE) + 1.0)) + 1.0"
      val numChain = Bm25Terms.indices.map(i =>
        s"CAST(tf$i AS DOUBLE) * (${idfOf(s"df$i", "sn")}) * (${idfOf(s"df$i", "sn")})")
        .mkString("\n    + ")
      val qNormChain = Bm25Terms.indices.map(i =>
        s"(${idfOf(s"df$i", "sn")}) * (${idfOf(s"df$i", "sn")})").mkString(" + ")
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t
         |  FROM documents),
         |post AS (
         |  SELECT doc_id, t, COUNT(*) AS tf FROM toks WHERE t <> '' GROUP BY 1, 2),
         |dft AS (SELECT t, COUNT(*) AS dft FROM post GROUP BY t),
         |nn AS (SELECT COUNT(DISTINCT doc_id) AS n FROM post),
         |norms AS (
         |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl,
         |    CAST(SUM(CAST(ROUND((CAST(tf AS DOUBLE) * (${idfOf("dft", "n")}))
         |      * (CAST(tf AS DOUBLE) * (${idfOf("dft", "n")})) * 1000000.0)
         |      AS BIGINT)) AS BIGINT) AS nq
         |  FROM post JOIN dft USING (t) CROSS JOIN nn GROUP BY doc_id),
         |perdoc AS (
         |  SELECT doc_id,
         |    $tfDefs
         |  FROM post GROUP BY doc_id),
         |stats AS (
         |  SELECT COUNT(*) AS sn,
         |    $dfDefs
         |  FROM perdoc),
         |j AS (
         |  SELECT perdoc.*, norms.dl, norms.nq, stats.*,
         |    sqrt(CAST(norms.nq AS DOUBLE) / 1000000.0) AS dnorm,
         |    sqrt($qNormChain) AS qnorm
         |  FROM perdoc JOIN norms USING (doc_id) CROSS JOIN stats)
         |SELECT d.doc_id, CAST(COALESCE(dl, 0) AS BIGINT) AS dl,
         |  CAST(COALESCE($hitChain, 0) AS BIGINT) AS n_terms_hit,
         |  COALESCE(ROUND(($numChain) / (dnorm * qnorm), 4) + 0.0, 0.0) AS tfidf_r
         |FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN j USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },

    // RRF oracle: the q109-generated BM25 chain feeds ranking A, the
    // n_chars prior ranking B; both truncate to top-100, fuse with the
    // IDENTICAL fixed 2-term 1/(60+r) chain, top-50 out.
    "q144_rrf_fusion" -> {
      val tfDefs = Bm25Terms.zipWithIndex.map { case (t, i) =>
        s"COUNT(CASE WHEN t = '$t' THEN 1 END) AS tf$i"
      }.mkString(",\n    ")
      val dfDefs = Bm25Terms.indices.map(i =>
        s"COUNT(CASE WHEN tf$i > 0 THEN 1 END) AS df$i").mkString(",\n    ")
      val scoreChain = Bm25Terms.indices.map { i =>
        s"ln(1.0 + (CAST(n AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5) / (CAST(df$i AS DOUBLE) + 0.5))" +
          s" * (CAST(tf$i AS DOUBLE) * 2.2)" +
          s" / (CAST(tf$i AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))"
      }.mkString("\n    + ")
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t
         |  FROM documents),
         |tok2 AS (SELECT doc_id, t FROM toks WHERE t <> ''),
         |perdoc AS (
         |  SELECT doc_id, COUNT(*) AS dl,
         |    $tfDefs
         |  FROM tok2 GROUP BY doc_id),
         |stats AS (
         |  SELECT COUNT(*) AS n, SUM(dl) AS sumdl,
         |    $dfDefs
         |  FROM perdoc),
         |j AS (SELECT perdoc.*, stats.*, CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE) AS avgdl
         |      FROM perdoc CROSS JOIN stats),
         |scored AS (
         |  SELECT d.doc_id, COALESCE($scoreChain, 0.0) AS bm25
         |  FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN j USING (doc_id)),
         |ra AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r
         |       FROM scored ORDER BY bm25 DESC, doc_id LIMIT 100),
         |rb AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS r
         |       FROM documents ORDER BY n_chars DESC, doc_id LIMIT 100),
         |ids AS (SELECT doc_id FROM ra UNION SELECT doc_id FROM rb)
         |SELECT i.doc_id, ra.r AS rank_0, rb.r AS rank_1,
         |  CAST((CASE WHEN ra.r IS NOT NULL THEN 1 ELSE 0 END)
         |     + (CASE WHEN rb.r IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_lists,
         |  COALESCE(1.0 / (60.0 + CAST(ra.r AS DOUBLE)), 0.0)
         |    + COALESCE(1.0 / (60.0 + CAST(rb.r AS DOUBLE)), 0.0) AS rrf
         |FROM ids i LEFT JOIN ra ON i.doc_id = ra.doc_id
         |LEFT JOIN rb ON i.doc_id = rb.doc_id
         |ORDER BY rrf DESC, i.doc_id LIMIT 50""".stripMargin
    },

    // Gopher repetition: per-doc top-{2,3}-gram char fraction + duplicated
    // 10-gram char coverage, same integer-ratio/one-division shapes.
    "q107_gopher_repetition" ->
      """WITH base AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w,
        |         CAST(length(trim(text)) AS BIGINT) AS n_chars
        |  FROM documents),
        |g2 AS (
        |  SELECT doc_id, n_chars, w[i] || ' ' || w[i+1] AS g
        |  FROM (SELECT doc_id, n_chars, w, unnest(generate_series(1, greatest(len(w) - 1, 0))) AS i FROM base)),
        |t2 AS (
        |  SELECT doc_id, c * CAST(length(g) AS BIGINT) / n_chars AS top2_frac
        |  FROM (SELECT doc_id, n_chars, g, COUNT(*) AS c,
        |          ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY COUNT(*) DESC, g) AS rn
        |        FROM g2 GROUP BY doc_id, n_chars, g)
        |  WHERE rn = 1),
        |g3 AS (
        |  SELECT doc_id, n_chars, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
        |  FROM (SELECT doc_id, n_chars, w, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i FROM base)),
        |t3 AS (
        |  SELECT doc_id, c * CAST(length(g) AS BIGINT) / n_chars AS top3_frac
        |  FROM (SELECT doc_id, n_chars, g, COUNT(*) AS c,
        |          ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY COUNT(*) DESC, g) AS rn
        |        FROM g3 GROUP BY doc_id, n_chars, g)
        |  WHERE rn = 1),
        |g10 AS (
        |  SELECT doc_id, i,
        |    w[i] || chr(0) || w[i+1] || chr(0) || w[i+2] || chr(0) || w[i+3] || chr(0) ||
        |    w[i+4] || chr(0) || w[i+5] || chr(0) || w[i+6] || chr(0) || w[i+7] || chr(0) ||
        |    w[i+8] || chr(0) || w[i+9] AS g
        |  FROM (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 9, 0))) AS i FROM base)),
        |dupg AS (SELECT doc_id, g FROM g10 GROUP BY doc_id, g HAVING COUNT(*) >= 2),
        |cov AS (
        |  SELECT DISTINCT g10.doc_id, i + j AS cp
        |  FROM g10 JOIN dupg ON g10.doc_id = dupg.doc_id AND g10.g = dupg.g
        |  CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS j) js),
        |dchars AS (
        |  SELECT tok.doc_id, SUM(CAST(length(tok.word) AS BIGINT)) AS dchars
        |  FROM (SELECT doc_id, i, w[i] AS word
        |        FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i FROM base)) tok
        |  JOIN cov ON tok.doc_id = cov.doc_id AND tok.i = cov.cp
        |  GROUP BY tok.doc_id)
        |SELECT b.doc_id, b.n_chars,
        |  COALESCE(t2.top2_frac, 0.0) AS top2_frac,
        |  COALESCE(t3.top3_frac, 0.0) AS top3_frac,
        |  COALESCE(d.dchars / b.n_chars, 0.0) AS dup10_frac,
        |  (COALESCE(t2.top2_frac, 0.0) > 0.20 OR COALESCE(t3.top3_frac, 0.0) > 0.18
        |    OR COALESCE(d.dchars / b.n_chars, 0.0) > 0.10) AS flagged
        |FROM base b
        |LEFT JOIN t2 ON b.doc_id = t2.doc_id
        |LEFT JOIN t3 ON b.doc_id = t3.doc_id
        |LEFT JOIN dchars d ON b.doc_id = d.doc_id
        |ORDER BY b.doc_id""".stripMargin,

    "q33_multimodal_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | CAST(ascii(substring(text, 1, 1)) AS BIGINT) AS first_byte
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q103_bpe_tokens" -> {
      // the oracle's replace chain is GENERATED from the same merge
      // table the kernel uses — one source of truth for the vocab
      val chain = graft.functions.TextKernels.BpeMerges.foldLeft(
        "'|' || array_to_string(string_split(word, ''), '||') || '|'") {
        case (acc, (a, b)) => s"replace($acc, '|$a||$b|', '|$a$b|')"
      }
      s"""WITH w AS (
         |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word
         |  FROM documents),
         |t AS (
         |  SELECT doc_id, CAST(len(string_split($chain, '||')) AS BIGINT) AS n
         |  FROM w WHERE word <> ''),
         |agg AS (SELECT doc_id, SUM(n) AS n FROM t GROUP BY doc_id)
         |SELECT d.doc_id, CAST(COALESCE(agg.n, 0) AS BIGINT) AS bpe_tokens
         |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
         |ORDER BY d.doc_id""".stripMargin
    },

    "q99_normalize_text" ->
      """SELECT doc_id, CAST(length(norm) AS BIGINT) AS n_chars_norm,
        |       md5(norm) AS norm_md5
        |FROM (SELECT doc_id,
        |        trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g')) AS norm
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q126_inverted_index" -> {
      val inList = Bm25Terms.map(t => s"'$t'").mkString(", ")
      s"""WITH toks AS (
         |  SELECT DISTINCT doc_id AS id, term FROM (
         |    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
         |    FROM documents)
         |  WHERE term IN ($inList)),
         |seg AS (
         |  SELECT term, id // 100 AS bucket, CAST(COUNT(*) AS BIGINT) AS cnt,
         |         md5(string_agg(CAST(id AS VARCHAR), ',' ORDER BY id)) AS seg_md5
         |  FROM toks GROUP BY term, bucket)
         |SELECT term, CAST(SUM(cnt) AS BIGINT) AS df,
         |       CAST(COUNT(*) AS BIGINT) AS n_segments,
         |       md5(string_agg(seg_md5, ',' ORDER BY bucket)) AS index_md5
         |FROM seg GROUP BY term ORDER BY term""".stripMargin
    },

    "q124_bpe_learn" -> {
      // the oracle replays bpeLearn's exact loop, unrolled: per stage a
      // pair-count over the previous vocab, a tie-broken argmax, and a
      // literal-replace merge apply — same delimited form, same total
      // order, so the learned table hash-matches
      val stages = (1 to BpeLearnSteps).map { i =>
        val prev = s"w${i - 1}"
        s"""p$i AS (
           |  SELECT s[i] AS l, s[i + 1] AS r, freq
           |  FROM (SELECT s, freq, unnest(generate_series(1, len(s) - 1)) AS i
           |        FROM (SELECT string_split(substr(sym, 2, len(sym) - 2), '||') AS s,
           |                     freq
           |              FROM $prev))),
           |b$i AS (SELECT l, r, CAST(SUM(freq) AS BIGINT) AS cnt FROM p$i
           |        GROUP BY l, r ORDER BY cnt DESC, l, r LIMIT 1),
           |w$i AS (SELECT replace(sym, '|' || l || '||' || r || '|',
           |                       '|' || l || r || '|') AS sym, freq
           |        FROM $prev CROSS JOIN b$i)""".stripMargin
      }.mkString(",\n")
      val out = (1 to BpeLearnSteps)
        .map(i => s"SELECT CAST($i AS BIGINT) AS step, l, r, cnt FROM b$i")
        .mkString("\nUNION ALL\n")
      s"""WITH w0 AS (
         |  SELECT regexp_replace(w, '(.)', '|\\1|', 'g') AS sym,
         |         CAST(COUNT(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
         |        FROM documents)
         |  GROUP BY w),
         |$stages
         |$out
         |ORDER BY step""".stripMargin
    }
  )
}
