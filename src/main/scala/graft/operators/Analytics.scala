package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Util._

/** Round-5 analytics operators: time-bounded rolling windows, interval
  * merging (gaps-and-islands), Z-order layout clustering, one-pass data
  * profiling, ratio-to-report shares, deterministic per-group mode,
  * z-score outlier detection, Markov transition counts, weighted
  * deterministic sampling, and tolerance-bounded as-of joins.
  *
  * Every query is hash-checked against a DuckDB oracle; exactness follows
  * the Util policy (decimal sums before any reordering aggregation,
  * integer math wherever a comparison happens, identical double expression
  * shapes on both engines, BIGINT casts for computed integers).
  */
object Analytics {

  /** Morton bit-spread as DuckDB SQL — textual twin of
    * [[graft.api.Graft.mortonSpread16]] so the oracle computes the exact
    * same integer. Masks: 0x00FF00FF, 0x0F0F0F0F, 0x33333333, 0x55555555. */
  private def spreadSql(e: String): String = {
    val a = s"((CAST($e AS BIGINT)) & 65535)"
    val b = s"((($a) | (($a) << 8)) & 16711935)"
    val c = s"((($b) | (($b) << 4)) & 252645135)"
    val d = s"((($c) | (($c) << 2)) & 858993459)"
    s"((($d) | (($d) << 1)) & 1431655765)"
  }
  private def mortonSql(x: String, y: String): String =
    s"(${spreadSql(x)} | (${spreadSql(y)} << 1))"

  /** Shared basket co-purchase edge ARTIFACT — q140 (label propagation),
    * q147 (k-core), q173 (link prediction) and q218 (modularity) all
    * consume the SAME lineitem basket-pair self-join. Per (session,
    * sfDir) the edge set is materialized ONCE as a bucketed table
    * (bucketBy(16, src) — the q68 machinery) and every later graph query
    * reads co-located, src-sorted buckets instead of re-shuffling the
    * fact table. At 100 TB this is the difference between paying the
    * fact-table self-join shuffle four times and paying a one-time
    * bucketed write: the first consumer in a session pays the build
    * (kept INSIDE its timed query — that is the artifact's honest cost),
    * the rest read. Hash gates are unchanged: the artifact holds the
    * exact (src, dst) long multiset of the inline join (parquet
    * round-trips longs bit-for-bit) and each query's oracle still
    * replays the plain self-join.
    *
    * Storage/naming/cleanup are [[graft.api.Graft.materializeBucketed]]'s:
    * SHA-256-digest table name keyed on the FULL data directory (two
    * different sfDirs can never collide the way a 32-bit hashCode
    * could), files under the session warehouse in a per-process subdir
    * (concurrent JVMs never race an overwrite against a read), removed
    * on JVM exit. */
  def basketEdges(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.api.Graft.materializeBucketed(s, s"basket_edges:$dir", "src", 16) {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      li.alias("x").join(li.alias("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("src"), col("y.pk").as("dst"))
    }

  /** Shared CANONICAL edge artifact — the distinct (src < dst by
    * construction) form of [[basketEdges]]. Six graph consumers (q147
    * k-core, q173 link prediction, q330 assortativity, q337 rich club,
    * q345 closeness, q352 hub robustness) each re-ran the SAME
    * `distinct()` over the raw pair multiset (~0.5–1 s each at sf0.1 —
    * round-13 measurement) before doing any graph work. Materialized
    * once per (session, sfDir); hash gates unchanged (the canonical
    * set is a pure function of the multiset and parquet round-trips
    * longs bit-for-bit). */
  def basketCanon(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.api.Graft.materializeBucketed(s, s"basket_canon:$dir", "src", 16) {
      basketEdges(s, dir).distinct()
    }

  /** Shared DEGREE artifact over [[basketCanon]] — the (node, deg)
    * table of the canonical undirected graph, consumed by the same six
    * graph queries (each previously re-derived it with its own doubled-
    * adjacency aggregate). Node-sized; bucketed on the node so every
    * later degree join reads co-located sorted buckets. */
  def basketDegrees(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.api.Graft.materializeBucketed(s, s"basket_deg:$dir", "u", 16) {
      val e = basketCanon(s, dir)
      e.select(col("src").as("u")).unionAll(e.select(col("dst").as("u")))
        .groupBy(col("u")).agg(count(lit(1)).as("deg"))
    }

  /** Shared label-propagation RESULT artifact — q140 returns these
    * communities and q218 ("modularity of the q140 communities") audits
    * them. The 3-round synchronous propagation over [[basketEdges]] is
    * fully deterministic (most-frequent-neighbor with min_by tie-break),
    * so running it twice per session was pure recomputation — ~9 s of
    * the sf0.1 sweep, and at 100 TB a second full multi-round
    * traversal of the edge set. Same honest-cost rule as the edge
    * artifact: the first consumer pays the propagation inside its own
    * timed query; the second reads node-bucketed sorted parquet
    * (node/lab are strings — parquet round-trips them bit-for-bit, so
    * both hash gates see the exact inline result). */
  def basketCommunities(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.api.Graft.materializeBucketed(s, s"basket_lp3:$dir", "node", 16) {
      graft.api.Graft.labelPropagation(basketEdges(s, dir), "src", "dst",
        rounds = 3)
    }

  /** Deterministic versioned manifest for q181/q182: q157's file
    * grouping with synthetic add/delete versions (added = file % 5,
    * every third file deleted at added + 1 + file % 4). */
  private def versionedManifest(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    t(s, dir, "lineitem")
      .groupBy(expr("l_orderkey div 4096").as("file_id"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("added_v", (col("file_id") % 5L).cast(LongType))
      .withColumn("deleted_v",
        when(col("file_id") % 3L === 0L,
          col("added_v") + 1L + col("file_id") % 4L)
          .otherwise(lit(null).cast(LongType)))

  val queries: Map[String, Q] = Map(
    // ---- q181/q182 share a deterministic versioned manifest built
    // from the q157 file grouping: added = file % 5, every third file
    // deleted at added + 1 + file % 4. ----
    // q181: time-travel audit — live file set AS OF each version 0..8
    // (the lake snapshot-resolution rule, audited at manifest cost).
    "q181_time_travel" -> ((s, dir) => {
      graft.api.Graft.timeTravelAudit(versionedManifest(s, dir),
          "added_v", "deleted_v", "n_rows", maxVersion = 8)
        .orderBy(col("version"))
    }),

    // q182: vacuum plan — deleted files no retained snapshot (current 8,
    // retain 3) can still reference; pure integer manifest filters.
    "q182_vacuum_plan" -> ((s, dir) => {
      graft.api.Graft.vacuumPlan(versionedManifest(s, dir), "deleted_v",
          currentVersion = 8, retainVersions = 3)
        .select(col("file_id"), col("added_v"), col("deleted_v"), col("n_rows"))
        .orderBy(col("file_id"))
    }),

    // ---- q180: 5-fold cross-validation of the event_type-mean
    // predictor — per fold, RMSE against the OUT-OF-FOLD group mean
    // (total-minus-fold algebra over one (fold, group) aggregate; never
    // k re-scans). The honest generalization estimate next to q166's
    // in-sample fit. ----
    "q180_cross_validation" -> ((s, dir) =>
      graft.api.Graft.crossValidateGroupMean(t(s, dir, "events"), "value",
          "event_type", "event_id", folds = 5)
        .orderBy(col("fold"))),

    // ---- q177: exact weighted percentiles — quantity-weighted price
    // quartiles via the distributed prefix sum (globalCumSum): smallest
    // value whose cumulative weight reaches ⌈p·W/1000⌉, no row
    // explosion, no float boundary. ----
    "q177_weighted_percentiles" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("rid", col("l_orderkey") * 10L + col("l_linenumber"))
      graft.api.Graft.weightedPercentiles(li, "l_extendedprice",
        "l_quantity", "rid", permilles = Seq(250, 500, 750))
    }),

    // ---- q178: sweep-line peak concurrency — max simultaneously-open
    // orders (deterministic duration o_orderkey % 30 days): intervals
    // become ±1 deltas, deltas collapse to the DAY GRID first (keyed
    // agg — the q158 device), and the prefix sum runs over dimension-
    // sized days, never row-level data. The naive day-expansion join
    // this replaces explodes rows × duration. ----
    "q178_peak_concurrency" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(
        graft.api.Graft.epochDay(col("o_orderdate").cast(TimestampType)).as("s"),
        (col("o_orderkey") % 30L).as("dur"))
      val deltas = o.select(explode(array(
          struct(col("s").as("d"), lit(1L).as("delta")),
          struct((col("s") + col("dur") + 1L).as("d"), lit(-1L).as("delta"))))
          .as("e"))
        .select(col("e.d").as("d"), col("e.delta").as("delta"))
        .groupBy(col("d")).agg(sum(col("delta")).as("delta"))
      val wd = org.apache.spark.sql.expressions.Window.orderBy(col("d"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val cum = deltas.withColumn("active", sum(col("delta")).over(wd))
      val peak = cum.agg(max(col("active")).as("peak"))
      cum.crossJoin(broadcast(peak)).filter(col("active") === col("peak"))
        .groupBy(col("peak")).agg(min(col("d")).as("first_peak_day"))
    }),

    // ---- q185: 2D skyline (Pareto frontier) — parts where no other part
    // is both cheaper-or-equal AND larger-or-equal with one strict: the
    // multi-objective "best tradeoff" query (cost vs capability). The
    // oracle states the NOT-EXISTS dominance semantics; the plan is the
    // linear prefix-max sweep (per-price max + two-phase running max),
    // never the quadratic self-join. ----
    "q185_skyline" -> ((s, dir) => {
      graft.api.Graft.skyline2d(t(s, dir, "part"), "p_retailprice", "p_size")
        .select(col("p_partkey"), col("p_retailprice"),
          col("p_size").cast(LongType).as("p_size"))
        .orderBy(col("p_partkey"))
    }),

    // ---- q176: Poisson-bootstrap 95% CI for the mean event value —
    // the canonical distributed resampling: per-(resample, row) weights
    // from the md5 hash through integer Poisson(1) CDF thresholds, so
    // 200 resamples replay bit-for-bit in BOTH engines; CI bounds are
    // exact order statistics of micro-quantized resample means. ----
    "q176_bootstrap_ci" -> ((s, dir) =>
      graft.api.Graft.bootstrapMeanCI(t(s, dir, "events"), "value",
        "event_id", resamples = 200)),

    // ---- q174: rolling OLS slope — per-customer spend trend over the
    // last 5 orders (the windowed member of the trend family: q117
    // whole-series OLS, q156 robust Theil–Sen, q145 EWMA). Five frame
    // sums share ONE keyed sort; slope exact-integer until one
    // division; frame-bounded magnitudes make the exactness argument
    // scale-independent. ----
    "q174_rolling_slope" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
        graft.api.Graft.epochDay(col("o_orderdate").cast(TimestampType)).as("t"),
        round(col("o_totalprice") * lit(100.0)).cast(LongType).as("vc"))
      graft.api.Graft.rollingSlope(o, "o_custkey", "t", "vc", "o_orderkey",
          windowRows = 5)
        .select(col("o_custkey"), col("o_orderkey"), col("t"), col("n_window"),
          (col("slope") / lit(100.0)).as("slope_per_day"))
        .orderBy(col("o_custkey"), col("t"), col("o_orderkey"))
    }),

    // ---- q175: one-way ANOVA — does event_type explain value variance?
    // F + η² from one keyed aggregate; η² here equals q166's R² for the
    // group-mean predictor (the two queries cross-check each other). ----
    "q175_anova" -> ((s, dir) =>
      graft.api.Graft.anovaOneWay(t(s, dir, "events"), "value", "event_type")),

    // ---- q210: Spearman rank correlation between quantity and line
    // price — the monotone-invariant metric-agreement check (does one
    // signal order rows like another?), with textbook tie-averaged
    // ranks. Ranks are value-determined (cum_before + (n_v+1)/2), so
    // the shape is value-keyed aggs + a distinct-value cum-sum + joins
    // back — never a row-level global sort; moments are exact decimal
    // sums (HUGEINT on the oracle side) with one final
    // double/sqrt/divide of identical shape both engines. ----
    "q210_spearman" -> ((s, dir) =>
      graft.api.Graft.spearmanCorr(
        t(s, dir, "lineitem"), "l_quantity", "l_extendedprice")),

    // ---- q214: Mann–Whitney U rank-sum test — do purchase values sit
    // at a different location than click values, with NO normality
    // assumption? The nonparametric companion to q152's z-test (that
    // one tests proportions; this tests the full value distribution
    // through ranks). Same value-keyed rank discipline as q210: the
    // raw rows are never ranked — statistics come from the distinct-
    // value table via one globalCumSum. ----
    "q214_mann_whitney" -> ((s, dir) =>
      graft.api.Graft.mannWhitneyU(t(s, dir, "events"), "value",
        "event_type", groupA = "purchase", groupB = "click")),

    // ---- q222: Kaplan–Meier survival of user activity spans — the
    // censoring-aware churn curve: a user's span is first→last event;
    // "death" = the user ever errored (deterministic stand-in for a
    // churn label), everyone else is censored at their span. The raw
    // rows shuffle once (user agg); everything ordered runs over the
    // distinct-duration table. ----
    "q222_kaplan_meier" -> ((s, dir) => {
      val u = t(s, dir, "events").groupBy(col("user_id"))
        .agg(expr(
          "(max(unix_micros(ts)) - min(unix_micros(ts))) div 86400000000")
          .as("dur"),
          max(when(col("event_type") === "error", lit(1L)).otherwise(lit(0L)))
            .as("obs"))
      graft.api.Graft.kaplanMeier(u, "dur", "obs")
        .select(col("duration").as("duration_days"), col("n_deaths"),
          col("n_at_risk"), col("survival"))
        .orderBy(col("duration_days"))
    }),

    // ---- q302: two-sample log-rank test — q222 DRAWS the survival
    // curve; this one says whether the even/odd-user split's curves
    // differ beyond noise (the censoring-aware A/B test q214's rank-sum
    // cannot do: censored spans carry partial information that plain
    // ranks either drop or miscount). Same span/censoring derivation as
    // q222; groups via user_id parity (the deterministic variant
    // device). Subjects shuffle once; all ordered work runs on the
    // distinct-duration table. ----
    "q302_logrank" -> ((s, dir) => {
      val u = t(s, dir, "events").groupBy(col("user_id"))
        .agg(expr(
          "(max(unix_micros(ts)) - min(unix_micros(ts))) div 86400000000")
          .as("dur"),
          max(when(col("event_type") === "error", lit(1L)).otherwise(lit(0L)))
            .as("obs"))
        .withColumn("grp", col("user_id") % 2)
      graft.api.Graft.logRank(u, "dur", "obs", "grp")
    }),

    // ---- q305: seasonal-naive forecast backtest (MASE, Hyndman &
    // Koehler 2006) — the missing SCORE beside the decompose/alert
    // layers (q259 STL, q150 CUSUM, q145 EWMA): how good is even the
    // cheapest forecast on this series? Daily click revenue; forecast =
    // value one season (7 days) back; last 14 days are the test
    // window, the earlier pairs are the scale denominator. MASE < 1 ⇔
    // beating in-sample seasonal naive. Exact cent sums per day, |Δ|
    // exact longs, sMAPE per-day terms nano-quantized before the
    // order-free sum; MASE is the fixed two-ratio double chain.
    // Scale shape: one day-keyed aggregate, a tiny day-table self-join
    // on day−7, 1-row max-day broadcast. ----
    "q305_mase_backtest" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .filter(col("event_type") === "click" && col("value").isNotNull)
        .select(expr("unix_micros(ts) div 86400000000").as("day"),
          round(col("value") * 100.0).cast(LongType).as("c"))
        .groupBy(col("day")).agg(sum(col("c")).as("y"))
        .localCheckpoint()
      val mx = daily.agg(max(col("day")).as("mxd"))
      val pairs = daily.join(
          daily.select((col("day") + 7L).as("day"), col("y").as("ylag")),
          Seq("day"))
        .crossJoin(broadcast(mx))
        .select((col("day") > col("mxd") - 14L).as("te"),
          abs(col("y") - col("ylag")).as("ae"),
          (col("y") + col("ylag")).as("yy"))
      val smTerm = when(col("yy") > 0L,
        round(lit(2.0) * col("ae").cast(DoubleType) /
          col("yy").cast(DoubleType) * lit(1.0e9)).cast(LongType))
        .otherwise(lit(0L))
      val f = pairs.agg(
        sum(when(!col("te"), lit(1L)).otherwise(lit(0L))).as("n_train_pairs"),
        sum(when(col("te"), lit(1L)).otherwise(lit(0L))).as("n_test_pairs"),
        sum(when(!col("te"), col("ae")).otherwise(lit(0L))).as("__sr"),
        sum(when(col("te"), col("ae")).otherwise(lit(0L))).as("__st"),
        sum(when(col("te"), smTerm).otherwise(lit(0L))).as("__sm"))
      f.select(col("n_train_pairs"), col("n_test_pairs"),
        round(col("__st").cast(DoubleType) /
          col("n_test_pairs").cast(DoubleType) / lit(100.0), 6).as("mae_test"),
        round(col("__sr").cast(DoubleType) /
          col("n_train_pairs").cast(DoubleType) / lit(100.0), 6)
          .as("mae_naive_train"),
        round((col("__st").cast(DoubleType) /
          col("n_test_pairs").cast(DoubleType)) /
          (col("__sr").cast(DoubleType) /
            col("n_train_pairs").cast(DoubleType)), 6).as("mase"),
        round(col("__sm").cast(DoubleType) / lit(1.0e9) /
          col("n_test_pairs").cast(DoubleType), 6).as("smape"))
    }),

    // ---- q306: Neyman optimal allocation — the survey-sampling DESIGN
    // step q179 (stratified sample) executes blindly: given a 10k-row
    // labeling budget over event-type strata, allocate n_h ∝ N_h·σ_h
    // (precision-optimal for estimating the overall mean) and report
    // the design effect vs proportional allocation. σ_h from exact
    // HUGEINT-twin Decimal moment sums (the Spearman device); σ is the
    // one sqrt, micro-quantized to 1e6 longs so every cross-strata
    // product (allocations, design effect) is exact integer math with
    // ONE rounded division each. Scale: one stratum-keyed aggregate +
    // 1-row broadcast; strata are dimension-sized. ----
    "q306_neyman_allocation" -> ((s, dir) => {
      val D = DecimalType(38, 0)
      val st = t(s, dir, "events")
        .filter(col("value").isNotNull && col("event_type").isNotNull)
        .select(col("event_type").as("stratum"),
          round(col("value") * 100.0).cast(LongType).as("c"))
        .groupBy(col("stratum"))
        .agg(count(lit(1)).as("nh"),
          sum(col("c").cast(D)).as("sx"),
          sum((col("c").cast(D) * col("c").cast(D))).as("sxx"))
      val sig = st.select(col("stratum"), col("nh"),
        when(col("nh") > 1L,
          round(sqrt((col("nh").cast(D) * col("sxx") -
            col("sx") * col("sx")).cast(DoubleType) /
            (col("nh").cast(D) * (col("nh") - lit(1L)).cast(D))
              .cast(DoubleType)) * lit(1.0e6)).cast(LongType))
          .otherwise(lit(0L)).as("sigq"))
        .localCheckpoint()
      val tot = sig.agg(sum(col("nh")).as("nn"),
        sum(col("nh").cast(D) * col("sigq").cast(D)).as("den"),
        sum(col("nh").cast(D) * col("sigq").cast(D) * col("sigq").cast(D))
          .as("s2w"))
      sig.crossJoin(broadcast(tot))
        .select(col("stratum"), col("nh").as("n_h"),
          (col("sigq").cast(DoubleType) / lit(1.0e6)).as("sigma_cents"),
          round(lit(10000.0) *
            (col("nh").cast(D) * col("sigq").cast(D)).cast(DoubleType) /
            col("den").cast(DoubleType)).cast(LongType).as("alloc_neyman"),
          round(lit(10000.0) * col("nh").cast(DoubleType) /
            col("nn").cast(DoubleType)).cast(LongType).as("alloc_prop"),
          round((col("nn").cast(D) * col("s2w")).cast(DoubleType) /
            (col("den") * col("den")).cast(DoubleType), 6)
            .as("design_effect"))
        .orderBy(col("stratum"))
    }),

    // ---- q314: restricted mean survival time — q222's curve collapsed
    // to the number a retention dashboard ships: expected active days
    // within a 21-day horizon (robust where median survival never
    // crosses, the no-proportional-hazards effect measure beside
    // q302's test). Same span/censoring derivation; the integral runs
    // on the death-time table only. ----
    "q314_rmst" -> ((s, dir) => {
      val u = t(s, dir, "events").groupBy(col("user_id"))
        .agg(expr(
          "(max(unix_micros(ts)) - min(unix_micros(ts))) div 86400000000")
          .as("dur"),
          max(when(col("event_type") === "error", lit(1L)).otherwise(lit(0L)))
            .as("obs"))
      graft.api.Graft.rmst(u, "dur", "obs", tau = 21L)
    }),

    // ---- q227: per-node clustering coefficient — q131's node-level
    // companion on the same user-transition graph: which users sit in
    // tight cliques vs hub-and-spoke stars? Degree-oriented wedge join
    // (out-degree O(√m), hub-proof), each triangle credits its three
    // corners once, cc = one exact-integer division; top-20 by
    // nano-quantized cc with a degree-5 floor. ----
    "q227_clustering_coeff" -> ((s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(unix_micros(col("ts")), col("event_id"))
      val seq = t(s, dir, "events")
        .withColumn("nxt", lead(col("user_id"), 1).over(w))
        .filter(col("nxt").isNotNull)
      graft.api.Graft.clusteringCoefficient(seq, "user_id", "nxt",
        minDegree = 5, topK = 20)
    }),

    // ---- q226: split-conformal coverage audit — the distribution-free
    // uncertainty gate over a simple per-type mean predictor: train on
    // even users, calibrate the α=0.1 residual quantile on users ≡1
    // (mod 4) as an EXACT ⌈(n+1)·0.9⌉ order statistic, measure
    // empirical coverage on users ≡3 (mod 4). The guarantee under
    // exchangeability is coverage ≥ 0.9 — emitted as data so every
    // round re-checks it. ----
    "q226_conformal" -> ((s, dir) => {
      val ev = t(s, dir, "events").filter(col("value").isNotNull)
        .select(col("event_id"), col("user_id"), col("event_type"),
          round(col("value") * 100.0).cast(LongType).as("cents"))
      val pred = ev.filter(col("user_id") % 2 === 0)
        .groupBy(col("event_type"))
        .agg((sum(col("cents")).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("pred_centi"))
      def resid(part: org.apache.spark.sql.DataFrame) =
        part.join(broadcast(pred), Seq("event_type"))
          .select(col("event_id"),
            abs(col("cents").cast(DoubleType) - col("pred_centi")).as("r"))
      graft.api.Graft.conformalAudit(
        resid(ev.filter(col("user_id") % 4 === 1)),
        resid(ev.filter(col("user_id") % 4 === 3)),
        "r", "event_id", alpha = 0.1)
    }),

    // ---- q225: CUPED variance-reduced A/B lift — the experimentation
    // upgrade over q152's raw z-test: each user's post-period spend is
    // adjusted by their PRE-period covariate (θ from pooled moments),
    // removing the between-user variance that has nothing to do with
    // the treatment. Pre = first 14 days from the corpus min day;
    // variant = the q152 md5 hash-bucket device; per-user means are
    // quantized to integer units so every cross-row moment is an exact
    // decimal sum. Reported variance reduction = ρ²(x, y). ----
    "q225_cuped" -> ((s, dir) => {
      val ev = t(s, dir, "events").filter(col("value").isNotNull)
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"),
          round(col("value") * 100.0).cast(LongType).as("cents"))
      val minDay = ev.agg(min(col("day")).as("__d0"))
      val units = ev.crossJoin(broadcast(minDay))
        .withColumn("pre", col("day") < col("__d0") + lit(14L))
        .groupBy(col("user_id"))
        .agg(sum(when(col("pre"), lit(1L)).otherwise(lit(0L))).as("nx"),
          sum(when(col("pre"), col("cents")).otherwise(lit(0L))).as("sx"),
          sum(when(!col("pre"), lit(1L)).otherwise(lit(0L))).as("ny"),
          sum(when(!col("pre"), col("cents")).otherwise(lit(0L))).as("sy"))
        .filter(col("nx") > 0L && col("ny") > 0L)
        .select(
          round(col("sx").cast(DoubleType) / col("nx").cast(DoubleType) *
            lit(100.0)).cast(LongType).as("xq"),
          round(col("sy").cast(DoubleType) / col("ny").cast(DoubleType) *
            lit(100.0)).cast(LongType).as("yq"),
          (call_function("md5_lower64", col("user_id").cast(StringType))
            .bitwiseAND(lit(1L)) === 1L).as("variant"))
      graft.api.Graft.cupedLift(units, "xq", "yq", "variant", scale = 1e4)
    }),

    // ---- q221: leave-one-out target encoding of l_partkey against
    // "was returned" — the feature-engineering transform q220 would
    // consume: high-cardinality key → smoothed LOO label mean, with
    // the self-row excluded so the encoding can't leak its own label.
    // One key-keyed aggregate + join back + broadcast prior. ----
    "q221_target_encode" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber").cast(LongType)
          .as("l_linenumber"), col("l_partkey"),
          (col("l_returnflag") === "R").as("returned"))
      graft.api.Graft.targetEncode(li, "l_partkey", "returned",
          smoothing = 10.0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("returned"), col("te"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // ---- q220: decision-stump best split — how predictive is event
    // value of "this was a purchase", and where is the best cut? The
    // supervised feature-quality audit (and distributed tree training's
    // inner loop): distinct-value candidate thresholds, prefix
    // (count, positives) from two globalCumSums over the value table,
    // entropy gain as a fixed double chain over exact integers,
    // nano-quantized min_by argmax — raw rows are never sorted. ----
    "q220_best_split" -> ((s, dir) =>
      graft.api.Graft.bestSplit(
        t(s, dir, "events").withColumn("is_purchase",
          col("event_type") === "purchase"),
        "value", "is_purchase")),

    // ---- q215: segment-sweep A/B with Benjamini–Hochberg FDR control
    // — the multiple-comparisons discipline a 120-cell experiment
    // sweep needs (per-test α at m=120 would expect 6 false
    // positives). Per (event_type, hour-of-day) cell: Welch z of
    // weekend vs weekday micro-quantized values from ONE keyed
    // aggregate over the raw rows; p from the Abramowitz–Stegun
    // 7.1.26 erfc polynomial (a fixed double chain, micro-quantized
    // so the p ORDER is engine-exact); then BH step-up over the
    // 120-row test table. Hour/weekend come from epoch_us integer
    // arithmetic — no timezone or dow-convention surface. ----
    "q215_bh_fdr" -> ((s, dir) => {
      val D = DecimalType(38, 0)
      val e = t(s, dir, "events").filter(col("value").isNotNull)
        .select(col("event_type"),
          expr("(unix_micros(ts) div 3600000000) % 24").as("hr"),
          // 1970-01-01 is a Thursday: dow0=Sunday ⇒ (day+4) mod 7
          expr("((unix_micros(ts) div 86400000000) + 4) % 7 IN (0, 6)")
            .as("we"),
          // centi-quantization is EXACT by generation (2-decimal values,
          // the q174 policy); Σvq² stays under 2^53 to ~sf10, so the
          // decimal→double casts below are exact, not just identical
          round(col("value") * lit(100.0)).cast(LongType).as("vq"))
      val cells = e.groupBy(col("event_type"), col("hr"))
        .agg(
          sum(when(col("we"), lit(1L)).otherwise(lit(0L))).as("n_we"),
          sum(when(col("we"), col("vq")).otherwise(lit(0L)).cast(D)).as("s_we"),
          sum(when(col("we"), col("vq").cast(D) * col("vq").cast(D))
            .otherwise(lit(0L).cast(D))).as("q_we"),
          sum(when(!col("we"), lit(1L)).otherwise(lit(0L))).as("n_wd"),
          sum(when(!col("we"), col("vq")).otherwise(lit(0L)).cast(D)).as("s_wd"),
          sum(when(!col("we"), col("vq").cast(D) * col("vq").cast(D))
            .otherwise(lit(0L).cast(D))).as("q_wd"))
        .filter(col("n_we") >= 2L && col("n_wd") >= 2L)
      def meanVar(p: String): (org.apache.spark.sql.Column,
          org.apache.spark.sql.Column) = {
        val nd = col(s"n_$p").cast(DoubleType)
        val sd = col(s"s_$p").cast(DoubleType)
        val qd = col(s"q_$p").cast(DoubleType)
        (sd / nd, (qd - sd * sd / nd) / (nd - lit(1.0)))
      }
      val (mWe, vWe) = meanVar("we")
      val (mWd, vWd) = meanVar("wd")
      val se2 = vWe / col("n_we").cast(DoubleType) +
        vWd / col("n_wd").cast(DoubleType)
      val zc = (mWe - mWd) / sqrt(se2)
      // two-sided p = erfc(|z|/√2) via Abramowitz–Stegun 7.1.26 (Horner)
      val x = abs(col("z")) / sqrt(lit(2.0))
      val tt = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
      val poly = tt * (lit(0.254829592) + tt * (lit(-0.284496736) +
        tt * (lit(1.421413741) + tt * (lit(-1.453152027) +
          tt * lit(1.061405429)))))
      val withP = cells.filter(se2 > lit(0.0))
        .withColumn("z", zc)
        .withColumn("p_micro",
          greatest(lit(0L), least(lit(1000000L),
            round(poly * exp(-x * x) * lit(1000000.0)).cast(LongType))))
      graft.api.Graft.benjaminiHochberg(withP, "p_micro",
          Seq("event_type", "hr"), alpha = 0.05)
        .select(col("event_type"), col("hr"), col("n_we"), col("n_wd"),
          round(col("z"), 4).as("z_r"), col("p_micro"), col("p_rank"),
          col("q_value"), col("discovered"))
        .orderBy(col("event_type"), col("hr"))
    }),

    // ---- q173: link prediction on the basket co-purchase graph (the
    // q147 edge set): common neighbors + Adamic–Adar + neighborhood
    // Jaccard for NON-edges, top-20 by the nano-quantized Adamic–Adar
    // (deterministic order). Hub parts above degree 100 are excluded
    // from the bridge role — the stop-shingle discipline applied to
    // 2-path fan-out. ----
    "q173_link_prediction" -> ((s, dir) =>
      // consumes the shared CANONICAL edge + degree artifacts (see
      // [[basketCanon]]/[[basketDegrees]]) — built once per session,
      // read co-located here; the per-query distinct + degree
      // aggregate are skipped (r13)
      graft.api.Graft.linkPrediction(basketCanon(s, dir), "src", "dst",
        topK = 20, maxDegree = 100, canonicalEdges = true,
        degrees = Some(basketDegrees(s, dir)))),

    // ---- q345: sampled harmonic closeness centrality — WHICH parts
    // sit nearest the middle of the co-purchase graph (the question
    // PageRank q111 answers by in-link mass and q147's k-core by
    // density; closeness answers by DISTANCE). BFS from ~4 modulus-
    // derived seeds (m = n div 4 — seed count is scale-free), 3 hops,
    // per-node Σ 1/d micro-quantized by integer division. The oracle
    // replays the relaxation as a recursive CTE over the same edges. ----
    "q345_closeness" -> ((s, dir) =>
      graft.api.Graft.harmonicCloseness(basketCanon(s, dir), "src", "dst",
        sampleTarget = 4, maxHops = 3, topK = 20, canonicalEdges = true,
        degrees = Some(basketDegrees(s, dir)))),

    // ---- q352: hub-removal robustness (percolation probe) — how much
    // of the co-purchase graph's 2-hop connectivity flows THROUGH the
    // deg ≥ 100 hubs that q173 excludes from bridging: reach from the
    // same modulus-derived seed device before vs after hub deletion.
    // Two bounded multi-seed relaxations over one degree table — no
    // component closure, no unbounded iteration. ----
    "q352_hub_robustness" -> ((s, dir) =>
      graft.api.Graft.hubRemovalRobustness(basketCanon(s, dir), "src", "dst",
        hubDegree = 100, sampleTarget = 4, maxHops = 2,
        canonicalEdges = true, degrees = Some(basketDegrees(s, dir)))),

    // ---- q172: exact equi-depth histogram of l_extendedprice — the
    // quantile-boundary companion to q110's equi-width bins (what a
    // range partitioner / zone-map layout planner consumes): bucket =
    // (rank−1)·k div N over globalRank, pure integer arithmetic,
    // output doubles are input values only. ----
    "q172_equidepth_histogram" -> ((s, dir) =>
      graft.api.Graft.equiDepthHistogram(
          t(s, dir, "lineitem"), "l_extendedprice", buckets = 10)
        .orderBy(col("bucket"))),

    // ---- q129: bounded-hop BFS shortest paths over the event-type
    // transition graph (q111's edges) — per hop ONE frontier join + min
    // aggregate with checkpoint-cut lineage; distances are exact
    // integers so there is no float policy at all. The oracle replays
    // the identical relaxation as a recursive CTE. ----
    "q129_shortest_paths" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")), col("event_id"))
      val edges = t(s, dir, "events")
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .select(col("event_type").as("src"), col("next_type").as("dst"))
      graft.api.Graft.shortestPaths(edges, "src", "dst",
          source = "click", maxHops = 4)
        .orderBy(col("dist"), col("node"))
    }),

    // ---- q190: WEIGHTED shortest paths (Bellman–Ford rounds) — q129's
    // sibling on a cost graph: transition cost 1e6 div frequency (the
    // "least-frequented route" metric), exact integer sums, min-cost to
    // every node within 4 hops. The oracle enumerates all ≤4-edge walks
    // recursively and takes the min — the plan must reproduce it from
    // per-round relax+min aggregates. ----
    "q190_weighted_paths" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")), col("event_id"))
      val edges = t(s, dir, "events")
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("src"), col("next_type").as("dst"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("w", expr("1000000 div cnt"))
      graft.api.Graft.weightedShortestPaths(edges, "src", "dst", "w",
          source = "click", maxHops = 4)
        .orderBy(col("dist"), col("node"))
    }),

    // ---- q197: hierarchy flattening by pointer jumping — a synthetic
    // 3-root ternary forest over doc ids (parent = (id−3) div 3, ids
    // 0–2 roots) resolved to (root, depth) in ⌈log₂ depth⌉ doubling
    // rounds, not depth walk rounds. The oracle walks parents one at a
    // time recursively — the plan must reach the same fixpoint
    // logarithmically. ----
    "q197_hierarchy_flatten" -> ((s, dir) => {
      val nodes = t(s, dir, "documents").select(col("doc_id").as("node"),
        when(col("doc_id") < 3, lit(null).cast(LongType))
          .otherwise(expr("(doc_id - 3) div 3")).as("parent"))
      graft.api.Graft.flattenHierarchy(nodes, "node", "parent")
        .orderBy(col("node"))
    }),

    // ---- q198: keyed interval-overlap join — view-event intervals vs
    // click-event intervals per user (the q80 duration synthesis),
    // paired through 10-minute time buckets instead of the per-key
    // nested-loop theta join the overlap predicate would otherwise
    // plan. The oracle IS that theta join — the bucket device must
    // reproduce it exactly (spatialJoinTiled's grid pattern on the
    // time axis). ----
    "q198_interval_overlap_join" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"), col("event_id"),
        col("event_type"), unix_micros(col("ts")).as("s_us"),
        (unix_micros(col("ts")) +
          floor(abs(col("value")) * 60000000.0).cast(LongType)).as("e_us"))
      val views = e.filter(col("event_type") === "view")
      val clicks = e.filter(col("event_type") === "click")
      graft.api.Graft.intervalOverlapJoin(views, clicks, "user_id",
          "s_us", "e_us", "event_id", bucketUs = 600000000L)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // ---- q130: small-file compaction planner — first-fit sequential
    // bin packing of a file manifest into ~target-byte groups via ONE
    // prefix-sum window over manifest-sized input (1 row per FILE: the
    // planner never touches the data files, exactly like q116's
    // range-layout manifest). Exact integer arithmetic end to end. ----
    "q130_compaction_plan" -> ((s, dir) => {
      graft.api.Graft.compactionPlan(
        t(s, dir, "documents"), "doc_id", "n_chars", targetBytes = 25000L)
    }),

    // ---- q131: exact triangle count on the user co-activity graph
    // (consecutive users per event type) by DEGREE ORIENTATION — every
    // edge points low-(deg,id) → high, so hub wedges cannot explode
    // (out-degree O(√m) bound) and each triangle is counted at exactly
    // one apex. The oracle counts the same undirected edge set with the
    // a<b<c three-way join — structurally different plan, same count,
    // which is precisely what a cross-engine gate should pin. ----
    "q131_triangle_count" -> ((s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(unix_micros(col("ts")), col("event_id"))
      val seq = t(s, dir, "events")
        .withColumn("nxt", lead(col("user_id"), 1).over(w))
        .filter(col("nxt").isNotNull)
      graft.api.Graft.triangleCount(seq, "user_id", "nxt")
    }),

    // ---- q136: population stability index (PSI) per source — the
    // standard ML-monitoring drift score next to q122's KS: 10 fixed
    // equal-width bins over the global doc-length range (exact integer
    // bucket arithmetic via div), Laplace-0.5 smoothing so empty bins
    // contribute finitely, per-bin (p−q)·ln(p/q) terms nano-quantized
    // before the order-free per-source sum. Everything is keyed aggs
    // over counts — bin-table-sized work at any corpus size. ----
    "q136_psi_drift" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("source"), col("n_chars").cast(LongType).as("x"))
      val g = d.agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      val b = d.crossJoin(broadcast(g))
        .select(col("source"), expr("((x - mn) * 10) div (mx - mn + 1)").as("bin"))
      val allBins = b.groupBy(col("bin")).agg(count(lit(1)).as("ca"))
      val na = d.agg(count(lit(1)).as("na"))
      val perSrc = b.groupBy(col("source"), col("bin")).agg(count(lit(1)).as("cs"))
      val ns = d.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      val grid = ns
        .crossJoin(broadcast(
          s.range(0, 10).select(col("id").as("bin"))))
        .join(perSrc, Seq("source", "bin"), "left").na.fill(0L, Seq("cs"))
        .join(broadcast(allBins), Seq("bin"), "left").na.fill(0L, Seq("ca"))
        .crossJoin(broadcast(na))
      val p = (col("cs").cast(DoubleType) + lit(0.5)) /
        (col("n_docs").cast(DoubleType) + lit(5.0))
      val q = (col("ca").cast(DoubleType) + lit(0.5)) /
        (col("na").cast(DoubleType) + lit(5.0))
      grid
        .select(col("source"), col("n_docs"),
          round((p - q) * log(p / q) * lit(1.0e9)).cast(LongType).as("__t"))
        .groupBy(col("source"), col("n_docs"))
        .agg((sum(col("__t")).cast(DoubleType) / lit(1.0e9)).as("psi"))
        .orderBy(col("source"))
    }),

    // ---- q111: weighted PageRank over the event-type transition graph
    // (q86's edges) — iterative distributed graph computation by power
    // iteration: per round ONE keyed join + one aggregation with
    // checkpoint-truncated lineage (the connectedComponents discipline);
    // dangling mass is a 1-row broadcast. In-contribution sums are
    // pico-quantized longs so shuffle order cannot perturb them (q95
    // policy); the oracle unrolls the same 10 rounds as chained CTEs. ----
    "q111_pagerank" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")), col("event_id"))
      val edges = t(s, dir, "events")
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("src"), col("next_type").as("dst"))
        .agg(count(lit(1)).as("w"))
      graft.api.Graft.pageRank(edges, "src", "dst", "w")
        .select(col("node"), round(col("rank"), 12).as("rank"))
        .orderBy(col("node"))
    }),

    // ---- q120: incremental aggregate maintenance — merge a
    // pre-aggregated summary with a delta batch's summary through the
    // additive state algebra (n/sum merge in one full-outer join): the
    // materialized-view refresh shape — the delta recomputes ONLY its
    // slice, never the history. Counts and exact cents keep every merge
    // integer. ----
    "q120_incremental_agg" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"),
        col("o_orderdate").cast(TimestampType).as("ts"),
        round(col("o_totalprice") * lit(100.0)).cast(LongType).as("yc"))
      val cutoff = lit("1997-01-01 00:00:00").cast(TimestampType)
      def summarize(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n"), sum(col("yc")).as("sum_cents"))
      val base = summarize(o.filter(col("ts") < cutoff))
      val delta = summarize(o.filter(col("ts") >= cutoff))
      base.as("a").join(delta.as("b"), Seq("o_custkey"), "full_outer")
        .select(col("o_custkey"),
          (coalesce(col("a.n"), lit(0L)) + coalesce(col("b.n"), lit(0L))).as("n"),
          (coalesce(col("a.sum_cents"), lit(0L)) +
            coalesce(col("b.sum_cents"), lit(0L))).as("sum_cents"))
        .orderBy(col("o_custkey"))
    }),

    // ---- q121: Gini concentration of document length per source — the
    // corpus-balance audit (is one source dominated by a few huge
    // docs?). Gini = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx) over per-source
    // length ranks: rank sums are exact integers (one keyed window +
    // one agg), ONE double division at the end. ----
    "q121_gini" -> ((s, dir) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_chars"), col("doc_id"))
      t(s, dir, "documents")
        .select(col("source"), col("n_chars"), col("doc_id"))
        .withColumn("i", row_number().over(w).cast(LongType))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sx"),
          sum(col("i") * col("n_chars")).as("six"))
        .select(col("source"), col("n"),
          round((lit(2L) * col("six") - (col("n") + lit(1L)) * col("sx"))
            .cast(DoubleType) / (col("n") * col("sx")).cast(DoubleType), 6)
            .as("gini"))
        .orderBy(col("source"))
    }),

    // ---- q122: two-sample Kolmogorov–Smirnov distance between the
    // doc-length distributions of every source and the corpus-wide
    // reference — drift/shift detection between corpus slices. The KS
    // sup|F1−F2| is EXACT: at each observed length, |i·m − j·n| over
    // integer CDF numerators, maxed as integers and divided ONCE. ----
    "q122_ks_distance" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("source"), col("n_chars"))
      val nPer = d.groupBy(col("source")).agg(count(lit(1)).as("n1"))
      val nAll = d.agg(count(lit(1)).as("n2"))
      // both step CDFs are evaluated on the FULL corpus length grid
      // (the sup is attained at a jump of either CDF; a source-only
      // grid misses corpus-side jumps). Grid × #sources rows — the
      // honest audit cost; at lake scale histogram-bucket the values
      // first and run the same shape on bucket edges.
      val grid = d.select(col("n_chars")).distinct()
      val perLen = d.groupBy(col("source"), col("n_chars"))
        .agg(count(lit(1)).as("c1"))
      val allLen = d.groupBy(col("n_chars")).agg(count(lit(1)).as("c2"))
      val wA = Window.orderBy(col("n_chars"))
      val aCum = allLen.withColumn("j", sum(col("c2")).over(wA))
        .select(col("n_chars"), col("j"))
      val wS = Window.partitionBy(col("source")).orderBy(col("n_chars"))
      val sCum = grid.crossJoin(broadcast(nPer))
        .join(perLen, Seq("source", "n_chars"), "left")
        .withColumn("i", sum(coalesce(col("c1"), lit(0L))).over(wS))
      sCum.join(aCum, Seq("n_chars"))
        .crossJoin(broadcast(nAll))
        .groupBy(col("source"), col("n1"), col("n2"))
        .agg(max(abs(col("i") * col("n2") - col("j") * col("n1"))).as("__mx"))
        .select(col("source"),
          round(col("__mx").cast(DoubleType) /
            (col("n1") * col("n2")).cast(DoubleType), 6).as("ks"))
        .orderBy(col("source"))
    }),

    // ---- q288: exact Wasserstein-1 (earth-mover) distance between the
    // click and purchase value distributions — the INTEGRAL drift
    // metric next to q122's sup-norm KS: W1 = ∫|F1−F2| dx weights HOW
    // FAR mass moved, not just the worst single gap, so it ranks "same
    // shape, shifted tail" drifts KS under-reports. Exact on the
    // cent-quantized empiricals: per-cent-value counts (one keyed agg),
    // CDFs via globalCumSum's partition-offset device and the
    // next-value gap via a globalRank self-join — NEVER a one-partition
    // window over the value grid (q122 documents that caveat; this op
    // retires it). The integrand |cumA·nB − cumB·nA|·Δv is an exact
    // Decimal(38) integer; ONE double division chain at the end. ----
    "q288_wasserstein_shift" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_type").as("side"),
          round(col("value") * lit(100.0)).cast(LongType).as("vq"))
      val vt = ev.groupBy(col("vq")).agg(
        sum((col("side") === "click").cast(LongType)).as("ca"),
        sum((col("side") === "purchase").cast(LongType)).as("cb"))
      val nn = ev.agg(
        sum((col("side") === "click").cast(LongType)).as("na"),
        sum((col("side") === "purchase").cast(LongType)).as("nb"))
      val nv = vt.agg(count(lit(1)).as("n_values"))
      val cum = graft.api.Graft.globalCumSum(
        graft.api.Graft.globalCumSum(vt, Seq("vq"), "ca", "cuma"),
        Seq("vq"), "cb", "cumb")
      val ranked = graft.api.Graft.globalRank(cum, Seq("vq"), "rnk")
      val nxt = ranked.select((col("rnk") - 1).as("rnk"),
        col("vq").as("nvq"))
      val terms = ranked.join(nxt, Seq("rnk"))
        .crossJoin(broadcast(nn))
        .select((abs(col("cuma") * col("nb") - col("cumb") * col("na"))
          .cast(DecimalType(38, 0)) *
          (col("nvq") - col("vq")).cast(DecimalType(38, 0))).as("term"))
      terms.agg(sum(col("term")).as("__s"))
        .crossJoin(broadcast(nn)).crossJoin(broadcast(nv))
        .select(col("na"), col("nb"), col("n_values"),
          (col("__s").cast(DoubleType) / col("na").cast(DoubleType) /
            col("nb").cast(DoubleType) / lit(100.0)).as("w1"))
    }),

    // ---- q301: entropy-regularized optimal transport (Sinkhorn, 5
    // unrolled rounds) between the click and purchase value
    // histograms — q288's W1 gives ONE number; the OT plan says WHERE
    // the mass moved (which value deciles inflated/deflated), the
    // distribution-repair blueprint behind dataset-balancing and
    // drift forensics. The 100 TB shape is the point: the corpus-scale
    // work is ONE bucketing aggregate per side; Sinkhorn iterates on
    // the 10×10 support (broadcast everywhere, corpus-size-
    // independent). Matrix-scaling iterates are micro-quantized longs
    // every round (the q253 GD-loop device) so the order-free sums are
    // exact; kernel cells exp(−|i−j|) are micro-quantized constants;
    // each update is ONE fixed double chain. Output: the 10×10 plan
    // with the transported mass, the ⟨P, C⟩ cost, and the row-marginal
    // feasibility gap (a 5-round approximation, reported as such). ----
    "q301_sinkhorn_ot" -> ((s, dir) => {
      import s.implicits._
      val dec = DecimalType(38, 0)
      val ev = t(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_type").as("side"),
          round(col("value") * lit(100.0)).cast(LongType).as("vc"))
      val mx = ev.agg(max(col("vc")).as("mxc"))
      val bk = ev.crossJoin(broadcast(mx))
        .select(col("side"),
          least(lit(9L), expr("(vc * 10) div (mxc + 1)")).as("b"))
      val hist = bk.groupBy(col("b")).agg(
        sum((col("side") === "click").cast(LongType)).as("ca"),
        sum((col("side") === "purchase").cast(LongType)).as("cb"))
      // dense 10-bucket support (empty buckets keep zero mass)
      val sup = Seq.tabulate(10)(_.toLong).toDF("b")
      val h = sup.join(hist, Seq("b"), "left")
        .select(col("b"), coalesce(col("ca"), lit(0L)).as("ca"),
          coalesce(col("cb"), lit(0L)).as("cb"))
        .localCheckpoint()
      val nn = h.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
      val a = h.crossJoin(broadcast(nn))
        .select(col("b").as("i"), col("ca"), col("na"))
      val bMass = h.crossJoin(broadcast(nn))
        .select(col("b").as("j"), col("cb"), col("nb"))
      val grid = Seq.tabulate(10, 10)((i, j) => (i.toLong, j.toLong))
        .flatten.toDF("i", "j")
        .withColumn("c", abs(col("i") - col("j")))
        .withColumn("kq",
          round(exp(-col("c").cast(DoubleType)) * lit(1.0e6))
            .cast(LongType))
        .localCheckpoint()
      // Sinkhorn rounds: uq = round(alpha·1e18 / Σj kq·vq);
      //                  vq = round(beta ·1e18 / Σi kq·uq)
      var v = sup.select(col("b").as("j"), lit(1000000L).as("vq"))
      var u = sup.select(col("b").as("i"), lit(1000000L).as("uq"))
      var r = 0
      while (r < 5) {
        u = grid.join(broadcast(v), Seq("j"))
          .groupBy(col("i")).agg(sum(col("kq") * col("vq")).as("su"))
          .join(broadcast(a), Seq("i"))
          .select(col("i"), round(col("ca").cast(DoubleType) /
            col("na").cast(DoubleType) * lit(1.0e18) /
            col("su").cast(DoubleType)).cast(LongType).as("uq"))
          .localCheckpoint()
        v = grid.join(broadcast(u), Seq("i"))
          .groupBy(col("j")).agg(sum(col("kq") * col("uq")).as("sv"))
          .join(broadcast(bMass), Seq("j"))
          .select(col("j"), round(col("cb").cast(DoubleType) /
            col("nb").cast(DoubleType) * lit(1.0e18) /
            col("sv").cast(DoubleType)).cast(LongType).as("vq"))
          .localCheckpoint()
        r += 1
      }
      val plan = grid.join(broadcast(u), Seq("i"))
        .join(broadcast(v), Seq("j"))
        .select(col("i"), col("j"), col("c"),
          (col("uq").cast(dec) * col("kq").cast(dec) * col("vq").cast(dec))
            .as("pq"))
      val tot = plan.agg(
        (sum(col("pq") * col("c").cast(dec)).cast(DoubleType) /
          lit(1.0e18)).as("ot_cost"),
        (sum(col("pq")).cast(DoubleType) / lit(1.0e18)).as("total_mass"))
      plan.crossJoin(broadcast(tot))
        .select(col("i"), col("j"), col("c"),
          (col("pq").cast(DoubleType) / lit(1.0e18)).as("p"),
          col("ot_cost"), col("total_mass"))
        .filter(col("p") > 0.0)
        .orderBy(col("i"), col("j"))
    }),

    // ---- q117: per-customer OLS trend slope of order value over time —
    // the trend-detection aggregate (spend drifting up or down?). All
    // covariance sums are INTEGER (epoch days × exact cents), so partial
    // aggregation order cannot perturb them; slope is one double
    // division of two exact longs (then /100 back to currency). ----
    "q117_trend_slope" -> ((s, dir) => {
      // o_orderdate is TIMESTAMP_NTZ; session tz is pinned UTC, so the
      // TIMESTAMP cast is the identity instant DuckDB's epoch_us sees
      val o = t(s, dir, "orders").select(col("o_custkey"),
        graft.api.Graft.epochDay(col("o_orderdate").cast(TimestampType)).as("x"),
        round(col("o_totalprice") * lit(100.0)).cast(LongType).as("yc"))
      o.groupBy(col("o_custkey")).agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"),
          sum(col("yc")).as("sy"), sum(col("x") * col("yc")).as("sxy"))
        .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
        .filter(col("n") >= 2 && col("den") > 0)
        .select(col("o_custkey"), col("n"),
          round((col("n") * col("sxy") - col("sx") * col("sy"))
            .cast(DoubleType) / col("den").cast(DoubleType) / lit(100.0), 6)
            .as("slope_per_day"))
        .orderBy(col("o_custkey"))
    }),

    // ---- q118: robust outliers by median/MAD z-score — the
    // heavy-tail-safe twin of q85 (one wild value cannot drag the
    // baseline the way it drags a mean/σ): per-type exact medians via
    // two broadcast group aggregates, flag |value−med| > 3.5·1.4826·MAD.
    // Identical double chains both engines; medians are R-7 midpoints. ----
    "q118_mad_outliers" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val med = e.groupBy(col("event_type"))
        .agg(percentile(col("value"), lit(0.5)).as("med"))
      val dev = e.join(broadcast(med), "event_type")
        .withColumn("adev", abs(col("value") - col("med")))
      val mad = dev.groupBy(col("event_type"))
        .agg(percentile(col("adev"), lit(0.5)).as("mad"))
      dev.join(broadcast(mad), "event_type")
        .filter(col("adev") > lit(3.5) * lit(1.4826) * col("mad"))
        .select(col("event_type"), col("event_id"), col("value"),
          round((col("value") - col("med")) / (lit(1.4826) * col("mad")), 6)
            .as("robust_z"))
        .orderBy(col("event_type"), col("event_id"))
    }),

    // ---- q119: top event paths — per-user ordered event-type TRIGRAMS
    // counted globally (q86's Markov bigrams one order deeper): the
    // session-flow mining query. One user-keyed window, one keyed agg,
    // top-20 as TakeOrdered with a full deterministic tie-break. ----
    "q119_event_paths" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")), col("event_id"))
      t(s, dir, "events")
        .withColumn("e2", lead(col("event_type"), 1).over(w))
        .withColumn("e3", lead(col("event_type"), 2).over(w))
        .filter(col("e3").isNotNull)
        .groupBy(col("event_type").as("s1"), col("e2"), col("e3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("s1"), col("e2"), col("e3"))
        .limit(20)
    }),

    // ---- q116: range-partitioned layout manifest — exact quantile
    // boundaries (one 1-row broadcast agg), bucket assignment as a pure
    // fold projection, k-row manifest: the deterministic twin of
    // repartitionByRange's sampled planning for sorted lake layouts.
    // Power-of-two buckets keep R-7 interpolation exact both engines. ----
    "q116_range_layout" -> ((s, dir) => {
      graft.api.Graft.rangeLayout(t(s, dir, "lineitem"), "l_partkey", 8)
        .orderBy(col("bucket"))
    }),

    // ---- q112: MERGE INTO semantics (lakehouse CDC upsert): one
    // full-outer join applies a deterministic changeset — updates
    // (key%10<2: acctbal+100, segment overwritten), deletes (key%10=2),
    // inserts (key%10=3 re-keyed +1M) — D drops, I/U replace the row
    // wholesale. One shuffle on the key, no windows, no driver traffic. ----
    "q112_merge_upsert" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val changes =
        cust.filter(col("c_custkey") % 10 < 2)
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
            (col("c_acctbal") + lit(100.0)).as("c_acctbal"),
            lit("UPDATED").as("c_mktsegment"), lit("U").as("op"))
        .unionAll(cust.filter(col("c_custkey") % 10 === 2)
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
            col("c_acctbal"), col("c_mktsegment"), lit("D").as("op")))
        .unionAll(cust.filter(col("c_custkey") % 10 === 3)
          .select((col("c_custkey") + lit(1000000L)).as("c_custkey"),
            concat(col("c_name"), lit("_new")).as("c_name"), col("c_nationkey"),
            col("c_acctbal"), col("c_mktsegment"), lit("I").as("op")))
      graft.api.Graft.mergeChanges(cust, changes, "c_custkey")
        .orderBy(col("c_custkey"))
    }),

    // ---- q79: time-bounded rolling window — 7-day revenue per customer
    // (RANGE frame over event time, the "rolling KPI" every dashboard
    // needs). One shuffle on the customer; the frame is a sliding range
    // over a sorted run, never a per-row re-scan. Decimal sum → frame
    // evaluation order can't change the double. ----
    "q79_rolling_window" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      // o_orderdate is parquet TIMESTAMP_NTZ; the session runs UTC so the
      // cast is identity and unix_micros gets its required TIMESTAMP.
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(unix_micros(col("o_orderdate").cast(TimestampType)))
        .rangeBetween(-7L * 86400L * 1000000L, 0L)
      o.select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"))
        .withColumn("roll_rev",
          sum(dec(col("o_totalprice"))).over(w).cast(DoubleType))
        .withColumn("n_7d", count(lit(1)).over(w))
        .drop("o_totalprice")
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // ---- q80: merge overlapping per-user activity intervals and report
    // coverage — the gaps-and-islands pattern (ad sessions, machine
    // uptime, GPS track segments). Interval = [ts, ts + value minutes),
    // all integer-µs math after one floor(). ----
    "q80_interval_merge" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("value"),
          unix_micros(col("ts")).as("s_us"))
        .withColumn("e_us",
          col("s_us") + floor(abs(col("value")) * 60000000.0).cast(LongType))
        .drop("value")
      val islands = graft.api.Graft.mergeIntervals(e, "user_id", "s_us", "e_us")
      islands.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_islands"),
          sum(col("island_end") - col("island_start")).as("covered_us"),
          sum(col("n_rows")).as("n_events"))
        .orderBy(col("user_id"))
    }),

    // ---- q81: Z-order (Morton) clustering key — the write-layout
    // operator: range-partitioning by the interleaved code co-locates rows
    // close in BOTH dimensions so parquet min/max stats prune either
    // filter. The oracle recomputes the exact interleave; zorderBy's
    // repartitionByRange is exercised in the plan (one range exchange, no
    // extra shuffle). ----
    "q81_zorder" -> ((s, dir) => {
      val p = t(s, dir, "part")
        .withColumn("x", col("p_size").cast(LongType).bitwiseAND(lit(0xFFFFL)))
        .withColumn("y", col("p_partkey").bitwiseAND(lit(0xFFFFL)))
      graft.api.Graft.zorderBy(p, "x", "y")
        .select(col("p_partkey"), col("x"), col("y"),
          graft.api.Graft.mortonZ(col("x"), col("y")).as("zval"))
        .orderBy(col("p_partkey"))
    }),

    // ---- q219: Hilbert vs Z-order locality audit — the measurement
    // that justifies picking a clustering curve BEFORE a 100 TB
    // rewrite: group each curve's rank order into 16-row "files" and
    // compare the per-file bounding-box area (exactly what parquet
    // min/max pruning sees). Hilbert never jumps, so its buckets stay
    // tighter; both indexes are codegen'd integer projections
    // (hilbert_index native expression / mortonZ bit spread), ranks
    // come from globalRank (partition-offset pattern), and every mass
    // is an exact integer until one division per curve. The oracle
    // replays the full 8-level rotate-flip walk as a CTE chain. ----
    "q219_hilbert_locality" -> ((s, dir) => {
      val pts = t(s, dir, "part").select(col("p_partkey"),
          (col("p_size").cast(LongType) % 256L).as("x"),
          (round(col("p_retailprice") * 100.0).cast(LongType) % 256L)
            .as("y"))
        .localCheckpoint()
      def leg(name: String, key: org.apache.spark.sql.Column) = {
        val ranked = graft.api.Graft.globalRank(
          pts.withColumn("__k", key), Seq("__k", "p_partkey"))
        ranked.withColumn("__b", expr("(grank - 1) div 16"))
          .groupBy(col("__b"))
          .agg(count(lit(1)).as("__n"),
            ((max(col("x")) - min(col("x")) + lit(1L)) *
              (max(col("y")) - min(col("y")) + lit(1L))).as("__area"))
          .agg(count(lit(1)).as("n_buckets"), sum(col("__n")).as("n_points"),
            sum(col("__area")).as("sum_bbox_area"))
          .select(lit(name).as("curve"), col("n_buckets"), col("n_points"),
            col("sum_bbox_area"),
            (col("sum_bbox_area").cast(DoubleType) /
              col("n_buckets").cast(DoubleType)).as("avg_bbox_area"))
      }
      leg("hilbert", graft.api.Graft.hilbertIndex(col("x"), col("y"), 8))
        .unionAll(leg("morton", graft.api.Graft.mortonZ(col("x"), col("y"))))
        .orderBy(col("curve"))
    }),

    // ---- q82: one-pass data profile of the orders table — per-column
    // null/distinct/min/max, the ingest pre-flight. Exact distincts here
    // (oracle-checkable); `approxDistinct = true` is the single-agg 100 TB
    // mode. Doubles are profiled through DECIMAL(18,2) so min/max strings
    // render identically on both engines. ----
    "q82_profile" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .withColumn("o_totalprice", dec(col("o_totalprice")))
      graft.api.Graft.profile(o,
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderpriority"))
        .orderBy(col("col_name"))
    }),

    // ---- q110: equi-width histograms — q82's profiler gains the
    // distribution view: 10 bins over three lineitem measures, two
    // aggregation jobs total (1-row min/max broadcast + one stacked
    // bin-count), bin math as identical double trees in both engines. ----
    "q110_histograms" -> ((s, dir) => {
      graft.api.Graft.histogram(t(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount"), bins = 10)
        .orderBy(col("col_name"), col("bin"))
    }),

    // ---- q83: ratio-to-report — nation revenue share within region and
    // of the total. Shares divide decimal-exact window sums (decimal until
    // the final double division, so window evaluation order is
    // irrelevant); dims broadcast onto the fact. ----
    "q83_pct_of_total" -> ((s, dir) => {
      val rev = t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(dec(col("o_totalprice"))).as("rev_dec"),
          count(lit(1)).as("n_orders"))
      rev
        .withColumn("region_rev",
          sum(col("rev_dec")).over(Window.partitionBy(col("r_name"))))
        .withColumn("total_rev", sum(col("rev_dec")).over(Window.partitionBy()))
        .select(col("r_name"), col("n_name"),
          col("rev_dec").cast(DoubleType).as("rev"), col("n_orders"),
          round(col("rev_dec").cast(DoubleType) /
            col("region_rev").cast(DoubleType), 6).as("share_region"),
          round(col("rev_dec").cast(DoubleType) /
            col("total_rev").cast(DoubleType), 6).as("share_total"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    // ---- q84: deterministic mode per group — each user's most frequent
    // event type, ties to the lexicographically smallest (engine mode()
    // tie-breaks differ; a windowed rank makes the answer well-defined).
    // Two partial+final aggs + one window, all on the user key. ----
    "q84_mode_per_group" -> ((s, dir) => {
      val counts = t(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("n").desc, col("event_type"))
      counts.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1).drop("rk")
        .orderBy(col("user_id"))
    }),

    // ---- q85: z-score outliers per event type. Moments from decimal
    // sums (n, Σx, Σx²) so partial-agg order can't change them; variance
    // and z are then IDENTICAL double expression trees on both engines.
    // Flags |z| > 2 — pure projection + one agg, linear at any scale. ----
    "q85_zscore_outliers" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val stats = e.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("sx"),
        sum(col("value").cast(DecimalType(18, 6)) *
          col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("sxx"))
      val withZ = e.join(broadcast(stats), "event_type")
        .withColumn("mean", col("sx") / col("n"))
        .withColumn("variance",
          (col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1))
        .withColumn("z", (col("value") - col("mean")) / sqrt(col("variance")))
      withZ.filter(abs(col("z")) > 2.0)
        .select(col("event_type"), col("event_id"), col("value"),
          round(col("z"), 6).as("z"))
        .orderBy(col("event_type"), col("event_id"))
    }),

    // ---- q86: first-order Markov transitions — per-user consecutive
    // event-type bigrams (ordered by µs time, id tie-break), counted
    // globally: the session-flow / next-action model input. One window
    // shuffle on the user + one partial+final count agg. ----
    "q86_transitions" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")), col("event_id"))
      t(s, dir, "events")
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("src"), col("next_type").as("dst"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("src"), col("dst"))
    }),

    // ---- q87: weight-proportional deterministic sampling — keep docs at
    // a rate ∝ length (permille = min(990, n_chars/10)), decided by the
    // cross-engine md5 bucket: stable under repartition/retry/append, no
    // RNG state, pure projection. ----
    "q87_weighted_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val permille = least(lit(990L), expr("n_chars div 10"))
      graft.api.Graft.sampleByWeight(docs, col("doc_id").cast(StringType), permille)
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // ---- q88: as-of join with tolerance — each click matched to the
    // user's most recent purchase strictly before it and at most 1 hour
    // old (the "recent-quote" join). Union+window: ONE shuffle on the
    // user; the oracle's per-row LATERAL subquery is the semantics, not
    // the plan. ----
    "q88_asof_tolerance" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("us"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"), col("us"))
      graft.api.Graft.asofJoinTolerance(clicks, purchases, "user_id",
          "us", "us", "p_id", "p_id", 3600L * 1000000L)
        .select(col("event_id"), col("user_id"), col("us"),
          col("asof_p_id").as("p_id"), col("asof_ts").as("p_us"))
        .orderBy(col("event_id"))
    }),

    // ---- q89: REAL audio decode — deterministic WAV payloads are
    // synthesized per doc (closed-form hash samples, no RNG), then the
    // metadata comes from PARSING THE BYTES: RIFF chunk walk, fmt/data
    // extraction, little-endian PCM16 sample decode, peak/energy over
    // every sample. The oracle regenerates the same samples in SQL, so
    // the container writer AND the decoder are hash-checked value-for-
    // value — the audio leg of the multimodal story (images: real pixel
    // decode; video: documented fake). Partition-local, no shuffle. ----
    "q89_audio_meta" -> ((s, dir) => {
      val audio = Multimodal.audioFromIds(t(s, dir, "documents").select(col("doc_id")))
      Multimodal.decodeAudio(audio).orderBy(col("doc_id"))
    }),

    // ---- q247: personalized PageRank — q111's event-type transition
    // graph with the teleport mass concentrated on the 'purchase' node:
    // ranks measure walk-proximity TO purchase (the related-items /
    // local-community primitive), not global centrality. Same quantized
    // round chain as q111, dangling mass redistributed to the seed. ----
    "q247_personalized_pagerank" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")), col("event_id"))
      val edges = t(s, dir, "events")
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("src"), col("next_type").as("dst"))
        .agg(count(lit(1)).as("w"))
        .localCheckpoint() // ≤ |types|² rows, read 5× by the PPR setup
      val seeds = Seq("purchase").toDF("node")
      graft.api.Graft.personalizedPageRank(edges, "src", "dst", "w",
          seeds, "node")
        .select(col("node"), round(col("rank"), 12).as("rank"))
        .orderBy(col("node"))
    }),

    // ---- q248: WARC round trip — the Common Crawl ingestion shape:
    // one response record per doc is REALLY written into per-source
    // WARC/1.0 members (header block + Content-Length framing), then
    // REALLY parsed back by the record walk; the oracle regenerates
    // every field (type, URI, length, payload head) from the source
    // rows, so writer AND parser are hash-gated value-for-value (the
    // q89 audio discipline applied to the crawl-archive leg). ----
    "q248_warc_roundtrip" -> ((s, dir) => {
      val blobs = Multimodal.warcFromDocs(t(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("text")))
      Multimodal.parseWarc(blobs)
        .orderBy(col("blob_id"), col("rec_no"))
    }),

    // ---- q249: Huber robust mean per event type — the location
    // M-estimator for metric pipelines where a few corrupt rows must not
    // move the reported mean: 3 IRLS rounds from the plain mean at a
    // $25 scale, k=1.34 (≈95% Gaussian efficiency). Every round is one
    // keyed aggregate; weights and re-estimates are integer-exact, so
    // the oracle unrolls the rounds as chained CTEs. ----
    "q249_huber_mean" -> ((s, dir) =>
      graft.api.Graft.huberMean(t(s, dir, "events"), "value", "event_type",
          scaleCents = 2500, kCentiK = 134, rounds = 3)
        .withColumnRenamed("grp", "event_type")
        .orderBy(col("event_type"))),

    // ---- q250: stratified ATE — the propensity-stratification baseline
    // (Rosenbaum & Rubin 1984): users cut into 5 equal-count strata of
    // their activity level (event count — the confounder proxy), the
    // even-user treatment gap estimated inside each stratum, strata
    // combined by size into the overall row (stratum = −1). ----
    "q250_stratified_ate" -> ((s, dir) => {
      val u = t(s, dir, "events").groupBy(col("user_id"))
        .agg(count(lit(1)).as("cv"),
          (coalesce(sum(round(col("value") * lit(100.0)).cast(LongType)),
            lit(0L)).cast(DoubleType) / lit(100.0)).as("dollars"))
        .withColumn("treated", (col("user_id") % 2 === 0).cast(LongType))
      graft.api.Graft.stratifiedAte(u, "cv", "treated", "dollars",
          "user_id", strata = 5)
        .orderBy(col("stratum"))
    }),

    // ---- q353: placebo refuter + E-value — the two REFUTATION gates
    // under the q250/q254/q307 estimator family (q327 checks the
    // positivity assumption; this checks the DESIGN): (1) rerun the
    // effect with a hash-permuted pseudo-treatment — a real causal
    // design shows z ≈ 0 under the placebo (md5 parity is independent
    // of everything by construction); (2) VanderWeele–Ding E-value =
    // RR + sqrt(RR·(RR−1)) — the minimum confounder strength that
    // could explain the observed risk ratio away. Binary conversion
    // outcome per user, ONE conditional aggregate for all eight cells,
    // exact integer counts, fixed double chains (sqrt only). ----
    "q353_placebo_evalue" -> ((s, dir) => {
      val u = t(s, dir, "events").groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))
        .select(col("conv"),
          (col("user_id") % 2 === 0).as("tr"),
          expr("(md5_lower64(cast(user_id AS STRING)) & 1) = 1").as("trp"))
      val ag = u.agg(count(lit(1)).as("n_users"),
        sum(when(col("tr"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("tr"), col("conv")).otherwise(0L)).as("x1"),
        sum(when(!col("tr"), 1L).otherwise(0L)).as("n0"),
        sum(when(!col("tr"), col("conv")).otherwise(0L)).as("x0"),
        sum(when(col("trp"), 1L).otherwise(0L)).as("np1"),
        sum(when(col("trp"), col("conv")).otherwise(0L)).as("xp1"),
        sum(when(!col("trp"), 1L).otherwise(0L)).as("np0"),
        sum(when(!col("trp"), col("conv")).otherwise(0L)).as("xp0"))
      def rate(x: String, n: String) =
        col(x).cast(DoubleType) / col(n).cast(DoubleType)
      def zOf(x1: String, n1: String, x0: String, n0: String) = {
        val ph = (col(x1) + col(x0)).cast(DoubleType) /
          (col(n1) + col(n0)).cast(DoubleType)
        val se = sqrt(ph * (lit(1.0) - ph) *
          (lit(1.0) / col(n1).cast(DoubleType) +
           lit(1.0) / col(n0).cast(DoubleType)))
        when(se <= lit(0.0), lit(null).cast(DoubleType))
          .otherwise((rate(x1, n1) - rate(x0, n0)) / se)
      }
      val rr = rate("x1", "n1") / rate("x0", "n0")
      val rrStar = when(rr >= lit(1.0), rr).otherwise(lit(1.0) / rr)
      val ev = when(col("x0") === 0L || col("x1") === 0L,
          lit(null).cast(DoubleType))
        .otherwise(rrStar + sqrt(rrStar * (rrStar - lit(1.0))))
      val zr = zOf("x1", "n1", "x0", "n0")
      val zp = zOf("xp1", "np1", "xp0", "np0")
      ag.select(col("n_users"),
        round(rate("x1", "n1"), 6).as("p_treated"),
        round(rate("x0", "n0"), 6).as("p_control"),
        when(col("x0") === 0L, lit(null).cast(DoubleType))
          .otherwise(round(rr, 6)).as("risk_ratio"),
        round(ev, 6).as("e_value"),
        round(zr, 4).as("z_real"), round(zp, 4).as("z_placebo"),
        when(zp.isNull, lit(null).cast("boolean"))
          .otherwise(abs(zp) < lit(1.96)).as("placebo_pass"))
    }),

    // ---- q254: inverse-propensity-weighted ATE — the estimator
    // sibling of q250 on the SAME strata: Horvitz–Thompson reweighting
    // by within-stratum propensities instead of size-weighted stratum
    // gaps. Agreement between the two is the standard robustness check
    // before trusting either. ----
    "q254_ipw_ate" -> ((s, dir) => {
      val u = t(s, dir, "events").groupBy(col("user_id"))
        .agg(count(lit(1)).as("cv"),
          (coalesce(sum(round(col("value") * lit(100.0)).cast(LongType)),
            lit(0L)).cast(DoubleType) / lit(100.0)).as("dollars"))
        .withColumn("treated", (col("user_id") % 2 === 0).cast(LongType))
      graft.api.Graft.ipwAte(u, "cv", "treated", "dollars", "user_id",
        strata = 5)
    }),

    // ---- q307: doubly-robust AIPW ATE — the third estimator on
    // q250/q254's strata and the modern default: a deliberately
    // MISSPECIFIED outcome model (global arm means, covariate ignored)
    // repaired by propensity-weighted residual corrections. With raw
    // within-stratum propensities the repair is algebraically exact
    // (ate_aipw reproduces q250's overall — the in-sample double-
    // robustness identity, emitted as a live cross-check); the smoothed
    // variant is the production estimator that keeps one-armed strata.
    // ----
    "q307_aipw_ate" -> ((s, dir) => {
      val u = t(s, dir, "events").groupBy(col("user_id"))
        .agg(count(lit(1)).as("cv"),
          (coalesce(sum(round(col("value") * lit(100.0)).cast(LongType)),
            lit(0L)).cast(DoubleType) / lit(100.0)).as("dollars"))
        .withColumn("treated", (col("user_id") % 2 === 0).cast(LongType))
      graft.api.Graft.aipwAte(u, "cv", "treated", "dollars", "user_id",
          strata = 5)
        .orderBy(col("stratum"))
    }),

    // ---- q309: Simpson's-paradox audit — the aggregation-bias gate
    // every pooled dashboard metric needs: does the (daily activity →
    // daily spend) slope computed ACROSS all user-days reverse inside
    // individual users? Per-stratum and pooled OLS numerators/
    // denominators are exact Decimal(38) moment products (q156/q210's
    // device); "opposite sign" is pure integer sign comparison — no
    // float ever decides a flag. One cell aggregate → one stratum
    // aggregate → 1-row pooled broadcast; linear, two shuffles. ----
    "q309_simpson_audit" -> ((s, dir) => {
      val D = DecimalType(38, 0)
      val cells = t(s, dir, "events").filter(col("value").isNotNull)
        .groupBy(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(count(lit(1)).as("x"),
          sum(round(col("value") * lit(100.0)).cast(LongType)).as("y"))
      val st = cells.groupBy(col("user_id"))
        .agg(count(lit(1)).as("nh"),
          sum(col("x").cast(D)).as("sx"), sum(col("y").cast(D)).as("sy"),
          sum(col("x").cast(D) * col("y").cast(D)).as("sxy"),
          sum(col("x").cast(D) * col("x").cast(D)).as("sxx"))
        .localCheckpoint() // feeds the pooled row AND the flag scan
      val g = st.agg(sum(col("nh")).as("n_cells"),
          count(lit(1)).as("n_strata"),
          sum(col("sx")).as("gsx"), sum(col("sy")).as("gsy"),
          sum(col("sxy")).as("gsxy"), sum(col("sxx")).as("gsxx"))
        .select(col("n_cells"), col("n_strata"),
          (col("n_cells").cast(D) * col("gsxy") - col("gsx") * col("gsy"))
            .as("nump"),
          (col("n_cells").cast(D) * col("gsxx") - col("gsx") * col("gsx"))
            .as("denp"))
      val numh = col("nh").cast(D) * col("sxy") - col("sx") * col("sy")
      val denh = col("nh").cast(D) * col("sxx") - col("sx") * col("sx")
      val opp = (numh > 0 && col("nump") < 0) || (numh < 0 && col("nump") > 0)
      st.crossJoin(broadcast(g))
        .agg(first(col("n_cells")).as("n_cells"),
          first(col("n_strata")).as("n_strata"),
          sum(when(denh > 0, lit(1L)).otherwise(lit(0L))).as("n_eligible"),
          first(when(col("denp") > 0,
            round(col("nump").cast(DoubleType) /
              col("denp").cast(DoubleType), 6))
            .otherwise(lit(null).cast(DoubleType))).as("pooled_slope"),
          sum(when(denh > 0 && opp, lit(1L)).otherwise(lit(0L)))
            .as("n_opposite"))
        .withColumn("opposite_share",
          when(col("n_eligible") > 0L,
            round(col("n_opposite").cast(DoubleType) /
              col("n_eligible").cast(DoubleType), 6))
            .otherwise(lit(null).cast(DoubleType)))
    }),

    // ---- q330: degree assortativity of the basket co-purchase graph —
    // the mixing coefficient (Newman 2002) the graph family was missing:
    // do high-degree parts co-purchase with other high-degree parts
    // (r > 0, hub-clustered) or with the long tail (r < 0, hub-spoke)?
    // Decides whether hub-capping strategies (q173's maxDegree, q24's
    // stop-shingles) cut a cohesive core or a scattered periphery.
    // Pearson correlation of endpoint degrees over the DIRECTED edge
    // list (each undirected edge both ways, so Σj = Σk and one moment
    // set suffices): r = (M·Σjk − (Σj)²) / (M·Σj² − (Σj)²), all moments
    // exact Decimal(38) products of integer degrees — only the final
    // division is a double. Consumes the shared bucketed edge artifact
    // ([[basketEdges]]); two co-located degree joins + one global
    // aggregate. 100 TB shape: degree = one keyed count, moment sums
    // map-side partial — nothing quadratic, nothing driver-side. ----
    "q330_assortativity" -> ((s, dir) => {
      val D = DecimalType(38, 0)
      // shared canonical-edge + degree artifacts (r13) — the per-query
      // distinct and degree aggregate are paid once per session
      val adj = {
        val e = basketCanon(s, dir)
        e.select(col("src").as("u"), col("dst").as("v"))
          .unionAll(e.select(col("dst").as("u"), col("src").as("v")))
      }
      val deg = basketDegrees(s, dir)
      val nodes = deg.agg(count(lit(1)).as("n_nodes"))
      val dd = adj.join(deg, "u")
        .join(deg.select(col("u").as("v"), col("deg").as("degv")), "v")
      val m = dd.agg(count(lit(1)).cast(D).as("__m2"),
        sum(col("deg").cast(D)).as("__sj"),
        sum(col("deg").cast(D) * col("degv").cast(D)).as("__sjk"),
        sum(col("deg").cast(D) * col("deg").cast(D)).as("__sjj"))
      m.crossJoin(broadcast(nodes))
        .select(col("n_nodes"),
          (col("__m2") / lit(2)).cast(LongType).as("n_edges"),
          when(col("__m2") * col("__sjj") - col("__sj") * col("__sj") <= 0,
            lit(null).cast(DoubleType))
            .otherwise(round(
              (col("__m2") * col("__sjk") - col("__sj") * col("__sj"))
                .cast(DoubleType) /
              (col("__m2") * col("__sjj") - col("__sj") * col("__sj"))
                .cast(DoubleType), 6)).as("assortativity"))
    }),

    // ---- q337: rich-club coefficient over the same graph — the OTHER
    // half of the q330 story: at each degree cutoff k, what fraction of
    // the possible edges among the >k-degree "club" actually exist?
    // φ(k) = 2·E_k / (N_k·(N_k−1)). Rising φ(k) with k ⇒ a densely
    // wired hub core (the subgraph q147's k-core peels toward). Exact
    // integers until the final division: club membership is a degree
    // comparison, E_k one boolean-pair aggregate over the edge list with
    // both endpoint degrees already joined (the q330 scan, reused shape),
    // N_k a degree-table aggregate. Four cutoffs ⇒ 4-row output; the
    // edge scan is paid once via a conditional-sum pivot, not per-k. ----
    "q337_rich_club" -> ((s, dir) => {
      val ks = Seq(10L, 20L, 40L, 80L)
      // shared canonical-edge + degree artifacts (r13) — the per-query
      // distinct and degree aggregate are paid once per session
      val e = basketCanon(s, dir)
      val deg = basketDegrees(s, dir)
      val dd = e.join(deg.select(col("u").as("src"), col("deg").as("dega")),
          "src")
        .join(deg.select(col("u").as("dst"), col("deg").as("degb")), "dst")
      val ekCols = ks.map(k =>
        sum(when(col("dega") > k && col("degb") > k, lit(1L))
          .otherwise(lit(0L))).as(s"__e$k"))
      val ek = dd.agg(ekCols.head, ekCols.tail: _*)
      val nkCols = ks.map(k =>
        sum(when(col("deg") > k, lit(1L)).otherwise(lit(0L)))
          .as(s"__n$k"))
      val nk = deg.agg(nkCols.head, nkCols.tail: _*)
      val wide = ek.crossJoin(broadcast(nk))
      val rows = ks.map { k =>
        wide.select(lit(k).as("k"), col(s"__n$k").as("club_nodes"),
          col(s"__e$k").as("club_edges"),
          when(col(s"__n$k") < 2L, lit(null).cast(DoubleType))
            .otherwise(round(lit(2.0) * col(s"__e$k").cast(DoubleType) /
              (col(s"__n$k").cast(DoubleType) *
                (col(s"__n$k") - lit(1L)).cast(DoubleType)), 6))
            .as("phi"))
      }
      rows.reduce(_ unionAll _).orderBy(col("k"))
    }),

    // ---- q332: Cochran–Mantel–Haenszel — the POOLED inference q309's
    // audit gates: q309 flags when per-stratum slopes contradict the
    // pooled one; CMH is what you then report instead — the stratum-
    // adjusted association test plus the Mantel–Haenszel common odds
    // ratio. 2×2×K tables: stratum = user cohort (user_id % 8),
    // treatment = the q250/q307 deterministic arm ((user_id div 8) % 2,
    // independent of stratum by construction), success = purchase
    // event. Per stratum the expected count E_h = n1·m1/n, variance
    // V_h = n1·n0·m1·m0/(n²(n−1)), MH terms R_h = a·d/n, S_h = b·c/n are
    // each ONE fixed double chain micro-quantized to a long before the
    // K-row sum (order-free); χ² (continuity-corrected) and OR_MH are
    // single double chains over those quantized sums. One keyed
    // aggregate over the scan → K=8 rows → 1-row output: linear,
    // two shuffles, nothing driver-side. ----
    "q332_cmh" -> ((s, dir) => {
      val cells = t(s, dir, "events")
        .select((col("user_id") % 8).as("h"),
          (expr("user_id div 8") % 2).as("t"),
          when(col("event_type") === "purchase", lit(1L)).otherwise(lit(0L))
            .as("y"))
        .groupBy(col("h"))
        .agg(sum(when(col("t") === 1, lit(1L)).otherwise(lit(0L))).as("n1"),
          sum(when(col("t") === 1, col("y")).otherwise(lit(0L))).as("a"),
          sum(when(col("t") === 0, lit(1L)).otherwise(lit(0L))).as("n0"),
          sum(when(col("t") === 0, col("y")).otherwise(lit(0L))).as("c"))
      val n = (col("n1") + col("n0")).cast(DoubleType)
      val m1 = (col("a") + col("c")).cast(DoubleType)
      val m0 = (col("n1") + col("n0") - col("a") - col("c")).cast(DoubleType)
      val q = (x: org.apache.spark.sql.Column) =>
        round(x * lit(1.0e6)).cast(LongType)
      val terms = cells.filter(col("n1") + col("n0") >= 2L)
        .select(col("a"),
          q(col("n1").cast(DoubleType) * m1 / n).as("__e"),
          q(col("n1").cast(DoubleType) * col("n0").cast(DoubleType) * m1 *
            m0 / (n * n * (n - lit(1.0)))).as("__v"),
          q(col("a").cast(DoubleType) *
            (col("n0") - col("c")).cast(DoubleType) / n).as("__r"),
          q((col("n1") - col("a")).cast(DoubleType) *
            col("c").cast(DoubleType) / n).as("__s"))
      terms.agg(count(lit(1)).as("n_strata"), sum(col("a")).as("sum_a"),
          sum(col("__e")).as("__se"), sum(col("__v")).as("__sv"),
          sum(col("__r")).as("__sr"), sum(col("__s")).as("__ss"))
        .select(col("n_strata"), col("sum_a"),
          round(col("__se").cast(DoubleType) / lit(1.0e6), 6).as("e_sum"),
          when(col("__sv") <= 0L, lit(null).cast(DoubleType))
            .otherwise(round(
              (abs(col("sum_a").cast(DoubleType) -
                col("__se").cast(DoubleType) / lit(1.0e6)) - lit(0.5)) *
              (abs(col("sum_a").cast(DoubleType) -
                col("__se").cast(DoubleType) / lit(1.0e6)) - lit(0.5)) /
              (col("__sv").cast(DoubleType) / lit(1.0e6)), 6))
            .as("cmh_chi2"),
          when(col("__ss") <= 0L, lit(null).cast(DoubleType))
            .otherwise(round(col("__sr").cast(DoubleType) /
              col("__ss").cast(DoubleType), 6)).as("or_mh"))
    }),

    // ---- q336: Hill tail-index estimator — the distribution gate the
    // q229 Zipf fit reads off ranks and q110's histograms can't see:
    // how heavy is the value tail really? α̂ = k / Σᵢ₌₁..k ln(x₍ᵢ₎/x₍ₖ₊₁₎)
    // over the k largest order statistics. k is DERIVED from n
    // (n div 1000, clamped to [10, 1000]) so the top-k cut is constant-
    // bounded at any scale — the q321 lesson applied up front. The top
    // 1001 values come from one TakeOrderedAndProject (distributed
    // reduce, never a global sort); ln terms are nano-quantized longs
    // before the k-row sum. Ties at the boundary are value-ties, so the
    // term multiset is order-free. ----
    "q336_hill_tail" -> ((s, dir) => {
      val vals = t(s, dir, "lineitem").filter(col("l_extendedprice").isNotNull)
        .select(round(col("l_extendedprice") * lit(100.0)).cast(LongType)
          .as("__c"))
        .filter(col("__c") > 0L)
      val nDf = vals.agg(count(lit(1)).as("n"))
        .withColumn("k", greatest(lit(10L), least(lit(1000L),
          expr("n div 1000"))))
      val top = vals.orderBy(col("__c").desc).limit(1001)
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("__c").desc))
          .cast(LongType))
      val j = top.crossJoin(broadcast(nDf))
      val thr = j.filter(col("rnk") === col("k") + 1L)
        .select(col("__c").as("__xk1"))
      j.filter(col("rnk") <= col("k")).crossJoin(broadcast(thr))
        .select(col("n"), col("k"),
          round((log(col("__c").cast(DoubleType)) -
            log(col("__xk1").cast(DoubleType))) * lit(1.0e9))
            .cast(LongType).as("__t"))
        .groupBy(col("n"), col("k")).agg(sum(col("__t")).as("__h"))
        .select(col("n"), col("k"),
          round(col("__h").cast(DoubleType) / lit(1.0e9) /
            col("k").cast(DoubleType), 6).as("hill_h"),
          when(col("__h") <= 0L, lit(null).cast(DoubleType))
            .otherwise(round(col("k").cast(DoubleType) * lit(1.0e9) /
              col("__h").cast(DoubleType), 6)).as("tail_alpha"))
    }),

    // ---- q341: Welch's t-test — the unequal-variance two-sample mean
    // test the stats family routes around (q152 tests proportions,
    // q214 tests location through ranks; this is the parametric mean
    // test a metrics review actually quotes, with the Satterthwaite
    // df that makes it safe when segment variances differ). Moments
    // n/Σv/Σv² are exact longs/Decimals from ONE keyed aggregate;
    // mean/variance/t/df are fixed double chains over them —
    // bit-identical cross-engine, no quantization needed. ----
    "q341_welch_ttest" -> ((s, dir) => {
      val D = DecimalType(38, 0)
      val m = t(s, dir, "events")
        .filter(col("value").isNotNull &&
          col("event_type").isin("purchase", "click"))
        .select(when(col("event_type") === "purchase", lit(1L))
          .otherwise(lit(0L)).as("__a"),
          round(col("value") * lit(100.0)).cast(LongType).as("__v"))
        .agg(sum(col("__a")).as("n_a"),
          sum(when(col("__a") === 1L, col("__v")).otherwise(lit(0L)))
            .as("__sa"),
          sum(when(col("__a") === 1L, col("__v").cast(D) * col("__v").cast(D))
            .otherwise(lit(0L).cast(D))).as("__qa"),
          sum(lit(1L) - col("__a")).as("n_b"),
          sum(when(col("__a") === 0L, col("__v")).otherwise(lit(0L)))
            .as("__sb"),
          sum(when(col("__a") === 0L, col("__v").cast(D) * col("__v").cast(D))
            .otherwise(lit(0L).cast(D))).as("__qb"))
      val ma = col("__sa").cast(DoubleType) / col("n_a").cast(DoubleType)
      val mb = col("__sb").cast(DoubleType) / col("n_b").cast(DoubleType)
      val va = (col("__qa").cast(DoubleType) -
        col("__sa").cast(DoubleType) * col("__sa").cast(DoubleType) /
          col("n_a").cast(DoubleType)) /
        (col("n_a") - lit(1L)).cast(DoubleType)
      val vb = (col("__qb").cast(DoubleType) -
        col("__sb").cast(DoubleType) * col("__sb").cast(DoubleType) /
          col("n_b").cast(DoubleType)) /
        (col("n_b") - lit(1L)).cast(DoubleType)
      val sea = va / col("n_a").cast(DoubleType)
      val seb = vb / col("n_b").cast(DoubleType)
      val bad = col("n_a") < 2L || col("n_b") < 2L
      m.select(col("n_a"), col("n_b"),
        round((ma - mb) / lit(100.0), 6).as("mean_diff"),
        when(bad || sea + seb <= lit(0.0), lit(null).cast(DoubleType))
          .otherwise(round((ma - mb) / sqrt(sea + seb), 6)).as("t_stat"),
        when(bad || sea + seb <= lit(0.0), lit(null).cast(DoubleType))
          .otherwise(round((sea + seb) * (sea + seb) /
            (sea * sea / (col("n_a") - lit(1L)).cast(DoubleType) +
             seb * seb / (col("n_b") - lit(1L)).cast(DoubleType)), 2))
          .as("df_welch"))
    }),

    // ---- q342: A/B power analysis — the experiment-design closure of
    // q152's z-test: given the observed arms, (a) the per-arm sample
    // size needed to detect the OBSERVED lift at 80% power / α=0.05
    // two-sided, and (b) the minimum detectable effect at the CURRENT
    // sample. Counts are exact integers from one aggregate; p̂/MDE/n
    // are fixed double chains with the z constants as literals
    // (1.959964, 0.841621 — both engines parse the same doubles);
    // the one integer that decides a row, n_req, is a CEIL of an
    // identical double. ----
    "q342_power_mde" -> ((s, dir) => {
      val m = t(s, dir, "events")
        .select((col("user_id") % 2).as("__arm"),
          when(col("event_type") === "purchase", lit(1L)).otherwise(lit(0L))
            .as("__y"))
        .agg(sum(when(col("__arm") === 1L, lit(1L)).otherwise(lit(0L)))
          .as("n1"),
          sum(when(col("__arm") === 1L, col("__y")).otherwise(lit(0L)))
            .as("x1"),
          sum(when(col("__arm") === 0L, lit(1L)).otherwise(lit(0L)))
            .as("n2"),
          sum(when(col("__arm") === 0L, col("__y")).otherwise(lit(0L)))
            .as("x2"))
      val p1 = col("x1").cast(DoubleType) / col("n1").cast(DoubleType)
      val p2 = col("x2").cast(DoubleType) / col("n2").cast(DoubleType)
      val pb = (col("x1") + col("x2")).cast(DoubleType) /
        (col("n1") + col("n2")).cast(DoubleType)
      val delta = p1 - p2
      val za = lit(1.959964)
      val zb = lit(0.841621)
      val sePooled = sqrt(lit(2.0) * pb * (lit(1.0) - pb))
      val seArms = sqrt(p1 * (lit(1.0) - p1) + p2 * (lit(1.0) - p2))
      m.select(col("n1"), col("x1"), col("n2"), col("x2"),
        round(p1, 6).as("p1"), round(p2, 6).as("p2"),
        round(delta, 6).as("delta"),
        when(abs(delta) <= lit(0.0), lit(null).cast(LongType))
          .otherwise(ceil((za * sePooled + zb * seArms) *
            (za * sePooled + zb * seArms) / (abs(delta) * abs(delta)))
            .cast(LongType)).as("n_req_per_arm"),
        round((za + zb) * sqrt(pb * (lit(1.0) - pb) *
          (lit(1.0) / col("n1").cast(DoubleType) +
           lit(1.0) / col("n2").cast(DoubleType))), 6).as("mde"))
    }),

    // ---- q340: Kendall's τ-b — the pair-concordance correlation that
    // completes the dependence trio (q210 Spearman = rank-linear, q320
    // Mann–Kendall = τ against TIME; this is τ between two measured
    // series): daily clicks vs daily purchases. The pair scan runs on
    // the ~#days day table (the q320 device — corpus rows shuffle once
    // into it, the quadratic is calendar-bounded); C/D/tie counts are
    // exact integers, τ_b = (C−D)/√((n0−n1)(n0−n2)) is one double
    // chain. ----
    "q340_kendall_tau" -> ((s, dir) => {
      val days = t(s, dir, "events")
        .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(sum(when(col("event_type") === "click", lit(1L))
          .otherwise(lit(0L))).as("x"),
          sum(when(col("event_type") === "purchase", lit(1L))
            .otherwise(lit(0L))).as("y"))
        .localCheckpoint() // feeds the pair scan twice + the tie counts
      val pairs = days.alias("p").join(days.alias("r"),
          col("p.day") < col("r.day"))
        .select((col("p.x") - col("r.x")).as("dx"),
          (col("p.y") - col("r.y")).as("dy"))
        .agg(count(lit(1)).as("n0"),
          sum(when(col("dx") * col("dy") > 0L, lit(1L)).otherwise(lit(0L)))
            .as("n_c"),
          sum(when(col("dx") * col("dy") < 0L, lit(1L)).otherwise(lit(0L)))
            .as("n_d"))
      val tx = days.groupBy(col("x")).agg(count(lit(1)).as("t"))
        .agg(coalesce(sum(expr("t * (t - 1) div 2")), lit(0L)).as("ties_x"))
      val ty = days.groupBy(col("y")).agg(count(lit(1)).as("t"))
        .agg(coalesce(sum(expr("t * (t - 1) div 2")), lit(0L)).as("ties_y"))
      val n = days.agg(count(lit(1)).as("n_days"))
      pairs.crossJoin(broadcast(tx)).crossJoin(broadcast(ty))
        .crossJoin(broadcast(n))
        .select(col("n_days"), col("n_c"), col("n_d"),
          col("ties_x"), col("ties_y"),
          when((col("n0") - col("ties_x")) * (col("n0") - col("ties_y"))
              <= 0L, lit(null).cast(DoubleType))
            .otherwise(round((col("n_c") - col("n_d")).cast(DoubleType) /
              sqrt((col("n0") - col("ties_x")).cast(DoubleType) *
                (col("n0") - col("ties_y")).cast(DoubleType)), 6))
            .as("tau_b"))
    }),

    // ---- q320: Mann–Kendall trend test — the significance HALF of
    // q156's Theil–Sen (that one says HOW steep; this says whether the
    // monotone trend is real at all, distribution-free): S = Σ sign
    // pairs over the daily click-revenue series, tie-corrected
    // variance, continuity-corrected Z. Everything integer until the
    // final sqrt division: the pair scan runs on the ~#days day table
    // (corpus rows shuffle once into it), tie groups from one value-
    // keyed count. ----
    "q320_mann_kendall" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .filter(col("event_type") === "click" && col("value").isNotNull)
        .select(expr("unix_micros(ts) div 86400000000").as("day"),
          round(col("value") * lit(100.0)).cast(LongType).as("c"))
        .groupBy(col("day")).agg(sum(col("c")).as("y"))
        .localCheckpoint() // feeds the pair scan, tie groups, and n
      val sPairs = daily.alias("a").join(daily.alias("b"),
          col("a.day") < col("b.day"))
        .agg(sum(signum(col("b.y") - col("a.y")).cast(LongType)).as("s_stat"))
      val nD = daily.agg(count(lit(1)).as("n_days"))
      val ties = daily.groupBy(col("y")).agg(count(lit(1)).as("t"))
        .agg(coalesce(sum(col("t") * (col("t") - lit(1L)) *
          (lit(2L) * col("t") + lit(5L))), lit(0L)).as("tsum"))
      val n = col("n_days")
      val varS = (n * (n - lit(1L)) * (lit(2L) * n + lit(5L)) - col("tsum"))
        .cast(DoubleType) / lit(18.0)
      val zRaw = when(col("s_stat") > 0L,
          (col("s_stat") - lit(1L)).cast(DoubleType) / sqrt(varS))
        .when(col("s_stat") < 0L,
          (col("s_stat") + lit(1L)).cast(DoubleType) / sqrt(varS))
        .otherwise(lit(0.0))
      sPairs.crossJoin(broadcast(nD)).crossJoin(broadcast(ties))
        .withColumn("z_score", round(zRaw, 6))
        .select(col("n_days"), col("s_stat"),
          round(varS, 6).as("var_s"), col("z_score"),
          when(col("z_score") > 1.96, lit("increasing"))
            .when(col("z_score") < -1.96, lit("decreasing"))
            .otherwise(lit("none")).as("trend"))
    }),

    // ---- q347: phase-fold periodogram — WHICH period dominates the
    // daily click series (q259/q329 ASSUME period 7 and score it; this
    // SCANS candidate periods and finds it): for each p in 2..30, fold
    // days by phase = day % p and measure the between-phase sum of
    // squares SS_b(p) = Σ_φ S_φ²/n_φ − S²/n — the ANOVA periodogram,
    // zero trig (a Schuster DFT would put cos/sin on the cross-engine
    // hash path; phase folding is exact integer algebra until one
    // division). Strength = SS_b/SS_tot shares its denominator across
    // periods, so the rank is decided on the integer-micro SS_b alone.
    // Day table is dimension-sized; the 29-period fan-out is a
    // broadcast explode. ----
    "q347_periodogram" -> ((s, dir) => {
      val dec = DecimalType(38, 0)
      val daily = t(s, dir, "events")
        .filter(col("event_type") === "click" && col("value").isNotNull)
        .select(expr("unix_micros(ts) div 86400000000").as("day"),
          round(col("value") * lit(100.0)).cast(LongType).as("c"))
        .groupBy(col("day")).agg(sum(col("c")).as("y"))
        .localCheckpoint() // feeds the fold fan-out and the total-SS row
      val tot = daily.agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
        sum(col("y").cast(dec) * col("y").cast(dec)).as("syy"))
      // SCALE-FREE quantization (r13; the absolute S_φ²/n_φ grid
      // overflowed long past sf0.1 — phase terms grow quadratically
      // with data): each phase contributes the RATIO (S_φ²/n_φ)/(S²/n)
      // ∈ O(1/p·(1+ε)) nano-snapped, so the grid never scales with
      // data volume. Σ ratios − 1 = SS_between/grand exactly.
      val grand = col("sy").cast(DoubleType) * col("sy").cast(DoubleType) /
        col("n").cast(DoubleType)
      val folded = daily
        .withColumn("p", explode(array((2 to 30).map(p => lit(p.toLong)): _*)))
        .groupBy(col("p"), (col("day") % col("p")).as("phase"))
        .agg(count(lit(1)).as("nf"), sum(col("y")).as("sf"))
        .crossJoin(broadcast(tot))
        .select(col("p"), round(col("sf").cast(DoubleType) *
            col("sf").cast(DoubleType) / col("nf").cast(DoubleType) /
            grand * lit(1.0e9)).cast(LongType).as("__t"))
        .groupBy(col("p")).agg(sum(col("__t")).as("__sb_raw"))
      val g = folded.crossJoin(broadcast(tot))
      val sbMicro = (col("__sb_raw").cast(DoubleType) / lit(1.0e9) -
        lit(1.0)) * grand
      val sst = col("syy").cast(DoubleType) - grand
      val w = Window.orderBy(col("__sb_raw").desc, col("period"))
      g.select(col("p").as("period"), round(sbMicro, 2).as("ss_between"),
          when(sst <= lit(0.0), lit(null).cast(DoubleType))
            .otherwise(round(sbMicro / sst, 6)).as("strength"),
          col("__sb_raw"))
        // 29-row ordered window — dimension-sized by construction
        .withColumn("rnk", row_number().over(w).cast(LongType))
        .drop("__sb_raw")
        .orderBy(col("period"))
    }),

    // ---- q348: Hurst exponent by rescaled-range (R/S) analysis — the
    // long-memory gate for the daily click series (H ≈ 0.5 random walk
    // increments, H > 0.5 persistent trends: CUSUM/monitoring false-
    // alarm rates depend on it): block sizes 8/16/32/64, per block the
    // range of cumulative deviations over the std, H = the log2-log2
    // OLS slope. All block algebra is EXACT: m-scaled deviations
    // m·Z_t = m·cumsum − t·S_b are integers, R·m = max−min, and
    // RS = (R·m)/sqrt(m·Σy²−S_b²) is one correctly-rounded double
    // chain (sqrt is IEEE-exact) micro-snapped per block. Only the 4
    // final ln calls touch libm. Windows are keyed by (m, block). ----
    "q348_hurst" -> ((s, dir) => {
      val dec = DecimalType(38, 0)
      val daily = t(s, dir, "events")
        .filter(col("event_type") === "click" && col("value").isNotNull)
        .select(expr("unix_micros(ts) div 86400000000").as("day"),
          round(col("value") * lit(100.0)).cast(LongType).as("c"))
        .groupBy(col("day")).agg(sum(col("c")).as("y"))
      // global day rank: the series is dimension-sized (documented) —
      // one ordered window over the aggregate, never the raw events
      val wAll = Window.orderBy(col("day"))
      val ranked = daily.withColumn("r", row_number().over(wAll).cast(LongType))
        .withColumn("m", explode(array(Seq(8L, 16L, 32L, 64L).map(lit): _*)))
        .withColumn("b", expr("(r - 1) div m"))
        .localCheckpoint()
      val wBlk = Window.partitionBy(col("m"), col("b")).orderBy(col("r"))
      val wCum = wBlk.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // two-pass shape: per-block sums first, then the deviation window
      val sums = ranked.groupBy(col("m"), col("b"))
        .agg(count(lit(1)).as("nb"), sum(col("y")).as("sb"),
          sum(col("y").cast(dec) * col("y").cast(dec)).as("sbb"))
        .filter(col("nb") === col("m")) // full blocks only
      val dev = ranked.join(sums, Seq("m", "b"))
        .withColumn("t", row_number().over(wBlk).cast(LongType))
        .withColumn("cum", sum(col("y")).over(wCum))
        .withColumn("z", col("m") * col("cum") - col("t") * col("sb"))
        .groupBy(col("m"), col("b"), col("sb"), col("sbb"))
        .agg((max(col("z")) - min(col("z"))).as("rm"))
      val rs = dev.select(col("m"),
          // RS = (R·m) / sqrt(m·Σy² − S_b²): both operands exact, sqrt
          // and divide correctly rounded — micro-snap makes the block
          // mean order-free
          round(col("rm").cast(DoubleType) /
            sqrt((col("m").cast(dec) * col("sbb") -
              col("sb").cast(dec) * col("sb").cast(dec)).cast(DoubleType)) *
            lit(1.0e6)).cast(LongType).as("__rsq"))
        .groupBy(col("m"))
        .agg(count(lit(1)).as("nblk"), sum(col("__rsq")).as("__s"))
        .select(col("m"), col("nblk"),
          (col("__s").cast(DoubleType) / lit(1.0e6) /
            col("nblk").cast(DoubleType)).as("rsbar"))
      // fold the 4 block sizes into one row (conditional sums — a fixed
      // 4-cell "pivot") and take the closed-form log-log slope:
      // x = log2 m ∈ {3,4,5,6}, slope = Σ(x−4.5)·ln(rs) / (ln2·Σ(x−4.5)²)
      val piv = rs.agg(
        sum(when(col("m") === 8L, col("rsbar"))).as("v8"),
        sum(when(col("m") === 16L, col("rsbar"))).as("v16"),
        sum(when(col("m") === 32L, col("rsbar"))).as("v32"),
        sum(when(col("m") === 64L, col("rsbar"))).as("v64"))
      val c8 = col("v8"); val c16 = col("v16")
      val c32 = col("v32"); val c64 = col("v64")
      val hurst = (lit(-1.5) * log(c8) - lit(0.5) * log(c16) +
        lit(0.5) * log(c32) + lit(1.5) * log(c64)) /
        (lit(5.0) * lit(math.log(2.0)))
      piv.select(round(c8, 6).as("rs8"), round(c16, 6).as("rs16"),
        round(c32, 6).as("rs32"), round(c64, 6).as("rs64"),
        round(hurst, 6).as("hurst"))
    }),

    // ---- q350: Granger causality (lag-1, both directions) — does the
    // daily click series predict next-day purchase revenue beyond what
    // revenue's own history explains (and vice versa)? q158's CCF says
    // the series co-move; Granger asks the PREDICTIVE question a
    // pipeline scheduler actually needs. Restricted AR(1) vs
    // unrestricted 2-regressor OLS, both in closed form from ONE
    // moment aggregate per direction: n-scaled centered moments
    // M_ab = n·Σab − Σa·Σb are exact Decimal(38), the normal-equation
    // solve is Cramer's rule on the 2×2 system, F = (SSE_r − SSE_u) /
    // (SSE_u/(n−3)); every double chain is fixed-order from the exact
    // M casts. Pairs come from a day, day+1 self-join (gap boundaries
    // drop, exactly as in the oracle). ----
    "q350_granger" -> ((s, dir) => {
      val dec = DecimalType(38, 0)
      val ev = t(s, dir, "events")
      val g = ev.select(expr("unix_micros(ts) div 86400000000").as("day"),
          when(col("event_type") === "click", 1L).otherwise(0L).as("isc"),
          when(col("event_type") === "purchase" && col("value").isNotNull,
            round(col("value") * lit(100.0)).cast(LongType))
            .otherwise(0L).as("pc"))
        .groupBy(col("day"))
        .agg(sum(col("isc")).as("clicks"), sum(col("pc")).as("purch"))
        .localCheckpoint() // both directions read the same day grid
      val pairs = g.alias("a").join(g.alias("b"),
          col("b.day") === col("a.day") + 1L)
        .select(col("a.clicks").as("c0"), col("a.purch").as("p0"),
          col("b.clicks").as("c1"), col("b.purch").as("p1"))
        .localCheckpoint()
      // one leg: y_t ~ [1, y_{t-1}, x_{t-1}] vs y_t ~ [1, y_{t-1}]
      def leg(yt: String, y1: String, x1: String, name: String) = {
        val mo = pairs.agg(count(lit(1)).as("n"),
          sum(col(y1)).as("s1"), sum(col(x1)).as("s2"), sum(col(yt)).as("sy"),
          sum(col(y1).cast(dec) * col(y1).cast(dec)).as("s11"),
          sum(col(x1).cast(dec) * col(x1).cast(dec)).as("s22"),
          sum(col(y1).cast(dec) * col(x1).cast(dec)).as("s12"),
          sum(col(y1).cast(dec) * col(yt).cast(dec)).as("s1y"),
          sum(col(x1).cast(dec) * col(yt).cast(dec)).as("s2y"),
          sum(col(yt).cast(dec) * col(yt).cast(dec)).as("syy"))
        def m(sab: String, sa: String, sb: String) =
          (col("n").cast(dec) * col(sab) -
            col(sa).cast(dec) * col(sb).cast(dec)).cast(DoubleType)
        val m11 = m("s11", "s1", "s1"); val m22 = m("s22", "s2", "s2")
        val m12 = m("s12", "s1", "s2"); val m1y = m("s1y", "s1", "sy")
        val m2y = m("s2y", "s2", "sy"); val myy = m("syy", "sy", "sy")
        val d = m11 * m22 - m12 * m12
        val bC = (m1y * m22 - m2y * m12) / d
        val cC = (m2y * m11 - m1y * m12) / d
        val sseU = myy - bC * m1y - cC * m2y
        val sseR = myy - m1y * m1y / m11
        val f = (sseR - sseU) / (sseU / (col("n").cast(DoubleType) - lit(3.0)))
        mo.select(lit(name).as("direction"), col("n"),
          round(bC, 6).as("ar_coef"), round(cC, 6).as("x_coef"),
          round(f, 4).as("f_stat"),
          (f > lit(3.84)).as("granger_causal"))
      }
      leg("p1", "p0", "c0", "clicks->purchases")
        .unionByName(leg("c1", "c0", "p0", "purchases->clicks"))
        .orderBy(col("direction"))
    }),

    // ---- q327: positivity / overlap audit — the ASSUMPTION gate the
    // whole ATE family (q250/q254/q307) stands on: within every
    // stratum both arms must have realistic probability. Per-stratum
    // raw propensities with extreme-flagging by exact cross-multiplied
    // integers (20·n_t < n_s ⇔ ê < 0.05 — no float decides a flag),
    // one-armed strata flagged unconditionally, and the overall row
    // carries the share of UNITS living in flagged strata — the
    // fraction of the population whose causal estimate is
    // extrapolation. Same one-rank-cut + one-aggregate shape as q250.
    // ----
    "q327_positivity_audit" -> ((s, dir) => {
      val u = t(s, dir, "events").groupBy(col("user_id"))
        .agg(count(lit(1)).as("cv"))
        .withColumn("treated", (col("user_id") % 2 === 0).cast(LongType))
      val nDf = u.agg(count(lit(1)).as("__n"))
      val cells = graft.api.Graft.globalRank(
          u.select(col("user_id").as("__id"), col("cv").as("__cv"),
            col("treated").as("__t")),
          Seq("__cv", "__id"), "grank")
        .crossJoin(broadcast(nDf))
        .withColumn("stratum", expr("((grank - 1) * 5) div __n"))
        .groupBy(col("stratum"))
        .agg(sum(col("__t")).as("n_t"),
          sum(lit(1L) - col("__t")).as("n_c"))
        .localCheckpoint() // feeds the per-stratum rows AND the overall
      val ns = col("n_t") + col("n_c")
      val extreme = (col("n_t") === 0L) || (col("n_c") === 0L) ||
        (lit(20L) * col("n_t") < ns) || (lit(20L) * col("n_c") < ns)
      val per = cells.select(col("stratum"), col("n_t"), col("n_c"),
        round(col("n_t").cast(DoubleType) / ns.cast(DoubleType), 9)
          .as("e_hat"),
        extreme.cast(LongType).as("extreme"),
        lit(null).cast(DoubleType).as("units_in_extreme_share"))
      val ov = cells.agg(sum(col("n_t")).as("n_t"), sum(col("n_c")).as("n_c"),
          sum(when(extreme, ns).otherwise(lit(0L))).as("__xu"),
          sum(when(extreme, lit(1L)).otherwise(lit(0L))).as("__xs"),
          sum(ns).as("__nn"))
        .select(lit(-1L).as("stratum"), col("n_t"), col("n_c"),
          lit(null).cast(DoubleType).as("e_hat"),
          col("__xs").as("extreme"),
          round(col("__xu").cast(DoubleType) /
            col("__nn").cast(DoubleType), 6).as("units_in_extreme_share"))
      per.unionAll(ov).orderBy(col("stratum"))
    }),

    // ---- q328: cardinality-estimation q-error audit (Leis et al.
    // 2015) — how wrong is the textbook estimator |A⋈B| ≈
    // n_a·n_b/max(d_a,d_b) on THIS data, per join class? Three probes:
    // the PK-FK join (estimator exact by construction), the many-many
    // FK self-join (uniformity assumption vs real skew), and the
    // low-NDV skewed key (where it breaks). Actuals come from count-
    // table algebra (Σ c_l·c_r per key — the join is never executed);
    // q-error = max(est/act, act/est). The audit that says whether
    // this corpus needs histogram/sketch-based estimation (q194) or
    // the formula is fine. Everything exact integers + Decimal(38)
    // products until the two output divisions. ----
    "q328_cardest_qerror" -> ((s, dir) => {
      val D = DecimalType(38, 0)
      def counts(df: org.apache.spark.sql.DataFrame, k: String) =
        df.filter(col(k).isNotNull).groupBy(col(k).as("__k"))
          .agg(count(lit(1)).as("c"))
      def audit(name: String, lc: org.apache.spark.sql.DataFrame,
          rc: org.apache.spark.sql.DataFrame) = {
        val lt = lc.agg(sum(col("c")).as("nl"), count(lit(1)).as("dl"))
        val rt = rc.agg(sum(col("c")).as("nr"), count(lit(1)).as("dr"))
        val act = lc.join(rc.select(col("__k"), col("c").as("c2")), Seq("__k"))
          .agg(coalesce(sum(col("c").cast(D) * col("c2").cast(D)),
            lit(0).cast(D)).as("act"))
        val est = (col("nl").cast(D) * col("nr").cast(D)).cast(DoubleType) /
          greatest(col("dl"), col("dr")).cast(DoubleType)
        val actD = col("act").cast(DoubleType)
        lt.crossJoin(rt).crossJoin(act)
          .select(lit(name).as("join_class"), col("nl"), col("nr"),
            col("dl").as("ndv_l"), col("dr").as("ndv_r"),
            round(est, 2).as("est_rows"),
            col("act").cast(LongType).as("actual_rows"),
            when(actD > 0.0,
              round(greatest(est / actD, actD / est), 6))
              .otherwise(lit(null).cast(DoubleType)).as("q_error"))
      }
      val li = counts(t(s, dir, "lineitem"), "l_orderkey")
      val or = counts(t(s, dir, "orders"), "o_orderkey")
      val lp = counts(t(s, dir, "lineitem"), "l_partkey")
      val et = counts(t(s, dir, "events"), "event_type")
      audit("pk_fk", li, or)
        .unionAll(audit("fk_self", lp, lp))
        .unionAll(audit("skewed_lowndv", et, et))
        .orderBy(col("join_class"))
    }),

    // ---- q329: seasonal/trend strength (Hyndman & Athanasopoulos) —
    // q259 DECOMPOSES; this scores the decomposition with the two
    // numbers a forecasting/alerting pipeline routes on: F_trend =
    // max(0, 1−Var(R)/Var(T+R)) and F_seasonal = max(0,
    // 1−Var(R)/Var(S+R)). Strong seasonality ⇒ q305's seasonal-naive
    // is the right baseline; both ≈ 0 ⇒ the series is noise and
    // alerting on it is theater. Components are recovered EXACTLY as
    // micro-longs from the q259 output (each is a micro-rational), so
    // every variance numerator is an exact Decimal(38) integer and F
    // is one division. Interior (trend-defined) rows only. ----
    "q329_seasonal_strength" -> ((s, dir) => {
      val D = DecimalType(38, 0)
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"),
          graft.api.Graft.epochDay(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val stl = graft.api.Graft.stlDecompose(daily, "event_type", "day", "n")
        .filter(col("trend").isNotNull)
        .select(col("event_type"),
          round(col("residual") * lit(1.0e6)).cast(LongType).as("rq"),
          (round(col("trend") * lit(1.0e6)).cast(LongType) +
            round(col("residual") * lit(1.0e6)).cast(LongType)).as("trq"),
          (round(col("seasonal") * lit(1.0e6)).cast(LongType) +
            round(col("residual") * lit(1.0e6)).cast(LongType)).as("srq"))
      val m = stl.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("rq").cast(D)).as("sr"),
          sum(col("rq").cast(D) * col("rq").cast(D)).as("srr"),
          sum(col("trq").cast(D)).as("st"),
          sum(col("trq").cast(D) * col("trq").cast(D)).as("stt"),
          sum(col("srq").cast(D)).as("ss"),
          sum(col("srq").cast(D) * col("srq").cast(D)).as("sss"))
      def vnum(s1: org.apache.spark.sql.Column,
          s2: org.apache.spark.sql.Column) =
        col("n_days").cast(D) * s2 - s1 * s1
      def strength(s1: org.apache.spark.sql.Column,
          s2: org.apache.spark.sql.Column) =
        when(vnum(s1, s2) > 0,
          round(greatest(lit(0.0), lit(1.0) -
            vnum(col("sr"), col("srr")).cast(DoubleType) /
              vnum(s1, s2).cast(DoubleType)), 6))
          .otherwise(lit(null).cast(DoubleType))
      m.select(col("event_type"), col("n_days"),
          strength(col("st"), col("stt")).as("f_trend"),
          strength(col("ss"), col("sss")).as("f_seasonal"))
        .orderBy(col("event_type"))
    }),

    // ---- q255: Markov next-event evaluation — the sequence-model
    // baseline: first-order transition argmax trained on even event_ids
    // scores top-1 accuracy per state on the odd half. The floor a
    // session-recommendation model must beat. ----
    "q255_markov_eval" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      graft.api.Graft.markovEval(e, "user_id", Seq("us", "event_id"),
          "event_type", col("event_id") % 2 === 0)
        .orderBy(col("state"))
    }),

    // ---- q258: item-to-item collaborative filtering — "brands bought
    // together" over lineitem baskets (Linden et al. 2003): cosine-
    // normalized co-occurrence, top-3 per brand; the recsys primitive
    // beside the retrieval (BM25/QL) and embedding (kNN) rankers. ----
    "q258_item_cf" -> ((s, dir) => {
      val baskets = t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("basket"), col("p_brand").as("brand"))
      graft.api.Graft.itemCooccurrence(baskets, "basket", "brand", k = 3)
        .orderBy(col("item"), col("rnk"))
    }),

    // ---- q259: STL-lite decomposition — daily per-type event counts
    // split into trend (centered 7-day MA), weekly seasonality
    // (per-weekday detrended means) and residual: what a metrics
    // dashboard alerts on (q150's CUSUM belongs on the RESIDUAL, not
    // the raw series). Edge days keep NULL trend — never extrapolated
    // silently. ----
    "q259_stl_decompose" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"),
          graft.api.Graft.epochDay(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      graft.api.Graft.stlDecompose(daily, "event_type", "day", "n")
        .orderBy(col("event_type"), col("day"))
    }),

    // ---- q102: SCD2 temporal versioning — each user's event_type stream
    // collapses into validity intervals: a version opens only when the
    // tracked attribute CHANGES (lag-inequality islands), closes at the
    // next version's start. The dimension-history build (slowly-changing
    // dimensions type 2) at event-log scale: one shuffle on the user,
    // both windows share the sorted run. ----
    "q102_scd2_versions" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      graft.api.Graft.scd2(e, "user_id", "us", "event_type", "event_id")
        .select(col("user_id"), col("valid_from"), col("valid_to"),
          col("event_type"), col("is_current"))
        .orderBy(col("user_id"), col("valid_from"), col("event_type"))
    }),

    // ---- q267: point-in-time enrichment — q102's SCD2 versions
    // CONSUMED: each purchase event joins the user's event_type regime
    // valid AT its timestamp ([from, to) semantics, [[Graft.pitJoin]]) —
    // the leakage-safe feature-store join. One user-keyed equi-join
    // with the interval test as a residual predicate; exact integers
    // and strings only. ----
    "q267_pit_join" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val vers = graft.api.Graft.scd2(e, "user_id", "us", "event_type",
          "event_id")
        .select(col("user_id"), col("valid_from"), col("valid_to"),
          col("event_type").as("regime"))
      val facts = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("us"))
      graft.api.Graft.pitJoin(facts, vers, "user_id", "us",
          "valid_from", "valid_to", Seq("regime"))
        .select(col("event_id"), col("user_id"), col("us"),
          col("version_from"), col("regime"))
        .orderBy(col("event_id"))
    }),

    // ---- q101: REAL multi-frame decode — animated GIFs are synthesized
    // per doc (closed-form uniform-gray frames, JDK sequence writer),
    // then every frame is REALLY decoded twice (GIF frame → PNG re-encode
    // in sampleFrames, PNG → pixel in decodeGifGray). The oracle
    // regenerates the gray values from the same closed form, so the whole
    // container-write/frame-enumerate/pixel-decode path is hash-checked —
    // q89's audio pattern applied to the video leg. Partition-local, no
    // shuffle. ----
    "q101_gif_frames" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") % 10 === 0)
      val frames = Multimodal.sampleFrames(Multimodal.gifFromIds(ids)
        .withColumn("media_type", lit("image/gif"))
        .select(col("media_id"), col("media_type"), col("content")),
        everyMs = 500L, maxFrames = 8)
      Multimodal.decodeGifGray(frames)
        .orderBy(col("media_id"), col("frame_no"))
    }),

    // ---- q106: REAL video decode — MJPEG-in-AVI containers are
    // synthesized per doc (spec-correct RIFF: avih/strl headers, movi
    // list, idx1; every 00dc frame a real JPEG of closed-form uniform
    // gray), then frames are decoded through the FULL real chain: RIFF
    // walk → JDK JPEG decode → PNG re-encode (sampleFrames) → PNG decode
    // → whole-frame integer mean. A constant 8×8 block survives JPEG
    // quantization bit-exactly (only a DC coefficient; verified for all
    // 256 grays), so a LOSSY codec still hash-checks against the
    // synthesis closed form — this retires the fake decoder for the one
    // video codec class the JDK can truly handle. Partition-local, no
    // shuffle. ----
    "q106_avi_frames" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") % 10 === 3)
      val frames = Multimodal.sampleFrames(Multimodal.aviFromIds(ids)
        .withColumn("media_type", lit("video/avi"))
        .select(col("media_id"), col("media_type"), col("content")),
        everyMs = 500L, maxFrames = 8)
      Multimodal.decodeFrameMeanGray(frames)
        .orderBy(col("media_id"), col("frame_no"))
    }),

    // ---- q193: perceptual image dedup — dHash(64) over REALLY decoded
    // GIF pixels (patterned synthesis, so the difference hash is
    // non-degenerate), then the q26 band device: 4×16-bit chunk join for
    // candidates (pigeonhole: hamming ≤ 3 ⇒ some chunk equal), exact
    // bit_count(xor) verify. The oracle regenerates every hash bit from
    // the pixel closed form — the whole container-write/decode/
    // hash/band/verify chain is hash-gated. Near-dups are planted by
    // shared base patterns with brightness offsets whose only dHash
    // effect is the mod-256 wrap crossing an adjacent-pixel pair. ----
    "q193_image_dhash_dedup" -> ((s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") % 10 === 5)
      val hashed = Multimodal.decodeDHash(Multimodal.gifPatternFromIds(ids))
        .filter(col("h_hi").isNotNull)
      val bands = hashed.select(col("media_id"), col("h_hi"), col("h_lo"),
          explode(array(
            struct(lit(0).as("c"), col("h_hi").bitwiseAND(lit(65535L)).as("v")),
            struct(lit(1).as("c"),
              shiftright(col("h_hi"), 16).bitwiseAND(lit(65535L)).as("v")),
            struct(lit(2).as("c"), col("h_lo").bitwiseAND(lit(65535L)).as("v")),
            struct(lit(3).as("c"),
              shiftright(col("h_lo"), 16).bitwiseAND(lit(65535L)).as("v")))).as("b"))
        .select(col("media_id"), col("h_hi"), col("h_lo"),
          col("b.c").as("c"), col("b.v").as("v"))
      bands.alias("a").join(bands.alias("b"),
          col("a.c") === col("b.c") && col("a.v") === col("b.v") &&
            col("a.media_id") < col("b.media_id"))
        .select(col("a.media_id").as("da"), col("b.media_id").as("db"),
          col("a.h_hi").as("ha"), col("a.h_lo").as("la"),
          col("b.h_hi").as("hb"), col("b.h_lo").as("lb"))
        .distinct()
        .withColumn("hamming",
          (expr("bit_count(ha ^ hb)") + expr("bit_count(la ^ lb)")).cast(LongType))
        .filter(col("hamming") <= 3)
        .select(col("da"), col("db"), col("hamming"))
        .orderBy(col("da"), col("db"))
    }),

    // ---- q90: approx-percentile with SELF-GATE (q41's pattern for order
    // statistics), r9: the sketch is [[graft.api.Graft.histogramPercentiles]]
    // — a fixed-bin histogram whose bin counts are commutative integer
    // sums, so unlike approx_percentile (merge-order-sensitive quantile
    // summaries) the estimate is partition-INVARIANT and the whole row is
    // golden-pinned as a hard hash gate. Exact percentiles still ride
    // along and `pass` pins |approx − exact| ≤ 1% of the value range
    // in-band, so the gate survives even if the pin is regenerated. ----
    "q90_approx_percentile_gate" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val approx = graft.api.Graft.histogramPercentiles(
        li, "l_extendedprice", Seq(0.5, 0.9, 0.99), bins = 4096)
      val exact = li.agg(
        expr("percentile(l_extendedprice, array(0.5, 0.9, 0.99))").as("exact"),
        max(col("l_extendedprice")).as("mx"), min(col("l_extendedprice")).as("mn"))
      approx.crossJoin(broadcast(exact))
        .select(
          round(element_at(col("exact"), 1), 2).as("p50_exact"),
          round(col("ap500"), 2).as("p50_approx"),
          round(element_at(col("exact"), 2), 2).as("p90_exact"),
          round(col("ap900"), 2).as("p90_approx"),
          round(element_at(col("exact"), 3), 2).as("p99_exact"),
          round(col("ap990"), 2).as("p99_approx"),
          (abs(col("ap500") - element_at(col("exact"), 1)) <=
            (col("mx") - col("mn")) * 0.01 &&
           abs(col("ap900") - element_at(col("exact"), 2)) <=
            (col("mx") - col("mn")) * 0.01 &&
           abs(col("ap990") - element_at(col("exact"), 3)) <=
            (col("mx") - col("mn")) * 0.01).as("pass"))
    }),

    // ---- q91: heavy-hitter report — the skew DIAGNOSIS that tells you a
    // join needs [[graft.api.Graft.saltedJoin]] or AQE skew handling
    // before it burns a cluster: top-20 keys by event count with each
    // key's share and the cumulative share. Count agg (partial+final) →
    // 20-row top-k; the grand total rides the plan as a broadcast 1-row
    // aggregate, shares are single double divisions. ----
    "q91_heavy_hitters" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val counts = e.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      val total = e.agg(count(lit(1)).as("n_total"))
      val w = Window.orderBy(col("n").desc, col("user_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      counts.orderBy(col("n").desc, col("user_id")).limit(20)
        .crossJoin(broadcast(total))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("n").desc, col("user_id"))).cast(LongType))
        .withColumn("share",
          round(col("n").cast(DoubleType) / col("n_total").cast(DoubleType), 6))
        .withColumn("cum_share",
          round(sum(col("n")).over(w).cast(DoubleType) /
            col("n_total").cast(DoubleType), 6))
        .select(col("rk"), col("user_id"), col("n"), col("share"), col("cum_share"))
        .orderBy(col("rk"))
    }),

    // ---- q92: time-weighted average — the TSDB aggregate for irregular
    // samples (sensor values, account balances): each value weighted by
    // its holding interval to the next event. Decimal value × decimal µs
    // products sum exactly (order-free), ONE double division at the end;
    // a user's last event has no interval and drops out on both engines. ----
    "q92_time_weighted_avg" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("value"),
          unix_micros(col("ts")).as("us"))
        .withColumn("dt", lead(col("us"), 1).over(w) - col("us"))
        .filter(col("dt").isNotNull)
      // width-19 decimals force DuckDB onto its int128 path (width-18
      // operands multiply in int64 and overflow on day-long intervals);
      // product width 19+19 = 38 stays inside both engines' caps
        .groupBy(col("user_id"))
        .agg(
          sum(col("value").cast(DecimalType(19, 6)) *
            col("dt").cast(DecimalType(19, 0))).cast(DoubleType).as("wsum"),
          sum(col("dt")).as("tsum"))
        .select(col("user_id"), round(col("wsum") / col("tsum"), 6).as("twa"),
          col("tsum"))
        .orderBy(col("user_id"))
    }),

    // ---- q94: sliding-window counts (batch twin of
    // EventStreams.slidingCounts): 10-minute windows every 5 minutes per
    // event type — each event lands in exactly its two epoch-aligned
    // windows. The oracle derives both starts per event in SQL, pinning
    // Spark's window() assignment semantics value-for-value. ----
    "q94_sliding_window" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value"))
        .select(unix_micros(col("window.start")).as("ws_us"), col("event_type"),
          col("n_events"), col("sum_value"))
        .orderBy(col("ws_us"), col("event_type"))
    }),

    // ---- q93: OHLC bars — per (user, day) open/high/low/close over
    // event time, the resampling aggregate behind every candlestick /
    // daily-rollup pipeline. Open/close are deterministic first/last by
    // (µs, event_id); one shuffle on the (user, day) grain. ----
    "q93_ohlc_bars" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("value"),
          unix_micros(col("ts")).as("us"))
        .withColumn("day", expr("us div 86400000000"))
      val asc = Window.partitionBy(col("user_id"), col("day"))
        .orderBy(col("us"), col("event_id"))
      val desc = Window.partitionBy(col("user_id"), col("day"))
        .orderBy(col("us").desc, col("event_id").desc)
      e.withColumn("rn_a", row_number().over(asc))
        .withColumn("rn_d", row_number().over(desc))
        .groupBy(col("user_id"), col("day"))
        .agg(
          max(when(col("rn_a") === 1, col("value"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max(when(col("rn_d") === 1, col("value"))).as("close"),
          count(lit(1)).as("n"))
        .orderBy(col("user_id"), col("day"))
    }),

    // ---- q140: label-propagation communities over the part co-purchase
    // graph (parts appearing in the same order — the market-basket
    // co-occurrence formulation; a lead() path graph would be cheaper but
    // l_linenumber TIES within an order make its edge set engine-
    // nondeterministic). Pair fan-out is C(items-per-order, 2) ≤ ~21 —
    // bounded by the basket, the q24 cap discipline, never a data-sized
    // cartesian. Deterministic synchronous variant: 3 rounds, most-
    // frequent neighbor label, ties to the smallest label. Completes the
    // graph family (q111 ranking, q129 distance, q131 structure, q54
    // connectivity) with DENSITY grouping — unlike connectedComponents,
    // dense regions split apart instead of merging everything reachable.
    // The oracle unrolls all 3 synchronous rounds as chained CTEs. ----
    "q140_label_propagation" -> ((s, dir) =>
      // consumes the shared artifacts: bucketed basket edges
      // ([[basketEdges]]) propagated once per session
      // ([[basketCommunities]]); q218 audits the same result
      basketCommunities(s, dir).orderBy(col("node"))),

    // ---- q218: modularity of the q140 communities — the clustering-
    // quality gate on the propagation output itself (Q ≈ 0 would mean
    // the labels carry no more within-community edge mass than a
    // degree-preserving random rewiring; the hash pin freezes both the
    // community structure AND its quality). All masses exact integers;
    // Q is the only double. ----
    "q218_modularity" -> ((s, dir) => {
      // both shared artifacts: the bucketed edge set AND the q140
      // propagation result ([[basketCommunities]]) — the audit reads
      // the exact communities q140 returned instead of re-propagating
      graft.api.Graft.modularity(basketEdges(s, dir), "src", "dst",
        basketCommunities(s, dir))
    }),

    // ---- q143: count–min sketch heavy hitters — the mergeable
    // frequency sketch completing the sketch family (q41/q104 HLL
    // cardinality, q90 percentile, q97 bloom membership): 4 md5-seeded
    // hash rows × 256 buckets built STRAIGHT from the raw rows (per-row
    // depth-way fan-out collapses map-side to ≤ 1024 cells per
    // partition — the true streaming-increment shape), estimates = min
    // over each key's cells, q91's exact counts riding as the gate.
    // Deterministic seeds → a full DuckDB hash replay, not a self-gate. ----
    "q143_cms_heavy_hitters" -> ((s, dir) =>
      graft.api.Graft.cmsHeavyHitters(t(s, dir, "events"), "user_id",
        depth = 4, width = 256, k = 20).orderBy(col("rk"))),

    // ---- q194: CMS join-size estimate — q132's exact audit answered
    // from two count–min sketches' inner product (min over depth):
    // each side touched once, never joined. Counters are sums, so the
    // sketch is merge-order-invariant at any cardinality and the
    // estimate hash-gates exactly; the never-underestimates guarantee
    // is asserted against the exact size riding along. ----
    "q194_cms_join_estimate" -> ((s, dir) =>
      graft.api.Graft.cmsJoinSizeEstimate(
        t(s, dir, "lineitem"), "l_partkey",
        t(s, dir, "part").filter(col("p_size") <= 20), "p_partkey",
        depth = 4, width = 4096)),

    // ---- q145: dyadic EWMA — the recursive smoother y = (x + y_prev)/2
    // restarted at the head of a 20-lag sliding frame, completing the
    // time-series family (q117 trend, q92 TWA, q93 OHLC, q94 sliding
    // sums) with EXPONENTIAL decay: all weights are powers of two, so
    // micro-quantized values give an exact BIGINT weighted sum under any
    // execution order and ONE final double division — the first exactly-
    // gated exponential smoother (the usual α·x + (1−α)·y recursion is
    // order-dependent float and cross-engine unreplayable). Tail weight
    // beyond 20 lags < 1e-6: the window form IS the streaming shape. ----
    "q145_ewma" -> ((s, dir) =>
      graft.api.Graft.ewmaDyadic(t(s, dir, "events"), "value", "user_id",
        Seq("ts", "event_id"), lags = 20)
        .orderBy(col("user_id"), col("rn"))),

    // ---- q146: cross-source quantile normalization — map each
    // event_type's value distribution onto the GLOBAL one (the score-
    // calibration transform heterogeneous-source curation ranks on: after
    // it, every source's quantiles coincide, so one threshold means the
    // same thing everywhere). Global order statistics come from
    // Graft.globalRank — the two-phase range-partition + offset ranking,
    // NEVER Spark's one-partition ORDER BY window — and the rank→position
    // map ⌊(r−1)(N−1)/(n−1)⌋+1 is pure integer arithmetic, so the only
    // doubles in the output are input values themselves. ----
    "q146_quantile_normalize" -> ((s, dir) =>
      graft.api.Graft.quantileNormalize(
        t(s, dir, "events").select(col("event_id"), col("event_type"),
          col("value")),
        "value", "event_type", "event_id")
        .orderBy(col("event_id"))),

    // ---- q147: k-core decomposition — the web-graph quality filter
    // (strip everything that doesn't keep >= k neighbors after weaker
    // nodes are recursively peeled) over q140's basket co-purchase
    // graph (k=70 converges here in 3 rounds: 2000 -> 1972 -> 1971 ->
    // stable — a genuine cascade, and round 3 proves the fixpoint).
    // Synchronous peeling: each round one degree aggregate + two
    // endpoint semi-joins, edge table only shrinks; 3 rounds unrolled as
    // chained CTEs in the oracle. Completes the graph family's DENSITY
    // axis: q140 groups dense regions, q147 EXTRACTS the dense core. ----
    "q147_kcore" -> ((s, dir) =>
      // consumes the shared CANONICAL edge + degree artifacts
      // ([[basketCanon]]/[[basketDegrees]]): peeling runs on long keys
      // end to end (r13 — the string cast moved to the output, where it
      // produces the identical values), and the per-query distinct +
      // initial degree aggregate are skipped
      graft.api.Graft.kCore(basketCanon(s, dir), "src", "dst",
          k = 70, rounds = 3, canonicalEdges = true,
          degrees = Some(basketDegrees(s, dir)))
        .orderBy(col("node"))),

    // ---- q148: exact winsorization — clip each event's value into its
    // event_type's [P5, P95] order-statistic band (outlier taming before
    // any mean/normalization; the exact counterpart of q90's approx
    // percentile and q118's MAD flagging — this one REWRITES the value).
    // Bound positions are ⌈p·n/1000⌉ integer arithmetic; the two bound
    // rows per group collapse to a 5-row broadcast. ----
    "q148_winsorize" -> ((s, dir) =>
      graft.api.Graft.winsorize(
        t(s, dir, "events").select(col("event_id"), col("event_type"),
          col("value")),
        "value", "event_type", "event_id", loPermille = 50,
        hiPermille = 950)
        .orderBy(col("event_id"))),

    // ---- q149: per-type autocorrelation at lags 1..3 — the
    // seasonality/persistence detector next to q117's trend slope and
    // q145's EWMA. The mean never materializes: the r_k estimator is
    // cross-multiplied by n² so numerator and denominator are single
    // exact DECIMAL(38,0)/int128 integers (elements micro-quantized
    // through the q92 DECIMAL(19,6) cast), and r_k is ONE double
    // division. One window shuffle computes all three leads. ----
    "q149_acf" -> ((s, dir) =>
      graft.api.Graft.acf(t(s, dir, "events"), "value", "event_type",
          "ts", "event_id", maxLag = 3)
        .orderBy(col("event_type"), col("lag"))),

    // ---- q150: CUSUM changepoint scan per event type — the sequential
    // level-shift alarm (q122/q136 compare whole distributions; this
    // one pinpoints WHERE the series drifts). The max(0, ·) recursion is
    // rewritten as running-sum − min(0, running-min(running-sum)) so two
    // window functions over ONE key-partitioned sort replace the
    // unwindowable recursion; all state is exact n-scaled integers and
    // the alarm compare never touches a double. ----
    "q150_cusum" -> ((s, dir) =>
      graft.api.Graft.cusum(t(s, dir, "events"), "value", "event_type",
          "ts", "event_id", slack = 5.0, threshold = 50.0)
        .orderBy(col("event_id"))),

    // ---- q295: offline changepoint LOCALIZATION (binary segmentation,
    // first split) on the click value series — q150's CUSUM alarms "a
    // shift happened within the horizon"; this answers WHERE, maximizing
    // the between-segment SSE reduction n_L·n_R/n·(μ_L−μ_R)² over every
    // day boundary. Day-level prefix stats come from globalCumSum's
    // partition-offset device over the per-day aggregate (the series
    // table is #days-sized — never an event-level window); the gain's
    // exact-integer core d = S_L·n_R − S_R·n_L is a Decimal(38) before
    // the ONE fixed double chain, argmax by TakeOrdered with a day
    // tie-break. Cents in, cents² gain out — exact. ----
    "q295_changepoint" -> ((s, dir) => {
      val ev = t(s, dir, "events").filter(col("event_type") === "click")
        .select(graft.api.Graft.epochDay(col("ts")).as("day"),
          round(col("value") * lit(100.0)).cast(LongType).as("vc"))
      val daily = ev.groupBy(col("day"))
        .agg(count(lit(1)).as("c"), sum(col("vc")).as("sc"))
      val tot = daily.agg(sum(col("c")).as("nt"), sum(col("sc")).as("st"),
        count(lit(1)).as("n_days"), max(col("day")).as("last_day"))
      val cum = graft.api.Graft.globalCumSum(
        graft.api.Graft.globalCumSum(daily, Seq("day"), "c", "cn"),
        Seq("day"), "sc", "cs")
      cum.crossJoin(broadcast(tot))
        .filter(col("day") < col("last_day"))
        .withColumn("d",
          (col("cs").cast(DecimalType(38, 0)) *
            (col("nt") - col("cn")).cast(DecimalType(38, 0)) -
           (col("st") - col("cs")).cast(DecimalType(38, 0)) *
            col("cn").cast(DecimalType(38, 0))))
        .withColumn("gainq", round(
          col("d").cast(DoubleType) * col("d").cast(DoubleType) /
            col("cn").cast(DoubleType) /
            (col("nt") - col("cn")).cast(DoubleType) /
            col("nt").cast(DoubleType)).cast(LongType))
        .orderBy(col("gainq").desc, col("day"))
        .limit(1)
        .select(col("day").as("split_day"), col("n_days"),
          col("cn").as("n_before"), (col("nt") - col("cn")).as("n_after"),
          (col("cs").cast(DoubleType) / col("cn").cast(DoubleType) /
            lit(100.0)).as("mean_before"),
          ((col("st") - col("cs")).cast(DoubleType) /
            (col("nt") - col("cn")).cast(DoubleType) / lit(100.0))
            .as("mean_after"),
          col("gainq"))
    }),

    // ---- q151: chi-square drift of each source's LANGUAGE MIX vs the
    // corpus — the categorical axis of the drift family (q122 KS and
    // q136 PSI are numeric). Terms are nano-scaled by integer long
    // division (euclidean q·1e9 + rem·1e9 div den) — no rounding
    // function exists anywhere, so the rational .5-tie surface that bit
    // q123 in r7 cannot exist. Zero-observed cells enter via the grid
    // left join. ----
    "q151_chisq_drift" -> ((s, dir) =>
      graft.api.Graft.chiSquareDrift(t(s, dir, "documents"), "lang", "source")
        .orderBy(col("source"))),

    // ---- q152: two-proportion A/B z-test — variant from bit 0 of the
    // cross-engine md5 of user_id (the deterministic hash-bucket
    // assignment real experiment platforms use), conversion = the user
    // has a purchase event. One user-keyed aggregate + one 1-row count
    // aggregate; z is a fixed IEEE double chain over exact counts, so
    // both engines produce the identical bits. ----
    "q152_ab_ztest" -> ((s, dir) => {
      val units = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("__cv"))
        .select(
          (call_function("md5_lower64", col("user_id").cast(StringType))
            .bitwiseAND(lit(1L)) === 1L).as("variant"),
          (col("__cv") === 1L).as("converted"))
      graft.api.Graft.twoProportionZTest(units, "variant", "converted")
    }),

    // ---- q153: weighted HITS hubs & authorities over the event-type
    // transition graph — q111's companion link analysis (PageRank ranks
    // POPULARITY; HITS separates good SOURCES of links from good
    // TARGETS). 8 mutual-recursion rounds, L1-normalized per half-round,
    // in-sums pico-quantized (the q111 policy verbatim); the oracle
    // unrolls all 16 half-rounds as chained MATERIALIZED CTEs. ----
    "q153_hits" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")), col("event_id"))
      val edges = t(s, dir, "events")
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("src"), col("next_type").as("dst"))
        .agg(count(lit(1)).as("w"))
      graft.api.Graft.hits(edges, "src", "dst", "w", iterations = 8)
        .orderBy(col("node"))
    }),

    // ---- q154: order-free table fingerprint — the migration/compaction
    // integrity check: XOR of per-row 63-bit md5 hashes + exact count,
    // computed over lineitem AND over a repartitioned copy of it, with
    // the equality emitted in-band — the query itself PROVES the
    // fingerprint is partitioning- and order-invariant. Map-side XOR,
    // 1-row result, no data shuffle. ----
    "q154_table_fingerprint" -> ((s, dir) => {
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey",
        "l_linenumber", "l_returnflag")
      val li = t(s, dir, "lineitem")
      val a = graft.api.Graft.tableFingerprint(li, cols)
      val b = graft.api.Graft.tableFingerprint(li.repartition(17), cols)
      a.crossJoin(b.select(col("n_rows").as("n_rows_rewrite"),
          col("fingerprint").as("fingerprint_rewrite")))
        .select(col("n_rows"), col("fingerprint"),
          col("n_rows_rewrite"), col("fingerprint_rewrite"),
          (col("fingerprint") === col("fingerprint_rewrite") &&
            col("n_rows") === col("n_rows_rewrite"))
            .cast(IntegerType).as("is_match"))
    }),

    // ---- q155: pairwise association rules over order baskets —
    // market-basket support/confidence/lift on the q140/q147 co-purchase
    // structure (q119's event paths are the SEQUENTIAL analogue; this is
    // set co-occurrence). Support filter is an integer compare; every
    // ratio is a single double division of exact counts. ----
    "q155_assoc_rules" -> ((s, dir) =>
      graft.api.Graft.assocRules(
        t(s, dir, "lineitem").select(col("l_orderkey").as("basket"),
          col("l_partkey").as("item")),
        "basket", "item", minSupport = 3L)
        .orderBy(col("item_a"), col("item_b"))),

    // ---- q156: Theil–Sen robust trend per customer — the median of
    // all pairwise slopes, q117's heavy-tail-safe twin exactly as q118
    // MAD is to q85's z-score (one wild order moves OLS arbitrarily,
    // shifts a slope MEDIAN by one rank). Pair-gen is the capped keyed
    // self-join (C(min(n,100),2) per key); each slope is one double
    // division of exact day/cent longs; median selection is integer
    // rank arithmetic over a deterministic order. ----
    "q156_theil_sen" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"),
        graft.api.Graft.epochDay(col("o_orderdate").cast(TimestampType)).as("t"),
        round(col("o_totalprice") * lit(100.0)).cast(LongType).as("vc"))
      graft.api.Graft.theilSen(o, "o_custkey", "t", "vc", maxPoints = 100)
        .select(col("o_custkey"), col("n"), col("n_pairs"),
          (col("slope_ts") / lit(100.0)).as("slope_per_day"))
        .orderBy(col("o_custkey"))
    }),

    // ---- q157: zone-map skip audit — per-file SKIPPABLE decisions for
    // a key-range predicate from a stats manifest (file, min, max,
    // rows): the data-skipping planner next to q130's compaction and
    // q116's range layout; predicts scan cost before touching data.
    // Pure integer compares over manifest-sized input. ----
    "q157_zonemap_audit" -> ((s, dir) => {
      val manifest = t(s, dir, "lineitem")
        .groupBy(expr("l_orderkey div 4096").as("file_id"))
        .agg(min(col("l_orderkey")).as("mn"), max(col("l_orderkey")).as("mx"),
          count(lit(1)).as("rows"))
      graft.api.Graft.zoneMapSkipAudit(manifest, "file_id", "mn", "mx",
          "rows", lo = 8192L, hi = 16384L)
        .orderBy(col("file_id"))
    }),

    // ---- q158: cross-correlation of daily click vs purchase counts at
    // lags −3..3 — q149's cross-series twin (does click volume LEAD
    // purchase volume?). Day grid includes gap days as genuine zeros;
    // the estimator is cross-multiplied by n² (single exact int128
    // numerator/variances), one fixed double chain with two sqrts. ----
    "q158_ccf" -> ((s, dir) =>
      graft.api.Graft.ccf(t(s, dir, "events"), "ts", "event_type",
          "click", "purchase", maxLag = 3)
        .orderBy(col("lag"))),

    // ---- q159: keyed table diff — q154's drill-down (fingerprints say
    // IF two versions differ; this says WHERE): orders vs a
    // deterministically mutated copy (keys ≡ 0 mod 97 deleted, keys ≡ 1
    // mod 97 status-changed) through one hash projection per side + ONE
    // keyed full-outer join; identical rows emit nothing. ----
    "q159_table_diff" -> ((s, dir) => {
      val a = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_custkey"))
      val b = a.filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 97 === 1, lit("X"))
            .otherwise(col("o_orderstatus")))
      graft.api.Graft.tableDiff(a, b, Seq("o_orderkey"),
          Seq("o_orderstatus", "o_custkey"))
        .orderBy(col("o_orderkey"))
    })
  )

  /** q158 twin: identical day grid (gap days zero-filled via
    * generate_series), per-lag pair sums via the same lead() windows,
    * HUGEINT cross-multiplied moments, the same two-sqrt double chain. */
  private def ccfSql(maxLag: Int): String = {
    def lagSelect(lag: Int): String = {
      val (a, b) =
        if (lag < 0) (s"xl${-lag}", "y")
        else if (lag == 0) ("x", "y")
        else ("x", s"yl$lag")
      s"""  SELECT CAST($lag AS BIGINT) AS lag, COUNT(*) AS n_pairs,
         |    SUM(CAST($a AS HUGEINT) * $b) AS sab, SUM($a) AS sa, SUM($b) AS sb
         |  FROM l WHERE $a IS NOT NULL AND $b IS NOT NULL""".stripMargin
    }
    val leadCols = (1 to maxLag).map(k =>
      s"lead(y, $k) OVER w AS yl$k, lead(x, $k) OVER w AS xl$k").mkString(", ")
    val lagCtes = (-maxLag to maxLag).map(lagSelect).mkString("\n  UNION ALL\n")
    s"""WITH e AS (
       |  SELECT epoch_us(ts) // 86400000000 AS d, event_type AS t FROM events),
       |c AS (
       |  SELECT d, COUNT(*) FILTER (WHERE t = 'click') AS x,
       |         COUNT(*) FILTER (WHERE t = 'purchase') AS y
       |  FROM e GROUP BY d),
       |bounds AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM e),
       |grid AS (
       |  SELECT g.d, COALESCE(c.x, 0) AS x, COALESCE(c.y, 0) AS y
       |  FROM (SELECT unnest(generate_series(d0, d1)) AS d FROM bounds) g
       |  LEFT JOIN c USING (d)),
       |l AS (SELECT d, x, y, $leadCols FROM grid WINDOW w AS (ORDER BY d)),
       |g1 AS (
       |  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
       |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
       |    SUM(CAST(y AS HUGEINT) * y) AS syy
       |  FROM grid),
       |pl AS (
       |$lagCtes)
       |SELECT pl.lag, pl.n_pairs,
       |  CASE WHEN CAST(g1.n AS HUGEINT) * g1.n * g1.sxx
       |         - CAST(g1.n AS HUGEINT) * g1.sx * g1.sx = 0
       |       OR CAST(g1.n AS HUGEINT) * g1.n * g1.syy
       |         - CAST(g1.n AS HUGEINT) * g1.sy * g1.sy = 0 THEN NULL
       |  ELSE CAST(CAST(g1.n AS HUGEINT) * g1.n * pl.sab
       |         - CAST(g1.n AS HUGEINT) * g1.sy * pl.sa
       |         - CAST(g1.n AS HUGEINT) * g1.sx * pl.sb
       |         + CAST(pl.n_pairs AS HUGEINT) * g1.sx * g1.sy AS DOUBLE)
       |    / (sqrt(CAST(CAST(g1.n AS HUGEINT) * g1.n * g1.sxx
       |         - CAST(g1.n AS HUGEINT) * g1.sx * g1.sx AS DOUBLE))
       |      * sqrt(CAST(CAST(g1.n AS HUGEINT) * g1.n * g1.syy
       |         - CAST(g1.n AS HUGEINT) * g1.sy * g1.sy AS DOUBLE))) END AS ccf
       |FROM pl CROSS JOIN g1
       |ORDER BY lag""".stripMargin
  }

  /** Unrolled HITS twin of [[graft.api.Graft.hits]]: 2·iters chained
    * half-rounds (authority pull, L1 normalize; hub pull, L1 normalize)
    * with the identical pico-quantized sums. */
  private def hitsSql(iters: Int): String = {
    val q = "1000000000000.0"
    val rounds = (1 to iters).map { i =>
      s"""aq$i AS MATERIALIZED (
         |  SELECT e.dst AS node,
         |    SUM(CAST(ROUND(e.w * h.hub * $q) AS BIGINT)) AS aq
         |  FROM ew e JOIN h${i - 1} h ON h.node = e.src GROUP BY e.dst),
         |asum$i AS MATERIALIZED (SELECT CAST(SUM(aq) AS BIGINT) AS s FROM aq$i),
         |a$i AS MATERIALIZED (
         |  SELECT n.node,
         |    CAST(COALESCE(aq.aq, 0) AS DOUBLE) / CAST(s.s AS DOUBLE) AS auth
         |  FROM nodes n LEFT JOIN aq$i aq USING (node) CROSS JOIN asum$i s),
         |hq$i AS MATERIALIZED (
         |  SELECT e.src AS node,
         |    SUM(CAST(ROUND(e.w * a.auth * $q) AS BIGINT)) AS hq
         |  FROM ew e JOIN a$i a ON a.node = e.dst GROUP BY e.src),
         |hsum$i AS MATERIALIZED (SELECT CAST(SUM(hq) AS BIGINT) AS s FROM hq$i),
         |h$i AS MATERIALIZED (
         |  SELECT n.node,
         |    CAST(COALESCE(hq.hq, 0) AS DOUBLE) / CAST(s.s AS DOUBLE) AS hub
         |  FROM nodes n LEFT JOIN hq$i hq USING (node) CROSS JOIN hsum$i s)""".stripMargin
    }.mkString(",\n")
    s"""WITH nxt AS (
       |  SELECT event_type,
       |    lead(event_type) OVER (PARTITION BY user_id
       |      ORDER BY epoch_us(ts), event_id) AS next_type
       |  FROM events),
       |ew AS MATERIALIZED (
       |  SELECT event_type AS src, next_type AS dst,
       |    CAST(COUNT(*) AS DOUBLE) AS w
       |  FROM nxt WHERE next_type IS NOT NULL GROUP BY 1, 2),
       |nodes AS MATERIALIZED (
       |  SELECT src AS node FROM ew UNION SELECT dst FROM ew),
       |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM nodes),
       |h0 AS MATERIALIZED (
       |  SELECT node, 1.0 / nd AS hub FROM nodes CROSS JOIN nn),
       |$rounds
       |SELECT a.node, a.auth AS authority, h.hub
       |FROM a$iters a JOIN h$iters h USING (node) ORDER BY a.node""".stripMargin
  }

  /** q149 twin: identical micro-quantization, per-lag pair sums via the
    * same lead() windows, HUGEINT cross-multiplied moments, one double
    * division. */
  private def acfSql(maxLag: Int): String = {
    val lagCtes = (1 to maxLag).map { k =>
      s"""  SELECT k, $k AS lag, COUNT(*) AS n_pairs,
         |    SUM(CAST(x AS HUGEINT) * xk) AS sk, SUM(x) AS sh, SUM(xk) AS st
         |  FROM (SELECT k, xq AS x,
         |          lead(xq, $k) OVER (PARTITION BY k ORDER BY us, id) AS xk
         |        FROM b) t
         |  WHERE xk IS NOT NULL GROUP BY k""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH b AS (
       |  SELECT event_type AS k, epoch_us(ts) AS us, event_id AS id,
       |    CAST(CAST(value AS DECIMAL(19,6)) * 1000000 AS BIGINT) AS xq
       |  FROM events),
       |g AS (
       |  SELECT k, COUNT(*) AS n, SUM(xq) AS sx,
       |    SUM(CAST(xq AS HUGEINT) * xq) AS sxx
       |  FROM b GROUP BY k),
       |pl AS (
       |$lagCtes)
       |SELECT pl.k AS event_type, CAST(pl.lag AS BIGINT) AS lag, g.n,
       |  pl.n_pairs,
       |  CASE WHEN CAST(g.n AS HUGEINT) * g.n * g.sxx
       |         - CAST(g.n AS HUGEINT) * g.sx * g.sx = 0 THEN NULL
       |  ELSE CAST(CAST(g.n AS HUGEINT) * g.n * pl.sk
       |         - CAST(g.n AS HUGEINT) * g.sx * pl.sh
       |         - CAST(g.n AS HUGEINT) * g.sx * pl.st
       |         + CAST(g.n - pl.lag AS HUGEINT) * g.sx * g.sx AS DOUBLE)
       |     / CAST(CAST(g.n AS HUGEINT) * g.n * g.sxx
       |         - CAST(g.n AS HUGEINT) * g.sx * g.sx AS DOUBLE) END AS acf
       |FROM pl JOIN g ON pl.k = g.k
       |ORDER BY event_type, lag""".stripMargin
  }

  /** q150 twin: the same prefix-algebra rewrite (running sum − clamped
    * running min) over the same n-scaled HUGEINT deltas; alarm compare
    * in integer space. */
  private def cusumSql(slackMicro: Long, thresholdMicro: Long): String =
    s"""WITH b AS (
       |  SELECT event_type AS k, epoch_us(ts) AS us, event_id AS id,
       |    CAST(CAST(value AS DECIMAL(19,6)) * 1000000 AS BIGINT) AS xq
       |  FROM events),
       |g AS (SELECT k, COUNT(*) AS n, SUM(xq) AS sx FROM b GROUP BY k),
       |d AS (
       |  SELECT b.k, b.us, b.id, g.n,
       |    CAST(g.n AS HUGEINT) * b.xq - CAST(g.sx AS HUGEINT)
       |      - CAST(g.n AS HUGEINT) * $slackMicro AS dd
       |  FROM b JOIN g ON b.k = g.k),
       |r AS (
       |  SELECT k, us, id, n,
       |    SUM(dd) OVER (PARTITION BY k ORDER BY us, id
       |      ROWS UNBOUNDED PRECEDING) AS rr
       |  FROM d),
       |m AS (
       |  SELECT k, id, n, rr,
       |    LEAST(CAST(0 AS HUGEINT), MIN(rr) OVER (PARTITION BY k
       |      ORDER BY us, id ROWS UNBOUNDED PRECEDING)) AS mm
       |  FROM r)
       |SELECT k AS event_type, id AS event_id,
       |  CAST(rr - mm AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 AS cusum,
       |  CAST(rr - mm > CAST(n AS HUGEINT) * $thresholdMicro AS INTEGER) AS alarm
       |FROM m ORDER BY event_id""".stripMargin

  /** Unrolled synchronous k-core twin of [[graft.api.Graft.kCore]]:
    * each round keeps nodes of degree >= k and induces the subgraph —
    * chained MATERIALIZED CTEs e0..e{rounds}. */
  private def kCoreSql(k: Int, rounds: Int): String = {
    val rs = (1 to rounds).map { i =>
      s"""k$i AS (SELECT node FROM (
         |  SELECT node, COUNT(*) AS c FROM e${i - 1} GROUP BY node)
         |  WHERE c >= $k),
         |e$i AS MATERIALIZED (
         |  SELECT e.node, e.nbr FROM e${i - 1} e
         |  JOIN k$i x ON e.node = x.node
         |  JOIN k$i y ON e.nbr = y.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH seq AS (
       |  SELECT CAST(x.l_partkey AS VARCHAR) AS a,
       |    CAST(y.l_partkey AS VARCHAR) AS b
       |  FROM lineitem x JOIN lineitem y
       |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
       |und AS MATERIALIZED (
       |  SELECT DISTINCT a, b FROM seq WHERE b IS NOT NULL AND a <> b),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT node, nbr FROM (
       |    SELECT a AS node, b AS nbr FROM und
       |    UNION ALL SELECT b, a FROM und)),
       |$rs
       |SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
       |FROM e$rounds GROUP BY node ORDER BY node""".stripMargin
  }

  /** Unrolled synchronous label-propagation twin of
    * [[graft.api.Graft.labelPropagation]]: each round re-derives every
    * node's most frequent neighbor label (ties → smallest label) from the
    * previous round's table — chained MATERIALIZED CTEs l0..l{rounds}. */
  /** q219 twin: the full 8-level Hilbert rotate-flip walk unrolled as a
    * CTE chain (each level: quadrant digit from the bit plane, then the
    * conditional flip+swap frame rotation), the Morton bit spread as
    * nested mask arithmetic, and the identical rank→bucket→bbox audit.
    * All integers, so any faithful formulation matches exactly. */
  private def hilbertLocalitySql: String = {
    val levels = (7 to 0 by -1).map(i => 1L << i)
    val hs = levels.zipWithIndex.map { case (sv, i) =>
      s"""h${i + 1} AS (
         |  SELECT p_partkey, ox, oy,
         |    CASE WHEN ry = 0 THEN
         |           CASE WHEN rx = 1 THEN $sv - 1 - y ELSE y END
         |         ELSE x END AS x,
         |    CASE WHEN ry = 0 THEN
         |           CASE WHEN rx = 1 THEN $sv - 1 - x ELSE x END
         |         ELSE y END AS y,
         |    d + $sv * $sv * (CASE WHEN rx = 0 AND ry = 0 THEN 0
         |                          WHEN rx = 0 THEN 1
         |                          WHEN ry = 0 THEN 3 ELSE 2 END) AS d
         |  FROM (SELECT *,
         |          CASE WHEN (x & $sv) > 0 THEN 1 ELSE 0 END AS rx,
         |          CASE WHEN (y & $sv) > 0 THEN 1 ELSE 0 END AS ry
         |        FROM h$i))""".stripMargin
    }.mkString(",\n")
    def spread(c: String): String =
      s"""((((($c | ($c << 4)) & 3855) | ((($c | ($c << 4)) & 3855) << 2))
         |  & 13107) |
         | ((((($c | ($c << 4)) & 3855) | ((($c | ($c << 4)) & 3855) << 2))
         |  & 13107) << 1)) & 21845""".stripMargin.replace("\n", "")
    s"""WITH pts AS (
       |  SELECT p_partkey, CAST(p_size % 256 AS BIGINT) AS ox,
       |    CAST(round(p_retailprice * 100.0) AS BIGINT) % 256 AS oy
       |  FROM part),
       |h0 AS (SELECT p_partkey, ox, oy, ox AS x, oy AS y,
       |         CAST(0 AS BIGINT) AS d FROM pts),
       |$hs,
       |hk AS (SELECT p_partkey, ox, oy, d AS k FROM h8),
       |mk AS (SELECT p_partkey, ox, oy,
       |         (${spread("ox")}) | ((${spread("oy")}) << 1) AS k FROM pts),
       |hr AS (SELECT ox, oy,
       |         (ROW_NUMBER() OVER (ORDER BY k, p_partkey) - 1) // 16 AS b
       |       FROM hk),
       |mr AS (SELECT ox, oy,
       |         (ROW_NUMBER() OVER (ORDER BY k, p_partkey) - 1) // 16 AS b
       |       FROM mk),
       |hb AS (SELECT b, COUNT(*) AS n,
       |         (MAX(ox) - MIN(ox) + 1) * (MAX(oy) - MIN(oy) + 1) AS area
       |       FROM hr GROUP BY b),
       |mb AS (SELECT b, COUNT(*) AS n,
       |         (MAX(ox) - MIN(ox) + 1) * (MAX(oy) - MIN(oy) + 1) AS area
       |       FROM mr GROUP BY b)
       |SELECT 'hilbert' AS curve, CAST(COUNT(*) AS BIGINT) AS n_buckets,
       |  CAST(SUM(n) AS BIGINT) AS n_points,
       |  CAST(SUM(area) AS BIGINT) AS sum_bbox_area,
       |  CAST(SUM(area) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       |    AS avg_bbox_area
       |FROM hb
       |UNION ALL
       |SELECT 'morton', CAST(COUNT(*) AS BIGINT), CAST(SUM(n) AS BIGINT),
       |  CAST(SUM(area) AS BIGINT),
       |  CAST(SUM(area) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       |FROM mb
       |ORDER BY curve""".stripMargin
  }

  private def labelPropSql(rounds: Int,
      finalSql: Option[String] = None): String = {
    val rs = (1 to rounds).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT node, lab FROM (
         |    SELECT n.node, l.lab, COUNT(*) AS c,
         |      ROW_NUMBER() OVER (PARTITION BY n.node
         |        ORDER BY COUNT(*) DESC, l.lab) AS rn
         |    FROM nbrs n JOIN l${i - 1} l ON n.nbr = l.node
         |    GROUP BY n.node, l.lab) t
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val fin = finalSql.getOrElse(
      s"SELECT node, lab FROM l$rounds ORDER BY node")
    s"""WITH seq AS (
       |  SELECT CAST(x.l_partkey AS VARCHAR) AS a,
       |    CAST(y.l_partkey AS VARCHAR) AS b
       |  FROM lineitem x JOIN lineitem y
       |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
       |und AS MATERIALIZED (
       |  SELECT DISTINCT a, b FROM seq WHERE b IS NOT NULL AND a <> b),
       |nbrs AS MATERIALIZED (
       |  SELECT DISTINCT node, nbr FROM (
       |    SELECT a AS node, b AS nbr FROM und
       |    UNION ALL SELECT b, a FROM und)),
       |l0 AS MATERIALIZED (SELECT DISTINCT node, node AS lab FROM nbrs),
       |$rs
       |$fin""".stripMargin
  }

  /** Unrolled power-iteration twin of [[graft.api.Graft.pageRank]]: the
    * identical double expression tree per round ((1-d)/N + d·(in +
    * dang/N)), with in-sums and dangling mass pico-quantized exactly as
    * the Spark side quantizes them — chained CTEs r0..r{iters}. */
  private def pagerankSql(iters: Int): String = {
    val q = "1000000000000.0"
    // every round CTE is MATERIALIZED: each references the previous round
    // twice (in-sum + dangling), and DuckDB inlines plain CTEs — 10
    // rounds of 2× expansion is a 2^10 plan that OOMs the oracle
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
    s"""WITH nxt AS (
       |  SELECT event_type,
       |    lead(event_type) OVER (PARTITION BY user_id
       |      ORDER BY epoch_us(ts), event_id) AS next_type
       |  FROM events),
       |edges AS MATERIALIZED (
       |  SELECT event_type AS src, next_type AS dst, COUNT(*) AS w
       |  FROM nxt WHERE next_type IS NOT NULL GROUP BY 1, 2),
       |nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM nodes),
       |outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src),
       |ep AS MATERIALIZED (SELECT src, dst, CAST(w AS DOUBLE) / CAST(ow AS DOUBLE) AS p
       |       FROM edges JOIN outw USING (src)),
       |dangling AS MATERIALIZED (SELECT node FROM nodes WHERE node NOT IN (SELECT src FROM edges)),
       |r0 AS MATERIALIZED (SELECT node, 1.0 / nd AS rank FROM nodes CROSS JOIN nn),
       |$rounds
       |SELECT node, ROUND(rank, 12) AS rank FROM r$iters ORDER BY node""".stripMargin
  }

  /** q247 oracle: pagerankSql's round device with the teleport vector
    * concentrated on the seed node — r0 = s, (1−d)·sv per node, dangling
    * mass × sv; identical quantized in-sums. */
  private def pprSql(iters: Int, seed: String): String = {
    val q = "1000000000000.0"
    val rounds = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT n.node,
         |    (1.0 - 0.85) * n.sv + 0.85 * (COALESCE(ins.in_r, 0.0) + dg.dang * n.sv) AS rank
         |  FROM sv n
         |  LEFT JOIN (
         |    SELECT e.dst AS node,
         |      CAST(SUM(CAST(ROUND(r.rank * e.p * $q) AS BIGINT)) AS DOUBLE) / $q AS in_r
         |    FROM ep e JOIN r${i - 1} r ON r.node = e.src GROUP BY e.dst) ins USING (node)
         |  CROSS JOIN (
         |    SELECT CAST(COALESCE(SUM(CAST(ROUND(r.rank * $q) AS BIGINT)), 0) AS DOUBLE) / $q AS dang
         |    FROM r${i - 1} r JOIN dangling d ON d.node = r.node) dg)""".stripMargin
    }.mkString(",\n")
    s"""WITH nxt AS (
       |  SELECT event_type,
       |    lead(event_type) OVER (PARTITION BY user_id
       |      ORDER BY epoch_us(ts), event_id) AS next_type
       |  FROM events),
       |edges AS MATERIALIZED (
       |  SELECT event_type AS src, next_type AS dst, COUNT(*) AS w
       |  FROM nxt WHERE next_type IS NOT NULL GROUP BY 1, 2),
       |nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |ns AS MATERIALIZED (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS nsd FROM nodes WHERE node = '$seed'),
       |sv AS MATERIALIZED (
       |  SELECT node, CASE WHEN node = '$seed' THEN 1.0 / ns.nsd ELSE 0.0 END AS sv
       |  FROM nodes CROSS JOIN ns),
       |outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src),
       |ep AS MATERIALIZED (SELECT src, dst, CAST(w AS DOUBLE) / CAST(ow AS DOUBLE) AS p
       |       FROM edges JOIN outw USING (src)),
       |dangling AS MATERIALIZED (SELECT node FROM nodes WHERE node NOT IN (SELECT src FROM edges)),
       |r0 AS MATERIALIZED (SELECT node, sv AS rank FROM sv),
       |$rounds
       |SELECT node, ROUND(rank, 12) AS rank FROM r$iters ORDER BY node""".stripMargin
  }

  /** q249 oracle: the IRLS rounds unrolled as chained CTEs — identical
    * cents quantization, centi-cent deviations, nano-quantized weights,
    * HUGEINT weighted sums and the q166 floor-division re-estimate. */
  private def huberSql(rounds: Int, kq: Long): String = {
    val steps = (1 to rounds).map { i =>
      s"""w$i AS (
         |  SELECT b.grp, b.xc,
         |    CASE WHEN ABS(b.xc * 100 - (e${i - 1}.mu // 100)) <= $kq
         |         THEN 1000000000
         |         ELSE CAST(ROUND($kq * 1000000000.0 /
         |           ABS(b.xc * 100 - (e${i - 1}.mu // 100))) AS BIGINT) END AS wq
         |  FROM b JOIN e${i - 1} USING (grp)),
         |e$i AS (
         |  SELECT grp,
         |    (SUM(CAST(wq AS HUGEINT) * xc) * 10000) // SUM(CAST(wq AS HUGEINT)) AS mu,
         |    CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN wq < 1000000000 THEN 1 ELSE 0 END) AS BIGINT) AS nd
         |  FROM w$i GROUP BY grp)""".stripMargin
    }.mkString(",\n")
    s"""WITH b AS (
       |  SELECT event_type AS grp, CAST(ROUND(value * 100.0) AS BIGINT) AS xc
       |  FROM events WHERE value IS NOT NULL),
       |e0 AS (
       |  SELECT grp, (SUM(xc) * 10000) // COUNT(*) AS mu,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM b GROUP BY grp),
       |$steps
       |SELECT grp AS event_type, n, nd AS n_downweighted,
       |  CAST(mu AS DOUBLE) / 1000000.0 AS huber_mean
       |FROM e$rounds ORDER BY event_type""".stripMargin
  }

  /** q301 oracle: the same bucketing + dense support, micro-quantized
    * kernel cells, and the 5 Sinkhorn rounds unrolled as u1/v1..u5/v5
    * CTEs with the identical fixed double chains. */
  private def sinkhornSql(rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      val prevV = if (r == 1) "v0" else s"v${r - 1}"
      s"""u$r AS MATERIALIZED (
         |  SELECT s.i, CAST(ROUND(CAST(h.ca AS DOUBLE) / CAST(nn.na AS DOUBLE)
         |    * 1e18 / CAST(s.su AS DOUBLE)) AS BIGINT) AS uq
         |  FROM (SELECT i, CAST(SUM(kq * vq) AS BIGINT) AS su
         |        FROM grid JOIN $prevV USING (j) GROUP BY i) s
         |  JOIN h ON h.b = s.i CROSS JOIN nn),
         |v$r AS MATERIALIZED (
         |  SELECT s.j, CAST(ROUND(CAST(h.cb AS DOUBLE) / CAST(nn.nb AS DOUBLE)
         |    * 1e18 / CAST(s.sv AS DOUBLE)) AS BIGINT) AS vq
         |  FROM (SELECT j, CAST(SUM(kq * uq) AS BIGINT) AS sv
         |        FROM grid JOIN u$r USING (i) GROUP BY j) s
         |  JOIN h ON h.b = s.j CROSS JOIN nn)""".stripMargin
    }.mkString(",\n")
    s"""WITH ev AS (
       |  SELECT event_type AS side,
       |    CAST(ROUND(value * 100.0) AS BIGINT) AS vc
       |  FROM events WHERE event_type IN ('click', 'purchase')),
       |mx AS (SELECT MAX(vc) AS mxc FROM ev),
       |bk AS (SELECT side, least(9, (vc * 10) // (mxc + 1)) AS b
       |       FROM ev CROSS JOIN mx),
       |hist AS (
       |  SELECT b,
       |    CAST(COUNT(*) FILTER (WHERE side = 'click') AS BIGINT) AS ca,
       |    CAST(COUNT(*) FILTER (WHERE side = 'purchase') AS BIGINT) AS cb
       |  FROM bk GROUP BY b),
       |sup AS (SELECT CAST(unnest(generate_series(0, 9)) AS BIGINT) AS b),
       |h AS MATERIALIZED (
       |  SELECT sup.b, COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
       |  FROM sup LEFT JOIN hist USING (b)),
       |nn AS MATERIALIZED (
       |  SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
       |  FROM h),
       |grid AS MATERIALIZED (
       |  SELECT gi.b AS i, gj.b AS j, abs(gi.b - gj.b) AS c,
       |    CAST(ROUND(exp(-CAST(abs(gi.b - gj.b) AS DOUBLE)) * 1000000.0)
       |      AS BIGINT) AS kq
       |  FROM sup gi CROSS JOIN sup gj),
       |v0 AS (SELECT b AS j, CAST(1000000 AS BIGINT) AS vq FROM sup),
       |$steps,
       |plan AS (
       |  SELECT g.i, g.j, g.c,
       |    CAST(u.uq AS HUGEINT) * g.kq * v.vq AS pq
       |  FROM grid g JOIN u$rounds u USING (i) JOIN v$rounds v USING (j)),
       |tot AS (
       |  SELECT CAST(SUM(pq * c) AS DOUBLE) / 1e18 AS ot_cost,
       |    CAST(SUM(pq) AS DOUBLE) / 1e18 AS total_mass
       |  FROM plan)
       |SELECT i, j, c, CAST(pq AS DOUBLE) / 1e18 AS p, ot_cost, total_mass
       |FROM plan CROSS JOIN tot
       |WHERE CAST(pq AS DOUBLE) / 1e18 > 0.0
       |ORDER BY i, j""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q301_sinkhorn_ot" -> sinkhornSql(5),

    // STL twin: identical daily cells, the same micro-floor-divided
    // centered window and per-weekday detrended means, NULL edges
    "q259_stl_decompose" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(COUNT(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |tr AS (
        |  SELECT event_type, day, y,
        |    COUNT(*) OVER w AS wn,
        |    CAST(SUM(y) OVER w AS BIGINT) * 1000000 AS ws
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |t2 AS (
        |  SELECT event_type, day, y,
        |    CASE WHEN wn = 7 THEN ws // 7 END AS trend_mc
        |  FROM tr),
        |det AS (SELECT event_type, day % 7 AS ph,
        |          y * 1000000 - trend_mc AS det_mc
        |        FROM t2 WHERE trend_mc IS NOT NULL),
        |seas AS (SELECT event_type, ph,
        |           CAST(SUM(det_mc) // COUNT(*) AS BIGINT) AS seas_mc
        |         FROM det GROUP BY 1, 2)
        |SELECT t2.event_type AS event_type, t2.day, t2.y,
        |  CAST(trend_mc AS DOUBLE) / 1000000.0 AS trend,
        |  CAST(seas_mc AS DOUBLE) / 1000000.0 AS seasonal,
        |  CAST(t2.y * 1000000 - trend_mc - seas_mc AS DOUBLE) / 1000000.0
        |    AS residual
        |FROM t2 LEFT JOIN seas
        |  ON seas.event_type = t2.event_type AND seas.ph = t2.day % 7
        |ORDER BY t2.event_type, t2.day""".stripMargin,

    // seasonal-strength twin: q259's exact micro-long components,
    // HUGEINT variance numerators, the same clamped 1−ratio chain
    "q329_seasonal_strength" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(COUNT(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |tr AS (
        |  SELECT event_type, day, y,
        |    COUNT(*) OVER w AS wn,
        |    CAST(SUM(y) OVER w AS BIGINT) * 1000000 AS ws
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |t2 AS (
        |  SELECT event_type, day, y,
        |    CASE WHEN wn = 7 THEN ws // 7 END AS trend_mc
        |  FROM tr),
        |det AS (SELECT event_type, day % 7 AS ph,
        |          y * 1000000 - trend_mc AS det_mc
        |        FROM t2 WHERE trend_mc IS NOT NULL),
        |seas AS (SELECT event_type, ph,
        |           CAST(SUM(det_mc) // COUNT(*) AS BIGINT) AS seas_mc
        |         FROM det GROUP BY 1, 2),
        |comp AS (
        |  SELECT t2.event_type,
        |    CAST(t2.y * 1000000 - trend_mc - seas_mc AS BIGINT) AS rq,
        |    CAST(t2.y * 1000000 - seas_mc AS BIGINT) AS trq,
        |    CAST(t2.y * 1000000 - trend_mc AS BIGINT) AS srq
        |  FROM t2 JOIN seas
        |    ON seas.event_type = t2.event_type AND seas.ph = t2.day % 7
        |  WHERE trend_mc IS NOT NULL),
        |m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    SUM(CAST(rq AS HUGEINT)) AS sr,
        |    SUM(CAST(rq AS HUGEINT) * rq) AS srr,
        |    SUM(CAST(trq AS HUGEINT)) AS st,
        |    SUM(CAST(trq AS HUGEINT) * trq) AS stt,
        |    SUM(CAST(srq AS HUGEINT)) AS ss,
        |    SUM(CAST(srq AS HUGEINT) * srq) AS sss
        |  FROM comp GROUP BY 1)
        |SELECT event_type, n_days,
        |  CASE WHEN CAST(n_days AS HUGEINT) * stt - st * st > 0 THEN
        |      round(GREATEST(0.0, 1.0
        |        - CAST(CAST(n_days AS HUGEINT) * srr - sr * sr AS DOUBLE)
        |        / CAST(CAST(n_days AS HUGEINT) * stt - st * st AS DOUBLE)),
        |        6)
        |    ELSE NULL END AS f_trend,
        |  CASE WHEN CAST(n_days AS HUGEINT) * sss - ss * ss > 0 THEN
        |      round(GREATEST(0.0, 1.0
        |        - CAST(CAST(n_days AS HUGEINT) * srr - sr * sr AS DOUBLE)
        |        / CAST(CAST(n_days AS HUGEINT) * sss - ss * ss AS DOUBLE)),
        |        6)
        |    ELSE NULL END AS f_seasonal
        |FROM m ORDER BY event_type""".stripMargin,

    // item-CF twin: identical distinct baskets, basket-keyed pair join,
    // nano-quantized cosine and (simq desc, item) rank
    "q258_item_cf" ->
      """WITH bi AS (
        |  SELECT DISTINCT l_orderkey AS b, p_brand AS i
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |ci AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS c FROM bi GROUP BY i),
        |pr AS (SELECT a.i AS ia, b.i AS ib, CAST(COUNT(*) AS BIGINT) AS cij
        |       FROM bi a JOIN bi b ON a.b = b.b AND a.i < b.i
        |       GROUP BY 1, 2),
        |sym AS (SELECT ia, ib, cij FROM pr
        |        UNION ALL SELECT ib AS ia, ia AS ib, cij FROM pr),
        |sc AS (SELECT s.ia, s.ib, s.cij,
        |    CAST(ROUND(CAST(s.cij AS DOUBLE) /
        |      sqrt(CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE))
        |      * 1000000000.0) AS BIGINT) AS simq
        |  FROM sym s JOIN ci ca ON ca.i = s.ia JOIN ci cb ON cb.i = s.ib),
        |r AS (SELECT ia, ib, cij, simq,
        |        CAST(row_number() OVER (PARTITION BY ia
        |          ORDER BY simq DESC, ib) AS BIGINT) AS rnk
        |      FROM sc)
        |SELECT ia AS item, rnk, ib AS also, cij AS n_cooc,
        |  CAST(simq AS DOUBLE) / 1000000000.0 AS sim
        |FROM r WHERE rnk <= 3 ORDER BY item, rnk""".stripMargin,

    // IPW twin: q250's cells, the Laplace-smoothed (n_t+1)/(n_t+n_c+2)
    // propensities, micro-quantized Horvitz–Thompson terms, the same
    // division chain
    "q254_ipw_ate" ->
      """WITH u AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cv,
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t,
        |    COALESCE(CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT), 0) AS vc
        |  FROM events GROUP BY user_id),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM u),
        |r AS (SELECT t, vc,
        |        CAST(row_number() OVER (ORDER BY cv, user_id) AS BIGINT) AS grank
        |      FROM u),
        |cells AS (
        |  SELECT ((grank - 1) * 5) // nn.n AS stratum,
        |    CAST(SUM(t) AS BIGINT) AS n_t, CAST(SUM(1 - t) AS BIGINT) AS n_c,
        |    CAST(SUM(t * vc) AS BIGINT) AS st,
        |    CAST(SUM((1 - t) * vc) AS BIGINT) AS sc
        |  FROM r CROSS JOIN nn GROUP BY 1),
        |terms AS (
        |  SELECT n_t, n_c,
        |    CAST(ROUND((CAST(st AS DOUBLE) * CAST(n_t + n_c + 2 AS DOUBLE)
        |        / CAST(n_t + 1 AS DOUBLE)
        |      - CAST(sc AS DOUBLE) * CAST(n_t + n_c + 2 AS DOUBLE)
        |        / CAST(n_c + 1 AS DOUBLE))
        |      * 10000.0) AS BIGINT) AS tq
        |  FROM cells)
        |SELECT CAST(SUM(n_t + n_c) AS BIGINT) AS n_units,
        |  CAST(SUM(tq) AS DOUBLE) / 10000.0 / 100.0 /
        |    CAST(SUM(n_t + n_c) AS DOUBLE) AS ate_ipw
        |FROM terms""".stripMargin,

    // Markov-eval twin: identical lead() transitions, count-argmax with
    // next-state tie-break, matched-policy accuracy on the odd half
    "q255_markov_eval" ->
      """WITH nxt AS (
        |  SELECT user_id, event_id, event_type AS s,
        |    event_id % 2 = 0 AS train,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS nx
        |  FROM events),
        |tr AS (SELECT s, nx, COUNT(*) AS c FROM nxt
        |       WHERE nx IS NOT NULL AND train GROUP BY s, nx),
        |pol AS (SELECT s, nx AS pred FROM (
        |    SELECT s, nx, row_number() OVER (PARTITION BY s
        |      ORDER BY c DESC, nx) AS rk FROM tr) x WHERE rk = 1),
        |ev AS (SELECT n.s, n.nx, p.pred FROM nxt n JOIN pol p USING (s)
        |       WHERE n.nx IS NOT NULL AND NOT n.train)
        |SELECT s AS state, pred AS predicted_next,
        |  CAST(COUNT(*) AS BIGINT) AS n_eval,
        |  CAST(SUM(CASE WHEN nx = pred THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        |  CAST(SUM(CASE WHEN nx = pred THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(COUNT(*) AS DOUBLE) AS accuracy
        |FROM ev GROUP BY s, pred ORDER BY state""".stripMargin,

    "q249_huber_mean" -> huberSql(3, 2500L * 134L),

    // stratified-ATE twin: identical cents cells, rank cut, per-stratum
    // double chains, and the micro-quantized weighted overall
    "q250_stratified_ate" ->
      """WITH u AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cv,
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t,
        |    COALESCE(CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT), 0) AS vc
        |  FROM events GROUP BY user_id),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM u),
        |r AS (SELECT t, vc,
        |        CAST(row_number() OVER (ORDER BY cv, user_id) AS BIGINT) AS grank
        |      FROM u),
        |s AS (SELECT ((grank - 1) * 5) // nn.n AS stratum, t, vc
        |      FROM r CROSS JOIN nn),
        |cells AS (
        |  SELECT stratum, CAST(SUM(t) AS BIGINT) AS n_t,
        |    CAST(SUM(1 - t) AS BIGINT) AS n_c,
        |    CAST(SUM(t * vc) AS BIGINT) AS st,
        |    CAST(SUM((1 - t) * vc) AS BIGINT) AS sc
        |  FROM s GROUP BY stratum),
        |per AS (
        |  SELECT stratum, n_t, n_c,
        |    CASE WHEN n_t = 0 THEN NULL
        |         ELSE CAST(st AS DOUBLE) / (100.0 * CAST(n_t AS DOUBLE)) END AS mean_t,
        |    CASE WHEN n_c = 0 THEN NULL
        |         ELSE CAST(sc AS DOUBLE) / (100.0 * CAST(n_c AS DOUBLE)) END AS mean_c,
        |    CASE WHEN n_t = 0 THEN NULL
        |         ELSE CAST(st AS DOUBLE) / (100.0 * CAST(n_t AS DOUBLE)) END -
        |    CASE WHEN n_c = 0 THEN NULL
        |         ELSE CAST(sc AS DOUBLE) / (100.0 * CAST(n_c AS DOUBLE)) END AS ate
        |  FROM cells),
        |ov AS (
        |  SELECT CAST(-1 AS BIGINT) AS stratum,
        |    CAST(SUM(n_t) AS BIGINT) AS n_t, CAST(SUM(n_c) AS BIGINT) AS n_c,
        |    CAST(NULL AS DOUBLE) AS mean_t, CAST(NULL AS DOUBLE) AS mean_c,
        |    CAST(SUM(CAST(ROUND(CAST(n_t + n_c AS DOUBLE) *
        |        (CAST(st AS DOUBLE) / (100.0 * CAST(n_t AS DOUBLE)) -
        |         CAST(sc AS DOUBLE) / (100.0 * CAST(n_c AS DOUBLE))) *
        |        1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 /
        |      CAST(SUM(n_t + n_c) AS DOUBLE) AS ate
        |  FROM cells WHERE n_t > 0 AND n_c > 0)
        |SELECT * FROM per
        |UNION ALL SELECT * FROM ov
        |ORDER BY stratum""".stripMargin,

    // q-error twin: identical count-table algebra (the join never
    // executes), HUGEINT Σc·c actuals, the same est/q-error chains
    "q328_cardest_qerror" -> {
      def auditSql(name: String, l: String, r: String): String =
        s"""SELECT '$name' AS join_class, nl, nr, dl AS ndv_l, dr AS ndv_r,
           |  round(CAST(CAST(nl AS HUGEINT) * nr AS DOUBLE)
           |    / CAST(GREATEST(dl, dr) AS DOUBLE), 2) AS est_rows,
           |  CAST(act AS BIGINT) AS actual_rows,
           |  CASE WHEN act > 0 THEN round(GREATEST(
           |      (CAST(CAST(nl AS HUGEINT) * nr AS DOUBLE)
           |        / CAST(GREATEST(dl, dr) AS DOUBLE)) / CAST(act AS DOUBLE),
           |      CAST(act AS DOUBLE)
           |        / (CAST(CAST(nl AS HUGEINT) * nr AS DOUBLE)
           |          / CAST(GREATEST(dl, dr) AS DOUBLE))), 6)
           |    ELSE NULL END AS q_error
           |FROM (SELECT CAST(SUM(c) AS BIGINT) AS nl,
           |        CAST(COUNT(*) AS BIGINT) AS dl FROM $l)
           |CROSS JOIN (SELECT CAST(SUM(c) AS BIGINT) AS nr,
           |        CAST(COUNT(*) AS BIGINT) AS dr FROM $r)
           |CROSS JOIN (SELECT COALESCE(SUM(CAST(a.c AS HUGEINT) * b.c), 0)
           |        AS act
           |      FROM $l a JOIN $r b USING (k))""".stripMargin
      s"""WITH li AS (SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1),
         |orr AS (SELECT o_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1),
         |lp AS (SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
         |et AS (SELECT event_type AS k, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM events WHERE event_type IS NOT NULL GROUP BY 1)
         |${auditSql("pk_fk", "li", "orr")}
         |UNION ALL ${auditSql("fk_self", "lp", "lp")}
         |UNION ALL ${auditSql("skewed_lowndv", "et", "et")}
         |ORDER BY join_class""".stripMargin
    },

    // positivity twin: q250's rank-cut strata, cross-multiplied extreme
    // flags, unit-weighted extrapolation share
    "q327_positivity_audit" ->
      """WITH u AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cv,
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t
        |  FROM events GROUP BY user_id),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM u),
        |r AS (SELECT t,
        |        CAST(row_number() OVER (ORDER BY cv, user_id) AS BIGINT)
        |          AS grank
        |      FROM u),
        |s AS (SELECT ((grank - 1) * 5) // nn.n AS stratum, t
        |      FROM r CROSS JOIN nn),
        |cells AS (SELECT stratum, CAST(SUM(t) AS BIGINT) AS n_t,
        |        CAST(SUM(1 - t) AS BIGINT) AS n_c
        |      FROM s GROUP BY stratum),
        |fl AS (SELECT stratum, n_t, n_c, n_t + n_c AS ns,
        |    CASE WHEN n_t = 0 OR n_c = 0 OR 20 * n_t < n_t + n_c
        |      OR 20 * n_c < n_t + n_c THEN 1 ELSE 0 END AS x
        |  FROM cells),
        |per AS (SELECT stratum, n_t, n_c,
        |    round(CAST(n_t AS DOUBLE) / CAST(ns AS DOUBLE), 9) AS e_hat,
        |    CAST(x AS BIGINT) AS extreme,
        |    CAST(NULL AS DOUBLE) AS units_in_extreme_share
        |  FROM fl),
        |ov AS (SELECT CAST(-1 AS BIGINT) AS stratum,
        |    CAST(SUM(n_t) AS BIGINT) AS n_t,
        |    CAST(SUM(n_c) AS BIGINT) AS n_c,
        |    CAST(NULL AS DOUBLE) AS e_hat,
        |    CAST(SUM(x) AS BIGINT) AS extreme,
        |    round(CAST(SUM(CASE WHEN x = 1 THEN ns ELSE 0 END) AS DOUBLE)
        |      / CAST(SUM(ns) AS DOUBLE), 6) AS units_in_extreme_share
        |  FROM fl)
        |SELECT * FROM per UNION ALL SELECT * FROM ov
        |ORDER BY stratum""".stripMargin,

    // Mann–Kendall twin: identical daily cents table, integer sign-pair
    // sum, tie-corrected variance, the same continuity-corrected chain
    "q320_mann_kendall" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(SUM(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) AS y
        |  FROM events
        |  WHERE event_type = 'click' AND value IS NOT NULL
        |  GROUP BY 1),
        |sp AS (SELECT CAST(SUM(CASE WHEN b.y > a.y THEN 1
        |      WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM daily a JOIN daily b ON a.day < b.day),
        |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily),
        |ties AS (SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0)
        |    AS BIGINT) AS tsum
        |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY y)),
        |f AS (SELECT s_stat, n_days,
        |    CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tsum AS DOUBLE)
        |      / 18.0 AS var_s
        |  FROM sp CROSS JOIN nd CROSS JOIN ties),
        |z AS (SELECT s_stat, n_days, var_s,
        |    round(CASE WHEN s_stat > 0 THEN
        |        CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
        |      WHEN s_stat < 0 THEN
        |        CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
        |      ELSE 0.0 END, 6) AS z_score
        |  FROM f)
        |SELECT n_days, s_stat, round(var_s, 6) AS var_s, z_score,
        |  CASE WHEN z_score > 1.96 THEN 'increasing'
        |       WHEN z_score < -1.96 THEN 'decreasing'
        |       ELSE 'none' END AS trend
        |FROM z""".stripMargin,

    // periodogram twin: the same fold, micro-quantized S²/n phase
    // terms, shared SS_total denominator, integer rank key
    "q347_periodogram" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(SUM(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) AS y
        |  FROM events
        |  WHERE event_type = 'click' AND value IS NOT NULL
        |  GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(y) AS BIGINT) AS sy,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy FROM daily),
        |ph AS (
        |  SELECT p, day % p AS phase, CAST(COUNT(*) AS BIGINT) AS nf,
        |    CAST(SUM(y) AS BIGINT) AS sf
        |  FROM daily CROSS JOIN
        |    (SELECT CAST(unnest(generate_series(2, 30)) AS BIGINT) AS p) pp
        |  GROUP BY 1, 2),
        |folded AS (
        |  SELECT p, CAST(SUM(CAST(ROUND(CAST(sf AS DOUBLE) *
        |      CAST(sf AS DOUBLE) / CAST(nf AS DOUBLE) /
        |      (CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
        |      * 1000000000.0) AS BIGINT)) AS BIGINT) AS sb_raw
        |  FROM ph CROSS JOIN tot GROUP BY 1),
        |calc AS (
        |  SELECT p, sb_raw,
        |    (CAST(sb_raw AS DOUBLE) / 1000000000.0 - 1.0) *
        |      (CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
        |      AS sbm,
        |    CAST(syy AS DOUBLE) -
        |      CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS sst
        |  FROM folded CROSS JOIN tot)
        |SELECT p AS period, round(sbm, 2) AS ss_between,
        |  CASE WHEN sst <= 0.0 THEN NULL ELSE round(sbm / sst, 6) END
        |    AS strength,
        |  row_number() OVER (ORDER BY sb_raw DESC, p) AS rnk
        |FROM calc ORDER BY period""".stripMargin,

    // Hurst twin: the same m-scaled integer deviations, HUGEINT
    // radicand, micro-snapped per-block R/S, closed-form log-log slope
    "q348_hurst" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(SUM(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) AS y
        |  FROM events
        |  WHERE event_type = 'click' AND value IS NOT NULL
        |  GROUP BY 1),
        |ranked AS (
        |  SELECT day, y, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS r
        |  FROM daily),
        |blocks0 AS (
        |  SELECT m, (r - 1) // m AS b, r, y
        |  FROM ranked CROSS JOIN
        |    (SELECT CAST(unnest([8, 16, 32, 64]) AS BIGINT) AS m) mm),
        |sums AS (
        |  SELECT m, b, CAST(COUNT(*) AS BIGINT) AS nb,
        |    CAST(SUM(y) AS BIGINT) AS sb, SUM(CAST(y AS HUGEINT) * y) AS sbb
        |  FROM blocks0 GROUP BY 1, 2 HAVING COUNT(*) = m),
        |dev AS (
        |  SELECT b0.m, b0.b, s.sb, s.sbb,
        |    MAX(b0.m * b0.cum - b0.t * s.sb) -
        |      MIN(b0.m * b0.cum - b0.t * s.sb) AS rm
        |  FROM (SELECT m, b, r, y,
        |          CAST(SUM(y) OVER (PARTITION BY m, b ORDER BY r)
        |            AS BIGINT) AS cum,
        |          CAST(row_number() OVER (PARTITION BY m, b ORDER BY r)
        |            AS BIGINT) AS t
        |        FROM blocks0) b0
        |  JOIN sums s ON s.m = b0.m AND s.b = b0.b
        |  GROUP BY 1, 2, 3, 4),
        |rsq AS (
        |  SELECT m, CAST(ROUND(CAST(rm AS DOUBLE) /
        |      sqrt(CAST(m * sbb - CAST(sb AS HUGEINT) * sb AS DOUBLE)) *
        |      1000000.0) AS BIGINT) AS q
        |  FROM dev),
        |bar AS (
        |  SELECT m, CAST(SUM(q) AS DOUBLE) / 1000000.0 /
        |      CAST(COUNT(*) AS DOUBLE) AS rsbar
        |  FROM rsq GROUP BY 1),
        |piv AS (
        |  SELECT SUM(CASE WHEN m = 8 THEN rsbar END) AS v8,
        |    SUM(CASE WHEN m = 16 THEN rsbar END) AS v16,
        |    SUM(CASE WHEN m = 32 THEN rsbar END) AS v32,
        |    SUM(CASE WHEN m = 64 THEN rsbar END) AS v64
        |  FROM bar)
        |SELECT round(v8, 6) AS rs8, round(v16, 6) AS rs16,
        |  round(v32, 6) AS rs32, round(v64, 6) AS rs64,
        |  round((-1.5 * ln(v8) - 0.5 * ln(v16) + 0.5 * ln(v32) +
        |    1.5 * ln(v64)) / (5.0 * ln(2.0)), 6) AS hurst
        |FROM piv""".stripMargin,

    // Granger twin: the same day grid + day,day+1 pairing, HUGEINT
    // n-scaled moments, the identical Cramer/SSE/F double chains
    "q350_granger" ->
      """WITH g AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS clicks,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' AND value IS NOT NULL
        |      THEN CAST(round(value * 100.0) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS purch
        |  FROM events GROUP BY 1),
        |pairs AS (
        |  SELECT a.clicks AS c0, a.purch AS p0, b.clicks AS c1, b.purch AS p1
        |  FROM g a JOIN g b ON b.day = a.day + 1),
        |mo1 AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(p0) AS BIGINT) AS s1, CAST(SUM(c0) AS BIGINT) AS s2,
        |    CAST(SUM(p1) AS BIGINT) AS sy,
        |    SUM(CAST(p0 AS HUGEINT) * p0) AS s11,
        |    SUM(CAST(c0 AS HUGEINT) * c0) AS s22,
        |    SUM(CAST(p0 AS HUGEINT) * c0) AS s12,
        |    SUM(CAST(p0 AS HUGEINT) * p1) AS s1y,
        |    SUM(CAST(c0 AS HUGEINT) * p1) AS s2y,
        |    SUM(CAST(p1 AS HUGEINT) * p1) AS syy
        |  FROM pairs),
        |mo2 AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(c0) AS BIGINT) AS s1, CAST(SUM(p0) AS BIGINT) AS s2,
        |    CAST(SUM(c1) AS BIGINT) AS sy,
        |    SUM(CAST(c0 AS HUGEINT) * c0) AS s11,
        |    SUM(CAST(p0 AS HUGEINT) * p0) AS s22,
        |    SUM(CAST(c0 AS HUGEINT) * p0) AS s12,
        |    SUM(CAST(c0 AS HUGEINT) * c1) AS s1y,
        |    SUM(CAST(p0 AS HUGEINT) * c1) AS s2y,
        |    SUM(CAST(c1 AS HUGEINT) * c1) AS syy
        |  FROM pairs),
        |f1 AS (
        |  SELECT 'clicks->purchases' AS direction, n,
        |    CAST(n * s11 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) AS m11,
        |    CAST(n * s22 - CAST(s2 AS HUGEINT) * s2 AS DOUBLE) AS m22,
        |    CAST(n * s12 - CAST(s1 AS HUGEINT) * s2 AS DOUBLE) AS m12,
        |    CAST(n * s1y - CAST(s1 AS HUGEINT) * sy AS DOUBLE) AS m1y,
        |    CAST(n * s2y - CAST(s2 AS HUGEINT) * sy AS DOUBLE) AS m2y,
        |    CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE) AS myy
        |  FROM mo1),
        |f2 AS (
        |  SELECT 'purchases->clicks' AS direction, n,
        |    CAST(n * s11 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) AS m11,
        |    CAST(n * s22 - CAST(s2 AS HUGEINT) * s2 AS DOUBLE) AS m22,
        |    CAST(n * s12 - CAST(s1 AS HUGEINT) * s2 AS DOUBLE) AS m12,
        |    CAST(n * s1y - CAST(s1 AS HUGEINT) * sy AS DOUBLE) AS m1y,
        |    CAST(n * s2y - CAST(s2 AS HUGEINT) * sy AS DOUBLE) AS m2y,
        |    CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE) AS myy
        |  FROM mo2),
        |ff AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2),
        |calc AS (
        |  SELECT direction, n,
        |    (m1y * m22 - m2y * m12) / (m11 * m22 - m12 * m12) AS b,
        |    (m2y * m11 - m1y * m12) / (m11 * m22 - m12 * m12) AS c,
        |    m1y, m2y, myy, m11
        |  FROM ff),
        |sse AS (
        |  SELECT direction, n, b, c,
        |    myy - b * m1y - c * m2y AS sse_u,
        |    myy - m1y * m1y / m11 AS sse_r
        |  FROM calc)
        |SELECT direction, n, round(b, 6) AS ar_coef, round(c, 6) AS x_coef,
        |  round((sse_r - sse_u) / (sse_u / (CAST(n AS DOUBLE) - 3.0)), 4)
        |    AS f_stat,
        |  (sse_r - sse_u) / (sse_u / (CAST(n AS DOUBLE) - 3.0)) > 3.84
        |    AS granger_causal
        |FROM sse ORDER BY direction""".stripMargin,

    // Simpson twin: identical cell/stratum HUGEINT moments, integer
    // sign comparisons for the flags, one rounded pooled division
    "q309_simpson_audit" ->
      """WITH cells AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    CAST(COUNT(*) AS BIGINT) AS x,
        |    CAST(SUM(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) AS y
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |st AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS nh,
        |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM cells GROUP BY 1),
        |g AS (SELECT CAST(SUM(nh) AS BIGINT) AS n_cells,
        |    CAST(COUNT(*) AS BIGINT) AS n_strata,
        |    SUM(sx) AS gsx, SUM(sy) AS gsy,
        |    SUM(sxy) AS gsxy, SUM(sxx) AS gsxx FROM st),
        |p AS (SELECT n_cells, n_strata,
        |    CAST(n_cells AS HUGEINT) * gsxy - gsx * gsy AS nump,
        |    CAST(n_cells AS HUGEINT) * gsxx - gsx * gsx AS denp FROM g),
        |h AS (SELECT nh * sxy - sx * sy AS numh,
        |        nh * sxx - sx * sx AS denh FROM st)
        |SELECT n_cells, n_strata,
        |  CAST(SUM(CASE WHEN denh > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_eligible,
        |  CASE WHEN denp > 0 THEN
        |      round(CAST(nump AS DOUBLE) / CAST(denp AS DOUBLE), 6)
        |    ELSE NULL END AS pooled_slope,
        |  CAST(SUM(CASE WHEN denh > 0 AND ((numh > 0 AND nump < 0)
        |      OR (numh < 0 AND nump > 0)) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_opposite,
        |  CASE WHEN SUM(CASE WHEN denh > 0 THEN 1 ELSE 0 END) > 0 THEN
        |      round(CAST(SUM(CASE WHEN denh > 0 AND ((numh > 0 AND nump < 0)
        |          OR (numh < 0 AND nump > 0)) THEN 1 ELSE 0 END) AS DOUBLE)
        |        / CAST(SUM(CASE WHEN denh > 0 THEN 1 ELSE 0 END) AS DOUBLE),
        |        6)
        |    ELSE NULL END AS opposite_share
        |FROM h CROSS JOIN p
        |GROUP BY n_cells, n_strata, nump, denp""".stripMargin,

    // assortativity twin: the inline basket self-join replayed, HUGEINT
    // degree moments, one final double division
    "q330_assortativity" ->
      """WITH seq AS (
        |  SELECT x.l_partkey AS a, y.l_partkey AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
        |und AS MATERIALIZED (SELECT DISTINCT a, b FROM seq),
        |adj AS (SELECT a AS u, b AS v FROM und
        |        UNION ALL SELECT b, a FROM und),
        |deg AS MATERIALIZED (
        |  SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY u),
        |nodes AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg),
        |dd AS (SELECT du.deg AS j, dv.deg AS k
        |       FROM adj JOIN deg du ON adj.u = du.u
        |       JOIN deg dv ON adj.v = dv.u),
        |g AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m2,
        |        SUM(CAST(j AS HUGEINT)) AS sj,
        |        SUM(CAST(j AS HUGEINT) * k) AS sjk,
        |        SUM(CAST(j AS HUGEINT) * j) AS sjj FROM dd)
        |SELECT n_nodes, CAST(m2 // 2 AS BIGINT) AS n_edges,
        |  CASE WHEN m2 * sjj - sj * sj <= 0 THEN NULL
        |    ELSE round(CAST(m2 * sjk - sj * sj AS DOUBLE) /
        |               CAST(m2 * sjj - sj * sj AS DOUBLE), 6)
        |  END AS assortativity
        |FROM g CROSS JOIN nodes""".stripMargin,

    // rich-club twin: same edge/degree CTEs, FILTERed conditional counts
    // per cutoff, the identical 2.0·E/(N·(N−1)) double chain
    "q337_rich_club" ->
      """WITH seq AS (
        |  SELECT x.l_partkey AS a, y.l_partkey AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
        |und AS MATERIALIZED (SELECT DISTINCT a, b FROM seq),
        |adj AS (SELECT a AS u, b AS v FROM und
        |        UNION ALL SELECT b, a FROM und),
        |deg AS MATERIALIZED (
        |  SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY u),
        |dd AS (SELECT da.deg AS dega, db.deg AS degb
        |       FROM und JOIN deg da ON und.a = da.u
        |       JOIN deg db ON und.b = db.u),
        |ks AS (SELECT CAST(unnest([10, 20, 40, 80]) AS BIGINT) AS k),
        |ek AS (SELECT k, CAST(COUNT(*) FILTER (
        |         WHERE dega > k AND degb > k) AS BIGINT) AS club_edges
        |       FROM dd CROSS JOIN ks GROUP BY k),
        |nk AS (SELECT k, CAST(COUNT(*) FILTER (WHERE deg > k) AS BIGINT)
        |         AS club_nodes
        |       FROM deg CROSS JOIN ks GROUP BY k)
        |SELECT nk.k, club_nodes, club_edges,
        |  CASE WHEN club_nodes < 2 THEN NULL
        |    ELSE round(2.0 * CAST(club_edges AS DOUBLE) /
        |      (CAST(club_nodes AS DOUBLE) * CAST(club_nodes - 1 AS DOUBLE)),
        |      6) END AS phi
        |FROM nk JOIN ek ON nk.k = ek.k ORDER BY nk.k""".stripMargin,

    // CMH twin: identical stratum cells, the same micro-quantized
    // E/V/R/S double chains, the same continuity-corrected chi-square
    "q332_cmh" ->
      """WITH cells AS (
        |  SELECT user_id % 8 AS h,
        |    CAST(SUM(CASE WHEN (user_id // 8) % 2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN (user_id // 8) % 2 = 1
        |      AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(SUM(CASE WHEN (user_id // 8) % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n0,
        |    CAST(SUM(CASE WHEN (user_id // 8) % 2 = 0
        |      AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |terms AS (
        |  SELECT a,
        |    CAST(ROUND(CAST(n1 AS DOUBLE) * CAST(a + c AS DOUBLE)
        |      / CAST(n1 + n0 AS DOUBLE) * 1000000.0) AS BIGINT) AS e,
        |    CAST(ROUND(CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)
        |      * CAST(a + c AS DOUBLE) * CAST(n1 + n0 - a - c AS DOUBLE)
        |      / (CAST(n1 + n0 AS DOUBLE) * CAST(n1 + n0 AS DOUBLE)
        |        * (CAST(n1 + n0 AS DOUBLE) - 1.0)) * 1000000.0) AS BIGINT)
        |      AS v,
        |    CAST(ROUND(CAST(a AS DOUBLE) * CAST(n0 - c AS DOUBLE)
        |      / CAST(n1 + n0 AS DOUBLE) * 1000000.0) AS BIGINT) AS r,
        |    CAST(ROUND(CAST(n1 - a AS DOUBLE) * CAST(c AS DOUBLE)
        |      / CAST(n1 + n0 AS DOUBLE) * 1000000.0) AS BIGINT) AS s
        |  FROM cells WHERE n1 + n0 >= 2)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
        |  CAST(SUM(a) AS BIGINT) AS sum_a,
        |  round(CAST(SUM(e) AS DOUBLE) / 1000000.0, 6) AS e_sum,
        |  CASE WHEN SUM(v) <= 0 THEN NULL
        |    ELSE round((ABS(CAST(SUM(a) AS DOUBLE)
        |        - CAST(SUM(e) AS DOUBLE) / 1000000.0) - 0.5)
        |      * (ABS(CAST(SUM(a) AS DOUBLE)
        |        - CAST(SUM(e) AS DOUBLE) / 1000000.0) - 0.5)
        |      / (CAST(SUM(v) AS DOUBLE) / 1000000.0), 6) END AS cmh_chi2,
        |  CASE WHEN SUM(s) <= 0 THEN NULL
        |    ELSE round(CAST(SUM(r) AS DOUBLE) / CAST(SUM(s) AS DOUBLE), 6)
        |  END AS or_mh
        |FROM terms""".stripMargin,

    // Hill twin: same derived k, same top-1001 rank cut, nano-quantized
    // ln ratios summed as BIGINTs, the same final division chains
    "q336_hill_tail" ->
      """WITH v2 AS (
        |  SELECT CAST(ROUND(l_extendedprice * 100.0) AS BIGINT) AS c
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL
        |    AND CAST(ROUND(l_extendedprice * 100.0) AS BIGINT) > 0),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  GREATEST(CAST(10 AS BIGINT), LEAST(CAST(1000 AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT) // 1000)) AS k FROM v2),
        |top AS (SELECT c,
        |    CAST(ROW_NUMBER() OVER (ORDER BY c DESC) AS BIGINT) AS rnk
        |  FROM v2 QUALIFY rnk <= 1001),
        |thr AS (SELECT c AS xk1 FROM top CROSS JOIN nn WHERE rnk = k + 1),
        |terms AS (SELECT n, k,
        |    CAST(ROUND((ln(CAST(c AS DOUBLE)) - ln(CAST(xk1 AS DOUBLE)))
        |      * 1000000000.0) AS BIGINT) AS t
        |  FROM top CROSS JOIN nn CROSS JOIN thr WHERE rnk <= k)
        |SELECT n, k,
        |  round(CAST(SUM(t) AS DOUBLE) / 1000000000.0 / CAST(k AS DOUBLE), 6)
        |    AS hill_h,
        |  CASE WHEN SUM(t) <= 0 THEN NULL
        |    ELSE round(CAST(k AS DOUBLE) * 1000000000.0
        |      / CAST(SUM(t) AS DOUBLE), 6) END AS tail_alpha
        |FROM terms GROUP BY n, k""".stripMargin,

    // Welch twin: identical exact moments (HUGEINT squares), the same
    // mean/variance/t/Satterthwaite double chains
    "q341_welch_ttest" ->
      """WITH m AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(ROUND(value * 100.0) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS sa,
        |    SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(CAST(ROUND(value * 100.0) AS BIGINT) AS HUGEINT)
        |        * CAST(ROUND(value * 100.0) AS BIGINT) ELSE 0 END) AS qa,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN event_type = 'click'
        |      THEN CAST(ROUND(value * 100.0) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS sb,
        |    SUM(CASE WHEN event_type = 'click'
        |      THEN CAST(CAST(ROUND(value * 100.0) AS BIGINT) AS HUGEINT)
        |        * CAST(ROUND(value * 100.0) AS BIGINT) ELSE 0 END) AS qb
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')),
        |d AS (SELECT n_a, n_b,
        |    CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
        |    CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
        |    (CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
        |      / CAST(n_a AS DOUBLE)) / CAST(n_a - 1 AS DOUBLE) AS va,
        |    (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
        |      / CAST(n_b AS DOUBLE)) / CAST(n_b - 1 AS DOUBLE) AS vb
        |  FROM m),
        |e AS (SELECT n_a, n_b, ma, mb,
        |    va / CAST(n_a AS DOUBLE) AS sea,
        |    vb / CAST(n_b AS DOUBLE) AS seb
        |  FROM d)
        |SELECT n_a, n_b, round((ma - mb) / 100.0, 6) AS mean_diff,
        |  CASE WHEN n_a < 2 OR n_b < 2 OR sea + seb <= 0.0 THEN NULL
        |    ELSE round((ma - mb) / sqrt(sea + seb), 6) END AS t_stat,
        |  CASE WHEN n_a < 2 OR n_b < 2 OR sea + seb <= 0.0 THEN NULL
        |    ELSE round((sea + seb) * (sea + seb)
        |      / (sea * sea / CAST(n_a - 1 AS DOUBLE)
        |        + seb * seb / CAST(n_b - 1 AS DOUBLE)), 2) END AS df_welch
        |FROM e""".stripMargin,

    // power/MDE twin: exact arm counts, identical z-literal chains,
    // the same CEIL over an identical double
    "q342_power_mde" ->
      """WITH m AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN user_id % 2 = 1
        |      AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS x1,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n2,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0
        |      AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS x2
        |  FROM events),
        |p AS (SELECT n1, x1, n2, x2,
        |    CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1d,
        |    CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS p2d,
        |    CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) AS pb
        |  FROM m),
        |q AS (SELECT *, p1d - p2d AS delta,
        |    sqrt(2.0 * pb * (1.0 - pb)) AS sep,
        |    sqrt(p1d * (1.0 - p1d) + p2d * (1.0 - p2d)) AS searms
        |  FROM p)
        |SELECT n1, x1, n2, x2, round(p1d, 6) AS p1, round(p2d, 6) AS p2,
        |  round(delta, 6) AS delta,
        |  CASE WHEN ABS(delta) <= 0.0 THEN NULL
        |    ELSE CAST(CEIL((1.959964 * sep + 0.841621 * searms)
        |      * (1.959964 * sep + 0.841621 * searms)
        |      / (ABS(delta) * ABS(delta))) AS BIGINT) END AS n_req_per_arm,
        |  round((1.959964 + 0.841621) * sqrt(pb * (1.0 - pb)
        |    * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))), 6)
        |    AS mde
        |FROM q""".stripMargin,

    // Kendall tau-b twin: the same day table, exact pair/tie counts,
    // one final double chain
    "q340_kendall_tau" ->
      """WITH days AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |pairs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0,
        |    CAST(SUM(CASE WHEN (p.x - r.x) * (p.y - r.y) > 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
        |    CAST(SUM(CASE WHEN (p.x - r.x) * (p.y - r.y) < 0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_d
        |  FROM days p JOIN days r ON p.day < r.day),
        |tx AS (SELECT CAST(COALESCE(SUM(t * (t - 1) // 2), 0) AS BIGINT)
        |    AS ties_x
        |  FROM (SELECT COUNT(*) AS t FROM days GROUP BY x)),
        |ty AS (SELECT CAST(COALESCE(SUM(t * (t - 1) // 2), 0) AS BIGINT)
        |    AS ties_y
        |  FROM (SELECT COUNT(*) AS t FROM days GROUP BY y)),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM days)
        |SELECT n_days, n_c, n_d, ties_x, ties_y,
        |  CASE WHEN (n0 - ties_x) * (n0 - ties_y) <= 0 THEN NULL
        |    ELSE round(CAST(n_c - n_d AS DOUBLE)
        |      / sqrt(CAST(n0 - ties_x AS DOUBLE)
        |        * CAST(n0 - ties_y AS DOUBLE)), 6) END AS tau_b
        |FROM pairs CROSS JOIN tx CROSS JOIN ty CROSS JOIN nn""".stripMargin,

    // AIPW twin: q250's unit/strata CTEs, global-mean outcome model,
    // the same raw + Laplace-smoothed correction double chains
    // micro-quantized before the cross-strata sums
    "q307_aipw_ate" ->
      """WITH u AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cv,
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t,
        |    COALESCE(CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT), 0) AS vc
        |  FROM events GROUP BY user_id),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM u),
        |r AS (SELECT t, vc,
        |        CAST(row_number() OVER (ORDER BY cv, user_id) AS BIGINT) AS grank
        |      FROM u),
        |s AS (SELECT ((grank - 1) * 5) // nn.n AS stratum, t, vc
        |      FROM r CROSS JOIN nn),
        |cells AS (
        |  SELECT stratum, CAST(SUM(t) AS BIGINT) AS n_t,
        |    CAST(SUM(1 - t) AS BIGINT) AS n_c,
        |    CAST(SUM(t * vc) AS BIGINT) AS st,
        |    CAST(SUM((1 - t) * vc) AS BIGINT) AS sc
        |  FROM s GROUP BY stratum),
        |g AS (SELECT CAST(SUM(n_t) AS BIGINT) AS gnt,
        |        CAST(SUM(n_c) AS BIGINT) AS gnc,
        |        CAST(SUM(st) AS BIGINT) AS gst,
        |        CAST(SUM(sc) AS BIGINT) AS gsc FROM cells),
        |terms AS (SELECT stratum, n_t, n_c,
        |    CASE WHEN n_t > 0 AND n_c > 0 THEN CAST(round((
        |        (CAST(st AS DOUBLE) - CAST(n_t AS DOUBLE)
        |           * (CAST(gst AS DOUBLE) / CAST(gnt AS DOUBLE)))
        |          * CAST(n_t + n_c AS DOUBLE) / CAST(n_t AS DOUBLE)
        |      - (CAST(sc AS DOUBLE) - CAST(n_c AS DOUBLE)
        |           * (CAST(gsc AS DOUBLE) / CAST(gnc AS DOUBLE)))
        |          * CAST(n_t + n_c AS DOUBLE) / CAST(n_c AS DOUBLE)
        |      ) * 1000000.0) AS BIGINT) ELSE NULL END AS cqr,
        |    CAST(round((
        |        (CAST(st AS DOUBLE) - CAST(n_t AS DOUBLE)
        |           * (CAST(gst AS DOUBLE) / CAST(gnt AS DOUBLE)))
        |          * CAST(n_t + n_c + 2 AS DOUBLE) / CAST(n_t + 1 AS DOUBLE)
        |      - (CAST(sc AS DOUBLE) - CAST(n_c AS DOUBLE)
        |           * (CAST(gsc AS DOUBLE) / CAST(gnc AS DOUBLE)))
        |          * CAST(n_t + n_c + 2 AS DOUBLE) / CAST(n_c + 1 AS DOUBLE)
        |      ) * 1000000.0) AS BIGINT) AS cqs
        |  FROM cells CROSS JOIN g),
        |per AS (SELECT stratum, n_t, n_c,
        |    round(CAST(n_t + 1 AS DOUBLE) / CAST(n_t + n_c + 2 AS DOUBLE), 9)
        |      AS e_hat_smoothed,
        |    round(CAST(cqr AS DOUBLE) / 100000000.0, 6) AS correction,
        |    CAST(NULL AS DOUBLE) AS ate_aipw,
        |    CAST(NULL AS DOUBLE) AS ate_aipw_smoothed
        |  FROM terms),
        |ovs AS (SELECT CAST(SUM(n_t) AS BIGINT) AS tnt,
        |    CAST(SUM(n_c) AS BIGINT) AS tnc,
        |    CAST(SUM(CASE WHEN cqr IS NOT NULL THEN n_t + n_c ELSE 0 END)
        |      AS BIGINT) AS n2,
        |    CAST(SUM(cqr) AS BIGINT) AS qr,
        |    CAST(SUM(cqs) AS BIGINT) AS qs FROM terms),
        |ov AS (SELECT CAST(-1 AS BIGINT) AS stratum, tnt AS n_t, tnc AS n_c,
        |    CAST(NULL AS DOUBLE) AS e_hat_smoothed,
        |    CAST(NULL AS DOUBLE) AS correction,
        |    round((CAST(gst AS DOUBLE) / CAST(gnt AS DOUBLE)
        |        - CAST(gsc AS DOUBLE) / CAST(gnc AS DOUBLE)
        |        + CAST(qr AS DOUBLE) / 1000000.0 / CAST(n2 AS DOUBLE))
        |      / 100.0, 6) AS ate_aipw,
        |    round((CAST(gst AS DOUBLE) / CAST(gnt AS DOUBLE)
        |        - CAST(gsc AS DOUBLE) / CAST(gnc AS DOUBLE)
        |        + CAST(qs AS DOUBLE) / 1000000.0
        |          / CAST(tnt + tnc AS DOUBLE))
        |      / 100.0, 6) AS ate_aipw_smoothed
        |  FROM ovs CROSS JOIN g)
        |SELECT * FROM per UNION ALL SELECT * FROM ov
        |ORDER BY stratum""".stripMargin,

    "q247_personalized_pagerank" -> pprSql(10, "purchase"),

    // WARC twin: per-source doc_id order, the writer's literal URI/type
    // and Content-Length = UTF-8 octet length, first-32-char payload head
    "q248_warc_roundtrip" ->
      """WITH d AS (
        |  SELECT source AS blob_id, doc_id, text,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
        |      AS BIGINT) AS rec_no
        |  FROM documents)
        |SELECT blob_id, rec_no,
        |  'response' AS warc_type,
        |  'http://example.com/docs/' || CAST(doc_id AS VARCHAR) AS target_uri,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
        |  substr(text, 1, 32) AS payload_head
        |FROM d ORDER BY blob_id, rec_no""".stripMargin,

    // q90 GOLDEN PIN (r9): the percentile sketch is now
    // Graft.histogramPercentiles — commutative integer bin counts, so the
    // estimate is partition-invariant (verified local[3] vs local[8]
    // bit-identical) and the sf0.01 row is hard-pinned, upgrading the
    // last sketch-family rows-only check to a full hash gate. The exact
    // columns stay literal too so testdata drift fails loudly; the
    // in-band `pass` gate (|approx−exact| ≤ 1% of range) still rides in
    // the query itself. (Captured 2026-08-14; recapture via Verify.)
    "q90_approx_percentile_gate" ->
      """SELECT CAST(53028.63 AS DOUBLE) AS p50_exact,
        |  CAST(53029.48 AS DOUBLE) AS p50_approx,
        |  CAST(94709.34 AS DOUBLE) AS p90_exact,
        |  CAST(94709.41 AS DOUBLE) AS p90_approx,
        |  CAST(103940.16 AS DOUBLE) AS p99_exact,
        |  CAST(103937.18 AS DOUBLE) AS p99_approx,
        |  TRUE AS pass""".stripMargin,

    // time-travel twin: identical synthetic manifest and the
    // added <= v < deleted visibility rule
    "q181_time_travel" ->
      """WITH m0 AS (
        |  SELECT l_orderkey // 4096 AS file_id, COUNT(*) AS n_rows
        |  FROM lineitem GROUP BY 1),
        |m AS (
        |  SELECT file_id, n_rows, file_id % 5 AS added_v,
        |    CASE WHEN file_id % 3 = 0 THEN file_id % 5 + 1 + file_id % 4
        |         ELSE NULL END AS deleted_v
        |  FROM m0),
        |g AS (SELECT unnest(generate_series(0, 8)) AS version)
        |SELECT g.version, COUNT(*) AS n_files,
        |  CAST(SUM(m.n_rows) AS BIGINT) AS n_rows
        |FROM g JOIN m ON m.added_v <= g.version
        |  AND (m.deleted_v IS NULL OR m.deleted_v > g.version)
        |GROUP BY g.version ORDER BY version""".stripMargin,

    // vacuum twin: identical manifest, deleted <= current - retain rule
    "q182_vacuum_plan" ->
      """WITH m0 AS (
        |  SELECT l_orderkey // 4096 AS file_id, COUNT(*) AS n_rows
        |  FROM lineitem GROUP BY 1),
        |m AS (
        |  SELECT file_id, n_rows, file_id % 5 AS added_v,
        |    CASE WHEN file_id % 3 = 0 THEN file_id % 5 + 1 + file_id % 4
        |         ELSE NULL END AS deleted_v
        |  FROM m0)
        |SELECT file_id, added_v, deleted_v, n_rows FROM m
        |WHERE deleted_v IS NOT NULL AND deleted_v <= 5
        |ORDER BY file_id""".stripMargin,

    // cross-validation twin: identical md5 folds, total-minus-fold
    // out-of-fold means, micro-quantized residuals
    "q180_cross_validation" ->
      """WITH b AS (
        |  SELECT event_type AS g, CAST(ROUND(value * 100.0) AS BIGINT) AS vq,
        |    CAST(md5_number_lower(CAST(event_id AS VARCHAR))
        |      & 2147483647 AS BIGINT) % 5 AS f
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |fg AS (SELECT f, g, COUNT(*) AS nfg, CAST(SUM(vq) AS BIGINT) AS sfg
        |       FROM b GROUP BY f, g),
        |gt AS (SELECT g, CAST(SUM(nfg) AS BIGINT) AS ng,
        |         CAST(SUM(sfg) AS BIGINT) AS sg
        |       FROM fg GROUP BY g),
        |oof AS (SELECT fg.f, fg.g, ((sg - sfg) * 10000) // (ng - nfg) AS mc
        |        FROM fg JOIN gt USING (g) WHERE ng > nfg),
        |tot AS (SELECT f, COUNT(*) AS nf FROM b GROUP BY f),
        |r AS (SELECT b.f, COUNT(*) AS n,
        |        SUM(CAST(b.vq * 10000 - o.mc AS HUGEINT) *
        |            (b.vq * 10000 - o.mc)) AS sse
        |      FROM b JOIN oof o ON o.f = b.f AND o.g = b.g GROUP BY b.f)
        |SELECT r.f AS fold, r.n, tot.nf - r.n AS n_skipped,
        |  sqrt(CAST(sse AS DOUBLE) / r.n) / 1000000.0 AS rmse
        |FROM r JOIN tot ON tot.f = r.f ORDER BY fold""".stripMargin,

    // weighted-percentile twin: identical (v, id) cumulative-weight
    // order and integer ⌈p·W/1000⌉ thresholds
    "q177_weighted_percentiles" ->
      """WITH b AS (
        |  SELECT l_extendedprice AS v, l_orderkey * 10 + l_linenumber AS id,
        |    CAST(l_quantity AS BIGINT) AS w
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        |    AND l_quantity > 0),
        |c AS (
        |  SELECT v, CAST(SUM(w) OVER (ORDER BY v, id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw
        |  FROM b),
        |t AS (SELECT CAST(SUM(w) AS BIGINT) AS w_total FROM b)
        |SELECT t.w_total,
        |  MIN(CASE WHEN cw >= ((w_total * 250) + 999) // 1000 THEN v END) AS p250,
        |  MIN(CASE WHEN cw >= ((w_total * 500) + 999) // 1000 THEN v END) AS p500,
        |  MIN(CASE WHEN cw >= ((w_total * 750) + 999) // 1000 THEN v END) AS p750
        |FROM c CROSS JOIN t GROUP BY t.w_total""".stripMargin,

    // sweep-line twin: identical delta construction, day-grid collapse,
    // prefix sum, and first-peak-day selection
    "q178_peak_concurrency" ->
      """WITH o AS (
        |  SELECT epoch_us(o_orderdate) // 86400000000 AS s,
        |    o_orderkey % 30 AS dur
        |  FROM orders),
        |d0 AS (SELECT s AS d, 1 AS delta FROM o
        |       UNION ALL SELECT s + dur + 1 AS d, -1 AS delta FROM o),
        |dd AS (SELECT d, CAST(SUM(delta) AS BIGINT) AS delta FROM d0 GROUP BY d),
        |c AS (SELECT d, CAST(SUM(delta) OVER (ORDER BY d
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |        AS active
        |      FROM dd),
        |p AS (SELECT MAX(active) AS peak FROM c)
        |SELECT p.peak, CAST(MIN(c.d) AS BIGINT) AS first_peak_day
        |FROM c CROSS JOIN p WHERE c.active = p.peak GROUP BY p.peak""".stripMargin,

    // skyline twin: the oracle IS the dominance definition — quadratic
    // NOT EXISTS, fine at sf0.01; the Spark plan must reproduce it from
    // the linear sweep
    "q185_skyline" ->
      """SELECT a.p_partkey, a.p_retailprice, CAST(a.p_size AS BIGINT) AS p_size
        |FROM part a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part b
        |  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
        |    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))
        |ORDER BY a.p_partkey""".stripMargin,

    // bootstrap twin: identical md5-thresholded Poisson weights,
    // identical integer micro-means and order-statistic positions
    "q176_bootstrap_ci" ->
      """WITH base AS (
        |  SELECT CAST(event_id AS VARCHAR) AS id,
        |    CAST(ROUND(value * 100.0) AS BIGINT) AS vc
        |  FROM events WHERE value IS NOT NULL),
        |fan AS (
        |  SELECT bb.b, id, vc FROM base
        |  CROSS JOIN (SELECT unnest(generate_series(0, 199)) AS b) bb),
        |wts AS (
        |  SELECT b, vc,
        |    CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
        |         WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
        |         WHEN u < 996340 THEN 4 ELSE 5 END AS w
        |  FROM (SELECT b, vc,
        |          CAST(md5_number_lower(CAST(b AS VARCHAR) || ':' || id)
        |            & 2147483647 AS BIGINT) % 1000000 AS u
        |        FROM fan) h),
        |res AS (
        |  SELECT b, CAST(SUM(w * vc) AS BIGINT) AS swv,
        |    CAST(SUM(w) AS BIGINT) AS sw
        |  FROM wts GROUP BY b HAVING SUM(w) > 0),
        |m AS (SELECT b, (swv * 10000) // sw AS mc FROM res),
        |r AS (SELECT mc, row_number() OVER (ORDER BY mc, b) AS r FROM m),
        |nb AS (SELECT COUNT(*) AS nb,
        |         greatest(1, (COUNT(*) * 25) // 1000) AS lo_pos,
        |         COUNT(*) - greatest(1, (COUNT(*) * 25) // 1000) + 1 AS hi_pos
        |       FROM m),
        |f AS (SELECT COUNT(*) AS n, CAST(SUM(vc) AS BIGINT) AS sv FROM base)
        |SELECT f.n, nb.nb AS n_resamples,
        |  CAST((f.sv * 10000) // f.n AS DOUBLE) / 1000000.0 AS mean,
        |  CAST(MAX(CASE WHEN r.r = nb.lo_pos THEN r.mc END) AS DOUBLE)
        |    / 1000000.0 AS lo95,
        |  CAST(MAX(CASE WHEN r.r = nb.hi_pos THEN r.mc END) AS DOUBLE)
        |    / 1000000.0 AS hi95
        |FROM r CROSS JOIN nb CROSS JOIN f
        |GROUP BY f.n, nb.nb, f.sv""".stripMargin,

    // rolling-slope twin: identical (t, o_orderkey) frame order, the
    // same five frame sums and single-division closed form
    "q174_rolling_slope" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey,
        |    epoch_us(o_orderdate) // 86400000000 AS t,
        |    CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS vc
        |  FROM orders),
        |w AS (
        |  SELECT o_custkey, o_orderkey, t,
        |    COUNT(*) OVER f AS n, CAST(SUM(t) OVER f AS BIGINT) AS sx,
        |    CAST(SUM(vc) OVER f AS BIGINT) AS sy,
        |    CAST(SUM(t * vc) OVER f AS BIGINT) AS sxy,
        |    CAST(SUM(t * t) OVER f AS BIGINT) AS sxx
        |  FROM o
        |  WINDOW f AS (PARTITION BY o_custkey ORDER BY t, o_orderkey
        |               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
        |SELECT o_custkey, o_orderkey, t, n AS n_window,
        |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
        |       ELSE CAST(n * sxy - sx * sy AS DOUBLE) /
        |            CAST(n * sxx - sx * sx AS DOUBLE) / 100.0 END
        |    AS slope_per_day
        |FROM w ORDER BY o_custkey, t, o_orderkey""".stripMargin,

    // ANOVA twin: identical cents quantization, milli-quantized
    // per-group between-terms, the same fixed F/η² chains
    "q175_anova" ->
      """WITH b AS (
        |  SELECT event_type AS g, CAST(ROUND(value * 100.0) AS BIGINT) AS vq
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |gg AS (
        |  SELECT g, COUNT(*) AS n, CAST(SUM(vq) AS BIGINT) AS s,
        |    CAST(SUM(vq * vq) AS BIGINT) AS q
        |  FROM b GROUP BY g),
        |gt AS (
        |  SELECT *, CAST(ROUND(CAST(s AS DOUBLE) * s / n * 1000.0) AS BIGINT)
        |    AS term FROM gg),
        |tot AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(s) AS BIGINT) AS ss,
        |    CAST(SUM(q) AS BIGINT) AS qq, CAST(SUM(term) AS BIGINT) AS t,
        |    COUNT(*) AS k
        |  FROM gt),
        |fin AS (
        |  SELECT k, nn,
        |    CAST(ROUND(CAST(ss AS DOUBLE) * ss / nn * 1000.0) AS BIGINT) AS gq,
        |    t, qq
        |  FROM tot)
        |SELECT k, nn AS n,
        |  CAST(t - gq AS DOUBLE) / 10000000.0 AS ssb,
        |  CAST(qq * 1000 - t AS DOUBLE) / 10000000.0 AS ssw,
        |  CASE WHEN k <= 1 OR qq * 1000 - t <= 0 THEN NULL
        |       ELSE (CAST(nn - k AS DOUBLE) * CAST(t - gq AS DOUBLE)) /
        |            (CAST(k - 1 AS DOUBLE) * CAST(qq * 1000 - t AS DOUBLE))
        |  END AS f_stat,
        |  CASE WHEN qq * 1000 - gq <= 0 THEN NULL
        |       ELSE CAST(t - gq AS DOUBLE) / CAST(qq * 1000 - gq AS DOUBLE)
        |  END AS eta2
        |FROM fin""".stripMargin,

    // Spearman twin: identical tie-averaged doubled ranks from
    // value-keyed counts, HUGEINT moments (exact, mirroring the decimal
    // sums), and the same final double/sqrt/divide expression shape
    "q210_spearman" ->
      """WITH b AS (
        |  SELECT l_quantity AS xv, l_extendedprice AS yv FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |nn AS (SELECT COUNT(*) AS nn FROM b),
        |rx AS (SELECT xv, 2 * (SUM(cnt) OVER (ORDER BY xv) - cnt) + cnt + 1 AS rx2
        |       FROM (SELECT xv, COUNT(*) AS cnt FROM b GROUP BY xv)),
        |ry AS (SELECT yv, 2 * (SUM(cnt) OVER (ORDER BY yv) - cnt) + cnt + 1 AS ry2
        |       FROM (SELECT yv, COUNT(*) AS cnt FROM b GROUP BY yv)),
        |c AS (SELECT rx2 - (nn + 1) AS cx, ry2 - (nn + 1) AS cy
        |      FROM b JOIN rx USING (xv) JOIN ry USING (yv) CROSS JOIN nn),
        |m AS (SELECT COUNT(*) AS n, SUM(cx * cy) AS sxy,
        |             SUM(cx * cx) AS sxx, SUM(cy * cy) AS syy FROM c)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CASE WHEN sxx = 0 OR syy = 0 THEN NULL
        |       ELSE least(greatest(CAST(sxy AS DOUBLE) /
        |            (sqrt(CAST(sxx AS DOUBLE)) * sqrt(CAST(syy AS DOUBLE))),
        |            -1.0), 1.0)
        |  END AS spearman_rho
        |FROM m""".stripMargin,

    // Mann–Whitney twin: identical value-keyed doubled tie-averaged
    // ranks (the q210 device), HUGEINT moments mirroring the decimal
    // sums, and the same tie-corrected z / rank-biserial double chains
    "q214_mann_whitney" ->
      """WITH b AS (
        |  SELECT value AS v,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS a
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')),
        |c AS (SELECT v, COUNT(*) AS n, SUM(a) AS na FROM b GROUP BY v),
        |r AS (SELECT v, n, na,
        |        2 * (SUM(n) OVER (ORDER BY v) - n) + n + 1 AS r2 FROM c),
        |m AS (SELECT SUM(na) AS n_a, SUM(n) - SUM(na) AS n_b,
        |        SUM(CAST(na AS HUGEINT) * r2) AS ra2,
        |        SUM(CAST(n AS HUGEINT) * n * n - n) AS t FROM r),
        |u AS (SELECT n_a, n_b, t,
        |        ra2 - CAST(n_a AS HUGEINT) * (n_a + 1) AS u2,
        |        n_a + n_b AS nn FROM m)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(u2 AS DOUBLE) / 2.0 AS u_a,
        |  CASE WHEN n_a = 0 OR n_b = 0 OR nn < 2 OR
        |            CAST(nn + 1 AS DOUBLE) - CAST(t AS DOUBLE) /
        |              (CAST(nn AS DOUBLE) * CAST(nn - 1 AS DOUBLE)) <= 0.0
        |       THEN NULL
        |       ELSE (CAST(u2 AS DOUBLE)
        |              - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) /
        |            sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 3.0 *
        |              (CAST(nn + 1 AS DOUBLE) - CAST(t AS DOUBLE) /
        |                (CAST(nn AS DOUBLE) * CAST(nn - 1 AS DOUBLE))))
        |  END AS z,
        |  CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
        |       ELSE CAST(u2 AS DOUBLE) /
        |            (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) - 1.0
        |  END AS rank_biserial
        |FROM u""".stripMargin,

    // clustering-coefficient twin: brute-force canonical triple-join
    // triangles (no knowledge of the degree orientation), identical
    // three-corner credit, exact-integer cc division, same
    // nano-quantized (cc desc, node) top-20
    "q227_clustering_coeff" ->
      """WITH seq AS (
        |  SELECT event_type, CAST(user_id AS VARCHAR) AS u,
        |    CAST(lead(user_id) OVER (PARTITION BY event_type
        |      ORDER BY epoch_us(ts), event_id) AS VARCHAR) AS v
        |  FROM events),
        |und AS (
        |  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
        |  FROM seq WHERE v IS NOT NULL AND u <> v),
        |deg AS (
        |  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        |    SELECT a AS node FROM und UNION ALL SELECT b FROM und)
        |  GROUP BY node),
        |tri AS (
        |  SELECT e1.a AS n1, e1.b AS n2, e2.b AS n3
        |  FROM und e1
        |  JOIN und e2 ON e2.a = e1.b
        |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
        |tn AS (
        |  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
        |    SELECT n1 AS node FROM tri UNION ALL SELECT n2 FROM tri
        |    UNION ALL SELECT n3 FROM tri)
        |  GROUP BY node),
        |c AS (
        |  SELECT d.node, d.degree,
        |    COALESCE(tn.n_triangles, 0) AS n_triangles
        |  FROM deg d LEFT JOIN tn USING (node) WHERE d.degree >= 5),
        |sc AS (
        |  SELECT node, degree, n_triangles,
        |    CAST(2 * n_triangles AS DOUBLE)
        |      / CAST(degree * (degree - 1) AS DOUBLE) AS cc,
        |    CAST(round(CAST(2 * n_triangles AS DOUBLE)
        |      / CAST(degree * (degree - 1) AS DOUBLE) * 1000000000.0)
        |      AS BIGINT) AS ccq
        |  FROM c)
        |SELECT node, degree, n_triangles, cc
        |FROM sc ORDER BY ccq DESC, node LIMIT 20""".stripMargin,

    // conformal twin: identical per-type mean predictor, absolute
    // residual chains, exact ceil((n+1)·0.9) order-statistic selection
    // (rank over (r, event_id)), and the same coverage ratio
    "q226_conformal" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type,
        |    CAST(round(value * 100.0) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |pred AS (
        |  SELECT event_type,
        |    CAST(SUM(cents) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |      AS pred_centi
        |  FROM ev WHERE user_id % 2 = 0 GROUP BY event_type),
        |cal AS (
        |  SELECT event_id, abs(CAST(cents AS DOUBLE) - pred_centi) AS r
        |  FROM ev JOIN pred USING (event_type) WHERE user_id % 4 = 1),
        |tst AS (
        |  SELECT abs(CAST(cents AS DOUBLE) - pred_centi) AS r
        |  FROM ev JOIN pred USING (event_type) WHERE user_id % 4 = 3),
        |rk AS (SELECT r, ROW_NUMBER() OVER (ORDER BY r, event_id) AS rn,
        |         COUNT(*) OVER () AS n_cal FROM cal),
        |qh AS (SELECT n_cal, r AS qhat FROM rk
        |       WHERE rn = ((900 * (n_cal + 1)) + 999) // 1000)
        |SELECT CAST(n_cal AS BIGINT) AS n_cal,
        |  CAST(COUNT(*) AS BIGINT) AS n_test, MAX(qhat) AS qhat,
        |  CAST(COUNT(*) FILTER (WHERE r <= qhat) AS BIGINT) AS n_covered,
        |  round(CAST(COUNT(*) FILTER (WHERE r <= qhat) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS coverage,
        |  0.9 AS target
        |FROM tst CROSS JOIN qh GROUP BY n_cal""".stripMargin,

    // CUPED twin: identical day split, per-user quantized means, md5
    // hash-bucket variant, exact HUGEINT moments mirroring the decimal
    // sums, and the same θ / lift / ρ² double chains
    "q225_cuped" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    CAST(round(value * 100.0) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |d0 AS (SELECT MIN(day) AS d0 FROM ev),
        |u AS (
        |  SELECT user_id,
        |    COUNT(*) FILTER (WHERE day < d0 + 14) AS nx,
        |    COALESCE(SUM(cents) FILTER (WHERE day < d0 + 14), 0) AS sx,
        |    COUNT(*) FILTER (WHERE day >= d0 + 14) AS ny,
        |    COALESCE(SUM(cents) FILTER (WHERE day >= d0 + 14), 0) AS sy
        |  FROM ev CROSS JOIN d0 GROUP BY user_id
        |  HAVING COUNT(*) FILTER (WHERE day < d0 + 14) > 0
        |     AND COUNT(*) FILTER (WHERE day >= d0 + 14) > 0),
        |q AS (
        |  SELECT
        |    CAST(round(CAST(sx AS DOUBLE) / CAST(nx AS DOUBLE) * 100.0)
        |      AS BIGINT) AS xq,
        |    CAST(round(CAST(sy AS DOUBLE) / CAST(ny AS DOUBLE) * 100.0)
        |      AS BIGINT) AS yq,
        |    (md5_number_lower(CAST(user_id AS VARCHAR)) & 1::UBIGINT)
        |      = 1::UBIGINT AS v
        |  FROM u),
        |m AS (
        |  SELECT COUNT(*) AS n,
        |    SUM(CAST(xq AS HUGEINT)) AS sx, SUM(CAST(yq AS HUGEINT)) AS sy,
        |    SUM(CAST(xq AS HUGEINT) * xq) AS sxx,
        |    SUM(CAST(yq AS HUGEINT) * yq) AS syy,
        |    SUM(CAST(xq AS HUGEINT) * yq) AS sxy,
        |    COUNT(*) FILTER (WHERE v) AS n_b,
        |    COALESCE(SUM(CAST(xq AS HUGEINT)) FILTER (WHERE v), 0) AS sxb,
        |    COALESCE(SUM(CAST(yq AS HUGEINT)) FILTER (WHERE v), 0) AS syb
        |  FROM q)
        |SELECT CAST(n AS BIGINT) AS n, CAST(n - n_b AS BIGINT) AS n_a,
        |  CAST(n_b AS BIGINT) AS n_b,
        |  CASE WHEN n_b = 0 OR n - n_b = 0
        |         OR CAST(n * sxx - sx * sx AS DOUBLE) <= 0.0 THEN NULL
        |    ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
        |      / CAST(n * sxx - sx * sx AS DOUBLE), 6) END AS theta_r,
        |  CASE WHEN n_b = 0 OR n - n_b = 0 THEN NULL
        |    ELSE round((CAST(syb AS DOUBLE) / CAST(n_b AS DOUBLE)
        |      - CAST(sy - syb AS DOUBLE) / CAST(n - n_b AS DOUBLE))
        |      / 10000.0, 6) END AS lift_naive_r,
        |  CASE WHEN n_b = 0 OR n - n_b = 0
        |         OR CAST(n * sxx - sx * sx AS DOUBLE) <= 0.0 THEN NULL
        |    ELSE round((CAST(syb AS DOUBLE) / CAST(n_b AS DOUBLE)
        |      - CAST(sy - syb AS DOUBLE) / CAST(n - n_b AS DOUBLE))
        |      / 10000.0
        |      - CAST(n * sxy - sx * sy AS DOUBLE)
        |        / CAST(n * sxx - sx * sx AS DOUBLE)
        |        * ((CAST(sxb AS DOUBLE) / CAST(n_b AS DOUBLE)
        |          - CAST(sx - sxb AS DOUBLE) / CAST(n - n_b AS DOUBLE))
        |          / 10000.0), 6) END AS lift_cuped_r,
        |  CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) <= 0.0
        |         OR CAST(n * syy - sy * sy AS DOUBLE) <= 0.0 THEN NULL
        |    ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
        |      * CAST(n * sxy - sx * sy AS DOUBLE)
        |      / (CAST(n * sxx - sx * sx AS DOUBLE)
        |        * CAST(n * syy - sy * sy AS DOUBLE)), 6)
        |  END AS var_reduction_r
        |FROM m""".stripMargin,

    // Kaplan–Meier twin: identical span/censoring derivation, at-risk
    // prefix over ALL durations, nano-quantized ln(1−d/n) prefix over
    // death times, and the same zero-survival flag discipline
    "q222_kaplan_meier" ->
      """WITH u AS (
        |  SELECT user_id,
        |    (max(epoch_us(ts)) - min(epoch_us(ts))) // 86400000000 AS dur,
        |    MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS obs
        |  FROM events GROUP BY user_id),
        |tot AS (SELECT COUNT(*) AS nn FROM u),
        |g AS (SELECT dur, COUNT(*) AS na, SUM(obs) AS d FROM u GROUP BY dur),
        |c AS (SELECT dur, na, d,
        |        CAST(SUM(na) OVER (ORDER BY dur) AS BIGINT) AS cum FROM g),
        |r AS (SELECT dur, d, nn - (cum - na) AS at_risk
        |      FROM c CROSS JOIN tot WHERE d > 0),
        |l AS (SELECT dur, d, at_risk,
        |        CASE WHEN d >= at_risk THEN 0
        |             ELSE CAST(round(ln(1.0 - CAST(d AS DOUBLE)
        |               / CAST(at_risk AS DOUBLE)) * 1000000000.0) AS BIGINT)
        |        END AS lnq,
        |        CASE WHEN d >= at_risk THEN 1 ELSE 0 END AS z FROM r),
        |f AS (SELECT dur, d, at_risk,
        |        SUM(lnq) OVER (ORDER BY dur) AS cq,
        |        SUM(z) OVER (ORDER BY dur) AS cz FROM l)
        |SELECT CAST(dur AS BIGINT) AS duration_days,
        |  CAST(d AS BIGINT) AS n_deaths, CAST(at_risk AS BIGINT) AS n_at_risk,
        |  CASE WHEN cz >= 1 THEN 0.0
        |       ELSE round(exp(CAST(cq AS DOUBLE) / 1000000000.0), 6)
        |  END AS survival
        |FROM f ORDER BY duration_days""".stripMargin,

    // log-rank twin: identical span/censoring/parity derivation, at-risk
    // prefixes over the distinct-duration table, HUGEINT per-time
    // numerators (the Spark side's Decimal(38)) cast once to double,
    // nano-quantized terms, the same fixed Z/χ² double chain
    "q302_logrank" ->
      """WITH u AS (
        |  SELECT user_id,
        |    (max(epoch_us(ts)) - min(epoch_us(ts))) // 86400000000 AS dur,
        |    MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS obs,
        |    user_id % 2 AS grp
        |  FROM events GROUP BY user_id),
        |g AS (SELECT dur, COUNT(*) AS na, SUM(grp) AS na1, SUM(obs) AS d,
        |        SUM(grp * obs) AS d1
        |      FROM u GROUP BY dur),
        |tot AS (SELECT CAST(SUM(na) AS BIGINT) AS nn,
        |               CAST(SUM(na1) AS BIGINT) AS nn1 FROM g),
        |c AS (SELECT dur, na, na1, d, d1,
        |        CAST(SUM(na) OVER (ORDER BY dur) AS BIGINT) AS cum,
        |        CAST(SUM(na1) OVER (ORDER BY dur) AS BIGINT) AS cum1 FROM g),
        |r AS (SELECT dur, d, d1,
        |        nn - (cum - na) AS risk, nn1 - (cum1 - na1) AS risk1
        |      FROM c CROSS JOIN tot WHERE d > 0),
        |term AS (SELECT d, d1,
        |    CAST(round((CAST(d1 AS DOUBLE)
        |      - CAST(CAST(d AS HUGEINT) * risk1 AS DOUBLE)
        |        / CAST(risk AS DOUBLE)) * 1000000000.0) AS BIGINT) AS oeq,
        |    CASE WHEN risk > 1 THEN CAST(round(
        |        CAST(CAST(d AS HUGEINT) * risk1 * (risk - risk1)
        |          * (risk - d) AS DOUBLE)
        |        / CAST(CAST(risk AS HUGEINT) * risk * (risk - 1) AS DOUBLE)
        |        * 1000000000.0) AS BIGINT)
        |      ELSE 0 END AS vq
        |  FROM r),
        |f AS (SELECT COUNT(*) AS n_death_times,
        |        CAST(SUM(d1) AS BIGINT) AS deaths_treat,
        |        CAST(SUM(d - d1) AS BIGINT) AS deaths_control,
        |        CAST(SUM(oeq) AS BIGINT) AS oes,
        |        CAST(SUM(vq) AS BIGINT) AS vs FROM term)
        |SELECT CAST(n_death_times AS BIGINT) AS n_death_times,
        |  deaths_treat, deaths_control,
        |  round(CAST(oes AS DOUBLE) / 1000000000.0, 6) AS o_minus_e,
        |  round(CAST(vs AS DOUBLE) / 1000000000.0, 6) AS variance,
        |  CASE WHEN vs > 0 THEN
        |      round((CAST(oes AS DOUBLE) / 1000000000.0)
        |        / sqrt(CAST(vs AS DOUBLE) / 1000000000.0), 6)
        |    ELSE NULL END AS z_score,
        |  CASE WHEN vs > 0 THEN
        |      round((CAST(oes AS DOUBLE) / 1000000000.0)
        |        * (CAST(oes AS DOUBLE) / 1000000000.0)
        |        / (CAST(vs AS DOUBLE) / 1000000000.0), 6)
        |    ELSE NULL END AS chi_sq
        |FROM f""".stripMargin,

    // MASE twin: identical daily cent sums, day−7 self-join, exact |Δ|
    // longs, nano-quantized sMAPE terms, the same fixed ratio chains
    "q305_mase_backtest" ->
      """WITH daily AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(SUM(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) AS y
        |  FROM events
        |  WHERE event_type = 'click' AND value IS NOT NULL
        |  GROUP BY 1),
        |mx AS (SELECT MAX(day) AS mxd FROM daily),
        |pairs AS (
        |  SELECT a.day > mxd - 14 AS te, abs(a.y - b.y) AS ae,
        |    a.y + b.y AS yy
        |  FROM daily a JOIN daily b ON a.day = b.day + 7 CROSS JOIN mx),
        |f AS (SELECT
        |    CAST(SUM(CASE WHEN te THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_train_pairs,
        |    CAST(SUM(CASE WHEN te THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_test_pairs,
        |    CAST(SUM(CASE WHEN te THEN 0 ELSE ae END) AS BIGINT) AS sr,
        |    CAST(SUM(CASE WHEN te THEN ae ELSE 0 END) AS BIGINT) AS st,
        |    CAST(SUM(CASE WHEN te AND yy > 0 THEN
        |        CAST(round(2.0 * CAST(ae AS DOUBLE) / CAST(yy AS DOUBLE)
        |          * 1000000000.0) AS BIGINT) ELSE 0 END) AS BIGINT) AS sm
        |  FROM pairs)
        |SELECT n_train_pairs, n_test_pairs,
        |  round(CAST(st AS DOUBLE) / CAST(n_test_pairs AS DOUBLE)
        |    / 100.0, 6) AS mae_test,
        |  round(CAST(sr AS DOUBLE) / CAST(n_train_pairs AS DOUBLE)
        |    / 100.0, 6) AS mae_naive_train,
        |  round((CAST(st AS DOUBLE) / CAST(n_test_pairs AS DOUBLE))
        |    / (CAST(sr AS DOUBLE) / CAST(n_train_pairs AS DOUBLE)), 6)
        |    AS mase,
        |  round(CAST(sm AS DOUBLE) / 1000000000.0
        |    / CAST(n_test_pairs AS DOUBLE), 6) AS smape
        |FROM f""".stripMargin,

    // Neyman twin: identical stratum moments (HUGEINT products), the
    // same micro-quantized σ and exact-integer allocation/deff chains
    "q306_neyman_allocation" ->
      """WITH st AS (
        |  SELECT event_type AS stratum, COUNT(*) AS nh,
        |    SUM(CAST(CAST(round(value * 100.0) AS BIGINT) AS HUGEINT))
        |      AS sx,
        |    SUM(CAST(CAST(round(value * 100.0) AS BIGINT) AS HUGEINT)
        |      * CAST(round(value * 100.0) AS BIGINT)) AS sxx
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1),
        |sig AS (SELECT stratum, CAST(nh AS BIGINT) AS nh,
        |    CASE WHEN nh > 1 THEN CAST(round(sqrt(
        |        CAST(nh * sxx - sx * sx AS DOUBLE)
        |        / CAST(CAST(nh AS HUGEINT) * (nh - 1) AS DOUBLE))
        |      * 1000000.0) AS BIGINT) ELSE 0 END AS sigq
        |  FROM st),
        |tot AS (SELECT CAST(SUM(nh) AS BIGINT) AS nn,
        |    SUM(CAST(nh AS HUGEINT) * sigq) AS den,
        |    SUM(CAST(nh AS HUGEINT) * sigq * sigq) AS s2w FROM sig)
        |SELECT stratum, nh AS n_h,
        |  CAST(sigq AS DOUBLE) / 1000000.0 AS sigma_cents,
        |  CAST(round(10000.0 * CAST(CAST(nh AS HUGEINT) * sigq AS DOUBLE)
        |    / CAST(den AS DOUBLE)) AS BIGINT) AS alloc_neyman,
        |  CAST(round(10000.0 * CAST(nh AS DOUBLE) / CAST(nn AS DOUBLE))
        |    AS BIGINT) AS alloc_prop,
        |  round(CAST(nn * s2w AS DOUBLE) / CAST(den * den AS DOUBLE), 6)
        |    AS design_effect
        |FROM sig CROSS JOIN tot ORDER BY stratum""".stripMargin,

    // RMST twin: q222's KM chain, lead-window interval widths clamped
    // to τ, micro-quantized S·Δt terms, one leading S=1 segment
    "q314_rmst" ->
      """WITH u AS (
        |  SELECT user_id,
        |    (max(epoch_us(ts)) - min(epoch_us(ts))) // 86400000000 AS dur,
        |    MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS obs
        |  FROM events GROUP BY user_id),
        |tot AS (SELECT COUNT(*) AS nn FROM u),
        |g AS (SELECT dur, COUNT(*) AS na, SUM(obs) AS d FROM u GROUP BY dur),
        |c AS (SELECT dur, na, d,
        |        CAST(SUM(na) OVER (ORDER BY dur) AS BIGINT) AS cum FROM g),
        |r AS (SELECT dur, d, nn - (cum - na) AS at_risk
        |      FROM c CROSS JOIN tot WHERE d > 0),
        |l AS (SELECT dur, d, at_risk,
        |        CASE WHEN d >= at_risk THEN 0
        |             ELSE CAST(round(ln(1.0 - CAST(d AS DOUBLE)
        |               / CAST(at_risk AS DOUBLE)) * 1000000000.0) AS BIGINT)
        |        END AS lnq,
        |        CASE WHEN d >= at_risk THEN 1 ELSE 0 END AS z FROM r),
        |f AS (SELECT dur,
        |        SUM(lnq) OVER (ORDER BY dur) AS cq,
        |        SUM(z) OVER (ORDER BY dur) AS cz FROM l),
        |km AS (SELECT dur AS duration,
        |        CASE WHEN cz >= 1 THEN 0.0
        |             ELSE round(exp(CAST(cq AS DOUBLE) / 1000000000.0), 6)
        |        END AS survival FROM f),
        |w AS (SELECT duration, survival,
        |    GREATEST(0, LEAST(COALESCE(
        |        lead(duration) OVER (ORDER BY duration), 21), 21)
        |      - LEAST(duration, 21)) AS w
        |  FROM km),
        |seg AS (SELECT CAST(SUM(CAST(ROUND(survival * CAST(w AS DOUBLE)
        |      * 1000000.0) AS BIGINT)) AS BIGINT) AS s,
        |    CAST(COUNT(*) AS BIGINT) AS n_death_times FROM w),
        |hd AS (SELECT MIN(duration) AS t1 FROM km)
        |SELECT CAST(21 AS BIGINT) AS tau, n_death_times,
        |  round(CAST(LEAST(t1, 21) AS DOUBLE)
        |    + CAST(s AS DOUBLE) / 1000000.0, 6) AS rmst
        |FROM seg CROSS JOIN hd""".stripMargin,

    // target-encoding twin: identical category sums, broadcast prior
    // division, and the same one-division-per-row smoothed LOO chain
    "q221_target_encode" ->
      """WITH b AS (
        |  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |    l_partkey, l_returnflag = 'R' AS returned,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |  FROM lineitem),
        |c AS (SELECT l_partkey, COUNT(*) AS nc, SUM(y) AS pc
        |      FROM b GROUP BY l_partkey),
        |p AS (SELECT CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |        AS prior FROM b)
        |SELECT l_orderkey, l_linenumber, l_partkey, returned,
        |  (CAST(pc - y AS DOUBLE) + 10.0 * prior)
        |    / (CAST(nc - 1 AS DOUBLE) + 10.0) AS te
        |FROM b JOIN c USING (l_partkey) CROSS JOIN p
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // best-split twin: identical distinct-value prefix counts, the same
    // entropy double chain (ln, single divisions) nano-quantized before
    // the (gain desc, threshold asc) argmax
    "q220_best_split" -> {
      def h(p: String, n: String): String =
        s"""CASE WHEN $n = 0 OR $p = 0 OR $p = $n THEN 0.0
           |     ELSE -(CAST($p AS DOUBLE) / CAST($n AS DOUBLE)
           |              * ln(CAST($p AS DOUBLE) / CAST($n AS DOUBLE))
           |            + CAST($n - $p AS DOUBLE) / CAST($n AS DOUBLE)
           |              * ln(CAST($n - $p AS DOUBLE) / CAST($n AS DOUBLE)))
           |END""".stripMargin
      s"""WITH b AS (
         |  SELECT value AS v,
         |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
         |  FROM events
         |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
         |t AS (SELECT COUNT(*) AS n, SUM(y) AS pos FROM b),
         |c AS (SELECT v, COUNT(*) AS cnt, SUM(y) AS p FROM b GROUP BY v),
         |cum AS (SELECT v, CAST(SUM(cnt) OVER (ORDER BY v) AS BIGINT) AS nl,
         |          CAST(SUM(p) OVER (ORDER BY v) AS BIGINT) AS pl FROM c),
         |g AS (SELECT v, nl, pl, n, pos,
         |        n - nl AS nr, pos - pl AS pr FROM cum CROSS JOIN t),
         |e AS (SELECT *,
         |        ${h("pos", "n")}
         |        - CAST(nl AS DOUBLE) / CAST(n AS DOUBLE) * ${h("pl", "nl")}
         |        - CAST(nr AS DOUBLE) / CAST(n AS DOUBLE) * ${h("pr", "nr")}
         |          AS gain
         |      FROM g),
         |q AS (SELECT v, nl, pl, n, pos,
         |        CAST(round(gain * 1000000000.0) AS BIGINT) AS gq FROM e)
         |SELECT CAST(n AS BIGINT) AS n_total, CAST(pos AS BIGINT) AS n_pos,
         |  v AS best_threshold, nl AS n_left, pl AS pos_left,
         |  CAST(gq AS DOUBLE) / 1000000000.0 AS gain
         |FROM q ORDER BY gq DESC, v LIMIT 1""".stripMargin
    },

    // BH-FDR twin: identical epoch-integer hour/weekend cells, Welch z
    // over exact micro-quantized HUGEINT sums, the same A&S 7.1.26
    // erfc Horner chain micro-quantized before ranking, and the same
    // ascending-rank + suffix-running-min step-up
    "q215_bh_fdr" ->
      """WITH e AS (
        |  SELECT event_type,
        |    (epoch_us(ts) // 3600000000) % 24 AS hr,
        |    ((epoch_us(ts) // 86400000000) + 4) % 7 IN (0, 6) AS we,
        |    CAST(round(value * 100.0) AS BIGINT) AS vq
        |  FROM events WHERE value IS NOT NULL),
        |cells AS (
        |  SELECT event_type, hr,
        |    COUNT(*) FILTER (WHERE we) AS n_we,
        |    COALESCE(SUM(CAST(vq AS HUGEINT)) FILTER (WHERE we), 0) AS s_we,
        |    COALESCE(SUM(CAST(vq AS HUGEINT) * vq) FILTER (WHERE we), 0)
        |      AS q_we,
        |    COUNT(*) FILTER (WHERE NOT we) AS n_wd,
        |    COALESCE(SUM(CAST(vq AS HUGEINT)) FILTER (WHERE NOT we), 0)
        |      AS s_wd,
        |    COALESCE(SUM(CAST(vq AS HUGEINT) * vq) FILTER (WHERE NOT we), 0)
        |      AS q_wd
        |  FROM e GROUP BY event_type, hr
        |  HAVING COUNT(*) FILTER (WHERE we) >= 2
        |     AND COUNT(*) FILTER (WHERE NOT we) >= 2),
        |zc AS (
        |  SELECT event_type, hr, n_we, n_wd,
        |    (CAST(s_we AS DOUBLE) / CAST(n_we AS DOUBLE)
        |      - CAST(s_wd AS DOUBLE) / CAST(n_wd AS DOUBLE)) /
        |    sqrt((CAST(q_we AS DOUBLE) - CAST(s_we AS DOUBLE)
        |            * CAST(s_we AS DOUBLE) / CAST(n_we AS DOUBLE))
        |           / (CAST(n_we AS DOUBLE) - 1.0) / CAST(n_we AS DOUBLE)
        |        + (CAST(q_wd AS DOUBLE) - CAST(s_wd AS DOUBLE)
        |            * CAST(s_wd AS DOUBLE) / CAST(n_wd AS DOUBLE))
        |           / (CAST(n_wd AS DOUBLE) - 1.0) / CAST(n_wd AS DOUBLE))
        |      AS z,
        |    (CAST(q_we AS DOUBLE) - CAST(s_we AS DOUBLE)
        |       * CAST(s_we AS DOUBLE) / CAST(n_we AS DOUBLE))
        |      / (CAST(n_we AS DOUBLE) - 1.0) / CAST(n_we AS DOUBLE)
        |    + (CAST(q_wd AS DOUBLE) - CAST(s_wd AS DOUBLE)
        |       * CAST(s_wd AS DOUBLE) / CAST(n_wd AS DOUBLE))
        |      / (CAST(n_wd AS DOUBLE) - 1.0) / CAST(n_wd AS DOUBLE) AS se2
        |  FROM cells),
        |p AS (
        |  SELECT event_type, hr, n_we, n_wd, z,
        |    GREATEST(0, LEAST(1000000, CAST(round(
        |      (1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0)))) *
        |      (0.254829592 + (1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))
        |        * (-0.284496736 + (1.0 / (1.0 + 0.3275911 *
        |            (abs(z) / sqrt(2.0))))
        |          * (1.421413741 + (1.0 / (1.0 + 0.3275911 *
        |              (abs(z) / sqrt(2.0))))
        |            * (-1.453152027 + (1.0 / (1.0 + 0.3275911 *
        |                (abs(z) / sqrt(2.0)))) * 1.061405429)))) *
        |      exp(-(abs(z) / sqrt(2.0)) * (abs(z) / sqrt(2.0))) * 1000000.0)
        |      AS BIGINT))) AS p_micro
        |  FROM zc WHERE se2 > 0.0),
        |m AS (SELECT COUNT(*) AS m FROM p),
        |rk AS (
        |  SELECT p.*, m.m,
        |    ROW_NUMBER() OVER (ORDER BY p_micro, event_type, hr) AS p_rank
        |  FROM p CROSS JOIN m),
        |bh AS (
        |  SELECT rk.*,
        |    MIN(CAST(p_micro * m AS DOUBLE) / CAST(p_rank AS DOUBLE))
        |      OVER (ORDER BY p_micro DESC, event_type DESC, hr DESC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS q_micro
        |  FROM rk)
        |SELECT event_type, CAST(hr AS BIGINT) AS hr, n_we, n_wd,
        |  round(z, 4) AS z_r, p_micro, p_rank,
        |  LEAST(q_micro / 1000000.0, 1.0) AS q_value,
        |  LEAST(q_micro / 1000000.0, 1.0) <= 0.05 AS discovered
        |FROM bh ORDER BY event_type, hr""".stripMargin,

    // link-prediction twin: identical normalized edge set, hub-capped
    // bridge join, nano-quantized 1/ln(deg) terms, and the same
    // (aa_q desc, x, y) top-20 order
    "q173_link_prediction" ->
      """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (SELECT DISTINCT x.pk AS a, y.pk AS b
        |      FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
        |adj AS (SELECT a AS u, b AS v FROM e
        |        UNION ALL SELECT b AS u, a AS v FROM e),
        |deg AS (SELECT u, COUNT(*) AS deg FROM adj GROUP BY u),
        |bridge AS (SELECT adj.u, adj.v, deg.deg FROM adj
        |           JOIN deg USING (u) WHERE deg <= 100),
        |paths AS (SELECT l.v AS x, r.v AS y, l.deg AS degz
        |          FROM bridge l JOIN bridge r
        |            ON l.u = r.u AND l.v < r.v),
        |sc AS (SELECT x, y, COUNT(*) AS cn,
        |         CAST(SUM(CAST(ROUND(1000000000.0 / ln(CAST(degz AS DOUBLE)))
        |           AS BIGINT)) AS BIGINT) AS aa_q
        |       FROM paths GROUP BY x, y),
        |cand AS (SELECT sc.* FROM sc
        |         WHERE NOT EXISTS (SELECT 1 FROM e
        |                           WHERE e.a = sc.x AND e.b = sc.y)),
        |j AS (SELECT c.x, c.y, c.cn, c.aa_q, dx.deg AS degx, dy.deg AS degy
        |      FROM cand c JOIN deg dx ON dx.u = c.x
        |      JOIN deg dy ON dy.u = c.y)
        |SELECT x, y, cn, CAST(aa_q AS DOUBLE) / 1000000000.0 AS adamic_adar,
        |  CAST(cn AS DOUBLE) / (degx + degy - cn) AS jaccard
        |FROM j ORDER BY aa_q DESC, x, y LIMIT 20""".stripMargin,

    // closeness twin: the same derived-modulus seed set, the BFS
    // relaxation as a recursive CTE (UNION dedups (seed,node,dist)
    // states), min-dist per pair, integer-division 1/d contributions
    "q345_closeness" ->
      """WITH RECURSIVE li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (SELECT DISTINCT x.pk AS a, y.pk AS b
        |      FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
        |adj AS (SELECT a AS u, b AS v FROM e
        |        UNION ALL SELECT b AS u, a AS v FROM e),
        |nodes AS (SELECT DISTINCT u AS node FROM adj),
        |cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
        |seeds AS (SELECT node AS seed FROM nodes CROSS JOIN cnt
        |          WHERE node % greatest(1, n // 4) = 0),
        |walk AS (
        |  SELECT seed, seed AS node, CAST(0 AS BIGINT) AS dist FROM seeds
        |  UNION
        |  SELECT w.seed, a.v AS node, w.dist + 1 AS dist
        |  FROM walk w JOIN adj a ON a.u = w.node WHERE w.dist < 3
        |),
        |md AS (SELECT seed, node, MIN(dist) AS dist
        |       FROM walk GROUP BY 1, 2),
        |contrib AS (
        |  SELECT node, CAST(COUNT(*) AS BIGINT) AS reached,
        |    CAST(SUM(1000000 // dist) AS BIGINT) AS hm
        |  FROM md WHERE dist > 0 GROUP BY 1),
        |top AS (SELECT * FROM contrib ORDER BY hm DESC, node LIMIT 20),
        |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_seeds FROM seeds)
        |SELECT node, reached, n_seeds,
        |  round(CAST(hm AS DOUBLE) / 1000000.0, 6) AS harmonic,
        |  round(CAST(hm AS DOUBLE) / 1000000.0 / CAST(n_seeds AS DOUBLE), 6)
        |    AS harmonic_norm
        |FROM top CROSS JOIN ns ORDER BY hm DESC, node""".stripMargin,

    // robustness twin: same non-hub seed modulus, two bounded
    // recursive walks (full vs hub-pruned adjacency), distinct-node
    // reach counts, one division
    "q352_hub_robustness" ->
      """WITH RECURSIVE li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (SELECT DISTINCT x.pk AS a, y.pk AS b
        |      FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
        |adj AS (SELECT a AS u, b AS v FROM e
        |        UNION ALL SELECT b AS u, a AS v FROM e),
        |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg
        |        FROM adj GROUP BY u),
        |nonhub AS (SELECT u AS node FROM deg WHERE deg < 100),
        |cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nonhub),
        |seeds AS (SELECT node AS seed FROM nonhub CROSS JOIN cnt
        |          WHERE node % greatest(1, n // 4) = 0),
        |pruned AS (SELECT a.u, a.v FROM adj a
        |           JOIN nonhub x ON x.node = a.u
        |           JOIN nonhub y ON y.node = a.v),
        |wb AS (
        |  SELECT seed, seed AS node, CAST(0 AS BIGINT) AS dist FROM seeds
        |  UNION
        |  SELECT w.seed, a.v AS node, w.dist + 1 AS dist
        |  FROM wb w JOIN adj a ON a.u = w.node WHERE w.dist < 2
        |),
        |wa AS (
        |  SELECT seed, seed AS node, CAST(0 AS BIGINT) AS dist FROM seeds
        |  UNION
        |  SELECT w.seed, p.v AS node, w.dist + 1 AS dist
        |  FROM wa w JOIN pruned p ON p.u = w.node WHERE w.dist < 2
        |),
        |rb AS (SELECT seed, CAST(COUNT(DISTINCT node) AS BIGINT)
        |         AS reach_before
        |       FROM wb WHERE node <> seed GROUP BY 1),
        |ra AS (SELECT seed, CAST(COUNT(DISTINCT node) AS BIGINT)
        |         AS reach_after
        |       FROM wa WHERE node <> seed GROUP BY 1)
        |SELECT rb.seed, rb.reach_before,
        |  COALESCE(ra.reach_after, 0) AS reach_after,
        |  round(CAST(COALESCE(ra.reach_after, 0) AS DOUBLE) /
        |    CAST(rb.reach_before AS DOUBLE), 6) AS retained
        |FROM rb LEFT JOIN ra ON ra.seed = rb.seed
        |ORDER BY rb.seed""".stripMargin,

    // placebo/E-value twin: identical md5-parity pseudo-treatment,
    // eight exact cells from one conditional aggregate, the same
    // rate/RR/E-value/z double chains
    "q353_placebo_evalue" ->
      """WITH u AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY 1),
        |b AS (
        |  SELECT conv, (user_id % 2 = 0) AS tr,
        |    ((md5_number_lower(CAST(user_id AS VARCHAR)) & 1::UBIGINT)
        |      = 1::UBIGINT) AS trp
        |  FROM u),
        |ag AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |    CAST(SUM(CASE WHEN tr THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN tr THEN conv ELSE 0 END) AS BIGINT) AS x1,
        |    CAST(SUM(CASE WHEN NOT tr THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(SUM(CASE WHEN NOT tr THEN conv ELSE 0 END) AS BIGINT) AS x0,
        |    CAST(SUM(CASE WHEN trp THEN 1 ELSE 0 END) AS BIGINT) AS np1,
        |    CAST(SUM(CASE WHEN trp THEN conv ELSE 0 END) AS BIGINT) AS xp1,
        |    CAST(SUM(CASE WHEN NOT trp THEN 1 ELSE 0 END) AS BIGINT) AS np0,
        |    CAST(SUM(CASE WHEN NOT trp THEN conv ELSE 0 END) AS BIGINT) AS xp0
        |  FROM b),
        |c AS (
        |  SELECT n_users, x1, x0,
        |    CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
        |    CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS p0,
        |    (CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)) /
        |      (CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE)) AS rr,
        |    CASE WHEN sqrt((CAST(x1 + x0 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE))
        |        * (1.0 - CAST(x1 + x0 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE))
        |        * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n0 AS DOUBLE)))
        |        <= 0.0 THEN NULL
        |      ELSE (CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |          - CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE))
        |        / sqrt((CAST(x1 + x0 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE))
        |          * (1.0 - CAST(x1 + x0 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE))
        |          * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n0 AS DOUBLE)))
        |      END AS zr,
        |    CASE WHEN sqrt((CAST(xp1 + xp0 AS DOUBLE)
        |          / CAST(np1 + np0 AS DOUBLE))
        |        * (1.0 - CAST(xp1 + xp0 AS DOUBLE) / CAST(np1 + np0 AS DOUBLE))
        |        * (1.0 / CAST(np1 AS DOUBLE) + 1.0 / CAST(np0 AS DOUBLE)))
        |        <= 0.0 THEN NULL
        |      ELSE (CAST(xp1 AS DOUBLE) / CAST(np1 AS DOUBLE)
        |          - CAST(xp0 AS DOUBLE) / CAST(np0 AS DOUBLE))
        |        / sqrt((CAST(xp1 + xp0 AS DOUBLE) / CAST(np1 + np0 AS DOUBLE))
        |          * (1.0 - CAST(xp1 + xp0 AS DOUBLE)
        |            / CAST(np1 + np0 AS DOUBLE))
        |          * (1.0 / CAST(np1 AS DOUBLE) + 1.0 / CAST(np0 AS DOUBLE)))
        |      END AS zp
        |  FROM ag),
        |d AS (
        |  SELECT *, CASE WHEN rr >= 1.0 THEN rr ELSE 1.0 / rr END AS rrs
        |  FROM c)
        |SELECT n_users, round(p1, 6) AS p_treated, round(p0, 6) AS p_control,
        |  CASE WHEN x0 = 0 THEN NULL ELSE round(rr, 6) END AS risk_ratio,
        |  CASE WHEN x0 = 0 OR x1 = 0 THEN NULL
        |    ELSE round(rrs + sqrt(rrs * (rrs - 1.0)), 6) END AS e_value,
        |  round(zr, 4) AS z_real, round(zp, 4) AS z_placebo,
        |  CASE WHEN zp IS NULL THEN NULL ELSE abs(zp) < 1.96 END
        |    AS placebo_pass
        |FROM d""".stripMargin,

    // equi-depth twin: identical rank-arithmetic bucket id; boundary
    // ties share the endpoint value so the permutation inside a tie
    // group cannot show
    "q172_equidepth_histogram" ->
      """WITH b AS (
        |  SELECT l_extendedprice AS v FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL),
        |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM b),
        |t AS (SELECT COUNT(*) AS nt FROM b)
        |SELECT ((rn - 1) * 10) // nt AS bucket, COUNT(*) AS n,
        |  MIN(v) AS lo, MAX(v) AS hi
        |FROM r CROSS JOIN t GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q140_label_propagation" -> labelPropSql(3),

    "q219_hilbert_locality" -> hilbertLocalitySql,

    // modularity twin: the full label-prop replay (the q140 CTE chain)
    // extended with the exact integer masses and the identical
    // two-division Q chain; edge canonicalization is a no-op here (the
    // seq join already emits a < b)
    "q218_modularity" -> labelPropSql(3, Some(
      """,mm AS (SELECT COUNT(*) AS m_edges FROM und),
        |w AS (SELECT COUNT(*) AS within_edges FROM und u
        |      JOIN l3 la ON la.node = u.a JOIN l3 lb ON lb.node = u.b
        |      WHERE la.lab = lb.lab),
        |deg AS (SELECT node, COUNT(*) AS d FROM (
        |          SELECT a AS node FROM und
        |          UNION ALL SELECT b AS node FROM und) GROUP BY node),
        |dcm AS (SELECT l.lab, SUM(d) AS dcv
        |        FROM deg JOIN l3 l USING (node) GROUP BY l.lab),
        |s AS (SELECT COUNT(*) AS n_communities,
        |        SUM(CAST(dcv AS HUGEINT) * dcv) AS sd2 FROM dcm),
        |nn AS (SELECT COUNT(*) AS n_nodes FROM l3)
        |SELECT CAST(n_communities AS BIGINT) AS n_communities,
        |  CAST(n_nodes AS BIGINT) AS n_nodes,
        |  CAST(m_edges AS BIGINT) AS m_edges,
        |  CAST(within_edges AS BIGINT) AS within_edges,
        |  CASE WHEN m_edges = 0 THEN NULL
        |       ELSE CAST(within_edges AS DOUBLE) / CAST(m_edges AS DOUBLE)
        |         - CAST(sd2 AS DOUBLE) / (4.0 * CAST(m_edges AS DOUBLE)
        |             * CAST(m_edges AS DOUBLE))
        |  END AS modularity
        |FROM s, nn, mm, w""".stripMargin)),
    "q147_kcore" -> kCoreSql(70, 3),
    "q149_acf" -> acfSql(3),
    "q150_cusum" -> cusumSql(5000000L, 50000000L),
    "q153_hits" -> hitsSql(8),

    // fingerprint twin: identical U+0001/U+0002 row serialization,
    // identical 63-bit masked md5, XOR once — emitted twice with
    // is_match pinned to 1 (the Spark side really computes it twice
    // over different partitionings; equality IS the property under test)
    "q154_table_fingerprint" ->
      """WITH f AS (
        |  SELECT COUNT(*) AS n_rows,
        |    COALESCE(bit_xor(CAST(md5_number_lower(concat_ws(chr(1),
        |      COALESCE(CAST(l_orderkey AS VARCHAR), chr(2)),
        |      COALESCE(CAST(l_partkey AS VARCHAR), chr(2)),
        |      COALESCE(CAST(l_suppkey AS VARCHAR), chr(2)),
        |      COALESCE(CAST(l_linenumber AS VARCHAR), chr(2)),
        |      COALESCE(CAST(l_returnflag AS VARCHAR), chr(2))))
        |      & 9223372036854775807::UBIGINT AS BIGINT)), 0) AS fingerprint
        |  FROM lineitem)
        |SELECT n_rows, fingerprint, n_rows AS n_rows_rewrite,
        |  fingerprint AS fingerprint_rewrite, CAST(1 AS INTEGER) AS is_match
        |FROM f""".stripMargin,

    "q158_ccf" -> ccfSql(3),

    // table-diff twin: identical deterministic mutation, identical
    // U+0001/U+0002 row hash, the same sparse full-outer-join diff
    "q159_table_diff" ->
      """WITH a AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS st, o_custkey AS c
        |  FROM orders),
        |b AS (
        |  SELECT k, CASE WHEN k % 97 = 1 THEN 'X' ELSE st END AS st, c
        |  FROM a WHERE k % 97 <> 0),
        |ha AS (
        |  SELECT k, CAST(md5_number_lower(concat_ws(chr(1),
        |    COALESCE(CAST(st AS VARCHAR), chr(2)),
        |    COALESCE(CAST(c AS VARCHAR), chr(2))))
        |    & 9223372036854775807::UBIGINT AS BIGINT) AS h
        |  FROM a),
        |hb AS (
        |  SELECT k, CAST(md5_number_lower(concat_ws(chr(1),
        |    COALESCE(CAST(st AS VARCHAR), chr(2)),
        |    COALESCE(CAST(c AS VARCHAR), chr(2))))
        |    & 9223372036854775807::UBIGINT AS BIGINT) AS h
        |  FROM b)
        |SELECT COALESCE(ha.k, hb.k) AS o_orderkey,
        |  CASE WHEN hb.k IS NULL THEN 'a_only'
        |       WHEN ha.k IS NULL THEN 'b_only'
        |       ELSE 'changed' END AS status
        |FROM ha FULL OUTER JOIN hb ON ha.k = hb.k
        |WHERE ha.k IS NULL OR hb.k IS NULL OR ha.h <> hb.h
        |ORDER BY o_orderkey""".stripMargin,

    // zone-map twin: identical synthetic file grouping and integer
    // cannot-intersect rule
    "q157_zonemap_audit" ->
      """WITH m AS (
        |  SELECT l_orderkey // 4096 AS file_id, MIN(l_orderkey) AS min_v,
        |    MAX(l_orderkey) AS max_v, COUNT(*) AS n_rows
        |  FROM lineitem GROUP BY 1)
        |SELECT file_id, min_v, max_v, n_rows,
        |  CAST(max_v < 8192 OR min_v > 16384 AS INTEGER) AS skippable
        |FROM m ORDER BY file_id""".stripMargin,

    // Theil–Sen twin: identical capped row_number prefix, identical
    // pair-gen and deterministic (slope, ri, rj) rank order, integer
    // median positions, the same (lo+hi)/2 → /100 double chain
    "q156_theil_sen" ->
      """WITH b0 AS (
        |  SELECT o_custkey AS k,
        |    epoch_us(o_orderdate) // 86400000000 AS t,
        |    CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS v
        |  FROM orders),
        |b AS (
        |  SELECT k, t, v, rn FROM (
        |    SELECT k, t, v,
        |      ROW_NUMBER() OVER (PARTITION BY k ORDER BY t, v) AS rn
        |    FROM b0) q WHERE rn <= 100),
        |s AS (
        |  SELECT x.k, x.rn AS ri, y.rn AS rj,
        |    CAST(y.v - x.v AS DOUBLE) / CAST(y.t - x.t AS DOUBLE) AS sl
        |  FROM b x JOIN b y ON x.k = y.k AND x.rn < y.rn
        |  WHERE y.t <> x.t),
        |r AS (
        |  SELECT k, sl,
        |    ROW_NUMBER() OVER (PARTITION BY k ORDER BY sl, ri, rj) AS r,
        |    COUNT(*) OVER (PARTITION BY k) AS m
        |  FROM s),
        |med AS (
        |  SELECT k, m,
        |    (MIN(CASE WHEN r = (m + 1) // 2 THEN sl END)
        |      + MAX(CASE WHEN r = (m + 2) // 2 THEN sl END)) / 2.0 AS slope_ts
        |  FROM r WHERE r = (m + 1) // 2 OR r = (m + 2) // 2
        |  GROUP BY k, m),
        |n AS (SELECT k, COUNT(*) AS n FROM b GROUP BY k)
        |SELECT med.k AS o_custkey, n.n, med.m AS n_pairs,
        |  med.slope_ts / 100.0 AS slope_per_day
        |FROM med JOIN n ON n.k = med.k
        |ORDER BY o_custkey""".stripMargin,

    // association-rules twin: identical distinct → pair-gen → count
    // chain, integer support filter, single double divisions
    "q155_assoc_rules" ->
      """WITH bi AS (
        |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |nb AS (SELECT COUNT(DISTINCT bk) AS nb FROM bi),
        |ic AS (SELECT it, COUNT(*) AS ci FROM bi GROUP BY it),
        |p AS (
        |  SELECT x.it AS item_a, y.it AS item_b, COUNT(*) AS pair_n
        |  FROM bi x JOIN bi y ON x.bk = y.bk AND x.it < y.it
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 3)
        |SELECT p.item_a, p.item_b, p.pair_n, a.ci AS n_a, b.ci AS n_b,
        |  CAST(p.pair_n AS DOUBLE) / CAST(nb.nb AS DOUBLE) AS support,
        |  CAST(p.pair_n AS DOUBLE) / CAST(a.ci AS DOUBLE) AS conf_a_to_b,
        |  CAST(p.pair_n AS DOUBLE) / CAST(b.ci AS DOUBLE) AS conf_b_to_a,
        |  CAST(p.pair_n * nb.nb AS DOUBLE) / CAST(a.ci * b.ci AS DOUBLE) AS lift
        |FROM p
        |JOIN ic a ON a.it = p.item_a
        |JOIN ic b ON b.it = p.item_b
        |CROSS JOIN nb
        |ORDER BY item_a, item_b""".stripMargin,

    // chi-square twin: identical grid (zero cells included), identical
    // euclidean nano-scaling — integer // and % only, one double division
    "q151_chisq_drift" ->
      """WITH b AS (
        |  SELECT source AS g, lang AS c FROM documents
        |  WHERE source IS NOT NULL AND lang IS NOT NULL),
        |cells AS (SELECT g, c, COUNT(*) AS o FROM b GROUP BY g, c),
        |rt AS (SELECT g, COUNT(*) AS rt FROM b GROUP BY g),
        |ct AS (SELECT c, COUNT(*) AS ct FROM b GROUP BY c),
        |n1 AS (SELECT COUNT(*) AS nn, COUNT(DISTINCT c) AS k FROM b),
        |grid AS (
        |  SELECT rt.g, ct.c, rt.rt, ct.ct, COALESCE(cells.o, 0) AS o,
        |         n1.nn, n1.k
        |  FROM rt CROSS JOIN ct
        |  LEFT JOIN cells ON cells.g = rt.g AND cells.c = ct.c
        |  CROSS JOIN n1),
        |t AS (
        |  SELECT g, rt, k,
        |    CAST(o AS HUGEINT) * nn - CAST(rt AS HUGEINT) * ct AS d,
        |    CAST(nn AS HUGEINT) * rt * ct AS den
        |  FROM grid),
        |ts AS (
        |  SELECT g, rt, k,
        |    ((d * d) // den) * 1000000000
        |      + (((d * d) % den) * 1000000000) // den AS tsv
        |  FROM t)
        |SELECT g AS source, rt AS n, CAST(k - 1 AS BIGINT) AS dof,
        |  CAST(SUM(tsv) AS DOUBLE) / 1000000000.0 AS chi2
        |FROM ts GROUP BY g, rt, k ORDER BY source""".stripMargin,

    // A/B twin: identical md5-bit variant assignment, identical pooled-z
    // double chain over exact counts
    "q152_ab_ztest" ->
      """WITH u AS (
        |  SELECT user_id,
        |    (md5_number_lower(CAST(user_id AS VARCHAR)) & 1::UBIGINT)
        |      = 1::UBIGINT AS variant,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1
        |      AS converted
        |  FROM events GROUP BY user_id),
        |c AS (SELECT
        |  COUNT(*) FILTER (WHERE NOT variant) AS n_a,
        |  COUNT(*) FILTER (WHERE NOT variant AND converted) AS conv_a,
        |  COUNT(*) FILTER (WHERE variant) AS n_b,
        |  COUNT(*) FILTER (WHERE variant AND converted) AS conv_b
        |  FROM u)
        |SELECT n_a, conv_a, n_b, conv_b,
        |  CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)
        |    - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS lift,
        |  CASE WHEN n_a = 0 OR n_b = 0 OR conv_a + conv_b = 0
        |         OR conv_a + conv_b = n_a + n_b THEN NULL
        |  ELSE (CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)
        |         - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE))
        |    / sqrt((CAST(conv_a + conv_b AS DOUBLE)
        |             / CAST(n_a + n_b AS DOUBLE))
        |        * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
        |             / CAST(n_a + n_b AS DOUBLE))
        |        * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
        |  END AS z
        |FROM c""".stripMargin,

    // winsorize twin: identical ⌈p·n/1000⌉ integer bound positions,
    // identical order-stat extraction — output doubles are inputs only
    "q148_winsorize" ->
      """WITH base AS (
        |  SELECT event_id, event_type, value FROM events
        |  WHERE value IS NOT NULL),
        |r AS (SELECT event_id, event_type, value,
        |        ROW_NUMBER() OVER (PARTITION BY event_type
        |          ORDER BY value, event_id) AS rr,
        |        COUNT(*) OVER (PARTITION BY event_type) AS n
        |      FROM base),
        |rb AS (SELECT r.*,
        |        GREATEST(1, (50 * n + 999) // 1000) AS lo,
        |        GREATEST(1, (950 * n + 999) // 1000) AS hi
        |      FROM r),
        |b AS (SELECT event_type,
        |        MIN(CASE WHEN rr = lo THEN value END) AS lo_val,
        |        MAX(CASE WHEN rr = hi THEN value END) AS hi_val
        |      FROM rb WHERE rr = lo OR rr = hi GROUP BY event_type)
        |SELECT rb.event_id, rb.event_type, rb.value, b.lo_val, b.hi_val,
        |  LEAST(GREATEST(rb.value, b.lo_val), b.hi_val) AS winsorized
        |FROM rb JOIN b USING (event_type)
        |ORDER BY rb.event_id""".stripMargin,

    // EWMA twin: the 21-row frame unrolled as a bounded self-join —
    // identical micro-quantization, identical power-of-two weights
    // (seed row at the frame head carries 2^(20-j), interior rows
    // 2^(19-j)), exact BIGINT sum, ONE double division
    "q145_ewma" ->
      """WITH base AS (
        |  SELECT user_id, event_id, ts, value,
        |    CAST(ROUND(value * 1000000.0) AS BIGINT) AS xq,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events WHERE value IS NOT NULL),
        |j AS (
        |  SELECT a.user_id, a.rn, a.value,
        |    CAST(SUM(b.xq * (1::BIGINT << CAST(
        |      CASE WHEN b.rn = GREATEST(a.rn - 20, 1)
        |           THEN 20 - (a.rn - b.rn)
        |           ELSE 19 - (a.rn - b.rn) END AS INTEGER))) AS BIGINT) AS yq
        |  FROM base a JOIN base b
        |    ON a.user_id = b.user_id AND b.rn BETWEEN a.rn - 20 AND a.rn
        |  GROUP BY 1, 2, 3)
        |SELECT user_id, rn, value, yq,
        |  CAST(yq AS DOUBLE) / (1048576.0 * 1000000.0) AS ewma
        |FROM j ORDER BY user_id, rn""".stripMargin,

    // quantile-normalization twin: DuckDB can afford the one-partition
    // ROW_NUMBER for the global order statistic; the rank→position map
    // is the identical integer expression (// = Spark's div)
    "q146_quantile_normalize" ->
      """WITH base AS (
        |  SELECT event_id, event_type, value FROM events
        |  WHERE value IS NOT NULL),
        |g AS (SELECT event_id, value,
        |        ROW_NUMBER() OVER (ORDER BY value, event_id) AS grank
        |      FROM base),
        |nn AS (SELECT MAX(grank) AS n FROM g),
        |r AS (SELECT event_id, event_type, value,
        |        ROW_NUMBER() OVER (PARTITION BY event_type
        |          ORDER BY value, event_id) AS g_rank,
        |        COUNT(*) OVER (PARTITION BY event_type) AS g_n
        |      FROM base),
        |p AS (SELECT r.*,
        |        CASE WHEN g_n > 1
        |             THEN ((g_rank - 1) * (nn.n - 1)) // (g_n - 1) + 1
        |             ELSE (nn.n + 1) // 2 END AS g_pos
        |      FROM r CROSS JOIN nn)
        |SELECT p.event_id, p.event_type, p.value, p.g_rank,
        |  CAST(p.g_n AS BIGINT) AS g_n, p.g_pos, g.value AS normalized
        |FROM p JOIN g ON g.grank = p.g_pos
        |ORDER BY p.event_id""".stripMargin,

    // CMS twin: identical md5-derived (row, bucket) hashing, identical
    // min-over-rows estimates — the sketch itself is under the hash gate
    "q143_cms_heavy_hitters" ->
      """WITH ks AS (SELECT CAST(user_id AS VARCHAR) AS key FROM events
        |            WHERE user_id IS NOT NULL),
        |rws AS (SELECT unnest(generate_series(0, 3)) AS row),
        |cms AS MATERIALIZED (
        |  SELECT row,
        |    CAST((md5_number_lower(concat(CAST(row AS VARCHAR), ':', key))
        |      & 9223372036854775807::UBIGINT) % 256 AS BIGINT) AS bucket,
        |    COUNT(*) AS c
        |  FROM ks CROSS JOIN rws GROUP BY 1, 2),
        |exact AS (SELECT key, COUNT(*) AS n FROM ks GROUP BY 1),
        |est AS (
        |  SELECT e.key, e.n, MIN(c.c) AS cms_est
        |  FROM exact e CROSS JOIN rws r
        |  JOIN cms c ON c.row = r.row
        |   AND c.bucket = CAST((md5_number_lower(
        |     concat(CAST(r.row AS VARCHAR), ':', e.key))
        |     & 9223372036854775807::UBIGINT) % 256 AS BIGINT)
        |  GROUP BY 1, 2)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, key) AS BIGINT) AS rk,
        |       key, n, cms_est, (cms_est >= n) AS no_underestimate
        |FROM est ORDER BY n DESC, key LIMIT 20""".stripMargin,

    // CMS join-size twin: both sketches rebuilt from scratch, identical
    // md5 buckets, inner product min over depth, exact size alongside
    "q194_cms_join_estimate" ->
      """WITH rws AS (SELECT unnest(generate_series(0, 3)) AS row),
        |kl AS (SELECT CAST(l_partkey AS VARCHAR) AS key FROM lineitem
        |       WHERE l_partkey IS NOT NULL),
        |kr AS (SELECT CAST(p_partkey AS VARCHAR) AS key FROM part
        |       WHERE p_size <= 20 AND p_partkey IS NOT NULL),
        |cl AS (SELECT row,
        |    CAST((md5_number_lower(concat(CAST(row AS VARCHAR), ':', key))
        |      & 9223372036854775807::UBIGINT) % 4096 AS BIGINT) AS bucket,
        |    COUNT(*) AS cl
        |  FROM kl CROSS JOIN rws GROUP BY 1, 2),
        |cr AS (SELECT row,
        |    CAST((md5_number_lower(concat(CAST(row AS VARCHAR), ':', key))
        |      & 9223372036854775807::UBIGINT) % 4096 AS BIGINT) AS bucket,
        |    COUNT(*) AS cr
        |  FROM kr CROSS JOIN rws GROUP BY 1, 2),
        |est AS (
        |  SELECT CAST(MIN(COALESCE(ip, 0)) AS BIGINT) AS cms_join_est FROM
        |    rws LEFT JOIN (
        |      SELECT cl.row, SUM(cl.cl * cr.cr) AS ip
        |      FROM cl JOIN cr ON cl.row = cr.row AND cl.bucket = cr.bucket
        |      GROUP BY cl.row) p ON p.row = rws.row),
        |ex AS (
        |  SELECT CAST(COALESCE(SUM(a.n * b.n), 0) AS BIGINT) AS exact_join FROM
        |    (SELECT key, COUNT(*) AS n FROM kl GROUP BY key) a
        |    JOIN (SELECT key, COUNT(*) AS n FROM kr GROUP BY key) b USING (key))
        |SELECT est.cms_join_est, ex.exact_join,
        |  est.cms_join_est >= ex.exact_join AS no_underestimate
        |FROM est CROSS JOIN ex""".stripMargin,

    // BFS twin: the same distinct transition edges, relaxed by a
    // recursive CTE bounded at 4 hops; MIN(dist) collapses revisits
    "q129_shortest_paths" ->
      """WITH RECURSIVE nxt AS (
        |  SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS next_type
        |  FROM events),
        |edges AS (
        |  SELECT DISTINCT event_type AS src, next_type AS dst
        |  FROM nxt WHERE next_type IS NOT NULL),
        |walk(node, dist) AS (
        |  SELECT 'click', CAST(0 AS BIGINT)
        |  UNION ALL
        |  SELECT e.dst, w.dist + 1
        |  FROM walk w JOIN edges e ON e.src = w.node
        |  WHERE w.dist < 4)
        |SELECT node, CAST(MIN(dist) AS BIGINT) AS dist
        |FROM walk GROUP BY node
        |ORDER BY dist, node""".stripMargin,

    // weighted twin: all ≤4-edge walks enumerated recursively (hop
    // counter bounds the recursion, not the cost), min cost per node;
    // integer costs 1e6 // frequency
    "q190_weighted_paths" ->
      """WITH RECURSIVE nxt AS (
        |  SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS next_type
        |  FROM events),
        |edges AS (
        |  SELECT src, dst, CAST(1000000 // cnt AS BIGINT) AS w FROM (
        |    SELECT event_type AS src, next_type AS dst, COUNT(*) AS cnt
        |    FROM nxt WHERE next_type IS NOT NULL GROUP BY 1, 2)),
        |walk(node, dist, hops) AS (
        |  SELECT 'click', CAST(0 AS BIGINT), 0
        |  UNION ALL
        |  SELECT e.dst, w.dist + e.w, w.hops + 1
        |  FROM walk w JOIN edges e ON e.src = w.node
        |  WHERE w.hops < 4)
        |SELECT node, CAST(MIN(dist) AS BIGINT) AS dist
        |FROM walk GROUP BY node
        |ORDER BY dist, node""".stripMargin,

    // overlap twin: the naive per-key theta join with the exact strict
    // overlap predicate — the bucket expansion must be invisible
    "q198_interval_overlap_join" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS s_us,
        |    epoch_us(ts) + CAST(floor(abs(value) * 60000000.0) AS BIGINT) AS e_us
        |  FROM events),
        |v AS (SELECT * FROM e WHERE event_type = 'view' AND s_us < e_us),
        |c AS (SELECT * FROM e WHERE event_type = 'click' AND s_us < e_us)
        |SELECT v.user_id, v.event_id AS a_id, v.s_us AS a_s, v.e_us AS a_e,
        |  c.event_id AS b_id, c.s_us AS b_s, c.e_us AS b_e,
        |  least(v.e_us, c.e_us) - greatest(v.s_us, c.s_us) AS overlap_us
        |FROM v JOIN c ON v.user_id = c.user_id
        |WHERE least(v.e_us, c.e_us) - greatest(v.s_us, c.s_us) > 0
        |ORDER BY a_id, b_id""".stripMargin,

    // hierarchy twin: one-parent-at-a-time recursive walk to the root
    "q197_hierarchy_flatten" ->
      """WITH RECURSIVE up(node, anc, d) AS (
        |  SELECT doc_id, (doc_id - 3) // 3, 1 FROM documents WHERE doc_id >= 3
        |  UNION ALL
        |  SELECT up.node, (up.anc - 3) // 3, up.d + 1 FROM up WHERE up.anc >= 3)
        |SELECT node, CAST(anc AS BIGINT) AS root, CAST(d AS BIGINT) AS depth
        |FROM up WHERE anc < 3
        |UNION ALL
        |SELECT doc_id, doc_id, 0 FROM documents WHERE doc_id < 3
        |ORDER BY node""".stripMargin,

    // compaction twin: identical prefix-sum-before grouping; SUMs cast
    // to BIGINT (DuckDB SUM(BIGINT) is HUGEINT)
    "q130_compaction_plan" ->
      """WITH m AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS sz FROM documents),
        |g AS (
        |  SELECT doc_id, sz,
        |    COALESCE(SUM(sz) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      // 25000 AS grp
        |  FROM m)
        |SELECT CAST(grp AS BIGINT) AS grp, COUNT(*) AS n_files,
        |  CAST(SUM(sz) AS BIGINT) AS total_bytes,
        |  MIN(doc_id) AS first_id, MAX(doc_id) AS last_id
        |FROM g GROUP BY grp ORDER BY grp""".stripMargin,

    // triangle twin: the SAME undirected string-canonical edge set, but
    // counted by the a<b<c three-way join instead of degree orientation —
    // an independent formulation pinning the same invariant
    "q131_triangle_count" ->
      """WITH seq AS (
        |  SELECT event_type, CAST(user_id AS VARCHAR) AS u,
        |    CAST(lead(user_id) OVER (PARTITION BY event_type
        |      ORDER BY epoch_us(ts), event_id) AS VARCHAR) AS v
        |  FROM events),
        |und AS (
        |  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
        |  FROM seq WHERE v IS NOT NULL AND u <> v),
        |tri AS (
        |  SELECT COUNT(*) AS n_triangles
        |  FROM und e1
        |  JOIN und e2 ON e2.a = e1.b
        |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
        |nodes AS (
        |  SELECT COUNT(DISTINCT x) AS n_nodes
        |  FROM (SELECT a AS x FROM und UNION ALL SELECT b FROM und) t)
        |SELECT CAST(n.n_nodes AS BIGINT) AS n_nodes,
        |  CAST(e.n_edges AS BIGINT) AS n_edges,
        |  CAST(t.n_triangles AS BIGINT) AS n_triangles
        |FROM nodes n
        |CROSS JOIN (SELECT COUNT(*) AS n_edges FROM und) e
        |CROSS JOIN tri t""".stripMargin,

    // PSI twin: identical exact-integer bucketing (// = div on
    // positives), identical smoothing expression tree, nano-quantized
    // per-bin terms
    "q136_psi_drift" ->
      """WITH d AS (
        |  SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents),
        |g AS (SELECT MIN(x) AS mn, MAX(x) AS mx FROM d),
        |b AS (
        |  SELECT source, ((x - mn) * 10) // (mx - mn + 1) AS bin
        |  FROM d CROSS JOIN g),
        |allbins AS (SELECT bin, COUNT(*) AS ca FROM b GROUP BY bin),
        |na AS (SELECT COUNT(*) AS na FROM d),
        |persrc AS (SELECT source, bin, COUNT(*) AS cs FROM b GROUP BY source, bin),
        |ns AS (SELECT source, COUNT(*) AS n_docs FROM d GROUP BY source),
        |grid AS (
        |  SELECT ns.source, ns.n_docs, bins.bin,
        |    COALESCE(p.cs, 0) AS cs, COALESCE(a.ca, 0) AS ca, na.na
        |  FROM ns
        |  CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS bin) bins
        |  LEFT JOIN persrc p ON p.source = ns.source AND p.bin = bins.bin
        |  LEFT JOIN allbins a ON a.bin = bins.bin
        |  CROSS JOIN na),
        |terms AS (
        |  SELECT source, n_docs,
        |    CAST(ROUND(
        |      ((CAST(cs AS DOUBLE) + 0.5) / (CAST(n_docs AS DOUBLE) + 5.0) -
        |       (CAST(ca AS DOUBLE) + 0.5) / (CAST(na AS DOUBLE) + 5.0)) *
        |      ln(((CAST(cs AS DOUBLE) + 0.5) / (CAST(n_docs AS DOUBLE) + 5.0)) /
        |         ((CAST(ca AS DOUBLE) + 0.5) / (CAST(na AS DOUBLE) + 5.0))) * 1e9)
        |      AS BIGINT) AS t
        |  FROM grid)
        |SELECT source, n_docs, CAST(SUM(t) AS DOUBLE) / 1e9 AS psi
        |FROM terms GROUP BY source, n_docs
        |ORDER BY source""".stripMargin,

    "q111_pagerank" -> pagerankSql(10),

    // incremental-agg twin: the same base/delta split and additive merge
    "q120_incremental_agg" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate AS ts,
        |    CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS yc
        |  FROM orders),
        |base AS (
        |  SELECT o_custkey, COUNT(*) AS n,
        |    CAST(SUM(yc) AS BIGINT) AS sum_cents
        |  FROM o WHERE ts < TIMESTAMP '1997-01-01 00:00:00' GROUP BY o_custkey),
        |delta AS (
        |  SELECT o_custkey, COUNT(*) AS n,
        |    CAST(SUM(yc) AS BIGINT) AS sum_cents
        |  FROM o WHERE ts >= TIMESTAMP '1997-01-01 00:00:00' GROUP BY o_custkey)
        |SELECT COALESCE(a.o_custkey, b.o_custkey) AS o_custkey,
        |  COALESCE(a.n, 0) + COALESCE(b.n, 0) AS n,
        |  COALESCE(a.sum_cents, 0) + COALESCE(b.sum_cents, 0) AS sum_cents
        |FROM base a FULL JOIN delta b ON a.o_custkey = b.o_custkey
        |ORDER BY o_custkey""".stripMargin,

    // Gini twin: identical per-source length ranks (doc_id tie-break),
    // exact integer rank sums, one double division
    "q121_gini" ->
      """WITH r AS (
        |  SELECT source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS i
        |  FROM documents),
        |a AS (
        |  SELECT source, COUNT(*) AS n,
        |    CAST(SUM(n_chars) AS BIGINT) AS sx,
        |    CAST(SUM(i * n_chars) AS BIGINT) AS six
        |  FROM r GROUP BY source)
        |SELECT source, n,
        |  ROUND(CAST(2 * six - (n + 1) * sx AS DOUBLE)
        |    / CAST(n * sx AS DOUBLE), 6) AS gini
        |FROM a ORDER BY source""".stripMargin,

    // KS twin: both step CDFs on the full corpus length grid, integer
    // cross-multiplied sup, one double division
    "q122_ks_distance" ->
      """WITH grid AS (SELECT DISTINCT n_chars FROM documents),
        |np AS (SELECT source, COUNT(*) AS n1 FROM documents GROUP BY source),
        |na AS (SELECT COUNT(*) AS n2 FROM documents),
        |pl AS (SELECT source, n_chars, COUNT(*) AS c1
        |       FROM documents GROUP BY source, n_chars),
        |al AS (SELECT n_chars, COUNT(*) AS c2 FROM documents GROUP BY n_chars),
        |ac AS (SELECT n_chars,
        |         CAST(SUM(c2) OVER (ORDER BY n_chars) AS BIGINT) AS j
        |       FROM al),
        |sg AS (SELECT g.n_chars, np.source, np.n1 FROM grid g CROSS JOIN np),
        |sc AS (SELECT sg.source, sg.n_chars, sg.n1,
        |         CAST(SUM(COALESCE(pl.c1, 0)) OVER (PARTITION BY sg.source
        |           ORDER BY sg.n_chars) AS BIGINT) AS i
        |       FROM sg LEFT JOIN pl
        |         ON pl.source = sg.source AND pl.n_chars = sg.n_chars)
        |SELECT sc.source,
        |  ROUND(CAST(MAX(abs(sc.i * na.n2 - ac.j * sc.n1)) AS DOUBLE)
        |    / CAST(sc.n1 * na.n2 AS DOUBLE), 6) AS ks
        |FROM sc JOIN ac USING (n_chars) CROSS JOIN na
        |GROUP BY sc.source, sc.n1, na.n2
        |ORDER BY sc.source""".stripMargin,

    // changepoint twin: day-keyed prefix stats via window cumsum, the
    // exact HUGEINT gain core, identical fixed double chains, the same
    // (gainq DESC, day) argmax
    "q295_changepoint" ->
      """WITH ev AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(ROUND(value * 100.0) AS BIGINT) AS vc
        |  FROM events WHERE event_type = 'click'),
        |daily AS (
        |  SELECT day, CAST(COUNT(*) AS BIGINT) AS c,
        |    CAST(SUM(vc) AS BIGINT) AS sc
        |  FROM ev GROUP BY day),
        |tot AS (
        |  SELECT CAST(SUM(c) AS BIGINT) AS nt, CAST(SUM(sc) AS BIGINT) AS st,
        |    CAST(COUNT(*) AS BIGINT) AS n_days, MAX(day) AS last_day
        |  FROM daily),
        |cum AS (
        |  SELECT day, CAST(SUM(c) OVER (ORDER BY day) AS BIGINT) AS cn,
        |    CAST(SUM(sc) OVER (ORDER BY day) AS BIGINT) AS cs
        |  FROM daily),
        |g AS (
        |  SELECT day, cn, cs, nt, st, n_days,
        |    CAST(cs AS HUGEINT) * CAST(nt - cn AS HUGEINT)
        |      - CAST(st - cs AS HUGEINT) * CAST(cn AS HUGEINT) AS d
        |  FROM cum CROSS JOIN tot WHERE day < last_day),
        |r AS (
        |  SELECT day, n_days, cn, nt, cs, st,
        |    CAST(ROUND(CAST(d AS DOUBLE) * CAST(d AS DOUBLE)
        |      / CAST(cn AS DOUBLE) / CAST(nt - cn AS DOUBLE)
        |      / CAST(nt AS DOUBLE)) AS BIGINT) AS gainq
        |  FROM g)
        |SELECT day AS split_day, n_days, cn AS n_before,
        |  CAST(nt - cn AS BIGINT) AS n_after,
        |  CAST(cs AS DOUBLE) / CAST(cn AS DOUBLE) / 100.0 AS mean_before,
        |  CAST(st - cs AS DOUBLE) / CAST(nt - cn AS DOUBLE) / 100.0
        |    AS mean_after,
        |  gainq
        |FROM r ORDER BY gainq DESC, day LIMIT 1""".stripMargin,

    // Wasserstein twin: identical cent quantization, window CDFs +
    // LEAD over the same value grid, exact HUGEINT integrand, the same
    // single division chain
    "q288_wasserstein_shift" ->
      """WITH ev AS (
        |  SELECT event_type AS side,
        |    CAST(ROUND(value * 100.0) AS BIGINT) AS vq
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |vt AS (
        |  SELECT vq,
        |    CAST(COUNT(*) FILTER (WHERE side = 'click') AS BIGINT) AS ca,
        |    CAST(COUNT(*) FILTER (WHERE side = 'purchase') AS BIGINT) AS cb
        |  FROM ev GROUP BY vq),
        |nn AS (
        |  SELECT CAST(COUNT(*) FILTER (WHERE side = 'click') AS BIGINT) AS na,
        |    CAST(COUNT(*) FILTER (WHERE side = 'purchase') AS BIGINT) AS nb
        |  FROM ev),
        |nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_values FROM vt),
        |cm AS (
        |  SELECT vq,
        |    CAST(SUM(ca) OVER (ORDER BY vq) AS BIGINT) AS cuma,
        |    CAST(SUM(cb) OVER (ORDER BY vq) AS BIGINT) AS cumb,
        |    LEAD(vq) OVER (ORDER BY vq) AS nvq
        |  FROM vt),
        |tm AS (
        |  SELECT CAST(ABS(cuma * nb - cumb * na) AS HUGEINT)
        |      * CAST(nvq - vq AS HUGEINT) AS term
        |  FROM cm CROSS JOIN nn WHERE nvq IS NOT NULL)
        |SELECT nn.na, nn.nb, nv.n_values,
        |  CAST(SUM(term) AS DOUBLE) / CAST(nn.na AS DOUBLE)
        |    / CAST(nn.nb AS DOUBLE) / 100.0 AS w1
        |FROM tm CROSS JOIN nn CROSS JOIN nv
        |GROUP BY nn.na, nn.nb, nv.n_values""".stripMargin,

    // trend twin: identical integer covariance sums (epoch days × exact
    // cents — DuckDB's HUGEINT intermediates are exact too), one double
    // division
    "q117_trend_slope" ->
      """WITH o AS (
        |  SELECT o_custkey,
        |    epoch_us(o_orderdate) // 86400000000 AS x,
        |    CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS yc
        |  FROM orders),
        |a AS (
        |  SELECT o_custkey, COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx,
        |         SUM(yc) AS sy, SUM(x * yc) AS sxy
        |  FROM o GROUP BY o_custkey)
        |SELECT o_custkey, n,
        |  ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0, 6) AS slope_per_day
        |FROM a WHERE n >= 2 AND (n * sxx - sx * sx) > 0
        |ORDER BY o_custkey""".stripMargin,

    // MAD twin: quantile_cont(0.5) is the same R-7 median as Spark's
    // exact percentile; both z and the flag use the identical double
    // chains
    "q118_mad_outliers" ->
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY event_type),
        |dev AS (
        |  SELECT e.event_type, e.event_id, e.value, med.med,
        |         abs(e.value - med.med) AS adev
        |  FROM events e JOIN med USING (event_type)),
        |mad AS (
        |  SELECT event_type, quantile_cont(adev, 0.5) AS mad
        |  FROM dev GROUP BY event_type)
        |SELECT d.event_type, d.event_id, d.value,
        |  ROUND((d.value - d.med) / (1.4826 * m.mad), 6) AS robust_z
        |FROM dev d JOIN mad m USING (event_type)
        |WHERE d.adev > 3.5 * 1.4826 * m.mad
        |ORDER BY d.event_type, d.event_id""".stripMargin,

    "q119_event_paths" ->
      """WITH l AS (
        |  SELECT event_type AS s1,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS e2,
        |    lead(event_type, 2) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS e3
        |  FROM events)
        |SELECT s1, e2, e3, COUNT(*) AS n
        |FROM l WHERE e3 IS NOT NULL
        |GROUP BY s1, e2, e3
        |ORDER BY n DESC, s1, e2, e3
        |LIMIT 20""".stripMargin,

    // range-layout twin: quantile_cont is the same R-7 interpolation as
    // Spark's exact percentile; i/8 percentages and their fractions are
    // exact binary fractions, so boundaries match bit-for-bit on the
    // integer key and the fold/filter bucket assignment is identical
    "q116_range_layout" ->
      """WITH bds AS (
        |  SELECT quantile_cont(l_partkey,
        |    [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS b
        |  FROM lineitem),
        |assigned AS (
        |  SELECT l_partkey AS k,
        |    len(list_filter(b, v -> CAST(l_partkey AS DOUBLE) > v)) AS bucket
        |  FROM lineitem CROSS JOIN bds)
        |SELECT bucket, COUNT(*) AS n, MIN(k) AS min_key, MAX(k) AS max_key
        |FROM assigned GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q112_merge_upsert" ->
      """WITH changes AS (
        |  SELECT c_custkey, c_name, c_nationkey,
        |    c_acctbal + 100.0 AS c_acctbal,
        |    'UPDATED' AS c_mktsegment, 'U' AS op
        |  FROM customer WHERE c_custkey % 10 < 2
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, 'D'
        |  FROM customer WHERE c_custkey % 10 = 2
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_name || '_new', c_nationkey,
        |    c_acctbal, c_mktsegment, 'I'
        |  FROM customer WHERE c_custkey % 10 = 3)
        |SELECT
        |  CASE WHEN c.c_custkey IS NOT NULL THEN c.c_custkey ELSE t.c_custkey END AS c_custkey,
        |  CASE WHEN c.c_custkey IS NOT NULL THEN c.c_name ELSE t.c_name END AS c_name,
        |  CASE WHEN c.c_custkey IS NOT NULL THEN c.c_nationkey ELSE t.c_nationkey END AS c_nationkey,
        |  CASE WHEN c.c_custkey IS NOT NULL THEN c.c_acctbal ELSE t.c_acctbal END AS c_acctbal,
        |  CASE WHEN c.c_custkey IS NOT NULL THEN c.c_mktsegment ELSE t.c_mktsegment END AS c_mktsegment
        |FROM customer t FULL JOIN changes c ON t.c_custkey = c.c_custkey
        |WHERE c.op IS DISTINCT FROM 'D'
        |ORDER BY c_custkey""".stripMargin,

    // same min/max, same width = (mx-mn)/10.0, same floor/least bin and
    // mn + bin*width edges — identical double trees, exact hash match
    "q110_histograms" ->
      """WITH s AS (
        |  SELECT MIN(CAST(l_quantity AS DOUBLE)) AS mn_q, MAX(CAST(l_quantity AS DOUBLE)) AS mx_q,
        |         MIN(CAST(l_extendedprice AS DOUBLE)) AS mn_e, MAX(CAST(l_extendedprice AS DOUBLE)) AS mx_e,
        |         MIN(CAST(l_discount AS DOUBLE)) AS mn_d, MAX(CAST(l_discount AS DOUBLE)) AS mx_d
        |  FROM lineitem),
        |u AS (
        |  SELECT 'l_quantity' AS col_name, CAST(l_quantity AS DOUBLE) AS v FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE) FROM lineitem
        |  UNION ALL SELECT 'l_discount', CAST(l_discount AS DOUBLE) FROM lineitem),
        |b AS (
        |  SELECT col_name, v,
        |    CASE col_name WHEN 'l_quantity' THEN mn_q WHEN 'l_extendedprice' THEN mn_e ELSE mn_d END AS mn,
        |    CASE col_name WHEN 'l_quantity' THEN mx_q WHEN 'l_extendedprice' THEN mx_e ELSE mx_d END AS mx
        |  FROM u CROSS JOIN s WHERE v IS NOT NULL),
        |binned AS (
        |  SELECT col_name, mn, mx,
        |    CASE WHEN mx > mn
        |      THEN LEAST(CAST(FLOOR((v - mn) / ((mx - mn) / 10.0)) AS BIGINT), 9)
        |      ELSE 0 END AS bin
        |  FROM b)
        |SELECT col_name, bin,
        |  mn + bin * ((mx - mn) / 10.0) AS bin_lo,
        |  mn + (bin + 1) * ((mx - mn) / 10.0) AS bin_hi,
        |  COUNT(*) AS n
        |FROM binned GROUP BY col_name, bin, mn, mx
        |ORDER BY col_name, bin""".stripMargin,

    // q267 twin: q102's version derivation + the [from, to) interval
    // join back onto the purchase facts
    "q267_pit_join" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
        |ch AS (
        |  SELECT user_id, event_id, event_type, us FROM (
        |    SELECT user_id, event_id, event_type, us,
        |           LAG(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev,
        |           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn
        |    FROM e) t
        |  WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
        |vers AS (
        |  SELECT user_id, us AS valid_from,
        |         LEAD(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS valid_to,
        |         event_type AS regime
        |  FROM ch),
        |f AS (SELECT user_id, event_id, us FROM e WHERE event_type = 'purchase')
        |SELECT f.event_id, f.user_id, f.us, v.valid_from AS version_from, v.regime
        |FROM f LEFT JOIN vers v ON f.user_id = v.user_id
        |  AND v.valid_from <= f.us AND (v.valid_to IS NULL OR f.us < v.valid_to)
        |ORDER BY f.event_id""".stripMargin,

    "q102_scd2_versions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
        |ch AS (
        |  SELECT user_id, event_id, event_type, us FROM (
        |    SELECT user_id, event_id, event_type, us,
        |           LAG(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev,
        |           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn
        |    FROM e) t
        |  WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
        |SELECT user_id, us AS valid_from,
        |       LEAD(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS valid_to,
        |       event_type,
        |       LEAD(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL AS is_current
        |FROM ch ORDER BY user_id, valid_from, event_type""".stripMargin,

    // Regenerates the closed-form frame grays the Spark side must recover
    // by ACTUALLY decoding the GIF containers it wrote (q89's pattern).
    "q101_gif_frames" ->
      """SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_no,
        |       CAST((doc_id * 7 + f * 40) % 256 AS BIGINT) AS gray
        |FROM (SELECT doc_id, unnest(generate_series(0, 1 + doc_id % 5)) AS f
        |      FROM documents WHERE doc_id % 10 = 0) t
        |ORDER BY media_id, frame_no""".stripMargin,

    // dHash twin: every hash bit regenerated from the pixel closed form
    // (pixel = (seed·31 + x·13 + y·7 + off) mod 256, bit = p < p_next),
    // halves summed with shifts ≤ 31 so longs stay safe in both engines;
    // brute-force pairs, hamming via xor bit_count
    "q193_image_dhash_dedup" ->
      """WITH ids AS (
        |  SELECT doc_id FROM documents WHERE doc_id % 10 = 5),
        |grid AS (
        |  SELECT doc_id, x, y,
        |    ((doc_id % 7) * 31 + x * 13 + y * 7 + doc_id // 100) % 256 AS p,
        |    ((doc_id % 7) * 31 + (x + 1) * 13 + y * 7 + doc_id // 100) % 256 AS pn
        |  FROM ids
        |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS x)
        |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y)),
        |halves AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN y < 4 AND p < pn
        |      THEN (CAST(1 AS BIGINT) << ((y % 4) * 8 + x)) ELSE 0 END) AS BIGINT) AS h_hi,
        |    CAST(SUM(CASE WHEN y >= 4 AND p < pn
        |      THEN (CAST(1 AS BIGINT) << ((y % 4) * 8 + x)) ELSE 0 END) AS BIGINT) AS h_lo
        |  FROM grid GROUP BY doc_id)
        |SELECT a.doc_id AS da, b.doc_id AS db,
        |  CAST(bit_count(xor(a.h_hi, b.h_hi)) + bit_count(xor(a.h_lo, b.h_lo))
        |    AS BIGINT) AS hamming
        |FROM halves a JOIN halves b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.h_hi, b.h_hi)) + bit_count(xor(a.h_lo, b.h_lo)) <= 3
        |ORDER BY da, db""".stripMargin,

    // Rebuilds the closed-form per-frame mean grays the Spark side must
    // recover by ACTUALLY decoding the MJPEG frames it wrote (q101's
    // pattern on a real lossy codec).
    "q106_avi_frames" ->
      """SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_no,
        |       CAST((doc_id * 11 + f * 37) % 256 AS BIGINT) AS gray
        |FROM (SELECT doc_id, unnest(generate_series(0, 1 + doc_id % 5)) AS f
        |      FROM documents WHERE doc_id % 10 = 3) t
        |ORDER BY media_id, frame_no""".stripMargin,

    "q79_rolling_window" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS roll_rev,
        | COUNT(*) OVER w AS n_7d
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
        |             RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q80_interval_merge" ->
      """WITH iv AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS s_us,
        |         epoch_us(ts) + CAST(floor(abs(value) * 60000000.0) AS BIGINT) AS e_us
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, s_us, e_us,
        |    CASE WHEN max(e_us) OVER (PARTITION BY user_id ORDER BY s_us, e_us
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |           OR s_us > max(e_us) OVER (PARTITION BY user_id ORDER BY s_us, e_us
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      THEN 1 END AS newi
        |  FROM iv),
        |islands AS (
        |  SELECT user_id, s_us, e_us,
        |    COUNT(newi) OVER (PARTITION BY user_id ORDER BY s_us, e_us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM flagged),
        |merged AS (
        |  SELECT user_id, island, MIN(s_us) AS island_start,
        |         MAX(e_us) AS island_end, COUNT(*) AS n_rows
        |  FROM islands GROUP BY user_id, island)
        |SELECT user_id, COUNT(*) AS n_islands,
        |       CAST(SUM(island_end - island_start) AS BIGINT) AS covered_us,
        |       CAST(SUM(n_rows) AS BIGINT) AS n_events
        |FROM merged GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q81_zorder" -> {
      val z = mortonSql("x", "y")
      s"""WITH b AS (
         |  SELECT p_partkey,
         |         CAST(p_size AS BIGINT) & 65535 AS x,
         |         p_partkey & 65535 AS y
         |  FROM part)
         |SELECT p_partkey, x, y, $z AS zval
         |FROM b ORDER BY p_partkey""".stripMargin
    },

    "q82_profile" -> {
      val cols = Seq(
        ("o_orderkey", "o_orderkey"),
        ("o_custkey", "o_custkey"),
        ("o_orderstatus", "o_orderstatus"),
        ("o_totalprice", "CAST(o_totalprice AS DECIMAL(18,2))"),
        ("o_orderpriority", "o_orderpriority"))
      cols.map { case (name, e) =>
        s"""SELECT '$name' AS col_name, COUNT(*) AS n_rows,
           | COUNT($e) AS n_nonnull, COUNT(DISTINCT $e) AS n_distinct,
           | CAST(MIN($e) AS VARCHAR) AS min_s, CAST(MAX($e) AS VARCHAR) AS max_s
           |FROM orders""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },

    "q83_pct_of_total" ->
      """WITH rev AS (
        |  SELECT r_name, n_name,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec,
        |         COUNT(*) AS n_orders
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY r_name, n_name)
        |SELECT r_name, n_name, CAST(rev_dec AS DOUBLE) AS rev, n_orders,
        |  round(CAST(rev_dec AS DOUBLE) /
        |    CAST(SUM(rev_dec) OVER (PARTITION BY r_name) AS DOUBLE), 6) AS share_region,
        |  round(CAST(rev_dec AS DOUBLE) /
        |    CAST(SUM(rev_dec) OVER () AS DOUBLE), 6) AS share_total
        |FROM rev ORDER BY r_name, n_name""".stripMargin,

    "q84_mode_per_group" ->
      """WITH c AS (
        |  SELECT user_id, event_type, COUNT(*) AS n
        |  FROM events GROUP BY user_id, event_type),
        |r AS (
        |  SELECT user_id, event_type, n,
        |    row_number() OVER (PARTITION BY user_id ORDER BY n DESC, event_type) AS rk
        |  FROM c)
        |SELECT user_id, event_type, n FROM r WHERE rk = 1 ORDER BY user_id""".stripMargin,

    "q85_zscore_outliers" ->
      """WITH s AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sxx
        |  FROM events GROUP BY event_type),
        |z AS (
        |  SELECT e.event_type, e.event_id, e.value,
        |    (e.value - s.sx / s.n) /
        |      sqrt((s.sxx - s.sx * s.sx / s.n) / (s.n - 1)) AS z
        |  FROM events e JOIN s ON e.event_type = s.event_type)
        |SELECT event_type, event_id, value, round(z, 6) AS z
        |FROM z WHERE abs(z) > 2.0 ORDER BY event_type, event_id""".stripMargin,

    "q86_transitions" ->
      """WITH nxt AS (
        |  SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS next_type
        |  FROM events)
        |SELECT event_type AS src, next_type AS dst, COUNT(*) AS n
        |FROM nxt WHERE next_type IS NOT NULL
        |GROUP BY src, dst ORDER BY src, dst""".stripMargin,

    "q87_weighted_sample" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE (md5_number_lower(CAST(doc_id AS VARCHAR)) & 2147483647::UBIGINT) % 1000
        |      < least(990, n_chars // 10)
        |ORDER BY doc_id""".stripMargin,

    "q88_asof_tolerance" ->
      """SELECT a.event_id, a.user_id, epoch_us(a.ts) AS us,
        |       m.p_id, m.p_us
        |FROM events a
        |LEFT JOIN LATERAL (
        |  SELECT b.event_id AS p_id, epoch_us(b.ts) AS p_us
        |  FROM events b
        |  WHERE b.user_id = a.user_id AND b.event_type = 'purchase'
        |    AND epoch_us(b.ts) < epoch_us(a.ts)
        |    AND epoch_us(b.ts) >= epoch_us(a.ts) - 3600000000
        |  ORDER BY epoch_us(b.ts) DESC, b.event_id DESC LIMIT 1) m ON TRUE
        |WHERE a.event_type = 'click'
        |ORDER BY a.event_id""".stripMargin,

    "q89_audio_meta" ->
      """WITH p AS (
        |  SELECT doc_id, 1000 + (doc_id % 200) * 10 AS n_samples,
        |         8000 + (doc_id % 3) * 4000 AS sample_rate
        |  FROM documents),
        |samp AS (
        |  SELECT doc_id, ((doc_id * 2654435761 + k * 40503) % 65536) - 32768 AS v
        |  FROM (SELECT doc_id, unnest(generate_series(0, n_samples - 1)) AS k FROM p)),
        |st AS (
        |  SELECT doc_id, MAX(abs(v)) AS peak, CAST(SUM(v * v) AS BIGINT) AS sum_sq
        |  FROM samp GROUP BY doc_id)
        |SELECT p.doc_id, CAST(p.sample_rate AS BIGINT) AS sample_rate,
        |       CAST(p.n_samples AS BIGINT) AS n_samples,
        |       CAST(p.n_samples * 1000 // p.sample_rate AS BIGINT) AS duration_ms,
        |       st.peak, st.sum_sq
        |FROM p JOIN st USING (doc_id) ORDER BY p.doc_id""".stripMargin,

    // q90 intentionally absent: the sketch is approximate by construction;
    // the emitted `pass` column is its gate (q41's pattern).

    "q91_heavy_hitters" ->
      """WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
        |tot AS (SELECT COUNT(*) AS n_total FROM events),
        |top AS (
        |  SELECT user_id, n,
        |    row_number() OVER (ORDER BY n DESC, user_id) AS rk
        |  FROM c ORDER BY n DESC, user_id LIMIT 20)
        |SELECT rk, user_id, n,
        |  round(CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS share,
        |  round(CAST(SUM(n) OVER (ORDER BY rk ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW) AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS cum_share
        |FROM top, tot ORDER BY rk""".stripMargin,

    "q92_time_weighted_avg" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events),
        |d AS (
        |  SELECT user_id, value,
        |    lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us AS dt
        |  FROM e)
        |SELECT user_id,
        |  round(CAST(SUM(CAST(value AS DECIMAL(19,6)) * CAST(dt AS DECIMAL(19,0)))
        |    AS DOUBLE) / CAST(SUM(dt) AS BIGINT), 6) AS twa,
        |  CAST(SUM(dt) AS BIGINT) AS tsum
        |FROM d WHERE dt IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q94_sliding_window" ->
      """WITH e AS (
        |  SELECT event_type, value, epoch_us(ts) AS us FROM events),
        |w AS (
        |  SELECT event_type, value,
        |    unnest([us - us % 300000000, us - us % 300000000 - 300000000]) AS ws_us
        |  FROM e)
        |SELECT ws_us, event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY ws_us, event_type ORDER BY ws_us, event_type""".stripMargin,

    "q93_ohlc_bars" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS us,
        |         epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |r AS (
        |  SELECT user_id, day, value,
        |    row_number() OVER (PARTITION BY user_id, day ORDER BY us, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY user_id, day ORDER BY us DESC, event_id DESC) AS rn_d
        |  FROM e)
        |SELECT user_id, day,
        |  MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  MAX(value) AS high, MIN(value) AS low,
        |  MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
        |  COUNT(*) AS n
        |FROM r GROUP BY user_id, day ORDER BY user_id, day""".stripMargin
  )
}
