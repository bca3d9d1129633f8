package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import Util._

/** Event-stream operators (north-star surface, SURVEY.md §2.9). These are the
  * batch twins of the Structured Streaming plans in `graft.streaming`; the
  * oracle checks the batch semantics (tumbling windows, sessionization,
  * as-of join) exactly.
  *
  * Scale notes: everything here shuffles once on `user_id` (or the window
  * key) and is window/partial-agg friendly. The as-of join uses the
  * union+sort-within-partition pattern — one shuffle, no per-row subquery,
  * no O(n^2) pair blowup — which is the 100 TB-safe formulation.
  */
object Events {

  val queries: Map[String, Q] = Map(
    // ---- q18: as-of join — for each purchase, the latest click strictly
    //      before it by the same user (argmax over (ts, event_id)). ----
    "q18_asof_join" -> ((s, dir) => {
      import s.implicits._
      val e = t(s, dir, "events")
      // Union the two sides; on ts ties purchases sort before clicks so a
      // click at exactly the purchase ts is NOT matched (strict <).
      val tagged = e.filter($"event_type".isin("click", "purchase"))
        .select($"event_id", $"user_id", $"ts",
          when($"event_type" === "click", $"event_id").as("click_id"),
          when($"event_type" === "purchase", lit(1)).otherwise(lit(2)).as("kind"))
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"kind", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn("matched", last($"click_id", ignoreNulls = true).over(w))
        .filter($"kind" === 1)
        .select($"event_id".as("purchase_id"), $"user_id", $"matched".as("click_id"))
        .orderBy($"purchase_id")
    }),

    // ---- q21: tumbling 1-hour window aggregation (epoch-aligned) ----
    "q21_tumbling_window" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
        .agg(count(lit(1)).as("n_events"), dsum($"value", 6).as("sum_value"))
        .select(unix_timestamp($"w.start").as("window_start"), $"event_type",
          $"n_events", $"sum_value")
        .orderBy($"window_start", $"event_type")
    }),

    // ---- q269: continuous-run streaming oracle — the ONLY entry that
    // drives the real micro-batch runtime end-to-end (MemoryStream →
    // stream-static broadcast enrichment with the customer dimension →
    // 2h-watermarked tumbling hour aggregation → append-mode sink),
    // fed in 6 event-time-ordered chunks + a sentinel flush; the DuckDB
    // replay of the same feed (plain LEFT JOIN + GROUP BY) hash-checks
    // the sink. Every other streaming query is verified via batch twins
    // + MemoryStream specs; this one gates the actual streaming
    // execution path. users without a customer row keep NULL segment
    // (left-join convention). ----
    "q269_stream_run" -> ((s, dir) => {
      import s.implicits._
      val dim = t(s, dir, "customer")
        .select($"c_custkey".as("user_id"), $"c_mktsegment".as("segment"))
      graft.streaming.EventStreams.runEnrichedTumbling(
          t(s, dir, "events"), dim, "user_id", Seq("segment"))
        .orderBy($"window_start", $"event_type", $"segment")
    }),

    // ---- q273: the SECOND continuous-run streaming oracle — the
    // stream-stream interval join through the REAL micro-batch runtime
    // (q269 proves windowed-aggregate state; this proves symmetric JOIN
    // state): MemoryStream feed in event-time-ordered chunks → click and
    // purchase branches self-joined with 2h watermarks + the 1h bound →
    // append sink, hash-checked against q50's plain batch interval
    // join. Inner joins emit eagerly, so the completed sink must equal
    // the batch answer with no flush sentinel. ----
    "q273_stream_join_run" -> ((s, dir) => {
      import s.implicits._
      graft.streaming.EventStreams.runPurchaseAttribution(t(s, dir, "events"))
        .orderBy($"purchase_id", $"click_id")
    }),

    // ---- q274: the THIRD continuous-run streaming oracle — ARBITRARY
    // state through the REAL micro-batch runtime (q269 proves windowed
    // aggregates, q273 join state; this proves flatMapGroupsWithState +
    // event-time timeout, the state type the other two can't express):
    // per-user open-session lists, interval-merged on arrival, flushed
    // by watermark timeouts, sentinel-drained. The completed sink must
    // equal the batch gaps-and-islands sessionization (q22's
    // per-session form) row for row. ----
    "q274_stream_session_run" -> ((s, dir) => {
      import s.implicits._
      graft.streaming.EventStreams.runSessions(t(s, dir, "events"))
        .orderBy($"user_id", $"start_us")
    }),

    // ---- q292: the FOURTH continuous-run streaming oracle — LEFT
    // OUTER join state through the REAL micro-batch runtime. q273
    // proves symmetric inner-join state (eager emission); this proves
    // the watermark-GATED emission path: an unmatched purchase's
    // NULL-click row may only appear once the min-of-both-branches
    // watermark proves no match can arrive, so held outer state must
    // survive micro-batches and flush on watermark advancement.
    // Sentinel-drained (one far-future click AND purchase — min
    // semantics), hash-checked against the batch LEFT interval join. ----
    "q292_stream_outer_join_run" -> ((s, dir) => {
      import s.implicits._
      graft.streaming.EventStreams.runPurchaseAttributionOuter(
          t(s, dir, "events"))
        .orderBy($"purchase_id", $"click_id")
    }),

    // ---- q294: the FIFTH continuous-run streaming oracle — DEDUP
    // state through the REAL micro-batch runtime (q269 windowed aggs,
    // q273/q292 join state, q274 arbitrary state; this proves
    // dropDuplicatesWithinWatermark's key-tracking state store). The
    // sink projects the semantic key: a key may appear ONCE EVER, which
    // only holds if duplicates arriving in later micro-batches are
    // dropped by state (minute keys straddle the 6-chunk boundaries).
    // Hash-checked against the batch DISTINCT of the same key. ----
    "q294_stream_dedup_run" -> ((s, dir) => {
      import s.implicits._
      graft.streaming.EventStreams.runDedup(t(s, dir, "events"))
        .orderBy($"user_id", $"event_type", $"m_us")
    }),

    // ---- q322: exactly-once SINK proof — the sixth streaming surface:
    // foreachBatch keyed upsert into an external store with ONE
    // injected transient sink failure after batch 2's write; the
    // restarted query replays the uncommitted batch (at-least-once
    // delivery, observed and asserted in-run) and the idempotent MERGE
    // absorbs it. Hash gate = the store's final content equals the
    // batch projection — an append sink would double-count the
    // replayed batch and fail. ----
    "q322_stream_idempotent_sink" -> ((s, dir) =>
      graft.streaming.EventStreams.runIdempotentUpsert(t(s, dir, "events"))),

    // ---- q49: batch twin of the watermarked stream dedup (T3): semantic
    // dedup on (user, type, minute) keeping the smallest event_id — the
    // deterministic batch statement of "duplicates within the horizon are
    // dropped". One partial-agg-friendly shuffle. ----
    "q49_event_dedup_twin" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .groupBy($"user_id", $"event_type", date_trunc("minute", $"ts").as("m"))
        .agg(min($"event_id").as("keep_id"), count(lit(1)).as("n_dups"))
        .select($"keep_id", $"user_id", $"event_type",
          unix_timestamp($"m").as("m_start"), $"n_dups")
        .orderBy($"keep_id")
    }),

    // ---- q50: batch twin of the stream-stream interval join (T5):
    // purchases attributed to same-user clicks in the preceding hour.
    // Shuffles once on user_id with the time bound as residual — the
    // exact shape whose streaming form evicts state by watermark. ----
    "q50_purchase_attribution" -> ((s, dir) => {
      import s.implicits._
      val e = t(s, dir, "events")
      val clicks = e.filter($"event_type" === "click")
        .select($"user_id", $"ts".as("c_ts"), $"event_id".as("click_id"))
      val purchases = e.filter($"event_type" === "purchase")
        .select($"user_id", $"ts".as("p_ts"), $"event_id".as("purchase_id"), $"value")
      purchases.join(clicks, Seq("user_id"))
        .filter($"c_ts" >= $"p_ts" - expr("INTERVAL 1 HOUR") && $"c_ts" < $"p_ts")
        .select($"purchase_id", $"click_id", $"user_id",
          unix_micros($"p_ts").as("p_us"), unix_micros($"c_ts").as("c_us"), $"value")
        .orderBy($"purchase_id", $"click_id")
    }),

    // ---- q192: linear multi-touch attribution — q50 finds the touch
    // ROWS; this splits conversion credit across them: 1000 permille per
    // purchase divided equally over the qualifying view/click/signup
    // touches in the prior 72 h, integer remainder to the earliest touch
    // (so per-channel totals reconcile to #conversions × 1000 exactly —
    // the audit property float splits lose). ----
    "q192_attribution" -> ((s, dir) => {
      import s.implicits._
      graft.api.Graft.linearAttribution(t(s, dir, "events"),
          "user_id", "event_type", "ts", "event_id",
          convType = "purchase", touchTypes = Seq("view", "click", "signup"),
          windowUs = 259200000000L)
        .groupBy($"channel")
        .agg(count(lit(1)).as("n_touches"),
          sum($"credit").as("credit_permille"),
          count_distinct($"conv_id").as("n_conversions"))
        .orderBy($"channel")
    }),

    // ---- q325: Shapley channel attribution (Zhao et al. 2018) — the
    // interaction-aware upgrade of q192's linear credit, exactly as
    // q290 upgraded q223's leave-one-out: the coalition game over
    // per-user EXPOSURE SETS (v(S) = conversion rate of users exposed
    // to exactly S) gives each channel its average marginal
    // contribution over all arrival orders. With 3 channels the game
    // table is 8 rows — a broadcast, never a 2^n walk over users; the
    // corpus-scale work is ONE user aggregate. Unobserved coalitions
    // carry v = 0 (documented). Marginal terms are nano-quantized
    // before the cross-coalition sum; v's are single divisions. ----
    "q325_shapley_attribution" -> ((s, dir) => {
      import s.implicits._
      val u = t(s, dir, "events").groupBy($"user_id")
        .agg((max(($"event_type" === "view").cast(LongType)) +
          lit(2L) * max(($"event_type" === "click").cast(LongType)) +
          lit(4L) * max(($"event_type" === "signup").cast(LongType)))
          .as("m"),
          max(($"event_type" === "purchase").cast(LongType)).as("cv"))
      val cells = u.groupBy($"m")
        .agg(count(lit(1)).as("n"), sum($"cv").as("c"))
      val sub = (0L to 7L).toDF("m")
        .join(cells, Seq("m"), "left")
        .select($"m", coalesce($"n", lit(0L)).as("n"),
          coalesce($"c", lit(0L)).as("c"))
        .withColumn("v", when($"n" > 0L,
          $"c".cast(DoubleType) / $"n".cast(DoubleType)).otherwise(lit(0.0)))
        .localCheckpoint() // the 8-row game table
      val chans = Seq(("view", 1L), ("click", 2L), ("signup", 4L))
        .toDF("channel", "b")
      // arithmetic popcount over the 3-bit mask — portable to the oracle
      val pc = expr("(m & 1) + ((m div 2) & 1) + ((m div 4) & 1)")
      val w = when(pc === 0 || pc === 2, lit(1.0) / lit(3.0))
        .otherwise(lit(1.0) / lit(6.0))
      val terms = broadcast(chans).join(sub.select($"m", $"v"),
          expr("(m & b) = 0"))
        .join(broadcast(sub.select(($"m").as("m1"), $"v".as("v1"))),
          expr("m1 = m + b"))
        .select($"channel", $"b",
          round(w * ($"v1" - $"v") * lit(1.0e9)).cast(LongType).as("tq"))
      val exposed = broadcast(chans).join(sub, expr("(m & b) <> 0"))
        .groupBy($"channel").agg(sum($"n").as("n_exposed"))
      terms.groupBy($"channel").agg(sum($"tq").as("__q"))
        .join(exposed, Seq("channel"))
        .select($"channel", $"n_exposed",
          round($"__q".cast(DoubleType) / lit(1.0e9), 6).as("shapley_value"))
        .orderBy($"channel")
    }),

    // ---- q200: behavioral bot screening — the event-stream hygiene
    // audit run before any engagement analysis: per user, volume,
    // type diversity, activity span, EXACT median inter-event gap
    // (lag diff + percentile — the even-count midpoint is (a+b)/2, a
    // division by two that is always float-exact, so the gate holds),
    // and peak events-per-minute burst. Flags = machine-like cadence:
    // burst ≥ 20/min or median gap ≤ 500 ms. Two keyed shuffles on
    // user_id total (gaps window + final agg; the burst count folds
    // into the same agg via a minute-bucket subaggregate). ----
    "q200_bot_screen" -> ((s, dir) => {
      import s.implicits._
      val e = t(s, dir, "events").select($"user_id", $"event_type",
        unix_micros($"ts").as("us"), $"event_id")
      val w = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
      val gaps = e.withColumn("gap", $"us" - lag($"us", 1).over(w))
      val perMin = e.groupBy($"user_id", expr("us div 60000000").as("minute"))
        .agg(count(lit(1)).as("n_min"))
        .groupBy($"user_id").agg(max($"n_min").as("burst_per_min"))
      val stats = gaps.groupBy($"user_id").agg(
        count(lit(1)).as("n_events"),
        count_distinct($"event_type").as("n_types"),
        (max($"us") - min($"us")).as("span_us"),
        expr("percentile(gap, 0.5)").as("median_gap_us"))
      stats.join(perMin, Seq("user_id"))
        .withColumn("is_bot",
          $"burst_per_min" >= 20L ||
            (col("median_gap_us").isNotNull && col("median_gap_us") <= 500000.0))
        .orderBy($"user_id")
    }),

    // ---- q51: batch twin of the arbitrary-stateful running totals (T4,
    // EventStreams.runningTotals): the final state per user equals the
    // plain aggregate — decimal-exact sum per the float policy. ----
    "q51_running_totals_twin" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .groupBy($"user_id")
        .agg(count(lit(1)).as("total_events"), dsum($"value", 6).as("total_value"))
        .orderBy($"user_id")
    }),

    // ---- q22: sessionization (30-min inactivity gap), gaps-and-islands ----
    "q22_sessionize" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      t(s, dir, "events")
        .withColumn("prev_us", lag(unix_micros($"ts"), 1).over(w))
        .withColumn("new_sess",
          when($"prev_us".isNull || (unix_micros($"ts") - $"prev_us") > 1800L * 1000000L, 1))
        .groupBy($"user_id")
        .agg(count($"new_sess").as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy($"user_id")
    }),

    // ---- q74: ordered funnel (view → click → purchase) — each stage's
    // anchor is the FIRST qualifying event strictly after the previous
    // stage's anchor. Timestamps compare as unix micros on both engines
    // (Spark TimestampType is µs; the oracle uses epoch_us). Three
    // pre-aggregated per-user anchors, each one join + one agg — never a
    // per-user subquery. ----
    "q74_funnel" -> ((s, dir) => {
      import s.implicits._
      val e = t(s, dir, "events")
        .select($"user_id", $"event_type", unix_micros($"ts").as("us"))
      val stages = graft.api.Graft.funnelStages(e, "user_id", "event_type", "us",
        Seq("view", "click", "purchase"))
      val labels = Seq("1_view", "2_view_click", "3_view_click_purchase")
      labels.zip(stages).map { case (label, st) =>
        st.agg(count(lit(1)).as("n_users")).select(lit(label).as("stage"), $"n_users")
      }.reduce(_ unionAll _).orderBy($"stage")
    }),

    // ---- q77: gap-filled daily activity — time-series densification.
    // Each user's [first, last] day range becomes a contiguous spine
    // (explode(sequence)), missing days join as zero counts — the
    // resample/fill-forward prerequisite of any per-entity time series. ----
    "q77_gap_fill" -> ((s, dir) => {
      import s.implicits._
      val perDay = t(s, dir, "events")
        .select($"user_id", graft.api.Graft.epochDay($"ts").as("day"))
        .groupBy($"user_id", $"day").agg(count(lit(1)).as("n"))
      graft.api.Graft.gapFill(perDay, "user_id", "day")
        .withColumn("n", coalesce($"n", lit(0L)))
        .orderBy($"user_id", $"day")
    }),

    // ---- q75: cohort retention — users grouped by first-seen day, the
    // classic (cohort, day-offset) activity triangle. Two shuffles on
    // user_id (first-seen + join) and one on the cohort cell; day math
    // is Graft.epochDay — true FLOOR division (Spark `div` truncates
    // toward zero; so does DuckDB's INTEGER `//` — (-7)//2 = -3, it
    // floors only on DOUBLE operands — so pre-1970 oracles must also
    // floor explicitly; every current oracle divides positive epochs,
    // where floor == truncate). ----
    "q75_retention" -> ((s, dir) => {
      import s.implicits._
      val e = t(s, dir, "events")
        .select($"user_id", graft.api.Graft.epochDay($"ts").as("day"))
      graft.api.Graft.retentionTriangle(e, "user_id", "day")
        .orderBy($"cohort", $"offset")
    }),

    // ---- q243: Wald SPRT — would the purchase-rate experiment (H0
    // p=0.15 vs H1 p=0.20; true rate ≈ 0.198) have stopped early? The
    // LLR walk over event_id order reports the first boundary crossing
    // and the final state. Increments and thresholds are nano-quantized
    // driver constants, so the walk is an exact integer prefix sum. ----
    "q243_sprt" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("y", (col("event_type") === "purchase").cast(LongType))
      graft.api.Graft.sprtTest(e, "y", Seq("event_id"), p0 = 0.15, p1 = 0.20)
    }),

    // ---- q244: difference-in-differences — even-user treatment vs a
    // Jan-16 policy cutoff: DiD nets the group gap and the common time
    // trend out of the raw post-period delta. One 4-cell aggregate. ----
    "q244_diff_in_diff" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("treated", (col("user_id") % 2 === 0).cast(LongType))
        .withColumn("post", (col("ts") >=
          lit("2024-01-16 00:00:00").cast(TimestampType)).cast(LongType))
      graft.api.Graft.diffInDiff(e, "treated", "post", "value")
    }),

    // ---- q245: Qini uplift-by-decile — rank users by an uplift score
    // (total spend cents), cut into 10 equal-count bins by integer rank
    // arithmetic, report cumulative treated/control conversions and the
    // Qini value per bin. The evaluation table that decides whether a
    // targeting model beats random. ----
    "q245_qini_uplift" -> ((s, dir) => {
      val u = t(s, dir, "events").groupBy(col("user_id"))
        .agg(coalesce(sum(round(col("value") * lit(100.0)).cast(LongType)),
          lit(0L)).as("score_cents"),
          max((col("event_type") === "purchase").cast(LongType))
            .as("converted"))
        .withColumn("treated", (col("user_id") % 2 === 0).cast(LongType))
      graft.api.Graft.qiniByDecile(u, "score_cents", "treated", "converted",
          "user_id")
        .orderBy(col("bucket"))
    }),

    // ---- q246: event-time disorder audit — the measurement that SIZES
    // a stream's watermark. The parquet arrives time-ordered, so q169's
    // injected-violation discipline applies: arrival order is a
    // deterministic md5 shuffle of event_id (simulated network jitter),
    // and the audit reports exact p50/p95/p99 lateness under that
    // arrival log plus the p99 as the suggested watermark delay. ----
    "q246_disorder_audit" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("arr", call_function("md5_lower64",
          col("event_id").cast(StringType)).bitwiseAND(lit(Long.MaxValue)))
      graft.api.Graft.disorderAudit(e, "user_id", "ts", Seq("arr", "event_id"))
    }),

    // ---- q265: preference-pair mining — the RLHF/DPO data-prep step:
    // each user's exact per-event-type cents totals become pairwise
    // comparisons (strict winner only; ties carry no preference and are
    // dropped), aggregated to the (winner, loser, n_units) table the
    // Bradley–Terry fit consumes. All integers. ----
    "q265_preference_pairs" -> ((s, dir) =>
      graft.api.Graft.preferencePairs(t(s, dir, "events"),
          "user_id", "event_type", "value")
        .orderBy(col("winner"), col("loser"))),

    // ---- q266: Bradley–Terry strength fit over q265's comparisons —
    // the reward-model-style preference fit (Hunter 2004 MM updates, 3
    // rounds, mean-1 normalization each round), replayed bit-for-bit by
    // the oracle's unrolled CTE chain via nano-quantized strengths
    // (the q253 discipline). ----
    "q266_bradley_terry" -> ((s, dir) => {
      val pairs = graft.api.Graft.preferencePairs(t(s, dir, "events"),
        "user_id", "event_type", "value")
      graft.api.Graft.bradleyTerry(pairs, "winner", "loser", "n_units",
          rounds = 3)
        .orderBy(col("item"))
    })
  )

  /** q265's pair-mining CTE chain — shared by both oracles so the
    * derivation can never diverge between the miner and its consumer. */
  private def pairsSql: String =
    """per AS (
      |  SELECT user_id AS u, event_type AS i,
      |    CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT) AS t
      |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      |pr AS (
      |  SELECT CASE WHEN a.t > b.t THEN a.i ELSE b.i END AS winner,
      |         CASE WHEN a.t > b.t THEN b.i ELSE a.i END AS loser
      |  FROM per a JOIN per b ON a.u = b.u AND a.i < b.i
      |  WHERE a.t <> b.t),
      |pairs AS (
      |  SELECT winner, loser, CAST(COUNT(*) AS BIGINT) AS n_units
      |  FROM pr GROUP BY 1, 2)""".stripMargin

  /** q266 oracle: q265's pairs + the MM rounds unrolled — identical
    * nano-quantized term/update/normalization double chains. */
  private def bradleyTerrySql(rounds: Int): String = {
    val steps = (1 to rounds).map { k =>
      s"""t$k AS (
         |  SELECT sym.lo, sym.hi,
         |    CAST(ROUND(CAST(sym.n AS DOUBLE) /
         |      (CAST(sl.sq + sh.sq AS DOUBLE) / 1000000000.0) *
         |      1000000000.0) AS BIGINT) AS term
         |  FROM sym JOIN s${k - 1} sl ON sym.lo = sl.item
         |           JOIN s${k - 1} sh ON sym.hi = sh.item),
         |d$k AS (
         |  SELECT item, CAST(SUM(term) AS BIGINT) AS d FROM (
         |    SELECT lo AS item, term FROM t$k
         |    UNION ALL SELECT hi AS item, term FROM t$k) GROUP BY item),
         |u$k AS (
         |  SELECT wins.item,
         |    CASE WHEN d > 0 THEN CAST(ROUND(CAST(wins.wins AS DOUBLE) *
         |      1000000000.0 / (CAST(d AS DOUBLE) / 1000000000.0)) AS BIGINT)
         |    ELSE 0 END AS sq0
         |  FROM wins JOIN d$k USING (item)),
         |tot$k AS (SELECT CAST(SUM(sq0) AS BIGINT) AS tot FROM u$k),
         |s$k AS (
         |  SELECT item, CAST(ROUND(CAST(sq0 AS DOUBLE) * ni * 1000000000.0 /
         |    CAST(tot AS DOUBLE)) AS BIGINT) AS sq
         |  FROM u$k CROSS JOIN tot$k CROSS JOIN ni)""".stripMargin
    }.mkString(",\n")
    s"""WITH $pairsSql,
       |sym AS (
       |  SELECT CASE WHEN winner < loser THEN winner ELSE loser END AS lo,
       |         CASE WHEN winner < loser THEN loser ELSE winner END AS hi,
       |         CAST(SUM(n_units) AS BIGINT) AS n,
       |         CAST(SUM(CASE WHEN winner < loser THEN n_units ELSE 0 END)
       |           AS BIGINT) AS wlo
       |  FROM pairs GROUP BY 1, 2),
       |wins AS (
       |  SELECT item, CAST(SUM(w) AS BIGINT) AS wins FROM (
       |    SELECT lo AS item, wlo AS w FROM sym
       |    UNION ALL SELECT hi AS item, n - wlo AS w FROM sym) GROUP BY item),
       |comps AS (
       |  SELECT item, CAST(SUM(n) AS BIGINT) AS comparisons FROM (
       |    SELECT lo AS item, n FROM sym
       |    UNION ALL SELECT hi AS item, n FROM sym) GROUP BY item),
       |ni AS (SELECT CAST(COUNT(*) AS DOUBLE) AS ni FROM wins),
       |s0 AS (SELECT item, CAST(1000000000 AS BIGINT) AS sq FROM wins),
       |$steps
       |SELECT wins.item, wins.wins AS wins, comps.comparisons,
       |  CAST(sq AS DOUBLE) / 1000000000.0 AS strength
       |FROM wins JOIN comps USING (item) JOIN s$rounds USING (item)
       |ORDER BY item""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q265_preference_pairs" ->
      s"""WITH $pairsSql
         |SELECT winner, loser, n_units FROM pairs
         |ORDER BY winner, loser""".stripMargin,

    "q266_bradley_terry" -> bradleyTerrySql(3),

    // SPRT twin: the SAME Scala-quantized increment/threshold literals
    // interpolated into both engines (zero libm risk), the same
    // prefix-sum walk and argmin/argmax crossing report
    "q243_sprt" -> {
      val l1 = math.round(math.log(0.20 / 0.15) * 1e9)
      val l0 = math.round(math.log((1 - 0.20) / (1 - 0.15)) * 1e9)
      val aq = math.round(math.log((1 - 0.05) / 0.05) * 1e9)
      val bq = math.round(math.log(0.05 / (1 - 0.05)) * 1e9)
      s"""WITH b AS (
         |  SELECT event_id,
         |    CASE WHEN event_type = 'purchase' THEN $l1 ELSE $l0 END AS inc
         |  FROM events),
         |w AS (SELECT event_id,
         |        CAST(row_number() OVER (ORDER BY event_id) AS BIGINT) AS grank,
         |        CAST(SUM(inc) OVER (ORDER BY event_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |          AS BIGINT) AS llr_q
         |      FROM b),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |          arg_max(llr_q, grank) AS final_q FROM w),
         |cr AS (SELECT CAST(MIN(grank) AS BIGINT) AS first_cross_n,
         |          arg_min(llr_q, grank) AS cross_q
         |        FROM w WHERE llr_q >= $aq OR llr_q <= $bq)
         |SELECT tot.n, cr.first_cross_n,
         |  CASE WHEN cr.first_cross_n IS NULL THEN 'continue'
         |       WHEN cr.cross_q >= $aq THEN 'accept_h1'
         |       ELSE 'accept_h0' END AS decision,
         |  CAST(cr.cross_q AS DOUBLE) / 1000000000.0 AS llr_at_cross,
         |  CAST(tot.final_q AS DOUBLE) / 1000000000.0 AS llr_final
         |FROM tot CROSS JOIN cr""".stripMargin
    },

    // DiD twin: identical cents cells, the same a/(100·b) mean chains
    // and (m11−m10)−(m01−m00) arithmetic
    "q244_diff_in_diff" ->
      """WITH b AS (
        |  SELECT CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t,
        |    CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END AS p,
        |    CAST(ROUND(value * 100.0) AS BIGINT) AS vc
        |  FROM events WHERE value IS NOT NULL),
        |c AS (SELECT t, p, CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(vc) AS BIGINT) AS s
        |      FROM b GROUP BY t, p)
        |SELECT
        |  COALESCE(MAX(CASE WHEN t = 0 AND p = 0 THEN n END), 0) AS n_c_pre,
        |  COALESCE(MAX(CASE WHEN t = 0 AND p = 1 THEN n END), 0) AS n_c_post,
        |  COALESCE(MAX(CASE WHEN t = 1 AND p = 0 THEN n END), 0) AS n_t_pre,
        |  COALESCE(MAX(CASE WHEN t = 1 AND p = 1 THEN n END), 0) AS n_t_post,
        |  CAST(MAX(CASE WHEN t = 0 AND p = 0 THEN s END) AS DOUBLE) /
        |    (100.0 * CAST(MAX(CASE WHEN t = 0 AND p = 0 THEN n END) AS DOUBLE)) AS mean_c_pre,
        |  CAST(MAX(CASE WHEN t = 0 AND p = 1 THEN s END) AS DOUBLE) /
        |    (100.0 * CAST(MAX(CASE WHEN t = 0 AND p = 1 THEN n END) AS DOUBLE)) AS mean_c_post,
        |  CAST(MAX(CASE WHEN t = 1 AND p = 0 THEN s END) AS DOUBLE) /
        |    (100.0 * CAST(MAX(CASE WHEN t = 1 AND p = 0 THEN n END) AS DOUBLE)) AS mean_t_pre,
        |  CAST(MAX(CASE WHEN t = 1 AND p = 1 THEN s END) AS DOUBLE) /
        |    (100.0 * CAST(MAX(CASE WHEN t = 1 AND p = 1 THEN n END) AS DOUBLE)) AS mean_t_post,
        |  (CAST(MAX(CASE WHEN t = 1 AND p = 1 THEN s END) AS DOUBLE) /
        |    (100.0 * CAST(MAX(CASE WHEN t = 1 AND p = 1 THEN n END) AS DOUBLE)) -
        |   CAST(MAX(CASE WHEN t = 1 AND p = 0 THEN s END) AS DOUBLE) /
        |    (100.0 * CAST(MAX(CASE WHEN t = 1 AND p = 0 THEN n END) AS DOUBLE))) -
        |  (CAST(MAX(CASE WHEN t = 0 AND p = 1 THEN s END) AS DOUBLE) /
        |    (100.0 * CAST(MAX(CASE WHEN t = 0 AND p = 1 THEN n END) AS DOUBLE)) -
        |   CAST(MAX(CASE WHEN t = 0 AND p = 0 THEN s END) AS DOUBLE) /
        |    (100.0 * CAST(MAX(CASE WHEN t = 0 AND p = 0 THEN n END) AS DOUBLE))) AS did
        |FROM c""".stripMargin,

    // Qini twin: identical cents score, (−score, id) rank, integer
    // decile cut, the same cumulative window and division chain
    "q245_qini_uplift" ->
      """WITH u AS (
        |  SELECT user_id,
        |    COALESCE(CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT), 0) AS score,
        |    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y,
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t
        |  FROM events GROUP BY user_id),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM u),
        |r AS (SELECT t, y,
        |        CAST(row_number() OVER (ORDER BY -score, user_id) AS BIGINT) AS grank
        |      FROM u),
        |bkt AS (SELECT ((grank - 1) * 10) // nn.n AS bucket, t, y
        |        FROM r CROSS JOIN nn),
        |g AS (SELECT bucket, CAST(SUM(t) AS BIGINT) AS nt,
        |        CAST(SUM(1 - t) AS BIGINT) AS nc,
        |        CAST(SUM(t * y) AS BIGINT) AS ct,
        |        CAST(SUM((1 - t) * y) AS BIGINT) AS cc
        |      FROM bkt GROUP BY bucket),
        |cumu AS (SELECT bucket,
        |        CAST(SUM(nt) OVER w AS BIGINT) AS cum_n_t,
        |        CAST(SUM(nc) OVER w AS BIGINT) AS cum_n_c,
        |        CAST(SUM(ct) OVER w AS BIGINT) AS cum_conv_t,
        |        CAST(SUM(cc) OVER w AS BIGINT) AS cum_conv_c
        |      FROM g
        |      WINDOW w AS (ORDER BY bucket
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT bucket, cum_n_t, cum_n_c, cum_conv_t, cum_conv_c,
        |  CASE WHEN cum_n_c = 0 THEN NULL
        |       ELSE CAST(cum_conv_t AS DOUBLE) -
        |         CAST(cum_conv_c AS DOUBLE) * CAST(cum_n_t AS DOUBLE) /
        |         CAST(cum_n_c AS DOUBLE) END AS qini
        |FROM cumu ORDER BY bucket""".stripMargin,

    // disorder twin: the same md5 arrival shuffle, per-user prefix max
    // under arrival order, and exact ⌈p·n/100⌉ order statistics
    "q246_disorder_audit" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus,
        |    CAST(md5_number_lower(CAST(event_id AS VARCHAR))
        |      & 9223372036854775807::UBIGINT AS BIGINT) AS arr
        |  FROM events),
        |w AS (SELECT user_id, event_id, arr, tus,
        |        MAX(tus) OVER (PARTITION BY user_id ORDER BY arr, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mx
        |      FROM e),
        |l AS (SELECT mx - tus AS late_us, user_id, arr, event_id
        |      FROM w WHERE mx - tus > 0),
        |nl AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_late FROM l),
        |r AS (SELECT late_us,
        |        CAST(row_number() OVER (ORDER BY late_us, user_id, arr, event_id)
        |          AS BIGINT) AS grank
        |      FROM l),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_events FROM e),
        |st AS (SELECT
        |    MAX(CASE WHEN grank = (n_late * 50 + 99) // 100 THEN late_us END) AS p50_late_us,
        |    MAX(CASE WHEN grank = (n_late * 95 + 99) // 100 THEN late_us END) AS p95_late_us,
        |    MAX(CASE WHEN grank = (n_late * 99 + 99) // 100 THEN late_us END) AS p99_late_us
        |  FROM r CROSS JOIN nl)
        |SELECT tot.n_events, nl.n_late, st.p50_late_us, st.p95_late_us,
        |  st.p99_late_us, st.p99_late_us AS suggested_watermark_us
        |FROM tot CROSS JOIN nl CROSS JOIN st""".stripMargin,

    "q18_asof_join" ->
      """SELECT p.event_id AS purchase_id, p.user_id,
        | (SELECT c.event_id FROM events c
        |   WHERE c.user_id = p.user_id AND c.event_type = 'click' AND c.ts < p.ts
        |   ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS click_id
        |FROM events p WHERE p.event_type = 'purchase'
        |ORDER BY purchase_id""".stripMargin,

    "q21_tumbling_window" ->
      """SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS window_start, event_type,
        | COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,

    // q269 replay twin: the same feed the streaming run consumed, as a
    // plain left-join + epoch-aligned hourly GROUP BY — legal because the
    // feed protocol makes watermark drops impossible and append mode
    // emits each window exactly once (see runEnrichedTumbling)
    "q269_stream_run" ->
      """SELECT CAST(floor(epoch(e.ts) / 3600) AS BIGINT) * 3600 AS window_start,
        | e.event_type, c.c_mktsegment AS segment,
        | COUNT(*) AS n_events,
        | CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2, 3 ORDER BY window_start, event_type, segment""".stripMargin,

    // continuous-run stream-stream join twin: the sink of the real
    // micro-batch execution must equal q50's batch interval join exactly
    "q273_stream_join_run" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
        | epoch_us(p.ts) AS p_us, epoch_us(c.ts) AS c_us, p.value
        |FROM events p JOIN events c ON p.user_id = c.user_id
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
        |ORDER BY purchase_id, click_id""".stripMargin,

    // continuous-run dedup twin: the drained key set must equal the
    // batch DISTINCT over (user, type, minute) — once ever per key
    "q294_stream_dedup_run" ->
      """SELECT DISTINCT user_id, event_type,
        |  epoch_us(date_trunc('minute', ts)) AS m_us
        |FROM events
        |ORDER BY user_id, event_type, m_us""".stripMargin,

    // Shapley-attribution twin: identical exposure masks, the dense
    // 8-row game table, arithmetic popcount weights, nano-quantized
    // marginal terms
    "q325_shapley_attribution" ->
      """WITH u AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |    + 2 * MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |    + 4 * MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |      AS m,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cv
        |  FROM events GROUP BY user_id),
        |cells AS (SELECT m, CAST(COUNT(*) AS BIGINT) AS n,
        |          CAST(SUM(cv) AS BIGINT) AS c FROM u GROUP BY m),
        |sub0 AS (SELECT s.m, COALESCE(n, 0) AS n, COALESCE(c, 0) AS c
        |  FROM (SELECT unnest(range(0, 8)) AS m) s LEFT JOIN cells USING (m)),
        |sub AS (SELECT m, n, c,
        |    CASE WHEN n > 0 THEN CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
        |      ELSE 0.0 END AS v FROM sub0),
        |chans(channel, b) AS (VALUES ('view', 1), ('click', 2),
        |  ('signup', 4)),
        |terms AS (SELECT channel,
        |    CAST(ROUND((CASE WHEN (a.m & 1) + ((a.m // 2) & 1)
        |          + ((a.m // 4) & 1) = 0
        |        OR (a.m & 1) + ((a.m // 2) & 1) + ((a.m // 4) & 1) = 2
        |        THEN 1.0 / 3.0 ELSE 1.0 / 6.0 END)
        |      * (b1.v - a.v) * 1000000000.0) AS BIGINT) AS tq
        |  FROM chans JOIN sub a ON (a.m & b) = 0
        |  JOIN sub b1 ON b1.m = a.m + b),
        |exposed AS (SELECT channel, CAST(SUM(n) AS BIGINT) AS n_exposed
        |  FROM chans JOIN sub ON (m & b) <> 0 GROUP BY channel)
        |SELECT channel, n_exposed,
        |  round(CAST(CAST(SUM(tq) AS BIGINT) AS DOUBLE) / 1000000000.0, 6)
        |    AS shapley_value
        |FROM terms JOIN exposed USING (channel)
        |GROUP BY channel, n_exposed ORDER BY channel""".stripMargin,

    // exactly-once sink twin: the upsert store's final content must be
    // the plain batch projection — a double-counted replay batch
    // (append semantics) or a lost batch both fail this gate
    "q322_stream_idempotent_sink" ->
      """SELECT event_id, user_id, event_type,
        |  COALESCE(CAST(ROUND(value * 100.0) AS BIGINT), 0) AS cents
        |FROM events ORDER BY event_id""".stripMargin,

    // continuous-run LEFT OUTER twin: the sentinel-drained sink must
    // equal the batch left interval join — matched rows identical to
    // q273's inner set, plus one NULL-click row per unmatched purchase
    "q292_stream_outer_join_run" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
        | epoch_us(p.ts) AS p_us, epoch_us(c.ts) AS c_us, p.value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        |  AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
        |ORDER BY purchase_id, click_id""".stripMargin,

    // continuous-run stateful-session twin: the flushed sink of the
    // flatMapGroupsWithState run must equal the batch gaps-and-islands
    // sessionization (q22's boundary rule, per-session rows)
    "q274_stream_session_run" ->
      """WITH x AS (
        | SELECT user_id, event_id, epoch_us(ts) AS us,
        |  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS prev_us
        | FROM events),
        |g AS (
        | SELECT user_id, us, event_id,
        |  SUM(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |      THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY us, event_id
        |          ROWS UNBOUNDED PRECEDING) AS sess
        | FROM x)
        |SELECT user_id, MIN(us) AS start_us, MAX(us) AS end_us,
        | COUNT(*) AS n_events
        |FROM g GROUP BY user_id, sess ORDER BY user_id, start_us""".stripMargin,

    "q49_event_dedup_twin" ->
      """SELECT MIN(event_id) AS keep_id, user_id, event_type,
        | CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS m_start,
        | COUNT(*) AS n_dups
        |FROM events GROUP BY user_id, event_type, date_trunc('minute', ts)
        |ORDER BY keep_id""".stripMargin,

    "q50_purchase_attribution" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
        | epoch_us(p.ts) AS p_us, epoch_us(c.ts) AS c_us, p.value
        |FROM events p JOIN events c ON p.user_id = c.user_id
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
        |ORDER BY purchase_id, click_id""".stripMargin,

    // bot-screen twin: identical gap/burst/median algebra (DuckDB median
    // = Spark percentile 0.5 — both midpoint-average on even counts,
    // which is float-exact)
    "q200_bot_screen" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events),
        |g AS (
        |  SELECT user_id, event_type, us,
        |    us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap
        |  FROM e),
        |pm AS (
        |  SELECT user_id, CAST(MAX(n_min) AS BIGINT) AS burst_per_min FROM (
        |    SELECT user_id, us // 60000000 AS minute, COUNT(*) AS n_min
        |    FROM e GROUP BY 1, 2) GROUP BY user_id),
        |st AS (
        |  SELECT user_id, COUNT(*) AS n_events,
        |    CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
        |    MAX(us) - MIN(us) AS span_us,
        |    CAST(median(gap) AS DOUBLE) AS median_gap_us
        |  FROM g GROUP BY user_id)
        |SELECT st.user_id, st.n_events, st.n_types, st.span_us,
        |  st.median_gap_us, pm.burst_per_min,
        |  (pm.burst_per_min >= 20 OR (st.median_gap_us IS NOT NULL
        |    AND st.median_gap_us <= 500000.0)) AS is_bot
        |FROM st JOIN pm ON pm.user_id = st.user_id
        |ORDER BY st.user_id""".stripMargin,

    // attribution twin: identical integer credit split (1000 // m,
    // remainder to the earliest touch by (ts, id) order)
    "q192_attribution" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events),
        |conv AS (
        |  SELECT user_id, event_id AS cid, us AS cus FROM e
        |  WHERE event_type = 'purchase'),
        |touch AS (
        |  SELECT user_id, event_id AS tid, event_type AS channel, us AS tus
        |  FROM e WHERE event_type IN ('view', 'click', 'signup')),
        |j AS (
        |  SELECT c.cid, t.tid, t.channel, t.tus
        |  FROM conv c JOIN touch t ON t.user_id = c.user_id
        |  WHERE t.tus < c.cus AND c.cus - t.tus <= 259200000000),
        |r AS (
        |  SELECT cid, tid, channel,
        |    COUNT(*) OVER (PARTITION BY cid) AS m,
        |    row_number() OVER (PARTITION BY cid ORDER BY tus, tid) AS rk
        |  FROM j)
        |SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_touches,
        |  CAST(SUM(1000 // m + CASE WHEN rk = 1 THEN 1000 % m ELSE 0 END)
        |    AS BIGINT) AS credit_permille,
        |  CAST(COUNT(DISTINCT cid) AS BIGINT) AS n_conversions
        |FROM r GROUP BY channel
        |ORDER BY channel""".stripMargin,

    "q51_running_totals_twin" ->
      """SELECT user_id, COUNT(*) AS total_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q22_sessionize" ->
      """WITH x AS (
        | SELECT user_id, epoch_us(ts) AS us,
        |  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        | FROM events)
        |SELECT user_id,
        | COUNT(*) FILTER (WHERE prev_us IS NULL OR us - prev_us > 1800000000) AS n_sessions,
        | COUNT(*) AS n_events
        |FROM x GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q74_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |v AS (SELECT user_id, MIN(us) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, MIN(e.us) AS t2 FROM e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.us > v.t1 GROUP BY 1),
        |p AS (SELECT e.user_id, MIN(e.us) AS t3 FROM e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.us > c.t2 GROUP BY 1)
        |SELECT '1_view' AS stage, COUNT(*) AS n_users FROM v
        |UNION ALL SELECT '2_view_click', COUNT(*) FROM c
        |UNION ALL SELECT '3_view_click_purchase', COUNT(*) FROM p
        |ORDER BY stage""".stripMargin,

    "q77_gap_fill" ->
      """WITH pd AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2
        |), sp AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM pd GROUP BY 1),
        |spine AS (SELECT user_id, unnest(generate_series(d0, d1)) AS day FROM sp)
        |SELECT s.user_id, s.day, COALESCE(n, 0) AS n
        |FROM spine s LEFT JOIN pd ON s.user_id = pd.user_id AND s.day = pd.day
        |ORDER BY s.user_id, s.day""".stripMargin,

    "q75_retention" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |f AS (SELECT user_id, MIN(day) AS cohort FROM e GROUP BY 1)
        |SELECT cohort, day - cohort AS "offset", COUNT(DISTINCT e.user_id) AS n_users
        |FROM e JOIN f ON e.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY cohort, "offset"""".stripMargin
  )
}
