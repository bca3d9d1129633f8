package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [[Graft]] members: global order statistics, graph decomposition/link prediction, histograms, layout.
  *
  * One of the six family slices of the operator API — `object Graft`
  * mixes them all in; call sites use `Graft.<member>` exactly as
  * before. Split round 13 purely for navigability (8.5k LoC in one
  * file); `private` members became `private[api]` so slices can share
  * helpers with zero behavior change.
  */
private[api] trait GraftGraphLayout { this: Graft.type =>


  /** Exact distributed global rank — the textbook two-phase order
    * statistic: range-repartition on the order columns, pin the staged
    * partitioning (localCheckpoint — range boundaries are SAMPLED, so
    * the counts job and the rank job must see the SAME split), collect
    * per-partition counts (bounded by the partition count, never data-
    * sized), and add the broadcast cumulative offset to each partition-
    * local row_number. `orderCols` must be a total order (include a
    * unique tiebreaker) or ranks at partition boundaries are undefined.
    * Unlike a bare `row_number() OVER (ORDER BY …)` — which Spark
    * executes on ONE partition — every stage here is parallel. */
  def globalRank(df: DataFrame, orderCols: Seq[String],
      rankName: String = "grank"): DataFrame = {
    val ord = orderCols.map(col)
    val staged = df.repartitionByRange(ord: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    val counts = staged.groupBy(col("__pid")).agg(count(lit(1)).as("__c"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets = counts.scanLeft((0, 0L)) {
      case ((_, acc), (p, c)) => (p + 1, acc + c)
    }.dropRight(1).zip(counts).map { case ((_, off), (p, _)) => (p, off) }
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = offsets.toSeq.toDF("__pid", "__off")
    val w = Window.partitionBy(col("__pid")).orderBy(ord: _*)
    staged.join(broadcast(offDf), Seq("__pid"))
      .withColumn(rankName, row_number().over(w).cast(LongType) + col("__off"))
      .drop("__pid", "__off")
  }

  /** Cross-source quantile normalization — map each group's value
    * distribution onto the GLOBAL distribution (the scanner-effect /
    * score-calibration transform: after it, every group's quantiles
    * coincide). Row at within-group rank r of n maps to the global order
    * statistic at position ⌊(r−1)(N−1)/(n−1)⌋+1 (singleton groups map to
    * the global median position) — all INTEGER arithmetic, so the only
    * doubles in the output are input values themselves.
    *
    * 100 TB shape: the global order-statistic table comes from
    * [[globalRank]] (parallel two-phase ranking — never a one-partition
    * window), group ranks are ordinary partitioned windows, and the
    * final lookup is an equi join on the computed position. Magnitude:
    * (n−1)·(N−1) must fit a long — holds to N ~ 3e9 per group-size 3e9;
    * beyond that, bucket first. */
  def quantileNormalize(df: DataFrame, valueCol: String, groupCol: String,
      idCol: String): DataFrame = {
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(idCol), col(groupCol), col(valueCol))
    val ranked = globalRank(base, Seq(valueCol, idCol))
    val n1 = ranked.agg(max(col("grank")).as("__n")).select(
      (col("__n") - 1L).as("__n1"), ((col("__n") + 1L) / 2).cast(LongType).as("__mid"))
    val gstat = ranked.select(col("grank").as("__gpos"),
      col(valueCol).as("normalized"))
    val wg = Window.partitionBy(col(groupCol))
    val rs = row_number().over(wg.orderBy(col(valueCol), col(idCol))).cast(LongType)
    val pos = base
      .withColumn("g_rank", rs)
      .withColumn("g_n", count(lit(1)).over(wg))
      .crossJoin(broadcast(n1))
      .withColumn("__gpos",
        when(col("g_n") > 1L,
          expr("((g_rank - 1) * __n1) div (g_n - 1)") + 1L)
          .otherwise(col("__mid")))
    pos.join(gstat, Seq("__gpos"))
      .select(col(idCol), col(groupCol), col(valueCol), col("g_rank"),
        col("g_n"), col("__gpos").as("g_pos"), col("normalized"))
  }

  /** Synchronous k-core peeling — the web-graph quality filter (keep
    * only the subgraph where every node retains ≥ k neighbors after
    * everything weaker is recursively stripped): each round removes ALL
    * nodes of degree < k at once and recomputes degrees on the induced
    * subgraph. Fixed `rounds` synchronous passes (the caller picks
    * depth; peeling converges monotonically, so extra rounds are
    * no-ops once stable). Returns surviving (node, degree).
    *
    * 100 TB shape (r9 rewrite — incremental degrees, zero edge-sized
    * shuffles per round): the r8 form re-filtered the full edge list
    * with two semi-joins per round AND, with lineage cut only every 5
    * rounds, re-evaluated each prior round ~3× per level (~3^rounds
    * replays of round 0 — measured as the slowest query of the r8 sf1
    * ladder). Peeling only ever needs DEGREES, and a survivor's induced
    * degree changes by exactly its count of newly-removed neighbors, so
    * the adjacency is now built ONCE (canonical-orientation distinct,
    * then symmetric doubling — dedup before doubling halves the distinct)
    * and cached hash-partitioned by the probe key; each round is
    *   rem   = degree rows that fell below k          (node-sized filter)
    *   delta = adj ⋈ rem on nbr → count per node      (adj probed from
    *           cache; rem is the small side — AQE broadcasts it after
    *           the first peel, so the full edge list is never
    *           re-shuffled; only the incident-edge subset aggregates)
    *   deg   = survivors.left-join(delta), __d − __rm  (node-sized)
    * The degree table is materialized per round (it feeds three
    * consumers), so total work is linear in rounds. Removed-set
    * disjointness across rounds makes the subtraction exact — a
    * neighbor removed in round r is gone from the degree table and can
    * never be subtracted twice. Never a cartesian, never driver
    * traffic. Materialization is executor-storage persist, or reliable
    * `checkpoint` under the `checkpointDir` durability switch shared
    * with [[pageRank]]; the working set is unpersisted on exit, the
    * node-sized result is checkpointed. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      rounds: Int = 3, checkpointDir: Option[String] = None,
      canonicalEdges: Boolean = false,
      degrees: Option[DataFrame] = None): DataFrame = {
    require(k >= 1, s"kCore needs k >= 1, got $k")
    require(rounds >= 1, s"kCore needs rounds >= 1, got $rounds")
    checkpointDir.foreach(edges.sparkSession.sparkContext.setCheckpointDir)
    def mat(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint()
      else {
        val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        p.count()
        p
      }
    // Canonical orientation first: (least, greatest) + distinct dedups
    // BEFORE the symmetric doubling, so the doubled list needs no second
    // distinct (unioning both directions of unique a<b pairs cannot
    // collide) — one edge shuffle of setup instead of two.
    // `canonicalEdges = true` (r13) skips BOTH the distinct shuffle and
    // the string cast when the caller already holds a canonical
    // (deduplicated, src ≠ dst, non-null, consistently oriented) edge
    // set — e.g. the shared bucketed artifact: peeling then runs on the
    // native (narrower) key type end to end; only the OUTPUT node is
    // cast to string, which for any integer key yields the identical
    // value the old cast-at-input form produced. `degrees` optionally
    // supplies the matching (u, deg) canonical-graph degree table
    // (the shared artifact), skipping the initial edge-sized aggregate.
    val canon =
      if (canonicalEdges)
        edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      else
        edges.select(
            least(col(srcCol).cast(StringType), col(dstCol).cast(StringType)).as("a"),
            greatest(col(srcCol).cast(StringType), col(dstCol).cast(StringType)).as("b"))
          .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
          .distinct()
    val adj = mat(canon.select(col("a").as("node"), col("b").as("nbr"))
      .unionAll(canon.select(col("b").as("node"), col("a").as("nbr")))
      .repartition(col("nbr")))
    var deg = mat(degrees
      .map(_.toDF("node", "__d").select(col("node"), col("__d").cast(LongType)))
      .getOrElse(adj.groupBy(col("node")).agg(count(lit(1)).as("__d"))))
    var r = 0
    while (r < rounds) {
      val rem = deg.filter(col("__d") < k).select(col("node").as("nbr"))
      val delta = adj.join(rem, Seq("nbr"))
        .groupBy(col("node")).agg(count(lit(1)).as("__rm"))
      val prev = deg
      deg = mat(prev.filter(col("__d") >= k)
        .join(delta, Seq("node"), "left")
        .select(col("node"),
          (col("__d") - coalesce(col("__rm"), lit(0L))).as("__d")))
      if (checkpointDir.isEmpty) prev.unpersist()
      r += 1
    }
    // __d = 0 survivors (every neighbor peeled) have no edge left in the
    // induced subgraph — excluded, matching the degree-of-induced-edges
    // contract. Node-sized result is cut so the cached working set can
    // be released.
    // node is cast to string at OUTPUT (not input) so the canonical
    // fast path above can peel on the native key type; for the default
    // path the cast is a no-op (node is already a string there).
    val out =
      if (checkpointDir.isDefined)
        deg.filter(col("__d") > 0L)
          .select(col("node").cast(StringType).as("node"),
            col("__d").as("degree"))
      else {
        val o = deg.filter(col("__d") > 0L)
          .select(col("node").cast(StringType).as("node"),
            col("__d").as("degree")).localCheckpoint()
        deg.unpersist(); adj.unpersist()
        o
      }
    out
  }

  /** Exact per-group winsorization — clip each value into its group's
    * [loPermille, hiPermille] order-statistic band (the outlier-taming
    * transform run before normalization/aggregation so one wild sensor
    * or spam burst cannot drag a group mean). Bound positions are pure
    * integer arithmetic — ⌈p·n/1000⌉ clamped to ≥ 1 — so the only
    * doubles in the output are input values themselves.
    *
    * 100 TB shape: one per-group rank window (groups are the partition
    * key — never a global sort), then the two bound rows per group
    * collapse to a #groups-sized table that broadcasts back onto the
    * stream. */
  def winsorize(df: DataFrame, valueCol: String, groupCol: String,
      idCol: String, loPermille: Int = 50, hiPermille: Int = 950): DataFrame = {
    require(0 <= loPermille && loPermille <= hiPermille && hiPermille <= 1000,
      s"winsorize needs 0 <= lo <= hi <= 1000, got $loPermille/$hiPermille")
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(idCol), col(groupCol), col(valueCol))
    val wg = Window.partitionBy(col(groupCol))
    val ranked = base
      .withColumn("__r", row_number()
        .over(wg.orderBy(col(valueCol), col(idCol))).cast(LongType))
      .withColumn("__n", count(lit(1)).over(wg))
      .withColumn("__lo", greatest(lit(1L),
        expr(s"($loPermille * __n + 999) div 1000")))
      .withColumn("__hi", greatest(lit(1L),
        expr(s"($hiPermille * __n + 999) div 1000")))
    val bounds = ranked
      .filter(col("__r") === col("__lo") || col("__r") === col("__hi"))
      .groupBy(col(groupCol)).agg(
        min(when(col("__r") === col("__lo"), col(valueCol))).as("lo_val"),
        max(when(col("__r") === col("__hi"), col(valueCol))).as("hi_val"))
    ranked.join(broadcast(bounds), Seq(groupCol))
      .select(col(idCol), col(groupCol), col(valueCol), col("lo_val"),
        col("hi_val"),
        least(greatest(col(valueCol), col("lo_val")), col("hi_val"))
          .as("winsorized"))
  }

  /** Per-key sample autocorrelation at lags 1..maxLag — the seasonality
    * / burst-persistence detector for telemetry streams (is a metric's
    * next sample predicted by its previous one?):
    * r_k = Σ(x_i−x̄)(x_{i+k}−x̄) / Σ(x_i−x̄)², x̄ over the full series.
    *
    * Exactness: values micro-quantize to longs through a DECIMAL(19,6)
    * cast (q92's conversion — both engines round the double identically),
    * every moment (Σx, Σx², lagged pair sums Σx_i·x_{i+k}, head/tail
    * partial sums) is an exact DECIMAL(38,0)/int128 integer, and the
    * mean never materializes: the estimator is cross-multiplied by n²
    * so numerator and denominator are single exact integers and r_k is
    * ONE double division. Constant series (den = 0) yield NULL.
    *
    * 100 TB shape: one window shuffle on the key computes every lead
    * column, one keyed aggregate per series + one per (series, lag) —
    * output is #keys·maxLag rows. Never a self-join of the stream. */
  def acf(df: DataFrame, valueCol: String, keyCol: String, tsCol: String,
      idCol: String, maxLag: Int = 3): DataFrame = {
    require(maxLag >= 1 && maxLag <= 16, s"acf needs 1 <= maxLag <= 16, got $maxLag")
    val dec = DecimalType(38, 0)
    val base = df.select(col(keyCol).as("__k"),
      unix_micros(col(tsCol)).as("__us"), col(idCol).as("__id"),
      (col(valueCol).cast(DecimalType(19, 6)) * lit(1000000))
        .cast(LongType).as("__xq"))
    val w = Window.partitionBy(col("__k")).orderBy(col("__us"), col("__id"))
    val leads = (1 to maxLag).foldLeft(base) { (d, k) =>
      d.withColumn(s"__l$k", lead(col("__xq"), k).over(w))
    }
    val g = base.groupBy(col("__k")).agg(
      count(lit(1)).as("__n"),
      sum(col("__xq")).as("__sx"),
      sum(col("__xq").cast(dec) * col("__xq")).as("__sxx"))
    val pairs = leads.select(col("__k"), explode(array((1 to maxLag).map(k =>
        struct(lit(k).cast(LongType).as("lag"), col("__xq").as("x"),
          col(s"__l$k").as("xk"))): _*)).as("p"))
      .select(col("__k"), col("p.lag").as("lag"), col("p.x").as("x"),
        col("p.xk").as("xk"))
      .filter(col("xk").isNotNull)
    val pl = pairs.groupBy(col("__k"), col("lag")).agg(
      count(lit(1)).as("n_pairs"),
      sum(col("x").cast(dec) * col("xk")).as("__sk"),
      sum(col("x")).as("__sh"),
      sum(col("xk")).as("__st"))
    val nd = col("__n").cast(dec)
    val sx = col("__sx").cast(dec)
    val num = nd * nd * col("__sk") - nd * sx * col("__sh") -
      nd * sx * col("__st") + (nd - col("lag")) * sx * sx
    val den = nd * nd * col("__sxx") - nd * sx * sx
    pl.join(g, Seq("__k"))
      .select(col("__k").as(keyCol), col("lag"), col("__n").as("n"),
        col("n_pairs"),
        when(den === lit(0), lit(null).cast(DoubleType))
          .otherwise(num.cast(DoubleType) / den.cast(DoubleType)).as("acf"))
  }

  /** Per-key CUSUM changepoint scan — the sequential drift alarm (has
    * this series' level shifted up by more than `slack` from its
    * overall mean, accumulated past `threshold`?): the classic
    * recursion s_i = max(0, s_{i−1} + (x_i − x̄ − slack)) rewritten as
    * prefix algebra — s_i = R_i − min(0, min_{j≤i} R_j) with
    * R_i = Σ_{t≤i}(x_t − x̄ − slack) — so two window functions over ONE
    * key-partitioned sort replace the unwindowable recursion.
    *
    * Exactness: x̄ = Σx/n never materializes — every term is scaled by
    * n (d_i = n·x_i_micro − Σx_micro − n·slack_micro, an exact
    * DECIMAL(38,0)/int128 integer), running sums/mins stay integer
    * under the deterministic (ts, id) order, and the alarm compare
    * s_i > n·threshold_micro is pure integer. The reported cusum is one
    * fixed double chain (÷n ÷1e6). Exact on both engines end to end.
    *
    * 100 TB shape: one keyed aggregate (n, Σx per series — #keys rows,
    * broadcast back) + one window shuffle on the key. Output is
    * row-per-sample by design (the alarm TRACE); filter on `alarm`
    * downstream for the sparse form. */
  def cusum(df: DataFrame, valueCol: String, keyCol: String, tsCol: String,
      idCol: String, slack: Double = 5.0, threshold: Double = 50.0): DataFrame = {
    require(slack >= 0, s"cusum needs slack >= 0, got $slack")
    require(threshold > 0, s"cusum needs threshold > 0, got $threshold")
    val dec = DecimalType(38, 0)
    val kq = math.round(slack * 1e6)    // exact micro-unit constants
    val hq = math.round(threshold * 1e6)
    val base = df.select(col(keyCol).as("__k"),
      unix_micros(col(tsCol)).as("__us"), col(idCol).as("__id"),
      (col(valueCol).cast(DecimalType(19, 6)) * lit(1000000))
        .cast(LongType).as("__xq"))
    val g = base.groupBy(col("__k"))
      .agg(count(lit(1)).as("__n"), sum(col("__xq")).as("__sx"))
    val w = Window.partitionBy(col("__k")).orderBy(col("__us"), col("__id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nd = col("__n").cast(dec)
    base.join(broadcast(g), Seq("__k"))
      .withColumn("__d",
        nd * col("__xq").cast(dec) - col("__sx").cast(dec) - nd * lit(kq))
      .withColumn("__r", sum(col("__d")).over(run))
      .withColumn("__m", least(lit(0).cast(dec), min(col("__r")).over(run)))
      .select(col("__k").as(keyCol), col("__id").as(idCol),
        ((col("__r") - col("__m")).cast(DoubleType) /
          col("__n").cast(DoubleType) / lit(1.0e6)).as("cusum"),
        (col("__r") - col("__m") > nd * lit(hq)).cast(IntegerType).as("alarm"))
  }

  /** Per-group chi-square drift of a categorical column against the
    * corpus-wide distribution — the CATEGORICAL axis of the drift family
    * (q122's KS and q136's PSI cover numeric distributions; this one
    * audits e.g. the language mix per crawl source). Standard
    * contingency form: χ²_g = Σ_cat (o − e)²/e with e = rt·ct/N,
    * cross-multiplied to (o·N − rt·ct)²/(N·rt·ct) so every operand is an
    * exact integer.
    *
    * Exactness without a rounding function: each cell's term is
    * nano-scaled by INTEGER LONG DIVISION — q·1e9 + (rem·1e9) div den
    * from the euclidean split of d² by den — so there is no float round
    * anywhere (a rational term CAN land on a .5 tie; q123 proved
    * decimal-vs-float round() diverges there). Truncation bias < 1e-9
    * per cell, identical on both engines. χ² is one double division.
    *
    * 100 TB shape: three keyed count aggregates + a #groups × #cats
    * grid (dimension-table-sized); zero-observed cells enter via the
    * grid left join (they carry rt·ct/N of the statistic). */
  def chiSquareDrift(df: DataFrame, categoryCol: String,
      groupCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val base = df.select(col(groupCol).cast(StringType).as("__g"),
        col(categoryCol).cast(StringType).as("__c"))
      .filter(col("__g").isNotNull && col("__c").isNotNull)
    val cells = base.groupBy(col("__g"), col("__c")).agg(count(lit(1)).as("__o"))
    val rt = base.groupBy(col("__g")).agg(count(lit(1)).as("__rt"))
    val ct = base.groupBy(col("__c")).agg(count(lit(1)).as("__ct"))
    val n1 = base.agg(count(lit(1)).as("__nn"),
      count_distinct(col("__c")).as("__k"))
    rt.crossJoin(broadcast(ct))
      .join(cells, Seq("__g", "__c"), "left").na.fill(0L, Seq("__o"))
      .crossJoin(broadcast(n1))
      .withColumn("__d", col("__o").cast(dec) * col("__nn") -
        col("__rt").cast(dec) * col("__ct"))
      .withColumn("__d2", col("__d") * col("__d"))
      .withColumn("__den", col("__nn").cast(dec) * col("__rt") * col("__ct"))
      .withColumn("__ts", expr("__d2 div __den") * lit(1000000000L) +
        expr("((__d2 % __den) * 1000000000) div __den"))
      .groupBy(col("__g"), col("__rt"), col("__k"))
      .agg((sum(col("__ts")).cast(DoubleType) / lit(1.0e9)).as("chi2"))
      .select(col("__g").as(groupCol), col("__rt").as("n"),
        (col("__k") - lit(1L)).cast(LongType).as("dof"), col("chi2"))
  }

  /** Two-proportion z-test over a deterministic unit-level A/B table —
    * the experiment-analysis primitive (did variant B convert better
    * than A, beyond what chance explains?):
    * z = (p̂_B − p̂_A) / sqrt(p̂(1−p̂)(1/n_A + 1/n_B)) with p̂ pooled.
    *
    * All inputs to the chain are exact integer counts from ONE 1-row
    * aggregate; the z statistic is a fixed double expression tree
    * (divisions, one sqrt — every op IEEE-correctly-rounded, so an
    * identical tree is bit-identical cross-engine). Degenerate splits
    * (an empty arm, or zero/full pooled conversion → se = 0) yield NULL
    * rather than ±Inf/NaN. */
  def twoProportionZTest(units: DataFrame, variantCol: String,
      convCol: String): DataFrame = {
    val v = col(variantCol)
    val cv = col(convCol)
    val agg = units.agg(
      count(when(!v, 1)).as("n_a"),
      count(when(!v && cv, 1)).as("conv_a"),
      count(when(v, 1)).as("n_b"),
      count(when(v && cv, 1)).as("conv_b"))
    val pa = col("conv_a").cast(DoubleType) / col("n_a").cast(DoubleType)
    val pb = col("conv_b").cast(DoubleType) / col("n_b").cast(DoubleType)
    val pp = (col("conv_a") + col("conv_b")).cast(DoubleType) /
      (col("n_a") + col("n_b")).cast(DoubleType)
    val se = sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / col("n_a").cast(DoubleType) +
        lit(1.0) / col("n_b").cast(DoubleType)))
    val degenerate = col("n_a") === 0 || col("n_b") === 0 ||
      col("conv_a") + col("conv_b") === 0 ||
      col("conv_a") + col("conv_b") === col("n_a") + col("n_b")
    agg.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      (pb - pa).as("lift"),
      when(degenerate, lit(null).cast(DoubleType))
        .otherwise((pb - pa) / se).as("z"))
  }

  /** Weighted HITS hubs & authorities — [[pageRank]]'s companion link
    * analysis (PageRank measures POPULARITY via random-walk mass; HITS
    * separates being a good SOURCE of links (hub) from being a good
    * TARGET (authority) — the curation signal for "this page links to
    * quality" vs "quality links to this page"). Mutual recursion
    * a ∝ Σ_in w·h, h ∝ Σ_out w·a, L1-normalized each half-round.
    *
    * Exactness: the q111 policy verbatim — every order-sensitive sum
    * (in/out contributions, the normalizers) is pico-quantized to longs
    * before aggregation; normalization is one double division per node.
    * Durability: same `checkpointDir` switch as [[pageRank]].
    *
    * 100 TB shape: per half-round one keyed join + one aggregation and
    * a 1-row normalizer broadcast; lineage cut per round. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, iterations: Int = 8,
      checkpointDir: Option[String] = None): DataFrame = {
    require(iterations >= 1, s"hits needs iterations >= 1, got $iterations")
    val Q = 1.0e12
    checkpointDir.foreach(edges.sparkSession.sparkContext.setCheckpointDir)
    def cut(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint() else df.localCheckpoint()
    val e0 = edges.select(col(srcCol).cast(StringType).as("src"),
      col(dstCol).cast(StringType).as("dst"),
      col(weightCol).cast(DoubleType).as("w"))
    val badW = e0.filter(col("w").isNull || !(col("w") > 0.0)).limit(1).count()
    require(badW == 0L,
      s"hits: weight column '$weightCol' must be positive and non-null")
    val e = cut(e0)
    val nodes = cut(e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct())
    val n = nodes.count()
    require(n > 0, "hits: empty edge list")
    var scores = nodes.withColumn("hub", lit(1.0) / lit(n.toDouble))
      .withColumn("auth", lit(0.0))
    var i = 0
    while (i < iterations) {
      // authority half-round: pull hub mass along in-edges, L1-normalize.
      // The pulled-mass table is MATERIALIZED (r9): it feeds the
      // normalizer aggregate AND the node join, and `auth` below feeds
      // the hub half-round AND the round's score join — uncut, each
      // consumer replayed the edge join, ~4x the per-round work (the
      // kCore lineage lesson, bounded per round here since scores is
      // cut). The cut table is node-sized.
      val aq = cut(e.join(scores.select(col("node").as("src"), col("hub")), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(round(col("w") * col("hub") * lit(Q)).cast(LongType)).as("__aq")))
      val asum = aq.agg(sum(col("__aq")).as("__as"))
      val auth = nodes.join(aq, Seq("node"), "left")
        .crossJoin(broadcast(asum))
        .select(col("node"),
          (coalesce(col("__aq"), lit(0L)).cast(DoubleType) /
            col("__as").cast(DoubleType)).as("auth"))
      // hub half-round: pull the fresh authority along out-edges
      val hq = cut(e.join(auth.select(col("node").as("dst"), col("auth")), Seq("dst"))
        .groupBy(col("src").as("node"))
        .agg(sum(round(col("w") * col("auth") * lit(Q)).cast(LongType)).as("__hq")))
      val hsum = hq.agg(sum(col("__hq")).as("__hs"))
      val hub = nodes.join(hq, Seq("node"), "left")
        .crossJoin(broadcast(hsum))
        .select(col("node"),
          (coalesce(col("__hq"), lit(0L)).cast(DoubleType) /
            col("__hs").cast(DoubleType)).as("hub"))
      scores = cut(hub.join(auth, Seq("node")))
      i += 1
    }
    scores.select(col("node"), col("auth").as("authority"), col("hub"))
  }

  /** Order-free table fingerprint — the data-integrity primitive for
    * migrations/compactions/replication at lake scale: XOR of per-row
    * 63-bit md5 hashes + exact row count. Two tables are (overwhelmingly
    * likely) row-identical iff fingerprints AND counts match, and the
    * check is a map-side XOR with a 1-row result — no sort, no shuffle
    * of data, no driver-side compare of contents.
    *
    * Rows are serialized as control-char-joined string casts (U+0001
    * separator, U+0002 for NULL) — restrict `cols` to integer/string columns (float and
    * timestamp string forms are not portable across engines/locales).
    * XOR is commutative+associative, so partitioning and row order are
    * irrelevant by construction. */
  def tableFingerprint(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "tableFingerprint needs at least one column")
    graft.functions.GraftFunctions.register(df.sparkSession)
    val rowStr = concat_ws("\u0001",
      cols.map(c => coalesce(col(c).cast(StringType), lit("\u0002"))): _*)
    df.agg(count(lit(1)).as("n_rows"),
      coalesce(bit_xor(call_function("md5_lower64", rowStr)
        .bitwiseAND(lit(0x7FFFFFFFFFFFFFFFL))), lit(0L)).as("fingerprint"))
  }

  /** Pairwise association rules over baskets — market-basket support /
    * confidence / lift for item pairs (the co-purchase recommender
    * signal; q119's event paths are the SEQUENTIAL analogue, this is the
    * set-co-occurrence one). Returns unordered pairs (a < b) with
    * basket-count support ≥ `minSupport` and both directed confidences.
    *
    * All ratios are single double divisions of exact integer counts;
    * the support filter is an integer compare.
    *
    * 100 TB shape: distinct (basket, item) first (collapses quantity
    * rows), pair generation is the per-basket a<b self-join — fan-out
    * C(basket size, 2), the q140/q147 edge shape, never a global
    * cartesian; item and pair counts are keyed aggregates. */
  def assocRules(df: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long = 2L): DataFrame = {
    require(minSupport >= 1, s"assocRules needs minSupport >= 1, got $minSupport")
    val bi = df.select(col(basketCol).as("__bk"), col(itemCol).as("__it"))
      .filter(col("__bk").isNotNull && col("__it").isNotNull)
      .distinct()
    val nb = bi.agg(count_distinct(col("__bk")).as("__nb"))
    val ic = bi.groupBy(col("__it")).agg(count(lit(1)).as("__ci"))
    val pairs = bi.alias("x").join(bi.alias("y"),
        col("x.__bk") === col("y.__bk") && col("x.__it") < col("y.__it"))
      .groupBy(col("x.__it").as("item_a"), col("y.__it").as("item_b"))
      .agg(count(lit(1)).as("pair_n"))
      .filter(col("pair_n") >= minSupport)
    pairs
      .join(ic.select(col("__it").as("item_a"), col("__ci").as("__ca")), Seq("item_a"))
      .join(ic.select(col("__it").as("item_b"), col("__ci").as("__cb")), Seq("item_b"))
      .crossJoin(broadcast(nb))
      .select(col("item_a"), col("item_b"), col("pair_n"),
        col("__ca").as("n_a"), col("__cb").as("n_b"),
        (col("pair_n").cast(DoubleType) / col("__nb").cast(DoubleType))
          .as("support"),
        (col("pair_n").cast(DoubleType) / col("__ca").cast(DoubleType))
          .as("conf_a_to_b"),
        (col("pair_n").cast(DoubleType) / col("__cb").cast(DoubleType))
          .as("conf_b_to_a"),
        ((col("pair_n") * col("__nb")).cast(DoubleType) /
          (col("__ca") * col("__cb")).cast(DoubleType)).as("lift"))
  }

  /** Theil–Sen robust trend per key — the median of all pairwise slopes
    * (v_j − v_i)/(t_j − t_i): the heavy-tail-safe twin of the OLS
    * slope exactly as MAD (q118) is to the z-score (q85) — one wild
    * point moves an OLS fit arbitrarily but shifts a slope MEDIAN by at
    * most one rank. `tCol`/`vCol` must be exact integers (epoch days,
    * cents); same-t pairs are excluded (vertical slope), keys with no
    * valid pair drop out.
    *
    * Exactness: each slope is ONE double division of exact longs;
    * median selection is integer rank arithmetic over a deterministic
    * (slope, rank-pair) order, and the even-m midpoint is one fixed
    * (lo+hi)/2 chain — both engines replay it bit-for-bit.
    *
    * 100 TB shape: pair generation is per-key C(min(n, maxPoints), 2)
    * via a keyed self-join on the row_number prefix — the cap bounds
    * the quadratic per key (points beyond `maxPoints` in time order are
    * ignored, documented truncation); everything shuffles on the key
    * only. */
  def theilSen(df: DataFrame, keyCol: String, tCol: String, vCol: String,
      maxPoints: Int = 1000): DataFrame = {
    require(maxPoints >= 2, s"theilSen needs maxPoints >= 2, got $maxPoints")
    val w = Window.partitionBy(col("__k")).orderBy(col("__t"), col("__v"))
    val base = df.select(col(keyCol).as("__k"),
        col(tCol).cast(LongType).as("__t"), col(vCol).cast(LongType).as("__v"))
      .filter(col("__t").isNotNull && col("__v").isNotNull)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxPoints)
    val slopes = base.alias("x").join(base.alias("y"),
        col("x.__k") === col("y.__k") && col("x.__rn") < col("y.__rn"))
      .filter(col("y.__t") =!= col("x.__t"))
      .select(col("x.__k").as("__k"), col("x.__rn").as("__ri"),
        col("y.__rn").as("__rj"),
        ((col("y.__v") - col("x.__v")).cast(DoubleType) /
          (col("y.__t") - col("x.__t")).cast(DoubleType)).as("__s"))
    val sw = Window.partitionBy(col("__k"))
    val ranked = slopes
      .withColumn("__r", row_number()
        .over(sw.orderBy(col("__s"), col("__ri"), col("__rj"))).cast(LongType))
      .withColumn("__m", count(lit(1)).over(sw))
      .withColumn("__lo", expr("(__m + 1) div 2"))
      .withColumn("__hi", expr("(__m + 2) div 2"))
    val n = base.groupBy(col("__k")).agg(count(lit(1)).as("n"))
    ranked
      .filter(col("__r") === col("__lo") || col("__r") === col("__hi"))
      .groupBy(col("__k"), col("__m"))
      .agg(((min(when(col("__r") === col("__lo"), col("__s"))) +
        max(when(col("__r") === col("__hi"), col("__s")))) / lit(2.0))
        .as("slope_ts"))
      .join(n, Seq("__k"))
      .select(col("__k").as(keyCol), col("n"), col("__m").as("n_pairs"),
        col("slope_ts"))
  }

  /** Zone-map skip audit — per-file SKIPPABLE decisions for a range
    * predicate `[lo, hi]` from a stats manifest alone (file, min, max,
    * rows): the data-skipping planner next to q130's compaction planner
    * and q116's range layout. A file is skippable iff its [min, max]
    * zone cannot intersect the predicate — the row-group/file pruning
    * rule every lake format (parquet zone maps, Iceberg/Delta file
    * stats) applies; auditing it from the manifest predicts scan cost
    * BEFORE touching data, and a low skip fraction on a hot predicate
    * is the signal to re-layout (q116/q81).
    *
    * Pure integer compares over manifest-sized input — the planner
    * never reads data files. */
  def zoneMapSkipAudit(manifest: DataFrame, fileCol: String, minCol: String,
      maxCol: String, rowsCol: String, lo: Long, hi: Long): DataFrame = {
    require(lo <= hi, s"zoneMapSkipAudit needs lo <= hi, got $lo > $hi")
    manifest.select(col(fileCol),
      col(minCol).cast(LongType).as("min_v"),
      col(maxCol).cast(LongType).as("max_v"),
      col(rowsCol).cast(LongType).as("n_rows"),
      (col(maxCol).cast(LongType) < lit(lo) ||
        col(minCol).cast(LongType) > lit(hi)).cast(IntegerType).as("skippable"))
  }

  /** Cross-correlation of two event-count series at lags −maxLag..maxLag
    * — [[acf]]'s cross-series twin (does series x LEAD series y?): both
    * series are daily counts on the full closed day grid (gap days are
    * genuine zeros), r_xy(k) pairs x_d with y_{d+k} and normalizes by
    * the full-series variances.
    *
    * Exactness: counts are exact integers; the estimator is
    * cross-multiplied by n² (the q149 device) so numerator and both
    * variance terms are single exact DECIMAL(38,0)/int128 integers, and
    * the result is one fixed double chain with two sqrts. Constant
    * series yield NULL.
    *
    * Scale note: the day grid is #days-sized — an AGGREGATE result, not
    * raw data — so the single-partition lead window over it is
    * dimension-table work (the q108 k-row-window precedent); everything
    * upstream is keyed counts. */
  def ccf(df: DataFrame, tsCol: String, typeCol: String, xType: String,
      yType: String, maxLag: Int = 3): DataFrame = {
    require(maxLag >= 1 && maxLag <= 16, s"ccf needs 1 <= maxLag <= 16, got $maxLag")
    val dec = DecimalType(38, 0)
    val d = df.select(epochDay(col(tsCol)).as("d"), col(typeCol).as("t"))
    val counts = d.groupBy(col("d")).agg(
      count(when(col("t") === xType, 1)).as("x"),
      count(when(col("t") === yType, 1)).as("y"))
    val bounds = d.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
    val grid = bounds.select(explode(sequence(col("d0"), col("d1"))).as("d"))
      .join(counts, Seq("d"), "left").na.fill(0L, Seq("x", "y"))
    val w = Window.orderBy(col("d"))
    val leads = (1 to maxLag).foldLeft(grid) { (g, k) =>
      g.withColumn(s"__yl$k", lead(col("y"), k).over(w))
        .withColumn(s"__xl$k", lead(col("x"), k).over(w))
    }
    val g1 = grid.agg(count(lit(1)).as("__n"),
      sum(col("x")).as("__sx"), sum(col("y")).as("__sy"),
      sum(col("x").cast(dec) * col("x")).as("__sxx"),
      sum(col("y").cast(dec) * col("y")).as("__syy"))
    // lag k > 0: (x_d, y_{d+k}); lag 0: (x, y); lag −k: (x_{d+k}, y_d)
    val pairStructs =
      (1 to maxLag).map(k => struct(lit(-k.toLong).as("lag"),
        col(s"__xl$k").as("a"), col("y").as("b"))) ++
      Seq(struct(lit(0L).as("lag"), col("x").as("a"), col("y").as("b"))) ++
      (1 to maxLag).map(k => struct(lit(k.toLong).as("lag"),
        col("x").as("a"), col(s"__yl$k").as("b")))
    val pairs = leads.select(explode(array(pairStructs: _*)).as("p"))
      .select(col("p.lag").as("lag"), col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
    val pl = pairs.groupBy(col("lag")).agg(
      count(lit(1)).as("n_pairs"),
      sum(col("a").cast(dec) * col("b")).as("__sab"),
      sum(col("a")).as("__sa"), sum(col("b")).as("__sb"))
    val nd = col("__n").cast(dec)
    val num = nd * nd * col("__sab") - nd * col("__sy").cast(dec) * col("__sa") -
      nd * col("__sx").cast(dec) * col("__sb") +
      col("__m2") * col("__sx").cast(dec) * col("__sy")
    val va = nd * nd * col("__sxx") - nd * col("__sx").cast(dec) * col("__sx")
    val vb = nd * nd * col("__syy") - nd * col("__sy").cast(dec) * col("__sy")
    pl.withColumn("__m2", col("n_pairs").cast(dec))
      .crossJoin(broadcast(g1))
      .select(col("lag"), col("n_pairs"),
        when(va === lit(0) || vb === lit(0), lit(null).cast(DoubleType))
          .otherwise(num.cast(DoubleType) /
            (sqrt(va.cast(DoubleType)) * sqrt(vb.cast(DoubleType)))).as("ccf"))
  }

  /** Keyed table diff — [[tableFingerprint]]'s drill-down: when two
    * table versions' fingerprints disagree, WHICH keys differ and how?
    * Emits one row per differing key with status `a_only` / `b_only` /
    * `changed`; identical rows produce NOTHING (the diff is sparse by
    * construction — its size is the drift, not the table).
    *
    * Value columns compare by the same portable row hash as
    * [[tableFingerprint]] (restrict to integer/string columns). Keys
    * must be unique per side — validated up front with a fail-loud scan
    * (duplicate keys would fan out the join and report phantom diffs).
    *
    * 100 TB shape: one hash projection per side + ONE keyed full-outer
    * join; nothing is collected, broadcast, or sorted globally. */
  def tableDiff(a: DataFrame, b: DataFrame, keyCols: Seq[String],
      valCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty && valCols.nonEmpty,
      "tableDiff needs non-empty key and value column lists")
    graft.functions.GraftFunctions.register(a.sparkSession)
    def rowHash: Column = call_function("md5_lower64",
      concat_ws("\u0001",
        valCols.map(c => coalesce(col(c).cast(StringType), lit("\u0002"))): _*))
      .bitwiseAND(lit(0x7FFFFFFFFFFFFFFFL))
    def hashed(df: DataFrame, side: String): DataFrame = {
      val dups = df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__c"))
        .filter(col("__c") > 1).limit(1).count()
      require(dups == 0L,
        s"tableDiff: side '$side' has duplicate keys on (${keyCols.mkString(", ")})")
      df.select(keyCols.map(col) :+ rowHash.as(s"__h_$side"): _*)
    }
    hashed(a, "a").join(hashed(b, "b"), keyCols, "full_outer")
      .withColumn("status",
        when(col("__h_b").isNull, lit("a_only"))
          .when(col("__h_a").isNull, lit("b_only"))
          .otherwise(lit("changed")))
      .filter(col("__h_a").isNull || col("__h_b").isNull ||
        col("__h_a") =!= col("__h_b"))
      .select(keyCols.map(col) :+ col("status"): _*)
  }

  /** Adjusted Rand Index — pair-counting agreement between two
    * partitions of the same rows (cluster-assignment quality against a
    * reference, e.g. a dedup clustering vs ground truth), chance-
    * corrected like [[cohensKappa]] but over PAIRS, so it is invariant
    * to label permutations — the right metric when cluster ids carry no
    * meaning.
    *
    * Fully exact: with x = Σ n_ij(n_ij−1), a = Σ a_i(a_i−1),
    * b = Σ b_j(b_j−1), N₂ = n(n−1), ARI = (2·N₂·x − 2·a·b) /
    * (N₂·(a+b) − 2·a·b) — the cross-multiplied textbook form held in
    * DECIMAL(38,0) until ONE division. Degenerate partitions
    * (denominator 0: both sides all-singletons or all-one-cluster)
    * yield NULL. Magnitude: a·b ~ n⁴ holds in DECIMAL(38,0) to n ≈
    * 3·10⁹ rows — past that, pre-aggregate clusters.
    *
    * 100 TB shape: one (a, b) contingency aggregate, then
    * dimension-sized marginals — the [[mutualInfo]] shape. */
  def adjustedRandIndex(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val base = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).as("__a"), col(bCol).as("__b"))
    val c = base.groupBy(col("__a"), col("__b")).agg(count(lit(1)).as("__c"))
    val x = c.agg(sum(col("__c").cast(dec) * (col("__c") - 1L)).as("__x"),
      count(lit(1)).as("n_cells"), sum(col("__c")).as("n"))
    val a = c.groupBy(col("__a")).agg(sum(col("__c")).as("__ai"))
      .agg(sum(col("__ai").cast(dec) * (col("__ai") - 1L)).as("__sa"))
    val b = c.groupBy(col("__b")).agg(sum(col("__c")).as("__bj"))
      .agg(sum(col("__bj").cast(dec) * (col("__bj") - 1L)).as("__sb"))
    val n2 = col("n").cast(dec) * (col("n") - 1L).cast(dec)
    val num = lit(2L).cast(dec) * n2 * col("__x") -
      lit(2L).cast(dec) * col("__sa") * col("__sb")
    val den = n2 * (col("__sa") + col("__sb")) -
      lit(2L).cast(dec) * col("__sa") * col("__sb")
    x.crossJoin(broadcast(a)).crossJoin(broadcast(b))
      .select(col("n"), col("n_cells"),
        when(den === lit(0L).cast(dec), lit(null).cast(DoubleType))
          .otherwise(num.cast(DoubleType) / den.cast(DoubleType)).as("ari"))
  }

  /** Time-travel audit over a versioned file manifest — the live file
    * set AS OF each version v ∈ [0, maxVersion]: a file is visible when
    * `added ≤ v < deleted` (NULL deleted = still live). This is the
    * snapshot-resolution rule every versioned lake format applies;
    * auditing it per version shows table growth and churn at manifest
    * cost — the planner never touches data files (the q157 principle).
    *
    * 100 TB shape: manifest × (maxVersion+1) grid join on
    * dimension-sized input, one keyed aggregate. */
  def timeTravelAudit(manifest: DataFrame, addedCol: String,
      deletedCol: String, rowsCol: String, maxVersion: Int): DataFrame = {
    require(maxVersion >= 0, "timeTravelAudit: maxVersion must be >= 0")
    manifest
      .withColumn("version",
        explode(sequence(lit(0L), lit(maxVersion.toLong))))
      .filter(col(addedCol) <= col("version") &&
        (col(deletedCol).isNull || col(deletedCol) > col("version")))
      .groupBy(col("version"))
      .agg(count(lit(1)).as("n_files"), sum(col(rowsCol)).as("n_rows"))
  }

  /** Vacuum plan under a version-retention window — which deleted files
    * are safe to physically remove? A file whose `deleted ≤
    * currentVersion − retainVersions` can no longer be referenced by
    * any retained snapshot. Emits the deletable manifest rows; pure
    * integer filters over manifest-sized input. */
  def vacuumPlan(manifest: DataFrame, deletedCol: String,
      currentVersion: Int, retainVersions: Int): DataFrame = {
    require(retainVersions >= 0 && currentVersion >= retainVersions,
      "vacuumPlan: need 0 <= retainVersions <= currentVersion")
    manifest.filter(col(deletedCol).isNotNull &&
      col(deletedCol) <= currentVersion - retainVersions)
  }

  /** K-fold cross-validation of the group-mean predictor — the
    * model-selection primitive: per fold, predict each row by its
    * group's OUT-OF-FOLD mean and report the fold's RMSE. Folds are
    * md5-deterministic; out-of-fold means come from total-minus-fold
    * algebra over ONE (fold, group) aggregate — never k re-scans of the
    * data — and are micro-quantized integer floor divisions, so every
    * fold's predictions replay exactly cross-engine.
    *
    * 100 TB shape: one keyed (fold, group) aggregate; the k·#groups
    * out-of-fold model table broadcasts back; residual sums are one
    * more keyed aggregate. Rows whose group exists only inside their
    * own fold have no out-of-fold model and are excluded (counted in
    * `n_skipped`). */
  def crossValidateGroupMean(df: DataFrame, valueCol: String,
      groupCol: String, idCol: String, folds: Int = 5,
      scale: Int = 100): DataFrame = {
    require(folds >= 2, "crossValidateGroupMean: folds must be >= 2")
    graft.functions.GraftFunctions.register(df.sparkSession)
    val dec = DecimalType(38, 0)
    val base = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("__g"),
        round(col(valueCol) * lit(scale.toDouble)).cast(LongType).as("__vq"),
        (call_function("md5_lower64", col(idCol).cast(StringType))
          .bitwiseAND(lit(0x7FFFFFFFL)) % folds).as("__f"))
    val fg = base.groupBy(col("__f"), col("__g"))
      .agg(count(lit(1)).as("__nfg"), sum(col("__vq")).as("__sfg"))
    val g = fg.groupBy(col("__g"))
      .agg(sum(col("__nfg")).as("__ng"), sum(col("__sfg")).as("__sg"))
    val oof = fg.join(g, "__g")
      .filter(col("__ng") > col("__nfg"))
      .select(col("__f"), col("__g"),
        expr("((__sg - __sfg) * 10000) div (__ng - __nfg)").as("__mean_mc"))
    val total = base.groupBy(col("__f")).agg(count(lit(1)).as("__nf"))
    base.join(broadcast(oof), Seq("__f", "__g"))
      .withColumn("__d", col("__vq") * 10000L - col("__mean_mc"))
      .groupBy(col("__f"))
      .agg(count(lit(1)).as("n"),
        sum(col("__d").cast(dec) * col("__d")).as("__sse"))
      .join(total, "__f")
      .select(col("__f").as("fold"), col("n"),
        (col("__nf") - col("n")).as("n_skipped"),
        (sqrt(col("__sse").cast(DoubleType) / col("n")) /
          (lit(1.0e4) * scale)).as("rmse"))
  }

  /** Proportional stratified sample — take
    * ⌊size·n_g/N⌋ rows from each stratum (q47/q48's hash gates keep
    * ratios only in expectation; evaluation sets and benchmarks need
    * exact per-stratum counts). Within a stratum, rows are selected in
    * md5-hash order of the id — the same deterministic "randomness" the
    * split/sample gates use, so the sample is reproducible bit-for-bit
    * under any partitioning and is itself hash-oracle-gated.
    *
    * 100 TB shape: one keyed count + a 1-row total, broadcast as the
    * #strata-row allocation; selection is one stratum-partitioned
    * window. Rounding is floor — Σ takes ≤ size by construction (the
    * shortfall is at most #strata rows; callers needing exact-total
    * can top up from the largest strata). */
  def proportionalSample(df: DataFrame, stratumCol: String, idCol: String,
      sampleSize: Int): DataFrame = {
    require(sampleSize > 0, "proportionalSample: sampleSize must be > 0")
    graft.functions.GraftFunctions.register(df.sparkSession)
    val counts = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("__ng"))
    val tot = df.agg(count(lit(1)).as("__n"))
    val alloc = counts.crossJoin(broadcast(tot))
      .select(col(stratumCol), expr(s"($sampleSize * __ng) div __n").as("__take"))
    val w = Window.partitionBy(col(stratumCol)).orderBy(col("__h"), col(idCol))
    df.withColumn("__h",
        call_function("md5_lower64", col(idCol).cast(StringType))
          .bitwiseAND(lit(0x7FFFFFFFFFFFFFFFL)))
      .join(broadcast(alloc), Seq(stratumCol))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= col("__take"))
      .drop("__h", "__r", "__take")
  }

  /** Distributed prefix sum — running total of `valueCol` in
    * `orderCols` order, the two-phase [[globalRank]] device generalized
    * from counts to sums: range-repartition, per-partition totals
    * collected once (#partitions rows of driver traffic), broadcast
    * cumulative offsets + partition-local running-sum windows. Never a
    * one-partition ORDER BY window.
    *
    * The order must be total (include a tiebreaker) for the running sum
    * to be engine-reproducible row-by-row. */
  def globalCumSum(df: DataFrame, orderCols: Seq[String], valueCol: String,
      outName: String = "cum"): DataFrame = {
    val ord = orderCols.map(col)
    val staged = df.repartitionByRange(ord: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    val counts = staged.groupBy(col("__pid"))
      .agg(sum(col(valueCol)).as("__c"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets = counts.scanLeft((0, 0L)) {
      case ((_, acc), (p, c)) => (p + 1, acc + c)
    }.dropRight(1).zip(counts).map { case ((_, off), (p, _)) => (p, off) }
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = offsets.toSeq.toDF("__pid", "__off")
    val w = Window.partitionBy(col("__pid")).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    staged.join(broadcast(offDf), Seq("__pid"))
      .withColumn(outName, sum(col(valueCol)).over(w) + col("__off"))
      .drop("__pid", "__off")
  }

  /** Spearman rank correlation with tie-averaged ranks — the robust
    * (monotone-invariant) companion to Pearson for metric-agreement
    * checks (does quality score A order documents like score B?).
    *
    * Never ranks row-by-row: the tie-averaged rank of value v is
    * determined by the VALUE alone — cum_before(v) + (n_v+1)/2 — so
    * ranks come from a value-keyed count aggregate plus ONE
    * [[globalCumSum]] over the (far smaller) distinct-value table,
    * then join back by value. Doubled ranks (2r = 2·cum_before+n_v+1)
    * keep tie averages integral; Σ2r = n(n+1) exactly, so centering by
    * (n+1) needs no mean division. Moments are Decimal(18→38) sums of
    * exact integers; the SUM Σc² ≈ 4n³/3 is the binding bound — exact
    * to ~4·10¹² rows (past that Spark's non-ANSI decimal sum nulls out
    * and DuckDB's HUGEINT overflows: split the moment into per-range
    * partial sums combined in doubles, trading last-ulp exactness for
    * range). The only floating math is the final correctly-rounded
    * double conversions + one sqrt·sqrt division — identical
    * expression shape both engines.
    *
    * 100 TB shape: two value-keyed aggs, two cum-sums over distinct
    * values (partition-offset pattern, never a 1-partition window),
    * two value-equi joins back, one global 4-cell aggregate. */
  def spearmanCorr(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val D = DecimalType(18, 0)
    val base = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(xCol).as("__x"), col(yCol).as("__y"))
    def doubledRanks(c: String, out: String): DataFrame = {
      val counts = base.groupBy(col(c).as("__v")).agg(count(lit(1)).as("__n"))
      globalCumSum(counts, Seq("__v"), "__n", "__cum")
        .select(col("__v").as(c),
          (lit(2L) * (col("__cum") - col("__n")) + col("__n") + lit(1L)).as(out))
    }
    val nRow = base.agg(count(lit(1)).as("__nn"))
    val cent = base.join(doubledRanks("__x", "__rx"), "__x")
      .join(doubledRanks("__y", "__ry"), "__y")
      .crossJoin(broadcast(nRow))
      .select((col("__rx") - (col("__nn") + lit(1L))).cast(D).as("__cx"),
        (col("__ry") - (col("__nn") + lit(1L))).cast(D).as("__cy"))
    cent.agg(count(lit(1)).as("n"),
        sum(col("__cx") * col("__cy")).as("__sxy"),
        sum(col("__cx") * col("__cx")).as("__sxx"),
        sum(col("__cy") * col("__cy")).as("__syy"))
      .select(col("n"),
        when(col("__sxx") === 0 || col("__syy") === 0,
          lit(null).cast(DoubleType))
          // |rho| ≤ 1 by Cauchy–Schwarz; the clamp only trims the 1-ulp
          // excess sqrt(x)·sqrt(x) can leave (identical on the oracle)
          .otherwise(least(greatest(col("__sxy").cast(DoubleType) /
            (sqrt(col("__sxx").cast(DoubleType)) *
              sqrt(col("__syy").cast(DoubleType))), lit(-1.0)), lit(1.0)))
          .as("spearman_rho"))
  }

  /** 2D skyline (Pareto frontier): rows not dominated by any other row,
    * where b dominates a iff b.x <= a.x AND b.y >= a.y with at least one
    * strict (x minimized, y maximized — negate a column to flip its
    * direction). Duplicate points on the frontier are all kept (neither
    * strictly dominates the other).
    *
    * Shape, NOT the textbook NOT-EXISTS self-join (quadratic): a 2D
    * skyline is a prefix-max sweep. (1) keyed agg: per distinct x the
    * max y (map-side partial — raw rows collapse here); (2) exclusive
    * running max of those group maxes in x order via the two-phase
    * [[globalCumSum]] device — range partition, one #partitions-row
    * driver collect for cross-partition offsets, partition-local
    * windows; (3) a frontier x survives iff its max-y strictly exceeds
    * every cheaper x's max-y; (4) one equi-join on (x, y) brings back
    * the original rows. No self-join, no single-partition window, no
    * stage touching more than the distinct-x aggregate. */
  def skyline2d(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    // dominance is undefined for NULL coordinates (SQL's NOT-EXISTS
    // would vacuously keep them); exclude them instead of NPE-ing in
    // the driver-side offset collect. The y filter is on the CAST value,
    // so a non-numeric y (cast → null) is excluded too, not just SQL
    // NULLs (review finding).
    val clean = df.filter(col(xCol).isNotNull &&
      col(yCol).cast(LongType).isNotNull)
    val g = clean.groupBy(col(xCol).as("__x"))
      .agg(max(col(yCol).cast(LongType)).as("__gy"))
    val staged = g.repartitionByRange(col("__x"))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    val parts = staged.groupBy(col("__pid")).agg(max(col("__gy")).as("__m"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    // exclusive prefix max across partitions (partition ids are dense in
    // range order; empty partitions simply don't appear)
    var acc = Long.MinValue
    val offsets = parts.map { case (p, m) =>
      val o = (p, acc); acc = math.max(acc, m); o
    }
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = offsets.toSeq.toDF("__pid", "__prevmax")
    val w = Window.partitionBy(col("__pid")).orderBy(col("__x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val surv = staged.join(broadcast(offDf), Seq("__pid"))
      .withColumn("__cheaper",
        greatest(coalesce(max(col("__gy")).over(w), lit(Long.MinValue)),
          col("__prevmax")))
      .filter(col("__gy") > col("__cheaper"))
      .select(col("__x"), col("__gy"))
    clean.join(surv, col(xCol) === col("__x") &&
        col(yCol).cast(LongType) === col("__gy"))
      .drop("__x", "__gy")
  }

  /** Exact weighted percentiles — the smallest value whose cumulative
    * weight reaches ⌈p·W/1000⌉, for each requested permille: what
    * "median price weighted by quantity" actually means, computed
    * without expanding rows by weight.
    *
    * Weights are exact longs; the cumulative weight comes from
    * [[globalCumSum]] over the total (value, id) order; each requested
    * permille is one conditional min aggregate against its integer
    * threshold. No float boundary, no row explosion.
    *
    * 100 TB shape: one range exchange + partition-local windows
    * (globalCumSum), then a single aggregate; output is one row with a
    * column per permille. */
  def weightedPercentiles(df: DataFrame, valueCol: String, weightCol: String,
      idCol: String, permilles: Seq[Int] = Seq(250, 500, 750)): DataFrame = {
    require(permilles.nonEmpty && permilles.forall(p => p >= 1 && p <= 999),
      "weightedPercentiles: permilles must be in [1, 999]")
    val base = df.filter(col(valueCol).isNotNull && col(weightCol).isNotNull &&
        col(weightCol) > 0L)
      .select(col(valueCol).as("__v"), col(idCol).as("__id"),
        col(weightCol).cast(LongType).as("__w"))
    val cum = globalCumSum(base, Seq("__v", "__id"), "__w", "__cw")
    val tot = base.agg(sum(col("__w")).as("w_total"))
    val aggs = permilles.map { p =>
      min(when(col("__cw") >= expr(s"((w_total * $p) + 999) div 1000"),
        col("__v"))).as(s"p$p")
    }
    cum.crossJoin(broadcast(tot))
      .groupBy(col("w_total"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Deterministic approximate percentiles from a fixed-bin histogram
    * sketch — the partition-INVARIANT alternative to merge-order-sensitive
    * quantile summaries (Greenwald-Khanna / approx_percentile), built so
    * the output can be golden-pinned: bin counts are commutative integer
    * sums, so any partitioning, any merge order, any retry produces the
    * identical histogram and therefore the identical percentile estimate.
    *
    * Pass 1 computes (min, max, n); pass 2 bins every value into one of
    * `bins` equal-width buckets (a map-side projection + one count
    * aggregate whose output is ≤ `bins` rows regardless of data size);
    * the percentile for probability p is read off the cumulative
    * histogram with linear interpolation inside the hit bin. Absolute
    * error is bounded by one bin width, (max−min)/bins — 4096 bins keeps
    * it under 0.025 % of the value range, far inside any practical gate.
    *
    * 100 TB shape: two scans (the classic histogram trade for a hard
    * error bound), each collapsing map-side; the cumulative window runs
    * over the ≤`bins`-row histogram — sketch-sized, like the q176 rank
    * window over B resamples. Output: one row, `n` + one `ap<permille>`
    * column per requested probability. */
  def histogramPercentiles(df: DataFrame, valueCol: String,
      probs: Seq[Double] = Seq(0.5, 0.9, 0.99), bins: Int = 4096): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0.0 && p < 1.0),
      "histogramPercentiles: probs must be in (0, 1)")
    require(bins >= 2 && bins <= (1 << 20),
      "histogramPercentiles: bins must be in [2, 2^20]")
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast(DoubleType).as("__x"))
    val stats = base.agg(min(col("__x")).as("__mn"), max(col("__x")).as("__mx"),
      count(lit(1)).as("__n"))
    val hist = base.crossJoin(broadcast(stats))
      .withColumn("__i", when(col("__mx") === col("__mn"), lit(0))
        .otherwise(least(lit(bins - 1),
          floor((col("__x") - col("__mn")) / (col("__mx") - col("__mn")) *
            lit(bins.toDouble)).cast(IntegerType))))
      .groupBy(col("__i")).agg(count(lit(1)).as("__c"))
    // ≤ `bins` rows: the unpartitioned window is sketch-sized by design.
    val wcum = Window.orderBy(col("__i"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("__cum", sum(col("__c")).over(wcum))
      .withColumn("__cprev", col("__cum") - col("__c"))
      .crossJoin(broadcast(stats))
    // One conditional min-struct per probability: the first bin whose
    // cumulative count reaches rank ⌈p·n⌉ (struct compare is
    // lexicographic and __i is distinct, so min = lowest hit bin).
    val aggs = probs.zipWithIndex.map { case (p, j) =>
      min(when(col("__cum") >= ceil(lit(p) * col("__n")),
        struct(col("__i"), col("__cprev"), col("__c")))).as(s"__b$j")
    }
    val agged = cum.groupBy(col("__mn"), col("__mx"), col("__n"))
      .agg(aggs.head, aggs.tail: _*)
    val width = (col("__mx") - col("__mn")) / lit(bins.toDouble)
    val sels = probs.zipWithIndex.map { case (p, j) =>
      val r = ceil(lit(p) * col("__n")).cast(DoubleType)
      (col("__mn") + width * (col(s"__b$j").getField("__i") +
        (r - col(s"__b$j").getField("__cprev")) /
          col(s"__b$j").getField("__c"))).as(s"ap${math.round(p * 1000)}")
    }
    agged.select(col("__n").as("n") +: sels: _*)
  }

  /** Poisson-bootstrap 95% confidence interval for the mean — THE
    * distributed resampling method (multinomial resampling needs global
    * coordination; independent per-row Poisson(1) weights need none and
    * converge to the same bootstrap distribution): every (resample,
    * row) pair draws its weight from the cross-engine md5 hash pushed
    * through the integer-thresholded Poisson(1) CDF (thresholds are
    * round(CDF·10⁶) literals — no float compare anywhere), so the
    * "randomness" replays bit-for-bit on any engine, any partitioning,
    * any retry.
    *
    * Per-resample means are micro-quantized by integer floor division;
    * the CI bounds are exact order statistics of the B quantized means
    * (positions ⌈B·25/1000⌉ and B−lo+1 — integer arithmetic).
    *
    * 100 TB shape: the B-way fan-out collapses via partial aggregation
    * (each partition emits ≤ B partial sums, so the shuffle carries
    * B·partitions rows regardless of data size); the rank window runs
    * over B rows — dimension-sized, like the q158 day grid. Σw·v must
    * fit a long (~10⁹ rows at cents scale; lift to DECIMAL past that —
    * the q149 device). The Poisson tail is truncated at w = 5 (0.37%
    * of draws), a documented approximation of the weight distribution,
    * NOT a nondeterminism: the oracle replays it exactly. */
  def bootstrapMeanCI(df: DataFrame, valueCol: String, idCol: String,
      resamples: Int = 200, scale: Int = 100): DataFrame = {
    require(resamples >= 40 && resamples <= 10000,
      "bootstrapMeanCI: resamples must be in [40, 10000]")
    graft.functions.GraftFunctions.register(df.sparkSession)
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(idCol).cast(StringType).as("__id"),
        round(col(valueCol) * lit(scale.toDouble)).cast(LongType).as("__vc"))
    val u = call_function("md5_lower64",
      concat(col("__b").cast(StringType), lit(":"), col("__id")))
      .bitwiseAND(lit(0x7FFFFFFFL)) % lit(1000000L)
    val w = when(u < 367879L, lit(0L)).when(u < 735759L, lit(1L))
      .when(u < 919699L, lit(2L)).when(u < 981012L, lit(3L))
      .when(u < 996340L, lit(4L)).otherwise(lit(5L))
    val res = base
      .withColumn("__b", explode(sequence(lit(0), lit(resamples - 1))))
      .withColumn("__w", w)
      .groupBy(col("__b"))
      .agg(sum(col("__w") * col("__vc")).as("__swv"), sum(col("__w")).as("__sw"))
      .filter(col("__sw") > 0L)
      .withColumn("__mc", expr("(__swv * 10000) div __sw"))
    val ranked = res.withColumn("__r",
      row_number().over(Window.orderBy(col("__mc"), col("__b"))).cast(LongType))
    val nb = res.agg(count(lit(1)).as("__nb"))
      .withColumn("__lo_pos", greatest(lit(1L), expr("(__nb * 25) div 1000")))
      .withColumn("__hi_pos", col("__nb") - col("__lo_pos") + 1L)
    val full = base.agg(count(lit(1)).as("n"), sum(col("__vc")).as("__sv"))
    val unitDiv = 1.0e4 * scale.toDouble
    ranked.crossJoin(broadcast(nb)).crossJoin(broadcast(full))
      .groupBy(col("n"), col("__nb"), col("__sv"))
      .agg(
        max(when(col("__r") === col("__lo_pos"), col("__mc"))).as("__lo_mc"),
        max(when(col("__r") === col("__hi_pos"), col("__mc"))).as("__hi_mc"))
      .select(col("n"), col("__nb").as("n_resamples"),
        (expr("(__sv * 10000) div n").cast(DoubleType) / lit(unitDiv)).as("mean"),
        (col("__lo_mc").cast(DoubleType) / lit(unitDiv)).as("lo95"),
        (col("__hi_mc").cast(DoubleType) / lit(unitDiv)).as("hi95"))
  }

  /** Rolling OLS slope per key — the windowed member of the trend
    * family ([[theilSen]] robust, q117 whole-series, [[ewmaDyadic]]
    * smoothing): slope of y on x over the last `windowRows` rows of
    * each key's series.
    *
    * x and y arrive as PRE-QUANTIZED longs (day index, cents — the
    * q156 convention), all five frame sums (n, Σx, Σy, Σxy, Σx²) ride
    * ONE key-partitioned sort with identical ROWS frames, and the
    * closed form (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) is exact long arithmetic
    * until a single division. Magnitudes are FRAME-bounded
    * (w·max(x)·max(y) must fit a long) — independent of corpus size,
    * so the exactness argument survives any scale-up. Zero-variance
    * frames (n = 1, or all x equal) yield NULL.
    *
    * 100 TB shape: one hash exchange on the key, one in-partition
    * sort, five frame aggregates sharing it; output is row-per-input
    * (a per-row signal column, like q85's z-score). */
  def rollingSlope(df: DataFrame, keyCol: String, xCol: String, yCol: String,
      idCol: String, windowRows: Int = 5): DataFrame = {
    require(windowRows >= 2, "rollingSlope: windowRows must be >= 2")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(xCol), col(idCol))
      .rowsBetween(-(windowRows - 1), 0)
    val staged = df
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__sx", sum(col(xCol)).over(w))
      .withColumn("__sy", sum(col(yCol)).over(w))
      .withColumn("__sxy", sum(col(xCol) * col(yCol)).over(w))
      .withColumn("__sxx", sum(col(xCol) * col(xCol)).over(w))
    val num = col("__n") * col("__sxy") - col("__sx") * col("__sy")
    val den = col("__n") * col("__sxx") - col("__sx") * col("__sx")
    staged
      .withColumn("n_window", col("__n"))
      .withColumn("slope",
        when(den === 0L, lit(null).cast(DoubleType))
          .otherwise(num.cast(DoubleType) / den.cast(DoubleType)))
      .drop("__n", "__sx", "__sy", "__sxy", "__sxx")
  }

  /** One-way ANOVA — F statistic and effect size η² of a numeric value
    * across groups: IS the grouping explaining variance, and how much?
    * (q152 answers two proportions, q151 two categoricals, this one
    * k means — and η² here is exactly what q166's R² reports for the
    * group-mean predictor.)
    *
    * Per-group n/Σv/Σv² are exact cents-quantized longs; each group's
    * between-term S²/n is ONE double chain milli-quantized to a long
    * before the k-row sum (order-free), and SSB/SSW/F/η² are single
    * fixed chains from those quantized pieces. Degenerate inputs
    * (k < 2, zero within-variance) yield NULL F.
    *
    * 100 TB shape: one keyed aggregate over the scan, then k-row work.
    * Σv² stays a long to ~10⁹ rows per group at cents scale — past
    * that, lift `q` to DECIMAL(38,0) (the q149 device). */
  def anovaOneWay(df: DataFrame, valueCol: String, groupCol: String,
      scale: Int = 100): DataFrame = {
    require(scale > 0, "anovaOneWay: scale must be > 0")
    val base = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("__g"),
        round(col(valueCol) * lit(scale.toDouble)).cast(LongType).as("__vq"))
    val g = base.groupBy(col("__g")).agg(count(lit(1)).as("__n"),
      sum(col("__vq")).as("__s"), sum(col("__vq") * col("__vq")).as("__q"))
    val termQ = round(col("__s").cast(DoubleType) * col("__s") / col("__n") *
      lit(1.0e3)).cast(LongType)
    val tot = g.agg(sum(col("__n")).as("__nn"), sum(col("__s")).as("__ss"),
      sum(col("__q")).as("__qq"), sum(termQ).as("__t"),
      count(lit(1)).as("k"))
    val gQ = round(col("__ss").cast(DoubleType) * col("__ss") / col("__nn") *
      lit(1.0e3)).cast(LongType)
    val unitDiv = 1.0e3 * scale.toDouble * scale.toDouble
    tot.withColumn("__gq", gQ)
      .withColumn("__ssb_q", col("__t") - col("__gq"))
      .withColumn("__ssw_q", col("__qq") * 1000L - col("__t"))
      .select(col("k"), col("__nn").as("n"),
        (col("__ssb_q").cast(DoubleType) / lit(unitDiv)).as("ssb"),
        (col("__ssw_q").cast(DoubleType) / lit(unitDiv)).as("ssw"),
        when(col("k") <= 1L || col("__ssw_q") <= 0L, lit(null).cast(DoubleType))
          .otherwise(((col("__nn") - col("k")).cast(DoubleType) *
            col("__ssb_q").cast(DoubleType)) /
            ((col("k") - 1L).cast(DoubleType) *
              col("__ssw_q").cast(DoubleType))).as("f_stat"),
        when(col("__qq") * 1000L - col("__gq") <= 0L,
          lit(null).cast(DoubleType))
          .otherwise(col("__ssb_q").cast(DoubleType) /
            (col("__qq") * 1000L - col("__gq")).cast(DoubleType)).as("eta2"))
  }

  /** Link prediction over an undirected graph — common-neighbor count,
    * Adamic–Adar, and neighborhood Jaccard for NON-edges, ranked by
    * Adamic–Adar (the recommendation/knowledge-graph completion
    * primitive on the same co-occurrence graphs pageRank/kCore/HITS
    * analyze).
    *
    * Candidate pairs come from 2-paths (x–z–y); hubs with degree >
    * `maxDegree` are excluded from the BRIDGE role z (the q24
    * stop-shingle discipline: a hub's Σdeg² pair fan-out is the whole
    * cost and its 1/ln(deg) contribution is the least informative —
    * documented truncation, endpoints keep their full degrees).
    * Adamic–Adar terms 1/ln(deg z) are nano-quantized before the keyed
    * sum (deg z ≥ 2 on any 2-path, so ln > 0); Jaccard is one division
    * of exact longs. Existing edges drop via one anti join.
    *
    * 100 TB shape: degree = one keyed count; pair-gen = one self equi
    * join on the bridge node with the hub cap bounding per-key fan-out;
    * scoring = keyed aggregates + degree joins; deterministic top-k via
    * TakeOrderedAndProject on (aa_q desc, x, y).
    *
    * The canonical edge list and the degree table are MATERIALIZED
    * (r9): `e` feeds five consumers (adj twice, the anti join, and
    * through adj the bridge self-join's both sides) and `deg` three
    * (bridge filter, degx, degy) — uncut, the caller's edge-generation
    * subplan (typically the corpus's most expensive join) re-evaluated
    * per consumer; measured 3× on q173 at sf1. The topK-row result is
    * checkpointed, so the returned plan drops every reference to the
    * edge-sized working-set RDDs and the ContextCleaner reclaims them at
    * the next GC — repeated calls cannot accumulate live caches. */
  def linkPrediction(edges: DataFrame, srcCol: String, dstCol: String,
      topK: Int = 20, maxDegree: Int = 100,
      canonicalEdges: Boolean = false,
      degrees: Option[DataFrame] = None): DataFrame = {
    require(topK > 0 && maxDegree >= 2, "linkPrediction: bad topK/maxDegree")
    graft.functions.GraftFunctions.register(edges.sparkSession) // array_pairs
    // localCheckpoint (row-RDD storage) over persist: the wedge join
    // re-reads the edge table many times and the columnar cache's
    // encode/decode measured ~2x slower end-to-end on q173.
    // `canonicalEdges = true` (r13): the caller already holds a
    // canonical deduplicated edge set (the bucketed artifact) — skip
    // the distinct's dedup aggregate. The localCheckpoint STAYS, and
    // so does ONE width-restoring hash exchange before it: a bench-
    // protocol A/B showed that checkpointing the raw 16-bucket scan
    // pins its narrow partitioning into every downstream wedge stage
    // (q173 15.1 → 17.5 s), while checkpointing the raw scan after a
    // deterministic (a, b) repartition keeps the distinct-skip win
    // without the width loss. `degrees` optionally supplies the
    // matching (u, deg) table, skipping the doubled-adjacency degree
    // aggregate.
    val e = (
      if (canonicalEdges)
        edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
          .repartition(col("a"), col("b"))
      else edges.select(least(col(srcCol), col(dstCol)).as("a"),
          greatest(col(srcCol), col(dstCol)).as("b"))
        .filter(col("a") =!= col("b")).distinct()
      ).localCheckpoint()
    val adj = e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
    val deg = degrees.map(_.toDF("u", "deg")).getOrElse(
      adj.groupBy(col("u")).agg(count(lit(1)).as("deg")))
      .localCheckpoint()
    val bridge = adj.join(deg.filter(col("deg") <= maxDegree), "u")
    // Wedge generation as groupBy(hub) → ≤maxDegree neighbor list →
    // in-array pairs (r11; the capped nearDupPairsExact shape): the
    // previous bridge⋈bridge self-join sort-merged the 2|E| adjacency
    // twice to emit the same pairs — at sf3 (36M edges, 516M wedges)
    // that double sort OOM'd 32-task 8 GiB heaps, while the per-hub
    // list buffer is cap-bounded (≤100 longs) by construction. Pair set
    // identical: array_pairs on the sorted list ≡ the l.v < r.v join.
    //
    // r14 width fix + term hoist (measured: the (x,y) aggregate fell
    // 8.5 → 1.9 s at sf0.1, the whole query's dominant stage): the
    // hub-list aggregate's output is only #hubs compact array rows, so
    // AQE coalesced its exchange to 4 partitions at sf0.1 — and the
    // 17.2M-row wedge explode plus the (x,y) partial aggregation then
    // ran 4-wide on 32 cores (the measured 8v32-core scaling ratio of
    // 1.02). Explode amplification is invisible to AQE's byte-based
    // coalescing, so the width is restored explicitly: one cheap
    // repartition of the COMPACT list rows (Σ|vs| longs ≈ 2|E| across
    // all lists) to a wedge-proportional width before exploding.
    // `wedges` = Σ C(deg,2) over hubs is exact, from one 1-row
    // aggregate over the node-sized degree table; ~24 B/wedge row and
    // 64 MB target partitions follow guide §2.2. The Adamic–Adar term
    // round(1e9/ln(deg)) is per-HUB constant, so it is computed once
    // per list row instead of once per wedge row (same longs, ~4000×
    // fewer round/log evaluations at sf0.1).
    val wedges = deg.filter(col("deg") <= maxDegree)
      .agg(sum(expr("(deg * (deg - 1)) div 2")).as("w"))
      .collect()(0) match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0)
      }
    val width = math.max(adj.sparkSession.sparkContext.defaultParallelism,
      math.min(4096L, wedges * 24L / (64L << 20))).toInt
    val paths = bridge.groupBy(col("u"), col("deg"))
      .agg(sort_array(collect_list(col("v"))).as("vs"))
      // deg-1 hubs emit no pairs (C(1,2) = 0) but DO reach this
      // projection — guard the term so ln(1) = 0 never divides (the
      // pre-hoist code only evaluated it on wedge rows, where deg >= 2
      // is structural); the null is never aggregated.
      .withColumn("__term", when(col("deg") >= lit(2L),
        round(lit(1.0e9) / log(col("deg").cast(DoubleType))).cast(LongType)))
      .repartition(width, col("u"))
      .select(explode(expr("array_pairs(vs)")).as("p"), col("__term"))
      .select(col("p.da").as("x"), col("p.db").as("y"), col("__term"))
    val scored = paths.groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("cn"), sum(col("__term")).as("__aa_q"))
    val cand = scored.join(e.select(col("a").as("x"), col("b").as("y")),
      Seq("x", "y"), "left_anti")
    // Top-k FIRST (rank is by aa_q with (x,y) tie-break — independent of
    // the degrees), THEN the degx/degy lookups on just k rows: the two
    // degree joins would otherwise shuffle the full wedge-candidate set
    // twice purely to compute Jaccard values the top-k then discards.
    // TakeOrderedAndProject over cand; the k-row cut also drops every
    // reference to the edge-sized checkpoint RDDs so the ContextCleaner
    // reclaims them at the next GC (review finding).
    val top = cand.orderBy(col("__aa_q").desc, col("x"), col("y")).limit(topK)
      .localCheckpoint()
    broadcast(top)
      .join(deg.select(col("u").as("x"), col("deg").as("degx")), "x")
      .join(deg.select(col("u").as("y"), col("deg").as("degy")), "y")
      .orderBy(col("__aa_q").desc, col("x"), col("y"))
      .select(col("x"), col("y"), col("cn"),
        (col("__aa_q").cast(DoubleType) / lit(1.0e9)).as("adamic_adar"),
        (col("cn").cast(DoubleType) /
          (col("degx") + col("degy") - col("cn"))).as("jaccard"))
      .localCheckpoint()
  }

  /** Sampled harmonic closeness centrality — WHICH nodes sit near the
    * middle of the graph (Boldi–Vigna 2014 argue harmonic over classic
    * closeness: Σ 1/d handles disconnected pairs as 0 instead of ∞).
    * Exact all-pairs closeness is O(n·|E|); the standard estimator runs
    * BFS from a SAMPLED seed set and scores every node by its distances
    * TO the seeds. Seeds are modulus-derived (the q321 device): m =
    * max(1, n div sampleTarget) keeps ~sampleTarget seeds at ANY graph
    * scale — a fixed-fraction sample would make this quadratic again.
    *
    * 100 TB shape: one multi-seed frontier relaxation — per hop ONE
    * keyed join of the (seed, node, dist) table against the adjacency
    * plus a min-aggregate, lineage cut per hop (the [[shortestPaths]]
    * discipline, k seeds at once); state is ≤ seeds × nodes rows of
    * exact integers. Contributions 1/d are micro-quantized by INTEGER
    * division (1000000 div d — no float ever), so the top-k order is
    * exact. Returns topK rows: node, reached, n_seeds, harmonic
    * (Σ 1/d over seeds), harmonic_norm (/n_seeds). */
  /** Bounded multi-seed BFS over a DIRECTED adjacency (u, v): returns
    * (seed, node, dist) with dist = exact min hops ≤ maxHops (0 = the
    * seed itself). Per hop ONE keyed frontier join + min-aggregate with
    * lineage cut — the [[shortestPaths]] relaxation run for all seeds
    * at once; state ≤ seeds × nodes integer rows. Shared by
    * [[harmonicCloseness]] and [[hubRemovalRobustness]]. */
  private[api] def multiSeedDistances(adj: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame = {
    def cut(df: DataFrame): DataFrame = df.localCheckpoint()
    var dist = seeds.select(col("seed"), col("seed").as("node"),
      lit(0L).as("dist"))
    var h = 1
    while (h <= maxHops) {
      val frontier = dist.filter(col("dist") === (h - 1).toLong)
      val reached = frontier.join(adj, frontier("node") === adj("u"))
        .select(frontier("seed"), adj("v").as("node"),
          lit(h.toLong).as("dist"))
      dist = cut(dist.unionByName(reached)
        .groupBy(col("seed"), col("node")).agg(min(col("dist")).as("dist")))
      h += 1
    }
    dist
  }

  /** Hub-removal robustness probe (percolation audit) — how much of the
    * graph's short-range connectivity flows THROUGH its hubs: 3-hop
    * reach from modulus-derived seeds on the full graph vs the graph
    * with hub nodes (degree ≥ hubDegree) deleted. A large reach drop
    * means hub partitions are load-bearing — exactly the regime where
    * the q173-style degree caps and skew salting matter most, and
    * where a single hot-key executor loss severs the pipeline's
    * neighborhood structure.
    *
    * Seeds are drawn from NON-hub nodes (m = n_nonhub div sampleTarget,
    * the scale-free modulus device) so every probe exists in both
    * graphs. 100 TB shape: one degree aggregate + two bounded
    * [[multiSeedDistances]] relaxations over the same adjacency — no
    * component closure, no unbounded iteration. Output: one row per
    * seed (reach_before, reach_after, retained = after/before). */
  def hubRemovalRobustness(edges: DataFrame, srcCol: String, dstCol: String,
      hubDegree: Int = 100, sampleTarget: Int = 8,
      maxHops: Int = 3, canonicalEdges: Boolean = false,
      degrees: Option[DataFrame] = None): DataFrame = {
    require(hubDegree >= 2 && sampleTarget >= 1 && maxHops >= 1,
      "hubRemovalRobustness: bad hubDegree/sampleTarget/maxHops")
    // canonicalEdges / degrees (r13): see [[linkPrediction]] — skip the
    // distinct + checkpoint and the degree aggregate when the shared
    // bucketed artifacts already hold them.
    val e =
      if (canonicalEdges)
        edges.select(col(srcCol).cast(LongType).as("a"),
          col(dstCol).cast(LongType).as("b"))
      else edges.select(least(col(srcCol), col(dstCol)).cast(LongType).as("a"),
          greatest(col(srcCol), col(dstCol)).cast(LongType).as("b"))
        .filter(col("a") =!= col("b")).distinct()
        .localCheckpoint()
    val adj = e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
    val deg = degrees.map(_.toDF("u", "deg")).getOrElse(
      adj.groupBy(col("u")).agg(count(lit(1)).as("deg"))
        .localCheckpoint()) // feeds the prune, the seed pool, and the counts
    val nonHub = deg.filter(col("deg") < hubDegree)
      .select(col("u").as("node"))
    val cnt = nonHub.agg(count(lit(1)).as("__n"))
    val seeds = nonHub.crossJoin(broadcast(cnt))
      .filter(col("node") %
        greatest(lit(1L), expr(s"__n div $sampleTarget")) === 0L)
      .select(col("node").as("seed"))
      .localCheckpoint()
    val pruned = adj
      .join(deg.filter(col("deg") < hubDegree).select(col("u")), Seq("u"))
      .join(deg.filter(col("deg") < hubDegree)
        .select(col("u").as("v")), Seq("v"))
      .select(col("u"), col("v"))
    def reach(a: DataFrame) = multiSeedDistances(a, seeds, maxHops)
      .filter(col("dist") > 0L)
      .groupBy(col("seed")).agg(count(lit(1)).as("r"))
    reach(adj).withColumnRenamed("r", "reach_before")
      .join(reach(pruned).withColumnRenamed("r", "reach_after"),
        Seq("seed"), "left")
      .select(col("seed"), col("reach_before"),
        coalesce(col("reach_after"), lit(0L)).as("reach_after"),
        round(coalesce(col("reach_after"), lit(0L)).cast(DoubleType) /
          col("reach_before").cast(DoubleType), 6).as("retained"))
      .orderBy(col("seed"))
  }

  def harmonicCloseness(edges: DataFrame, srcCol: String, dstCol: String,
      sampleTarget: Int = 8, maxHops: Int = 3, topK: Int = 20,
      canonicalEdges: Boolean = false,
      degrees: Option[DataFrame] = None): DataFrame = {
    require(sampleTarget >= 1 && maxHops >= 1 && topK >= 1,
      "harmonicCloseness: bad sampleTarget/maxHops/topK")
    def cut(df: DataFrame): DataFrame = df.localCheckpoint()
    // canonicalEdges / degrees (r13): see [[linkPrediction]] — skip the
    // distinct + checkpoint when the shared bucketed artifact already
    // holds the canonical set; a supplied degree table doubles as the
    // node list (every node of the canonical graph has deg >= 1),
    // skipping the 2|E|-row node distinct.
    val e =
      if (canonicalEdges)
        edges.select(col(srcCol).cast(LongType).as("a"),
          col(dstCol).cast(LongType).as("b"))
      else edges.select(least(col(srcCol), col(dstCol)).cast(LongType).as("a"),
          greatest(col(srcCol), col(dstCol)).cast(LongType).as("b"))
        .filter(col("a") =!= col("b")).distinct()
        .localCheckpoint()
    val adj = e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
    val nodes = degrees.map(_.select(col("u").as("node")))
      .getOrElse(adj.select(col("u").as("node")).distinct())
    // derived-modulus seed set: a 1-row count broadcast, never a collect
    val cnt = nodes.agg(count(lit(1)).as("__n"))
    val seeds = nodes.crossJoin(broadcast(cnt))
      .filter(col("node") %
        greatest(lit(1L), expr(s"__n div $sampleTarget")) === 0L)
      .select(col("node").as("seed"))
      .localCheckpoint()
    val dist = multiSeedDistances(adj, seeds, maxHops)
    val contrib = dist.filter(col("dist") > 0L)
      .groupBy(col("node"))
      .agg(count(lit(1)).as("reached"),
        sum(expr("1000000 div dist")).as("__hm"))
    val top = contrib.orderBy(col("__hm").desc, col("node")).limit(topK)
      .localCheckpoint() // k rows; drops the relaxation lineage
    broadcast(top)
      .crossJoin(broadcast(seeds.agg(count(lit(1)).as("n_seeds"))))
      .orderBy(col("__hm").desc, col("node"))
      .select(col("node"), col("reached"), col("n_seeds"),
        round(col("__hm").cast(DoubleType) / lit(1.0e6), 6).as("harmonic"),
        round(col("__hm").cast(DoubleType) / lit(1.0e6) /
          col("n_seeds").cast(DoubleType), 6).as("harmonic_norm"))
  }

  /** Sorted-neighborhood candidate pairs — the OTHER classic
    * record-linkage blocking strategy (q78's equality blocks miss
    * near-misses that straddle a block boundary; a sort key brings
    * lexicographic neighbors together regardless): rank every row by
    * the sort key via [[globalRank]], then pair each row with the
    * `windowSize − 1` rows after it in sort order.
    *
    * Pair generation is an EQUI join on the rank (each row explodes to
    * w−1 probe ranks) — exact across partition boundaries, unlike a
    * per-partition lead(), and co-partitioned by the unique integer
    * rank so no key ever hot-spots. Output: (id_a, id_b, key_a, key_b).
    *
    * 100 TB shape: one range exchange (globalRank), a w−1 fan-out
    * projection, one integer equi join. Total pairs = N·(w−1) by
    * construction — the window bounds the quadratic, the caller picks
    * the similarity verify (levenshtein, jaccard, …) to run on the
    * linear-sized candidate set. */
  def sortedNeighborhoodPairs(df: DataFrame, sortCol: String, idCol: String,
      windowSize: Int = 5): DataFrame = {
    require(windowSize >= 2, "sortedNeighborhoodPairs: windowSize must be >= 2")
    val base = df.select(col(sortCol).as("__k"), col(idCol).as("__id"))
    val ranked = globalRank(base, Seq("__k", "__id"), "__r")
    val probes = ranked
      .withColumn("__o", explode(array((1 until windowSize).map(lit): _*)))
      .select(col("__id").as("id_a"), col("__k").as("key_a"),
        (col("__r") + col("__o")).as("__r"))
    probes.join(ranked.select(col("__id").as("id_b"), col("__k").as("key_b"),
        col("__r")), "__r")
      .select(col("id_a"), col("id_b"), col("key_a"), col("key_b"))
  }

  /** Exact equi-depth histogram — `buckets` order-statistic buckets of
    * (count, lo, hi) per bucket: the value-distribution companion to
    * the equi-width [[histogram]] (equi-width shows shape, equi-depth
    * shows quantile boundaries — what a range-partitioner or zone-map
    * layout planner actually needs).
    *
    * Bucket of the row at global rank r (1-based) of N is
    * (r−1)·buckets div N — pure integer arithmetic. Ties straddling a
    * boundary cannot perturb the output: bucket COUNTS are fixed by
    * rank arithmetic, and the straddling VALUE is both buckets' shared
    * endpoint whichever copies land where. Output doubles are input
    * values only.
    *
    * 100 TB shape: [[globalRank]]'s range exchange + one keyed
    * aggregate + a 1-row N broadcast; `buckets` rows out. */
  def equiDepthHistogram(df: DataFrame, valueCol: String,
      buckets: Int = 10): DataFrame = {
    require(buckets > 0, "equiDepthHistogram: buckets must be > 0")
    val base = df.filter(col(valueCol).isNotNull).select(col(valueCol).as("__v"))
    val ranked = globalRank(base, Seq("__v"), "__r")
    val n = base.agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(n))
      .withColumn("bucket", expr(s"((__r - 1) * $buckets) div __n"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("__v")).as("lo"),
        max(col("__v")).as("hi"))
  }
}
