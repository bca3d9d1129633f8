package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Graft

/** Drives the public operator API on small inline data with hand-checked
  * expectations (plus testdata where sizes matter). */
class GraftApiSpec extends AnyFunSuite {
  import TestSpark._

  test("dedupExact keeps min id per normalized duplicate group") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other")).toDF("id", "txt")
    val out = Graft.dedupExact(df, "txt", "id").orderBy("id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 2L), (3L, 1L)))
  }

  test("nearDupPairsExact matches the oracle-checked q24 pair set") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val pairs = Graft.nearDupPairsExact(docs, "text", "doc_id").collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getDouble(5) >= 0.8))
    // minhash path finds the same pairs
    val mh = Graft.nearDupPairsMinHash(docs, "text", "doc_id")
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val ex = pairs.map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(mh.toSeq === ex.toSeq)
  }

  test("nearDupPairsExact with maxShingleDf drops stop-shingle pairs only") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val capped = Graft.nearDupPairsExact(docs, "text", "doc_id", maxShingleDf = Some(3))
    assert(capped.count() <= Graft.nearDupPairsExact(docs, "text", "doc_id").count())
  }

  test("nearDupPairsExact shingles hook: matching artifact agrees, mismatched artifact fails loudly") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val inline = Graft.nearDupPairsExact(docs, "text", "doc_id")
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val good = Graft.shingleTable(docs, "text", "doc_id", 3)
    val viaArtifact = Graft.nearDupPairsExact(docs, "text", "doc_id",
        shingles = Some(good))
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(viaArtifact.toSeq === inline.toSeq)
    // an artifact built with a DIFFERENT ngram used to produce silently
    // wrong pair sets; the validation probe must reject it at call time
    val wrongNgram = Graft.shingleTable(docs, "text", "doc_id", 4)
    val e = intercept[IllegalArgumentException] {
      Graft.nearDupPairsExact(docs, "text", "doc_id", shingles = Some(wrongNgram))
    }
    assert(e.getMessage.contains("disagrees"))
  }

  test("corpusBleu: clipping, BLEU+1 smoothing, and brevity penalty against hand math") {
    val s = spark; import s.implicits._
    // the classic clipping fixture: candidate is 7x 'the', reference has
    // exactly two 'the' tokens — unclipped p1 would be 7/7
    val df = Seq((1L, "g", "the the the the the the the", "the cat is on the mat"))
      .toDF("id", "g", "cand", "ref")
    val r = Graft.corpusBleu(df, "cand", "ref", "id", "g").collect()(0)
    assert(r.getAs[Long]("m1") === 2L, "p1 must be CLIPPED to the ref count")
    assert(r.getAs[Long]("t1") === 7L)
    assert(r.getAs[Long]("m2") === 0L)
    assert(r.getAs[Long]("bp_micro") === 1000000L, "cand longer than ref: BP = 1")
    def q(x: Double): Long = math.round(math.log(x) * 1e9)
    val expected = math.round(math.exp(
      (q(2.0 / 7) + q(1.0 / 7) + q(1.0 / 6) + q(1.0 / 5)).toDouble / 4e9) * 1e6)
    assert(r.getAs[Long]("bleu_micro") === expected)
    // identical corpus scores exactly 1
    val same = Seq((1L, "g", "a b c d e", "a b c d e")).toDF("id", "g", "cand", "ref")
    val rs = Graft.corpusBleu(same, "cand", "ref", "id", "g").collect()(0)
    assert(rs.getAs[Long]("bleu_micro") === 1000000L)
    // short candidate pays the brevity penalty: cand 3 tokens, ref 5
    val short = Seq((1L, "g", "a b c", "a b c d e")).toDF("id", "g", "cand", "ref")
    val rp = Graft.corpusBleu(short, "cand", "ref", "id", "g").collect()(0)
    assert(rp.getAs[Long]("bp_micro") ===
      math.round(math.exp(1.0 - 5.0 / 3.0) * 1e6))
    // zero unigram overlap reports 0 by convention (no ln(0) blowup)
    val none = Seq((1L, "g", "x y z", "a b c")).toDF("id", "g", "cand", "ref")
    assert(Graft.corpusBleu(none, "cand", "ref", "id", "g")
      .collect()(0).getAs[Long]("bleu_micro") === 0L)
  }

  test("rougeN: clipped matches, P/R/F from hand math, zero-denominator convention") {
    val s = spark; import s.implicits._
    // clipping fixture: cand repeats 'the' 3x, ref holds it twice ->
    // m1 = 2 + 1 ('cat'); bigrams: cand {the the, the the, the cat},
    // ref {the cat, ...} -> m2 = 1
    val df = Seq((1L, "g", "the the the cat", "the cat saw the dog"))
      .toDF("id", "g", "cand", "ref")
    val r = Graft.rougeN(df, "cand", "ref", "id", "g").collect()(0)
    assert(r.getAs[Long]("m1") === 3L && r.getAs[Long]("ct1") === 4L &&
      r.getAs[Long]("rt1") === 5L)
    assert(r.getAs[Double]("rouge1_p") === 3.0 / 4.0)
    assert(r.getAs[Double]("rouge1_r") === 3.0 / 5.0)
    assert(r.getAs[Double]("rouge1_f") === 6.0 / 9.0)
    assert(r.getAs[Long]("m2") === 1L && r.getAs[Long]("ct2") === 3L &&
      r.getAs[Long]("rt2") === 4L)
    assert(r.getAs[Double]("rouge2_f") === 2.0 / 7.0)
    // identity is exactly 1 on every F; one-token rows have no bigrams
    // and report the 0 convention, not NaN
    val one = Seq((1L, "g", "x", "x")).toDF("id", "g", "cand", "ref")
    val ro = Graft.rougeN(one, "cand", "ref", "id", "g").collect()(0)
    assert(ro.getAs[Double]("rouge1_f") === 1.0)
    assert(ro.getAs[Double]("rouge2_f") === 0.0)
  }

  test("el2nPruneReport: deciles cover the corpus once, prune marks the easiest") {
    val s = spark; import s.implicits._
    val docs = (1L to 40L).map(i =>
      (i, if (i % 2 == 0) s"even tokens common $i" else s"odd text rare $i",
        if (i % 2 == 0) 1L else 0L))
      .toDF("id", "text", "y")
    val feats = Graft.featureHash(docs, "text", "id", 16)
      .select(col("doc_id").as("id"), col("dim"), col("weight").as("x"))
      .unionAll(docs.select(col("id"), lit(-1L).as("dim"), lit(1L).as("x")))
    val labels = docs.select(col("id"), col("y"))
    val rep = Graft.el2nPruneReport(feats, labels, rounds = 2).collect()
    assert(rep.map(_.getAs[Long]("n_docs")).sum === 40L)
    assert(rep.map(_.getAs[Long]("decile")).toSeq === (0L to 9L))
    assert(rep.filter(_.getAs[String]("action") == "prune")
      .map(_.getAs[Long]("decile")).toSeq === Seq(0L, 1L))
    // mean_el2n is nondecreasing across deciles (rank cut property)
    val means = rep.map(_.getAs[Double]("mean_el2n"))
    assert(means.zip(means.tail).forall { case (a, b) => a <= b })
    intercept[IllegalArgumentException] {
      Graft.el2nPruneReport(feats, labels, deciles = 1)
    }
  }

  test("datasetCartography: identical examples share one quadrant with hand-checkable dynamics") {
    val s = spark; import s.implicits._
    // one-class corpus with only the bias feature: every example is the
    // SAME point, so the trace is p(w1..w3) rising from 0.5 toward 1 —
    // exactly one output row, rng = p(w3) - p(w1), conf strictly > 0.5
    val n = 20
    val feats = (1L to n).map(i => (i, -1L, 1L)).toDF("id", "dim", "x")
    val labels = (1L to n).map(i => (i, 1L)).toDF("id", "y")
    val rep = Graft.datasetCartography(feats, labels, rounds = 3).collect()
    assert(rep.length === 1)
    val r = rep.head
    assert(r.getAs[Long]("n_docs") === n.toLong)
    assert(r.getAs[Double]("mean_conf") > 0.5 && r.getAs[Double]("mean_conf") < 0.8)
    assert(r.getAs[Double]("mean_variability") > 0.0 &&
      r.getAs[Double]("mean_variability") < 0.2)
    assert(r.getAs[String]("quadrant") === "medium")
    intercept[IllegalArgumentException] {
      Graft.datasetCartography(feats, labels, rounds = 1)
    }
  }

  test("chrF: identity scores 1, disjoint scores 0, one-division F from hand math") {
    val s = spark; import s.implicits._
    val same = Seq((1L, "g", "ab cd", "ab cd")).toDF("id", "g", "cand", "ref")
    assert(Graft.chrF(same, "cand", "ref", "id", "g")
      .collect()(0).getAs[Long]("chrf_micro") === 1000000L)
    val none = Seq((1L, "g", "xyzw", "abcd")).toDF("id", "g", "cand", "ref")
    assert(Graft.chrF(none, "cand", "ref", "id", "g")
      .collect()(0).getAs[Long]("chrf_micro") === 0L)
    // hand case: cand 'abcd', ref 'abce' (whitespace already absent).
    // per n: m1=3,ct1=rt1=4; m2=2 ('ab','bc'),ct2=rt2=3; m3=1,ct3=rt3=2;
    // m4=0,ct4=rt4=1; n=5,6 -> denominators 0 -> F=0
    val h = Seq((1L, "g", "abcd", "abce")).toDF("id", "g", "cand", "ref")
    val r = Graft.chrF(h, "cand", "ref", "id", "g").collect()(0)
    assert(r.getAs[Long]("m1") === 3L && r.getAs[Long]("m2") === 2L &&
      r.getAs[Long]("m3") === 1L && r.getAs[Long]("m4") === 0L)
    val f = Seq((3.0, 4L), (2.0, 3L), (1.0, 2L), (0.0, 1L))
      .map { case (m, t) => 5.0 * m / (4L * t + t).toDouble }
    // orders 5 and 6 have no grams on a 4-char corpus and are SKIPPED
    // from the mean (identity must score 1), so the divisor is 4
    val expected = math.round(f.sum / 4.0 * 1e6)
    assert(r.getAs[Long]("chrf_micro") === expected)
  }

  test("cosineTopK returns k ordered neighbors per query") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val out = Graft.cosineTopK(emb, emb.filter(col("vec_id") === 0), "embedding", "vec_id", 5)
    val rows = out.orderBy("rnk").collect()
    assert(rows.length === 5)
    assert(rows.map(_.getLong(1)).toSeq === Seq(1L, 2L, 3L, 4L, 5L))
    val sims = rows.map(_.getDouble(3))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
  }

  test("cosineNearDupPairs (bucket-first LSH) equals the exact pair set at a high threshold") {
    val s = spark; import s.implicits._
    // Planted near-dups: base vectors plus small perturbations (cos ≈
    // 0.97+), against uncorrelated background — the regime the bucket-first
    // path targets. Deterministic seed.
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(32)(rnd.nextGaussian().toFloat)
    val base = (0 until 60).map(i => (i.toLong, vec()))
    val dups = base.take(12).map { case (i, v) =>
      (1000L + i, v.map(x => x + 0.05f * rnd.nextGaussian().toFloat))
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getLong(1))
    val exact = Graft.cosineNearDupPairsExact(df, "embedding", "vec_id", 0.9)
      .select("va", "vb").collect().map(key).toSet
    val bucketed = Graft.cosineNearDupPairs(df, "embedding", "vec_id", 0.9)
      .select("va", "vb").collect().map(key).toSet
    assert(exact.size >= 12)
    assert(bucketed === exact)
  }

  test("cosineNearDupPairsExact plans a block join, not a broadcast nested loop") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val out = Graft.cosineNearDupPairsExact(emb, "embedding", "vec_id", 0.45)
    val initial = out.queryExecution.executedPlan.toString
    assert(!initial.contains("BroadcastNestedLoop"),
      s"block join must not degenerate to a broadcast nested loop:\n$initial")
    // and it matches the all-pairs formulation exactly
    graft.functions.GraftFunctions.register(spark)
    val e = emb.select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", sqrt(expr("vec_dot(v, v)")))
    val b = e.select(col("vec_id").as("vb"), col("v").as("qv"), col("nrm").as("bn"))
    val allPairs = e.join(b, col("vec_id") < col("vb"))
      .withColumn("cos", expr("vec_dot(v, qv)") / (col("nrm") * col("bn")))
      .filter(col("cos") >= 0.45)
      .select(col("vec_id").as("va"), col("vb"))
    val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getLong(1))
    assert(out.select("va", "vb").collect().map(key).toSet ===
      allPairs.collect().map(key).toSet)
  }

  test("sessionize splits on the inactivity gap") {
    val s = spark; import s.implicits._
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val df = Seq((1L, ts(0)), (1L, ts(5)), (1L, ts(50)), (2L, ts(0)))
      .toDF("uid", "ts")
    val out = Graft.sessionize(df, "ts", "uid", 30).orderBy("uid").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq((1L, 2L, 3L), (2L, 1L, 1L)))
  }

  test("asofJoin picks the latest strictly-earlier right row per key") {
    val s = spark; import s.implicits._
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val purchases = Seq((1L, ts(10), "p1"), (1L, ts(30), "p2"), (2L, ts(5), "p3"))
      .toDF("uid", "pts", "pname")
    val clicks = Seq((1L, ts(9), 100L), (1L, ts(10), 101L), (1L, ts(29), 102L))
      .toDF("uid", "cts", "click_id")
    val out = Graft.asofJoin(purchases, clicks, "uid", "pts", "cts", "click_id")
      .orderBy("pts").collect()
    // p1@10: click@9 matches (strictly before; click@10 does not)
    assert(out.map(r => (r.getString(2), Option(r.get(3)))).toSeq ===
      Seq(("p3", None), ("p1", Some(100L)), ("p2", Some(102L))))
  }

  test("saltedJoin equals the plain join on a skewed key") {
    val s = spark; import s.implicits._
    // 1000 rows of one hot key + a tail
    val big = ((1 to 1000).map(i => (1L, s"v$i")) ++ Seq((2L, "t1"), (3L, "t2")))
      .toDF("k", "payload")
    val small = Seq((1L, "one"), (2L, "two")).toDF("k", "name")
    val plain = big.join(small, Seq("k")).select("k", "payload", "name")
      .collect().map(_.toString).sorted
    val salted = Graft.saltedJoin(big, small, "k", 8).select("k", "payload", "name")
      .collect().map(_.toString).sorted
    assert(plain.toSeq === salted.toSeq)
  }

  test("connectedComponents merges a chain and executes the edge pipeline once") {
    val s = spark; import s.implicits._
    // A diameter-5 chain (needs ~5 rounds) plus an isolated pair. The
    // accumulator-backed UDF counts how many times the edge subplan is
    // evaluated: with the pre-loop localCheckpoint it runs exactly once —
    // NOT once per label-propagation round (the q54 scale bug).
    val evals = s.sparkContext.longAccumulator("edgeEvals")
    val tap = udf { (x: Long) => evals.add(1L); x }
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (10L, 11L))
      .toDF("src", "dst").withColumn("src", tap(col("src")))
    val out = Graft.connectedComponents(edges, "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((1L to 6L).forall(out(_) == 1L))
    assert(out(10L) === 10L && out(11L) === 10L)
    // one materialization = 12 taps (the union references the edge plan
    // twice × 6 rows); without the checkpoint this would be ≥ rounds × 12
    assert(evals.value === 12L, s"edge pipeline evaluated ${evals.value} row-passes")
  }

  test("connectedComponents errors loudly when maxIter is too small to converge") {
    val s = spark; import s.implicits._
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("src", "dst")
    val ex = intercept[IllegalStateException] {
      Graft.connectedComponents(chain, "src", "dst", maxIter = 2).collect()
    }
    assert(ex.getMessage.contains("converge"))
  }

  test("withTextStats and withFingerprint add deterministic columns") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "The cat, and a dog!")).toDF("id", "txt")
    val row = Graft.withFingerprint(Graft.withTextStats(df, "txt"), "txt").head
    assert(row.getAs[Long]("n_tokens") === 5L)
    assert(row.getAs[Long]("n_punct") === 2L)
    assert(row.getAs[Long]("n_stop") === 3L) // the, and, a
    assert(row.getAs[String]("fp").length === 32)
  }

  test("pageRank: ranks sum to ~1, authority orders correctly, dangling mass redistributes") {
    val s = spark; import s.implicits._
    // a -> c, b -> c, c -> a  (c is the authority; no dangling)
    val edges = Seq(("a", "c", 1L), ("b", "c", 1L), ("c", "a", 1L))
      .toDF("src", "dst", "w")
    val pr = Graft.pageRank(edges, "src", "dst", "w", iterations = 20)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-6)
    assert(pr("c") > pr("a") && pr("a") > pr("b"))
    // dangling node: a -> b, b absorbs then redistributes — sum still 1
    val dangling = Seq(("a", "b", 1L)).toDF("src", "dst", "w")
    val pr2 = Graft.pageRank(dangling, "src", "dst", "w", iterations = 20)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr2.values.sum - 1.0) < 1e-6)
    assert(pr2("b") > pr2("a"))
  }

  test("pageRank weights skew rank toward the heavier edge") {
    val s = spark; import s.implicits._
    // a sends 9/10 of its mass to b, 1/10 to c; b and c both return to a
    val edges = Seq(("a", "b", 9L), ("a", "c", 1L), ("b", "a", 1L), ("c", "a", 1L))
      .toDF("src", "dst", "w")
    val pr = Graft.pageRank(edges, "src", "dst", "w", iterations = 20)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(pr("b") > pr("c"))
  }

  test("pageRank checkpointDir: reliable checkpoint truncates lineage, same ranks") {
    val s = spark; import s.implicits._
    val edges = Seq(("a", "c", 1L), ("b", "c", 1L), ("c", "a", 1L))
      .toDF("src", "dst", "w")
    val dir = TempDirs.untilExit("prckpt").toString
    val pr = Graft.pageRank(edges, "src", "dst", "w", iterations = 5,
      checkpointDir = Some(dir))
    // lineage is cut at a reliable checkpoint: the final plan scans RDD
    // checkpoint data instead of replaying 5 rounds of joins
    assert(pr.queryExecution.optimizedPlan.toString.contains("LogicalRDD"))
    assert(new java.io.File(dir).listFiles.nonEmpty) // checkpoint files on disk
    val prLocal = Graft.pageRank(edges, "src", "dst", "w", iterations = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val prCkpt = pr.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(prCkpt === prLocal) // durability mode cannot change the answer
  }

  test("pageRank rejects zero/negative/null weights instead of emitting NaN") {
    val s = spark; import s.implicits._
    val zero = Seq(("a", "b", 0L), ("b", "a", 1L)).toDF("src", "dst", "w")
    val e1 = intercept[IllegalArgumentException] {
      Graft.pageRank(zero, "src", "dst", "w", iterations = 1)
    }
    assert(e1.getMessage.contains("positive"))
    val neg = Seq(("a", "b", -3L), ("b", "a", 1L)).toDF("src", "dst", "w")
    intercept[IllegalArgumentException] {
      Graft.pageRank(neg, "src", "dst", "w", iterations = 1)
    }
    // fractional weights are legal now (double end-to-end, no truncation):
    // a 0.5-weight edge must behave exactly like any positive weight
    val frac = Seq(("a", "b", 0.5), ("a", "c", 0.5), ("b", "a", 1.0), ("c", "a", 1.0))
      .toDF("src", "dst", "w")
    val pr = Graft.pageRank(frac, "src", "dst", "w", iterations = 10)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-6)
    assert(math.abs(pr("b") - pr("c")) < 1e-12) // symmetric halves tie exactly
  }

  test("topPrincipalComponent recovers the dominant eigenvector of a known matrix") {
    val s = spark; import s.implicits._
    // C = [[2, 1], [1, 2]] — eigenvalues 3 (v ∝ [1,1]) and 1 (v ∝ [1,-1]);
    // upper-triangle cells as q123 produces them
    val cells = Seq((1L, 1L, 2.0), (1L, 2L, 1.0), (2L, 2L, 2.0))
      .toDF("i", "j", "cov")
    val out = Graft.topPrincipalComponent(cells, iters = 20)
      .orderBy("pos").collect()
    val c = out.map(_.getDouble(1))
    assert(math.abs(c(0) - math.sqrt(0.5)) < 1e-6)
    assert(math.abs(c(1) - math.sqrt(0.5)) < 1e-6)
    assert(math.abs(out.head.getDouble(2) - 3.0) < 1e-6) // Rayleigh eigenvalue
  }

  test("topPrincipalComponent: driver and distributed eigen paths are bit-identical") {
    val s = spark; import s.implicits._
    val cells = Seq((1L, 1L, 2.0), (1L, 2L, 1.0), (2L, 2L, 2.0))
      .toDF("i", "j", "cov")
    val drv = Graft.topPrincipalComponent(cells, iters = 7)
      .orderBy("pos").collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val dist = Graft.topPrincipalComponent(cells, iters = 7, driverEigenMaxDim = 0)
      .orderBy("pos").collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(drv.toSeq === dist.toSeq) // exact equality, not approximate
  }

  test("secondPrincipalComponent: driver and distributed deflation paths are bit-identical") {
    val s = spark; import s.implicits._
    // NOT the symmetric [[2,1],[1,2]] toy: its v1 IS the uniform start,
    // which deflation annihilates (the driver path rejects that loudly)
    val cells = Seq((1L, 1L, 3.0), (1L, 2L, 1.0), (2L, 2L, 2.0))
      .toDF("i", "j", "cov")
    val c1 = Graft.topPrincipalComponent(cells, iters = 7)
    val drv = Graft.secondPrincipalComponent(cells, c1, iters = 7)
      .orderBy("pos").collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val dist = Graft.secondPrincipalComponent(cells, c1, iters = 7,
        driverEigenMaxDim = 0)
      .orderBy("pos").collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(drv.toSeq === dist.toSeq) // exact equality, not approximate
  }

  test("pcaProject: score is the dot with the component, residual the orthogonal energy") {
    val s = spark; import s.implicits._
    val comp = Seq((1L, 1.0, 9.9), (2L, 0.0, 9.9))
      .toDF("pos", "component", "eigenvalue")
    val vecs = Seq((1L, Array(3.0f, 4.0f)), (2L, Array(-2.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Graft.pcaProject(vecs, "embedding", "vec_id", comp)
      .orderBy("vec_id").collect()
    assert(math.abs(out(0).getDouble(1) - 3.0) < 1e-6)  // score = x1
    assert(math.abs(out(0).getDouble(2) - 4.0) < 1e-6)  // residual = |x2|
    assert(math.abs(out(1).getDouble(1) + 2.0) < 1e-6)
    assert(math.abs(out(1).getDouble(2)) < 1e-4)
  }

  test("joinSizeAudit predicts exact join cardinality and the hottest key") {
    val s = spark; import s.implicits._
    val left = Seq(1L, 1L, 1L, 2L, 3L).toDF("k")           // counts: 1->3, 2->1, 3->1
    val right = Seq(1L, 1L, 2L, 9L).toDF("k")              // counts: 1->2, 2->1, 9->1
    val r = Graft.joinSizeAudit(left, right, "k").collect().head
    assert(r.getAs[Long]("n_left") === 5L && r.getAs[Long]("n_right") === 4L)
    assert(r.getAs[Long]("n_keys_common") === 2L)
    assert(r.getAs[Long]("join_rows") === 7L)              // 3*2 + 1*1
    assert(r.getAs[Long]("max_key_rows") === 6L && r.getAs[String]("max_key") === "1")
    // the prediction must equal the real join
    assert(left.join(right, Seq("k")).count() === r.getAs[Long]("join_rows"))
  }

  test("incrementalNearDup flags batch docs near-duplicate of the corpus only") {
    val s = spark; import s.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely unrelated corpus text about database engines"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"), // exact dup of 1
      (11L, "zebra xylophone quantum mechanics entirely novel content here"))
      .toDF("doc_id", "text")
    val out = Graft.incrementalNearDup(batch, corpus, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getBoolean(2))).toSeq ===
      Seq((10L, true), (11L, false)))
    assert(out(0).getLong(1) === 1L) // matched exactly one corpus doc
  }

  test("charEntropy: uniform text maxes entropy, constant text zeroes it, empty stays NULL") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "abcd"), (2L, "aaaa"), (3L, "aabb"), (4L, ""))
      .toDF("doc_id", "text")
    val out = Graft.charEntropy(df, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(out.length === 4)
    assert(math.abs(out(0).getDouble(3) - math.log(4.0)) < 1e-6) // 4 distinct chars
    assert(out(1).getDouble(3) === 0.0)                          // constant string
    assert(math.abs(out(2).getDouble(3) - math.log(2.0)) < 1e-6) // two fair chars
    assert(out(3).getLong(1) === 0L && out(3).isNullAt(3))       // no evidence = NULL
  }

  test("shortestPaths: BFS distances relax over hops; unreachable nodes absent") {
    val s = spark; import s.implicits._
    // a->b->c->d chain plus a shortcut a->c; e is disconnected-from-a
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("e", "a"))
      .toDF("src", "dst")
    val d = Graft.shortestPaths(edges, "src", "dst", source = "a", maxHops = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(d === Map("a" -> 0L, "b" -> 1L, "c" -> 1L, "d" -> 2L)) // no "e"
    // hop bound truncates: maxHops=1 sees only direct neighbors
    val d1 = Graft.shortestPaths(edges, "src", "dst", source = "a", maxHops = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(d1 === Map("a" -> 0L, "b" -> 1L, "c" -> 1L))
  }

  test("compactionPlan: first-fit groups reach target, overflow by at most one file") {
    val s = spark; import s.implicits._
    val manifest = Seq((1L, 60L), (2L, 50L), (3L, 10L), (4L, 100L), (5L, 5L))
      .toDF("file_id", "bytes")
    val out = Graft.compactionPlan(manifest, "file_id", "bytes", targetBytes = 100L)
      .collect()
    // prefix sums before each: 0,60,110,120,220 -> groups 0,0,1,1,2
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq((0L, 2L, 110L), (1L, 2L, 110L), (2L, 1L, 5L)))
    // id ranges are contiguous in id order
    assert(out.map(r => (r.getLong(3), r.getLong(4))).toSeq ===
      Seq((1L, 2L), (3L, 4L), (5L, 5L)))
  }

  test("triangleCount: degree orientation counts each triangle once") {
    val s = spark; import s.implicits._
    // K4 on {a,b,c,d} (4 triangles) plus a pendant edge d-e (0 more),
    // fed as MESSY input: duplicates, both directions, a self-loop
    val edges = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("a", "d"), ("b", "c"),
      ("b", "d"), ("c", "d"), ("d", "c"), ("d", "e"), ("a", "a"))
      .toDF("u", "v")
    val out = Graft.triangleCount(edges, "u", "v").collect().head
    assert(out.getLong(0) === 5L) // nodes
    assert(out.getLong(1) === 7L) // canonical edges
    assert(out.getLong(2) === 4L) // C(4,3) triangles in K4
  }

  test("mergeChanges applies insert/update/delete with whole-row replace") {
    val s = spark; import s.implicits._
    val target = Seq((1L, "one", 10.0), (2L, "two", 20.0), (3L, "three", 30.0))
      .toDF("k", "name", "bal")
    val changes = Seq(
      (2L, null.asInstanceOf[String], 99.0, "U"), // update sets name to NULL
      (3L, "three", 30.0, "D"),                   // delete
      (4L, "four", 40.0, "I"),                    // insert
      (9L, "ghost", 0.0, "D"))                    // delete of absent key = no-op
      .toDF("k", "name", "bal", "op")
    val out = Graft.mergeChanges(target, changes, "k").orderBy("k").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L, 4L))
    val r2 = out(1)
    assert(r2.isNullAt(1) && r2.getDouble(2) === 99.0) // wholesale replace, no smearing
    assert(out(2).getString(1) === "four")
    // a changeset missing target columns fails fast
    val bad = Seq((1L, "x")).toDF("k", "op")
    val ex = intercept[IllegalArgumentException] {
      Graft.mergeChanges(target, bad, "k")
    }
    assert(ex.getMessage.contains("every target column"))
  }

  test("mergeChanges drops NULL-key change rows; validate mode fails on null/dup keys") {
    val s = spark; import s.implicits._
    val target = Seq((1L, "one"), (2L, "two")).toDF("k", "name")
    val changes = Seq((Some(3L), "three", "I"), (None, "junk", "U"))
      .toDF("k", "name", "op")
    // silent mode: the null-key row matches nothing and is dropped —
    // no all-null output row
    val out = Graft.mergeChanges(target, changes, "k").orderBy("k").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(out.forall(r => !r.isNullAt(0)))
    // validate mode: null keys fail loudly
    val e1 = intercept[IllegalArgumentException] {
      Graft.mergeChanges(target, changes, "k", validate = true)
    }
    assert(e1.getMessage.contains("NULL"))
    // validate mode: duplicate change rows per key fail loudly
    val dup = Seq((3L, "a", "I"), (3L, "b", "U")).toDF("k", "name", "op")
    val e2 = intercept[IllegalArgumentException] {
      Graft.mergeChanges(target, dup, "k", validate = true)
    }
    assert(e2.getMessage.contains("duplicate"))
  }

  test("invertedIndex rejects non-integral id columns instead of null-bucketing them") {
    val s = spark; import s.implicits._
    val df = Seq(("doc-1", "spark core"), ("doc-2", "spark sql"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Graft.invertedIndex(df, "text", "doc_id", Seq("spark"))
    }
    assert(e.getMessage.contains("integral"))
  }

  test("ngramLmScore: repeated-pattern text scores lower than one-off text; short docs kept") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, "the cat sat on the mat the cat sat on the mat the cat sat on the mat"),
      (2L, "zygote quasar bonsai vortex igloo phantom walrus nectar"),
      (3L, "single")) // one token: no bigrams
      .toDF("doc_id", "text")
    val out = Graft.ngramLmScore(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))).toMap
    // predictable loops are low cross-entropy, all-unique text is high
    assert(out(1L)._2.get < out(2L)._2.get)
    // bigram-less doc present with n_bigrams=0 and NULL score
    assert(out(3L) === ((0L, None)))
    assert(out(1L)._1 === 17L) // 18 tokens -> 17 bigrams
  }

  test("q120 incremental merge equals the full recompute (MV-maintenance invariant)") {
    val merged = SparkEntry.queries("q120_incremental_agg")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val full = spark.read.parquet(s"$sf0001/orders.parquet")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("o_totalprice") * lit(100.0)).cast("long")).as("s"))
      .orderBy(col("o_custkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(merged.toSeq === full.toSeq)
  }

  test("rangeLayout: buckets cover all rows with disjoint ordered key ranges") {
    val s = spark; import s.implicits._
    val df = (1L to 1000L).map(i => Tuple1(i)).toDF("k")
    val out = Graft.rangeLayout(df, "k", 4).orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.map(_._1).toSeq === Seq(0L, 1L, 2L, 3L))
    assert(out.map(_._2).sum === 1000L)
    // ranges are disjoint and ordered: each bucket's max < next bucket's min
    out.sliding(2).foreach { case Array(a, b) => assert(a._4 < b._3) }
    // uniform keys quarter evenly at exact quantile boundaries
    assert(out.map(_._2).forall(n => n == 250L))
    intercept[IllegalArgumentException] { Graft.rangeLayout(df, "k", 1) }
  }

  test("dsirWeight: target-like docs outscore off-domain docs; empty docs kept") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, "protein folding enzyme kinase pathway", "bio"),
      (2L, "kinase pathway protein enzyme signal", "bio"),
      (3L, "protein kinase enzyme folding cascade", "web"),   // looks like bio
      (4L, "soccer match referee goal penalty kick", "web"),  // off-domain
      (5L, "", "web"))                                        // no tokens
      .toDF("doc_id", "text", "source")
    val out = Graft.dsirWeight(df, "text", "doc_id", col("source") === "bio",
        buckets = 256)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))).toMap
    // the bio-looking web doc outscores the off-domain one
    assert(out(3L)._2.get > out(4L)._2.get)
    // target docs score high (their grams dominate the target model)
    assert(out(1L)._2.get > out(4L)._2.get)
    // empty doc present with zero grams and NULL score
    assert(out(5L) === ((0L, None)))
    // unigrams + bigrams: 5 tokens -> 5 + 4 = 9 grams
    assert(out(1L)._1 === 9L)
    // non-power-of-two buckets rejected
    intercept[IllegalArgumentException] {
      Graft.dsirWeight(df, "text", "doc_id", col("source") === "bio", buckets = 100)
    }
  }

  test("shingleOverlap: identical sources have jaccard 1, disjoint pairs are absent") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta", "s1"),
      (2L, "alpha beta gamma delta", "s2"), // identical shingle set to s1
      (3L, "one two three four five", "s3")) // disjoint from both
      .toDF("doc_id", "text", "source")
    val out = Graft.shingleOverlap(df, "text", "source", 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4))))
    assert(out.length === 1) // only the overlapping pair appears
    val ((a, b), (inter, uni, j)) = out.head
    assert((a, b) === (("s1", "s2")))
    assert(inter === 2L && uni === 2L && j === 1.0)
  }

  test("invertedIndex segments postings by doc-id bucket and counts df once per doc") {
    val s = spark; import s.implicits._
    // "spark" in docs 5, 150, 250 (twice in 250 — df counts it once);
    // bucketWidth 100 → buckets 0, 1, 2 = 3 segments
    val df = Seq(
      (5L, "spark engine"), (150L, "the spark core"),
      (250L, "spark spark"), (260L, "no hits here")).toDF("doc_id", "text")
    val out = Graft.invertedIndex(df, "text", "doc_id", Seq("spark", "core"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out === Seq(("core", 1L, 1L), ("spark", 3L, 3L)))
  }

  test("invertedIndex rollup digest is insensitive to partitioning") {
    val s = spark; import s.implicits._
    val df = Seq.tabulate(40)(i => (i.toLong * 7, "spark row")).toDF("doc_id", "text")
    val one = Graft.invertedIndex(df.coalesce(1), "text", "doc_id", Seq("spark"))
      .collect()(0).getString(3)
    val many = Graft.invertedIndex(df.repartition(13), "text", "doc_id", Seq("spark"))
      .collect()(0).getString(3)
    assert(one === many)
  }

  test("keySkewAudit computes exact rank-based percentiles and skew factor") {
    val s = spark; import s.implicits._
    // counts per key: a,b,c,d ×1 and e ×96 → K=5, total=100, max=96,
    // p50 = count at rank ceil(2.5)=3 → 1, p99 = rank ceil(4.95)=5 → 96,
    // skew = 96*5/100 = 4.8
    val rows = Seq("a", "b", "c", "d") ++ Seq.fill(96)("e")
    val df = rows.toDF("k")
    val r = Graft.keySkewAudit(df, "k").collect()(0)
    assert(r.getString(0) === "k")
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) === ((5L, 100L, 96L)))
    assert((r.getLong(4), r.getLong(5)) === ((1L, 96L)))
    assert(r.getDouble(6) === 4.8)
  }

  test("keySkewAudit reports 1.0 skew on a perfectly uniform key") {
    val s = spark; import s.implicits._
    val df = (1 to 10).flatMap(k => Seq.fill(4)(k)).toDF("k")
    val r = Graft.keySkewAudit(df, "k").collect()(0)
    assert(r.getDouble(6) === 1.0)
    assert(r.getLong(4) === 4L && r.getLong(5) === 4L)
  }

  test("bloomPrefilterJoin equals the plain inner join") {
    val s = spark; import s.implicits._
    val fact = Seq((1L, 10.0), (1L, 20.0), (2L, 5.0), (3L, 7.0), (9L, 1.0))
      .toDF("k", "v")
    val dim = Seq((1L, "a"), (3L, "c"), (4L, "d")).toDF("k", "name")
    val out = Graft.bloomPrefilterJoin(fact, dim, "k")
      .orderBy("k", "v").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
    val plain = fact.join(dim, Seq("k")).orderBy("k", "v").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
    assert(out === plain)
    assert(out === Seq((1L, 10.0, "a"), (1L, 20.0, "a"), (3L, 7.0, "c")))
  }

  test("labelPropagation splits two cliques joined by one bridge edge") {
    val s = spark; import s.implicits._
    def clique(ns: Seq[String]) =
      for (a <- ns; b <- ns if a < b) yield (a, b)
    val edges = (clique(Seq("a1", "a2", "a3", "a4")) ++
      clique(Seq("b1", "b2", "b3", "b4")) :+ (("a1", "b1"))).toDF("s", "d")
    val out = Graft.labelPropagation(edges, "s", "d", rounds = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // density grouping: the bridge does NOT merge the cliques (unlike
    // connectedComponents, which would label all 8 nodes together)
    assert(Seq("a1", "a2", "a3", "a4").map(out) === Seq.fill(4)("a1"))
    assert(Seq("b1", "b2", "b3", "b4").map(out) === Seq.fill(4)("b1"))
  }

  test("randomProject emits exact signed micro-sums and is repartition-stable") {
    val s = spark; import s.implicits._
    val df = Seq((1L, Seq(2.0f)), (2L, null.asInstanceOf[Seq[Float]]))
      .toDF("vec_id", "embedding")
    val out = Graft.randomProject(df, "embedding", "vec_id", outDim = 2)
      .orderBy("vec_id", "j").collect()
    // id 1: two components, each ±2_000_000 micro-units → |y| = 2/√2
    val comps = out.filter(_.getLong(0) == 1L)
    assert(comps.length === 2)
    comps.foreach { r =>
      assert(math.abs(r.getLong(2)) === 2000000L)
      assert(math.abs(math.abs(r.getDouble(3)) - 2.0 / math.sqrt(2.0)) < 1e-12)
    }
    // NULL vector keeps one row with NULL component (q113 contract)
    val nullRow = out.filter(_.getLong(0) == 2L)
    assert(nullRow.length === 1 && nullRow(0).isNullAt(1) && nullRow(0).isNullAt(2))
    // md5 signs are data-independent → identical under repartition
    val a = Graft.randomProject(df.coalesce(1), "embedding", "vec_id", 4)
      .orderBy("vec_id", "j").collect().map(_.toString).toSeq
    val b = Graft.randomProject(df.repartition(7), "embedding", "vec_id", 4)
      .orderBy("vec_id", "j").collect().map(_.toString).toSeq
    assert(a === b)
  }

  test("cmsHeavyHitters never underestimates and is exact without collisions") {
    val s = spark; import s.implicits._
    val df = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c")).toDF("k")
    val out = Graft.cmsHeavyHitters(df, "k", depth = 4, width = 1024, k = 2)
      .orderBy("rk").collect()
    assert(out.map(_.getString(1)).toSeq === Seq("a", "b"))
    assert(out.map(_.getLong(2)).toSeq === Seq(5L, 3L))
    // 3 keys in 1024 buckets × 4 rows: no collisions → estimate == exact
    assert(out.map(_.getLong(3)).toSeq === Seq(5L, 3L))
    assert(out.forall(_.getBoolean(4)))
  }

  test("rrfFuse sums 1/(k+rank) terms and zero-fills absent lists") {
    val s = spark; import s.implicits._
    val a = Seq((10L, 1L), (20L, 2L)).toDF("id", "rank")
    val b = Seq((20L, 1L), (30L, 2L)).toDF("id", "rank")
    val out = Graft.rrfFuse(Seq(a, b), "id", "rank", k = 60)
      .orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(10L, 20L, 30L))
    // 20 is in both lists (rank 2 + rank 1); 10 and 30 in one each
    assert(out.map(_.getLong(3)).toSeq === Seq(1L, 2L, 1L))
    assert(out(1).getDouble(4) === 1.0 / 62.0 + 1.0 / 61.0)
    assert(out(0).getDouble(4) === 1.0 / 61.0)
    assert(out(0).isNullAt(2) && out(2).isNullAt(1))
  }

  test("ewmaDyadic replays the restarted recursion exactly") {
    val s = spark; import s.implicits._
    val df = Seq((1L, 1, 4.0), (1L, 2, 8.0), (1L, 3, 2.0), (2L, 1, 6.0))
      .toDF("k", "seq", "v")
    val out = Graft.ewmaDyadic(df, "v", "k", Seq("seq"), lags = 20)
      .orderBy("k", "rn").collect()
    // y1 = 4, y2 = (8+4)/2 = 6, y3 = (2+6)/2 = 4; new key restarts
    assert(out.map(_.getDouble(4)).toSeq === Seq(4.0, 6.0, 4.0, 6.0))
    // frame restart: with lags=1 only (prev, cur) survive → y3 = (2+8)/2
    val short = Graft.ewmaDyadic(df, "v", "k", Seq("seq"), lags = 1)
      .orderBy("k", "rn").collect()
    assert(short.map(_.getDouble(4)).toSeq === Seq(4.0, 6.0, 5.0, 6.0))
  }

  test("globalRank matches a single-partition row_number") {
    val s = spark; import s.implicits._
    val df = s.range(1000).select(
      (col("id") * 37 % 1000).as("v"), col("id"))
    val ranked = Graft.globalRank(df.repartition(13), Seq("v", "id"))
      .orderBy("grank").collect()
    assert(ranked.map(_.getAs[Long]("grank")).toSeq === (1L to 1000L))
    // rank order == (v, id) lexicographic order
    val vs = ranked.map(r => (r.getAs[Long]("v"), r.getAs[Long]("id"))).toSeq
    assert(vs === vs.sorted)
  }

  test("quantileNormalize maps each group onto the global distribution") {
    val s = spark; import s.implicits._
    // group a: 1..4 (shifted low); group b: 101..104; global = all 8
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0),
      ("b", 101.0), ("b", 102.0), ("b", 103.0), ("b", 104.0))
      .zipWithIndex.map { case ((g, v), i) => (i.toLong, g, v) }
      .toDF("id", "grp", "v")
    val out = Graft.quantileNormalize(df, "v", "grp", "id")
      .orderBy("id").collect()
    // both groups land on the same positions: ranks 1..4 of 4 map to
    // global positions ⌊(r−1)·7/3⌋+1 = 1, 3, 5, 8 → values 1, 3, 101, 104
    val norm = out.map(_.getAs[Double]("normalized")).toSeq
    assert(norm === Seq(1.0, 3.0, 101.0, 104.0, 1.0, 3.0, 101.0, 104.0))
  }

  test("kCore peels the tail and keeps the clique") {
    val s = spark; import s.implicits._
    // 4-clique with a pendant chain hanging off it: 2-core = the clique
    // (chain nodes peel in cascade across rounds)
    val clique = for (a <- Seq("a", "b", "c", "d"); b <- Seq("a", "b", "c", "d")
      if a < b) yield (a, b)
    val edges = (clique ++ Seq(("d", "e"), ("e", "f"))).toDF("s", "d")
    val out = Graft.kCore(edges, "s", "d", k = 2, rounds = 3)
      .orderBy("node").collect().map(r => r.getString(0) -> r.getLong(1))
    // f peels round 1 (deg 1), e peels round 2 (deg 1 after f leaves);
    // the clique survives with internal degree 3
    assert(out.toSeq === Seq("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
  }

  test("acf matches the hand-computed estimator on a known series") {
    val s = spark; import s.implicits._
    // x = 1,2,3,4,5 at t=1..5: mean 3, den Σ(x−3)² = 10
    // lag1 num = (−2)(−1)+(−1)(0)+0·1+1·2 = 4 → r1 = 0.4
    // lag2 num = (−2)(0)+(−1)(1)+(0)(2) = −1 → r2 = −0.1
    val df = (1 to 5).map(i => ("k", new Timestamp(i * 1000L), i.toLong, i * 1.0))
      .toDF("grp", "ts", "id", "v")
    val out = Graft.acf(df, "v", "grp", "ts", "id", maxLag = 2)
      .orderBy("lag").collect()
    assert(out.map(_.getAs[Double]("acf")).toSeq === Seq(0.4, -0.1))
    assert(out.map(_.getAs[Long]("n_pairs")).toSeq === Seq(4L, 3L))
    // constant series: zero variance → NULL, not NaN/divide-by-zero
    val const = (1 to 4).map(i => ("c", new Timestamp(i * 1000L), i.toLong, 7.0))
      .toDF("grp", "ts", "id", "v")
    val cOut = Graft.acf(const, "v", "grp", "ts", "id", maxLag = 1).collect()
    assert(cOut.length === 1 && cOut.head.isNullAt(cOut.head.fieldIndex("acf")))
  }

  test("cusum replays the max(0, s+d) recursion and alarms past threshold") {
    val s = spark; import s.implicits._
    // series at mean 10 with a level shift to 14 from t=5: slack 1 →
    // drift d_i = x_i − mean − 1; recursion accumulates only after the shift
    val xs = Seq(10.0, 10.0, 10.0, 10.0, 14.0, 14.0, 14.0, 14.0)
    val mean = xs.sum / xs.length
    val df = xs.zipWithIndex.map { case (v, i) =>
      ("k", new Timestamp((i + 1) * 1000L), i.toLong, v)
    }.toDF("grp", "ts", "id", "v")
    val out = Graft.cusum(df, "v", "grp", "ts", "id",
      slack = 1.0, threshold = 4.0).orderBy("id").collect()
    // reference recursion
    val expect = xs.scanLeft(0.0) { (acc, x) =>
      math.max(0.0, acc + (x - mean - 1.0))
    }.tail
    val got = out.map(_.getAs[Double]("cusum")).toSeq
    got.zip(expect).foreach { case (g, e) => assert(math.abs(g - e) < 1e-9) }
    assert(out.map(_.getAs[Int]("alarm")).toSeq ===
      expect.map(e => if (e > 4.0) 1 else 0))
  }

  test("chiSquareDrift matches the hand-computed statistic with zero cells") {
    val s = spark; import s.implicits._
    // group g1: 3×x, 1×y; group g2: 1×x, 3×y; N=8, ct_x=ct_y=4, rt=4
    // e = 4·4/8 = 2 for every cell → χ² per group = (1²/2)·2 = 1.0
    val df = (Seq.fill(3)("x") ++ Seq("y")).map(("g1", _)) ++
      (Seq("x") ++ Seq.fill(3)("y")).map(("g2", _))
    val out = Graft.chiSquareDrift(df.toDF("grp", "cat"), "cat", "grp")
      .orderBy("grp").collect()
    assert(out.map(_.getAs[Double]("chi2")).forall(c => math.abs(c - 1.0) < 1e-8))
    assert(out.map(_.getAs[Long]("dof")).toSeq === Seq(1L, 1L))
    // a group missing a category entirely: the zero cell carries rt·ct/N
    val df2 = Seq(("a", "x"), ("a", "x"), ("b", "x"), ("b", "y")).toDF("grp", "cat")
    val o2 = Graft.chiSquareDrift(df2, "cat", "grp").orderBy("grp").collect()
    // group a: cells x: o=2, e=2·3/4=1.5 → 0.25/1.5; y: o=0, e=2·1/4=0.5 → 0.5
    val expA = 0.25 / 1.5 + 0.5
    assert(math.abs(o2.head.getAs[Double]("chi2") - expA) < 1e-8)
  }

  test("twoProportionZTest computes the pooled z and guards degenerates") {
    val s = spark; import s.implicits._
    // A: 100 units 30 conv; B: 100 units 50 conv
    val units = ((1 to 100).map(i => (false, i <= 30)) ++
      (1 to 100).map(i => (true, i <= 50))).toDF("variant", "converted")
    val out = Graft.twoProportionZTest(units, "variant", "converted").collect().head
    assert(out.getAs[Long]("n_a") === 100L && out.getAs[Long]("conv_b") === 50L)
    val pp = 80.0 / 200.0
    val expZ = (0.5 - 0.3) / math.sqrt(pp * (1 - pp) * (1.0 / 100 + 1.0 / 100))
    assert(math.abs(out.getAs[Double]("z") - expZ) < 1e-12)
    assert(math.abs(out.getAs[Double]("lift") - 0.2) < 1e-12)
    // all-convert pool → se = 0 → NULL z, not Inf
    val degen = Seq((false, true), (true, true)).toDF("variant", "converted")
    val d = Graft.twoProportionZTest(degen, "variant", "converted").collect().head
    assert(d.isNullAt(d.fieldIndex("z")))
  }

  test("hits separates pure hubs from pure authorities on a star") {
    val s = spark; import s.implicits._
    // s → t1, t2, t3: s is the only hub, targets split authority evenly
    val edges = Seq(("s", "t1", 1.0), ("s", "t2", 1.0), ("s", "t3", 1.0))
      .toDF("src", "dst", "w")
    val out = Graft.hits(edges, "src", "dst", "w", iterations = 3)
      .orderBy("node").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq
    val (hubRow, targets) = (out.head, out.tail)
    assert(hubRow._1 === "s" && hubRow._2 === 0.0 && hubRow._3 === 1.0)
    targets.foreach { case (_, auth, hub) =>
      assert(math.abs(auth - 1.0 / 3) < 1e-9 && hub === 0.0)
    }
    // zero/negative weights fail loudly
    intercept[IllegalArgumentException] {
      Graft.hits(Seq(("a", "b", 0.0)).toDF("src", "dst", "w"), "src", "dst", "w")
    }
  }

  test("tableFingerprint is order/partitioning-invariant and content-sensitive") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "a"), (2L, "b"), (3L, null: String)).toDF("id", "v")
    def fp(d: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = Graft.tableFingerprint(d, Seq("id", "v")).collect().head
      (r.getLong(0), r.getLong(1))
    }
    val base = fp(df)
    assert(fp(df.repartition(7)) === base)           // partitioning-invariant
    assert(fp(df.orderBy(col("v").desc)) === base)   // order-invariant
    val mutated = Seq((1L, "a"), (2L, "B"), (3L, null: String)).toDF("id", "v")
    assert(fp(mutated) !== base)                     // content-sensitive
    // empty table: count 0, fingerprint 0 (not null)
    assert(fp(df.filter(col("id") > 100)) === ((0L, 0L)))
  }

  test("assocRules computes support/confidence/lift on known baskets") {
    val s = spark; import s.implicits._
    // baskets: {x,y} ×3, {x,z} ×1, {y} ×1 → nb=5, cx=4, cy=4, cz=1
    val rows = Seq(
      (1L, "x"), (1L, "y"), (2L, "x"), (2L, "y"), (3L, "x"), (3L, "y"),
      (4L, "x"), (4L, "z"), (5L, "y"))
    val out = Graft.assocRules(rows.toDF("bk", "it"), "bk", "it",
      minSupport = 2L).collect()
    assert(out.length === 1) // only (x,y) reaches support 2; (x,z) is 1
    val r = out.head
    assert(r.getAs[String]("item_a") === "x" && r.getAs[String]("item_b") === "y")
    assert(r.getAs[Long]("pair_n") === 3L)
    assert(math.abs(r.getAs[Double]("support") - 0.6) < 1e-12)
    assert(math.abs(r.getAs[Double]("conf_a_to_b") - 0.75) < 1e-12)
    assert(math.abs(r.getAs[Double]("lift") - 3.0 * 5 / 16) < 1e-12)
  }

  test("theilSen ignores an outlier the OLS slope cannot") {
    val s = spark; import s.implicits._
    // perfect slope-1 line with one wild point: 6 of 10 pairwise slopes
    // are exactly 1, so the median (ranks 5 and 6) is 1.0 — OLS on the
    // same data gives ~17x that
    val pts = Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L), (5L, 100L))
      .map { case (t, v) => ("k", t, v) }
    val out = Graft.theilSen(pts.toDF("key", "t", "v"), "key", "t", "v")
      .collect().head
    assert(out.getAs[Long]("n") === 5L && out.getAs[Long]("n_pairs") === 10L)
    assert(out.getAs[Double]("slope_ts") === 1.0)
    // same-t pairs are excluded; a key with ONLY same-t points drops out
    val flat = Seq(("f", 1L, 1L), ("f", 1L, 9L)).toDF("key", "t", "v")
    assert(Graft.theilSen(flat, "key", "t", "v").count() === 0L)
  }

  test("zoneMapSkipAudit skips exactly the files whose zone cannot intersect") {
    val s = spark; import s.implicits._
    val manifest = Seq((1L, 0L, 10L, 100L), (2L, 20L, 30L, 100L),
      (3L, 40L, 50L, 100L)).toDF("f", "mn", "mx", "rows")
    val out = Graft.zoneMapSkipAudit(manifest, "f", "mn", "mx", "rows",
      lo = 15L, hi = 35L).orderBy("f").collect()
    // [0,10] is fully below, [20,30] overlaps, [40,50] is fully above
    assert(out.map(_.getAs[Int]("skippable")).toSeq === Seq(1, 0, 1))
    // boundary touch is NOT skippable (max == lo intersects)
    val touch = Seq((1L, 5L, 15L, 10L)).toDF("f", "mn", "mx", "rows")
    assert(Graft.zoneMapSkipAudit(touch, "f", "mn", "mx", "rows", 15L, 35L)
      .collect().head.getAs[Int]("skippable") === 0)
  }

  test("ccf detects a one-day lead with the hand-computed estimator") {
    val s = spark; import s.implicits._
    // x (clicks) per day 0..4 = [1,3,2,5,4]; y (purchases) = x shifted
    // one day later → lag +1 pairs are (v, v): n=5, Sx=15, Sy=11,
    // Sxx=55, Syy=39; lag1: Sab=39, Sa=Sb=11, m=4 → NUM=205, A=250,
    // B=370; lag0: Sab=39, m=5 → NUM=150
    val x = Seq(1, 3, 2, 5, 4)
    val rows =
      x.zipWithIndex.flatMap { case (c, d) =>
        Seq.fill(c)((new Timestamp(d * 86400000L), "click")) } ++
      x.zipWithIndex.flatMap { case (c, d) =>
        Seq.fill(c)((new Timestamp((d + 1) * 86400000L), "purchase")) }
    // drop day-5 purchases so the grid stays days 0..4
    val df = rows.filter(_._1.getTime < 5 * 86400000L).toDF("ts", "t")
    val out = Graft.ccf(df, "ts", "t", "click", "purchase", maxLag = 1)
      .orderBy("lag").collect()
    val got = out.map(r => r.getAs[Long]("lag") -> r.getAs[Double]("ccf")).toMap
    assert(math.abs(got(1L) - 205.0 / math.sqrt(250.0 * 370.0)) < 1e-12)
    assert(math.abs(got(0L) - 150.0 / math.sqrt(250.0 * 370.0)) < 1e-12)
    assert(got(1L) > got(0L) && got(1L) > got(-1L)) // the lead shows at +1
  }

  test("tableDiff reports only differing keys with the right status") {
    val s = spark; import s.implicits._
    val a = Seq((1L, "x", 10L), (2L, "y", 20L), (3L, "z", 30L))
      .toDF("k", "v", "w")
    val b = Seq((2L, "y", 20L), (3L, "Z", 30L), (4L, "n", 40L))
      .toDF("k", "v", "w")
    val out = Graft.tableDiff(a, b, Seq("k"), Seq("v", "w"))
      .orderBy("k").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    // key 2 is identical → absent; 1 deleted, 3 changed, 4 added
    assert(out === Seq(1L -> "a_only", 3L -> "changed", 4L -> "b_only"))
    // duplicate keys fail loudly instead of fanning out phantom diffs
    intercept[IllegalArgumentException] {
      Graft.tableDiff(a.unionAll(a), b, Seq("k"), Seq("v")).collect()
    }
  }

  test("auc hits 1 on a perfect ranking, 0 inverted, 0.5 on balanced ties") {
    val s = spark; import s.implicits._
    def aucOf(rows: Seq[(Double, Long)]): Double = {
      val r = Graft.auc(rows.toDF("s", "y"), "s", "y").collect()(0)
      r.getDouble(3)
    }
    assert(aucOf(Seq((0.1, 0L), (0.2, 0L), (0.3, 1L), (0.4, 1L))) === 1.0)
    assert(aucOf(Seq((0.1, 1L), (0.2, 1L), (0.3, 0L), (0.4, 0L))) === 0.0)
    // each tie group holds one positive and one negative → exactly 0.5
    assert(aucOf(Seq((1.0, 0L), (1.0, 1L), (2.0, 0L), (2.0, 1L))) === 0.5)
    // single-class input reports NULL, not a division blowup
    val oneClass = Graft.auc(Seq((1.0, 1L), (2.0, 1L)).toDF("s", "y"), "s", "y")
      .collect()(0)
    assert(oneClass.isNullAt(3))
  }

  test("mutualInfo: identical columns give nmi 1, independent give 0") {
    val s = spark; import s.implicits._
    val dep = Seq(("a", "a"), ("a", "a"), ("b", "b"), ("b", "b")).toDF("x", "y")
    val rd = Graft.mutualInfo(dep, "x", "y").collect()(0)
    assert(math.abs(rd.getDouble(2) - math.log(2.0)) < 1e-6) // mi = ln 2
    assert(rd.getDouble(5) === 1.0) // nmi exact: mi_q == hx_q == hy_q
    val ind = Seq(("a", "a"), ("a", "b"), ("b", "a"), ("b", "b")).toDF("x", "y")
    val ri = Graft.mutualInfo(ind, "x", "y").collect()(0)
    assert(ri.getDouble(2) === 0.0 && ri.getDouble(5) === 0.0)
  }

  test("calibrationBins cuts integer-exact bins with observed rates") {
    val s = spark; import s.implicits._
    // values 0..9 dollars, positive iff v >= 5: width = 900 div 10 + 1 = 91
    // puts each value in its own bin 0..9
    val df = (0 to 9).map(i => (i.toDouble, if (i >= 5) 1L else 0L))
      .toDF("score", "y")
    val out = Graft.calibrationBins(df, "score", "y").orderBy("bin").collect()
    assert(out.map(_.getLong(0)).toSeq === (0L to 9L))
    assert(out.forall(_.getLong(1) == 1L))
    assert(out.map(_.getLong(2)).toSeq === Seq(0L, 0L, 0L, 0L, 0L, 1L, 1L, 1L, 1L, 1L))
    // mean_norm of bin i is i/9 (min–max over 0..900 cents)
    assert(out.zipWithIndex.forall { case (r, i) =>
      math.abs(r.getDouble(3) - i / 9.0) < 1e-12 })
  }

  test("ndcgAtK is 1 for the ideal order, below 1 shuffled, NULL on zero gain") {
    val s = spark; import s.implicits._
    val perfect = Seq(("q", 10.0, 1L, 3L), ("q", 9.0, 2L, 2L), ("q", 8.0, 3L, 1L))
      .toDF("g", "score", "id", "rel")
    val rp = Graft.ndcgAtK(perfect, "g", "score", "id", "rel").collect()(0)
    assert(rp.getDouble(4) === 1.0)
    val shuffled = Seq(("q", 10.0, 1L, 0L), ("q", 9.0, 2L, 1L), ("q", 8.0, 3L, 3L))
      .toDF("g", "score", "id", "rel")
    val rs = Graft.ndcgAtK(shuffled, "g", "score", "id", "rel").collect()(0)
    assert(rs.getDouble(4) > 0.0 && rs.getDouble(4) < 1.0)
    val zero = Seq(("q", 10.0, 1L, 0L), ("q", 9.0, 2L, 0L))
      .toDF("g", "score", "id", "rel")
    assert(Graft.ndcgAtK(zero, "g", "score", "id", "rel").collect()(0).isNullAt(4))
  }

  test("confusionStats keeps never-predicted and hallucinated classes") {
    val s = spark; import s.implicits._
    val df = Seq(("a", "a"), ("a", "b"), ("b", "b"), ("b", "b"), ("c", "d"))
      .toDF("actual", "pred")
    val out = Graft.confusionStats(df, "actual", "pred").orderBy("label")
      .collect()
    assert(out.map(_.getString(0)).toSeq === Seq("a", "b", "c", "d"))
    // (n_actual, n_pred, tp) per class
    assert(out.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ===
      Seq((2L, 1L, 1L), (2L, 3L, 2L), (1L, 0L, 0L), (0L, 1L, 0L)))
    val a = out(0); val b = out(1); val c = out(2); val d = out(3)
    assert(a.getDouble(6) === 1.0 && math.abs(b.getDouble(6) - 2.0 / 3) < 1e-12)
    assert(c.isNullAt(6)) // precision undefined: never predicted
    assert(d.isNullAt(8) === false && d.getDouble(8) === 0.0) // hallucinated: f1 0
    assert(d.isNullAt(7)) // recall undefined: never actual
    assert(math.abs(a.getDouble(8) - 2.0 / 3) < 1e-12 && b.getDouble(8) === 0.8)
  }

  test("cohensKappa matches the textbook 2x2 case and perfect agreement") {
    val s = spark; import s.implicits._
    val rows = Seq.fill(20)(("a", "a")) ++ Seq.fill(5)(("a", "b")) ++
      Seq.fill(10)(("b", "a")) ++ Seq.fill(15)(("b", "b"))
    val r = Graft.cohensKappa(rows.toDF("x", "y"), "x", "y").collect()(0)
    assert(r.getLong(0) === 50L && r.getDouble(1) === 0.7 &&
      r.getDouble(2) === 0.5 && r.getDouble(3) === 0.4)
    val perfect = Graft.cohensKappa(
      Seq(("a", "a"), ("b", "b")).toDF("x", "y"), "x", "y").collect()(0)
    assert(perfect.getDouble(3) === 1.0)
    // single shared label: pe = 1, kappa undefined
    val degenerate = Graft.cohensKappa(
      Seq(("a", "a"), ("a", "a")).toDF("x", "y"), "x", "y").collect()(0)
    assert(degenerate.isNullAt(3))
  }

  test("regressionMetrics: perfect fit, mean predictor, constant actuals") {
    val s = spark; import s.implicits._
    val perfect = Seq((1.0, 1.0), (2.0, 2.0)).toDF("a", "p")
    val rp = Graft.regressionMetrics(perfect, "a", "p").collect()(0)
    assert(rp.getDouble(1) === 0.0 && rp.getDouble(2) === 0.0 &&
      rp.getDouble(3) === 1.0)
    // predicting the mean everywhere gives exactly R² = 0
    val mean = Seq((1.0, 2.0), (2.0, 2.0), (3.0, 2.0)).toDF("a", "p")
    val rm = Graft.regressionMetrics(mean, "a", "p").collect()(0)
    assert(math.abs(rm.getDouble(1) - 2.0 / 3) < 1e-12 && rm.getDouble(3) === 0.0)
    val const = Seq((5.0, 4.0), (5.0, 6.0)).toDF("a", "p")
    assert(Graft.regressionMetrics(const, "a", "p").collect()(0).isNullAt(3))
  }

  test("averagePrecisionAtK computes the textbook AP and NULLs no-relevant") {
    val s = spark; import s.implicits._
    // ranking by score desc: rel pattern 1,0,1 → AP = (1/1 + 2/3)/2 = 5/6
    val df = Seq(("q", 3.0, 1L, 1L), ("q", 2.0, 2L, 0L), ("q", 1.0, 3L, 1L),
      ("z", 1.0, 4L, 0L)).toDF("g", "score", "id", "rel")
    val out = Graft.averagePrecisionAtK(df, "g", "score", "id", "rel")
      .orderBy("g").collect()
    assert(math.abs(out(0).getDouble(4) - 5.0 / 6) < 1e-9)
    assert(out(0).getLong(2) === 2L && out(0).getLong(3) === 2L)
    assert(out(1).isNullAt(4)) // no relevant docs → NULL, not 0/0
  }

  test("profileColumns reports nulls, distincts, typed min/max per column") {
    val s = spark; import s.implicits._
    val df = Seq((Option(1L), Option("a")), (None, Option("a")),
      (Option(30L), None)).toDF("id", "v")
    val out = Graft.profileColumns(df, Seq("id", "v")).orderBy("col_name")
      .collect()
    assert(out(0).getString(0) === "id" && out(0).getLong(1) === 1L &&
      out(0).getLong(2) === 2L && out(0).getString(3) === "1" &&
      out(0).getString(4) === "30") // typed ordering: 30 > 1 numerically
    assert(out(1).getString(0) === "v" && out(1).getLong(1) === 1L &&
      out(1).getLong(2) === 1L && out(1).getString(3) === "a")
  }

  test("constraint audits count violations and report clean zeros") {
    val s = spark; import s.implicits._
    val child = Seq(1L, 2L, 2L, 99L).map(Tuple1(_)).toDF("k")
    val parent = Seq(1L, 2L).map(Tuple1(_)).toDF("pk")
    assert(Graft.fkViolations(child, "k", parent, "pk").collect()(0)
      .getLong(1) === 1L) // the 99
    assert(Graft.uniqueViolations(child, Seq("k")).collect()(0)
      .getLong(1) === 1L) // one extra 2
    val dom = Seq("A", "A", "X", null).map(Tuple1(_)).toDF("f")
    assert(Graft.domainViolations(dom, "f", Seq("A", "N")).collect()(0)
      .getLong(1) === 1L) // NULL is not a domain violation
    val rng = Seq(1.0, 50.0, 51.0, -3.0).map(Tuple1(_)).toDF("q")
    assert(Graft.rangeViolations(rng, "q", 1L, 50L).collect()(0)
      .getLong(1) === 2L)
    // clean data reports 0, not an empty frame
    assert(Graft.uniqueViolations(parent, Seq("pk")).collect()(0)
      .getLong(1) === 0L)
  }

  test("benfordAudit extracts leading significant digits from cents") {
    val s = spark; import s.implicits._
    // 0 is excluded; -2.5 counts as digit 2; 0.05 -> cents 5 -> digit 5
    val df = Seq(1.0, 19.99, -2.5, 0.0, 0.05).map(Tuple1(_)).toDF("v")
    val out = Graft.benfordAudit(df, "v").orderBy("digit").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("1", 2L), ("2", 1L), ("5", 1L)))
    assert(math.abs(out(0).getDouble(3) - math.log(2.0) / math.log(10.0)) < 1e-12)
  }

  test("sortedNeighborhoodPairs pairs each row with its w-1 sort successors") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "aa"), (2L, "ab"), (3L, "zz"), (4L, "ac"))
      .toDF("id", "k").repartition(3) // boundary pairs must survive
    val w2 = Graft.sortedNeighborhoodPairs(df, "k", "id", windowSize = 2)
      .orderBy("key_a").collect()
    assert(w2.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 2L), (2L, 4L), (4L, 3L))) // aa→ab→ac→zz in sort order
    val w3 = Graft.sortedNeighborhoodPairs(df, "k", "id", windowSize = 3)
    assert(w3.count() === 3 + 2) // (n-1) + (n-2)
  }

  test("equiDepthHistogram cuts exact order-statistic buckets") {
    val s = spark; import s.implicits._
    val df = (1 to 10).map(i => Tuple1(i.toDouble)).toDF("v")
    val out = Graft.equiDepthHistogram(df, "v", buckets = 5)
      .orderBy("bucket").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
      r.getDouble(3))).toSeq ===
      (0 to 4).map(b => (b.toLong, 2L, 2.0 * b + 1, 2.0 * b + 2)))
    // all-ties input: counts stay rank-determined, lo = hi = the value
    val ties = Seq.fill(4)(Tuple1(7.0)).toDF("v")
    val to = Graft.equiDepthHistogram(ties, "v", buckets = 2)
      .orderBy("bucket").collect()
    assert(to.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
      r.getDouble(3))).toSeq === Seq((0L, 2L, 7.0, 7.0), (1L, 2L, 7.0, 7.0)))
  }

  test("linkPrediction scores non-edges by common neighbors, caps hubs") {
    val s = spark; import s.implicits._
    // square 1-2-3-4-1: non-edges (1,3) and (2,4), two common neighbors
    // each, every degree 2 → jaccard 2/(2+2-2) = 1, aa = 2/ln 2
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("s", "d")
    val out = Graft.linkPrediction(square, "s", "d").orderBy("x").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq((1L, 3L, 2L), (2L, 4L, 2L)))
    assert(out.forall(_.getDouble(4) === 1.0))
    assert(out.forall(r => math.abs(r.getDouble(3) - 2.0 / math.log(2.0)) < 1e-6))
    // a star's center above maxDegree is excluded from the bridge role:
    // its leaves get no candidate pairs at all
    val star = (2L to 6L).map(i => (1L, i)).toDF("s", "d")
    assert(Graft.linkPrediction(star, "s", "d", maxDegree = 3).count() === 0)
    // with the cap lifted the leaves pair through the center
    assert(Graft.linkPrediction(star, "s", "d", maxDegree = 10).count() === 10)
  }

  test("evaluation/quality metric invariants hold on a seeded random dataset") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(42)
    val scored = Seq.fill(500)((rnd.nextInt(100) / 10.0, rnd.nextInt(2).toLong))
    val df = scored.toDF("s", "y")
    val a = Graft.auc(df, "s", "y").collect()(0)
    assert(a.getLong(0) + a.getLong(1) === 500L)
    assert(a.getDouble(3) >= 0.0 && a.getDouble(3) <= 1.0)
    val labels = Seq.fill(300)((rnd.nextInt(4).toString, rnd.nextInt(4).toString))
      .toDF("x", "y")
    assert(Graft.cohensKappa(labels, "x", "y").collect()(0)
      .getDouble(3) <= 1.0 + 1e-12)
    // confusion marginal identities: Σ n_actual = Σ n_pred = N
    val cf = Graft.confusionStats(labels, "x", "y")
      .agg(sum("n_actual"), sum("n_pred")).collect()(0)
    assert(cf.getLong(0) === 300L && cf.getLong(1) === 300L)
    // equi-depth buckets partition N and balance within one row
    val vals = Seq.fill(777)(Tuple1(rnd.nextDouble() * 100)).toDF("v")
    val h = Graft.equiDepthHistogram(vals, "v", buckets = 8).collect()
    assert(h.map(_.getLong(1)).sum === 777L)
    assert(h.map(_.getLong(1)).max - h.map(_.getLong(1)).min <= 1L)
    // calibration bins partition rows and positives exactly
    val cb = Graft.calibrationBins(df, "s", "y").agg(sum("n"), sum("n_pos"))
      .collect()(0)
    assert(cb.getLong(0) === 500L && cb.getLong(1) === scored.count(_._2 == 1L))
  }

  test("rollingSlope computes exact per-frame OLS, NULL on zero variance") {
    val s = spark; import s.implicits._
    val df = Seq(("a", 1L, 10L, 1L), ("a", 2L, 20L, 2L), ("a", 3L, 30L, 3L),
      ("b", 5L, 7L, 4L)).toDF("k", "x", "y", "id")
    val out = Graft.rollingSlope(df, "k", "x", "y", "id", windowRows = 3)
      .orderBy("k", "x").collect()
    assert(out(0).isNullAt(5)) // single-row frame: no variance
    assert(out(1).getDouble(5) === 10.0 && out(2).getDouble(5) === 10.0)
    assert(out(2).getLong(4) === 3L) // full frame
    assert(out(3).isNullAt(5)) // key b has one row
  }

  test("anovaOneWay: exact textbook F and eta2, NULL on zero within-variance") {
    val s = spark; import s.implicits._
    // groups {1,3} and {2,4}: SSB = 1, SSW = 4, F = 0.5, eta2 = 0.2
    val df = Seq(("g1", 1.0), ("g1", 3.0), ("g2", 2.0), ("g2", 4.0))
      .toDF("g", "v")
    val r = Graft.anovaOneWay(df, "v", "g").collect()(0)
    assert(r.getLong(0) === 2L && r.getLong(1) === 4L)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-6 &&
      math.abs(r.getDouble(3) - 4.0) < 1e-6)
    assert(math.abs(r.getDouble(4) - 0.5) < 1e-6 &&
      math.abs(r.getDouble(5) - 0.2) < 1e-6)
    // constant-within groups: all variance explained, F undefined
    val pure = Seq(("g1", 10.0), ("g1", 10.0), ("g2", 20.0), ("g2", 20.0))
      .toDF("g", "v")
    val rp = Graft.anovaOneWay(pure, "v", "g").collect()(0)
    assert(rp.isNullAt(4) && rp.getDouble(5) === 1.0)
  }

  test("bootstrapMeanCI: degenerate-constant data collapses the interval") {
    val s = spark; import s.implicits._
    val const = (1 to 50).map(i => (i.toLong, 7.0)).toDF("id", "v")
    val rc = Graft.bootstrapMeanCI(const, "v", "id", resamples = 40).collect()(0)
    assert(rc.getLong(0) === 50L && rc.getLong(1) === 40L)
    // every resample averages the same value whatever the weights
    assert(rc.getDouble(2) === 7.0 && rc.getDouble(3) === 7.0 &&
      rc.getDouble(4) === 7.0)
    val rnd = new scala.util.Random(7)
    val noisy = (1 to 400).map(i => (i.toLong, 50.0 + rnd.nextInt(100)))
      .toDF("id", "v")
    val rn = Graft.bootstrapMeanCI(noisy, "v", "id", resamples = 100).collect()(0)
    assert(rn.getDouble(3) < rn.getDouble(4)) // nondegenerate interval
    assert(rn.getDouble(3) <= rn.getDouble(2) &&
      rn.getDouble(2) <= rn.getDouble(4)) // brackets the sample mean
  }

  test("globalCumSum prefix-sums across partition boundaries") {
    val s = spark; import s.implicits._
    val df = Seq((3L, 30L), (1L, 10L), (2L, 20L), (4L, 40L))
      .toDF("k", "v").repartition(3)
    val out = Graft.globalCumSum(df, Seq("k"), "v", "cum")
      .orderBy("k").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(2))).toSeq ===
      Seq((1L, 10L), (2L, 30L), (3L, 60L), (4L, 100L)))
  }

  test("weightedPercentiles picks the exact threshold-crossing values") {
    val s = spark; import s.implicits._
    // W = 4: p250 threshold 1 → v=1, p500 threshold 2 → v=2, p750 → v=3
    val df = Seq((1.0, 1L, 1L), (2.0, 1L, 2L), (3.0, 2L, 3L))
      .toDF("v", "w", "id")
    val r = Graft.weightedPercentiles(df, "v", "w", "id").collect()(0)
    assert(r.getLong(0) === 4L)
    assert((r.getDouble(1), r.getDouble(2), r.getDouble(3)) === ((1.0, 2.0, 3.0)))
    // weight-2 on the max value dominates: same answer as exploding rows
  }

  test("checkpointDir: every iterative graph op writes reliable checkpoints and matches localCheckpoint output") {
    val s = spark; import s.implicits._
    // A graph with a clique (so kCore keeps something), weights, and a
    // parent hierarchy — one fixture drives all six iterative ops.
    val edges = Seq(
      ("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 2.0), ("a", "c", 1.0),
      ("c", "d", 3.0), ("d", "e", 1.0), ("e", "f", 2.0), ("b", "d", 1.0)
    ).toDF("s", "d", "w")
    val nodes = Seq(("b", "a"), ("c", "b"), ("d", "c"), ("e", "d"))
      .toDF("child", "parent")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    def withDir(f: String => Unit): Unit = {
      val dir = TempDirs.untilExit("graft_ckpt_")
      try f(dir.getAbsolutePath)
      finally {
        // files must actually have landed: the durability contract is
        // that every round's cut is on reliable storage
        def walk(x: java.io.File): Seq[java.io.File] =
          if (x.isDirectory) x.listFiles().toSeq.flatMap(walk) else Seq(x)
        assert(walk(dir).nonEmpty, s"no checkpoint files under $dir")
        walk(dir).foreach(_.delete())
      }
    }
    withDir { d =>
      assert(rows(Graft.pageRank(edges, "s", "d", "w", checkpointDir = Some(d))) ===
        rows(Graft.pageRank(edges, "s", "d", "w")))
    }
    withDir { d =>
      assert(rows(Graft.shortestPaths(edges, "s", "d", "a", checkpointDir = Some(d))) ===
        rows(Graft.shortestPaths(edges, "s", "d", "a")))
    }
    withDir { d =>
      assert(rows(Graft.weightedShortestPaths(edges, "s", "d", "w", "a",
          checkpointDir = Some(d))) ===
        rows(Graft.weightedShortestPaths(edges, "s", "d", "w", "a")))
    }
    withDir { d =>
      assert(rows(Graft.labelPropagation(edges, "s", "d", checkpointDir = Some(d))) ===
        rows(Graft.labelPropagation(edges, "s", "d")))
    }
    withDir { d =>
      assert(rows(Graft.kCore(edges, "s", "d", k = 2, checkpointDir = Some(d))) ===
        rows(Graft.kCore(edges, "s", "d", k = 2)))
    }
    withDir { d =>
      assert(rows(Graft.flattenHierarchy(nodes, "child", "parent",
          checkpointDir = Some(d))) ===
        rows(Graft.flattenHierarchy(nodes, "child", "parent")))
    }
  }

  test("pairBudgetGuard trips loudly past maxPairs, passes under it") {
    val s = spark; import s.implicits._
    // 20 identical docs: every bucket holds all 20 → C(20,2) = 190 pairs
    val dup = (1 to 20).map(i => (i.toLong, "alpha beta gamma delta epsilon zeta"))
      .toDF("id", "txt")
    val ex = intercept[Exception] {
      Graft.nearDupPairsExact(dup, "txt", "id", maxPairs = 100L).count()
    }
    assert(ex.getMessage.contains("maxPairs"), ex.getMessage)
    assert(ex.getMessage.contains("connectedComponents"), ex.getMessage)
    // same corpus under a loose cap still enumerates exactly
    assert(Graft.nearDupPairsExact(dup, "txt", "id", maxPairs = 1000L).count() === 190L)
    // the capped (collect_list) path and the minhash path trip too
    val exCap = intercept[Exception] {
      Graft.nearDupPairsExact(dup, "txt", "id", maxShingleDf = Some(50),
        maxPairs = 100L).count()
    }
    assert(exCap.getMessage.contains("maxPairs"), exCap.getMessage)
    val exMh = intercept[Exception] {
      operators.Dedup.minhashPairs(dup.withColumnRenamed("id", "doc_id")
        .withColumnRenamed("txt", "text"), "text", "doc_id", 4, 5,
        maxPairs = 100L).count()
    }
    assert(exMh.getMessage.contains("maxPairs"), exMh.getMessage)
  }

  test("expansionGuard trips on member re-expansion the bucket budgets cannot see") {
    val s = spark; import s.implicits._
    // two near-dup TEXTS (trigram J = 8/10 = 0.8), each duplicated 10x:
    // candidate buckets see 2 distinct reps (tiny), within-group output
    // is 2*C(10,2) = 90, but the cross expansion is 10*10 = 100 pairs
    val t1 = "a b c d e f g h i j k"
    val t2 = "a b c d e f g h i j z"
    val docs = ((1 to 10).map(i => (i.toLong, t1)) ++
      (11 to 20).map(i => (i.toLong, t2))).toDF("doc_id", "text")
    val ex = intercept[Exception] {
      operators.Dedup.minhashPairs(docs, "text", "doc_id", 4, 5,
        maxPairs = 95L).count()
    }
    assert(ex.getMessage.contains("member expansion"), ex.getMessage)
    // 10 more of budget and the same corpus enumerates in full:
    // 90 within + 100 cross = 190 pairs
    assert(operators.Dedup.minhashPairs(docs, "text", "doc_id", 4, 5,
      maxPairs = 200L).count() === 190L)
  }

  test("histogramPercentiles: within one bin width of exact, partition-invariant") {
    val s = spark; import s.implicits._
    val df = (1 to 1000).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    val r = Graft.histogramPercentiles(df, "v", Seq(0.5, 0.9, 0.99), bins = 100)
      .collect()(0)
    assert(r.getLong(0) === 1000L)
    val binWidth = 999.0 / 100
    // exact p50=500, p90=900, p99=990 (rank semantics: the ⌈p·n⌉-th value)
    assert(math.abs(r.getDouble(1) - 500.0) <= binWidth)
    assert(math.abs(r.getDouble(2) - 900.0) <= binWidth)
    assert(math.abs(r.getDouble(3) - 990.0) <= binWidth)
    // partition-invariance: identical bits under any repartitioning
    val again = Graft.histogramPercentiles(df.repartition(7), "v",
      Seq(0.5, 0.9, 0.99), bins = 100).collect()(0)
    assert((1 to 3).forall(i => again.getDouble(i) == r.getDouble(i)))
  }

  test("histogramPercentiles: constant column collapses to that value") {
    val s = spark; import s.implicits._
    val const = (1 to 50).map(i => (i.toLong, 7.5)).toDF("id", "v")
    val r = Graft.histogramPercentiles(const, "v", Seq(0.5), bins = 64).collect()(0)
    assert(r.getDouble(1) === 7.5)
  }

  test("proportionalSample allocates floor(size*ng/N) per stratum exactly") {
    val s = spark; import s.implicits._
    // strata of 60/30/10 rows, size 10 → takes 6/3/1
    val df = ((1 to 60).map(i => (i.toLong, "a")) ++
      (61 to 90).map(i => (i.toLong, "b")) ++
      (91 to 100).map(i => (i.toLong, "c"))).toDF("id", "g")
    val out = Graft.proportionalSample(df, "g", "id", sampleSize = 10)
    val byG = out.groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byG === Map("a" -> 6L, "b" -> 3L, "c" -> 1L))
    // deterministic under repartitioning
    val again = Graft.proportionalSample(df.repartition(7), "g", "id", 10)
      .select("id").orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(again ===
      out.select("id").orderBy("id").collect().map(_.getLong(0)).toSeq)
  }

  test("crossValidateGroupMean uses out-of-fold means and skips lone groups") {
    val s = spark; import s.implicits._
    // group 'a' constant 10.0 everywhere: every out-of-fold mean is
    // exactly 10.0 → RMSE 0 in every fold it appears in
    val const = (1 to 40).map(i => (i.toLong, "a", 10.0)).toDF("id", "g", "v")
    val rc = Graft.crossValidateGroupMean(const, "v", "g", "id", folds = 4)
      .collect()
    assert(rc.nonEmpty && rc.forall(_.getDouble(3) === 0.0))
    assert(rc.map(_.getLong(1)).sum === 40L)
    // a group confined to one fold has no out-of-fold model → skipped
    val lone = ((1 to 20).map(i => (i.toLong, "a", 10.0)) :+
      (100L, "only", 5.0)).toDF("id", "g", "v")
    val rl = Graft.crossValidateGroupMean(lone, "v", "g", "id", folds = 4)
      .collect()
    assert(rl.map(_.getLong(2)).sum === 1L) // the lone-group row skipped
  }

  test("timeTravelAudit resolves snapshots; vacuumPlan respects retention") {
    val s = spark; import s.implicits._
    val m = Seq((1L, 0L, Option.empty[Long], 10L), (2L, 1L, Option(3L), 20L),
      (3L, 2L, Option.empty[Long], 30L)).toDF("f", "added", "deleted", "rows")
    val tt = Graft.timeTravelAudit(m, "added", "deleted", "rows", maxVersion = 3)
      .orderBy("version").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // v2 sees all three; at v3 file 2 (deleted=3) disappears
    assert(tt.toSeq === Seq((0L, 1L, 10L), (1L, 2L, 30L), (2L, 3L, 60L),
      (3L, 2L, 40L)))
    // retention 2 at version 5: only deletions at or before v3 are safe
    val vac = Graft.vacuumPlan(m, "deleted", currentVersion = 5,
      retainVersions = 2).collect()
    assert(vac.map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("adjustedRandIndex: identical partitions 1, label-permuted still 1") {
    val s = spark; import s.implicits._
    val same = Seq(("x", "1"), ("x", "1"), ("y", "2"), ("y", "2"), ("z", "3"))
      .toDF("a", "b")
    assert(Graft.adjustedRandIndex(same, "a", "b").collect()(0)
      .getDouble(2) === 1.0) // permutation-invariance: labels differ, pairs agree
    // textbook case {p,p,q,q} vs {m,n,n,n}: agreement exactly at chance
    // level — comb=1, E=C(2)a·C(2)b/C(n,2)=1, so ARI is exactly 0
    val mixed = Seq(("p", "m"), ("p", "n"), ("q", "n"), ("q", "n"))
      .toDF("a", "b")
    val r = Graft.adjustedRandIndex(mixed, "a", "b").collect()(0)
    assert(r.getDouble(2) === 0.0)
    // all-singletons on both sides: denominator 0 → NULL
    val deg = Seq(("a", "1"), ("b", "2")).toDF("a", "b")
    assert(Graft.adjustedRandIndex(deg, "a", "b").collect()(0).isNullAt(2))
  }

  test("winsorize clips into the exact order-statistic band") {
    val s = spark; import s.implicits._
    val df = (1 to 10).map(i => (i.toLong, "g", i * 10.0)).toDF("id", "grp", "v")
    val out = Graft.winsorize(df, "v", "grp", "id",
      loPermille = 200, hiPermille = 800).orderBy("id").collect()
    // n=10: lo pos = ceil(2000/1000)=2 -> 20.0, hi pos = 8 -> 80.0
    assert(out.forall(r => r.getDouble(3) === 20.0 && r.getDouble(4) === 80.0))
    assert(out.map(_.getDouble(5)).toSeq ===
      Seq(20.0, 20.0, 30.0, 40.0, 50.0, 60.0, 70.0, 80.0, 80.0, 80.0))
  }

  test("prefixFilterJaccardPairs equals the unfiltered brute force, including boundary ties") {
    val s = spark; import s.implicits._
    // word-level (ngram=1) so intersections are easy to reason about;
    // docs engineered so some pairs sit EXACTLY at the 1/2 threshold:
    // J(d1,d2): tokens {a,b,c,d} vs {a,b,c,e}: i=3, u=5 -> 0.6 >= 0.5 keep
    // J(d1,d3): {a,b,c,d} vs {a,b,x,y}: i=2, u=6 -> 1/3 drop
    // J(d4,d5): {p,q} vs {p,r}: i=1, u=3 -> 1/3 drop
    // J(d1,d6): {a,b,c,d} vs {a,b,c,d}: 1.0 keep
    // J(d7,d8): {m,n,o} vs {m,n,o,z,w,v}: i=3, u=6 -> exactly 0.5 keep
    val df = Seq(
      (1L, "a b c d"), (2L, "a b c e"), (3L, "a b x y"),
      (4L, "p q"), (5L, "p r"), (6L, "d c b a"),
      (7L, "m n o"), (8L, "m n o z w v")).toDF("id", "txt")
    val got = graft.api.Graft.prefixFilterJaccardPairs(df, "txt", "id",
        num = 1, den = 2, ngram = 1)
      .select("da", "db", "inter", "uni").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
    // brute force over all pairs in plain Scala
    val toks = Map(1L -> Set("a","b","c","d"), 2L -> Set("a","b","c","e"),
      3L -> Set("a","b","x","y"), 4L -> Set("p","q"), 5L -> Set("p","r"),
      6L -> Set("a","b","c","d"), 7L -> Set("m","n","o"),
      8L -> Set("m","n","o","z","w","v"))
    val want = (for {
      a <- toks.keys; b <- toks.keys if a < b
      i = (toks(a) & toks(b)).size; u = (toks(a) | toks(b)).size
      if 2 * i >= u
    } yield (a, b, i.toLong, u.toLong)).toSeq.sorted
    assert(got === want)
    assert(got.contains((7L, 8L, 3L, 6L))) // the exact-boundary pair survives
    assert(got.contains((1L, 6L, 4L, 4L))) // identical token sets
    // repartition invariance
    val again = graft.api.Graft.prefixFilterJaccardPairs(df.repartition(5),
        "txt", "id", num = 1, den = 2, ngram = 1)
      .select("da", "db", "inter", "uni").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
    assert(again === got)
  }

  test("fdAudit counts extra RHS combinations and excludes null rows") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1, "a"), (1, "a"),          // 1 -> a consistently
      (2, "b"), (2, "c"), (2, "d"),// 2 -> three values: 2 violations
      (3, "e"),
      (4, null.asInstanceOf[String]) // null rhs: excluded entirely
    ).toDF("k", "v")
    val out = graft.api.Graft.fdAudit(df, "t", Seq(("k", "v"))).collect().head
    assert(out.getString(0) === "t.k->v")
    assert(out.getLong(1) === 3L) // distinct k among non-null rows
    assert(out.getLong(2) === 5L) // (1,a) (2,b) (2,c) (2,d) (3,e)
    assert(out.getLong(3) === 2L)
    assert(!out.getBoolean(4))
    val clean = graft.api.Graft.fdAudit(df.filter($"k" =!= 2), "t",
      Seq(("k", "v"))).collect().head
    assert(clean.getBoolean(4) && clean.getLong(3) === 0L)
  }

  test("weightedShortestPaths relaxes beyond the hop-minimal route and respects maxHops") {
    val s = spark; import s.implicits._
    val edges = Seq(
      ("a", "b", 10L), ("b", "c", 10L), ("a", "c", 100L),
      ("c", "d", 1L), ("a", "d", 500L),
      ("a", "b", 70L) // parallel edge: cheapest must win
    ).toDF("src", "dst", "w")
    def run(h: Int) = graft.api.Graft
      .weightedShortestPaths(edges, "src", "dst", "w", source = "a", maxHops = h)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // 4 hops: c via a->b->c = 20 (not the direct 100); d via that + 1
    assert(run(4) === Map("a" -> 0L, "b" -> 10L, "c" -> 20L, "d" -> 21L))
    // 1 hop: only direct edges
    assert(run(1) === Map("a" -> 0L, "b" -> 10L, "c" -> 100L, "d" -> 500L))
    // 2 hops: c improves to 20, d only via direct or c+1 = 101
    assert(run(2) === Map("a" -> 0L, "b" -> 10L, "c" -> 20L, "d" -> 101L))
    // negative weights refused — in-plan raise_error during the eager
    // edge-table setup job (no standalone validation pass, r9)
    val ex = intercept[Exception] {
      graft.api.Graft.weightedShortestPaths(
        Seq(("a", "b", -1L)).toDF("src", "dst", "w"),
        "src", "dst", "w", source = "a")
    }
    assert(ex.getMessage.contains("negative edge weight"), ex.getMessage)
  }

  test("q195 linkage score: agreement pattern maps to the exact micro-nat sum") {
    val s = spark
    val out = graft.SparkEntry.queries("q195_linkage_score")(s, "/root/testdata/sf0.01")
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val want = (if (r.getBoolean(2)) 2890372L else -2251292L) +
        (if (r.getBoolean(3)) 1386294L else -1386294L) +
        (if (r.getBoolean(4)) 1945910L else -1098612L)
      assert(r.getLong(5) === want)
      assert(r.getLong(5) > 0L) // only likely matches survive
    }
    // at least one field must agree for any positive score (all-disagree
    // sums to -4736198)
    assert(out.forall(r => r.getBoolean(2) || r.getBoolean(3) || r.getBoolean(4)))
  }

  test("flattenHierarchy resolves deep chains logarithmically and surfaces cycles as NULL") {
    val s = spark; import s.implicits._
    // a depth-1000 chain: maxDoubling = 11 suffices (2^10 = 1024 >= 1000);
    // a parent-walk formulation would need 1000 rounds
    val chain = (0L until 1000L).map(i =>
      (i, if (i == 0) None else Some(i - 1))).toDF("node", "parent")
    val out = graft.api.Graft.flattenHierarchy(chain, "node", "parent",
      maxDoubling = 11).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(0L) === ((0L, 0L)))
    assert(out(999L) === ((0L, 999L)))
    assert(out(500L) === ((0L, 500L)))
    // forest: two roots
    val forest = Seq((10L, None), (20L, None), (11L, Some(10L)),
      (21L, Some(20L)), (22L, Some(21L))).toDF("node", "parent")
    val f = graft.api.Graft.flattenHierarchy(forest, "node", "parent")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(f(11L) === ((10L, 1L)) && f(22L) === ((20L, 2L)) && f(20L) === ((20L, 0L)))
    // a 2-cycle (a->b->a) never reaches a root: NULL root/depth, no spin
    val cyc = Seq((1L, Some(2L)), (2L, Some(1L)), (3L, None),
      (4L, Some(3L))).toDF("node", "parent")
    val c = graft.api.Graft.flattenHierarchy(cyc, "node", "parent",
      maxDoubling = 5).collect()
    assert(c.filter(r => r.getLong(0) <= 2L).forall(r => r.isNullAt(1) && r.isNullAt(2)))
    assert(c.find(_.getLong(0) == 4L).get.getLong(1) === 3L)
    // a DANGLING parent pointer surfaces with NULL root/depth - it must
    // never silently vanish (and neither may its subtree)
    val dang = Seq((1L, Some(99L)), (5L, Some(1L)), (3L, None))
      .toDF("node", "parent")
    val d = graft.api.Graft.flattenHierarchy(dang, "node", "parent",
      maxDoubling = 5).collect().map(r =>
        r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(d.keySet === Set(1L, 5L, 3L))
    assert(d(1L).isEmpty && d(5L).isEmpty && d(3L) === Some(3L))
  }

  test("intervalOverlapJoin equals the theta join across bucket boundaries") {
    val s = spark; import s.implicits._
    val a = Seq((1L, 101L, 0L, 100L), (1L, 102L, 950L, 1050L),
      (2L, 103L, 0L, 10L), (1L, 104L, 200L, 200L)).toDF("k", "id", "s", "e")
    val b = Seq((1L, 201L, 90L, 200L), (1L, 202L, 1000L, 2000L),
      (2L, 203L, 10L, 20L), (1L, 204L, 100L, 150L)).toDF("k", "id", "s", "e")
    // bucket width 100 forces multi-bucket spans and cross-boundary pairs
    val got = graft.api.Graft.intervalOverlapJoin(a, b, "k", "s", "e", "id", 100L)
      .select("a_id", "b_id", "overlap_us").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    // brute force: 101-201 overlap 10; 102-202 overlap 50 (crosses the
    // 1000 boundary); 103-203 touch at a point (overlap 0 - excluded);
    // 101-204 touch at 100 (excluded); 104 is empty (s = e - dropped)
    assert(got === Seq((101L, 201L, 10L), (102L, 202L, 50L)))
    // different keys never pair even in the same bucket
    assert(!got.exists { case (x, y, _) => x == 103L || y == 203L })
    // duplicated input ROWS keep their multiplicity (the theta join the
    // oracle states would emit the pair once per duplicate)
    val aDup = a.unionAll(a.filter($"id" === 101L))
    val gotDup = graft.api.Graft.intervalOverlapJoin(aDup, b, "k", "s", "e", "id", 100L)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(gotDup === Seq((101L, 201L), (101L, 201L), (102L, 202L)))
    // a corrupt span fails loudly instead of exploding into replicas
    val corrupt = Seq((1L, 999L, 0L, Long.MaxValue / 2)).toDF("k", "id", "s", "e")
    val ex = intercept[Exception] {
      graft.api.Graft.intervalOverlapJoin(corrupt, b, "k", "s", "e", "id", 100L)
        .collect()
    }
    assert(ex.getMessage.contains("spans more than") ||
      Option(ex.getCause).exists(_.getMessage.contains("spans more than")))
  }

  test("spearmanCorr: monotone ±1 exactly under ties, null on constants") {
    val s = spark; import s.implicits._
    // strictly monotone with tie groups: tied x values are tied in y
    // too, so rank vectors coincide and rho must be EXACTLY 1.0
    val up = Seq((1.0, 10.0), (2.0, 20.0), (2.0, 20.0), (3.0, 35.0),
      (5.0, 36.0)).toDF("x", "y")
    val r1 = Graft.spearmanCorr(up, "x", "y").collect().head
    // the clamp caps the 1-ulp sqrt·sqrt excess at exactly 1.0; the
    // anti-monotone case can land 1 ulp SHORT (inside the clamp), so
    // assert to within an ulp — the value is still deterministic and
    // engine-identical (the oracle runs the same expression shape)
    assert(r1.getLong(0) === 5L && r1.getDouble(1) === 1.0)
    val down = Seq((1.0, 36.0), (2.0, 35.0), (3.0, 20.0), (4.0, 10.0)).toDF("x", "y")
    assert(math.abs(Graft.spearmanCorr(down, "x", "y").collect().head.getDouble(1)
      - (-1.0)) < 1e-15)
    // constant column: zero variance -> null, not NaN
    val const = Seq((1.0, 7.0), (2.0, 7.0), (3.0, 7.0)).toDF("x", "y")
    assert(Graft.spearmanCorr(const, "x", "y").collect().head.isNullAt(1))
    // tie-averaging is the textbook Pearson-on-average-ranks: x=[1,2,2,3]
    // ranks [1,2.5,2.5,4], y ranks [1,3,2,4] -> centered moments
    // sxy=18, sxx=18, syy=20 -> rho = 18/sqrt(360) = 3/sqrt(10)
    // (the naive 1-6Σd²/n(n²-1) shortcut is INVALID under ties)
    val mixed = Seq((1.0, 1.0), (2.0, 4.0), (2.0, 3.0), (3.0, 5.0)).toDF("x", "y")
    val rho = Graft.spearmanCorr(mixed, "x", "y").collect().head.getDouble(1)
    assert(math.abs(rho - 3.0 / math.sqrt(10.0)) < 1e-12)
    // nulls in either column are excluded from n
    val withNull = Seq((Some(1.0), Some(1.0)), (None, Some(2.0)),
      (Some(3.0), None), (Some(2.0), Some(2.0))).toDF("x", "y")
    assert(Graft.spearmanCorr(withNull, "x", "y").collect().head.getLong(0) === 2L)
  }

  test("contaminationScore: argmax eval doc with count-desc id-asc ties, clean rows kept") {
    val s = spark; import s.implicits._
    val train = Seq(
      (1L, "a b c d e f"),        // 4 trigrams; abc+bcd hit e1, cde hits e2
      (2L, "x y z w"),            // clean: 2 trigrams, no overlap
      (3L, "a b c x1 a b c"),     // abc twice -> DISTINCT once; ties e1/e3
      (4L, "one two")).toDF("doc_id", "text") // <3 words: no grams
    val eval_ = Seq(
      (10L, "a b c d q"),         // trigrams abc, bcd, cdq
      (11L, "c d e p q"),         // cde, dep, epq
      (12L, "a b c zz")).toDF("doc_id", "text") // abc
    val out = Graft.contaminationScore(train, eval_, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 1: 4 distinct trigrams, overlap with e10 = {abc, bcd} = 2,
    // e11 = {cde} = 1 -> top is 10 with 2/4
    assert(out(1L).getLong(1) === 4L && out(1L).getLong(2) === 10L &&
      out(1L).getLong(3) === 2L && out(1L).getDouble(4) === 0.5)
    // doc 3: distinct grams {abc, "bc x1", "c x1 a", "x1 a b"} -> abc
    // only; e10 and e12 both overlap 1 -> tie breaks to the SMALLER id
    assert(out(3L).getLong(2) === 10L && out(3L).getLong(3) === 1L)
    // clean doc: NULL top id, zero overlap, zero fraction
    assert(out(2L).isNullAt(2) && out(2L).getLong(3) === 0L &&
      out(2L).getDouble(4) === 0.0)
    // gram-less doc: n_grams 0, fraction 0 (not NaN)
    assert(out(4L).getLong(1) === 0L && out(4L).getDouble(4) === 0.0)
    // eval docs never appear as output rows
    assert(!out.contains(10L) && out.size === 4)
  }

  test("mixPlan: caps at maxEpochs and redistributes to uncapped sources") {
    val s = spark; import s.implicits._
    // A: 100 tokens (tiny -> sqrt-upweighted -> capped at 3 epochs),
    // B: 10000 tokens. budget 5000: wantA = 5000/11 = 454.5 > 300 cap.
    val rows = Seq(("A", 40L), ("A", 60L), ("B", 10000L)).toDF("src", "nt")
    val out = Graft.mixPlan(rows, "nt", "src", budgetTokens = 5000L,
      maxEpochs = 3.0).collect().map(r => r.getString(0) -> r).toMap
    val a = out("A"); val b = out("B")
    assert(a.getBoolean(3) && !b.getBoolean(3))
    // capped source lands on EXACTLY the cap
    assert(a.getLong(1) === 100L && a.getDouble(4) === 3.0 &&
      a.getDouble(5) === 300.0)
    // one redistribution round hands B the whole remainder: 4700 tokens
    assert(math.abs(b.getDouble(5) - 4700.0) < 1e-3)
    assert(math.abs(a.getDouble(6) + b.getDouble(6) - 1.0) < 1e-6)
    // weights are the sqrt-temperature shares: 10/110 and 100/110
    assert(math.abs(a.getDouble(2) - 10.0 / 110.0) < 1e-9)
    // round-2 clip: B's want (13513.5) is a hair under its cap (13514),
    // and the remainder redistributed off capped A (~110 tokens) pushes
    // it OVER — `capped` must report the post-redistribution saturation
    // (the round-1 flag said false here), with the clipped sliver
    // showing up as sum(share) < 1
    val rows2 = Seq(("A", 100L), ("B", 10000L), ("C", 1000000L)).toDF("src", "nt")
    val o2 = Graft.mixPlan(rows2, "nt", "src", budgetTokens = 150000L,
      maxEpochs = 1.3514).collect().map(r => r.getString(0) -> r).toMap
    assert(o2("A").getBoolean(3) && o2("B").getBoolean(3) &&
      !o2("C").getBoolean(3))
    assert(math.abs(o2("B").getDouble(4) - 1.3514) < 1e-9)
    val shareSum = Seq("A", "B", "C").map(o2(_).getDouble(6)).sum
    assert(shareSum < 1.0 && shareSum > 0.999)
    // budgets past the micro-token long range fail loudly, not wrap
    val ex2 = intercept[IllegalArgumentException] {
      Graft.mixPlan(rows2, "nt", "src", budgetTokens = 15_000_000_000_000L)
    }
    assert(ex2.getMessage.contains("micro-token"))
  }

  test("ccnetBuckets: per-lang integer terciles, smoothing floors unseen grams") {
    val s = spark; import s.implicits._
    // lang A: train docs 0 and 5 define the LM; 5 scorable docs ->
    // 2/2/1 terciles by the integer formula. Doc 13's words are
    // entirely unseen -> every bigram costs the ln(V) smoothing floor.
    val docs = Seq(
      (0L, "a", "the cat sat on the mat"),
      (5L, "a", "the cat sat on the mat"),   // exactly the reference
      (6L, "a", "the cat sat on a mat"),
      (7L, "a", "the mat sat on the cat"),
      (11L, "a", "the cat sat"),
      (12L, "a", "cat mat the on sat"),
      (13L, "a", "zq wx kj vb nm"),          // fully unseen vocabulary
      (14L, "a", "word"),                     // 1 token: unscorable
      (10L, "b", "alpha beta gamma alpha beta"),
      (8L, "b", "alpha beta gamma"),
      (9L, "b", "gamma beta alpha"),
      (16L, "b", "beta alpha alpha beta")).toDF("doc_id", "lang", "text")
    val out = Graft.ccnetBuckets(docs, "text", "doc_id", "lang",
      col("doc_id") % 5 === 0).collect()
    val byId = out.map(r => r.getLong(0) -> (r.getString(1), r.getLong(2),
      r.getDouble(3), r.getString(4))).toMap
    // unscorable doc dropped; train docs never scored
    assert(!byId.contains(14L) && !byId.contains(0L) && !byId.contains(5L) &&
      !byId.contains(10L))
    // lang a scored docs: 6,7,11,12,13 (and NOT 14) -> n=5 -> buckets 2/2/1
    val aB = out.filter(_.getString(1) == "a").map(_.getString(4))
    assert(aB.count(_ == "head") === 2 && aB.count(_ == "middle") === 2 &&
      aB.count(_ == "tail") === 1)
    // the all-unseen doc scores EXACTLY the smoothing floor ln(V)=ln(5)
    // per bigram (cu=cb=0 -> ln(kV/k)); note this is NOT the maximum —
    // a SEEN unigram with unseen continuation costs ln((cu+kV)/k) more,
    // the correct -ln P(w2|w1) behavior of add-k smoothing
    assert(math.abs(byId(13L)._3 - 1.609437912) < 1e-9)
    // lang b: 3 scorable docs -> exactly one of each bucket
    val bB = out.filter(_.getString(1) == "b").map(_.getString(4)).sorted
    assert(bB.toSeq === Seq("head", "middle", "tail"))
    // the verbatim-reference doc of lang b (8: a sub-sequence of train
    // bigrams) must score BELOW the reversed doc 9
    assert(byId(8L)._3 < byId(9L)._3)
  }

  test("jsDivergence: hand value, identical = 0, disjoint = ln 2 exactly") {
    val s = spark; import s.implicits._
    val df = Seq(("A", "a a b"), ("B", "a c")).toDF("src", "text")
    val r = Graft.jsDivergence(df, "text", "src").collect().head
    assert(r.getString(0) === "A" && r.getString(1) === "B" &&
      r.getLong(2) === 1L)
    // shared token 'a': p=2/3, q=1/2; private mass: b (1/3), c (1/2)
    val p = 2.0 / 3.0; val q = 1.0 / 2.0; val ln2 = 0.6931471805599453
    val term = 0.5 * (p * math.log(2.0 * p / (p + q)) +
      q * math.log(2.0 * q / (p + q)))
    val expected = term + 0.5 * ln2 * (1.0 - 2.0 / 3.0) +
      0.5 * ln2 * (1.0 - 1.0 / 2.0)
    assert(math.abs(r.getDouble(3) - expected) < 1e-8)

    val same = Seq(("A", "a b"), ("B", "a b")).toDF("src", "text")
    assert(Graft.jsDivergence(same, "text", "src").collect().head
      .getDouble(3) === 0.0)

    // zero shared vocabulary: the pair must still appear, at exactly ln 2
    val disj = Seq(("A", "x"), ("B", "y")).toDF("src", "text")
    val d = Graft.jsDivergence(disj, "text", "src").collect().head
    assert(d.getLong(2) === 0L && d.getDouble(3) === ln2)
  }

  test("zipfFit: a perfect 1/r law fits slope -1 with r2 ~ 1; flat counts are slope 0, r2 NULL") {
    val s = spark; import s.implicits._
    // counts 6/3/2 = 6/r for ranks 1..3
    val text = (Seq.fill(6)("aa") ++ Seq.fill(3)("bb") ++ Seq.fill(2)("cc"))
      .mkString(" ")
    val df = Seq(("s", text)).toDF("src", "text")
    val r = Graft.zipfFit(df, "text", "src", maxRank = 3, minRanks = 3)
      .collect().head
    assert(r.getLong(1) === 3L)
    assert(math.abs(r.getDouble(2) - (-1.0)) < 1e-6)
    assert(math.abs(r.getDouble(3) - 1.0) < 1e-6)

    val flat = Seq(("s", "a b c")).toDF("src", "text")
    val f = Graft.zipfFit(flat, "text", "src", maxRank = 3, minRanks = 3)
      .collect().head
    assert(f.getDouble(2) === 0.0 && f.isNullAt(3))

    // below minRanks: no fit row at all, never a 2-point "trend"
    assert(Graft.zipfFit(flat, "text", "src", maxRank = 9, minRanks = 4)
      .collect().isEmpty)
  }

  test("goodTuring: textbook histogram, absent N_{r+1} stays NULL, bigram mode") {
    val s = spark; import s.implicits._
    // unigrams: a:3 b:1 c:1 d:2 -> N_1=2, N_2=1, N_3=1; N=7
    val df = Seq((1L, "a a a b"), (2L, "c d d")).toDF("doc_id", "text")
    val rows = Graft.goodTuring(df, "text", "doc_id", ngram = 1, maxR = 10)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(0L).isNullAt(1) && rows(0L).isNullAt(2) &&
      rows(0L).getDouble(3) === 2.0 / 7.0)                 // unseen mass
    assert(rows(1L).getLong(1) === 2L &&
      rows(1L).getDouble(2) === 1.0 &&                     // 2*N2/N1 = 1
      rows(1L).getDouble(3) === 1.0 / 7.0)
    assert(rows(2L).getLong(1) === 1L && rows(2L).getDouble(2) === 3.0)
    assert(rows(3L).getLong(1) === 1L && rows(3L).isNullAt(2) &&
      rows(3L).isNullAt(3))                                // no N_4: NULL
    // bigrams across a doc: "a b","b a","a b" -> counts 2,1; doc
    // boundaries never pair
    val bg = Graft.goodTuring(Seq((1L, "a b a b"), (2L, "z")).toDF("doc_id", "text"),
      "text", "doc_id", ngram = 2, maxR = 10)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(bg(0L).getDouble(3) === 1.0 / 3.0)
    assert(bg(1L).getLong(1) === 1L && bg(1L).getDouble(2) === 2.0)
    assert(bg(2L).getLong(1) === 1L && bg(2L).isNullAt(2))
  }

  test("qlDirichletScore: hand chain, collection-absent term scores 0, empty doc kept") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "a a b"), (2L, "c"), (3L, "")).toDF("doc_id", "text")
    val out = Graft.qlDirichletScore(df, "text", "doc_id",
      Seq("a", "z"), mu = 2.0).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    // ctot=4, ctf_a=2 -> bg_a = 2*2/4 = 1; ctf_z=0 -> term 0
    assert(out(1L)._1 === 3L && out(1L)._2 === 1L)
    assert(math.abs(out(1L)._3 - math.log(3.0 / 5.0)) < 1e-12)
    assert(out(2L)._1 === 1L && out(2L)._2 === 0L)
    assert(math.abs(out(2L)._3 - math.log(1.0 / 3.0)) < 1e-12)
    assert(out(3L) === ((0L, 0L, 0.0)))
  }

  test("brierDecomposition: Murphy identity on a perfectly calibrated forecaster") {
    val s = spark; import s.implicits._
    val rows = Seq.fill(3)((0.75, 1L)) ++ Seq((0.75, 0L)) ++
      Seq((0.25, 1L)) ++ Seq.fill(3)((0.25, 0L))
    val r = Graft.brierDecomposition(rows.toDF("p", "y"), "p", "y")
      .collect().head
    assert(r.getLong(0) === 8L && r.getLong(1) === 2L)
    assert(math.abs(r.getDouble(2) - 0.1875) < 1e-9)   // brier
    assert(math.abs(r.getDouble(3)) < 1e-9)            // reliability = 0
    assert(math.abs(r.getDouble(4) - 0.0625) < 1e-9)   // resolution
    assert(r.getDouble(5) === 0.25)                    // uncertainty
  }

  test("labelNoiseAudit flags the mislabeled vector and only it") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, 0, Seq(1.0f, 0.0f)), (2L, 0, Seq(1.0f, 0.2f)),
      (3L, 0, Seq(0.0f, 1.0f)),                        // mislabeled
      (4L, 1, Seq(0.0f, 1.0f)), (5L, 1, Seq(0.2f, 1.0f)))
      .toDF("vec_id", "label", "embedding")
    val out = Graft.labelNoiseAudit(df, "embedding", "label", "vec_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(0L) === ((3L, 1L)) && out(1L) === ((2L, 0L)))
  }

  test("mmrRerank demotes the near-duplicate of an already-selected result") {
    val s = spark; import s.implicits._
    // B nearly duplicates A; pure relevance ranks A,B,C — MMR must
    // interleave the orthogonal C before B
    val cand = Seq(
      (1L, 0.95, Seq(1.0f, 0.0f)),
      (2L, 0.90, Seq(0.999f, 0.01f)),
      (3L, 0.50, Seq(0.0f, 1.0f)),
      (4L, 0.40, Seq(0.7f, 0.7f)))
      .toDF("vec_id", "rel", "embedding")
    val out = Graft.mmrRerank(cand, "vec_id", "rel", "embedding",
      k = 3, lambdaTenths = 7).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(out(1L)._1 === 1L && out(2L)._1 === 3L && out(3L)._1 === 2L)
    assert(out(1L)._2 === 0.0)                     // empty-S max sim = 0
    assert(math.abs(out(1L)._3 - 0.7 * 0.95) < 1e-9)
    // round 2: C wins with 0.7*0.5 - 0.3*0 over B's 0.63 - 0.3*sim(B,A)
    assert(math.abs(out(2L)._3 - 0.35) < 1e-9)
  }

  test("duplicatedSpans: cross-doc spans flagged, within-doc repeats and short docs not") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, "abcdefghijXXXX"), (2L, "abcdefghijYYYY"),
      (3L, "zz"), (4L, "ppppppppppppppp"))
      .toDF("doc_id", "text")
    val out = Graft.duplicatedSpans(df, "text", "doc_id",
      gramLen = 8, stride = 2).collect()
      .map(r => r.getLong(0) -> r).toMap
    // docs 1/2 share the 10-char prefix: grams at pos 1,3 match -> 2/4
    assert(out(1L).getLong(1) === 4L && out(1L).getLong(2) === 2L &&
      out(1L).getDouble(3) === 0.5)
    assert(out(2L).getLong(2) === 2L)
    // shorter than gramLen: zero grams, NULL fraction
    assert(out(3L).getLong(1) === 0L && out(3L).isNullAt(3))
    // a doc repeating its own gram is NOT cross-doc duplicated
    assert(out(4L).getLong(1) === 4L && out(4L).getLong(2) === 0L)
  }

  test("hardNegatives never returns same-label items and ranks by cosine") {
    val s = spark; import s.implicits._
    val df = Seq(
      (0L, "A", Seq(1.0f, 0.0f)),
      (1L, "A", Seq(0.99f, 0.1f)),   // closest overall but same label
      (2L, "B", Seq(0.9f, 0.4f)),
      (3L, "B", Seq(0.0f, 1.0f)))
      .toDF("vec_id", "label", "embedding")
    val out = Graft.hardNegatives(df, "vec_id", "embedding", "label",
        k = 2, anchorFilter = col("vec_id") === 0L)
      .orderBy("rnk").collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getString(4)))
    assert(out.toSeq === Seq((1L, 2L, "B"), (2L, 3L, "B")))
  }

  test("semanticDecontaminate keeps clean rows and flags above threshold") {
    val s = spark; import s.implicits._
    val train = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val ev = Seq((10L, Seq(1.0f, 0.1f)), (11L, Seq(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Graft.semanticDecontaminate(train, ev, "embedding", "vec_id",
        threshold = 0.9).orderBy("train_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
    // t1 ≈ 0.995 vs e10 → flagged; t2's best is e10 at ≈ 0.0995 → clean
    assert(out.toSeq === Seq((1L, 10L, true), (2L, 10L, false)))
  }

  test("semanticDecontaminate breaks exact ties by the lower eval id") {
    val s = spark; import s.implicits._
    val train = Seq((1L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val ev = Seq((20L, Seq(2.0f, 0.0f)), (10L, Seq(3.0f, 0.0f)))
      .toDF("vec_id", "embedding") // both cos = 1 exactly
    val out = Graft.semanticDecontaminate(train, ev, "embedding", "vec_id",
      threshold = 0.5).collect().head
    assert(out.getLong(1) === 10L && out.getBoolean(3))
  }

  test("logisticTrainHashed learns the separating signs on toy data") {
    val s = spark; import s.implicits._
    // dim 1 fires only on positives, dim 2 only on negatives, dim -1 bias
    val feats = Seq(
      (1L, 1L, 1L), (2L, 1L, 1L), (3L, 2L, 1L), (4L, 2L, 1L),
      (1L, -1L, 1L), (2L, -1L, 1L), (3L, -1L, 1L), (4L, -1L, 1L))
      .toDF("id", "dim", "x")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 0L), (4L, 0L))
      .toDF("id", "y")
    val w = Graft.logisticTrainHashed(feats, labels, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(w(1L) > 0.0 && w(2L) < 0.0)          // separating directions
    assert(math.abs(w(-1L)) < math.abs(w(1L)))  // balanced data: small bias
    // symmetric problem → antisymmetric weights (exact integer updates)
    assert(w(1L) === -w(2L))
  }

  test("logisticTrainHashed truncates the weight update toward zero on negative gradients") {
    val s = spark; import s.implicits._
    // 3 docs on one dim, N=3 does not divide the scaled gradient:
    // round 1 residuals are ±500000 exactly (w=0 → p=0.5), so
    // gq = -500000-500000+500000 = -500000 and the update is
    // (-500000·500) div 3 = -83333333 TRUNCATED toward zero (a floor
    // would give -83333334) — the same semantics as DuckDB's integer
    // `//` in the q253 oracle, per the repo's verified division rule.
    val feats = Seq((1L, 7L, 1L), (2L, 7L, 1L), (3L, 7L, 1L)).toDF("id", "dim", "x")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 0L)).toDF("id", "y")
    val w = Graft.logisticTrainHashed(feats, labels, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(w(7L) === 0.083333333) // 83333333 nano-units, not 83333334
  }

  test("tfidfCosine ranks on-topic docs above long off-topic ones (full-norm property)") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "spark table"),                       // short, fully on-topic
      (2L, "spark " + ("filler " * 50).trim),    // one hit diluted by a long tail
      (3L, "row scan merge batch"),              // off-topic
      (4L, "")                                   // tokenless
    ).toDF("doc_id", "text")
    val out = Graft.tfidfCosine(docs, "text", "doc_id", Seq("spark", "table"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L)._3 > out(2L)._3)        // norm punishes the diluted doc
    assert(out(2L)._3 > 0.0 && out(3L)._3 === 0.0)
    assert(out(1L)._2 === 2L && out(2L)._2 === 1L)
    assert(out(4L) === ((0L, 0L, 0.0)))    // tokenless doc keeps its row
    // cosine of a doc containing exactly the query terms once each is
    // bounded by 1 and positive
    assert(out(1L)._3 <= 1.0 + 1e-9)
    intercept[IllegalArgumentException] {
      Graft.tfidfCosine(docs, "text", "doc_id", Seq.empty)
    }
  }

  test("normalizeUrls canonicalizes scheme/host/port/www/utm and extracts eTLD+1") {
    val s = spark; import s.implicits._
    val urls = Seq(
      (1L, "HTTPS://WWW.News.Example.CO.UK:443/A/b?utm_source=x&q=1#frag"),
      (2L, "http://Example.COM:80/p?utm_a=1"),        // only-utm query drops
      (3L, "https://cdn.example.io:8443/x?a=1&utm_z=9"), // nonstandard port kept
      (4L, "http://www.sub.host.org/path?a=1&utm_m=2&b=3"),
      // adversarial: a param NAMED xutm_source and a VALUE containing
      // "utm_x=1" must both survive — only separator-anchored utm_
      // params are tracking params
      (5L, "http://a.com/p?xutm_source=1&b=2"),
      (6L, "http://a.com/p?redirect=page%3Futm_x=1&b=2"),
      (7L, "http://a.com/p?utm_a=1&utm_b=2&c=3")  // leading run collapses
    ).toDF("id", "url")
    val out = Graft.normalizeUrls(urls, "url")
      .collect().map(r => r.getLong(0) ->
        (r.getString(2), r.getString(3), r.getString(4), r.getString(5))).toMap
    // columns: id, url, scheme, host, etld1, url_norm
    assert(out(1L) === (("https", "news.example.co.uk", "example.co.uk",
      "https://news.example.co.uk/A/b?q=1")))
    assert(out(2L) === (("http", "example.com", "example.com",
      "http://example.com/p")))
    assert(out(3L) === (("https", "cdn.example.io:8443", "example.io",
      "https://cdn.example.io:8443/x?a=1")))
    assert(out(4L) === (("http", "sub.host.org", "host.org",
      "http://sub.host.org/path?a=1&b=3")))
    assert(out(5L)._4 === "http://a.com/p?xutm_source=1&b=2")
    assert(out(6L)._4 === "http://a.com/p?redirect=page%3Futm_x=1&b=2")
    assert(out(7L)._4 === "http://a.com/p?c=3")
  }

  test("featureHash is deterministic, in-range, and sums signed tokens") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "alpha alpha beta"), (2L, "alpha")).toDF("doc_id", "text")
    val out = Graft.featureHash(df, "text", "doc_id", dims = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.forall(r => r._2 >= 0 && r._2 < 64))
    // doc 1's double "alpha" row carries weight ±2 in alpha's dim;
    // doc 2's single "alpha" sits in the SAME dim with half the weight
    val alphaDim = out.filter(_._1 == 2L).head
    val d1Alpha = out.filter(r => r._1 == 1L && r._2 == alphaDim._2).head
    assert(d1Alpha._3 === 2L * alphaDim._3 && math.abs(alphaDim._3) === 1L)
    // repartition-invariant (hash is a pure row function + keyed sum)
    val out2 = Graft.featureHash(df.repartition(7), "text", "doc_id", 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.sorted.toSeq === out2.sorted.toSeq)
    intercept[IllegalArgumentException] {
      Graft.featureHash(df, "text", "doc_id", dims = 1)
    }
  }

  test("reciprocalNearestNeighbors keeps only mutual top-1 pairs") {
    val s = spark; import s.implicits._
    // a2's top is b1, but b1's top is a1 → only (a1,b1) survives; b2's
    // top is a2, which does not reciprocate
    val a = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val b = Seq((7L, Seq(1.0f, 0.0f)), (8L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Graft.reciprocalNearestNeighbors(a, b, "embedding", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq === Seq((1L, 7L, 1.0)))
  }

  test("tracinInfluence excludes self-pairs and ranks reinforcing docs first") {
    val s = spark; import s.implicits._
    // doc 1 and 2 share dim 10 with the same label (reinforcing);
    // doc 3 shares it with the opposite label (conflicting). Probe = 1.
    val feats = Seq(
      (1L, 10L, 2L), (2L, 10L, 2L), (3L, 10L, 2L),
      (1L, -1L, 1L), (2L, -1L, 1L), (3L, -1L, 1L))
      .toDF("id", "dim", "x")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 0L)).toDF("id", "y")
    val probes = Seq(Tuple1(1L)).toDF("id")
    val out = Graft.tracinInfluence(feats, labels, probes, rounds = 3,
      etaMilli = 500, topK = 3).collect()
    val ids = out.map(_.getLong(2)).toSeq
    assert(!ids.contains(1L), "self-pair must be excluded")
    assert(ids.head === 2L, "same-label same-features doc ranks first")
    val infl = out.map(r => r.getLong(2) -> r.getDouble(3)).toMap
    assert(infl(2L) > 0.0 && infl(3L) < 0.0,
      s"reinforcing positive, conflicting negative: $infl")
  }

  test("covariateShiftEss: uniform weights give ESS = n, reweighting moves the source mean toward the target") {
    val s = spark; import s.implicits._
    // features carry NO signal (bias only) → p identical for every row →
    // identical weights → Kish ESS must equal n_source exactly
    val n = 40
    val feats = (1 to n).map(i => (i.toLong, -1L, 1L)).toDF("id", "dim", "x")
    val labels = (1 to n).map(i => (i.toLong, (i % 2).toLong)).toDF("id", "y")
    val vals = (1 to n).map(i => (i.toLong, i.toLong)).toDF("id", "v")
    val flat = Graft.covariateShiftEss(feats, labels, vals).collect()(0)
    assert(math.abs(flat.getDouble(3) - 1.0) < 1e-9,
      "ess_ratio = 1 under no signal")
    // now plant a shift: targets (ids 1-20) all carry marker dim 5 and
    // value 100; source ids 21-30 are target-LIKE (marker + value 100),
    // source ids 31-60 are not (no marker, value 0). The classifier
    // learns the marker, upweights the target-like source rows, and the
    // weighted source mean must move from 25 toward the target's 100
    val ids2 = (1 to 60).map(_.toLong)
    val feats2 = (ids2.map(i => (i, -1L, 1L)) ++
      ids2.filter(_ <= 30).map(i => (i, 5L, 3L))).toDF("id", "dim", "x")
    val labels2 = ids2.map(i => (i, if (i <= 20) 1L else 0L)).toDF("id", "y")
    val vals2 = ids2.map(i => (i, if (i <= 30) 100L else 0L)).toDF("id", "v")
    val r2 = Graft.covariateShiftEss(feats2, labels2, vals2).collect()(0)
    val (wm, sm, tm) = (r2.getDouble(4), r2.getDouble(5), r2.getDouble(6))
    assert(math.abs(wm - tm) < math.abs(sm - tm),
      s"weighted mean $wm should beat raw $sm against target $tm")
    assert(r2.getDouble(3) < 1.0, "non-uniform weights shrink the ESS ratio")
  }

  test("labelShiftBbse corrects a planted prior shift through an " +
    "imperfect classifier; a signal-free probe degenerates to NULL") {
    val s = spark; import s.implicits._
    // marker dim 5 ⇒ positive, but only 80% of positives carry it:
    // a perfect-marker classifier has c11 = 0.8, c01 = 0. Target prior
    // is 0.75; the naive predicted rate reads 0.8·0.75 = 0.6.
    val ids = (1 to 60).map(_.toLong)
    def pos(i: Long): Boolean =
      (i <= 10) || (i >= 21 && i <= 30) || (i >= 41 && i <= 55)
    def marked(i: Long): Boolean = pos(i) && i % 5 != 0 // 80% of positives
    val feats = (ids.map(i => (i, -1L, 1L)) ++
      ids.filter(marked).map(i => (i, 5L, 3L))).toDF("id", "dim", "x")
    val labels = ids.map(i => (i, if (pos(i)) 1L else 0L)).toDF("id", "y")
    def idDf(lo: Long, hi: Long) =
      ids.filter(i => i >= lo && i <= hi).toDF("id")
    val r = Graft.labelShiftBbse(feats, labels, idDf(1, 20), idDf(21, 40),
      idDf(41, 60)).collect().head
    val (naive, bbse, truth) =
      (r.getDouble(4), r.getDouble(5), r.getDouble(6))
    assert(truth === 0.75)
    assert(math.abs(bbse - truth) < math.abs(naive - truth),
      s"bbse $bbse should beat naive $naive against $truth")
    // no features at all → constant predictions → degenerate inverse
    val flat = ids.map(i => (i, -1L, 1L)).toDF("id", "dim", "x")
    val r2 = Graft.labelShiftBbse(flat, labels, idDf(1, 20), idDf(21, 40),
      idDf(41, 60)).collect().head
    assert(r2.isNullAt(5) && r2.isNullAt(7))
  }

  test("lshAuditPairs: a planted J=0.88 pair is ground truth AND caught " +
    "by the bands; unrelated text stays out") {
    val s = spark; import s.implicits._
    val a = (0 until 50).map(i => s"w$i").mkString(" ")
    val b = (0 until 49).map(i => s"w$i").mkString(" ") + " zz"
    val c = (0 until 50).map(i => s"u$i").mkString(" ")
    // shingles: 48 each for a/b, 45 shared → J = 45/51 ≈ 0.882 ≥ 0.8
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val r = Graft.lshAuditPairs(df, "text", "doc_id", 4, 5).collect().head
    assert(r.getLong(0) === 1L, "one true pair")
    assert(r.getLong(2) === 1L, "the bands catch it")
    assert(r.getDouble(3) === 1.0)          // recall
    assert(r.getDouble(5) > 0.999999)       // analytic bound at J=0.8
    // identical texts collapse to one rep: no self-pair padding
    val dup = Seq((1L, a), (2L, a), (3L, c)).toDF("doc_id", "text")
    val r2 = Graft.lshAuditPairs(dup, "text", "doc_id", 4, 5).collect().head
    assert(r2.getLong(0) === 0L && r2.getLong(1) === 0L)
  }

  test("graph canonical fast paths (r13) equal the default canonicalize-" +
    "inside paths on the same graph") {
    val s = spark; import s.implicits._
    // raw MULTISET with duplicates and mixed orientation — the shape the
    // default path canonicalizes internally; `canon` + `deg` are what
    // the shared bucketed artifacts hold (distinct, src < dst, and the
    // doubled-adjacency degree table)
    val raw = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 1L),
      (1L, 3L), (1L, 3L), (2L, 4L), (4L, 5L), (5L, 6L)).toDF("s", "d")
    val canon = raw.select(least($"s", $"d").as("s"),
      greatest($"s", $"d").as("d")).distinct()
    val deg = canon.select($"s".as("u")).unionAll(canon.select($"d".as("u")))
      .groupBy($"u").agg(count(lit(1)).as("deg"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(Graft.kCore(canon, "s", "d", k = 2, rounds = 3,
        canonicalEdges = true, degrees = Some(deg))) ===
      rows(Graft.kCore(raw, "s", "d", k = 2, rounds = 3)))
    assert(rows(Graft.linkPrediction(canon, "s", "d",
        canonicalEdges = true, degrees = Some(deg))) ===
      rows(Graft.linkPrediction(raw, "s", "d")))
    assert(rows(Graft.harmonicCloseness(canon, "s", "d", sampleTarget = 3,
        maxHops = 2, canonicalEdges = true, degrees = Some(deg))) ===
      rows(Graft.harmonicCloseness(raw, "s", "d", sampleTarget = 3,
        maxHops = 2)))
    assert(rows(Graft.hubRemovalRobustness(canon, "s", "d", hubDegree = 4,
        sampleTarget = 3, maxHops = 2, canonicalEdges = true,
        degrees = Some(deg))) ===
      rows(Graft.hubRemovalRobustness(raw, "s", "d", hubDegree = 4,
        sampleTarget = 3, maxHops = 2)))
  }
}
