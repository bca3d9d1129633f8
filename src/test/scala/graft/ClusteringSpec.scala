package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Graft

/** Round-5 clustering + corpus-hygiene operators: k-means, SemDeDup-style
  * semantic dedup, bloom decontamination, common-span removal, NFC
  * normalization. */
class ClusteringSpec extends AnyFunSuite {
  import TestSpark._

  private def vecDf = {
    val s = spark; import s.implicits._
    // three tight groups on the axes of R^3, plus one outlier near group 0
    Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)), (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)), (3L, Array(0.1f, 0.9f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f)), (5L, Array(0.0f, 0.1f, 0.9f)),
      (6L, Array(0.95f, 0.05f, 0.0f))
    ).toDF("vec_id", "embedding")
  }

  test("kmeansAssigned puts every vector with its nearest centroid, ties to lowest cid") {
    val s = spark; import s.implicits._
    val centroids = Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0),
      Array(0.0, 0.0, 1.0))
    val out = Graft.kmeansAssigned(vecDf, "embedding", centroids)
      .select($"vec_id", $"cid").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out === Map(0L -> 0, 1L -> 0, 6L -> 0, 2L -> 1, 3L -> 1,
      4L -> 2, 5L -> 2))
    // exact tie: equidistant from centroids 0 and 1 → cid 0 wins
    val tie = Graft.kmeansAssigned(
      Seq((9L, Array(0.5f, 0.5f, 0.0f))).toDF("vec_id", "embedding"),
      "embedding", centroids).select($"cid").head.getInt(0)
    assert(tie === 0)
  }

  test("kmeans partitions all rows every iteration and is deterministic") {
    val out1 = Graft.kmeans(vecDf, "embedding", "vec_id", k = 3, iters = 2)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val out2 = Graft.kmeans(vecDf.repartition(4), "embedding", "vec_id",
      k = 3, iters = 2)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out1.sorted === out2.sorted) // stable under repartition
    // every (pos) slice accounts for all 7 rows across clusters
    val byPos = out1.groupBy(_._2).view.mapValues(_.map(_._3).sum)
    assert(byPos.values.toSet === Set(7L))
    // dims covered 0..2 for every live cluster
    val dims = out1.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    dims.values.foreach(d => assert(d === Set(0L, 1L, 2L)))
  }

  test("semanticDedup drops the higher id of a same-cluster near-dup pair") {
    val s = spark; import s.implicits._
    // 0/1 are near-identical (cos ≈ 0.9998); 2 is orthogonal
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)), (1L, Array(0.99f, 0.01f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    // k=1: one cluster, so the pair is co-clustered by construction and
    // the drop rule (higher id of each near-dup pair) is isolated
    val kept = Graft.semanticDedup(df, "embedding", "vec_id", k = 1,
      threshold = 0.9).select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(0L, 2L)) // 1 dropped as the higher id of (0,1)
  }

  test("semanticDedup salt-splits a skewed hot cluster and still dedups within groups") {
    val s = spark; import s.implicits._
    // SKEW: 150 of 200 rows (75%) are the same vector → one giant cluster;
    // the other 50 are orthogonal. cap=50 must split the hot cell into
    // ceil(150/50)=3 salt groups and leave the cold cell at 1.
    val hot = (0L until 150L).map(i => (i, Array(1.0f, 0.0f, 0.0f)))
    val cold = (1000L until 1050L).map(i => (i, Array(0.0f, 1.0f, 0.0f)))
    val df = (hot ++ cold).toDF("vec_id", "embedding")
    val salted = Graft.semanticDedupSalted(df, "embedding", "vec_id",
      k = 2, maxClusterSize = 50)
      .select($"__id", $"cid", $"__nsplit", $"__salt").cache()
    try {
      val byCluster = salted.groupBy($"cid")
        .agg(count(lit(1)).as("n"), max($"__nsplit").as("nsplit"),
          countDistinct($"__salt").as("groups"))
        .collect().map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3)))).toMap
      // the 150-row cluster advertises 3 splits, the 50-row cluster 1
      assert(byCluster(150L) === ((3L, 3L)), s"hot cluster not split 3 ways: $byCluster")
      assert(byCluster(50L) === ((1L, 1L)), s"cold cluster should not split: $byCluster")
      // no (cid, salt) pairing group re-concentrates the quadratic: the
      // md5 split keeps every group well under the unsalted 150
      val maxGroup = salted.groupBy($"cid", $"__salt").agg(count(lit(1)).as("n"))
        .agg(max($"n")).head.getLong(0)
      assert(maxGroup < 100L, s"salt split ineffective: max group $maxGroup")
      // dedup semantics survive the split: identical vectors within each
      // salt group collapse to the group's min id → survivors = one per
      // non-empty salt group, exactly the min-id of each group
      val expected = salted.groupBy($"cid", $"__salt")
        .agg(min($"__id").as("m")).select($"m")
        .collect().map(_.getLong(0)).toSet
      val kept = Graft.semanticDedup(df, "embedding", "vec_id", k = 2,
        threshold = 0.9, maxClusterSize = 50)
        .select($"vec_id").collect().map(_.getLong(0)).toSet
      assert(kept === expected)
    } finally salted.unpersist()
  }

  test("decontaminateBloom never misses a truly contaminated doc") {
    val s = spark; import s.implicits._
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val train = docs.filter($"doc_id" % 97 =!= 0)
    val evalSet = docs.filter($"doc_id" % 97 === 0)
    val bloom = Graft.decontaminateBloom(train, evalSet, "text", "doc_id")
      .select($"doc_id", $"maybe_contaminated")
    val exact = Graft.decontaminate(train, evalSet, "text", "doc_id")
      .select($"doc_id", $"contaminated")
    val j = bloom.join(exact, Seq("doc_id")).cache()
    try {
      val missed = j.filter($"contaminated" && !$"maybe_contaminated").count()
      assert(missed === 0L) // bloom property: zero false negatives
      val n = j.count()
      val fp = j.filter($"maybe_contaminated" && !$"contaminated").count()
      assert(fp * 20L <= n, s"false-positive rate too high: $fp of $n")
    } finally j.unpersist()
  }

  test("removeCommonSpans cuts shared spans, keeps unique text, empties pure boilerplate") {
    val s = spark; import s.implicits._
    val span = "w1 w2 w3 w4 w5 w6 w7 w8" // the shared 8-gram
    val df = Seq(
      (1L, s"alpha beta $span gamma"),
      (2L, s"$span delta epsilon"),
      (3L, span), // nothing but the shared span
      (4L, "short doc under eight"), // < 8 words: never a gram
      (5L, "unique eight word doc nothing shared here really")
    ).toDF("doc_id", "text")
    val out = Graft.removeCommonSpans(df, "text", "doc_id").orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out(0) === ((1L, 11L, 8L, "alpha beta gamma")))
    assert(out(1) === ((2L, 10L, 8L, "delta epsilon")))
    assert(out(2) === ((3L, 8L, 8L, ""))) // fully covered → empty, not dropped
    assert(out(3) === ((4L, 4L, 0L, "short doc under eight")))
    assert(out(4) === ((5L, 8L, 0L, "unique eight word doc nothing shared here really")))
  }

  test("removeCommonSpans covers overlapping common grams without double-counting") {
    val s = spark; import s.implicits._
    // 9-word shared run → two overlapping common 8-grams; all 9 words cut once
    val run = "a1 a2 a3 a4 a5 a6 a7 a8 a9"
    val df = Seq((1L, s"x $run y"), (2L, run)).toDF("doc_id", "text")
    val out = Graft.removeCommonSpans(df, "text", "doc_id").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(out(0) === ((1L, 9L, "x y")))
    assert(out(1) === ((2L, 9L, "")))
  }

  test("embeddingCovariance matches the hand-computed sample covariance") {
    val s = spark; import s.implicits._
    val dir = TempDirs.untilExit("graft_cov").toString
    val rows = Seq(
      Array(1.0f, 2.0f, 0.5f),
      Array(3.0f, 4.0f, -0.5f),
      Array(5.0f, 8.0f, 1.5f),
      Array(2.0f, 1.0f, 0.0f))
    rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = graft.operators.Clustering
      .queries("q123_embedding_covariance")(s, dir)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got.size === 6) // 3*(3+1)/2 upper-triangle cells
    val n = rows.size
    val d = rows.head.length
    val mean = (0 until d).map(p => rows.map(_(p).toDouble).sum / n)
    for (i <- 0 until d; j <- i until d) {
      val exp = rows.map(v => (v(i) - mean(i)) * (v(j) - mean(j))).sum / (n - 1)
      assert(math.abs(got((i + 1L, j + 1L)) - exp) < 1e-4,
        s"cov($i,$j): got ${got((i + 1L, j + 1L))} expected $exp")
    }
  }

  test("nfc_normalize composes decomposed accents and passes ASCII through") {
    val s = spark; import s.implicits._
    val composed = "café" // é as U+00E9
    val decomposed = "cafe\u0301" // e + combining acute (U+0301)
    val df = Seq((1L, composed), (2L, decomposed), (3L, "plain ascii"))
      .toDF("id", "txt")
    val out = df.selectExpr("id", "nfc_normalize(txt) AS n")
      .orderBy("id").collect().map(_.getString(1))
    assert(out(0) === composed)
    assert(out(1) === composed) // decomposed → composed
    assert(out(2) === "plain ascii")
  }

  test("matryoshka audit: exact prefix-energy ratios on crafted vectors") {
    val s = spark; import s.implicits._
    // v1: all energy in dim 1 -> retained 1.0 at every budget
    // v2: equal energy in dims 1..64 -> retained d/64
    // v3: zero vector -> excluded entirely
    val v1 = Array.tabulate(64)(i => if (i == 0) 2.0f else 0.0f)
    val v2 = Array.fill(64)(1.0f)
    val v3 = Array.fill(64)(0.0f)
    val df = Seq((1L, v1.toSeq), (2L, v2.toSeq), (3L, v3.toSeq))
      .toDF("vec_id", "embedding")
    // replicate the q196 aggregation shape directly on the crafted rows
    import org.apache.spark.sql.functions._
    val e = df.select(col("vec_id"), posexplode(col("embedding")).as(Seq("p", "x")))
      .select(col("vec_id"), (col("p") + 1).as("i"),
        round(col("x").cast("double") * 1000.0).cast("long").as("xq"))
      .withColumn("sq", col("xq") * col("xq"))
    val per = e.groupBy(col("vec_id")).agg(
        sum(col("sq")).as("e_all"),
        sum(when(col("i") <= 8, col("sq")).otherwise(0L)).as("e8"))
      .filter(col("e_all") > 0)
      .withColumn("r8", expr("(e8 * 1000000) div e_all"))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(per(1L) === 1000000L)            // all energy in the prefix
    assert(per(2L) === 125000L)             // 8/64 exactly
    assert(!per.contains(3L))               // zero vector excluded
  }

  test("isotropy audit: a single dominant axis drives top_share toward 1") {
    val s = spark; import s.implicits._
    // all variance lives in dim 1 (dims 2-3 constant) → λ1 ≈ trace
    val e = Seq((1L, Seq(1.0f, 0.5f, 0.5f)), (2L, Seq(-1.0f, 0.5f, 0.5f)),
      (3L, Seq(2.0f, 0.5f, 0.5f)), (4L, Seq(-2.0f, 0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val dir = TempDirs.untilExit("graft_isotropy_").toPath
      .toString
    e.withColumn("label", lit(0))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val r = graft.SparkEntry.queries("q260_isotropy_audit")(s, dir)
      .collect().head
    assert(r.getDouble(2) > 0.999, r.toString)  // top_share
    assert(r.getDouble(3) < 0.001)              // isotropy ≈ 0
  }

  test("deflated power iteration recovers the second eigenpair of a planted spectrum") {
    val s = spark; import s.implicits._
    // diagonal covariance with spectrum (8/3, 2/3, 0): v1 = e1, v2 = e2,
    // and post-ABTT anisotropy λ2/(tr − λ1) = (2/3)/(2/3) = 1 exactly
    val cells = Seq(
      (1L, 1L, 8.0 / 3), (1L, 2L, 0.0), (1L, 3L, 0.0),
      (2L, 2L, 2.0 / 3), (2L, 3L, 0.0), (3L, 3L, 0.0)
    ).toDF("i", "j", "cov")
    val c1 = graft.api.Graft.topPrincipalComponent(cells, iters = 12)
    val c2 = graft.api.Graft.secondPrincipalComponent(cells, c1, iters = 12)
    val l1 = c1.collect().head.getDouble(2)
    val rows2 = c2.collect().sortBy(_.getLong(0))
    val l2 = rows2.head.getDouble(2)
    assert(math.abs(l1 - 8.0 / 3) < 1e-6, s"lambda1=$l1")
    assert(math.abs(l2 - 2.0 / 3) < 1e-6, s"lambda2=$l2")
    // v2 = ±e2: the deflation removed the dominant axis from round 1
    assert(math.abs(math.abs(rows2(1).getDouble(1)) - 1.0) < 1e-6)
    assert(math.abs(rows2(0).getDouble(1)) < 1e-6)
    intercept[IllegalArgumentException] {
      graft.api.Graft.secondPrincipalComponent(cells, c1, iters = 0)
    }
  }
}
