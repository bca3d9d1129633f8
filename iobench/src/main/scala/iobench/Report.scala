package iobench

import java.io.File
import java.util.ServiceLoader

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.IobenchBridge
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{call_function, col, lit}
import org.apache.spark.sql.sources.DataSourceRegister

import graft.geom.GeomCodec
import graft.sources.{FeatureFormat, FeatureSourceProvider, GdalOptions, RawFeature, RowConverter}

import Main.{Failure, Tally, percentile}

/** Per-layer metrics of a traced run: engine counters and span self
  * times of the measured loop, then a probe that calls each layer's
  * public functions directly on the workload's own data. */
final class Report(spark: SparkSession, wl: Workload, work: File, listener: EngineListener) {
  type Metric = (String, Double, String)
  var attempted = 0
  val failures = mutable.ArrayBuffer.empty[Failure]
  private var probeOp = 1000000

  private def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs one probe step as its own operation for the listener, counting
    * it as attempted and recording a failure instead of aborting. */
  private def step[T](kind: String)(body: => T): Option[T] = {
    probeOp += 1
    Trace.currentOp = probeOp
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failures += Main.failure(kind, e)
        None
    } finally IobenchBridge.drainListeners(spark.sparkContext)
  }

  private def median(xs: Seq[Double]): Double = percentile(xs, 0.5)
  private def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  // ------------------------------------------------------------ loop

  def loopMetrics(t: Tally, ops: Seq[OpStats], loopS: Double, gcS: Double): Seq[Metric] = {
    val n = math.max(1, t.attempted)
    val skews = ops.flatMap(_.stageTaskMs.values).filter(_.size >= 2).map { ms =>
      val s = ms.sorted
      s.last.toDouble / math.max(1.0, percentile(s.map(_.toDouble).toSeq, 0.5))
    }
    val (self, rootS) = Trace.selfTimes()
    val spans = Trace.count
    val overheadPct = 100.0 * spans * Report.spanCostNs() / 1e9 / loopS
    Trace.writeJson(new File(work.getParentFile, s"trace-${wl.name}.json").toPath)
    System.err.println(f"[iobench] self time over $rootS%.2f s of traced operations ($spans spans):")
    self.toSeq.sortBy(-_._2).foreach { case (l, s) =>
      System.err.println(f"[iobench]   $l%-10s $s%8.3f s ${100 * s / rootS}%6.1f %%")
    }
    Seq(
      // the loop in wall-clock terms, which a shared host moves with the CPU
      // it steals; the CPU-time figures are the end-to-end metrics
      ("wall.features_per_s", Main.perRound(t)(r => r.features / (r.wallNs / 1e9)), "1/s"),
      ("wall.op_median_ms", Main.kindMedianMs(t), "ms"),
      // Java-thread CPU per wall second of the operations: the parallelism used
      ("wall.cores_busy", Main.perRound(t)(r => r.cpuNs.toDouble / r.wallNs), "cores"),
      // CPU of the JVM's compiler and collector threads, which the
      // end-to-end CPU figures leave out
      ("jvm.jit_gc_cpu_ms_per_op", (t.procCpuNs - t.cpuNs) / 1e6 / n, "ms"),
      ("spark.jobs_per_op", ops.map(_.jobs).sum.toDouble / n, "count"),
      ("spark.tasks_per_op", ops.map(_.tasks).sum.toDouble / n, "count"),
      ("spark.task_busy_share", ops.map(_.taskNs).sum / 1e9 / (loopS * Main.Cores), "ratio"),
      ("spark.gc_s", gcS, "s"),
      ("sources.task_skew", if (skews.isEmpty) 1.0 else skews.sum / skews.size, "ratio")) ++
      Report.Layers.map(l => (s"self.${l}_pct", 100 * self.getOrElse(l, 0.0) / rootS, "%")) ++
      Seq(("bench.trace_overhead_pct", overheadPct, "%"), ("bench.spans", spans.toDouble, "count"))
  }

  // ------------------------------------------------------------ probe

  private def featureFormat(fmt: String): FeatureFormat =
    ServiceLoader.load(classOf[DataSourceRegister]).asScala
      .collectFirst { case p: FeatureSourceProvider if p.shortName == fmt => p.format }
      .getOrElse(throw new IllegalArgumentException(s"no feature source '$fmt'"))

  /** Drains the parser over every file of `in` on this thread. */
  private def parseAll(in: Input): mutable.ArrayBuffer[RawFeature] = {
    val f = featureFormat(in.fmt)
    val opts = GdalOptions.from(Map.empty)
    val out = mutable.ArrayBuffer.empty[RawFeature]
    for (file <- FeatureFormat.expand(Seq(in.path), f)) {
      val it = f.open(file, opts)
      try it.foreach(out += _) finally it.close()
    }
    out
  }

  private lazy val sample: IndexedSeq[Row] = wl.rows.take(10000)
  private lazy val sampleHashes = Digest.rowHashes(sample, wl.schema)
  private lazy val sampleTruth = Digest.of(sampleHashes)
  private lazy val sampleDf = Workloads.frame(spark, sample, wl.schema, 1).cache()

  def layerProbe(): Seq[Metric] = {
    sampleDf.count()
    val stored = formats()
    val src = sources()
    src ++ stored._1 ++ geom() ++ functions() ++ windows(stored._2) ++ api()
  }

  /** `sources`: schemaless load, split planning, scan with the schema
    * supplied, and the one-core parse and row conversion it is made of. */
  private def sources(): Seq[Metric] = {
    val truth = Digest.ofRows(wl.rows, wl.schema)
    val per = wl.inputs.flatMap { in =>
      step(s"sources.${in.fmt}") {
        val (df, inferS) = time(in.load(spark))
        val f = featureFormat(in.fmt)
        val opts = GdalOptions.from(Map.empty)
        val (splits, planS) = time(FeatureFormat.expand(Seq(in.path), f).flatMap(f.planSplits(_, opts)))
        val withSchema = spark.read.format(in.fmt).schema(df.schema).load(in.path)
        val (d, scanS) = time(Digest.ofFrame(withSchema, wl.schema))
        Workloads.expect(d, truth, s"sources.${in.fmt}")
        val (raw, parseS) = time(parseAll(in))
        val conv = new RowConverter(df.schema, opts)
        val (_, convS) = time(raw.foreach(conv.convert))
        // the digest fold every timed read runs in its scan tasks, on the
        // rows this input reads back, on one thread
        val read = withSchema.queryExecution.toRdd.map(_.copy()).collect()
        val hasher = new Digest.RowHasher(withSchema.schema, wl.schema.fieldNames.map(_.toLowerCase).toSet)
        val hashS = median((1 to 3).map(_ => time(read.foreach(hasher.hash))._2))
        (inferS, planS, splits.size, d.count, scanS, parseS, convS, hashS)
      }
    }
    val rows = per.map(_._4).sum.toDouble
    val scanFeaturesPerS = ratio(rows, per.map(_._5).sum)
    val digestNs = ratio(per.map(_._8).sum * 1e9, rows)
    Seq(
      ("sources.infer_s", median(per.map(_._1)), "s"),
      ("sources.plan_s", median(per.map(_._2)), "s"),
      ("sources.splits", ratio(per.map(_._3).sum, per.size), "count"),
      ("sources.scan_features_per_s", scanFeaturesPerS, "1/s"),
      ("sources.scan_scaling", ratio(per.map(p => p._6 + p._7).sum, per.map(_._5).sum), "ratio"),
      ("sources.convert_ns_per_row", ratio(per.map(_._7).sum * 1e9, rows), "ns"),
      ("bench.digest_ns_per_row", digestNs, "ns"),
      // the fold's cost as a share of the schema-supplied scan's wall time
      // per feature, which includes it; an upper bound, as if every row's
      // fold were on the scan's critical path (true of a one-split input)
      ("bench.digest_share_of_scan_pct", 100 * digestNs * scanFeaturesPerS / 1e9, "%"))
  }

  /** `sources.<fmt>`: each writer and one-core parser on the sample;
    * returns the metrics and the written files. */
  private def formats(): (Seq[Metric], Map[String, Input]) = {
    val n = sample.size.toDouble
    val res = Workloads.Formats.keys.toSeq.flatMap { fmt =>
      step(s"format.$fmt") {
        val dir = new File(work, s"probe.$fmt")
        val writes = (1 to 3).map(_ => time(Workloads.store(sampleDf, fmt, dir, 1))._2)
        val in = Input(fmt, IO.single(dir.getAbsolutePath, Workloads.Formats(fmt)))
        Workloads.expect(Digest.ofFrame(in.load(spark), wl.schema), sampleTruth, s"format.$fmt")
        val parses = (1 to 3).map(_ => time(parseAll(in))._2)
        (fmt, in, Seq((s"$fmt.write_features_per_s", n / median(writes), "1/s"),
          (s"$fmt.bytes_per_feature", IO.sizeOf(dir) / n, "B"),
          (s"$fmt.parse_features_per_s_1core", n / median(parses), "1/s")))
      }
    }
    (res.flatMap(_._3), res.map(r => r._1 -> r._2).toMap)
  }

  /** `geom`: GeomCodec encode and decode, one thread, ns per vertex. */
  private def geom(): Seq[Metric] = step("geom") {
    val wkbs = sample.map(_.getAs[Array[Byte]]("geometry")).toArray
    val geoms = wkbs.map(GeomCodec.fromWkb)
    val vertices = geoms.map(_.getNumPoints.toLong).sum.toDouble
    val wkts = geoms.map(GeomCodec.toWkt)
    val jsons = geoms.map(GeomCodec.toGeoJson)
    var sink = 0L
    def nsPerVertex[A](xs: Array[A])(f: A => Any): Double = {
      var reps = 0
      val t0 = System.nanoTime()
      while (reps < 3 || System.nanoTime() - t0 < 200000000L) {
        xs.foreach(x => sink += f(x).hashCode)
        reps += 1
      }
      (System.nanoTime() - t0) / (reps * vertices)
    }
    val m = Seq(
      ("geom.wkb_decode_ns_per_vertex", nsPerVertex(wkbs)(GeomCodec.fromWkb), "ns"),
      ("geom.wkb_encode_ns_per_vertex", nsPerVertex(geoms)(GeomCodec.toWkb), "ns"),
      ("geom.wkt_decode_ns_per_vertex", nsPerVertex(wkts)(GeomCodec.fromWkt), "ns"),
      ("geom.wkt_encode_ns_per_vertex", nsPerVertex(geoms)(GeomCodec.toWkt), "ns"),
      ("geom.geojson_decode_ns_per_vertex", nsPerVertex(jsons)(GeomCodec.fromGeoJson), "ns"),
      ("geom.geojson_encode_ns_per_vertex", nsPerVertex(geoms)(GeomCodec.toGeoJson), "ns"))
    if (sink == 42) System.err.print("") // uses the results, so no call is optimized away
    m
  }.getOrElse(Nil)

  /** `functions`: st_* kernels over the cached sample, rows per second. */
  private def functions(): Seq[Metric] = {
    val g = col("geometry")
    val x0 = Gen.MinX + Gen.Width / 4; val y0 = Gen.MinY + Gen.Height / 4
    Seq(
      "st_aswkt" -> sampleDf.select(call_function("st_aswkt", g)),
      "st_asgeojson" -> sampleDf.select(call_function("st_asgeojson", g)),
      "st_intersects_bbox" -> sampleDf.filter(call_function("st_intersects_bbox", g,
        lit(x0), lit(y0), lit(x0 + Gen.Width / 2), lit(y0 + Gen.Height / 2)))
    ).flatMap { case (fn, df) =>
      step(s"functions.$fn") {
        val ts = (1 to 3).map(_ => time(df.write.format("noop").mode("overwrite").save())._2)
        (s"functions.${fn}_rows_per_s", sample.size / median(ts), "1/s")
      }
    }
  }

  /** `plans`: bbox windows at three selectivities over the FlatGeobuf
    * (indexed), shapefile (record boxes) and GeoJSON (no index) files. */
  private def windows(files: Map[String, Input]): Seq[Metric] = {
    val envs = sample.map(r => Digest.envelope(r.getAs[Array[Byte]]("geometry")))
    val rnd = new java.util.SplittableRandom(sample.size * 7919L)
    val runs = for {
      fmt <- Window.Formats if files.contains(fmt)
      frame = files(fmt).load(spark)
      sel <- Window.Selectivities
      _ <- 1 to 3
      w = Window.random(sel, rnd)
      want = w.expected(envs, sampleHashes)
      r <- step(s"window.$fmt") {
        val (q, planS) = time(w.plan(frame))
        val (d, execS) = time(Digest.ofFrame(q, wl.schema))
        Workloads.expect(d, want, s"window.$fmt")
        // features in the splits the format plans for this box: what the
        // scan has to read, whatever it then returns
        val read = featureFormat(fmt).planSplits(files(fmt).path, GdalOptions.from(Map("bbox" -> w.bbox)))
          .map(sp => if (sp.numRecords < 0) sample.size.toLong else sp.numRecords).sum
        (planS, execS, d.count, probeOp, read)
      }
    } yield r
    val st = runs.map(r => listener.stats(r._4))
    Seq(
      ("window.plan_ms", 1e3 * median(runs.map(_._1)), "ms"),
      ("window.exec_ms", 1e3 * median(runs.map(_._2)), "ms"),
      ("window.p50_ms", 1e3 * median(runs.map(r => r._1 + r._2)), "ms"),
      ("window.splits", ratio(st.map(_.splits).sum, st.size), "count"),
      ("window.scan_rows_per_result_row", ratio(st.map(_.scanRows).sum, math.max(1L, runs.map(_._3).sum)), "ratio"),
      ("window.read_rows_per_result_row", ratio(runs.map(_._5).sum, math.max(1L, runs.map(_._3).sum)), "ratio"),
      ("plans.bbox_pushed_ratio", ratio(st.count(_.bboxScans > 0), st.size), "ratio"))
  }

  /** `api`: GdalWrite.toBytes and GdalRead.fromBytes on a payload of a few
    * hundred features, per format. */
  private def api(): Seq[Metric] = {
    val rows = sample.take(300)
    val truth = Digest.ofRows(rows, wl.schema)
    val df = Workloads.frame(spark, rows, wl.schema, 1).cache()
    df.count()
    val res = BytesApi.Formats.flatMap { case (fmt, _) =>
      step(s"api.$fmt") {
        val writes = (1 to 3).map(_ => time(BytesApi.write(df, fmt, work)))
        val bytes = writes.head._1
        val reads = (1 to 3).map(_ => time(BytesApi.read(spark, fmt, bytes, wl.schema, truth))._2)
        val toBytes =
          if (BytesApi.ToBytesFormats.exists(_._1 == fmt))
            Seq((s"api.$fmt.to_bytes_ms", 1e3 * median(writes.map(_._2)), "ms"))
          else Nil
        (bytes.length, toBytes :+ (s"api.$fmt.from_bytes_ms", 1e3 * median(reads), "ms"))
      }
    }
    df.unpersist()
    res.flatMap(_._2) :+ ("api.bytes_per_request", ratio(res.map(_._1.toDouble).sum, res.size), "B")
  }
}

object Report {
  val Layers: Seq[String] = Seq("bench", "sources", "plans", "api", "spark")

  /** Cost of recording one span, measured on a throwaway span list. */
  def spanCostNs(): Double = {
    val before = Trace.count
    Trace.enabled = true
    val n = 20000
    val t0 = System.nanoTime()
    var i = 0
    while (i < n) { Trace.span("bench.cost")(i); i += 1 }
    val ns = (System.nanoTime() - t0).toDouble / n
    Trace.enabled = false
    Trace.dropAfter(before)
    ns
  }
}
