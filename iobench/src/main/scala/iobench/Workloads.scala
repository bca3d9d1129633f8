package iobench

import java.io.File
import java.util.SplittableRandom

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{call_function, col, lit}
import org.apache.spark.sql.types.StructType
import org.locationtech.jts.geom.Envelope

import graft.{GdalRead, GdalWrite}

/** What a timed operation produced. `check` compares a written output
  * against the truth after the timer stops; reads check inside `run`. */
final case class Done(features: Long, bytes: Long, check: () => Unit = () => ())

/** One operation of a workload; `run` is the timed part. */
final case class Op(kind: String, run: () => Done)

final class Mismatch(msg: String) extends RuntimeException(msg)

/** A stored dataset: format and path (one file or a directory of parts). */
final case class Input(fmt: String, path: String) {
  def bytes: Long = IO.sizeOf(new File(path))
  def load(spark: SparkSession): DataFrame = spark.read.format(fmt).load(path)
}

/** A workload: fixtures made once per run, session-bound state made once
  * per session, and rounds of operations. */
trait Workload {
  def name: String
  def schema: StructType
  /** Generator truth: every row the workload's inputs hold. */
  def rows: IndexedSeq[Row]
  /** Writes the inputs with the program's own writers and returns the
    * checks that prove their contents before anything is timed. A
    * workload whose first round reads every input in full and checks it
    * (set-up cycle one, before the loop) needs no separate checks. */
  def prepare(spark: SparkSession): Seq[Op]
  /** Session-bound state (frames loaded once); called after each new session. */
  def open(spark: SparkSession): Unit = ()
  def round(r: Int): Seq[Op]
  /** The stored inputs, for the per-layer probe. */
  def inputs: Seq[Input]
}

object IO {
  def sizeOf(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(sizeOf).sum
    else f.length()

  /** Flushes every file under `f` to disk, so the write-back of freshly
    * written inputs does not run during the measurement. */
  def syncTree(f: File): Unit =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(syncTree)
    else {
      val ch = java.nio.channels.FileChannel.open(f.toPath, java.nio.file.StandardOpenOption.WRITE)
      try ch.force(true) finally ch.close()
    }

  /** The only data file a single-partition write produced. */
  def single(dir: String, ext: String): String = {
    val fs = new File(dir).listFiles().filter(f => f.isFile && f.getName.endsWith(ext))
    require(fs.length == 1, s"expected one $ext file in $dir, found ${fs.length}")
    fs.head.getAbsolutePath
  }
}

object Workloads {
  /** The formats the benchmark stores, with their data-file extension. */
  val Formats: ListMap[String, String] = ListMap("geojson" -> ".geojson",
    "geojsonseq" -> ".geojsonl", "shapefile" -> ".shp", "flatgeobuf" -> ".fgb", "gpkg" -> ".gpkg",
    "spatialite" -> ".sqlite", "csvgeo" -> ".csv")

  def apply(name: String, seed: Long, work: File): Workload = name match {
    case "ingest_points" => new IngestPoints(seed, work)
    case "serve_requests" => new ServeRequests(seed, work)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType, parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)

  def expect(got: Digest, want: Digest, what: String): Unit =
    if (got != want) throw new Mismatch(s"$what: got $got, want $want")

  /** Writes `df` in `parts` files and returns the stored input. */
  def store(df: DataFrame, fmt: String, dir: File, parts: Int): Input = {
    df.coalesce(parts).write.format(fmt).mode("overwrite").save(dir.getAbsolutePath)
    Input(fmt, if (parts == 1) IO.single(dir.getAbsolutePath, Formats(fmt)) else dir.getAbsolutePath)
  }

  /** Timed schemaless load plus full materialization, checked against `truth`. */
  def readOp(spark: SparkSession, in: Input, schema: StructType, truth: Digest, kind: String): Op =
    Op(kind, () => {
      val df = Trace.span("sources.infer")(in.load(spark))
      val d = Trace.span("sources.scan")(Digest.ofFrame(df, schema))
      expect(d, truth, kind)
      Done(d.count, in.bytes)
    })

  /** Runs independent jobs from a few client threads. */
  def parallel[T](xs: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try xs.map(x => pool.submit(() => x())).map(_.get)
    finally pool.shutdown()
  }
}

import Workloads._

/** The bytes API as both the serve_requests loop and the probe call it. */
object BytesApi {
  /** Formats with the filename hint each payload is read with. */
  val Formats: Seq[(String, String)] = Seq("geojson" -> "payload.geojson",
    "flatgeobuf" -> "payload.fgb", "shapefile" -> "payload.shp.zip", "gpkg" -> "payload.gpkg",
    "csvgeo" -> "payload.csv")
  /** GdalWrite.toBytes("geojson") emits its last row once per row (an open
    * defect, see NOTES.md), so GeoJSON is left out of the timed toBytes
    * calls and its payload comes from the DSv2 writer. */
  val ToBytesFormats: Seq[(String, String)] = Formats.filter(_._1 != "geojson")
  def hint(fmt: String): String = Formats.find(_._1 == fmt).map(_._2).get

  /** The payload of `df` in `fmt`: GdalWrite.toBytes where it is usable. */
  def write(df: DataFrame, fmt: String, work: File): Array[Byte] =
    if (ToBytesFormats.exists(_._1 == fmt)) Trace.span("api.to_bytes")(GdalWrite.toBytes(df, format = fmt))
    else java.nio.file.Files.readAllBytes(
      new File(store(df, fmt, new File(work, s"payload.$fmt"), 1).path).toPath)

  /** GdalRead.fromBytes of a payload, fully read and checked against `truth`. */
  def read(spark: SparkSession, fmt: String, bytes: Array[Byte], schema: StructType, truth: Digest): Digest = {
    val df = Trace.span("api.from_bytes")(GdalRead.fromBytes(spark, bytes, Some(hint(fmt))))
    val d = Trace.span("sources.scan")(Digest.ofFrame(df, schema))
    expect(d, truth, s"from_bytes.$fmt")
    d
  }
}

/** A bbox window over the generator's extent, as both the serve_requests
  * loop and the probe query it. */
final case class Window(x0: Double, y0: Double, x1: Double, y1: Double) {
  def bbox: String = s"$x0,$y0,$x1,$y1"

  /** The filtered frame with its physical plan made, so planning is
    * timed apart from execution. */
  def plan(frame: DataFrame): DataFrame = Trace.span("plans.window") {
    val q = frame.filter(call_function("st_intersects_bbox", col("geometry"), lit(x0), lit(y0), lit(x1), lit(y1)))
    q.queryExecution.executedPlan
    q
  }

  /** Truth: the digest of every row whose envelope meets the window. */
  def expected(envelopes: IndexedSeq[Envelope], hashes: IndexedSeq[Long]): Digest =
    Digest.of(envelopes.indices.filter { i =>
      val e = envelopes(i)
      e != null && !(e.getMinX > x1 || e.getMinY > y1 || e.getMaxX < x0 || e.getMaxY < y0)
    }.map(hashes))
}

object Window {
  val Selectivities: Seq[Double] = Seq(0.001, 0.01, 0.1)
  /** The formats windows are served from: indexed, record boxes, no index. */
  val Formats: Seq[String] = Seq("flatgeobuf", "shapefile", "geojson")

  /** A window covering `sel` of the extent, placed by `r`. */
  def random(sel: Double, r: SplittableRandom): Window = {
    val w = Gen.Width * math.sqrt(sel); val h = Gen.Height * math.sqrt(sel)
    val x0 = Gen.MinX + r.nextDouble() * (Gen.Width - w); val y0 = Gen.MinY + r.nextDouble() * (Gen.Height - h)
    Window(x0, y0, x0 + w, y0 + h)
  }
}

/** Read-heavy throughput: one wide point dataset stored in seven formats,
  * loaded schemaless and fully materialized. */
final class IngestPoints(seed: Long, work: File) extends Workload {
  val name = "ingest_points"
  val schema: StructType = Gen.pointSchema
  lazy val rows: IndexedSeq[Row] = Gen.points(seed, 19000)
  private lazy val truth = Digest.ofRows(rows, schema)
  // single-file GeoJSON is above the 8 MB split threshold; two formats are
  // stored as a directory of parts, the rest as one file
  private val layout = Seq("geojson" -> 1, "geojsonseq" -> 4, "shapefile" -> 1,
    "flatgeobuf" -> 1, "gpkg" -> 1, "spatialite" -> 1, "csvgeo" -> 4)
  private var stored: Seq[Input] = Nil
  def inputs: Seq[Input] = stored

  def prepare(spark: SparkSession): Seq[Op] = {
    val df = frame(spark, rows, schema, 4)
    stored = parallel(layout.map { case (fmt, parts) =>
      () => store(df, fmt, new File(work, s"in.$fmt"), parts)
    })
    val geojson = new File(stored.head.path).length
    require(geojson > (8L << 20), s"GeoJSON input is $geojson bytes, not above the 8 MiB split threshold")
    Nil // every round reads each input in full
  }

  private var spark: SparkSession = _
  override def open(s: SparkSession): Unit = spark = s

  def round(r: Int): Seq[Op] = stored.map(in => readOp(spark, in, schema, truth, s"read.${in.fmt}"))
}

/** Closed loop, one client, mixed small requests: bbox windows at three
  * selectivities over frames loaded once, an attribute filter, and bytes
  * API round trips of a few hundred features. */
final class ServeRequests(seed: Long, work: File) extends Workload {
  val name = "serve_requests"
  val schema: StructType = Gen.pointSchema
  lazy val rows: IndexedSeq[Row] = Gen.points(seed, 10000)
  private lazy val hashes = Digest.rowHashes(rows, schema)
  private lazy val envelopes = rows.map(r => Digest.envelope(r.getAs[Array[Byte]]("geometry")))
  private lazy val payloadRows = rows.indices.filter(i => (i * 31 + seed) % 33 == 0).take(300)
  private lazy val payloadTruth = Digest.of(payloadRows.map(hashes))
  private lazy val words = rows.flatMap(x => Option(x.getAs[String]("s_c"))).distinct.sorted

  private var stored: Seq[Input] = Nil
  def inputs: Seq[Input] = stored
  private var payloads: Map[String, Array[Byte]] = Map.empty
  private var spark: SparkSession = _
  private var frames: Map[String, DataFrame] = Map.empty
  private var payloadFrame: DataFrame = _

  private def payloadDf(s: SparkSession): DataFrame = frame(s, payloadRows.map(rows), schema, 1)

  def prepare(s: SparkSession): Seq[Op] = {
    val df = frame(s, rows, schema, 1)
    stored = parallel(Window.Formats.map { fmt => () => store(df, fmt, new File(work, s"in.$fmt"), 1) })
    val pdf = payloadDf(s)
    payloads = BytesApi.Formats.map { case (fmt, _) => fmt -> BytesApi.write(pdf, fmt, work) }.toMap
    // windows read parts of the files, so check them in full; every round
    // reads and checks each payload
    stored.map(in => readOp(s, in, schema, Digest.of(hashes), s"check.${in.fmt}"))
  }

  override def open(s: SparkSession): Unit = {
    spark = s
    frames = stored.map(in => in.fmt -> in.load(s)).toMap
    payloadFrame = payloadDf(s).cache()
    payloadFrame.count()
  }

  private def fromBytes(fmt: String): Op = Op(s"from_bytes.$fmt", () => {
    val d = BytesApi.read(spark, fmt, payloads(fmt), schema, payloadTruth)
    Done(d.count, payloads(fmt).length)
  })

  private def toBytes(fmt: String): Op = Op(s"to_bytes.$fmt", () => {
    val out = BytesApi.write(payloadFrame, fmt, work)
    Done(payloadRows.size, out.length, () => BytesApi.read(spark, fmt, out, schema, payloadTruth))
  })

  private def window(fmt: String, sel: Double, r: SplittableRandom): Op = {
    val w = Window.random(sel, r)
    val want = w.expected(envelopes, hashes)
    Op(s"window.$fmt.$sel", () => {
      val q = w.plan(frames(fmt))
      val d = Trace.span("sources.scan")(Digest.ofFrame(q, schema))
      expect(d, want, s"window.$fmt")
      Done(d.count, 0L)
    })
  }

  private def attribute(fmt: String, word: String): Op = {
    val want = Digest.of(rows.indices.filter(i => word == rows(i).getAs[String]("s_c")).map(hashes))
    Op(s"filter.$fmt", () => {
      val df = Trace.span("sources.filter")(frames(fmt).filter(col("s_c") === word))
      val d = Trace.span("sources.scan")(Digest.ofFrame(df, schema))
      expect(d, want, s"filter.$fmt")
      Done(d.count, 0L)
    })
  }

  def round(r: Int): Seq[Op] = {
    val rnd = new SplittableRandom(seed * 1000003L + r)
    val ops = Window.Formats.flatMap(f => Window.Selectivities.map(s => window(f, s, rnd))) ++
      Window.Formats.map(f => attribute(f, words(rnd.nextInt(words.size)))) ++
      BytesApi.Formats.map(f => fromBytes(f._1)) ++
      BytesApi.ToBytesFormats.map(f => toBytes(f._1))
    // a seeded shuffle, so the mix is fixed but the order varies by round
    val a = ops.toArray
    for (i <- a.indices.reverse) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toSeq
  }
}
