package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.arrow.ArrowRead
import graft.operators.Multimodal

class ArrowMultimodalSpec extends AnyFunSuite {
  import TestSpark._

  test("arrow ipc: cities.arrow reads 202 rows with WKB geometry") {
    val df = ArrowRead.fromFile(spark, s"$fixtures/cities.arrow")
    assert(df.count() === 202)
    assert(df.schema("geometry").dataType === BinaryType)
    df.createOrReplaceTempView("cities")
    val first = spark.sql(
      "SELECT name, st_aswkt(geometry) AS wkt FROM cities ORDER BY name LIMIT 1").head
    assert(first.getString(1).startsWith("POINT"))
  }

  test("arrow -> geojson write round trip (reference test_gdal_layer_from_df)") {
    val out = TempDirs.untilExit("graft_arrow_").toString
    val df = ArrowRead.fromFile(spark, s"$fixtures/cities.arrow")
    df.write.format("geojson").mode("overwrite").save(out)
    val back = spark.read.format("geojson").load(out)
    assert(back.count() === 202)
  }

  test("arrow ipc WRITE: cities round-trips file and bytes, nulls preserved") {
    import graft.sources.arrow.ArrowWrite
    val s = spark; import s.implicits._
    // fixture round trip: every value and the WKB geometry survive
    val df = ArrowRead.fromFile(spark, s"$fixtures/cities.arrow")
    val path = TempDirs.untilExit("graft_arrow_w_").toPath.resolve("cities.arrow").toString
    ArrowWrite.toFile(df, path)
    val back = ArrowRead.fromFile(spark, path)
    assert(back.schema === df.schema)
    val key = (r: org.apache.spark.sql.Row) =>
      r.toSeq.map {
        case b: Array[Byte] => java.util.Arrays.hashCode(b).toString
        case x => String.valueOf(x)
      }.mkString("|")
    assert(back.collect().map(key).sorted.toSeq === df.collect().map(key).sorted.toSeq)
    // nulls + every supported type through the bytes surface
    val mixed = Seq(
      (1L, Some("a"), Some(1.5), Some(true), Some(Array[Byte](1, 2))),
      (2L, None, None, None, None)
    ).toDF("id", "s", "d", "b", "bin")
    val bytes = ArrowWrite.toBytes(mixed, Long.MaxValue)
    val tmp = TempDirs.untilExit("graft_arrow_b_").toPath.resolve("mixed.arrow")
    java.nio.file.Files.write(tmp, bytes)
    val back2 = ArrowRead.fromFile(spark, tmp.toString).orderBy("id").collect()
    assert(back2(0).getLong(0) === 1L && back2(0).getString(1) === "a" &&
      back2(0).getDouble(2) === 1.5 && back2(0).getBoolean(3) === true &&
      back2(0).getAs[Array[Byte]](4).toSeq === Seq[Byte](1, 2))
    assert(back2(1).getLong(0) === 2L && (1 to 4).forall(back2(1).isNullAt))
    // df_from_bytes sniffs the ARROW1 magic with no filename hint at all
    val sniffed = GdalRead.fromBytes(spark, bytes, filenameHint = None)
    assert(sniffed.orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
    // and GdalWrite.toBytes speaks arrow
    val rt = GdalRead.fromBytes(spark,
      GdalWrite.toBytes(mixed, format = "arrow"), Some("x.arrow"))
    assert(rt.count() === 2)
  }

  test("toBytes(arrow) caps the written bytes at run time, also where the plan check is exempt") {
    import org.apache.spark.sql.functions._
    // an aggregate's size estimate is not credible, so only the run-time
    // cap can stop it
    val agg = spark.range(0, 2000, 1, 4).groupBy((col("id") % 50).as("k"))
      .agg(count(lit(1)).as("n"))
    val full = GdalWrite.toBytes(agg, format = "arrow")
    val f = TempDirs.untilExit("graft_arrow_cap_").toPath.resolve("agg.arrow")
    java.nio.file.Files.write(f, full)
    assert(ArrowRead.fromFile(spark, f.toString).count() === 50)
    intercept[graft.sources.GraftError.DriverBytesTooLarge] {
      GdalWrite.toBytes(agg, Map("maxBytes" -> (full.length - 1).toString), format = "arrow")
    }
    assert(GdalWrite.toBytes(agg, Map("maxBytes" -> full.length.toString), format = "arrow")
      .length === full.length)
  }

  test("multimodal stub decode: deterministic features over binary media") {
    val media = Multimodal.mediaFromDocuments(spark, sf0001)
    val decoded = Multimodal.decodeStub(media)
    assert(decoded.schema === Multimodal.decodedSchema)
    val rows = decoded.orderBy("media_id").limit(2).collect()
    assert(rows.length === 2)
    assert(rows.forall(r => r.getInt(3) >= 64 && r.getInt(3) < 128)) // width range
    assert(rows.forall(r => r.getSeq[Float](5).length === 8))
    // deterministic: same input -> same features
    val again = Multimodal.decodeStub(media).orderBy("media_id").limit(2).collect()
    assert(rows.map(_.toString).toSeq === again.map(_.toString).toSeq)
    // n_bytes matches the source text byte length
    val doc0 = spark.read.parquet(s"$sf0001/documents.parquet")
      .orderBy("doc_id").limit(1).collect()(0)
    assert(rows(0).getLong(2) === doc0.getString(1).getBytes("UTF-8").length.toLong)
  }

  test("multimodal real image decode: PNG/JPEG header dimensions via javax.imageio") {
    val s = spark; import s.implicits._
    def imageBytes(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, 0xAA55AA)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    // direct kernel check
    assert(Multimodal.imageMeta(imageBytes("png", 320, 200)) === Some(("png", 320, 200)))
    assert(Multimodal.imageMeta(imageBytes("jpeg", 17, 43)) === Some(("jpeg", 17, 43)))
    assert(Multimodal.imageMeta("not an image".getBytes("UTF-8")) === None)
    // through the DataFrame decode path: real dims win, fakes still flow
    val media = Seq(
      (1L, "application/octet-stream", imageBytes("png", 320, 200)),
      (2L, "application/octet-stream", imageBytes("jpeg", 17, 43)),
      (3L, "application/octet-stream", "just bytes".getBytes("UTF-8")))
      .toDF("media_id", "media_type", "content")
    val rows = Multimodal.decodeStub(media).orderBy("media_id").collect()
    assert(rows(0).getString(1) === "image/png" &&
      rows(0).getInt(3) === 320 && rows(0).getInt(4) === 200)
    assert(rows(1).getString(1) === "image/jpeg" &&
      rows(1).getInt(3) === 17 && rows(1).getInt(4) === 43)
    assert(rows(2).getString(1) === "application/octet-stream") // fake fallback
  }

  test("multimodal feature is the real pixel luminance histogram for decodable images") {
    val s = spark; import s.implicits._
    // 320×200 PNG: all black except pixel (0,0) = 0xAA55AA. Lossless, so
    // the expected histogram is exact: luma(170,85,170) = (299·170 +
    // 587·85 + 114·170)/1000 = 120 → bin 120·8/256 = 3; the other 63,999
    // pixels are luma 0 → bin 0.
    val img = new java.awt.image.BufferedImage(320, 200, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xAA55AA)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    val expected = Array(63999f / 64000f, 0f, 0f, 1f / 64000f, 0f, 0f, 0f, 0f)
    assert(Multimodal.imageFeature(png).get.toSeq === expected.toSeq)
    assert(Multimodal.imageFeature("not an image".getBytes("UTF-8")) === None)
    // through the DataFrame path: the stored feature IS the histogram
    val media = Seq((1L, "application/octet-stream", png)).toDF("media_id", "media_type", "content")
    val row = Multimodal.decodeStub(media).head
    assert(row.getSeq[Float](5).toSeq === expected.toSeq)
    // every histogram sums to 1 (here: exactly, 64000/64000)
    assert(row.getSeq[Float](5).sum === 1f)
  }

  test("multimodal resize: nearest-neighbor downscale, pass-through for non-images") {
    val s = spark; import s.implicits._
    // 400×100 gradient PNG: longest side 400 → 256 gives 256×64
    val img = new java.awt.image.BufferedImage(400, 100, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 400; y <- 0 until 100) img.setRGB(x, y, (x * 255 / 400) << 16)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    val media = Seq(
      (1L, "image/png", png),
      (2L, "application/octet-stream", "just bytes".getBytes("UTF-8")))
      .toDF("media_id", "media_type", "content")
    val rows = Multimodal.resizeImages(media, maxDim = 256).orderBy("media_id").collect()
    assert(rows(0).getInt(1) === 256 && rows(0).getInt(2) === 64)
    // the resized payload is a decodable PNG with the new dimensions
    assert(Multimodal.imageMeta(rows(0).getAs[Array[Byte]](3)) === Some(("png", 256, 64)))
    // nearest-neighbor is deterministic: two runs, identical bytes
    val again = Multimodal.resizeImages(media, maxDim = 256).orderBy("media_id").collect()
    assert(java.util.Arrays.equals(rows(0).getAs[Array[Byte]](3), again(0).getAs[Array[Byte]](3)))
    // non-image passes through untouched
    assert(rows(1).isNullAt(1) && new String(rows(1).getAs[Array[Byte]](3), "UTF-8") === "just bytes")
    // already-small images are not upscaled
    val small = Multimodal.resizeImages(media.filter($"media_id" === 1), maxDim = 1024).head
    assert(small.getInt(1) === 400 && small.getInt(2) === 100)
  }

  test("multimodal frame sampling: 1->N explode shape, stills emit one frame") {
    val s = spark; import s.implicits._
    val img = new java.awt.image.BufferedImage(4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val fakeVideo = Array.tabulate[Byte](1024)(i => (i % 251).toByte) // "4s" payload
    val media = Seq(
      (1L, "image/png", bos.toByteArray),
      (2L, "video/fake", fakeVideo))
      .toDF("media_id", "media_type", "content")
    val frames = Multimodal.sampleFrames(media, everyMs = 1000L, maxFrames = 8)
    assert(frames.schema === Multimodal.frameSchema)
    val byId = frames.collect().groupBy(_.getLong(0))
    assert(byId(1L).length === 1 && byId(1L).head.getInt(1) === 0) // still = 1 frame
    val vid = byId(2L).sortBy(_.getInt(1))
    assert(vid.length === 5) // (1024/256+1)s at 1 fps
    assert(vid.map(_.getLong(2)).toSeq === Seq(0L, 1000L, 2000L, 3000L, 4000L))
    // deterministic fake payloads (compare bytes, not array identity)
    val again = Multimodal.sampleFrames(media).collect().groupBy(_.getLong(0))
    vid.zip(again(2L).sortBy(_.getInt(1))).foreach { case (a, b) =>
      assert(a.getLong(2) === b.getLong(2))
      assert(java.util.Arrays.equals(a.getAs[Array[Byte]](3), b.getAs[Array[Byte]](3)))
    }
  }

  test("animated GIF frames are REALLY decoded: exact per-frame pixel values") {
    val s = spark; import s.implicits._
    // seed 3, 4 frames: grays (3*7 + f*40) % 256 = 21, 61, 101, 141
    val gif = Multimodal.gifSynth(seed = 3L, nFrames = 4)
    val media = Seq((7L, "image/gif", gif)).toDF("media_id", "media_type", "content")
    val frames = Multimodal.sampleFrames(media, everyMs = 500L, maxFrames = 8)
      .collect().sortBy(_.getInt(1))
    assert(frames.length === 4)
    assert(frames.map(_.getLong(2)).toSeq === Seq(0L, 500L, 1000L, 1500L))
    // each emitted frame is a PNG of the decoded pixels — read it back and
    // check the closed-form gray value survived GIF palette + PNG re-encode
    frames.zipWithIndex.foreach { case (r, f) =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](3)))
      val expected = 21 + f * 40
      val px = img.getRGB(2, 2)
      assert(((px >> 16) & 0xFF) === expected && (px & 0xFF) === expected)
    }
    // maxFrames truncates the real path too
    val capped = Multimodal.sampleFrames(media, maxFrames = 2).collect()
    assert(capped.length === 2)
  }

  test("MJPEG-in-AVI frames are REALLY decoded: container walk + exact JPEG round trip") {
    val s = spark; import s.implicits._
    // seed 5, 3 frames: grays (5*11 + f*37) % 256 = 55, 92, 129
    val avi = Multimodal.aviSynth(seed = 5L, nFrames = 3)
    // it is a real RIFF AVI, not a WAV or image
    assert(new String(avi, 0, 4, "ISO-8859-1") === "RIFF")
    assert(new String(avi, 8, 4, "ISO-8859-1") === "AVI ")
    assert(Multimodal.imageMeta(avi).isEmpty)
    assert(Multimodal.wavMeta(avi).isEmpty)
    // direct decode: every frame's pixels recover the closed form exactly
    val frames = Multimodal.aviFrames(avi).get
    assert(frames.length === 3)
    frames.zipWithIndex.foreach { case (img, f) =>
      val expected = (55 + f * 37) % 256
      assert(img.getWidth === 8 && img.getHeight === 8)
      (0 until 8).foreach { y => (0 until 8).foreach { x =>
        val px = img.getRGB(x, y)
        assert(((px >> 16) & 0xFF) === expected && (px & 0xFF) === expected,
          s"frame $f pixel ($x,$y)")
      }}
    }
    // through the Spark pipeline: sampleFrames walks the container and the
    // whole-frame mean recovers the closed form (uniform → mean == gray)
    val media = Seq((9L, "video/avi", avi)).toDF("media_id", "media_type", "content")
    val grays = Multimodal.decodeFrameMeanGray(
      Multimodal.sampleFrames(media, everyMs = 500L, maxFrames = 8))
      .collect().sortBy(_.getLong(1)).map(_.getLong(2)).toSeq
    assert(grays === Seq(55L, 92L, 129L))
    // non-AVI bytes: None, and truncated AVI bytes never throw
    assert(Multimodal.aviFrames("not an avi".getBytes).isEmpty)
    assert(Multimodal.aviFrames(avi.take(60).toArray).exists(_.isEmpty))
    // benign truncation (download cut mid-frame): every COMPLETE frame
    // before the cut still decodes. Cut = idx1 (8 + 16·3 bytes) plus half
    // of the last frame's JPEG → exactly the first two frames survive.
    val lastJpeg = Multimodal.jpegSynth((55 + 2 * 37) % 256).length
    val cut = Multimodal.aviFrames(
      avi.take(avi.length - (56 + lastJpeg / 2)).toArray).get
    assert(cut.length === 2, s"got ${cut.length} frames")
    assert((cut.head.getRGB(0, 0) & 0xFF) === 55)
    assert((cut(1).getRGB(0, 0) & 0xFF) === 92)
  }

  test("decodeDHash recovers the closed-form difference hash from real GIF pixels") {
    val s = spark; import s.implicits._
    val ids = Seq(5L, 15L, 105L, 9999L).toDF("doc_id")
    val out = graft.operators.Multimodal.decodeDHash(
        graft.operators.Multimodal.gifPatternFromIds(ids))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // closed form in plain Scala, independently of the image path
    def expected(id: Long): (Long, Long) = {
      val (seed, off) = (id % 7, id / 100)
      var hi = 0L; var lo = 0L
      for (y <- 0 until 8; x <- 0 until 8) {
        val p = ((seed * 31 + x * 13 + y * 7 + off) % 256 + 256) % 256
        val pn = ((seed * 31 + (x + 1) * 13 + y * 7 + off) % 256 + 256) % 256
        if (p < pn) { val b = 1L << ((y % 4) * 8 + x); if (y < 4) hi |= b else lo |= b }
      }
      (hi, lo)
    }
    for (id <- Seq(5L, 15L, 105L, 9999L)) assert(out(id) === expected(id), s"id=$id")
    // ids 5 and 15 share base 5%7=5, 15%7=1 - different; 5 and 9999: 9999%7=3.
    // id 5 vs 105: bases 5 and 0 differ; same-base pair needs id%7 equal:
    assert(out(5L) !== out(15L))
    // undecodable payload -> null halves
    val bad = graft.operators.Multimodal.decodeDHash(
      Seq((1L, Array[Byte](1, 2, 3))).toDF("media_id", "content"))
      .collect().head
    assert(bad.isNullAt(1) && bad.isNullAt(2))
  }

  test("warc round trip preserves every record field") {
    val s = spark; import s.implicits._
    val docs = Seq(("s1", 2L, "hello world"), ("s1", 1L, "first doc"),
      ("s2", 3L, "x" * 100)).toDF("source", "doc_id", "text")
    val recs = Multimodal.parseWarc(Multimodal.warcFromDocs(docs))
      .orderBy("blob_id", "rec_no").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getLong(4), r.getString(5)))
    assert(recs.length === 3)
    // records come back in doc_id order within each member
    assert(recs(0) === (("s1", 1L, "response",
      "http://example.com/docs/1", 9L, "first doc")))
    assert(recs(1)._4 === "http://example.com/docs/2" && recs(1)._5 === 11L)
    // payload head truncates at 32 chars; length is the full payload
    assert(recs(2)._5 === 100L && recs(2)._6 === "x" * 32)
  }

  test("warc payload_head counts 32 CHARACTERS, not bytes, on non-ASCII text") {
    val s = spark; import s.implicits._
    // 40 two-byte chars: a byte-prefix head would grab only 16 chars (or
    // split a codepoint into U+FFFD); the contract — and the q248
    // substr(text,1,32) oracle — is the first 32 characters
    val text = "é" * 40
    val docs = Seq(("s1", 1L, text)).toDF("source", "doc_id", "text")
    val rec = Multimodal.parseWarc(Multimodal.warcFromDocs(docs)).collect().head
    assert(rec.getLong(4) === 80L)          // content_length stays BYTES
    assert(rec.getString(5) === "é" * 32)   // head is CHARACTERS
    // supplementary-plane codepoints count as ONE char (codepoint
    // semantics — what Spark substring and DuckDB substr both count)
    val emoji = "😀" // U+1F600, 4 UTF-8 bytes, 2 UTF-16 units
    val docs2 = Seq(("s1", 1L, emoji * 40)).toDF("source", "doc_id", "text")
    val rec2 = Multimodal.parseWarc(Multimodal.warcFromDocs(docs2)).collect().head
    assert(rec2.getString(5) === emoji * 32)
  }

  test("warc parser keeps prefix records and stops at malformed tails") {
    val s = spark; import s.implicits._
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    def rec(uri: String, payload: String): Array[Byte] =
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $uri\r\n" +
        s"Content-Length: ${payload.getBytes(utf8).length}\r\n\r\n" +
        payload + "\r\n\r\n").getBytes(utf8)
    val good = rec("http://a", "ok")
    // truncated: header promises 100 bytes, only 3 present
    val truncated = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "Content-Length: 100\r\n\r\nabc").getBytes(utf8)
    // missing Content-Length entirely
    val noLen = "WARC/1.0\r\nWARC-Type: response\r\n\r\npayload".getBytes(utf8)
    val blobs = Seq(
      ("b1", good ++ truncated), // first record parses, tail halts
      ("b2", "not a warc at all".getBytes(utf8)),
      ("b3", noLen)).toDF("blob_id", "content")
    val out = Multimodal.parseWarc(blobs).collect()
      .map(r => (r.getString(0), r.getString(3), r.getLong(4)))
    assert(out.toSeq === Seq(("b1", "http://a", 2L)))
  }

  test("personalizedPageRank concentrates mass near the seed and conserves it") {
    val s = spark; import s.implicits._
    // path a→b→c, seed {a}: after 2 rounds r = (0.15, 0.1275, 0.7225)
    val edges = Seq(("a", "b", 1.0), ("b", "c", 1.0)).toDF("src", "dst", "w")
    val seeds = Seq("a").toDF("node")
    val r = graft.api.Graft.personalizedPageRank(edges, "src", "dst", "w",
        seeds, "node", iterations = 2)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(math.abs(r("a") - 0.15) < 1e-9)
    assert(math.abs(r("b") - 0.1275) < 1e-9)
    assert(math.abs(r("c") - 0.7225) < 1e-9)
    assert(math.abs(r.values.sum - 1.0) < 1e-9) // teleport conserves mass
    intercept[IllegalArgumentException] {
      graft.api.Graft.personalizedPageRank(edges, "src", "dst", "w",
        Seq("zz").toDF("node"), "node")
    }
  }
}
