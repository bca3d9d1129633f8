package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams

/** Top-level (NOT nested in the suite): Janino's generated code references
  * the accessor methods by class name, and a suite-nested case class made
  * every streaming plan silently fall back to interpreted expressions. */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

case class ArrEv(user_id: Long, arr: Long, event_id: Long, ts: Timestamp)

/** Drives the Structured Streaming plans through MemoryStream micro-batches
  * and checks window/session/dedup semantics against hand-computed
  * expectations. */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private def runToCompletion(df: org.apache.spark.sql.DataFrame, name: String,
      mode: String): Unit = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
  }

  test("tumbling window counts over a memory stream") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(1, ts(5), 1, "click", 1.0), Ev(2, ts(20), 1, "click", 2.0),
      Ev(3, ts(65), 2, "view", 3.0), Ev(4, ts(70), 1, "click", 4.0))
    runToCompletion(EventStreams.tumblingCounts(mem.toDF), "tumbling", "complete")
    val rows = s.sql("SELECT window_start, event_type, n_events, sum_value FROM tumbling ORDER BY window_start, event_type")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.toSeq === Seq(
      ("2024-01-01 00:00:00.0", "click", 2L, 3.0),
      ("2024-01-01 01:00:00.0", "click", 1L, 4.0),
      ("2024-01-01 01:00:00.0", "view", 1L, 3.0)))
  }

  test("stream-static enrichment broadcast-joins the dimension per micro-batch") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val dim = Seq((1L, "gold"), (2L, "free")).toDF("user_id", "tier")
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(1, ts(5), 1, "click", 1.0),
      Ev(2, ts(6), 2, "view", 2.0),
      Ev(3, ts(7), 9L, "click", 3.0)) // keyless user -> NULL tier kept
    runToCompletion(
      EventStreams.enrichStatic(mem.toDF, dim, "user_id", Seq("tier"))
        .select($"event_id", $"user_id", $"tier"),
      "enriched", "append")
    val rows = s.sql("SELECT event_id, user_id, tier FROM enriched ORDER BY event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2))))
    assert(rows.toSeq === Seq((1L, 1L, Some("gold")), (2L, 2L, Some("free")),
      (3L, 9L, None)))
  }

  test("sliding window counts: each event lands in exactly two windows") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val mem = MemoryStream[Ev]
    // one event at minute 7 → windows starting at minute 0 and minute 5
    mem.addData(Ev(1, ts(7), 1, "click", 2.5))
    runToCompletion(EventStreams.slidingCounts(mem.toDF), "sliding", "complete")
    val rows = s.sql(
      "SELECT window_start, event_type, n_events, sum_value FROM sliding ORDER BY window_start")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.toSeq === Seq(
      ("2024-01-01 00:00:00.0", "click", 1L, 2.5),
      ("2024-01-01 00:05:00.0", "click", 1L, 2.5)))
  }

  test("session windows with 30-minute gap") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val mem = MemoryStream[Ev]
    // user 1: events at 0,10,20 (one session) then 120 (new session)
    mem.addData(
      Ev(1, ts(0), 1, "click", 1.0), Ev(2, ts(10), 1, "click", 1.0),
      Ev(3, ts(20), 1, "click", 1.0), Ev(4, ts(120), 1, "click", 1.0))
    runToCompletion(EventStreams.sessions(mem.toDF), "sessions", "complete")
    val rows = s.sql("SELECT user_id, n_events FROM sessions ORDER BY session_start")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq === Seq((1L, 3L), (1L, 1L)))
  }

  test("watermarked dedup drops duplicate event ids") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(1, ts(0), 1, "click", 1.0), Ev(1, ts(1), 1, "click", 1.0),
      Ev(2, ts(2), 1, "view", 2.0))
    runToCompletion(EventStreams.dedup(mem.toDF), "dedup", "append")
    assert(s.sql("SELECT count(*) FROM dedup").head.getLong(0) === 2L)
  }

  test("stream-stream interval join: purchases attributed to preceding clicks") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(1, ts(0), 1, "click", 0.0),    // within the hour before purchase 3
      Ev(2, ts(30), 1, "click", 0.0),   // also within
      Ev(3, ts(50), 1, "purchase", 9.99),
      Ev(4, ts(50), 2, "purchase", 5.0), // user 2: no clicks -> no row
      Ev(5, ts(55), 1, "click", 0.0))   // after the purchase -> excluded
    runToCompletion(EventStreams.purchaseAttribution(mem.toDF), "attrib", "append")
    val rows = s.sql("SELECT purchase_id, click_id FROM attrib ORDER BY click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq === Seq((3L, 1L), (3L, 2L)))
  }

  test("stream-stream LEFT OUTER interval join: clickless purchases emit null rows") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.purchaseAttributionOuter(mem.toDF)
      .writeStream.format("memory").queryName("attrib_outer")
      .outputMode("append").start()
    mem.addData(
      Ev(1, ts(0), 1, "click", 0.0),
      Ev(3, ts(50), 1, "purchase", 9.99),   // matched
      Ev(4, ts(50), 2, "purchase", 5.0))    // user 2: no clicks -> NULL click row
    q.processAllAvailable()
    // push BOTH sides' watermarks far past the purchases in LATER
    // batches (the global watermark is the min across inputs, and a
    // filtered-out event type never reaches a watermark node) so the
    // outer side can prove no matching click will ever arrive; the extra
    // batch gives the state store a chance to evict and emit the null row
    mem.addData(Ev(98, ts(60 * 24), 9, "click", 0.0),
      Ev(99, ts(60 * 24), 9, "purchase", 1.0))
    q.processAllAvailable()
    mem.addData(Ev(100, ts(60 * 25), 9, "click", 0.0),
      Ev(101, ts(60 * 25), 9, "purchase", 1.0))
    q.processAllAvailable()
    q.stop()
    // the watermark-pusher purchases (ids 99/101) are still within their
    // own eviction window at stop time — scope the check to the scenario
    val rows = s.sql(
      "SELECT purchase_id, click_id FROM attrib_outer WHERE purchase_id < 90 " +
        "ORDER BY purchase_id, click_id")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    assert(rows.toSeq === Seq((3L, 1L), (4L, -1L)))
  }

  test("event-time-timeout sessions: summary emits only after the watermark passes the gap") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.timedOutSessions(mem.toDF)
      .writeStream.format("memory").queryName("ttl_sessions")
      .outputMode("append").start()
    mem.addData(
      Ev(1, ts(0), 1, "click", 0.0),
      Ev(2, ts(10), 1, "view", 0.0),
      Ev(3, ts(20), 1, "view", 0.0))
    q.processAllAvailable()
    // session still open: nothing emitted yet
    assert(s.sql("SELECT * FROM ttl_sessions").count() === 0)
    // watermark pusher far past end + gap (2h delay + 30min gap)
    mem.addData(Ev(99, ts(60 * 24), 9, "view", 0.0))
    q.processAllAvailable()
    mem.addData(Ev(100, ts(60 * 25), 9, "view", 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = s.sql(
      "SELECT user_id, n_events FROM ttl_sessions WHERE user_id = 1").collect()
    assert(rows.length === 1)
    assert(rows.head.getLong(1) === 3L)
  }

  test("event-time-timeout sessions split on in-batch gaps and merge on bridges") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.timedOutSessions(mem.toDF)
      .writeStream.format("memory").queryName("gap_sessions")
      .outputMode("append").start()
    // one batch holding TWO sessions for user 1 (gap 40 min > 30) plus a
    // provisional split for user 2 that a later in-watermark event bridges
    mem.addData(
      Ev(1, ts(0), 1, "click", 0.0), Ev(2, ts(10), 1, "view", 0.0),
      Ev(3, ts(50), 1, "view", 0.0),
      Ev(4, ts(0), 2, "view", 0.0), Ev(5, ts(40), 2, "view", 0.0))
    q.processAllAvailable()
    // bridge: ts(20) is within 30 min of both user-2 islands -> ONE session
    mem.addData(Ev(6, ts(20), 2, "view", 0.0))
    q.processAllAvailable()
    // sentinel advances the watermark past every end + gap
    mem.addData(Ev(99, ts(60 * 48), 9, "view", 0.0))
    q.processAllAvailable()
    mem.addData(Ev(100, ts(60 * 49), 9, "view", 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = s.sql(
      "SELECT user_id, start_us, end_us, n_events FROM gap_sessions " +
        "WHERE user_id < 9 ORDER BY user_id, start_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    def us(minute: Int): Long = ts(minute).getTime * 1000L
    assert(rows.toSeq === Seq(
      (1L, us(0), us(10), 2L), (1L, us(50), us(50), 1L),
      (2L, us(0), us(40), 3L)))
  }

  test("session state runs on the RocksDB state store with identical results") {
    // the 100 TB state backend: RocksDB keeps per-key state off-heap /
    // on-disk, so session state is bounded by local disk, not executor
    // heap. Same scenario as the gap/bridge test — results must be
    // IDENTICAL to the default HDFS-backed store.
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Ev]
      val q = EventStreams.timedOutSessions(mem.toDF)
        .writeStream.format("memory").queryName("rocksdb_sessions")
        .outputMode("append").start()
      mem.addData(
        Ev(1, ts(0), 1, "click", 0.0), Ev(2, ts(10), 1, "view", 0.0),
        Ev(3, ts(50), 1, "view", 0.0),
        Ev(4, ts(0), 2, "view", 0.0), Ev(5, ts(40), 2, "view", 0.0))
      q.processAllAvailable()
      mem.addData(Ev(6, ts(20), 2, "view", 0.0))
      q.processAllAvailable()
      mem.addData(Ev(99, ts(60 * 48), 9, "view", 0.0))
      q.processAllAvailable()
      mem.addData(Ev(100, ts(60 * 25 + 60 * 48), 9, "view", 0.0))
      q.processAllAvailable()
      q.stop()
      val rows = s.sql(
        "SELECT user_id, start_us, end_us, n_events FROM rocksdb_sessions " +
          "WHERE user_id < 9 ORDER BY user_id, start_us")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      def us(minute: Int): Long = ts(minute).getTime * 1000L
      assert(rows.toSeq === Seq(
        (1L, us(0), us(10), 2L), (1L, us(50), us(50), 1L),
        (2L, us(0), us(40), 3L)))
    } finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  test("dedup state runs on the RocksDB state store: cross-batch duplicates dropped, keys once ever") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Ev]
      val q = EventStreams.dedupKeyed(mem.toDF)
        .writeStream.format("memory").queryName("rocksdb_dedup")
        .outputMode("append").start()
      // batch 1: an in-batch duplicate of (1, click, minute 0) + minute 1
      mem.addData(
        Ev(1, ts(0), 1, "click", 0.0), Ev(2, ts(0), 1, "click", 0.0),
        Ev(3, ts(1), 1, "click", 0.0))
      q.processAllAvailable()
      // batch 2: a CROSS-BATCH duplicate of (1, click, minute 0) — only
      // the state store can drop it — plus one fresh key
      mem.addData(Ev(4, ts(0), 1, "click", 0.0), Ev(5, ts(0), 2, "view", 0.0))
      q.processAllAvailable()
      q.stop()
      val rows = s.sql(
        "SELECT user_id, event_type, m_us FROM rocksdb_dedup " +
          "ORDER BY user_id, event_type, m_us")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      def us(minute: Int): Long = ts(minute).getTime * 1000L
      assert(rows.toSeq === Seq(
        (1L, "click", us(0)), (1L, "click", us(1)), (2L, "view", us(0))))
    } finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  test("outer-join state runs on the RocksDB state store: null row emits on watermark proof") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Ev]
      val q = EventStreams.purchaseAttributionOuter(mem.toDF)
        .writeStream.format("memory").queryName("rocksdb_outer")
        .outputMode("append").start()
      // user 1: click then purchase 30 min later (matched);
      // user 2: purchase with no click (must emit a NULL-click row,
      // but ONLY once the watermark proves no match can arrive)
      mem.addData(
        Ev(1, ts(0), 1, "click", 0.0),
        Ev(2, ts(30), 1, "purchase", 9.0),
        Ev(3, ts(10), 2, "purchase", 5.0))
      q.processAllAvailable()
      // far-future sentinels on BOTH branches (global watermark = min)
      mem.addData(
        Ev(-1, ts(60 * 24 * 30), -1, "click", 0.0),
        Ev(-2, ts(60 * 24 * 30), -1, "purchase", 0.0))
      q.processAllAvailable()
      q.stop()
      val rows = s.sql(
        "SELECT purchase_id, click_id, user_id, value FROM rocksdb_outer " +
          "WHERE user_id >= 0 ORDER BY purchase_id")
        .collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) -999L else r.getLong(1), r.getLong(2),
          r.getDouble(3)))
      assert(rows.toSeq === Seq((2L, 1L, 1L, 9.0), (3L, -999L, 2L, 5.0)))
    } finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  test("continuous-run dedup and outer join are invariant to feed chunking") {
    // the q292/q294 hash gates assert sink ≡ batch answer under the
    // 6-chunk feed; the INVARIANCE claim says any chunking gives the
    // same drained sink — pin it across two chunkings on real testdata
    val ev = graft.operators.Util.t(spark, sf0001, "events")
    def keyset(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    assert(keyset(EventStreams.runDedup(ev, chunks = 3)) ===
      keyset(EventStreams.runDedup(ev, chunks = 7)))
    assert(keyset(EventStreams.runPurchaseAttributionOuter(ev, chunks = 3)) ===
      keyset(EventStreams.runPurchaseAttributionOuter(ev, chunks = 7)))
  }

  test("stateful running totals via mapGroupsWithState") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(Ev(1, ts(0), 7, "click", 1.5), Ev(2, ts(1), 7, "view", 2.5))
    runToCompletion(EventStreams.runningTotals(mem.toDF), "totals", "update")
    val last = s.sql("SELECT total_events, total_value FROM totals ORDER BY total_events DESC LIMIT 1")
      .head
    assert(last.getLong(0) === 2L && last.getDouble(1) === 4.0)
  }

  test("streaming CUSUM fires at the threshold crossing and resets") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val mem = MemoryStream[Ev]
    // target 10, slack 1, threshold 5: excess per 14-value = 3
    // s: 3, 6 → ALARM(reset), 3, 6 → ALARM; the 10-values add nothing
    mem.addData(Ev(1, ts(0), 7, "m", 14.0), Ev(2, ts(1), 7, "m", 14.0),
      Ev(3, ts(2), 7, "m", 10.0))
    val out = EventStreams.cusumAlarms(mem.toDF, target = 10.0,
      slack = 1.0, threshold = 5.0)
    val q = out.writeStream.format("memory").queryName("cusum")
      .outputMode("append").start()
    q.processAllAvailable()
    // state (s = 0 after alarm, then 10-value keeps it 0) persists into
    // the NEXT micro-batch: two more 14s re-accumulate and re-fire
    mem.addData(Ev(4, ts(3), 7, "m", 14.0), Ev(5, ts(4), 7, "m", 14.0))
    q.processAllAvailable()
    q.stop()
    val rows = s.sql("SELECT alarm_ts, cusum_at_alarm FROM cusum ORDER BY alarm_ts")
      .collect()
    assert(rows.length === 2)
    assert(rows.map(_.getTimestamp(0)).toSeq === Seq(ts(1), ts(4)))
    assert(rows.forall(_.getDouble(1) === 6.0))
  }

  test("corpus-prep operators compose onto streams (stateless scrub + quality gate)") {
    // The per-row corpus ops (scrubPii, text_stats quality gate) are
    // pure projections, so the same Graft calls run unchanged on a
    // readStream DataFrame — micro-batches scrub as they arrive.
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    graft.functions.GraftFunctions.register(s)
    val mem = MemoryStream[(Long, String)]
    mem.addData(
      (1L, ("solid document body with plenty of words " * 3) + "mail me a@b.io"),
      (2L, "too short"),
      (3L, ("another acceptable body of running text here " * 3) + "ip 10.0.0.7"))
    val docs = mem.toDF.toDF("doc_id", "text")
    val cleaned = graft.api.Graft.scrubPii(docs, "text")
      .withColumn("n_tokens", expr("text_stats(text).ws_tokens").cast("long"))
      .filter(col("n_tokens") >= 20)
    assert(cleaned.isStreaming)
    runToCompletion(cleaned, "stream_scrub", "append")
    val rows = s.sql("SELECT doc_id, text, n_emails, n_ips FROM stream_scrub ORDER BY doc_id")
      .collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 3L)) // doc 2 gated out
    assert(rows(0).getString(1).endsWith("mail me <EMAIL>") && rows(0).getLong(2) === 1L)
    assert(rows(1).getString(1).endsWith("ip <IP>") && rows(1).getLong(3) === 1L)
  }

  test("chunking composes onto streams (stateless explode per micro-batch)") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val mem = MemoryStream[(Long, String)]
    mem.addData((1L, "a" * 950), (2L, "b" * 100))
    val chunks = graft.api.Graft.chunkDocs(mem.toDF.toDF("doc_id", "text"),
      "text", chunkSize = 500, overlap = 100)
    assert(chunks.isStreaming)
    runToCompletion(chunks, "stream_chunks", "append")
    val rows = s.sql(
      "SELECT doc_id, chunk_id, chunk_len FROM stream_chunks ORDER BY doc_id, chunk_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 1: strides 0/400/800 → lens 500/500/150; doc 2: one short chunk
    assert(rows === Seq((1L, 0L, 500L), (1L, 1L, 500L), (1L, 2L, 150L),
      (2L, 0L, 100L)))
  }

  test("kmeans assignment + normalization compose onto streams (online inference)") {
    // kmeansAssigned is a pure codegen projection (centroids ride the plan
    // as reference objects), so the same call classifies embeddings as
    // they ARRIVE — the online leg of the train-batch/serve-stream
    // pattern. nfc_normalize is likewise stateless.
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    graft.functions.GraftFunctions.register(s)
    val centroids = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val mem = MemoryStream[(Long, Array[Float], String)]
    mem.addData(
      (1L, Array(0.9f, 0.1f), "café one"),
      (2L, Array(0.2f, 0.8f), "café two"))
    val out = graft.api.Graft.kmeansAssigned(
        mem.toDF.toDF("vec_id", "embedding", "txt"), "embedding", centroids)
      .withColumn("norm", expr("nfc_normalize(txt)"))
    assert(out.isStreaming)
    runToCompletion(out, "stream_kmeans", "append")
    val rows = s.sql("SELECT vec_id, cid, norm FROM stream_kmeans ORDER BY vec_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(rows === Seq((1L, 0, "café one"), (2L, 1, "café two")))
  }

  test("streaming CDC apply: foreachBatch merge-upserts each batch into a versioned snapshot") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val dir = TempDirs.untilExit("graft_stream_cdc").toString
    Seq((1L, "one", 10.0), (2L, "two", 20.0)).toDF("k", "name", "bal")
      .write.mode("overwrite").parquet(s"$dir/snap-0")
    // versioned read-v/write-v+1 per micro-batch: the self-overwrite-safe
    // shape for a path-based snapshot (a table format does the swap)
    val version = new java.util.concurrent.atomic.AtomicInteger(0)
    val mem = MemoryStream[(Long, String, Double, String)]
    val q = mem.toDF.toDF("k", "name", "bal", "op")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val v = version.get()
        val target = s.read.parquet(s"$dir/snap-$v")
        graft.api.Graft.mergeChanges(target, batch, "k")
          .write.mode("overwrite").parquet(s"$dir/snap-${v + 1}")
        version.incrementAndGet()
        ()
      }.start()
    mem.addData((2L, "two!", 99.0, "U"), (3L, "three", 30.0, "I"))
    q.processAllAvailable()
    mem.addData((1L, "one", 10.0, "D"))
    q.processAllAvailable()
    q.stop()
    val fin = s.read.parquet(s"$dir/snap-${version.get()}")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(fin.toSeq === Seq((2L, "two!", 99.0), (3L, "three", 30.0)))
  }

  test("streaming events ingest to GeoParquet via foreachBatch (lake sink)") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    graft.functions.GraftFunctions.register(s)
    val dir = TempDirs.untilExit("graft_stream_gpq").toString
    val mem = MemoryStream[(Long, Double, Double)]
    mem.addData((1L, 10.0, 20.0), (2L, -77.0, 38.9))
    val pts = mem.toDF.toDF("id", "lon", "lat")
      .withColumn("geometry", expr("st_point(lon, lat)"))
      .select("id", "geometry")
    val q = pts.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        // batch-scoped file names: retries rewrite, other batches untouched
        graft.sources.geoparquet.GeoParquet.write(batch, dir,
          stats = false, filePrefix = s"batch-$batchId", overwrite = false)
      }.start()
    q.processAllAvailable()
    mem.addData((3L, 0.5, 0.5))
    q.processAllAvailable()
    q.stop()
    val back = graft.sources.geoparquet.GeoParquet.read(s, dir)
    assert(back.count() === 3)
    assert(back.selectExpr("st_aswkt(geometry)").as[String].collect().sorted ===
      Array("POINT (-77 38.9)", "POINT (0.5 0.5)", "POINT (10 20)"))
    // both micro-batches left distinct files behind
    val files = new java.io.File(dir).listFiles.map(_.getName).filter(_.endsWith(".parquet"))
    assert(files.exists(_.startsWith("batch-0")) && files.exists(_.startsWith("batch-1")))
  }

  test("qualityMonitor counts nulls, bad domains, and range breaks per window") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(1, ts(5), 1, "click", 10.0),      // clean
      Ev(2, ts(10), 1, "zz", 20.0),        // bad domain
      Ev(3, ts(15), 2, "view", -1.0),      // sentinel → null value below
      Ev(4, ts(70), 2, "click", 5000.0))   // hour 2, out of range
    // Ev.value is a primitive Double; model the missing-field case with a
    // sentinel nulled in a streaming projection upstream of the monitor
    val in = mem.toDF.withColumn("value",
      when($"value" === -1.0, lit(null).cast("double")).otherwise($"value"))
    val out = EventStreams.qualityMonitor(in,
      allowedTypes = Seq("click", "view", "purchase"), lo = 0.0, hi = 1000.0)
    assert(out.isStreaming)
    runToCompletion(out, "quality_monitor", "complete")
    val rows = s.sql("""SELECT win_start, n_rows, n_null_value, n_bad_type,
        n_out_of_range FROM quality_monitor ORDER BY win_start""")
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.toSeq === Seq(
      ("2024-01-01 00:00:00.0", 3L, 1L, 1L, 0L),
      ("2024-01-01 01:00:00.0", 1L, 0L, 0L, 1L)))
  }

  test("streaming top-k state equals the batch aggregate after every batch") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val mem = MemoryStream[Ev]
    val batch1 = Seq(
      Ev(1, ts(1), 1, "click", 5.0), Ev(2, ts(2), 1, "click", 9.0),
      Ev(3, ts(3), 1, "click", 1.0), Ev(4, ts(4), 1, "view", 7.0))
    val batch2 = Seq(
      Ev(5, ts(5), 1, "click", 9.0),  // ties 9.00: id order decides
      Ev(6, ts(6), 1, "click", 8.0), Ev(7, ts(7), 1, "view", 2.0))
    mem.addData(batch1: _*)
    val q = EventStreams.topkPerType(mem.toDF, k = 3)
      .writeStream.format("memory").queryName("topk").outputMode("update").start()
    q.processAllAvailable()
    mem.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    // last update per key reflects ALL rows seen - equals the batch
    // TopKPairAgg over both batches
    val agg = new graft.functions.TopKPairAgg(3)
    val all = (batch1 ++ batch2)
    def want(ty: String) = all.filter(_.event_type == ty)
      .map(e => (math.round(e.value * 100), e.event_id))
      .foldLeft(agg.zero)(agg.reduce).toSeq
    val rows = s.sql("SELECT * FROM topk").collect()
    // memory sink in update mode appends each update; take the LAST row
    // per event_type
    val last = rows.zipWithIndex.groupBy(_._1.getString(0))
      .map { case (k, v) => k -> v.maxBy(_._2)._1 }
    def got(ty: String) = last(ty).getSeq[Long](1).zip(last(ty).getSeq[Long](2))
    assert(got("click") === want("click"))
    assert(got("view") === want("view"))
    assert(want("click") === Seq((900L, 2L), (900L, 5L), (800L, 6L)))
  }

  test("lateness monitor state equals the batch prefix-max across batch splits") {
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    // (user, arr, event_id, ts-minute): user 1 sees t=100 then t=50
    // (late 50 min) split ACROSS batches; user 2 stays in order
    val b1 = Seq(ArrEv(1, 1, 10, ts(100)), ArrEv(2, 2, 20, ts(10)))
    val b2 = Seq(ArrEv(1, 3, 11, ts(50)), ArrEv(1, 4, 12, ts(160)),
      ArrEv(2, 5, 21, ts(20)))
    val mem = MemoryStream[ArrEv]
    mem.addData(b1: _*)
    val q = EventStreams.latenessMonitor(mem.toDF)
      .writeStream.format("memory").queryName("lateness")
      .outputMode("append").start()
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val got = s.sql("SELECT event_id, late_us FROM lateness")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // batch twin: prefix max per user over arr order, floored at 0
    assert(got(10L) === 0L && got(20L) === 0L && got(21L) === 0L)
    assert(got(11L) === 50L * 60L * 1000000L) // 50 minutes late in µs
    assert(got(12L) === 0L)                   // new max, not late
  }

  test("tumblingCounts recovers watermark + window state across a query restart") {
    // The 100 TB operational story streaming specs usually skip: a
    // production query DIES (deploy, preemption) and must resume from
    // its checkpoint with aggregation state and watermark intact —
    // counts from before the crash must surface in windows emitted
    // after the restart, with no loss and no double count.
    val s = spark
    import s.implicits._
    implicit val sc = s.sqlContext
    val ckpt = TempDirs.untilExit("graft_ckpt_").toString
    val outDir = TempDirs.untilExit("graft_recov_out_").toString
    val mem = MemoryStream[Ev]
    val agg = EventStreams.tumblingCounts(mem.toDF)
    // file sink, NOT memory: the memory sink is explicitly not
    // fault-tolerant and refuses checkpoint recovery — exactly the
    // distinction this test exists to exercise
    def start() = agg.writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    // hour-0 rows only: watermark stays below the window end, NOTHING
    // emits before the crash — the counts live purely in state
    mem.addData(Ev(1, ts(10), 1, "click", 1.0), Ev(2, ts(20), 1, "click", 2.0))
    q1.processAllAvailable()
    q1.stop()
    assert(s.read.schema(agg.schema).parquet(outDir).isEmpty,
      "window must still be open at crash time")
    // restart from the SAME checkpoint; the far-future row advances the
    // watermark past hour-0 and flushes the pre-crash counts
    val q2 = start()
    mem.addData(Ev(3, ts(6 * 60), 2, "view", 5.0))
    q2.processAllAvailable()
    q2.stop()
    val rows = s.read.parquet(outDir)
      .select($"event_type", $"n_events", $"sum_value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq === Seq(("click", 2L, 3.0)),
      "pre-crash counts must survive the restart exactly once")
  }

  test("tumblingCounts over a REAL file stream source equals the batch aggregation") {
    // MemoryStream is a test harness; deployments read files/queues.
    // Drive the FileStreamSource path: events written as 3 ts-range
    // files with strictly increasing modification times (the source
    // picks oldest-first under maxFilesPerTrigger=1, so arrival order
    // is event-time order and the 2h watermark can never drop a row).
    val s = spark
    import s.implicits._
    val dir = TempDirs.untilExit("graft_fstream_")
    val ev = graft.operators.Util.t(s, sf0001, "events")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
    val parts = Seq(
      ev.filter($"ts" <= to_timestamp(lit("2024-01-10"))),
      ev.filter($"ts" > to_timestamp(lit("2024-01-10")) &&
        $"ts" <= to_timestamp(lit("2024-01-20"))),
      ev.filter($"ts" > to_timestamp(lit("2024-01-20"))))
    parts.zipWithIndex.foreach { case (p, i) =>
      val f = new java.io.File(dir, s"chunk-$i")
      p.coalesce(1).write.mode("overwrite").parquet(f.toString)
      f.listFiles().foreach(_.setLastModified(1700000000000L + i * 60000L))
    }
    val src = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .parquet(s"$dir/chunk-*")
    runToCompletion(EventStreams.tumblingCounts(src), "filestream_sink", "append")
    // no sentinel: append mode holds the tail windows open, so compare
    // the EMITTED (closed) windows against the batch twin's same rows
    val sink = s.table("filestream_sink")
      .select($"window_start", $"event_type", $"n_events", $"sum_value")
    val expect = ev
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select($"window.start".as("window_start"), $"event_type",
        $"n_events", $"sum_value")
    val got = sink.orderBy("window_start", "event_type").collect()
    val want = expect.join(sink.select($"window_start", $"event_type"),
        Seq("window_start", "event_type"), "left_semi")
      .orderBy("window_start", "event_type").collect()
    assert(got.length > 10, s"file stream emitted ${got.length} closed windows")
    assert(got.toSeq === want.toSeq,
      "every emitted window must equal the batch aggregation bit-for-bit")
    // and the open tail is exactly the watermark horizon, nothing more:
    // every window strictly below (max ts - 2h) must have been emitted
    val horizon = ev.agg(max(unix_timestamp($"ts"))).head().getLong(0) - 7200L
    val expectedClosed = expect.filter($"window_start".cast("long") + 3600L <= horizon)
    assert(got.length >= expectedClosed.count().toInt,
      "append mode must flush every window the final watermark passed")
  }

  test("runEnrichedTumbling sink equals the batch aggregation of the same feed (q269)") {
    val s = spark
    import s.implicits._
    val dir = TestSpark.sf0001
    val ev = graft.operators.Util.t(s, dir, "events")
    val dim = graft.operators.Util.t(s, dir, "customer")
      .select($"c_custkey".as("user_id"), $"c_mktsegment".as("segment"))
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    val sink = EventStreams.runEnrichedTumbling(ev, dim, "user_id", Seq("segment"))
      .orderBy("window_start", "event_type", "segment").collect()
    assert(s.conf.get("spark.sql.shuffle.partitions") === prevShuffle,
      "the harness must restore the session's shuffle partitioning")
    val batch = ev.join(broadcast(dim), Seq("user_id"), "left")
      .groupBy(window($"ts", "1 hour"), $"event_type", $"segment")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(unix_timestamp($"window.start").as("window_start"),
        $"event_type", $"segment", $"n_events", $"sum_value")
      .orderBy("window_start", "event_type", "segment").collect()
    assert(sink.nonEmpty)
    assert(sink.toSeq === batch.toSeq,
      "append-mode streaming sink must equal the batch aggregation bit-for-bit")
  }

  test("runPurchaseAttribution sink equals the batch interval join of the same feed (q273)") {
    val s = spark
    import s.implicits._
    val ev = graft.operators.Util.t(s, TestSpark.sf0001, "events")
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    val sink = EventStreams.runPurchaseAttribution(ev)
      .orderBy("purchase_id", "click_id").collect()
    assert(s.conf.get("spark.sql.shuffle.partitions") === prevShuffle)
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts".as("c_ts"), $"event_id".as("click_id"))
    val batch = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts".as("p_ts"), $"event_id".as("purchase_id"), $"value")
      .join(clicks, Seq("user_id"))
      .filter($"c_ts" >= $"p_ts" - expr("INTERVAL 1 HOUR") && $"c_ts" < $"p_ts")
      .select($"purchase_id", $"click_id", $"user_id",
        unix_micros($"p_ts").as("p_us"), unix_micros($"c_ts").as("c_us"), $"value")
      .orderBy("purchase_id", "click_id").collect()
    assert(sink.nonEmpty)
    assert(sink.toSeq === batch.toSeq,
      "stream-stream inner join sink must equal the batch interval join row for row")
  }

  test("runIdempotentUpsert: the injected failure forces a replay the " +
    "upsert absorbs — store equals batch, attempts prove the duplicate") {
    val s = spark; import s.implicits._
    val base = java.time.Instant.parse("2024-03-01T00:00:00Z")
    val ev = (1 to 40).map { i =>
      (i.toLong, java.sql.Timestamp.from(base.plusSeconds(i * 60L)),
        (i % 5).toLong, if (i % 2 == 0) "click" else "purchase",
        i.toDouble)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = graft.streaming.EventStreams.runIdempotentUpsert(ev, chunks = 6)
      .collect()
    // exactly-once CONTENT: every event exactly once, values intact
    assert(out.length === 40)
    assert(out.map(_.getLong(0)).toSeq === (1L to 40L))
    assert(out.map(r => r.getLong(3)).sum === (1 to 40).map(_ * 100L).sum)
    // at-least-once DELIVERY: the replayed batch wrote its rows twice
    val (attempts, size) = graft.streaming.EventStreams.lastUpsertStats
    assert(size === 40L)
    assert(attempts > size,
      s"expected duplicate writes from the replayed batch, got $attempts")
  }
}
