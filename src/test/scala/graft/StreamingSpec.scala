package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams
import graft.streaming.EventStreams.{DocEvent, EventRow, PartEvent,
  UploadResult}

/** Structured-Streaming surface driven through MemoryStream. */
class StreamingSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  def ev(id: Long, minute: Int, user: Long, typ: String, v: Double) =
    EventRow(id, Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00"),
      user, typ, v, "{}")

  test("windowed metering aggregates per 10-minute window and type") {
    val input = MemoryStream[EventRow](spark)
    input.addData(
      ev(1, 1, 10, "put", 5.0), ev(2, 2, 11, "put", 7.0),
      ev(3, 3, 10, "delete", 1.0), ev(4, 12, 10, "put", 2.0))
    val q = EventStreams.metering(input.toDF(), "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("meter")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("meter")
        .select("window_start", "event_type", "n", "total")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(rows == Set(
        (Timestamp.valueOf("2026-01-01 10:00:00"), "put", 2L, 12.0),
        (Timestamp.valueOf("2026-01-01 10:00:00"), "delete", 1L, 1.0),
        (Timestamp.valueOf("2026-01-01 10:10:00"), "put", 1L, 2.0)))
    } finally q.stop()
  }

  test("session_window sessions close at the 30-min gap once the " +
      "watermark passes") {
    val input = MemoryStream[EventRow](spark)
    // user 100: 10:00 + 10:10 (one session), 11:30 (a second);
    // user 200: 10:05 alone
    input.addData(
      ev(1, 0, 100, "view", 1.0), ev(2, 10, 100, "click", 2.0),
      ev(3, 5, 200, "view", 4.0))
    val q = EventStreams.userSessions(input.toDF(), "30 minutes",
        "10 minutes")
      .writeStream.format("memory").queryName("user_sessions")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // second batch: the 11:30 event + a far-future watermark pusher
      // (next day) so every earlier session is closed and emitted
      input.addData(
        EventRow(4, Timestamp.valueOf("2026-01-01 11:30:00"), 100L,
          "view", 8.0, "{}"),
        EventRow(5, Timestamp.valueOf("2026-01-02 09:00:00"), 999L,
          "view", 0.0, "{}"))
      q.processAllAvailable()
      input.addData(
        EventRow(6, Timestamp.valueOf("2026-01-02 10:00:00"), 999L,
          "view", 0.0, "{}"))
      q.processAllAvailable()
      val got = spark.table("user_sessions")
        .select("user_id", "session_start", "session_end", "n_events",
          "total")
        .as[(Long, Timestamp, Timestamp, Long, Double)].collect()
        .filter(_._1 != 999L).sortBy(r => (r._1, r._2.getTime))
      // session end = last event + gap (native session_window semantics,
      // matching the batch ev_sessionize 30-min-gap rule)
      assert(got.toSeq == Seq(
        (100L, Timestamp.valueOf("2026-01-01 10:00:00"),
          Timestamp.valueOf("2026-01-01 10:40:00"), 2L, 3.0),
        (100L, Timestamp.valueOf("2026-01-01 11:30:00"),
          Timestamp.valueOf("2026-01-01 12:00:00"), 1L, 8.0),
        (200L, Timestamp.valueOf("2026-01-01 10:05:00"),
          Timestamp.valueOf("2026-01-01 10:35:00"), 1L, 4.0)), got.toSeq)
    } finally q.stop()
  }

  test("streaming sessions match the oracle-checked batch ev_sessionize") {
    import org.apache.spark.sql.functions._
    // real sf0.001 events through the file stream, plus one far-future
    // watermark pusher so every real session closes and is emitted
    val dir = java.nio.file.Files.createTempDirectory("sessstream").toString
    val events = Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    events.coalesce(1).write.mode("overwrite").parquet(dir)
    val q = EventStreams.userSessions(
        EventStreams.eventStream(spark, dir), "30 minutes", "10 minutes")
      .writeStream.format("memory").queryName("stream_sessions")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val far = Timestamp.valueOf("2030-01-01 00:00:00")
      Seq((-1L, far, -1L, "view", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()
      val got = spark.table("stream_sessions")
        .filter(col("user_id") >= 0)
        .select(col("user_id"), unix_micros(col("session_start")).as("start_us"),
          col("n_events"))
        .as[(Long, Long, Long)].collect().toSet
      // batch form: same gap rule, keyed by (user, session start, count)
      val want = queries.EventQueries.defs("ev_sessionize")
        .fn(spark, "/root/testdata/sf0.001")
        .select(col("user_id"), col("start_us"), col("n_events"))
        .as[(Long, Long, Long)].collect().toSet
      assert(got == want,
        s"stream-only=${(got -- want).take(3)} batch-only=${(want -- got).take(3)}")
    } finally q.stop()
  }

  test("stateful session totals accumulate across micro-batches") {
    val input = MemoryStream[EventRow](spark)
    val q = EventStreams.sessionTotals(input.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode("update").start()
    try {
      input.addData(ev(1, 1, 100, "put", 3.0), ev(2, 2, 100, "put", 4.0))
      q.processAllAvailable()
      input.addData(ev(3, 3, 100, "put", 5.0), ev(4, 3, 200, "put", 1.0))
      q.processAllAvailable()
      val latest = spark.table("sessions")
        .as[(Long, Long, Double)].collect()
        .groupBy(_._1).map { case (k, vs) => k -> vs.maxBy(_._2) }
      assert(latest(100L) == ((100L, 3L, 12.0)))
      assert(latest(200L) == ((200L, 1L, 1.0)))
    } finally q.stop()
  }

  test("file-source stream: metering over arriving parquet matches batch") {
    import org.apache.spark.sql.functions._
    // stage the real events table as an arriving file
    val dir = java.nio.file.Files.createTempDirectory("evstream").toString
    val events = Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    events.coalesce(1).write.mode("overwrite").parquet(dir)
    val q = EventStreams.metering(
        EventStreams.eventStream(spark, dir), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("file_meter")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val got = spark.table("file_meter")
        .groupBy("event_type").agg(sum("n").as("n"))
        .as[(String, Long)].collect().toMap
      val want = events.groupBy("event_type").count()
        .as[(String, Long)].collect().toMap
      assert(got == want)
    } finally q.stop()
  }

  test("streaming trending's sliding windows equal the batch integer " +
      "window ids (ev_trending's assignment)") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("evtrend").toString
    val events = Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    events.coalesce(1).write.mode("overwrite").parquet(dir)
    val q = EventStreams.trending(
        EventStreams.eventStream(spark, dir), "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("trend_meter")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val got = spark.table("trend_meter")
        .select(unix_micros(col("window_start")), col("event_type"), col("n"))
        .as[(Long, String, Long)].collect().toSet
      val slide = 1800000000L
      val want = events
        .select(unix_micros(col("ts")).as("us"), col("event_type"))
        .select(explode(expr(
          s"array(us div $slide, us div $slide - 1)")).as("k"),
          col("event_type"))
        .groupBy("k", "event_type").agg(count(lit(1)).as("n"))
        .select((col("k") * slide), col("event_type"), col("n"))
        .as[(Long, String, Long)].collect().toSet
      assert(got == want)
    } finally q.stop()
  }

  test("stream-static enrichment joins the broadcast dimension per " +
      "micro-batch and matches the batch join") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("evenrich").toString
    val events = Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    events.coalesce(1).write.mode("overwrite").parquet(dir)
    // a static dimension keyed by event_type; 'view' is deliberately
    // missing — left semantics must keep those events with a null class
    val dim = Seq(("click", "interactive"), ("purchase", "revenue"),
      ("signup", "growth"), ("error", "ops"))
      .toDF("event_type", "event_class")
    val q = EventStreams.enrichedEvents(
        EventStreams.eventStream(spark, dir), dim, "event_type")
      .select("event_id", "event_type", "event_class")
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("enriched")
        .as[(Long, String, Option[String])].collect().toSet
      val want = events.join(broadcast(dim), Seq("event_type"), "left")
        .select("event_id", "event_type", "event_class")
        .as[(Long, String, Option[String])].collect().toSet
      assert(got == want)
      assert(got.exists(_._3.isEmpty)) // the uncovered type passed through
    } finally q.stop()
  }

  def pe(upload: String, kind: String, partno: Int, size: Long, minute: Int) =
    PartEvent(upload, kind, partno, size, f"ck$upload%s$partno%d",
      Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00"))

  test("heartbeat listener ticks per task/stage/job during a long op") {
    import graft.streaming.Heartbeat
    val (result, ticks) = Heartbeat.during(spark.sparkContext) {
      spark.range(0, 1000, 1, numPartitions = 4)
        .selectExpr("sum(id)").collect().head.getLong(0)
    }
    assert(result == 499500L)
    val kinds = ticks.groupBy(_.kind).view.mapValues(_.size).toMap
    assert(kinds.getOrElse("chunk", 0) >= 4, kinds)  // one " " per task
    assert(kinds.getOrElse("block", 0) >= 1, kinds)  // one "\n" per stage
    assert(kinds.getOrElse("complete", 0) >= 1, kinds)
    // wire rendering matches the reference's push-str mapping
    assert(Heartbeat.render(Heartbeat.Tick("chunk", 0)) == " ")
    assert(Heartbeat.render(Heartbeat.Tick("block", 0)) == "\n")
    assert(Heartbeat.render(Heartbeat.Tick("complete", 0)) == "")
  }

  test("streaming exact dedup keeps the first arrival per fingerprint") {
    val input = MemoryStream[DocEvent](spark)
    val q = EventStreams.dedupDocuments(input.toDS())
      .writeStream.format("memory").queryName("dedup_docs")
      .outputMode("append").start()
    try {
      def de(id: Long, minute: Int, text: String) =
        DocEvent(id, Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00"), text)
      // duplicate inside one batch AND across batches within watermark
      input.addData(de(1, 1, "hello world"), de(2, 2, "hello world"),
        de(3, 2, "something else"))
      q.processAllAvailable()
      input.addData(de(4, 3, "Hello   WORLD"), // normalizes to the same fp
        de(5, 4, "third text"))
      q.processAllAvailable()
      val ids = spark.table("dedup_docs").select("doc_id")
        .as[Long].collect().toSet
      assert(ids == Set(1L, 3L, 5L))
    } finally q.stop()
  }

  test("watermark dedup vs its oracle-checked batch twin on real dups") {
    import org.apache.spark.sql.functions._
    // the corpus has no duplicate fingerprints, so the interplay is
    // pinned here: a same-window dup (dropped by BOTH surfaces), a
    // distinct doc, and a later-window re-arrival (kept by the batch
    // twin's new window, suppressed by the stream's live state — the
    // documented divergence)
    val rows = Seq(
      (1L, "10:01:00", "aa"), (2L, "10:03:00", "aa"),
      (3L, "10:05:00", "bb"), (4L, "10:15:00", "aa"))
    val batchIn = rows.toDF("doc_id", "t", "text")
      .withColumn("ts", to_timestamp(concat(lit("2026-01-01 "), col("t"))))
      .select("doc_id", "ts", "text")
    val twin = graft.operators.Dedup
      .streamDedupBatch(batchIn, "doc_id", "text")
      .select(col("win_start").cast("string"), col("doc_id"),
        col("n_arrivals"))
      .as[(String, Long, Long)].collect().toSet
    assert(twin == Set(
      ("2026-01-01 10:00:00", 1L, 2L),   // aa: first window, dup folded
      ("2026-01-01 10:00:00", 3L, 1L),   // bb
      ("2026-01-01 10:10:00", 4L, 1L)))  // aa again: new window survivor

    val input = MemoryStream[DocEvent](spark)
    val q = EventStreams.dedupDocuments(input.toDS())
      .writeStream.format("memory").queryName("twin_dedup")
      .outputMode("append").start()
    try {
      def de(id: Long, t: String, text: String) =
        DocEvent(id, Timestamp.valueOf(s"2026-01-01 $t"), text)
      input.addData(de(1, "10:01:00", "aa"), de(2, "10:03:00", "aa"),
        de(3, "10:05:00", "bb"))
      q.processAllAvailable()
      input.addData(de(4, "10:15:00", "aa")) // state still live → dropped
      q.processAllAvailable()
      val streamIds = spark.table("twin_dedup").select("doc_id")
        .as[Long].collect().toSet
      // stream == the twin's earliest-window survivors per fingerprint
      assert(streamIds == Set(1L, 3L))
    } finally q.stop()
  }

  test("streaming ingest gate filters language/quality, then dedups") {
    val input = MemoryStream[DocEvent](spark)
    val q = EventStreams.ingestGate(input.toDS())
      .writeStream.format("memory").queryName("ingest_gate")
      .outputMode("append").start()
    try {
      def de(id: Long, minute: Int, text: String) =
        DocEvent(id, Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00"), text)
      val goodEn = "the cat and the dog was with his friend for a while"
      input.addData(
        de(1, 1, goodEn),
        de(2, 2, "!!! ??? !!! ??? !!!"),                    // quality gate
        de(3, 3, "el los las una por con para que el los"), // language gate
        de(4, 4, goodEn),                                   // dup of 1
        de(5, 5, "the house and the garden was with his for all that"))
      q.processAllAvailable()
      val ids = spark.table("ingest_gate").select("doc_id")
        .as[Long].collect().toSet
      assert(ids == Set(1L, 5L))
    } finally q.stop()
  }

  test("upload sessions: complete assembles parts with multipart etag") {
    val input = MemoryStream[PartEvent](spark)
    val q = EventStreams.uploadSessions(input.toDS())
      .writeStream.format("memory").queryName("uploads")
      .outputMode("append").start()
    try {
      input.addData(pe("u1", "part", 1, 100, 1), pe("u1", "part", 2, 50, 2))
      q.processAllAvailable()
      input.addData(pe("u1", "part", 3, 25, 3), pe("u1", "complete", 0, 0, 4))
      input.addData(pe("u2", "part", 1, 10, 4), pe("u2", "abort", 0, 0, 5))
      q.processAllAvailable()
      val rows = spark.table("uploads").as[UploadResult].collect()
        .map(r => r.upload -> r).toMap
      assert(rows("u1").outcome == "completed")
      assert(rows("u1").n_parts == 3 && rows("u1").total_size == 175L)
      val expectEtag = graft.functions.GraftFunctions.md5Hex(
        "cku11cku12cku13".getBytes("UTF-8")) + "-3"
      assert(rows("u1").etag == expectEtag)
      assert(rows("u2").outcome == "aborted" && rows("u2").n_parts == 1)
    } finally q.stop()
  }

  test("upload sessions: md5-hex part checksums yield the S3 raw-digest etag") {
    val input = MemoryStream[PartEvent](spark)
    val q = EventStreams.uploadSessions(input.toDS())
      .writeStream.format("memory").queryName("uploads_hex")
      .outputMode("append").start()
    try {
      val ck1 = graft.functions.GraftFunctions.md5Hex("part-one".getBytes)
      val ck2 = graft.functions.GraftFunctions.md5Hex("part-two".getBytes)
      input.addData(
        PartEvent("h1", "part", 1, 8, ck1, Timestamp.valueOf("2026-01-01 10:01:00")),
        PartEvent("h1", "part", 2, 8, ck2, Timestamp.valueOf("2026-01-01 10:02:00")),
        PartEvent("h1", "complete", 0, 0, "", Timestamp.valueOf("2026-01-01 10:03:00")))
      q.processAllAvailable()
      val row = spark.table("uploads_hex").as[UploadResult].collect()
        .find(_.upload == "h1").get
      // S3 semantics: md5 over the concatenated *raw* 16-byte digests
      val raw = (ck1 + ck2).grouped(2)
        .map(Integer.parseInt(_, 16).toByte).toArray
      assert(row.etag ==
        graft.functions.GraftFunctions.md5Hex(raw) + "-2")
    } finally q.stop()
  }

  test("upload sessions: watermark timeout emits expired orphan record") {
    val input = MemoryStream[PartEvent](spark)
    val q = EventStreams.uploadSessions(input.toDS(), sessionTimeoutMs = 60000L)
      .writeStream.format("memory").queryName("uploads_expiry")
      .outputMode("append").start()
    try {
      input.addData(pe("u9", "part", 1, 42, 1))
      q.processAllAvailable()
      // push the watermark far past u9's timeout via a later session
      input.addData(pe("uX", "part", 1, 1, 50))
      q.processAllAvailable()
      input.addData(pe("uX", "part", 2, 1, 55))
      q.processAllAvailable()
      val rows = spark.table("uploads_expiry").as[UploadResult].collect()
      val expired = rows.filter(_.upload == "u9")
      assert(expired.length == 1)
      assert(expired.head.outcome == "expired")
      assert(expired.head.n_parts == 1 && expired.head.total_size == 42L)
    } finally q.stop()
  }

  /** Round-5 verdict item 7: the three streaming surfaces wired into
    * one pipeline over SHARED real input (sf0.001 documents + derived
    * chunks), each asserted batch-equivalent against the oracle its
    * batch query uses — stream/batch parity, not just plumbing:
    *  - ingest dedup ≡ `dd_exact`'s fingerprint key (same survivors),
    *  - metering ≡ the batch windowed aggregate (`is4_metering` shape),
    *  - upload sessions ≡ a batch-SQL multipart-ETag computation over
    *    the same chunk rows (meta.clj:96-151 semantics). */
  test("E2E pipeline: dedup + metering + upload sessions match batch " +
    "oracles on shared input") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text", "n_chars").collect()
    def ts(i: Long) = Timestamp.valueOf(f"2026-01-01 10:${i % 50}%02d:00")

    // 1) ingest dedup: every document arrives once, stream keeps the
    //    first arrival per content fingerprint — exactly dd_exact's key
    val dedupIn = MemoryStream[DocEvent](spark)
    val qDedup = EventStreams.dedupDocuments(dedupIn.toDS())
      .writeStream.format("memory").queryName("e2e_dedup")
      .outputMode("append").start()
    // 2) metering: the same arrivals as put-events valued by size
    val meterIn = MemoryStream[EventRow](spark)
    val qMeter = EventStreams.metering(meterIn.toDF(), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("e2e_meter")
      .outputMode("update").start()
    // 3) upload sessions: three documents multipart-uploaded chunk by
    //    chunk (checksum = the chunk payload's md5), then completed
    val chunkRows = Tables.chunks(spark, sf)
      .filter(col("inode").isin(1L, 2L, 3L))
      .orderBy("inode", "offset")
      .select("inode", "offset", "chunksize", "payload").collect()
    val partsIn = MemoryStream[PartEvent](spark)
    val qUp = EventStreams.uploadSessions(partsIn.toDS())
      .writeStream.format("memory").queryName("e2e_uploads")
      .outputMode("append").start()
    try {
      dedupIn.addData(docs.map(r =>
        DocEvent(r.getLong(0), ts(r.getLong(0)), r.getString(1))).toSeq)
      meterIn.addData(docs.map(r =>
        EventRow(r.getLong(0), ts(r.getLong(0)), r.getLong(0) % 5, "put",
          r.getLong(2).toDouble, "{}")).toSeq)
      partsIn.addData(chunkRows.zipWithIndex.map { case (c, i) =>
        PartEvent(s"up${c.getLong(0)}", "part",
          (c.getLong(1) / Tables.ChunkLen).toInt + 1, c.getInt(2),
          graft.functions.GraftFunctions.md5Hex(
            c.getString(3).getBytes("UTF-8")),
          ts(i))
      }.toSeq)
      partsIn.addData(Seq(1L, 2L, 3L).map(i =>
        PartEvent(s"up$i", "complete", 0, 0L, "", ts(49))))
      qDedup.processAllAvailable()
      qMeter.processAllAvailable()
      qUp.processAllAvailable()

      // dedup parity: survivors' fingerprint set == batch distinct fps
      val streamFps = spark.table("e2e_dedup").select("fp")
        .as[String].collect().toSet
      val batchFps = Tables.documents(spark, sf)
        .select(graft.operators.TextOps.mdFingerprint(col("text")).as("fp"))
        .distinct().as[String].collect().toSet
      assert(streamFps == batchFps)
      assert(spark.table("e2e_dedup").count() == batchFps.size)

      // dedup parity vs the ORACLE-CHECKED batch twin
      // (dd_stream_dedup_batch, same doc_id%50-minute event clock):
      // the stream keeps each fingerprint's globally-first arrival,
      // which is exactly the batch twin's survivor in that
      // fingerprint's EARLIEST window (later-window re-arrivals are
      // the documented cross-surface divergence)
      val streamSurvivors = spark.table("e2e_dedup")
        .select("fp", "doc_id").as[(String, Long)].collect().toMap
      val batchFirstWindow = SparkEntry
        .queries("dd_stream_dedup_batch")(spark, sf)
        .groupBy("fp")
        .agg(min(struct(col("win_start"), col("doc_id"))).as("f"))
        .select(col("fp"), col("f.doc_id"))
        .as[(String, Long)].collect().toMap
      assert(streamSurvivors == batchFirstWindow)

      // metering parity: final stream windows == batch windowed agg
      val got = spark.table("e2e_meter")
        .groupBy("window_start", "event_type")
        .agg(max("n").as("n"), max("total").as("total"))
        .as[(Timestamp, String, Long, Double)].collect().toSet
      // every arrival lands in the 10:00 hour window, so the batch
      // oracle is one aggregate over the same rows
      val (wantN, wantTotal) = Tables.documents(spark, sf)
        .agg(count(lit(1)), sum(col("n_chars").cast("double")))
        .as[(Long, Double)].collect().head
      assert(got == Set(
        (Timestamp.valueOf("2026-01-01 10:00:00"), "put", wantN, wantTotal)))

      // upload parity: etag/total from the stream == batch SQL over the
      // same chunks (raw-digest concat, S3 multipart semantics)
      val gotUp = spark.table("e2e_uploads").as[UploadResult].collect()
        .map(r => r.upload -> r).toMap
      val wantUp = Tables.chunks(spark, sf)
        .filter(col("inode").isin(1L, 2L, 3L))
        .groupBy("inode")
        .agg(count(lit(1)).cast("int").as("n_parts"),
          sum("chunksize").as("total_size"),
          expr("""md5(aggregate(
               |  transform(
               |    array_sort(collect_list(named_struct(
               |      'o', offset,
               |      'digest', unhex(md5(encode(payload, 'UTF-8')))))),
               |    x -> x.digest),
               |  X'', (acc, x) -> concat(acc, x)))""".stripMargin)
            .as("etag_base"))
        .as[(Long, Int, Long, String)].collect()
      assert(wantUp.nonEmpty)
      for ((inode, nParts, totalSize, etagBase) <- wantUp) {
        val r = gotUp(s"up$inode")
        assert(r.outcome == "completed", s"inode $inode")
        assert(r.n_parts == nParts, s"inode $inode")
        assert(r.total_size == totalSize, s"inode $inode")
        assert(r.etag == s"$etagBase-$nParts", s"inode $inode")
      }
    } finally { qDedup.stop(); qMeter.stop(); qUp.stop() }
  }

  /** The composed steady-state stream mirrors the oracle-checked batch
    * capstone: one fold holding the whole corpus must emit EXACTLY the
    * `(doc_id, nll_bits, bucket)` rows of `ds_daily_pipeline` — the
    * same gate, the same stored cluster-map survivors, the same stored
    * bigram model, the same per-fold distributed decile. */
  test("streaming daily pipeline: one fold equals the batch capstone") {
    import scala.jdk.CollectionConverters._
    val sf = "/root/testdata/sf0.001"
    // batch side FIRST: trains/loads the persisted artifacts both
    // surfaces consume
    val want = SparkEntry.queries("ds_daily_pipeline")(spark, sf)
      .select("doc_id", "nll_bits", "bucket").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(want.nonEmpty)
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
    def ts(i: Long) = Timestamp.valueOf(f"2026-01-01 10:${i % 50}%02d:00")
    val input = MemoryStream[DocEvent](spark)
    val out =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double, String)]
    // the fold sink is TRANSACTIONAL: each fold appends through a
    // VersionedStore (the serializable-append path), so the committed
    // head is itself checkable against the batch capstone
    val vlogDir = java.nio.file.Files
      .createTempDirectory("vlog_daily").toString
    val vs = new graft.sources.VersionedStore(
      new graft.sources.MemoryStore, vlogDir, keep = 2)
    val markerDir = java.nio.file.Files
      .createTempDirectory("vlog_daily_applied").toString
    // compactEvery = 1: every applied fold appends (O(batch) segment)
    // then folds the head back to one segment — the in-loop valve
    val sink = EventStreams.versionedFoldSink(vs, "daily_out", markerDir,
      compactEvery = 1)
    val lastFold = new java.util.concurrent.atomic
      .AtomicReference[(org.apache.spark.sql.DataFrame, Long)]
    val q = EventStreams.dailyPipeline(input.toDS(), sf,
      (df, bid) => {
        val fold = df.localCheckpoint(true)
        lastFold.set((fold, bid))
        sink(fold, bid)
        fold.collect().foreach(r =>
          out.add((r.getLong(0), r.getDouble(1), r.getString(2))))
      })
    try {
      input.addData(docs.map(r =>
        DocEvent(r.getLong(0), ts(r.getLong(0)), r.getString(1))).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val got = out.iterator().asScala.toSet
    assert(got == want,
      s"stream/batch divergence: extra=${got -- want} missing=${want -- got}")
    // the committed snapshot holds exactly the same fold rows
    def committedRows() = vs.read(spark, "daily_out")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
      .toSet
    assert(committedRows() == want, "committed fold diverged from the batch")
    // at-least-once replay idempotence, both layers
    // ([[EventStreams.versionedFoldSink]]): a clean replay of the
    // applied batch is marker-short-circuited — no new version
    val (fold, bid) = lastFold.get()
    val v1 = vs.currentVersion(spark, "daily_out")
    sink(fold, bid)
    assert(vs.currentVersion(spark, "daily_out") == v1,
      "marker layer failed: clean replay advanced the head")
    // crash-window replay (commit durable, marker lost): the id-dedup
    // layer finds every row already at the head and commits nothing
    val f = new org.apache.hadoop.fs.Path(s"$markerDir/$bid")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(f.delete(new org.apache.hadoop.fs.Path(s"$markerDir/$bid"),
      false))
    sink(fold, bid)
    assert(vs.currentVersion(spark, "daily_out") == v1,
      "dedup layer failed: crash-window replay advanced the head")
    assert(committedRows() == want, "replay mutated the committed fold")
    // the in-loop segment compaction left the head at ONE segment
    def headSegments(): Int = {
      val d = new java.io.File(s"$vlogDir/daily_out")
      val v = d.listFiles().map(_.getName)
        .filter(_.endsWith(".commit"))
        .map(_.stripSuffix(".commit").toLong).max
      val src = scala.io.Source.fromFile(s"$vlogDir/daily_out/$v.commit")
      try src.getLines().count(_.trim.nonEmpty) finally src.close()
    }
    assert(headSegments() == 1, "in-loop segment compaction missing")
    // a genuinely NEW fold still lands: serializable O(batch) append
    // (head+1) then its compaction commit (head+2)
    val extra = fold.limit(1)
      .withColumn("doc_id",
        org.apache.spark.sql.functions.col("doc_id") + 5000000L)
    sink(extra, bid + 1)
    assert(vs.currentVersion(spark, "daily_out") == v1.map(_ + 2),
      "fresh fold after replays did not commit")
    assert(committedRows().size == want.size + 1)
    assert(headSegments() == 1)
  }
}
