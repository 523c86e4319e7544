package graft

import java.sql.Timestamp

import graft.operators.Events
import graft.streaming.{EventStream, StreamEvent}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

class StreamingSpec extends SparkSpec {

  private def ts(minutes: Long): Timestamp =
    new Timestamp(1704067200000L + minutes * 60000L) // 2024-01-01 00:00 UTC

  /** Names of the entries under java.io.tmpdir starting with `prefix`. */
  private def tmpDirsNamed(prefix: String): Set[String] = {
    val it = java.nio.file.Files.list(
      java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))).iterator()
    var names = Set.empty[String]
    while (it.hasNext) {
      val nm = it.next().getFileName.toString
      if (nm.startsWith(prefix)) names += nm
    }
    names
  }

  test("streaming hourly rollup ≡ batch hourly rollup (complete mode)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val rows = Tables.events(spark, SF)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[StreamEvent].collect().toSeq
    val mem = MemoryStream[StreamEvent]
    mem.addData(rows)
    val q = EventStream.hourlyRollup(mem.toDF())
      .writeStream.format("memory").queryName("rollup_stream")
      .outputMode(OutputMode.Complete).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("rollup_stream")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    val batch = Events.hourlyRollup(spark, SF)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(streamed == batch,
      s"stream-only=${streamed -- batch} batch-only=${batch -- streamed}")
  }

  test("streaming periodogram ≡ batch epoch-anchored DFT after two incremental batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val rows = Tables.events(spark, SF)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[StreamEvent].collect().toSeq
    val (first, second) = rows.splitAt(rows.length / 2)
    val mem = MemoryStream[StreamEvent]
    val q = EventStream.periodogram(mem.toDF())
      .writeStream.format("memory").queryName("pgram_stream")
      .outputMode(OutputMode.Complete).start()
    try {
      mem.addData(first); q.processAllAvailable()
      mem.addData(second); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("pgram_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val batch = graft.operators.Events
      .periodogramEpochOf(Tables.events(spark, SF))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(streamed == batch,
      s"stream-only=${streamed -- batch} batch-only=${batch -- streamed}")
    assert(streamed.size == 2) // exactly the two calendar periods
  }

  test("streaming sliding rollup ≡ batch hopping-window agg (complete mode)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val rows = Tables.events(spark, SF)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[StreamEvent].collect().toSeq
    val mem = MemoryStream[StreamEvent]
    mem.addData(rows)
    val q = EventStream.slidingRollup(mem.toDF())
      .writeStream.format("memory").queryName("slide_stream")
      .outputMode(OutputMode.Complete).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("slide_stream")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val batch = Tables.events(spark, SF)
      .groupBy(org.apache.spark.sql.functions.window($"ts", "3 hours", "1 hour"))
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.round(
          org.apache.spark.sql.functions.sum($"value"), 4).as("s"))
      .select($"window.start", $"n", $"s")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(streamed == batch,
      s"stream-only=${streamed -- batch} batch-only=${batch -- streamed}")
  }

  test("streaming sliding distinct users ≡ batch windowed countDistinct (append mode)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{countDistinct, window}
    implicit val ctx = spark.sqlContext
    val rows = Tables.events(spark, SF)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[StreamEvent].collect().toSeq
    val maxTs = rows.map(_.ts.getTime).max
    // sentinel far past every real window + watermark: pushes the
    // watermark so append mode finalizes (emits) all real windows
    val sentinel = StreamEvent(-1L, new Timestamp(maxTs + 40L * 3600 * 1000),
      -1L, "sentinel", 0.0)
    val mem = MemoryStream[StreamEvent]
    val q = EventStream.slidingDau(mem.toDF())
      .writeStream.format("memory").queryName("sdau_stream")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(rows)
      q.processAllAvailable()
      mem.addData(Seq(sentinel))
      q.processAllAvailable()
    } finally q.stop()
    val sentinelWindows = (0 until 24)
      .map(k => sentinel.ts.getTime / 3600000 * 3600000 - k * 3600000L).toSet
    val streamed = spark.table("sdau_stream")
      .collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1)))
      .filterNot { case (t, _) => sentinelWindows.contains(t) }.toMap
    val batch = Tables.events(spark, SF)
      .groupBy(window($"ts", "24 hours", "1 hour"))
      .agg(countDistinct($"user_id").as("u"))
      .select($"window.start", $"u")
      .collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1))).toMap
    assert(streamed.nonEmpty && streamed == batch,
      s"stream-only=${(streamed.toSet -- batch.toSet).take(3)} " +
        s"batch-only=${(batch.toSet -- streamed.toSet).take(3)}")
  }

  test("streaming sliding DAU HLL valve: every window emits once, inside the envelope") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{countDistinct, window}
    implicit val ctx = spark.sqlContext
    val rows = Tables.events(spark, SF)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[StreamEvent].collect().toSeq
    val maxTs = rows.map(_.ts.getTime).max
    val sentinel = StreamEvent(-1L, new Timestamp(maxTs + 40L * 3600 * 1000),
      -1L, "sentinel", 0.0)
    val mem = MemoryStream[StreamEvent]
    val q = EventStream.slidingDauHll(mem.toDF())
      .writeStream.format("memory").queryName("sdau_hll_stream")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(rows)
      q.processAllAvailable()
      mem.addData(Seq(sentinel))
      q.processAllAvailable()
    } finally q.stop()
    val sentinelWindows = (0 until 24)
      .map(k => sentinel.ts.getTime / 3600000 * 3600000 - k * 3600000L).toSet
    val streamed = spark.table("sdau_hll_stream")
      .collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1)))
      .filterNot { case (t, _) => sentinelWindows.contains(t) }.toMap
    val exact = Tables.events(spark, SF)
      .groupBy(window($"ts", "24 hours", "1 hour"))
      .agg(countDistinct($"user_id").as("u"))
      .select($"window.start", $"u")
      .collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1))).toMap
    // emit-once coverage: exactly the exact window set, no dups (Map
    // construction would mask dups — check via the raw count)
    assert(streamed.keySet == exact.keySet,
      s"missing=${(exact.keySet -- streamed.keySet).take(3)} " +
        s"extra=${(streamed.keySet -- exact.keySet).take(3)}")
    // envelope: |est − exact| ≤ max(6·rsd·exact, 2) with rsd = 0.02
    val worst = exact.map { case (w, ex) =>
      val est = streamed(w)
      (w, ex, est, math.abs(est - ex) - math.max(0.12 * ex, 2.0))
    }.maxBy(_._4)
    assert(worst._4 <= 0.0,
      s"window=${worst._1} exact=${worst._2} est=${worst._3} over envelope")
  }

  test("stateful sessionize closes sessions on gap and on timeout") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[StreamEvent]
    val q = EventStream.sessionize(mem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions_stream")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: two events 10' apart (one session), then one 3h later
      // (gap closes session 1 in-batch)
      mem.addData(Seq(
        StreamEvent(1, ts(0), 1, "click", 1.0),
        StreamEvent(2, ts(10), 1, "click", 2.0),
        StreamEvent(3, ts(180), 1, "view", 5.0)))
      q.processAllAvailable()
      // sentinel far ahead → watermark passes session 2's timeout
      mem.addData(Seq(StreamEvent(99, ts(600), 42, "click", 0.0)))
      q.processAllAvailable()
      mem.addData(Seq(StreamEvent(100, ts(1200), 42, "click", 0.0)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sessions_stream")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(got.contains((1L, ts(0), ts(10), 2L, 3.0)), s"got=$got")
    assert(got.contains((1L, ts(180), ts(180), 1L, 5.0)), s"got=$got")
  }

  test("streaming sessionize ≡ batch sessionize on the real event table") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val rows = Tables.events(spark, SF)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[StreamEvent].collect().toSeq
    val maxTs = rows.map(_.ts.getTime).max
    val mem = MemoryStream[StreamEvent]
    val q = EventStream.sessionize(mem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions_equiv")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(rows)
      q.processAllAvailable()
      // sentinel advances the watermark past every open session
      mem.addData(Seq(StreamEvent(-1, new Timestamp(maxTs + 36000000L),
        -999, "x", 0.0)))
      q.processAllAvailable()
      mem.addData(Seq(StreamEvent(-2, new Timestamp(maxTs + 72000000L),
        -999, "x", 0.0)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("sessions_equiv")
      .filter($"user_id" =!= -999)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000,
        r.getTimestamp(2).getTime / 1000, r.getLong(3))).toSet
    // batch sessions re-aggregated to the same (user, start, end, n) shape
    val batch = Events.sessionize(spark, SF)
      .join(Tables.events(spark, SF).select($"event_id", $"ts", $"value"),
        "event_id")
      .groupBy($"user_id", $"session_id")
      .agg(org.apache.spark.sql.functions.min($"ts").as("s"),
        org.apache.spark.sql.functions.max($"ts").as("e"),
        org.apache.spark.sql.functions.count($"event_id").as("n"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(2).getTime / 1000,
        r.getTimestamp(3).getTime / 1000, r.getLong(4))).toSet
    assert(streamed == batch,
      s"stream-only=${(streamed -- batch).take(3)} batch-only=${(batch -- streamed).take(3)}")
  }

  test("stream-stream join matches pairs inside the time bound only") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val lmem = MemoryStream[StreamEvent]
    val rmem = MemoryStream[StreamEvent]
    val q = EventStream.streamStreamJoin(lmem.toDF(), rmem.toDF(),
        windowMinutes = 30)
      .writeStream.format("memory").queryName("ssj")
      .outputMode(OutputMode.Append).start()
    try {
      lmem.addData(Seq(StreamEvent(1, ts(0), 7, "signup", 0.0)))
      rmem.addData(Seq(
        StreamEvent(10, ts(10), 7, "error", 0.0),  // in window
        StreamEvent(11, ts(29), 7, "error", 0.0),  // in window (≤30')
        StreamEvent(12, ts(45), 7, "error", 0.0),  // outside
        StreamEvent(13, ts(10), 8, "error", 0.0))) // other user
      q.processAllAvailable()
    } finally q.stop()
    val pairs = spark.table("ssj")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 10L), (1L, 11L)), s"got $pairs")
  }

  test("stream-stream LEFT OUTER interval join emits unmatched lefts as nulls, watermark-proven") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val lmem = MemoryStream[StreamEvent]
    val rmem = MemoryStream[StreamEvent]
    val q = EventStream.streamStreamJoinLeftOuter(lmem.toDF(), rmem.toDF(),
        windowMinutes = 30)
      .writeStream.format("memory").queryName("ssj_outer")
      .outputMode(OutputMode.Append).start()
    try {
      lmem.addData(Seq(
        StreamEvent(1, ts(0), 7, "signup", 0.0),   // will match
        StreamEvent(2, ts(0), 9, "signup", 0.0)))  // no error ever
      rmem.addData(Seq(
        StreamEvent(10, ts(10), 7, "error", 0.0),
        StreamEvent(12, ts(45), 7, "error", 0.0))) // outside window
      q.processAllAvailable()
      // the unmatched left can only emit once BOTH watermarks prove
      // no match can still arrive — push both far past ts(0)+30'+1h
      lmem.addData(Seq(StreamEvent(-1, ts(600), -1, "x", 0.0)))
      rmem.addData(Seq(StreamEvent(-2, ts(600), -2, "x", 0.0)))
      q.processAllAvailable()
      lmem.addData(Seq(StreamEvent(-3, ts(1200), -1, "x", 0.0)))
      rmem.addData(Seq(StreamEvent(-4, ts(1200), -2, "x", 0.0)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("ssj_outer")
      .filter($"user_id" > 0)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    assert(rows.contains((1L, Some(10L))), s"matched pair lost: $rows")
    assert(rows.contains((2L, None)),
      s"unmatched left not emitted with nulls: $rows")
    assert(!rows.contains((1L, Some(12L))), "out-of-window match leaked")
  }

  test("stream-static dim enrichment ≡ batch join; facts without a dim row survive") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val rows = Tables.events(spark, SF)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[StreamEvent].collect().toSeq
    val dim = Tables.customer(spark, SF)
      .select($"c_custkey".as("user_id"),
        $"c_mktsegment".as("segment"), $"c_nationkey".cast("long").as("nation"))
      // drop some keys so the LEFT-join null path is exercised on
      // real data (user_ids ≡ 0 mod 7 lose their dim row)
      .filter($"user_id" % 7 =!= 0)
    val mem = MemoryStream[StreamEvent]
    mem.addData(rows)
    val q = EventStream.enrichWithDim(mem.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enrich_stream")
      .outputMode(OutputMode.Append).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("enrich_stream")
      .select($"event_id", $"segment", $"nation")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    val batch = Tables.events(spark, SF)
      .select($"event_id", $"user_id").join(dim, Seq("user_id"), "left")
      .select($"event_id", $"segment", $"nation")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(streamed == batch,
      s"stream-only=${(streamed -- batch).take(3)} batch-only=${(batch -- streamed).take(3)}")
    // the null path actually fired, and no event was dropped
    assert(streamed.exists(_._2.isEmpty), "expected unmatched facts")
    assert(streamed.size == rows.size, "left join must keep every event")
  }

  test("curation stages are stream-safe: gopher rules + PII redaction, batch ≡ stream") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // the rule battery and the redactor are stateless column
    // expressions (zero shuffle — PlanAuditSpec pins that), so the
    // SAME operator code must run unchanged on a stream in append
    // mode with no watermark: filter-at-ingest is how a production
    // crawl applies these before anything hits the lake
    val rows = Tables.documents(spark, SF)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    mem.addData(rows)
    val streamDf = mem.toDF().toDF("doc_id", "text")
    val q = graft.operators.Curation.gopherFilterOf(spark, streamDf)
      .writeStream.format("memory").queryName("curation_stream")
      .outputMode(OutputMode.Append).start()
    try q.processAllAvailable() finally q.stop()
    def key(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    val batch = graft.operators.Curation.gopherFilterOf(spark,
      Tables.documents(spark, SF).select($"doc_id", $"text"))
    assert(key(spark.table("curation_stream")) == key(batch))

    val pmem = MemoryStream[(Long, String)]
    pmem.addData(rows)
    val pcols = graft.operators.Pii.redactCols($"text")
    val pq = pmem.toDF().toDF("doc_id", "text")
      .select($"doc_id" +: pcols: _*)
      .writeStream.format("memory").queryName("pii_stream")
      .outputMode(OutputMode.Append).start()
    try pq.processAllAvailable() finally pq.stop()
    val pbatch = Tables.documents(spark, SF)
      .select($"doc_id" +: pcols: _*)
    assert(key(spark.table("pii_stream")) == key(pbatch))
  }

  test("sampling filters are stream-safe: hash + stratified membership, batch ≡ stream") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // the md5-bucket samplers are stateless scan filters (zero
    // shuffle — SamplingSpec pins that), so the SAME operator code
    // must run unchanged on a stream in append mode: rate-thinning
    // at ingest is how a crawl applies its training-mix before the
    // lake, and hash membership makes the thinned stream identical
    // to what a batch backfill over the same rows would keep
    val rows = Tables.documents(spark, SF)
      .select($"doc_id", $"lang").as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    mem.addData(rows)
    val q = graft.operators.Sampling.stratifiedSample(
        mem.toDF().toDF("doc_id", "lang"), $"doc_id", $"lang",
        Map("en" -> 200, "de" -> 50), defaultPerMille = 100)
      .writeStream.format("memory").queryName("sample_stream")
      .outputMode(OutputMode.Append).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("sample_stream")
      .collect().map(_.getLong(0)).toSet
    val batch = graft.operators.Sampling.stratifiedSample(
        Tables.documents(spark, SF).select($"doc_id", $"lang"),
        $"doc_id", $"lang", Map("en" -> 200, "de" -> 50),
        defaultPerMille = 100)
      .collect().map(_.getLong(0)).toSet
    assert(streamed == batch,
      s"stream-only=${(streamed -- batch).take(3)} batch-only=${(batch -- streamed).take(3)}")
    assert(batch.nonEmpty && batch.size < rows.size)
  }

  test("streaming dedup ≡ batch exact dedup on the real event table") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{concat_ws, md5}
    implicit val ctx = spark.sqlContext
    // fingerprint = (user_id, event_type): enough collisions on the
    // real slice for the dedup to genuinely cut. Rows are fed in
    // event_id order from a single memory batch, so stream arrival
    // order == id order and keep-FIRST must equal the batch side's
    // min(id) representative — the same contract exactByHash keeps.
    val rows = Tables.events(spark, SF)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .orderBy($"event_id")
      .as[StreamEvent].collect().toSeq
    val mem = MemoryStream[StreamEvent]
    mem.addData(rows)
    val q = EventStream.dedupByKey(
        mem.toDF().withColumn("fp", concat_ws("|", $"user_id", $"event_type")),
        Seq("fp"))
      .writeStream.format("memory").queryName("dedup_equiv")
      .outputMode(OutputMode.Append).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("dedup_equiv")
      .select(md5($"fp"), $"event_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = graft.operators.Dedup.exactByHash(
        Tables.events(spark, SF)
          .withColumn("fp", concat_ws("|", $"user_id", $"event_type")),
        $"fp", $"event_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed.size < rows.size, "dedup did not cut — vacuous check")
    assert(streamed == batch,
      s"stream-only=${(streamed.toSet -- batch.toSet).take(3)} " +
        s"batch-only=${(batch.toSet -- streamed.toSet).take(3)}")
  }

  test("streaming dedup drops within-watermark replays, keeps first occurrence") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[StreamEvent]
    val q = EventStream.dedupByKey(
        mem.toDF().withColumn("fp", org.apache.spark.sql.functions.col("event_type")),
        Seq("fp"))
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(Seq(
        StreamEvent(1, ts(0), 1, "doc_a", 1.0),
        StreamEvent(2, ts(1), 2, "doc_a", 2.0), // replay, same batch
        StreamEvent(3, ts(2), 1, "doc_b", 3.0)))
      q.processAllAvailable()
      mem.addData(Seq(
        StreamEvent(4, ts(5), 3, "doc_a", 4.0))) // replay, later batch
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup_stream")
      .collect().map(_.getAs[Long]("event_id")).toSet
    assert(ids == Set(1L, 3L), s"got event ids $ids")
  }

  test("streaming CUSUM: alarm at the crossing, reset after, drift accumulates across batches, decay floors at 0") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[StreamEvent]
    // target 10, slack 1, threshold 5: each 12 adds +1, a 14 adds +3,
    // an 8 subtracts 3 (floored at 0)
    val q = EventStream.cusumControl(mem.toDS(), target = 10.0,
        slack = 1.0, threshold = 5.0)
      .writeStream.format("memory").queryName("cusum_stream")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(Seq(
        StreamEvent(1, ts(0), 1, "a", 12.0), // s=1
        StreamEvent(2, ts(1), 1, "a", 12.0), // s=2
        StreamEvent(3, ts(2), 1, "a", 8.0),  // s=max(0, 2-3)=0
        StreamEvent(4, ts(3), 1, "a", 12.0), // s=1
        // an independent series must not share state
        StreamEvent(5, ts(0), 1, "b", 14.0), // s=3
        StreamEvent(6, ts(1), 1, "b", 14.0)  // s=6 > 5 → ALARM, reset
      ))
      q.processAllAvailable()
      mem.addData(Seq( // series a resumes from s=1 across the batch gap
        StreamEvent(7, ts(4), 1, "a", 14.0), // s=4
        StreamEvent(8, ts(5), 1, "a", 14.0), // s=7 > 5 → ALARM, reset
        StreamEvent(9, ts(2), 1, "b", 12.0)  // post-reset: s=1, quiet
      ))
      q.processAllAvailable()
    } finally q.stop()
    val alarms = spark.table("cusum_stream")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(3)))
      .sortBy(_._2)
    assert(alarms.toSeq == Seq(("b", 6L, 6.0), ("a", 8L, 7.0)),
      s"got $alarms")
  }

  test("streaming CUSUM ≡ the Page recursion folded over the real event table") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val rows = Tables.events(spark, SF)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[StreamEvent].collect().toSeq
    val (target, slack, threshold) = (1.0, 0.5, 25.0)
    val mem = MemoryStream[StreamEvent]
    mem.addData(rows)
    val q = EventStream.cusumControl(mem.toDS(), target, slack, threshold)
      .writeStream.format("memory").queryName("cusum_real_stream")
      .outputMode(OutputMode.Append).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("cusum_real_stream")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(3)))
      .toSet
    // identical recursion in plain scala, same (ts, event_id) order
    val expected = rows.groupBy(_.event_type).toSeq.flatMap { case (et, es) =>
      var s = 0.0
      es.sortBy(e => (e.ts.getTime, e.event_id)).flatMap { e =>
        s = math.max(0.0, s + (e.value - target - slack))
        if (s > threshold) { val hit = (et, e.event_id, s); s = 0.0; Some(hit) }
        else None
      }
    }.toSet
    assert(expected.nonEmpty, "pick a threshold the corpus actually crosses")
    assert(got == expected,
      s"stream-only=${got -- expected} fold-only=${expected -- got}")
  }

  test("stream-stream interval join ≡ batch banded range join on the real event table") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // the r10 gap: 41c was spec'd on synthetic rows only. Feed the
    // REAL event table through both stream sides (signups left,
    // errors right — the events_range_follow shape) and pin the
    // emitted pair set to the batch banded range join over the same
    // rows. streamStreamJoin's bound is INCLUSIVE (r_ts ≤ l_ts+30'),
    // bandJoin's exclusive — band+1µs makes the batch twin exact.
    val rows = Tables.events(spark, SF)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[StreamEvent].collect().toSeq
    val signups = rows.filter(_.event_type == "signup")
    val errors = rows.filter(_.event_type == "error")
    assert(signups.nonEmpty && errors.nonEmpty, "corpus must drive both sides")
    val lmem = MemoryStream[StreamEvent]
    val rmem = MemoryStream[StreamEvent]
    val q = EventStream.streamStreamJoin(lmem.toDF(), rmem.toDF(),
        windowMinutes = 30)
      .writeStream.format("memory").queryName("ssj_real")
      .outputMode(OutputMode.Append).start()
    try {
      lmem.addData(signups)
      rmem.addData(errors)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ssj_real")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.operators.RangeJoin.bandJoin(
        Tables.events(spark, SF).filter($"event_type" === "signup")
          .select($"event_id".as("l_id"), $"user_id", $"ts"),
        Tables.events(spark, SF).filter($"event_type" === "error")
          .select($"event_id".as("r_id"), $"user_id", $"ts".as("r_ts")),
        Seq("user_id"), "ts", "r_ts", band = 30L * 60 * 1000000 + 1)
      .select($"l_id", $"r_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed.nonEmpty && streamed == batch,
      s"stream-only=${(streamed -- batch).take(3)} batch-only=${(batch -- streamed).take(3)}")
  }

  test("stream → versioned table → incremental MV: the full streaming-lakehouse loop stays ≡ recompute") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.pipeline.{ManifestTable, MaterializedAgg}
    // the integration the pieces exist for: micro-batches land as
    // atomic ManifestTable versions (effectively-once via batch ids),
    // and the MV refreshes INCREMENTALLY after each — first build
    // full, every subsequent batch a delta fold, state ≡ a fresh
    // aggregate over everything fed so far at every step
    val rows = Tables.events(spark, SF)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[StreamEvent].collect().toSeq.sortBy(_.event_id)
    val (batch1, batch2) = rows.splitAt(rows.size / 2)
    val root = java.nio.file.Files.createTempDirectory("stream_mv").toString
    val table = new ManifestTable(spark, root + "/t")
    val mv = new MaterializedAgg(table, new ManifestTable(spark, root + "/mv"),
      groupCols = Seq("event_type"), sumCols = Seq("user_id"))
    val modes = scala.collection.mutable.ArrayBuffer.empty[String]
    val mem = MemoryStream[StreamEvent]
    val q = mem.toDF()
      .writeStream.option("checkpointLocation", root + "/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        table.append(b, Some(id))
        modes += mv.refresh()
        ()
      }.start()
    try {
      mem.addData(batch1); q.processAllAvailable()
      mem.addData(batch2); q.processAllAvailable()
    } finally q.stop()
    assert(modes.toSeq == Seq("full", "delta"), s"modes: $modes")
    val got = mv.read().collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val expected = Tables.events(spark, SF)
      .groupBy($"event_type")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.sum($"user_id"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expected,
      s"mv-only=${(got.toSet -- expected.toSet).take(3)} batch-only=${(expected.toSet -- got.toSet).take(3)}")
  }

  test("sliding DAU dedup state is EVICTED once the watermark passes (not just correct output)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // r10 advice: slidingDau's dedup relies on the window struct
    // carrying event-time watermark metadata for state eviction — if
    // that propagation ever broke, output would stay correct while
    // state grew without bound, which no output assertion catches.
    // This pins the eviction itself via query progress.
    val mem = MemoryStream[StreamEvent]
    val q = EventStream.slidingDau(mem.toDF())
      .writeStream.format("memory").queryName("sdau_evict")
      .outputMode(OutputMode.Append).start()
    def dedupRows: Long = q.recentProgress.flatMap(_.stateOperators)
      .filter(_.operatorName.toLowerCase.contains("dedup"))
      .map(_.numRowsTotal).lastOption.getOrElse(-1L)
    try {
      // 3 users × 2 duplicate events in hour 0 → 3 users × 24 windows
      mem.addData((1 to 3).flatMap(u => Seq(
        StreamEvent(u * 10L, ts(5), u.toLong, "click", 1.0),
        StreamEvent(u * 10L + 1, ts(25), u.toLong, "click", 1.0))))
      q.processAllAvailable()
      val before = dedupRows
      assert(before > 0, s"dedup operator kept no state: $before")
      // sentinels push the watermark far past every live window end
      mem.addData(Seq(StreamEvent(-1, ts(90L * 60), -1, "x", 0.0)))
      q.processAllAvailable()
      mem.addData(Seq(StreamEvent(-2, ts(180L * 60), -2, "x", 0.0)))
      q.processAllAvailable()
      mem.addData(Seq(StreamEvent(-3, ts(270L * 60), -3, "x", 0.0)))
      q.processAllAvailable()
      val after = dedupRows
      assert(after < before,
        s"dedup state did not shrink after watermark advance: " +
          s"before=$before after=$after — eviction metadata lost?")
    } finally q.stop()
  }

  test("streaming heavy hitters: SpaceSaving replacement, bounds, cross-batch state on a crafted stream") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[StreamEvent]
    val q = EventStream.heavyHitters(mem.toDS(), parts = 1, m = 2)
      .writeStream.format("memory").queryName("hh_crafted")
      .outputMode(OutputMode.Update).start()
    try {
      // u1×3, then u2 fills, u3 evicts the min (u2, count 1)
      mem.addData(Seq(
        StreamEvent(1, ts(0), 1, "a", 0), StreamEvent(2, ts(1), 1, "a", 0),
        StreamEvent(3, ts(2), 1, "a", 0), StreamEvent(4, ts(3), 2, "a", 0),
        StreamEvent(5, ts(4), 3, "a", 0)))
      q.processAllAvailable()
      // cross-batch: two more u1 hits fold into retained state
      mem.addData(Seq(
        StreamEvent(6, ts(5), 1, "a", 0), StreamEvent(7, ts(6), 1, "a", 0)))
      q.processAllAvailable()
    } finally q.stop()
    // update mode: the LAST emission per user is the live estimate
    val last = spark.table("hh_crafted").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .zipWithIndex
      .groupBy(_._1._2).view.mapValues(_.maxBy(_._2)._1).toMap
    assert(last(1L) == ((0, 1L, 5L, 0L)), s"u1: ${last(1L)}")
    assert(last(3L) == ((0, 3L, 2L, 1L)), s"u3: ${last(3L)}")
    // SpaceSaving bounds vs the true counts (u1=5, u2=1, u3=1):
    // est ≥ true and est − err ≤ true for every surviving key
    val truth = Map(1L -> 5L, 2L -> 1L, 3L -> 1L)
    Seq(1L, 3L).foreach { u =>
      val (_, _, est, err) = last(u)
      assert(est >= truth(u) && est - err <= truth(u), s"bounds for $u")
    }
  }

  test("streaming heavy hitters ≡ exact batch counts in exact mode (m ≥ per-part distincts) on real events") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val rows = Tables.events(spark, SF)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[StreamEvent].collect().toSeq
    val parts = 4
    val perPart = rows.map(_.user_id).distinct
      .groupBy(u => math.floorMod(u.hashCode, parts)).values.map(_.size).max
    val mem = MemoryStream[StreamEvent]
    val q = EventStream.heavyHitters(mem.toDS(), parts, m = perPart + 8)
      .writeStream.format("memory").queryName("hh_real")
      .outputMode(OutputMode.Update).start()
    try { mem.addData(rows); q.processAllAvailable() } finally q.stop()
    val got = spark.table("hh_real").collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    val want = rows.groupBy(_.user_id).view.mapValues(_.size.toLong).toMap
    assert(got.keySet == want.keySet,
      s"missing=${(want.keySet -- got.keySet).take(3)}")
    want.foreach { case (u, n) =>
      assert(got(u) == ((n, 0L)), s"user $u: ${got(u)} want ($n, 0)") }
  }

  test("streaming as-of enrichment: crafted out-of-order stream, ties, and no-ref probes") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def t(min: Int) = new Timestamp(min * 60000L)
    val mem = MemoryStream[StreamEvent]
    val q = EventStream.asOfEnrich(mem.toDS(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("asof_stream")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: probe BEFORE its ref arrives (out of order within
      // the watermark), plus a ref tie at the same ts
      mem.addData(Seq(
        StreamEvent(10, t(5), 1, "click", 0.0),     // probe at 5
        StreamEvent(2, t(3), 1, "signup", 7.0),     // ref at 3 (late-ish)
        StreamEvent(3, t(3), 1, "signup", 9.0),     // tie: higher id wins
        StreamEvent(20, t(1), 2, "click", 0.0)))    // user 2: no ref ever
      q.processAllAvailable()
      // batch 2: sentinel advances the watermark past every probe
      mem.addData(Seq(StreamEvent(99, t(120), 42, "click", 0.0)))
      q.processAllAvailable()
      mem.addData(Seq(StreamEvent(100, t(360), 42, "click", 0.0)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("asof_stream").collect()
      .map(r => r.getLong(0) -> ((Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    assert(got(10L) == ((Some(3L), Some(9.0))), s"tie-break: ${got(10L)}")
    assert(got(20L) == ((None, None)), s"no-ref probe: ${got(20L)}")
  }

  test("streaming as-of enrichment ≡ batch as-of join on the real event table") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val rows = Tables.events(spark, SF)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[StreamEvent].collect().sortBy(_.ts.getTime)
    val maxTs = rows.map(_.ts.getTime).max
    val chunks = rows.grouped(math.max(1, rows.length / 3)).toSeq
    val mem = MemoryStream[StreamEvent]
    val q = EventStream.asOfEnrich(mem.toDS())
      .writeStream.format("memory").queryName("asof_stream_real")
      .outputMode(OutputMode.Append).start()
    try {
      chunks.foreach { c => mem.addData(c.toSeq); q.processAllAvailable() }
      mem.addData(Seq(StreamEvent(-1L,
        new Timestamp(maxTs + 40L * 3600 * 1000), -1L, "sentinel", 0.0)))
      q.processAllAvailable()
      mem.addData(Seq(StreamEvent(-2L,
        new Timestamp(maxTs + 80L * 3600 * 1000), -1L, "sentinel", 0.0)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("asof_stream_real")
      .filter($"user_id" =!= -1L).collect()
      .map(r => r.getLong(0) -> ((Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    val want = graft.operators.AsOfJoin.eventsAsOfSignup(spark, SF).collect()
      .map(r => r.getLong(0) ->
        ((if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(got.size == want.size, s"${got.size} vs ${want.size}")
    val diff = want.keys.filter(k => got.get(k) != want.get(k)).take(3)
    assert(diff.isEmpty,
      s"diverged at $diff: stream=${diff.map(got.get)} batch=${diff.map(want.get)}")
  }

  test("stream gates refuse an events table colliding with the sentinel value domain (r14 advice)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val base = Tables.events(spark, SF).limit(20)
    def poisonedDir(mutate: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): String = {
      val dir = java.nio.file.Files.createTempDirectory("sentinel_domain").toString
      base.unionByName(mutate(base.limit(1)))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }
    // a refused gate must still delete its scratch directories: none
    // named after the gate may appear under java.io.tmpdir
    def refused(prefix: String)(gate: => Any): IllegalArgumentException = {
      val before = tmpDirsNamed(prefix)
      val e = intercept[IllegalArgumentException](gate)
      val left = tmpDirsNamed(prefix) -- before
      assert(left.isEmpty, s"refused gate left scratch directories $left")
      e
    }
    // event_type 'sentinel' in real data would ride the left-outer
    // join's isin(t, "sentinel") filter as a real row
    val d1 = poisonedDir(_.withColumn("event_type", lit("sentinel")))
    val e1 = refused("asof_stream_gate")(
      graft.streaming.StreamGates.asOfGate(spark, d1))
    assert(e1.getMessage.contains("sentinel"), e1.getMessage)
    // negative event_id collides with the l_id >= 0 output cut
    val d2 = poisonedDir(_.withColumn("event_id", lit(-5L)))
    val e2 = refused("ssj_outer_gate")(
      graft.streaming.StreamGates.joinLeftOuterGate(spark, d2))
    assert(e2.getMessage.contains("event_id"), e2.getMessage)
    // negative user_id collides with the user_id <> -1 cut
    val d3 = poisonedDir(_.withColumn("user_id", lit(-1L)))
    val e3 = refused("sess_stream_gate")(
      graft.streaming.StreamGates.sessionizeGate(spark, d3))
    assert(e3.getMessage.contains("user_id"), e3.getMessage)
  }

  test("stream gates turn an empty events table into an empty result of the gate's schema") {
    val dir = java.nio.file.Files.createTempDirectory("empty_events").toString
    Tables.events(spark, SF).limit(0)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // a paced file-sink gate (sentinel walk skipped) and an unpaced one
    val asOf = graft.streaming.StreamGates.asOfGate(spark, dir)
    assert(asOf.count() == 0L)
    assert(asOf.columns.toSeq ==
      Seq("event_id", "user_id", "asof_signup_id", "asof_signup_value"))
    val cusum = graft.streaming.StreamGates.cusumGate(spark, dir)
    assert(cusum.count() == 0L)
    assert(cusum.columns.toSeq == Seq("event_type", "event_id", "ts", "s_plus"))
  }

  test("a stream gate leaves only its result's checkpoint persisted, and no scratch directory") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val dirsBefore = tmpDirsNamed("dedup_stream_gate")
    val out = graft.streaming.StreamGates.dedupGate(spark, SF)
    val held = sc.getPersistentRDDs.keySet.toSet -- before
    try {
      assert(held.size == 1, s"dedupGate left ${held.size} persisted RDDs")
      assert(out.count() > 0L)
      assert((tmpDirsNamed("dedup_stream_gate") -- dirsBefore).isEmpty)
    } finally held.foreach(id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = true)))
  }

  test("crash recovery: intoManifestTable stays effectively-once across restart AND a forced batch replay") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.pipeline.ManifestTable
    // every prior streaming spec runs one query lifetime; this one
    // exercises the RESTART path the checkpoint + #batch markers
    // exist for: (1) a clean stop/restart must not duplicate or lose
    // rows; (2) deleting the checkpoint's last commit file simulates
    // the crash window between sink commit and checkpoint commit —
    // Spark REPLAYS that batch id into foreachBatch on restart, and
    // the #batch marker must turn the replay into a no-op.
    val rows = (1 to 60).map(i =>
      StreamEvent(i.toLong, ts(i.toLong), i.toLong % 7, "click", i * 1.0))
    val (b1, b2) = rows.splitAt(30)
    val root = java.nio.file.Files.createTempDirectory("stream_recover").toString
    val table = new ManifestTable(spark, root + "/t")
    val ckpt = root + "/ckpt"
    val mem = MemoryStream[StreamEvent]
    def start() = EventStream.intoManifestTable(mem.toDF(), table, ckpt).start()
    // lifetime 1: first half
    val q1 = start()
    try { mem.addData(b1); q1.processAllAvailable() } finally q1.stop()
    assert(table.read().count() == 30L, "first lifetime landed")
    val vAfter1 = table.currentVersion.get
    // lifetime 2 (clean restart): second half — no dup, no loss
    val q2 = start()
    try { mem.addData(b2); q2.processAllAvailable() } finally q2.stop()
    assert(table.read().count() == 60L,
      s"clean restart must append exactly the new batch: ${table.read().count()}")
    assert(table.currentVersion.get > vAfter1)
    val vAfter2 = table.currentVersion.get
    // forced replay: drop the newest checkpoint commit marker → the
    // restarted query re-runs that batch id from recorded offsets
    val commits = new java.io.File(ckpt, "commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty, "checkpoint has no commit files?")
    assert(commits.last.delete(), "could not tamper with the checkpoint")
    // the local checksum fs shadows every commit file with .N.crc; a
    // real crash leaves neither, and a stale crc would make the
    // replay's commit rename fail for the wrong reason
    new java.io.File(commits.last.getParentFile,
      s".${commits.last.getName}.crc").delete()
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()
    assert(table.read().count() == 60L,
      s"replayed batch must be a #batch-marker no-op: ${table.read().count()}")
    assert(table.currentVersion.get == vAfter2,
      "replay must not mint a new version")
    // and the row CONTENT survived intact, not just the count
    assert(table.read().agg(
        org.apache.spark.sql.functions.sum($"event_id")).head.getLong(0) ==
      (1 to 60).map(_.toLong).sum)
  }

  test("crash recovery: slidingDau resumes from checkpoint with no lost or duplicated windows") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // append-mode windows must finalize EXACTLY ONCE across a query
    // restart: the watermark + window state live in the checkpoint,
    // so lifetime 2 must neither re-emit lifetime 1's windows nor
    // skip windows straddling the stop.
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    val root = java.nio.file.Files.createTempDirectory("sdau_recover").toString
    val mem = MemoryStream[StreamEvent]
    def start() = EventStream.slidingDau(mem.toDF())
      .writeStream.option("checkpointLocation", root + "/ckpt")
      .outputMode(OutputMode.Append)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.collect().foreach(r =>
          emitted.add((id, r.getTimestamp(0).getTime, r.getLong(1))))
        ()
      }.start()
    // users 1..3 in hour 0, users 1..2 in hour 6, user 9 in hour 30
    val q1 = start()
    try {
      mem.addData((1 to 3).map(u =>
        StreamEvent(u.toLong, ts(10), u.toLong, "click", 1.0)) ++
        Seq(StreamEvent(10L, ts(6 * 60 + 5), 1L, "click", 1.0),
          StreamEvent(11L, ts(6 * 60 + 6), 2L, "click", 1.0)))
      q1.processAllAvailable()
      // advance the watermark deep enough to finalize the early
      // windows (24h windows + 2h watermark)
      mem.addData(Seq(StreamEvent(20L, ts(30 * 60), 9L, "click", 1.0)))
      q1.processAllAvailable()
    } finally q1.stop()
    val afterL1 = emitted.size()
    assert(afterL1 > 0, "lifetime 1 finalized no windows — fixture too shallow")
    // lifetime 2: restart from the same checkpoint, push the
    // watermark past everything so ALL remaining windows finalize
    val q2 = start()
    try {
      mem.addData(Seq(StreamEvent(21L, ts(80 * 60), 9L, "click", 1.0)))
      q2.processAllAvailable()
      mem.addData(Seq(StreamEvent(22L, ts(130 * 60), 9L, "click", 1.0)))
      q2.processAllAvailable()
      // one more micro-batch so windows finalized by the 130h
      // watermark actually EMIT before the stop (emission happens in
      // the batch AFTER the watermark advances); same hour as the
      // 130h event, so it adds no new windows to the expectation
      mem.addData(Seq(StreamEvent(23L, ts(130 * 60 + 1), 9L, "click", 1.0)))
      q2.processAllAvailable()
    } finally q2.stop()
    val got = emitted.toArray(Array.empty[(Long, Long, Long)])
      .map { case (_, w, n) => (w, n) }
    // no window emitted twice across the restart
    assert(got.length == got.toSet.size,
      s"duplicated windows across restart: ${got.groupBy(identity).filter(_._2.length > 1).keys}")
    assert(emitted.size() > afterL1, "lifetime 2 finalized nothing")
    // and the union over both lifetimes ≡ the batch 24h/1h count on
    // every window that CAN be final (those the last watermark passed)
    val allEvents = Seq((ts(10), 1L), (ts(10), 2L), (ts(10), 3L),
      (ts(6 * 60 + 5), 1L), (ts(6 * 60 + 6), 2L), (ts(30 * 60), 9L),
      (ts(80 * 60), 9L), (ts(130 * 60), 9L))
    val lastWm = ts(130 * 60).getTime - 2L * 3600 * 1000
    val expect = allEvents.flatMap { case (t, u) =>
      val hour = t.getTime / 3600000L * 3600000L
      (0L until 24L).map(k => (hour - k * 3600000L, u))
    }.distinct.groupBy(_._1)
      .map { case (w, us) => (w, us.length.toLong) }
      .filter { case (w, _) => w + 24L * 3600000L <= lastWm }
    val gotFinal = got.toMap.filter { case (w, _) =>
      w + 24L * 3600000L <= lastWm }
    assert(gotFinal == expect,
      s"stream-only=${gotFinal.toSet -- expect.toSet} batch-only=${expect.toSet -- gotFinal.toSet}")
  }

}
