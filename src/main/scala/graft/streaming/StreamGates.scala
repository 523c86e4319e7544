package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.LongType
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Driver-verifiable STREAMING gates (r13 verdict item 3): each gate
  * runs a real Structured Streaming query over the events parquet —
  * file source, micro-batches, watermark/state machinery live — to
  * completion inside the gate function, then returns the memory
  * sink's contents so the driver hashes the STREAM's output against
  * the batch-twin DuckDB oracle. This upgrades three streaming rows
  * from spec-only equivalence to board-verified equivalence: the
  * stream itself (not just the shared operator code) is in the
  * compared path.
  *
  * Scale notes: the file source reads the same parquet the batch
  * twin reads (pruned columns only); no driver-side collect anywhere
  * — events flow source → stateful operator → sink distributed, so
  * the harness shape is the production shape. Sink names are
  * per-invocation unique (Verify runs gates concurrently).
  */
object StreamGates {

  private val seq = new java.util.concurrent.atomic.AtomicLong()
  private def sinkName(tag: String): String =
    s"sg_${tag}_${java.util.UUID.randomUUID.toString.replace("-", "")}"

  /** Session the gate's streaming query runs on: a CHILD session with
    * the stateful-stream state-partition count set explicitly. The
    * number of state stores IS `spark.sql.shuffle.partitions` at the
    * query's first start (the checkpoint pins it forever after), AQE
    * cannot resize it (disabled in stateful workloads), and EVERY
    * micro-batch pays a fixed per-partition lifecycle — state store
    * open, version commit, snapshot/maintenance, task schedule — so
    * inheriting the batch session's cores-sized default charges
    * (cores × batches) fixed costs to queries whose per-batch volume
    * is a few thousand rows. Measured at sf0.1/local[32]:
    * stream_join_left_outer 38 s → 7-8 s with 2-8 state partitions
    * (flat across 2/4/8 — the cost is the store count, not the data).
    * So the count is a constant 8, sized to the stream volume per
    * trigger rather than to cluster cores. The child session isolates
    * the setting from the shared batch session driving everything else.
    */
  private def streamSession(spark0: SparkSession): SparkSession = {
    // cloneSession, not newSession: the clone inherits the parent's
    // RUNTIME conf (a probe/bench harness toggling e.g. AQE
    // coalescing after session creation must see its setting apply
    // to the streaming gates too — newSession silently reverted to
    // builder-time defaults)
    val s = org.apache.spark.sql.graftinternal.PlanBridge.cloneSession(spark0)
    s.conf.set("spark.sql.shuffle.partitions", 8)
    s
  }

  /** Materialize the sink's contents and DROP the memory-sink view:
    * the memory sink pins its whole collected output on the driver
    * for the view's lifetime, and a bench board runs every gate 3× —
    * localCheckpoint blocks, by contrast, are GC-reaped once the
    * returned frame goes unreferenced (the repo-wide checkpoint
    * rationale). Also deletes the gate's temp watch dirs: the stream
    * is stopped and the result no longer reads files.
    */
  private def finish(spark: SparkSession, sink: String,
      result: org.apache.spark.sql.DataFrame,
      tempDirs: Seq[Path] = Nil): org.apache.spark.sql.DataFrame = {
    val out = result.localCheckpoint(true)
    spark.catalog.dropTempView(sink)
    tempDirs.foreach(deleteRecursively)
    out
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val it = Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .iterator()
      while (it.hasNext) Files.deleteIfExists(it.next())
    }

  /** Max event-time in µs, None on an empty table (the sentinel
    * lifecycle is skipped then — an empty stream's output is empty
    * with the correct sink schema, no watermark walking needed).
    *
    * The same single pass REQUIRES the sentinel value domain to be
    * free in the real data (r14 advice): the lifecycle reserves
    * event_type 'sentinel' (it rides both sides of the left-outer
    * join filter) and negative event_id/user_id (the output cuts are
    * `l_id >= 0` / `user_id =!= -1`). A generator change that starts
    * emitting those values would silently corrupt gate output or
    * drop real rows while the oracle keeps them — this require turns
    * that into a loud failure naming the collision.
    */
  private def maxEventMicros(spark: SparkSession, dir: String): Option[Long] = {
    import org.apache.spark.sql.functions.col
    val row = Tables.events(spark, dir)
      .agg(max(unix_micros(col("ts"))),
        sum(when(col("event_type") === "sentinel", 1L).otherwise(0L)),
        min(col("event_id")), min(col("user_id"))).head()
    if (row.isNullAt(0)) None
    else {
      require(row.getLong(1) == 0L,
        "stream gate sentinel lifecycle: events table already contains " +
          "event_type 'sentinel' — the reserved marker would join as real data")
      require(row.getLong(2) >= 0L,
        s"stream gate sentinel lifecycle: min(event_id) = ${row.getLong(2)} " +
          "< 0 collides with the sentinel id domain (output cut l_id >= 0)")
      require(row.getLong(3) >= 0L,
        s"stream gate sentinel lifecycle: min(user_id) = ${row.getLong(3)} " +
          "< 0 collides with the sentinel user domain (output cut user_id <> -1)")
      Some(row.getLong(0))
    }
  }

  /** File-source twin of [[graft.Tables.events]]: the streaming frame
    * over `path` (a watch directory holding copies of `dir`'s events
    * files) with the same ts normalization, so both physical testdata
    * layouts work. The schema is the source table's, resolved through
    * [[graft.Tables]] once per file set rather than once per gate call.
    */
  private def eventsStream(spark: SparkSession, dir: String, path: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(Tables.eventsRaw(spark, dir).schema)
    Tables.normalizedTs(maxFilesPerTrigger
      .fold(reader)(m => reader.option("maxFilesPerTrigger", m.toString))
      .parquet(path))
  }

  /** The file source requires a DIRECTORY; driver testdata ships each
    * table as a single parquet file, so a single-file table is copied
    * into a temp watch dir (a directory-shaped table streams as-is).
    */
  private def watchDirFor(src: String): (String, Seq[Path]) = {
    val p = Paths.get(src)
    if (Files.isDirectory(p)) (src, Nil)
    else {
      val watch = Files.createTempDirectory("stream_gate")
      copyParquet(p, watch)
      (watch.toString, Seq(watch))
    }
  }

  /** Run `q` (a started streaming query) until no more input is
    * available, then stop — the bounded-input lifecycle every gate
    * uses.
    */
  private def drain(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    try q.processAllAvailable() finally q.stop()

  /** The PRODUCTION sink for the append-mode gates: a parquet FILE
    * sink (distributed, exactly-once via the checkpoint +
    * _spark_metadata commit log) instead of the memory sink's
    * driver-side collect — at ×100 the enriched-events gate was
    * spending 27× its wall materializing 10 M rows on the driver.
    * Returns a started query plus the reader of the committed
    * output; the caller finishes with [[finishFiles]].
    */
  private def parquetSink(df: DataFrame, out: Path, cp: Path) =
    df.writeStream.format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", cp.toString)
      .outputMode(OutputMode.Append)

  /** Read the file sink's committed output, materialize, and delete
    * every temp dir (an empty stream commits no files — return an
    * empty frame of the right schema).
    */
  private def finishFiles(spark: SparkSession, out: Path,
      schema: org.apache.spark.sql.types.StructType,
      sort: DataFrame => DataFrame,
      tempDirs: Seq[Path]): DataFrame = {
    val hasFiles = Files.exists(out) && {
      val it = Files.list(out).iterator()
      var found = false
      while (it.hasNext && !found) {
        val nm = it.next().getFileName.toString
        found = nm.endsWith(".parquet") && !nm.startsWith("_")
      }
      found
    }
    val result =
      if (hasFiles) sort(spark.read.parquet(out.toString))
        .localCheckpoint(true)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    tempDirs.foreach(deleteRecursively)
    result
  }

  /** Gate `stream_enrich_dim`: [[EventStream.enrichWithDim]] over the
    * streamed fact table against the customer dim (keys ≡ 0 mod 7
    * dropped so the LEFT-join null path is exercised on real data —
    * the StreamingSpec fixture promoted to the board). Stateless, so
    * one drain completes it; the oracle is the plain batch LEFT join.
    */
  def enrichDimGate(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    import spark.implicits._
    val dim = Tables.customer(spark, dir)
      .select($"c_custkey".as("user_id"),
        $"c_mktsegment".as("segment"),
        $"c_nationkey".cast("long").as("nation"))
      .filter($"user_id" % 7 =!= 0)
    val (watch, tmp) = watchDirFor(s"$dir/events.parquet")
    val stream = eventsStream(spark, dir, watch)
      .select($"event_id", $"user_id")
    val enriched = EventStream.enrichWithDim(stream, dim, "user_id")
      .select($"event_id", $"segment", $"nation")
    val out = Files.createTempDirectory("enrich_out")
    val cp = Files.createTempDirectory("enrich_cp")
    drain(parquetSink(enriched, out, cp).start())
    finishFiles(spark, out, enriched.schema,
      _.orderBy($"event_id"), tmp ++ Seq(out, cp))
  }

  val enrichDimGateSql: String =
    """SELECT e.event_id, c.c_mktsegment AS segment,
              CAST(c.c_nationkey AS BIGINT) AS nation
       FROM events e
       LEFT JOIN (SELECT * FROM customer WHERE c_custkey % 7 <> 0) c
         ON e.user_id = c.c_custkey
       ORDER BY e.event_id"""

  /** Gate `stream_heavy_hitters`: [[EventStream.heavyHitters]] in
    * EXACT mode (m ≥ distinct users, so the SpaceSaving sketch never
    * evicts and est = true count, err = 0 — the vocabularyApprox
    * equivalence contract; the replacement path is StreamingSpec's
    * job). The consumer-side reduce (max per user across triggers —
    * est is monotone under update-mode re-emission) makes the gate
    * robust to any micro-batch split of the input files. Oracle: the
    * exact per-user batch counts.
    */
  def heavyHittersGate(spark0: SparkSession, dir: String,
      parts: Int = 4): DataFrame = {
    val spark = streamSession(spark0)
    import spark.implicits._
    val distinct = Tables.events(spark, dir)
      .select($"user_id").distinct().count()
    val (watch, tmp) = watchDirFor(s"$dir/events.parquet")
    val stream = eventsStream(spark, dir, watch)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[StreamEvent]
    val n = sinkName("hh")
    drain(EventStream.heavyHitters(stream, parts, m = distinct.toInt + 8)
      .writeStream.format("memory").queryName(n)
      .outputMode(OutputMode.Update).start())
    finish(spark, n, spark.table(n)
      .groupBy($"user_id")
      .agg(max($"est").as("est"), max($"err").as("err"))
      .orderBy($"user_id"), tmp)
  }

  val heavyHittersGateSql: String =
    """SELECT user_id, CAST(count(*) AS BIGINT) AS est,
              CAST(0 AS BIGINT) AS err
       FROM events GROUP BY user_id ORDER BY user_id"""

  /** Gate `stream_asof_signup`: [[EventStream.asOfEnrich]] — the
    * streaming as-of (SURVEY 41h.2) — over the streamed event table,
    * with watermark finality driven the production way: two
    * far-future sentinel FILES land in the watched directory after
    * the real data drains, advancing the watermark past every real
    * probe so the append-mode output is complete (sentinel rows are
    * filtered back out). The oracle ([[asOfGateSql]]) replays the
    * STREAM's OWN millisecond grain: AsofRef/AsofPending compare at
    * Timestamp.getTime (ms), while the batch gates compare at the
    * table's µs grain — on today's testdata the two agree (no
    * same-millisecond signup-after-probe pair exists), but a ×100
    * densification can mint one, and then the µs oracle would
    * falsely fail the stream (r14 advice). The batch gates keep the
    * µs DuckDB ASOF JOIN; this gate gets the ms-floored replay, the
    * same grain split sessionizeGateSql already documents.
    */
  def asOfGate(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    import spark.implicits._
    val src = s"$dir/events.parquet"
    val watch = Files.createTempDirectory("asof_stream_gate")
    copyTimeOrdered(spark, src, watch)
    // far-future sentinel timestamps from the batch frame's max ts;
    // None on an empty table — no sentinels needed, output is empty
    val maxMicros = maxEventMicros(spark, dir)
    val stream = eventsStream(spark, dir, watch.toString,
        maxFilesPerTrigger = Some(1))
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[StreamEvent]
    val enriched = EventStream.asOfEnrich(stream).toDF()
    val out = Files.createTempDirectory("asof_out")
    val cp = Files.createTempDirectory("asof_cp")
    val q = parquetSink(enriched, out, cp).start()
    try {
      q.processAllAvailable()
      // two sentinel batches: the first advances the watermark past
      // every real event, the second triggers the flush of probes
      // the first certified (watermark updates between triggers)
      maxMicros.foreach { mx =>
        addSentinel(spark, src, watch, id = -1L,
          tsMicros = mx + 40L * 3600 * 1000000L)
        q.processAllAvailable()
        addSentinel(spark, src, watch, id = -2L,
          tsMicros = mx + 80L * 3600 * 1000000L)
        q.processAllAvailable()
      }
    } finally q.stop()
    finishFiles(spark, out, enriched.schema,
      _.filter($"user_id" =!= -1L).orderBy($"event_id"),
      Seq(watch, out, cp))
  }

  /** The ms-grain oracle for [[asOfGate]]: each non-signup probe
    * matched to the latest same-user signup whose MILLISECOND floor
    * is at-or-before the probe's millisecond floor — exactly the
    * arithmetic [[EventStream.asOfEnrich]] runs (state timestamps are
    * Timestamp.getTime). Ties at equal (ms, …) resolve to the max
    * (ms, signup_id, signup_value) reference, the stream's
    * payload-ascending last-wins tie-break, spelled as a descending
    * row_number instead of DuckDB's ASOF (whose tie choice at equal
    * keys is not contracted).
    */
  val asOfGateSql: String =
    """WITH e AS (SELECT event_id, epoch_us(ts) // 1000 AS ms, user_id,
                         event_type, value FROM events),
        p AS (SELECT event_id, ms, user_id FROM e
              WHERE event_type <> 'signup'),
        s AS (SELECT user_id, ms, event_id AS signup_id,
                     value AS signup_value
              FROM e WHERE event_type = 'signup'),
        best AS (
          SELECT p.event_id, s.signup_id, s.signup_value,
                 row_number() OVER (PARTITION BY p.event_id
                   ORDER BY s.ms DESC, s.signup_id DESC,
                            s.signup_value DESC) AS rk
          FROM p JOIN s ON s.user_id = p.user_id AND s.ms <= p.ms)
        SELECT p.event_id, p.user_id,
               b.signup_id AS asof_signup_id,
               round(b.signup_value, 4) AS asof_signup_value
        FROM p LEFT JOIN best b
          ON b.event_id = p.event_id AND b.rk = 1
        ORDER BY p.event_id"""

  /** Gate `stream_hourly_rollup`: the watermarked tumbling-window
    * aggregate (SURVEY 40) run live in COMPLETE mode — the memory
    * sink holds the full aggregate after the last trigger, so no
    * sentinel lifecycle is needed; a bounded replay has no late data
    * for the watermark to drop. Oracle: the batch hourly aggregate.
    */
  def hourlyRollupGate(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    import spark.implicits._
    val (watch, tmp) = watchDirFor(s"$dir/events.parquet")
    val stream = eventsStream(spark, dir, watch)
      .select($"ts", $"event_type", $"value")
    val n = sinkName("hrollup")
    drain(EventStream.hourlyRollup(stream)
      .writeStream.format("memory").queryName(n)
      .outputMode(OutputMode.Complete).start())
    finish(spark, n, spark.table(n).orderBy($"hour", $"event_type"), tmp)
  }

  val hourlyRollupGateSql: String =
    """SELECT date_trunc('hour', ts) AS hour, event_type,
              CAST(count(*) AS BIGINT) AS n_events,
              round(sum(value), 4) AS sum_value
       FROM events GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Gate `stream_sliding_rollup`: the hopping-window aggregate
    * (SURVEY 40b, 3 h windows every 1 h) in complete mode. Oracle:
    * each event fans into the 3 epoch-aligned windows containing it.
    */
  def slidingRollupGate(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    import spark.implicits._
    val (watch, tmp) = watchDirFor(s"$dir/events.parquet")
    val stream = eventsStream(spark, dir, watch)
      .select($"ts", $"value")
    val n = sinkName("srollup")
    drain(EventStream.slidingRollup(stream)
      .writeStream.format("memory").queryName(n)
      .outputMode(OutputMode.Complete).start())
    finish(spark, n, spark.table(n).orderBy($"win_start"), tmp)
  }

  val slidingRollupGateSql: String =
    """WITH ev AS (
         SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h, value
         FROM events),
       fan AS (
         SELECT unnest(generate_series(h - 2, h)) AS ws, value FROM ev)
       SELECT make_timestamp(ws * 3600000000) AS win_start,
              CAST(count(*) AS BIGINT) AS n_events,
              round(sum(value), 4) AS sum_value
       FROM fan GROUP BY 1 ORDER BY 1"""

  /** Gate `stream_sliding_dau`: exact sliding distinct users (SURVEY
    * 41g — chained stateful dedup → windowed count) in APPEND mode:
    * one far-future sentinel file advances the watermark so every
    * real window finalizes and emits exactly once; sentinel-touched
    * windows (all starting ≥ 17 h past the last real event) are cut
    * by the win_start bound. Oracle: the 24-window fan-out +
    * count(DISTINCT).
    */
  def slidingDauGate(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    import spark.implicits._
    val src = s"$dir/events.parquet"
    val watch = Files.createTempDirectory("sdau_stream_gate")
    copyTimeOrdered(spark, src, watch)
    val maxMicros = maxEventMicros(spark, dir)
    val stream = eventsStream(spark, dir, watch.toString,
        maxFilesPerTrigger = Some(1))
      .select($"ts", $"user_id")
    val dau = EventStream.slidingDau(stream)
    val out = Files.createTempDirectory("sdau_out")
    val cp = Files.createTempDirectory("sdau_cp")
    val q = parquetSink(dau, out, cp).start()
    try {
      q.processAllAvailable()
      maxMicros.foreach { mx =>
        addSentinel(spark, src, watch, id = -1L,
          tsMicros = mx + 40L * 3600 * 1000000L)
        q.processAllAvailable()
      }
    } finally q.stop()
    finishFiles(spark, out, dau.schema,
      _.filter($"win_start" <= timestamp_micros(lit(maxMicros.getOrElse(0L))))
        .orderBy($"win_start"),
      Seq(watch, out, cp))
  }

  val slidingDauGateSql: String =
    """WITH ev AS (
         SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h, user_id
         FROM events),
       fan AS (
         SELECT unnest(generate_series(h - 23, h)) AS ws, user_id FROM ev)
       SELECT make_timestamp(ws * 3600000000) AS win_start,
              CAST(count(DISTINCT user_id) AS BIGINT) AS users_24h
       FROM fan GROUP BY 1 ORDER BY 1"""

  /** Gate `stream_sliding_dau_hll`: the SKETCH valve for
    * [[slidingDauGate]] (SURVEY 41g2, r15 verdict item 7) — the ×100
    * receipts name exact windowed distinct as the one stateful gate
    * whose cost tracks distinct users; this gate runs the
    * [[EventStream.slidingDauHll]] two-stage sketch LIVE (hourly
    * `hll_sketch_agg` → window-on-window `hll_union_agg`: per-hour
    * and per-window SKETCHES in state instead of per-(window,user)
    * dedup rows, and no event-grain window fan-out) through the same
    * append-mode + sentinel-finalization lifecycle, then verifies it
    * in-gate against the batch-exact 24-window fan-out computed over
    * the same parquet.
    *
    * Output rides the EXACT count plus a verdict column: `est_ok` is
    * true iff the stream's estimate both EXISTS for the window
    * (emit-once finalization happened) and lands within the
    * published envelope |est − exact| ≤ max(0.12·exact, 2) — ≈7σ for
    * the lgK = 12 sketch (rsd ≈ 1.6%), slack 2 for near-empty
    * windows where the sketch is integer-grained. The DuckDB oracle
    * replays the
    * exact count and asserts `TRUE AS est_ok`, so the gate is
    * hash-exact and ANY missing window or out-of-envelope estimate
    * flips the hash (the lake_wap verdict-column device). The
    * estimate itself is deterministic (HLL hashing is seedless), but
    * only Spark can compute it — hence the envelope verdict, not the
    * raw estimate, is the compared surface.
    */
  def slidingDauHllGate(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    import spark.implicits._
    val src = s"$dir/events.parquet"
    val watch = Files.createTempDirectory("sdauhll_stream_gate")
    copyTimeOrdered(spark, src, watch)
    val maxMicros = maxEventMicros(spark, dir)
    val stream = eventsStream(spark, dir, watch.toString,
        maxFilesPerTrigger = Some(1))
      .select($"ts", $"user_id")
    val est = EventStream.slidingDauHll(stream)
    val out = Files.createTempDirectory("sdauhll_out")
    val cp = Files.createTempDirectory("sdauhll_cp")
    val q = parquetSink(est, out, cp).start()
    try {
      q.processAllAvailable()
      maxMicros.foreach { mx =>
        addSentinel(spark, src, watch, id = -1L,
          tsMicros = mx + 40L * 3600 * 1000000L)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = finishFiles(spark, out, est.schema, identity,
      Seq(watch, out, cp))
    // the in-gate exact twin rides dropDuplicates + count, not
    // countDistinct: the map-side partial dedup collapses the 24×
    // fan-out before the exchange, where countDistinct's expand-based
    // two-phase distinct shuffles the full pair frame (measured 8×
    // slower at ×10 — the gate's own oracle must not dominate the
    // valve it verifies). Additionally reduced to the distinct
    // (hour, user) frame FIRST: cross-hour repeat activity never
    // enters the fan-out.
    val exact = Tables.events(spark, dir)
      .select(floor(unix_micros($"ts") / lit(3600000000L)).cast(LongType)
        .as("h"), $"user_id")
      .dropDuplicates("h", "user_id")
      .select(explode(sequence($"h" - 23, $"h")).as("ws"), $"user_id")
      .dropDuplicates("ws", "user_id")
      .groupBy($"ws")
      .agg(count(lit(1)).as("users_24h"))
      .select(timestamp_micros($"ws" * 3600000000L).as("win_start"),
        $"users_24h")
    exact
      .join(streamed, Seq("win_start"), "left")
      .select($"win_start", $"users_24h",
        ($"users_est".isNotNull &&
          abs($"users_est" - $"users_24h") <=
            greatest($"users_24h" * lit(0.12), lit(2.0))).as("est_ok"))
      .orderBy($"win_start")
      .localCheckpoint(true)
  }

  val slidingDauHllGateSql: String =
    """WITH ev AS (
         SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h, user_id
         FROM events),
       fan AS (
         SELECT unnest(generate_series(h - 23, h)) AS ws, user_id FROM ev)
       SELECT make_timestamp(ws * 3600000000) AS win_start,
              CAST(count(DISTINCT user_id) AS BIGINT) AS users_24h,
              TRUE AS est_ok
       FROM fan GROUP BY 1 ORDER BY 1"""

  /** Gate `stream_sessionize`: the stateful gap sessionizer (SURVEY
    * 41) run live — sessions close on the 30-minute gap inside the
    * batch and the stragglers by event-time TIMEOUT once two
    * sentinel files walk the watermark past them (the asOf
    * lifecycle). The millisecond grain is the stream's own
    * (java.sql.Timestamp.getTime): session bounds and the gap test
    * floor to ms, and the oracle replays exactly that — epoch_us //
    * 1000 arithmetic, ms-floored boundaries re-expanded to µs
    * timestamps.
    */
  def sessionizeGate(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    import spark.implicits._
    val src = s"$dir/events.parquet"
    val watch = Files.createTempDirectory("sess_stream_gate")
    copyTimeOrdered(spark, src, watch)
    val maxMicros = maxEventMicros(spark, dir)
    val stream = eventsStream(spark, dir, watch.toString,
        maxFilesPerTrigger = Some(1))
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[StreamEvent]
    val sessions = EventStream.sessionize(stream).toDF()
    val out = Files.createTempDirectory("sess_out")
    val cp = Files.createTempDirectory("sess_cp")
    val q = parquetSink(sessions, out, cp).start()
    try {
      q.processAllAvailable()
      maxMicros.foreach { mx =>
        addSentinel(spark, src, watch, id = -1L,
          tsMicros = mx + 10L * 3600 * 1000000L)
        q.processAllAvailable()
        addSentinel(spark, src, watch, id = -2L,
          tsMicros = mx + 20L * 3600 * 1000000L)
        q.processAllAvailable()
      }
    } finally q.stop()
    finishFiles(spark, out, sessions.schema,
      _.filter($"user_id" =!= -1L).orderBy($"user_id", $"session_start"),
      Seq(watch, out, cp))
  }

  val sessionizeGateSql: String =
    """WITH e AS (
         SELECT user_id, epoch_us(ts) // 1000 AS ms, value FROM events),
       s AS (
         SELECT user_id, ms, value,
                CASE WHEN lag(ms) OVER w IS NULL
                          OR ms - lag(ms) OVER w > 1800000
                     THEN 1 ELSE 0 END AS brk
         FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
       g AS (
         SELECT user_id, ms, value,
                sum(brk) OVER (PARTITION BY user_id ORDER BY ms
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         FROM s)
       SELECT user_id, make_timestamp(min(ms) * 1000) AS session_start,
              make_timestamp(max(ms) * 1000) AS session_end,
              CAST(count(*) AS BIGINT) AS n_events,
              round(sum(value), 4) AS sum_value
       FROM g GROUP BY user_id, sid ORDER BY user_id, session_start"""

  /** Gate `stream_periodogram`: the live 24 h/168 h rhythm monitor
    * (SURVEY 41i.2 — 2 rows of exact BIGINT accumulator state) in
    * complete mode; oracle is the epoch-anchored DFT, whose phase
    * needs no series start — the property that makes it streamable.
    */
  def periodogramGate(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    import spark.implicits._
    val (watch, tmp) = watchDirFor(s"$dir/events.parquet")
    val stream = eventsStream(spark, dir, watch)
      .select($"ts")
    val n = sinkName("pgram")
    drain(EventStream.periodogram(stream)
      .writeStream.format("memory").queryName(n)
      .outputMode(OutputMode.Complete).start())
    finish(spark, n, spark.table(n).orderBy($"period"), tmp)
  }

  val periodogramGateSql: String =
    graft.operators.Events.periodogramEpochSql

  /** Gate `stream_join_interval`: the stream-stream INNER interval
    * join (SURVEY 41h's inner sibling) — clicks matched to same-user
    * errors within 30 minutes, both sides live file-source streams
    * over the same table. Inner matches emit as they arrive, so one
    * drain completes the bounded replay; the watermarks exist for
    * state eviction, not emission. Oracle: the plain interval join.
    */
  def joinIntervalGate(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    import spark.implicits._
    val (watch, tmp) = watchDirFor(s"$dir/events.parquet")
    def side(t: String) = eventsStream(spark, dir, watch)
      .filter($"event_type" === t)
      .select($"event_id", $"user_id", $"ts")
    val joined = EventStream.streamStreamJoin(side("click"), side("error"))
    val out = Files.createTempDirectory("ssj_out")
    val cp = Files.createTempDirectory("ssj_cp")
    drain(parquetSink(joined, out, cp).start())
    finishFiles(spark, out, joined.schema,
      _.orderBy($"l_id", $"r_id"), tmp ++ Seq(out, cp))
  }

  val joinIntervalGateSql: String =
    """WITH ev AS (SELECT event_id, user_id,
                          date_trunc('microseconds', ts) AS ts, event_type
                   FROM events)
       SELECT l.event_id AS l_id, r.event_id AS r_id, l.user_id,
              l.ts AS l_ts, r.ts AS r_ts
       FROM (SELECT * FROM ev WHERE event_type = 'click') l
       JOIN (SELECT * FROM ev WHERE event_type = 'error') r
         ON r.user_id = l.user_id AND r.ts >= l.ts
            AND r.ts <= l.ts + INTERVAL 30 MINUTE
       ORDER BY l_id, r_id"""

  /** Gate `stream_join_left_outer`: the LEFT OUTER interval join
    * (SURVEY 41h) — the null-padded "click that never errored" rows
    * can only emit once the watermark PROVES no match can arrive, so
    * the sentinel lifecycle walks the watermark past every real
    * click's window; sentinel rows ride both sides (their
    * event_type passes both filters) and are cut by the l_id bound.
    */
  def joinLeftOuterGate(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    import spark.implicits._
    val src = s"$dir/events.parquet"
    val watch = Files.createTempDirectory("ssj_outer_gate")
    copyParquet(Paths.get(src), watch)
    val maxMicros = maxEventMicros(spark, dir)
    def side(t: String) = eventsStream(spark, dir, watch.toString)
      .filter($"event_type".isin(t, "sentinel"))
      .select($"event_id", $"user_id", $"ts")
    val joined = EventStream.streamStreamJoinLeftOuter(
      side("click"), side("error"))
    val out = Files.createTempDirectory("ssjo_out")
    val cp = Files.createTempDirectory("ssjo_cp")
    val q = parquetSink(joined, out, cp).start()
    try {
      q.processAllAvailable()
      maxMicros.foreach { mx =>
        addSentinel(spark, src, watch, id = -1L,
          tsMicros = mx + 10L * 3600 * 1000000L)
        q.processAllAvailable()
        addSentinel(spark, src, watch, id = -2L,
          tsMicros = mx + 20L * 3600 * 1000000L)
        q.processAllAvailable()
      }
    } finally q.stop()
    finishFiles(spark, out, joined.schema,
      _.filter($"l_id" >= 0L).orderBy($"l_id", $"r_id"),
      Seq(watch, out, cp))
  }

  val joinLeftOuterGateSql: String =
    """WITH ev AS (SELECT event_id, user_id,
                          date_trunc('microseconds', ts) AS ts, event_type
                   FROM events)
       SELECT l.event_id AS l_id, r.event_id AS r_id, l.user_id,
              l.ts AS l_ts, r.ts AS r_ts
       FROM (SELECT * FROM ev WHERE event_type = 'click') l
       LEFT JOIN (SELECT * FROM ev WHERE event_type = 'error') r
         ON r.user_id = l.user_id AND r.ts >= l.ts
            AND r.ts <= l.ts + INTERVAL 30 MINUTE
       ORDER BY l_id, r_id"""

  /** Gate `stream_dedup`: [[EventStream.dedupByKey]] (SURVEY 41b,
    * dropDuplicatesWithinWatermark) over the streamed event table —
    * now carrying the FULL payload, not just the key set (r14 verdict
    * item 2). Three things are board-verified per key:
    *
    *  - the distinct key set, exactly (one output row per key — an
    *    extra or missing row breaks the hash);
    *  - the surviving PAYLOAD is a genuine input row of its key
    *    (`payload_ok`): the survivor's full (event_id, ts, user_id,
    *    event_type, value) tuple must exist in the batch table.
    *    WHICH duplicate survives is partition-race nondeterminism by
    *    dropDuplicates' contract, so the deterministic, order-free
    *    claim is MEMBERSHIP — a per-key min over the single emitted
    *    survivor would just re-expose the race;
    *  - a streamed `min(event_id)` per key (`min_event_id`): a second
    *    live streaming aggregation over the same source, update-mode
    *    re-emissions collapsed by the consumer-side min reduce (min
    *    is monotone non-increasing across triggers — the
    *    heavy-hitters gate's device), so the oracle gains a real
    *    min() column that is exact under any micro-batch split.
    */
  def dedupGate(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    import spark.implicits._
    val (watch, tmp) = watchDirFor(s"$dir/events.parquet")
    val stream = eventsStream(spark, dir, watch)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
    val deduped = EventStream
      .dedupByKey(stream, Seq("user_id", "event_type"))
    val out = Files.createTempDirectory("dedup_out")
    val cp = Files.createTempDirectory("dedup_cp")
    drain(parquetSink(deduped, out, cp).start())
    // second live query: per-key min(event_id), stateful streaming
    // aggregation in update mode; consumer-side min collapses
    // re-emissions deterministically
    val n = sinkName("dedupmin")
    drain(eventsStream(spark, dir, watch)
      .select($"user_id", $"event_type", $"event_id")
      .groupBy($"user_id", $"event_type")
      .agg(min($"event_id").as("min_event_id"))
      .writeStream.format("memory").queryName(n)
      .outputMode(OutputMode.Update).start())
    val mins = spark.table(n).groupBy($"user_id", $"event_type")
      .agg(min($"min_event_id").as("min_event_id"))
    val survivors = finishFiles(spark, out, deduped.schema, identity, Nil)
    val batchRows = Tables.events(spark, dir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .withColumn("__in", lit(1L))
    val checked = survivors
      .join(batchRows,
        Seq("event_id", "ts", "user_id", "event_type", "value"), "left")
      .select($"user_id", $"event_type", $"__in".isNotNull.as("payload_ok"))
    finish(spark, n,
      checked.join(mins, Seq("user_id", "event_type"), "left")
        .select($"user_id", $"event_type", $"min_event_id", $"payload_ok")
        .orderBy($"user_id", $"event_type"),
      tmp ++ Seq(out, cp))
  }

  val dedupGateSql: String =
    """SELECT user_id, event_type,
              CAST(min(event_id) AS BIGINT) AS min_event_id,
              TRUE AS payload_ok
       FROM events GROUP BY user_id, event_type
       ORDER BY user_id, event_type"""

  /** Gate `stream_cusum`: the Page (1954) one-sided CUSUM control
    * chart ([[EventStream.cusumControl]], SURVEY 41f) run live. The
    * alarm fold is sequential per series — max(0, s + (x − target −
    * slack)) with reset on crossing — which SQL CAN express as a
    * linear recursive CTE over the (ms, event_id)-ordered event
    * sequence: the working set is one row per series per step, and
    * every arithmetic step (add, max, compare) runs in the same
    * order on both engines, so the emitted s_plus doubles are
    * bit-identical. The stream's millisecond grain
    * (Timestamp.getTime ordering) is replayed by the oracle's
    * epoch_us // 1000 ordering.
    */
  def cusumGate(spark0: SparkSession, dir: String, target: Double = 1.0,
      slack: Double = 0.5, threshold: Double = 25.0): DataFrame = {
    val spark = streamSession(spark0)
    import spark.implicits._
    val (watch, tmp) = watchDirFor(s"$dir/events.parquet")
    val stream = eventsStream(spark, dir, watch)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[StreamEvent]
    val alarms = EventStream
      .cusumControl(stream, target, slack, threshold).toDF()
    val out = Files.createTempDirectory("cusum_out")
    val cp = Files.createTempDirectory("cusum_cp")
    drain(parquetSink(alarms, out, cp).start())
    finishFiles(spark, out, alarms.schema,
      _.orderBy($"event_type", $"event_id"), tmp ++ Seq(out, cp))
  }

  def cusumGateSql(target: Double = 1.0, slack: Double = 0.5,
      threshold: Double = 25.0): String =
    s"""WITH RECURSIVE e AS (
          SELECT event_type AS series, event_id,
                 date_trunc('microseconds', ts) AS ts, value,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY epoch_us(ts) // 1000, event_id) AS rn
          FROM events),
        rec AS (
          SELECT series, CAST(0 AS BIGINT) AS rn,
                 CAST(0.0 AS DOUBLE) AS s
          FROM (SELECT DISTINCT series FROM e) t
          UNION ALL
          SELECT e.series, e.rn,
                 CASE WHEN greatest(CAST(0.0 AS DOUBLE),
                             rec.s + ((e.value - $target) - $slack))
                           > $threshold THEN CAST(0.0 AS DOUBLE)
                      ELSE greatest(CAST(0.0 AS DOUBLE),
                             rec.s + ((e.value - $target) - $slack)) END
          FROM rec JOIN e ON e.series = rec.series AND e.rn = rec.rn + 1),
        alarms AS (
          SELECT e.series AS event_type, e.event_id, e.ts,
                 greatest(CAST(0.0 AS DOUBLE),
                   rec.s + ((e.value - $target) - $slack)) AS s_plus
          FROM rec JOIN e ON e.series = rec.series AND e.rn = rec.rn + 1
          WHERE greatest(CAST(0.0 AS DOUBLE),
                  rec.s + ((e.value - $target) - $slack)) > $threshold)
        SELECT event_type, event_id, ts, s_plus
        FROM alarms ORDER BY event_type, event_id"""

  /** Gate `stream_into_manifest`: the streaming→lakehouse loop
    * (SURVEY 41d) board-verified end-to-end —
    * [[EventStream.intoManifestTable]] lands each micro-batch as ONE
    * atomically-published [[graft.pipeline.ManifestTable]] version
    * (foreachBatch → append with the batch id riding the manifest),
    * and the gate then reads the LIVE table version back and hashes
    * it against the plain batch oracle. The replay is forced
    * multi-batch (`minRanges = 4`, maxFilesPerTrigger = 1) so the
    * per-micro-batch commit path — not a single bulk append — is what
    * the board compares; `multi_commit` rides as a verdict column.
    *
    * The effectively-once contract gets its own receipt: after the
    * stream drains, the gate re-publishes the LIVE batch id (the
    * at-least-once window is a crash between commit and checkpoint,
    * so only the newest batch can legally replay) and asserts the
    * version did not move — `replay_idempotent` on every row.
    */
  def intoManifestGate(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    import spark.implicits._
    val src = s"$dir/events.parquet"
    val watch = Files.createTempDirectory("manifest_stream_gate")
    copyTimeOrdered(spark, src, watch, minRanges = 4)
    val root = Files.createTempDirectory("manifest_stream_tbl")
    val cp = Files.createTempDirectory("manifest_stream_cp")
    val table = new graft.pipeline.ManifestTable(spark,
      root.resolve("t").toString)
    val stream = eventsStream(spark, dir, watch.toString,
        maxFilesPerTrigger = Some(1))
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
    drain(EventStream.intoManifestTable(stream, table, cp.toString).start())
    val result = table.currentVersion match {
      case None => // empty source: nothing committed, empty output
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(stream.schema.fields ++ Seq(
            org.apache.spark.sql.types.StructField("multi_commit",
              org.apache.spark.sql.types.BooleanType),
            org.apache.spark.sql.types.StructField("replay_idempotent",
              org.apache.spark.sql.types.BooleanType))))
      case Some(v) =>
        val replayOk = table.liveBatchId.exists { id =>
          table.append(Tables.events(spark, dir).limit(1)
            .select($"event_id", $"ts", $"user_id", $"event_type", $"value"),
            Some(id))
          table.currentVersion.contains(v)
        }
        table.read()
          .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
          .withColumn("multi_commit", lit(table.history.size >= 2))
          .withColumn("replay_idempotent", lit(replayOk))
          .orderBy($"event_id")
          .localCheckpoint(true)
    }
    Seq(watch, root, cp).foreach(deleteRecursively)
    result
  }

  /** Gate `stream_mv_loop`: the streaming→lakehouse→MV maintenance
    * loop ([[EventStream.intoMaintainedTable]], SURVEY's
    * streaming-lakehouse integration row) run LIVE to completion —
    * the events table replayed as ≥4 time-ordered micro-batches,
    * each landing as an atomic ManifestTable version AND folding
    * into the per-event-type MaterializedAgg inside the same
    * foreachBatch. The gate REQUIREs the loop was genuinely
    * incremental (first refresh "full", every later one "delta" —
    * a loop that silently full-recomputes per batch fails loudly),
    * then hashes the FINAL MV STATE — not the base table — against
    * the plain batch aggregate: maintenance must be invisible to
    * the result. Exact sums ride an integer-cents column derived
    * before commit, so the fold order can't smear doubles.
    */
  def mvLoopGate(spark0: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(spark0)
    import spark.implicits._
    val src = s"$dir/events.parquet"
    val watch = Files.createTempDirectory("mv_loop_gate")
    copyTimeOrdered(spark, src, watch, minRanges = 4)
    val root = Files.createTempDirectory("mv_loop_tbl")
    val cp = Files.createTempDirectory("mv_loop_cp")
    val table = new graft.pipeline.ManifestTable(spark,
      root.resolve("t").toString)
    val mv = new graft.pipeline.MaterializedAgg(table,
      new graft.pipeline.ManifestTable(spark, root.resolve("mv").toString),
      groupCols = Seq("event_type"), sumCols = Seq("cents"))
    val modes = scala.collection.mutable.ArrayBuffer.empty[String]
    val stream = eventsStream(spark, dir, watch.toString,
        maxFilesPerTrigger = Some(1))
      .select($"event_id", $"ts", $"user_id", $"event_type",
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    drain(EventStream.intoMaintainedTable(stream, table, mv, cp.toString,
      modes).start())
    require(modes.nonEmpty, "stream_mv_loop: no micro-batch ever committed")
    require(modes.head == "full",
      s"stream_mv_loop: first refresh must build (got ${modes.head})")
    val later = modes.tail.filterNot(_ == "noop") // empty batches may noop
    require(later.nonEmpty && later.forall(_ == "delta"),
      s"stream_mv_loop: later refreshes must be incremental (got $modes)")
    val result = mv.read()
      .select($"event_type", $"n_rows".as("n_events"),
        $"sum_cents".as("cents_sum"))
      .withColumn("first_full", lit(true))
      .withColumn("incremental_after", lit(true))
      .orderBy($"event_type")
      .localCheckpoint(true)
    Seq(watch, root, cp).foreach(deleteRecursively)
    result
  }

  val mvLoopGateSql: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                AS cents_sum,
              TRUE AS first_full, TRUE AS incremental_after
       FROM events GROUP BY 1 ORDER BY 1"""

  val intoManifestGateSql: String =
    """SELECT event_id, date_trunc('microseconds', ts) AS ts, user_id,
              event_type, value,
              TRUE AS multi_commit, TRUE AS replay_idempotent
       FROM events ORDER BY event_id"""

  /** Rewrite the events table into the watch directory as
    * TIME-ORDERED RANGE files with ascending modification times, so
    * the file source (oldest-first) replays them as a time-ordered
    * micro-batch sequence — the arrival shape a production stream
    * has. With maxFilesPerTrigger = 1 the watermark then advances
    * between batches and stateful operators keep only the in-flight
    * window in state (one giant batch pins the WHOLE table as
    * "in-flight": the watermark is still 0 while it processes, which
    * is exactly the OOM the ×100 receipt run hit). Ranges are
    * time-disjoint, so no row is ever late — the equivalence
    * contract is unchanged (StreamingSpec's chunked-replay cases are
    * the same shape).
    */
  private def copyTimeOrdered(spark: SparkSession, src: String,
      watch: Path, minRanges: Int = 1): Unit = {
    // size-adaptive: the range count exists to bound in-flight STATE,
    // so it tracks bytes — one 32 MB range per step, capped at 32.
    // A table small enough for one range takes the raw-copy fast
    // path (no rewrite, single micro-batch — state fits trivially),
    // so the production-shaped replay costs nothing at test SFs.
    // `minRanges` floors the count for gates whose POINT is the
    // multi-batch lifecycle (one manifest commit per micro-batch).
    //
    // The fast path additionally requires a SINGLE data file: a
    // multi-part directory raw-copied becomes one micro-batch PER
    // PART of hash-partitioned (time-DISORDERED) slices — after the
    // first batch the watermark sits near max(ts), every later part
    // is late, and stateful operators silently drop most rows while
    // paying full per-batch machinery (the ×10 ScaleGen tables are
    // 32-part directories under 32 MB: exactly this trap). Such a
    // source goes through the rewrite below even at ranges = 1,
    // which coalesces it into one time-ordered file.
    val srcPath = Paths.get(src)
    var dataFiles = 0L
    val bytes =
      if (Files.isDirectory(srcPath)) {
        val it = Files.list(srcPath).iterator()
        var b = 0L
        while (it.hasNext) {
          val f = it.next()
          val nm = f.getFileName.toString
          if (!Files.isDirectory(f) && nm.endsWith(".parquet") &&
              !nm.startsWith("_") && !nm.startsWith(".")) {
            b += Files.size(f); dataFiles += 1
          }
        }
        b
      } else { dataFiles = 1; Files.size(srcPath) }
    val ranges = math.min(32L, math.max(math.max(1L, minRanges.toLong),
      (bytes + (32L << 20) - 1) / (32L << 20))).toInt
    if (ranges == 1 && dataFiles <= 1) { copyParquet(srcPath, watch); return }
    val raw = Tables.parquet(spark, src)
    val staging = Files.createTempDirectory("stream_ranges")
    // range partition ids are ascending in ts; part file names are
    // ascending in partition id — rename preserves the order
    raw.repartitionByRange(ranges, org.apache.spark.sql.functions.col("ts"))
      .write.mode("overwrite").parquet(staging.toString)
    val parts = Files.list(staging).iterator()
    val names = scala.collection.mutable.ArrayBuffer.empty[Path]
    while (parts.hasNext) {
      val f = parts.next()
      val nm = f.getFileName.toString
      if (nm.endsWith(".parquet") && !nm.startsWith("_") &&
          !nm.startsWith(".")) names += f
    }
    val base = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 1000L * (names.size + 2))
    names.sortBy(_.getFileName.toString).zipWithIndex.foreach { case (f, i) =>
      val dst = watch.resolve(f"input_$i%05d.parquet")
      Files.move(f, dst, StandardCopyOption.ATOMIC_MOVE)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(
          base.toMillis + i * 1000L))
    }
    deleteRecursively(staging)
  }

  /** Copy a parquet table (single file or directory of part files)
    * into the watch directory.
    */
  private def copyParquet(src: Path, watch: Path): Unit = {
    if (Files.isDirectory(src)) {
      val it = Files.list(src).iterator()
      var i = 0
      while (it.hasNext) {
        val f = it.next()
        val nm = f.getFileName.toString
        if (nm.endsWith(".parquet") && !nm.startsWith("_") &&
            !nm.startsWith(".")) {
          Files.copy(f, watch.resolve(f"input_$i%05d.parquet"),
            StandardCopyOption.REPLACE_EXISTING)
          i += 1
        }
      }
    } else {
      Files.copy(src, watch.resolve("input_00000.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Write a one-row sentinel parquet file, physically matching the
    * source layout (same raw ts type, full column set) so the fixed
    * stream schema reads it; lands atomically via staging + move.
    */
  private def addSentinel(spark: SparkSession, srcPath: String,
      watch: Path, id: Long, tsMicros: Long): Unit = {
    val raw = Tables.parquet(spark, srcPath)
    val tsType = raw.schema("ts").dataType
    val tsCol = tsType match {
      case LongType => lit(tsMicros * 1000L) // raw int64 nanos layout
      case _ => timestamp_micros(lit(tsMicros)).cast(tsType)
    }
    val row = raw.limit(1).select(raw.columns.map {
      case "event_id" => lit(id).as("event_id")
      case "ts" => tsCol.as("ts")
      case "user_id" => lit(-1L).as("user_id")
      case "event_type" => lit("sentinel").as("event_type")
      case "value" => lit(0.0).as("value")
      case other => raw(other)
    }.toSeq: _*)
    val staging = Files.createTempDirectory("asof_sentinel")
    row.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val part = Files.list(staging).iterator()
    var moved = false
    while (part.hasNext && !moved) {
      val f = part.next()
      if (f.getFileName.toString.endsWith(".parquet")) {
        Files.move(f, watch.resolve(s"sentinel_${seq.incrementAndGet()}.parquet"),
          StandardCopyOption.ATOMIC_MOVE)
        moved = true
      }
    }
    require(moved, "sentinel parquet part file not produced")
  }
}
