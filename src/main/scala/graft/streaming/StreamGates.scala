package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}
import org.apache.spark.sql.types.LongType
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Driver-verifiable STREAMING gates (r13 verdict item 3): each gate
  * runs a real Structured Streaming query over the events parquet —
  * file source, micro-batches, watermark/state machinery live — to
  * completion inside the gate function, then returns the sink's
  * contents so the board hashes the STREAM's output against the
  * batch-twin DuckDB oracle. This upgrades the 15 streaming rows below
  * from spec-only equivalence to board-verified equivalence: the
  * stream itself (not just the shared operator code) is in the
  * compared path.
  *
  * Every gate runs through one lifecycle, [[streamGate]]: the child
  * session, one scratch scope for every directory, the watch-directory
  * fill, the run-to-completion with the sentinel walk, the one result
  * checkpoint and the clean-up. A gate body holds only its operator
  * call and its post-filter or sort.
  *
  * Scale notes: the file source reads the same parquet the batch
  * twin reads (pruned columns only); no driver-side collect anywhere
  * — events flow source → stateful operator → sink distributed, so
  * the harness shape is the production shape. Sink names are
  * per-invocation unique (Verify runs gates concurrently).
  */
object StreamGates {

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

  /** The one stream-gate lifecycle: runs `body` on a [[Gate]] over
    * the stream session, takes the single `localCheckpoint(true)` of
    * the frame it returns, and then — also when the body throws —
    * drops the gate's memory-sink views and deletes its scratch scope.
    * The result is checkpointed before anything is released, so the
    * body may return a frame that still reads the sink's files. The
    * checkpoint is the only RDD the lifecycle persists; its blocks
    * live until the caller unpersists them (Bench does, by handle,
    * after each gate) or the returned frame is garbage-collected.
    */
  private def streamGate(spark0: SparkSession, dir: String, tag: String,
      paced: Boolean = false, minRanges: Int = 1)(
      body: Gate => DataFrame): DataFrame = {
    val g = new Gate(streamSession(spark0), dir, tag, paced, minRanges)
    try body(g).localCheckpoint(true) finally g.close()
  }

  /** One gate run's resources. Every directory it touches lives under
    * one scratch scope (a temp directory named after `tag`): the watch
    * directory, sink outputs, checkpoints, manifest roots and the
    * range/sentinel staging. The watch directory is filled on first
    * use, one of two ways: `paced` gates replay [[copyTimeOrdered]]'s
    * time-ordered ranges one file per trigger; the others stream a
    * plain [[copyParquet]] of the events table.
    */
  private final class Gate(val spark: SparkSession, dir: String,
      tag: String, paced: Boolean, minRanges: Int) {
    private val src = s"$dir/events.parquet"
    private val scope = Files.createTempDirectory(tag)
    private val views = scala.collection.mutable.ArrayBuffer.empty[String]

    /** A fresh directory inside the gate's scratch scope. */
    def scratch(name: String): Path = Files.createTempDirectory(scope, name)

    private lazy val watch: Path = {
      val w = scratch("watch")
      if (paced) copyTimeOrdered(spark, src, w, scratch("ranges"), minRanges)
      else copyParquet(Paths.get(src), w)
      w
    }

    /** File-source twin of [[graft.Tables.events]]: a new streaming
      * frame over the watch directory with the same ts normalization,
      * so both physical testdata layouts work. The schema is the
      * source table's, resolved through [[graft.Tables]] once per file
      * set rather than once per gate call.
      */
    def events: DataFrame = {
      val reader = spark.readStream.schema(Tables.eventsRaw(spark, dir).schema)
      Tables.normalizedTs((if (paced) reader.option("maxFilesPerTrigger", "1")
        else reader).parquet(watch.toString))
    }

    /** Max event-time in µs, None on an empty table (the sentinel
      * walk is skipped then — an empty stream's output is empty with
      * the correct sink schema, no watermark walking needed).
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
    lazy val maxMicros: Option[Long] = {
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

    /** Start `writer`, run it until no more input is available, then
      * walk the watermark: for each offset in `sentinelHours`, one
      * far-future sentinel file (id −1, −2, …, `sentinelHours` past
      * [[maxMicros]]) lands in the watch directory and the query
      * drains again, so append-mode output certified by the advanced
      * watermark is flushed. The query is stopped either way.
      */
    def drive(writer: DataStreamWriter[Row],
        sentinelHours: Seq[Long] = Nil): Unit = {
      // the sentinel-domain require fires before the query starts
      val mx = if (sentinelHours.isEmpty) None else maxMicros
      val q = writer.start()
      try {
        q.processAllAvailable()
        for (m <- mx; (h, i) <- sentinelHours.zipWithIndex) {
          addSentinel(id = -1L - i, tsMicros = m + h * 3600L * 1000000L)
          q.processAllAvailable()
        }
      } finally q.stop()
    }

    /** Run `df` to completion ([[drive]]) into the sink its output
      * mode allows, and return the sink's contents, unmaterialized.
      * Append goes to the PRODUCTION sink, a parquet FILE sink
      * (distributed, exactly-once via the checkpoint +
      * _spark_metadata commit log) instead of the memory sink's
      * driver-side collect — at ×100 the enriched-events gate was
      * spending 27× its wall materializing 10 M rows on the driver —
      * read back with the query's schema, so an empty stream reads as
      * an empty frame. Update and Complete go to the memory sink (the
      * file sink takes Append only), whose view pins the collected
      * output on the driver until [[close]] drops it.
      */
    def run(df: DataFrame, mode: OutputMode,
        sentinelHours: Seq[Long] = Nil): DataFrame = {
      val writer = df.writeStream.outputMode(mode)
        .option("checkpointLocation", scratch("cp").toString)
      if (mode == OutputMode.Append) {
        val out = scratch("out").toString
        drive(writer.format("parquet").option("path", out), sentinelHours)
        spark.read.schema(df.schema).parquet(out)
      } else {
        val n = s"sg_${tag}_" +
          java.util.UUID.randomUUID.toString.replace("-", "")
        views += n
        drive(writer.format("memory").queryName(n), sentinelHours)
        spark.table(n)
      }
    }

    /** Write a one-row sentinel parquet file, physically matching the
      * source layout (same raw ts type, full column set) so the fixed
      * stream schema reads it; lands atomically via staging + move.
      */
    private def addSentinel(id: Long, tsMicros: Long): Unit = {
      val raw = Tables.parquet(spark, src)
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
      val staging = scratch("sentinel")
      row.coalesce(1).write.mode("overwrite").parquet(staging.toString)
      val part = Files.list(staging).iterator()
      var moved = false
      while (part.hasNext && !moved) {
        val f = part.next()
        if (f.getFileName.toString.endsWith(".parquet")) {
          Files.move(f, watch.resolve(s"sentinel_${-id}.parquet"),
            StandardCopyOption.ATOMIC_MOVE)
          moved = true
        }
      }
      require(moved, "sentinel parquet part file not produced")
    }

    /** Drop the memory-sink views and delete the scratch scope. Every
      * query is stopped by then ([[drive]]), and the gate's result is
      * checkpointed, so nothing reads these files any more.
      */
    def close(): Unit = {
      views.foreach(spark.catalog.dropTempView)
      val it = Files.walk(scope).sorted(java.util.Comparator.reverseOrder())
        .iterator()
      while (it.hasNext) Files.deleteIfExists(it.next())
    }
  }

  /** Gate `stream_enrich_dim`: [[EventStream.enrichWithDim]] over the
    * streamed fact table against the customer dim (keys ≡ 0 mod 7
    * dropped so the LEFT-join null path is exercised on real data —
    * the StreamingSpec fixture promoted to the board). Stateless, so
    * one drain completes it; the oracle is the plain batch LEFT join.
    */
  def enrichDimGate(spark0: SparkSession, dir: String): DataFrame =
    streamGate(spark0, dir, "enrich_stream_gate") { g =>
      import g.spark.implicits._
      val dim = Tables.customer(g.spark, dir)
        .select($"c_custkey".as("user_id"),
          $"c_mktsegment".as("segment"),
          $"c_nationkey".cast("long").as("nation"))
        .filter($"user_id" % 7 =!= 0)
      val stream = g.events.select($"event_id", $"user_id")
      val enriched = EventStream.enrichWithDim(stream, dim, "user_id")
        .select($"event_id", $"segment", $"nation")
      g.run(enriched, OutputMode.Append).orderBy($"event_id")
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
  def heavyHittersGate(spark0: SparkSession, dir: String): DataFrame =
    streamGate(spark0, dir, "hh_stream_gate") { g =>
      import g.spark.implicits._
      val distinct = Tables.events(g.spark, dir)
        .select($"user_id").distinct().count()
      val stream = g.events
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        .as[StreamEvent]
      g.run(EventStream.heavyHitters(stream, parts = 4,
          m = distinct.toInt + 8).toDF(), OutputMode.Update)
        .groupBy($"user_id")
        .agg(max($"est").as("est"), max($"err").as("err"))
        .orderBy($"user_id")
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
  def asOfGate(spark0: SparkSession, dir: String): DataFrame =
    streamGate(spark0, dir, "asof_stream_gate", paced = true) { g =>
      import g.spark.implicits._
      val stream = g.events
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        .as[StreamEvent]
      // two sentinel batches: the first advances the watermark past
      // every real event, the second triggers the flush of probes
      // the first certified (watermark updates between triggers)
      g.run(EventStream.asOfEnrich(stream).toDF(), OutputMode.Append,
          sentinelHours = Seq(40L, 80L))
        .filter($"user_id" =!= -1L).orderBy($"event_id")
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
  def hourlyRollupGate(spark0: SparkSession, dir: String): DataFrame =
    streamGate(spark0, dir, "hrollup_stream_gate") { g =>
      import g.spark.implicits._
      val stream = g.events.select($"ts", $"event_type", $"value")
      g.run(EventStream.hourlyRollup(stream), OutputMode.Complete)
        .orderBy($"hour", $"event_type")
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
  def slidingRollupGate(spark0: SparkSession, dir: String): DataFrame =
    streamGate(spark0, dir, "srollup_stream_gate") { g =>
      import g.spark.implicits._
      val stream = g.events.select($"ts", $"value")
      g.run(EventStream.slidingRollup(stream), OutputMode.Complete)
        .orderBy($"win_start")
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
  def slidingDauGate(spark0: SparkSession, dir: String): DataFrame =
    streamGate(spark0, dir, "sdau_stream_gate", paced = true) { g =>
      import g.spark.implicits._
      val stream = g.events.select($"ts", $"user_id")
      g.run(EventStream.slidingDau(stream), OutputMode.Append,
          sentinelHours = Seq(40L))
        .filter($"win_start" <=
          timestamp_micros(lit(g.maxMicros.getOrElse(0L))))
        .orderBy($"win_start")
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
  def slidingDauHllGate(spark0: SparkSession, dir: String): DataFrame =
    streamGate(spark0, dir, "sdauhll_stream_gate", paced = true) { g =>
      import g.spark.implicits._
      val stream = g.events.select($"ts", $"user_id")
      val streamed = g.run(EventStream.slidingDauHll(stream),
        OutputMode.Append, sentinelHours = Seq(40L))
      // the in-gate exact twin rides dropDuplicates + count, not
      // countDistinct: the map-side partial dedup collapses the 24×
      // fan-out before the exchange, where countDistinct's expand-based
      // two-phase distinct shuffles the full pair frame (measured 8×
      // slower at ×10 — the gate's own oracle must not dominate the
      // valve it verifies). Additionally reduced to the distinct
      // (hour, user) frame FIRST: cross-hour repeat activity never
      // enters the fan-out.
      val exact = Tables.events(g.spark, dir)
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
  def sessionizeGate(spark0: SparkSession, dir: String): DataFrame =
    streamGate(spark0, dir, "sess_stream_gate", paced = true) { g =>
      import g.spark.implicits._
      val stream = g.events
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        .as[StreamEvent]
      g.run(EventStream.sessionize(stream).toDF(), OutputMode.Append,
          sentinelHours = Seq(10L, 20L))
        .filter($"user_id" =!= -1L).orderBy($"user_id", $"session_start")
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
  def periodogramGate(spark0: SparkSession, dir: String): DataFrame =
    streamGate(spark0, dir, "pgram_stream_gate") { g =>
      import g.spark.implicits._
      g.run(EventStream.periodogram(g.events.select($"ts")),
          OutputMode.Complete)
        .orderBy($"period")
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
  def joinIntervalGate(spark0: SparkSession, dir: String): DataFrame =
    streamGate(spark0, dir, "ssj_stream_gate") { g =>
      import g.spark.implicits._
      def side(t: String) = g.events
        .filter($"event_type" === t)
        .select($"event_id", $"user_id", $"ts")
      g.run(EventStream.streamStreamJoin(side("click"), side("error")),
          OutputMode.Append)
        .orderBy($"l_id", $"r_id")
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
  def joinLeftOuterGate(spark0: SparkSession, dir: String): DataFrame =
    streamGate(spark0, dir, "ssj_outer_gate") { g =>
      import g.spark.implicits._
      def side(t: String) = g.events
        .filter($"event_type".isin(t, "sentinel"))
        .select($"event_id", $"user_id", $"ts")
      g.run(EventStream.streamStreamJoinLeftOuter(side("click"), side("error")),
          OutputMode.Append, sentinelHours = Seq(10L, 20L))
        .filter($"l_id" >= 0L).orderBy($"l_id", $"r_id")
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
  def dedupGate(spark0: SparkSession, dir: String): DataFrame =
    streamGate(spark0, dir, "dedup_stream_gate") { g =>
      import g.spark.implicits._
      val stream = g.events
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      val survivors = g.run(
        EventStream.dedupByKey(stream, Seq("user_id", "event_type")),
        OutputMode.Append)
      // second live query: per-key min(event_id), stateful streaming
      // aggregation in update mode; consumer-side min collapses
      // re-emissions deterministically
      val mins = g.run(g.events
          .select($"user_id", $"event_type", $"event_id")
          .groupBy($"user_id", $"event_type")
          .agg(min($"event_id").as("min_event_id")), OutputMode.Update)
        .groupBy($"user_id", $"event_type")
        .agg(min($"min_event_id").as("min_event_id"))
      val batchRows = Tables.events(g.spark, dir)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        .withColumn("__in", lit(1L))
      survivors
        .join(batchRows,
          Seq("event_id", "ts", "user_id", "event_type", "value"), "left")
        .select($"user_id", $"event_type", $"__in".isNotNull.as("payload_ok"))
        .join(mins, Seq("user_id", "event_type"), "left")
        .select($"user_id", $"event_type", $"min_event_id", $"payload_ok")
        .orderBy($"user_id", $"event_type")
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
  private val CusumTarget = 1.0
  private val CusumSlack = 0.5
  private val CusumThreshold = 25.0

  def cusumGate(spark0: SparkSession, dir: String): DataFrame =
    streamGate(spark0, dir, "cusum_stream_gate") { g =>
      import g.spark.implicits._
      val stream = g.events
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        .as[StreamEvent]
      g.run(EventStream.cusumControl(stream, CusumTarget, CusumSlack,
          CusumThreshold).toDF(), OutputMode.Append)
        .orderBy($"event_type", $"event_id")
    }

  val cusumGateSql: String =
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
                             rec.s + ((e.value - $CusumTarget) - $CusumSlack))
                           > $CusumThreshold THEN CAST(0.0 AS DOUBLE)
                      ELSE greatest(CAST(0.0 AS DOUBLE),
                             rec.s + ((e.value - $CusumTarget) - $CusumSlack)) END
          FROM rec JOIN e ON e.series = rec.series AND e.rn = rec.rn + 1),
        alarms AS (
          SELECT e.series AS event_type, e.event_id, e.ts,
                 greatest(CAST(0.0 AS DOUBLE),
                   rec.s + ((e.value - $CusumTarget) - $CusumSlack)) AS s_plus
          FROM rec JOIN e ON e.series = rec.series AND e.rn = rec.rn + 1
          WHERE greatest(CAST(0.0 AS DOUBLE),
                  rec.s + ((e.value - $CusumTarget) - $CusumSlack)) > $CusumThreshold)
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
  def intoManifestGate(spark0: SparkSession, dir: String): DataFrame =
    streamGate(spark0, dir, "manifest_stream_gate", paced = true,
        minRanges = 4) { g =>
      import g.spark.implicits._
      val table = new graft.pipeline.ManifestTable(g.spark,
        g.scratch("tbl").resolve("t").toString)
      val stream = g.events
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      g.drive(EventStream.intoManifestTable(stream, table,
        g.scratch("cp").toString))
      table.currentVersion match {
        case None => // empty source: nothing committed, empty output
          g.spark.createDataFrame(
            g.spark.sparkContext.emptyRDD[Row],
            org.apache.spark.sql.types.StructType(stream.schema.fields ++ Seq(
              org.apache.spark.sql.types.StructField("multi_commit",
                org.apache.spark.sql.types.BooleanType),
              org.apache.spark.sql.types.StructField("replay_idempotent",
                org.apache.spark.sql.types.BooleanType))))
        case Some(v) =>
          val replayOk = table.liveBatchId.exists { id =>
            table.append(Tables.events(g.spark, dir).limit(1)
              .select($"event_id", $"ts", $"user_id", $"event_type", $"value"),
              Some(id))
            table.currentVersion.contains(v)
          }
          table.read()
            .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
            .withColumn("multi_commit", lit(table.history.size >= 2))
            .withColumn("replay_idempotent", lit(replayOk))
            .orderBy($"event_id")
      }
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
  def mvLoopGate(spark0: SparkSession, dir: String): DataFrame =
    streamGate(spark0, dir, "mv_loop_gate", paced = true, minRanges = 4) { g =>
      import g.spark.implicits._
      val root = g.scratch("tbl")
      val table = new graft.pipeline.ManifestTable(g.spark,
        root.resolve("t").toString)
      val mv = new graft.pipeline.MaterializedAgg(table,
        new graft.pipeline.ManifestTable(g.spark, root.resolve("mv").toString),
        groupCols = Seq("event_type"), sumCols = Seq("cents"))
      val modes = scala.collection.mutable.ArrayBuffer.empty[String]
      val stream = g.events
        .select($"event_id", $"ts", $"user_id", $"event_type",
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      g.drive(EventStream.intoMaintainedTable(stream, table, mv,
        g.scratch("cp").toString, modes))
      require(modes.nonEmpty, "stream_mv_loop: no micro-batch ever committed")
      require(modes.head == "full",
        s"stream_mv_loop: first refresh must build (got ${modes.head})")
      val later = modes.tail.filterNot(_ == "noop") // empty batches may noop
      require(later.nonEmpty && later.forall(_ == "delta"),
        s"stream_mv_loop: later refreshes must be incremental (got $modes)")
      mv.read()
        .select($"event_type", $"n_rows".as("n_events"),
          $"sum_cents".as("cents_sum"))
        .withColumn("first_full", lit(true))
        .withColumn("incremental_after", lit(true))
        .orderBy($"event_type")
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
    * the same shape). `staging`, the rewrite's output directory, is
    * asked for only when the table is rewritten.
    */
  private def copyTimeOrdered(spark: SparkSession, src: String,
      watch: Path, staging: => Path, minRanges: Int): Unit = {
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
    val stage = staging
    // range partition ids are ascending in ts; part file names are
    // ascending in partition id — rename preserves the order
    raw.repartitionByRange(ranges, org.apache.spark.sql.functions.col("ts"))
      .write.mode("overwrite").parquet(stage.toString)
    val parts = Files.list(stage).iterator()
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
}
