package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One event on the stream — mirrors the `events` table schema
  * (`props` omitted: stateful ops only need the typed core).
  */
case class StreamEvent(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** Open-session accumulator carried in flatMapGroupsWithState. */
case class OpenSession(start: Long, last: Long, n: Long, sum: Double)

/** A closed session emitted downstream. */
case class SessionOut(user_id: Long, session_start: Timestamp,
    session_end: Timestamp, n_events: Long, sum_value: Double)

/** A CUSUM control-chart alarm: the event that tripped the
  * statistic, with the statistic's value at the crossing.
  */
/** One heavy-hitter candidate from a partition sketch: estimated
  * count and its maximum overestimate (the SpaceSaving error bound).
  */
case class HitterEstimate(part: Int, user_id: Long, est: Long, err: Long)

case class CusumAlarm(event_type: String, event_id: Long, ts: Timestamp,
    s_plus: Double)

/** Streaming as-of state: the newest reference at-or-below the last
  * flush point (`floor`), references still above it, and probes
  * waiting for the watermark to certify no earlier reference can
  * arrive.
  */
case class AsofRef(ts: Long, id: Long, value: Double)
case class AsofPending(event_id: Long, ts: Long)
case class AsofEnrichState(floor: Option[AsofRef], refs: List[AsofRef],
    pending: List[AsofPending])

/** One enriched probe: the latest same-key reference at-or-before its
  * event time (None = no reference preceded it).
  */
case class AsofOut(event_id: Long, user_id: Long,
    asof_signup_id: Option[Long], asof_signup_value: Option[Double])

/** #40/#41 Structured Streaming operators. Both take an *unbounded*
  * input DataFrame/Dataset (from readStream / MemoryStream) and
  * return a streaming result — the streaming mirror of the batch
  * operators in graft.operators.Events, sharing their column names
  * so batch/stream equivalence is assertable in specs.
  *
  * Scale: state is per-key and bounded — windowed agg state is
  * dropped once the watermark passes window end, session state holds
  * ONE open session per user and is reaped by event-time timeout.
  * Shuffle is the single groupBy on the key, same as batch.
  */
object EventStream {

  /** #40 watermarked tumbling-window rollup: (hour, event_type) →
    * count/sum. Late rows beyond `watermark` are dropped; in append
    * mode a window only emits once finalized, so downstream sinks see
    * each (hour, event_type) exactly once.
    */
  def hourlyRollup(events: DataFrame, watermark: String = "2 hours"): DataFrame = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        round(sum($"value"), 4).as("sum_value"))
      .select($"window.start".as("hour"), $"event_type", $"n_events",
        $"sum_value")
  }

  /** #40b watermarked SLIDING (hopping) window rollup — the streaming
    * mirror of [[graft.operators.Events.slidingRollup]]'s 3h/1h
    * shape. Each event updates the 3 windows containing it (map-side
    * replication, exactly as in batch); state per window drops once
    * the watermark passes the window END, so at any moment ≤
    * len/slide + watermark/slide window states exist per grouping —
    * bounded regardless of stream length. Distinct-user counting is
    * not available under streaming aggregation rules, so the
    * streaming mirror carries (count, sum) — the batch gate keeps
    * the exact distinct.
    */
  def slidingRollup(events: DataFrame, watermark: String = "2 hours"): DataFrame = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupBy(window($"ts", "3 hours", "1 hour"))
      .agg(count(lit(1)).as("n_events"),
        round(sum($"value"), 4).as("sum_value"))
      .select($"window.start".as("win_start"), $"n_events", $"sum_value")
  }

  /** #41 stateful gap sessionization: a session closes when
    * `gapMinutes` pass with no event (emitted by the event-time
    * timeout once the watermark crosses last+gap) — streaming mirror
    * of Events.sessionize.
    */
  def sessionize(events: Dataset[StreamEvent], gapMinutes: Int = 30,
      watermark: String = "1 hour"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, batch: Iterator[StreamEvent], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(out(user, s))
          } else {
            val closed = Seq.newBuilder[SessionOut]
            var open = state.getOption
            batch.toSeq.sortBy(_.ts.getTime).foreach { e =>
              val t = e.ts.getTime
              open match {
                case Some(s) if t - s.last <= gapMs =>
                  // max: a late straggler must not move the session
                  // end (and thus the timeout) backwards
                  open = Some(OpenSession(s.start, math.max(s.last, t),
                    s.n + 1, s.sum + e.value))
                case Some(s) =>
                  closed += out(user, s)
                  open = Some(OpenSession(t, t, 1, e.value))
                case None =>
                  open = Some(OpenSession(t, t, 1, e.value))
              }
            }
            open.foreach { s =>
              state.update(s)
              // clamp: setTimeoutTimestamp throws if the target is
              // not beyond the current watermark, which a late-event
              // session (flatMapGroupsWithState does NOT drop late
              // rows) would otherwise hit and kill the query
              val wm = state.getCurrentWatermarkMs()
              state.setTimeoutTimestamp(math.max(s.last + gapMs, wm + 1))
            }
            closed.result().iterator
          }
      }
  }

  private def out(user: Long, s: OpenSession): SessionOut =
    SessionOut(user, new Timestamp(s.start), new Timestamp(s.last), s.n,
      math.rint(s.sum * 10000) / 10000)

  /** Stream-stream inner join with a time-bound: each left event
    * matched to right events for the same user within
    * [left.ts, left.ts + window]. Both sides carry watermarks and the
    * join condition bounds event-time distance, so each side's join
    * state is evicted once the watermark clears its window — the
    * combination Structured Streaming requires for state not to grow
    * forever on an unbounded join.
    */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
      windowMinutes: Int = 30, watermark: String = "1 hour"): DataFrame = {
    import left.sparkSession.implicits._
    val l = left.withWatermark("ts", watermark)
      .select($"event_id".as("l_id"), $"user_id", $"ts".as("l_ts"))
    val r = right.withWatermark("ts", watermark)
      .select($"event_id".as("r_id"), $"user_id".as("r_user"), $"ts".as("r_ts"))
    l.join(r,
      $"user_id" === $"r_user" &&
        $"r_ts" >= $"l_ts" &&
        $"r_ts" <= $"l_ts" + expr(s"INTERVAL $windowMinutes MINUTES"))
      .select($"l_id", $"r_id", $"user_id", $"l_ts", $"r_ts")
  }

  /** Stream-stream LEFT OUTER interval join: same key + time-bound
    * condition as [[streamStreamJoin]], but a left event with NO
    * in-window right match is still emitted (null right columns) —
    * and only once the watermark has passed its window end, when the
    * engine can PROVE no match can arrive (Structured Streaming's
    * outer-join null emission is watermark-driven, which is why both
    * the watermarks and the time-bound are mandatory here, not just
    * state hygiene). The "did this signup get an error within 30
    * minutes — including the happy path that got none" shape that an
    * inner join cannot express on a stream.
    */
  def streamStreamJoinLeftOuter(left: DataFrame, right: DataFrame,
      windowMinutes: Int = 30, watermark: String = "1 hour"): DataFrame = {
    import left.sparkSession.implicits._
    val l = left.withWatermark("ts", watermark)
      .select($"event_id".as("l_id"), $"user_id", $"ts".as("l_ts"))
    val r = right.withWatermark("ts", watermark)
      .select($"event_id".as("r_id"), $"user_id".as("r_user"), $"ts".as("r_ts"))
    l.join(r,
      $"user_id" === $"r_user" &&
        $"r_ts" >= $"l_ts" &&
        $"r_ts" <= $"l_ts" + expr(s"INTERVAL $windowMinutes MINUTES"),
      "left_outer")
      .select($"l_id", $"r_id", $"user_id", $"l_ts", $"r_ts")
  }

  /** Stream-static dimension enrichment: the streaming fact side
    * LEFT-joined to a batch dimension table. Stateless by
    * construction — Structured Streaming re-plans the static side
    * each micro-batch (a dim UPDATE is visible from the next batch
    * on) and no watermark or join state is kept, unlike the
    * stream-stream case above. `broadcastDim` (default) ships the dim
    * to every task — right for catalog-sized dims; pass false for a
    * dim too large to broadcast and the micro-batch runs a shuffle
    * join instead. LEFT join keeps facts with no dim row (nulls), so
    * enrichment never drops events.
    */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
      joinKey: String, broadcastDim: Boolean = true): DataFrame = {
    val d = if (broadcastDim) org.apache.spark.sql.functions.broadcast(dim)
            else dim
    stream.join(d, Seq(joinKey), "left")
  }

  /** Streaming exact dedup on an arbitrary key (e.g. a document
    * fingerprint): first occurrence passes, replays within the
    * watermark horizon are dropped, and — the part a naive
    * `dropDuplicates` gets wrong on an unbounded stream — state for
    * keys older than the watermark is evicted instead of growing
    * forever.
    */
  /** Stream into a [[graft.pipeline.ManifestTable]]: each micro-batch
    * lands as ONE new segment and commits as one atomically-published
    * version (the manifest lists previous segments + the new one), so
    * downstream batch readers always see a complete, consistent
    * snapshot — never a partially-written directory, which is exactly
    * what a raw `writeStream.parquet` sink cannot promise mid-batch.
    * Per-batch cost is O(batch) regardless of table size; fold the
    * accumulated small segments down periodically with
    * `table.compact()` + `vacuum()`.
    *
    * The batch id rides in the committed manifest, so a foreachBatch
    * replay of an already-published batch (crash between commit and
    * checkpoint — the at-least-once window) is detected and skipped:
    * effectively-once publishing without any external state.
    */
  def intoManifestTable(stream: DataFrame, table: graft.pipeline.ManifestTable,
      checkpointDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        table.append(batch, Some(batchId))
        ()
      }

  /** The full streaming→lakehouse maintenance loop (SURVEY's
    * streaming-lakehouse integration row): each micro-batch lands as
    * one atomic [[graft.pipeline.ManifestTable]] version (same
    * effectively-once batch-id contract as [[intoManifestTable]])
    * and the downstream [[graft.pipeline.MaterializedAgg]] is
    * refreshed IN the same foreachBatch — full build on the first
    * batch, O(|batch| + |groups|) delta folds after, so consumers
    * of the MV state read a fresh-as-of-last-batch aggregate without
    * ever scanning the accumulating base table. The refresh modes
    * taken are appended to `modes` so callers (gates, ops tooling)
    * can assert the loop really ran incrementally rather than
    * recomputing per batch.
    */
  def intoMaintainedTable(stream: DataFrame,
      table: graft.pipeline.ManifestTable,
      mv: graft.pipeline.MaterializedAgg, checkpointDir: String,
      modes: scala.collection.mutable.Buffer[String]): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        table.append(batch, Some(batchId))
        modes += mv.refresh()
        ()
      }

  def dedupByKey(events: DataFrame, keyCols: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** #41g sliding distinct users — the streaming mirror of
    * [[graft.operators.Events.slidingDau]] (24h windows every hour).
    * Exact distinct rides CHAINED stateful operators: each event
    * fans map-side into its 24 windows, dropDuplicates on
    * (window, user) keeps the first occurrence per window (the window
    * column inherits event-time semantics from the watermarked ts, so
    * dedup state evicts once the watermark passes the window end),
    * and the downstream count is then a plain windowed aggregation —
    * the same two-phase "reduce to the pair frame, then count" shape
    * as the batch operator, state bounded by live (window, user)
    * pairs inside the watermark horizon. Append mode: a window's
    * count emits exactly once, when the watermark finalizes it.
    */
  def slidingDau(events: DataFrame, watermark: String = "2 hours"): DataFrame = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .select(window($"ts", "24 hours", "1 hour").as("w"), $"user_id")
      .dropDuplicates("w", "user_id")
      .groupBy($"w")
      .agg(count(lit(1)).as("users_24h"))
      .select($"w.start".as("win_start"), $"users_24h")
  }

  /** The SKETCH valve for [[slidingDau]] — the ×100 receipts name
    * exact windowed distinct as the one stateful gate whose cost
    * tracks distinct users (state = live (window, user) pairs; at
    * 10⁸ DAU that is 24×10⁸ dedup rows per horizon, and the 18.5×
    * ×100 wall). Two chained windowed aggregations (SPARK-40925
    * window-on-window, append mode):
    *
    *  1. tumbling 1 h → one DataSketches HLL sketch per hour
    *     (`hll_sketch_agg`). Every event is touched ONCE — no window
    *     fan-out at event grain (the single-stage spelling expands
    *     each event into its 24 windows BEFORE the aggregate: 24×
    *     the rows through the exchange, which is where the exact
    *     gate's ×100 wall lives);
    *  2. sliding 24 h / 1 h over the HOURLY SKETCHES
    *     (`hll_union_agg` — HLL registers are max-merge, so union of
    *     hourly sketches ≡ the sketch of the union): the 24× fan-out
    *     now multiplies ~one row per hour, not per event.
    *
    * State: one ~2^lgK-register sketch per live hour + per live
    * window — O(live windows), independent of cardinality, where
    * exact dedup state is O(distinct (window, user) pairs): ~200 KB
    * vs gigabytes at 10⁸ DAU. Emit-once append semantics preserved:
    * an hourly sketch finalizes when the watermark passes its hour;
    * a window's estimate finalizes when the watermark passes its
    * end. The estimate is deterministic (seedless hashing,
    * order-insensitive max-merge registers).
    */
  def slidingDauHll(events: DataFrame, watermark: String = "2 hours",
      lgK: Int = 12): DataFrame = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupBy(window($"ts", "1 hour").as("hw"))
      .agg(hll_sketch_agg($"user_id", lit(lgK)).as("sk"))
      .groupBy(window($"hw", "24 hours", "1 hour").as("w"))
      .agg(hll_sketch_estimate(hll_union_agg($"sk", lit(true)))
        .as("users_est"))
      .select($"w.start".as("win_start"), $"users_est")
  }

  /** Streaming one-sided CUSUM control chart, per series
    * (event_type): the standard Page (1954) recursion
    * S⁺ ← max(0, S⁺ + (x − target − slack)) with an alarm emitted —
    * and the statistic reset — when S⁺ crosses `threshold`. This is
    * the true STREAMING complement of the batch retrospective scan
    * (operators/Events.cusumHours): that one needs the whole series
    * to center on the grand mean; the control chart needs a known
    * reference `target` and carries O(1) state per series — a single
    * double, regardless of stream length. Events are applied in
    * (ts, event_id) order within each micro-batch; cross-batch
    * order is the source's arrival order, as for any control chart
    * fed by a log.
    */
  /** Streaming heavy hitters (top user_ids by event count) via
    * per-partition SpaceSaving sketches (Metwally et al. 2005) held
    * in keyed state: the stream is salted into `parts` hash groups,
    * each group folds its events into an m-counter sketch — when a
    * new key arrives at a full sketch it REPLACES the minimum
    * counter (deterministic tie-break: smallest key), inheriting its
    * count as the overestimate bound `err` — and each trigger emits
    * the group's current estimates (update-mode semantics: latest
    * row per (part, user) wins). State is O(parts · m) FOREVER —
    * the whole point next to exact streaming counts, whose state
    * grows with distinct users. The classic guarantees hold per
    * sketch: est ≥ true count, est − err ≤ true count, and any key
    * with true count > N_group/m is present. Merging the per-part
    * sketches is the consumer's reduce (same-key hash routing means
    * a user lives in exactly ONE sketch, so no cross-part merge
    * error); with m ≥ distinct-keys-per-part the sketch is EXACT —
    * the spec's equivalence device, mirroring the batch
    * vocabularyApprox contract.
    */
  def heavyHitters(events: Dataset[StreamEvent], parts: Int,
      m: Int): Dataset[HitterEstimate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (math.floorMod(e.user_id.hashCode, parts)))
      .flatMapGroupsWithState[Map[Long, (Long, Long)], HitterEstimate](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (part: Int, batch: Iterator[StreamEvent],
            state: GroupState[Map[Long, (Long, Long)]]) =>
          var sk = state.getOption.getOrElse(Map.empty[Long, (Long, Long)])
          batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            sk.get(e.user_id) match {
              case Some((est, err)) => sk += e.user_id -> (est + 1, err)
              case None if sk.size < m => sk += e.user_id -> (1L, 0L)
              case None =>
                val (mk, (mEst, _)) = sk.minBy { case (k, (est, _)) => (est, k) }
                sk -= mk
                sk += e.user_id -> (mEst + 1, mEst)
            }
          }
          state.update(sk)
          sk.iterator.map { case (u, (est, err)) =>
            HitterEstimate(part, u, est, err)
          }.toSeq.sortBy(h => (h.part, h.user_id)).iterator
      }
  }

  /** #41i.2 streaming single-frequency periodogram — the DFT power
    * accumulator at the 24 h/168 h calendar periods as a LIVE
    * rhythm monitor (a service losing its daily cycle is an
    * incident signal the volume alarms miss). The batch operator's
    * epoch-anchored form ([[graft.operators.Events
    * .periodogramEpochOf]]) is already a single aggregation over
    * per-event basis lookups, so the streaming op IS that function
    * on the unbounded frame: per event one broadcast basis lookup,
    * then one global groupBy(period) — state is exactly 2 rows of
    * (n, Σcos, Σsin) regardless of stream length. Complete output
    * mode; exact BIGINT accumulators, so incremental merge order
    * cannot drift from the batch fold (StreamingSpec proves
    * two-batch incremental ≡ batch on the real event table).
    */
  def periodogram(events: DataFrame): DataFrame =
    graft.operators.Events.periodogramEpochOf(events)

  def cusumControl(events: Dataset[StreamEvent], target: Double,
      slack: Double, threshold: Double): Dataset[CusumAlarm] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[Double, CusumAlarm](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (series: String, batch: Iterator[StreamEvent], state: GroupState[Double]) =>
          var s = state.getOption.getOrElse(0.0)
          val alarms = Seq.newBuilder[CusumAlarm]
          batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            s = math.max(0.0, s + (e.value - target - slack))
            if (s > threshold) {
              alarms += CusumAlarm(series, e.event_id, e.ts, s)
              s = 0.0
            }
          }
          state.update(s)
          alarms.result().iterator
      }
  }

  /** #41h streaming as-of enrichment — the streaming twin of
    * [[graft.operators.AsOfJoin.asOf]]: each probe event is matched
    * to the latest same-user `signup` at-or-before its event time.
    * Correctness
    * under out-of-order arrival comes from the WATERMARK: a probe is
    * held in state until the watermark passes its event time — at
    * that point any still-missing earlier reference would be
    * late-beyond-watermark, so the match is final. References at or
    * below the watermark collapse into ONE floor row per key, so
    * state is bounded by the in-flight window (floor + refs/probes
    * above the watermark), the same per-key O(window) contract as
    * the sessionizer. Ties at equal (key, ts) resolve to the max
    * (id, value) reference — the batch operator's payload-ascending
    * last-wins tie-break, exactly.
    */
  def asOfEnrich(events: Dataset[StreamEvent],
      watermark: String = "2 hours"): Dataset[AsofOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsofEnrichState, AsofOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, batch: Iterator[StreamEvent],
            state: GroupState[AsofEnrichState]) =>
          var st = state.getOption
            .getOrElse(AsofEnrichState(None, Nil, Nil))
          if (!state.hasTimedOut) {
            batch.foreach { e =>
              if (e.event_type == "signup")
                st = st.copy(refs =
                  AsofRef(e.ts.getTime, e.event_id, e.value) :: st.refs)
              else
                st = st.copy(pending =
                  AsofPending(e.event_id, e.ts.getTime) :: st.pending)
            }
          }
          val wm = state.getCurrentWatermarkMs()
          val ordered = st.refs.sortBy(r => (r.ts, r.id, r.value))
          val (flush, hold) = st.pending.partition(_.ts <= wm)
          val out = flush.sortBy(p => (p.ts, p.event_id)).map { p =>
            val cand = (st.floor.toList ++ ordered.takeWhile(_.ts <= p.ts))
              .filter(_.ts <= p.ts)
            val best = cand.sortBy(r => (r.ts, r.id, r.value)).lastOption
            AsofOut(p.event_id, user,
              best.map(_.id), best.map(r => math.rint(r.value * 10000) / 10000))
          }
          // collapse refs at-or-below the watermark into the floor
          val (below, above) = ordered.partition(_.ts <= wm)
          val newFloor = (st.floor.toList ++ below)
            .sortBy(r => (r.ts, r.id, r.value)).lastOption
          st = AsofEnrichState(newFloor, above, hold)
          if (st.floor.isEmpty && st.refs.isEmpty && st.pending.isEmpty) {
            state.remove()
          } else {
            state.update(st)
            // wake up when the watermark passes the oldest pending
            // probe; clamp above the current watermark (required by
            // setTimeoutTimestamp)
            if (st.pending.nonEmpty)
              state.setTimeoutTimestamp(
                math.max(st.pending.map(_.ts).min, wm + 1))
          }
          out.iterator
      }
  }

}
