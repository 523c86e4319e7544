package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (point-in-time) join — for each left row, the latest right
  * row with the same key and time ≤ the left row's time. Spark has
  * no native operator; the naive formulations are a range self-join
  * (quadratic per key) or a per-left-row subquery (worse). This is
  * the composition that scales: tag both sides, union, one window
  * sorted by (time, side-tag) per key, and `last(_, ignoreNulls)`
  * carries the most recent right payload forward into each left row.
  * Exactly ONE shuffle + sort for the whole operator — the same cost
  * as a plain sort-merge join — and every stage is codegen'd.
  */
object AsOfJoin {

  /** @param left       probe side
    * @param right      reference side (its latest row ≤ t wins)
    * @param keys       equi-key columns present on both sides
    * @param leftTime   event-time column name on `left`
    * @param rightTime  event-time column name on `right`
    * @param payload    right columns to carry (prefixed `asof_`)
    * @return `left` columns + `asof_<payload>` columns (null when no
    *         right row precedes the left row)
    */
  def asOf(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String,
      payload: Seq[String]): DataFrame = {
    val spark = left.sparkSession
    import spark.implicits._
    val leftCols = left.columns.toSeq
    // SQL join semantics: a NULL key or NULL time never matches (the
    // window partition would otherwise group null keys together and
    // hand them each other's payloads)
    val rightNonNull = right.filter(
      (keys :+ rightTime).map(col(_).isNotNull).reduce(_ && _))
    val l = left.withColumn("_t", col(leftTime))
      .withColumn("_side", lit(2))
      .select(Seq(col("_t"), col("_side")) ++ leftCols.map(col) ++
        payload.map(p => lit(null).cast(right.schema(p).dataType).as(s"_p_$p")): _*)
    val r = rightNonNull.withColumn("_t", col(rightTime))
      .withColumn("_side", lit(1))
      .select(Seq(col("_t"), col("_side")) ++ leftCols.map(c =>
        if (keys.contains(c)) col(c) else lit(null).cast(left.schema(c).dataType).as(c)) ++
        payload.map(p => col(p).as(s"_p_$p")): _*)
    // payload columns as the final tie-break: with two right rows at
    // the same (key, t), `last` would otherwise pick by shuffle order
    // — nondeterministic across runs
    val tieBreak = payload.map(p => col(s"_p_$p").asc)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(Seq($"_t".asc, $"_side".asc) ++ tieBreak: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.union(r)
      .select((leftCols.map(col) :+ col("_side")) ++
        payload.map(p => last(col(s"_p_$p"), ignoreNulls = true).over(w)
          .as(s"asof_$p")): _*)
      .filter($"_side" === 2)
      .drop("_side")
  }

  /** Gate query: each non-signup event annotated with the value of
    * that user's most recent signup at-or-before it.
    */
  def eventsAsOfSignup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
    val probes = ev.filter($"event_type" =!= "signup")
    val signups = ev.filter($"event_type" === "signup")
      .select($"user_id", $"ts", $"event_id".as("signup_id"), $"value".as("signup_value"))
    asOf(probes, signups, keys = Seq("user_id"),
      leftTime = "ts", rightTime = "ts",
      payload = Seq("signup_id", "signup_value"))
      .select($"event_id", $"user_id", $"asof_signup_id",
        round($"asof_signup_value", 4).as("asof_signup_value"))
  }

  /** DuckDB oracle uses its native ASOF JOIN. Timestamps are µs on
    * the Spark side (Tables.events truncation) vs ns in the raw
    * parquet — the oracle truncates to µs for identical comparisons.
    */
  val eventsAsOfSignupSql: String =
    """WITH ev AS (SELECT event_id, date_trunc('microseconds', ts) AS ts,
                          user_id, event_type, value FROM events)
       SELECT p.event_id, p.user_id,
              l.signup_id AS asof_signup_id,
              round(l.signup_value, 4) AS asof_signup_value
       FROM (SELECT * FROM ev WHERE event_type <> 'signup') p
       ASOF LEFT JOIN
            (SELECT user_id, ts, event_id AS signup_id, value AS signup_value
             FROM ev WHERE event_type = 'signup') l
         ON p.user_id = l.user_id AND p.ts >= l.ts"""

  /** NEAREST-in-time join: each left row matched to the right row
    * minimizing |t' − t| — backward OR forward, the sensor-fusion /
    * log-alignment shape plain (backward-only) as-of can't express.
    * Composed from TWO as-of passes — the backward one as-is, the
    * forward one on NEGATED µs (latest −t' ≤ −t ⇔ earliest t' ≥ t) —
    * then a per-row argmin on (|Δ|, Δ): ties at equal distance take
    * the BACKWARD candidate (the "already happened" default),
    * deterministically. Cost: two single-shuffle as-of passes + the
    * id-keyed recombination join; still never an interval or
    * nested-loop join.
    *
    * Gate: each error event → signed µs offset to that user's nearest
    * click (events with no click drop — inner semantics). The offset
    * is payload-free, so equal-time payload tie-breaks can't surface
    * in the result.
    */
  def nearestClickOffset(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"event_id", $"user_id", expr("unix_micros(ts)").as("tus"),
        $"event_type")
    val probes = ev.filter($"event_type" === "error")
      .select($"event_id", $"user_id", $"tus")
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"tus".as("ctus"))
    val back = asOf(probes, clicks, Seq("user_id"), "tus", "ctus",
        payload = Seq("ctus"))
      .select($"event_id".as("b_id"), ($"asof_ctus" - $"tus").as("db"))
    val fwd = asOf(probes.withColumn("ntus", -$"tus"),
        clicks.withColumn("ntus", -$"ctus"), Seq("user_id"), "ntus", "ntus",
        payload = Seq("ctus"))
      .select($"event_id".as("f_id"), ($"asof_ctus" - $"tus").as("df"))
    probes
      .join(back, $"event_id" === $"b_id", "left")
      .join(fwd, $"event_id" === $"f_id", "left")
      .withColumn("delta_us",
        when($"db".isNull, $"df")
          .when($"df".isNull, $"db")
          .when(abs($"db") <= abs($"df"), $"db")
          .otherwise($"df"))
      .filter($"delta_us".isNotNull)
      .select($"event_id", $"user_id", $"delta_us")
      .orderBy($"event_id")
  }

  /** Oracle: brute candidate join + argmin on (|Δ|, Δ) — the
    * backward-preference tie is the ascending Δ at equal |Δ|.
    */
  val nearestClickOffsetSql: String =
    """WITH ev AS (
         SELECT event_id, user_id,
                epoch_us(date_trunc('microseconds', ts)) AS tus, event_type
         FROM events),
       p AS (SELECT event_id, user_id, tus FROM ev
             WHERE event_type = 'error'),
       c AS (SELECT user_id, tus AS ctus FROM ev
             WHERE event_type = 'click'),
       cand AS (
         SELECT p.event_id, p.user_id, c.ctus - p.tus AS d,
                row_number() OVER (PARTITION BY p.event_id
                  ORDER BY abs(c.ctus - p.tus), c.ctus - p.tus) AS rk
         FROM p JOIN c ON c.user_id = p.user_id)
       SELECT event_id, user_id, CAST(d AS BIGINT) AS delta_us
       FROM cand WHERE rk = 1 ORDER BY event_id"""

  /** Temporal (point-in-time) SCD2 dimension join — every fact row
    * enriched with the dimension version VALID AT ITS EVENT TIME, the
    * correctness property batch reprocessing loses the moment anyone
    * joins facts to a dimension's current state. The SCD2 dim here is
    * derived deterministically from the corpus (per user, v1 before
    * the midpoint of their activity span, v2 from it on), and the
    * join is the general device, not a 2-version shortcut: the as-of
    * composition on `valid_from` picks the latest version starting
    * ≤ t in ONE shuffle (never an interval-containment range join),
    * and `valid_to` rides as payload so the gate AUDITS containment —
    * `n_invalid` counts rows whose matched version had expired, which
    * a well-formed SCD must hold at zero, and the oracle computes the
    * same audit from its interval join.
    */
  def temporalScdJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"event_id", $"user_id", expr("unix_micros(ts)").as("tus"))
    val mids = ev.groupBy($"user_id")
      .agg(expr("(min(tus) + max(tus)) div 2").as("mid"))
    val dim = mids.select($"user_id", lit(Long.MinValue).as("vf"),
        $"mid".as("vt"), lit("v1").as("dim_version"))
      .unionByName(mids.select($"user_id", $"mid".as("vf"),
        lit(Long.MaxValue).as("vt"), lit("v2").as("dim_version")))
    asOf(ev, dim, keys = Seq("user_id"), leftTime = "tus", rightTime = "vf",
        payload = Seq("dim_version", "vt"))
      .groupBy($"asof_dim_version".as("dim_version"))
      .agg(count(lit(1)).as("n_events"),
        sum($"event_id").as("id_sum"),
        sum(when($"tus" >= $"asof_vt", 1L).otherwise(0L)).as("n_invalid"))
      .orderBy($"dim_version")
  }

  /** Oracle: the interval-containment spelling of the same join —
    * exactly one dim version contains each fact time, so as-of-latest
    * ≡ containment, and the audit column is computed the same way.
    */
  val temporalScdJoinSql: String =
    """WITH ev AS (
         SELECT event_id, user_id,
                epoch_us(date_trunc('microseconds', ts)) AS tus
         FROM events),
       mids AS (
         SELECT user_id, (min(tus) + max(tus)) // 2 AS mid
         FROM ev GROUP BY 1),
       dim AS (
         SELECT user_id, -9223372036854775808 AS vf, mid AS vt,
                'v1' AS dim_version FROM mids
         UNION ALL
         SELECT user_id, mid, 9223372036854775807, 'v2' FROM mids),
       j AS (
         SELECT e.event_id, e.tus, d.dim_version, d.vt
         FROM ev e JOIN dim d
           ON d.user_id = e.user_id AND d.vf <= e.tus AND e.tus < d.vt)
       SELECT dim_version, CAST(count(*) AS BIGINT) AS n_events,
              CAST(sum(event_id) AS BIGINT) AS id_sum,
              CAST(sum(CASE WHEN tus >= vt THEN 1 ELSE 0 END) AS BIGINT)
                AS n_invalid
       FROM j GROUP BY 1 ORDER BY 1"""
}
