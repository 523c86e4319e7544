package graft

import java.sql.Timestamp

import graft.operators.AsOfJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.expr

class AsOfJoinSpec extends SparkSpec {

  private def ts(m: Long) = new Timestamp(1704067200000L + m * 60000L)

  /** asOf over left (id, k, t) and right (k, rt, v), as (id, asof_v)
    * sorted by id.
    */
  private def asOfV(left: DataFrame, right: DataFrame): Seq[(Long, Option[Long])] =
    AsOfJoin.asOf(left, right, Seq("k"), "t", "rt", Seq("v"))
      .orderBy("id").collect().toSeq.map(x =>
        (x.getLong(0), if (x.isNullAt(3)) None else Some(x.getLong(3))))

  /** Independent reference: for each left (id, key, t), the payload of
    * the right row with equal key and the greatest rt ≤ t, ties on rt
    * broken by the greatest payload; a null key or time never matches.
    */
  private def reference[P](left: Seq[(Long, Option[Long], Option[Long])],
      right: Seq[(Option[Long], Option[Long], P)])(
      implicit ord: Ordering[P]): Map[Long, Option[P]] =
    left.map { case (id, k, t) =>
      var best: Option[(Long, P)] = None
      for ((rk, rt, v) <- right)
        if (k.isDefined && t.isDefined && rk == k && rt.exists(_ <= t.get) &&
            best.forall { case (bt, bv) =>
              rt.get > bt || (rt.get == bt && ord.gt(v, bv)) })
          best = Some((rt.get, v))
      id -> best.map(_._2)
    }.toMap

  test("as-of on crafted edge shapes: ties, misses, unprobed keys") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, 100L),  // match at equal time
      (2L, 10L, 150L),  // latest of several
      (3L, 10L, 99L),   // before any right row -> null
      (4L, 20L, 500L),  // key with no right rows -> null
      (5L, 30L, 300L),  // tie: two right rows same (k, rt)
      (6L, 40L, 1L)     // right side has keys the left never probes
    ).toDF("id", "k", "t")
    val right = Seq(
      (10L, 100L, 11L), (10L, 120L, 12L), (10L, 140L, 13L),
      (30L, 300L, 31L), (30L, 300L, 32L), // same time: greatest payload
      (35L, 1L, 99L),                     // unprobed key
      (40L, 5L, 41L)                      // after left's t=1 -> null
    ).toDF("k", "rt", "v")
    assert(asOfV(left, right) == Seq(1L -> Some(11L), 2L -> Some(13L),
      3L -> None, 4L -> None, 5L -> Some(32L), 6L -> None))
  }

  test("as-of: null keys and null times never match, on either side") {
    import spark.implicits._
    val left = Seq(
      (1L, Some(10L), Some(100L)), (2L, None, Some(100L)),
      (3L, Some(10L), None)
    ).toDF("id", "k", "t")
    val right = Seq(
      (Some(10L), Some(50L), 1L), (None, Some(40L), 2L),
      (Some(10L), None, 3L)
    ).toDF("k", "rt", "v")
    assert(asOfV(left, right) ==
      Seq(1L -> Some(1L), 2L -> None, 3L -> None))
  }

  test("as-of ≡ reference on a randomized 500×300 stream") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val l = (1 to 500).map(i =>
      (i.toLong, rnd.nextInt(12).toLong, rnd.nextInt(1000).toLong))
    val r = (1 to 300).map(i =>
      (rnd.nextInt(16).toLong, rnd.nextInt(1000).toLong, i.toLong))
    val got = asOfV(l.toDF("id", "k", "t").repartition(7),
      r.toDF("k", "rt", "v").repartition(5))
    val want = reference(l.map { case (id, k, t) => (id, Some(k), Some(t)) },
      r.map { case (k, rt, v) => (Some(k), Some(rt), v) })
    assert(got.length == l.length && got.toMap == want)
  }

  test("events_asof_signup ≡ reference on real events") {
    import spark.implicits._
    val ev = Tables.events(spark, SF)
      .select($"event_id", $"user_id", expr("unix_micros(ts)").as("tus"),
        $"event_type", $"value")
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
    val probes = ev.filter(_._4 != "signup")
    val signups = ev.filter(_._4 == "signup")
    val want = reference(probes.map(e => (e._1, Some(e._2), Some(e._3))),
      signups.map(e => (Some(e._2), Some(e._3), (e._1, e._5))))
    val got = AsOfJoin.eventsAsOfSignup(spark, SF).collect().map(r =>
      r.getLong(0) -> (if (r.isNullAt(2)) None
        else Some((r.getLong(2), r.getDouble(3))))).toMap
    val rounded = want.map { case (id, p) => id -> p.map { case (sid, v) =>
      (sid, BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) } }
    assert(got.size == probes.length && got == rounded)
  }

  test("as-of picks the latest right row ≤ t, null when none precedes") {
    import spark.implicits._
    val probes = Seq(
      (1L, ts(5), 7L),   // after r10 → r?? no: rights at 0 and 10 → picks 0
      (2L, ts(10), 7L),  // exactly at a right row → that row (>= semantics)
      (3L, ts(25), 7L),  // after both → picks 10
      (4L, ts(1), 8L)    // other key, no right rows → null
    ).toDF("event_id", "ts", "user_id")
    val rights = Seq(
      (7L, ts(0), 100L),
      (7L, ts(10), 200L)
    ).toDF("user_id", "ts", "ref_id")
    val got = AsOfJoin.asOf(probes, rights, Seq("user_id"), "ts", "ts",
        Seq("ref_id"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(got == Map(1L -> 100L, 2L -> 200L, 3L -> 200L, 4L -> -1L))
  }

  test("single shuffle: exactly one exchange in the plan") {
    import spark.implicits._
    val probes = Seq((1L, ts(5), 7L)).toDF("event_id", "ts", "user_id")
    val rights = Seq((7L, ts(0), 100L)).toDF("user_id", "ts", "ref_id")
    val plan = AsOfJoin.asOf(probes, rights, Seq("user_id"), "ts", "ts",
        Seq("ref_id"))
      .queryExecution.executedPlan.toString
    val exchanges = plan.split("Exchange").length - 1
    assert(exchanges == 1, s"expected 1 shuffle, got $exchanges:\n$plan")
  }

  test("nearest-in-time: before/after/tie/one-sided fixtures resolve to the closest click") {
    import spark.implicits._
    def tns(min: Long): Long = min * 60L * 1000000000L
    val ev = Seq(
      // u1: error@30 with clicks @10 and @45 → forward wins (15' < 20')
      (1L, tns(10), 1L, "click", 0.0, "{}"),
      (2L, tns(45), 1L, "click", 0.0, "{}"),
      (3L, tns(30), 1L, "error", 0.0, "{}"),
      // u2: error@30 with clicks @20 and @40 — exact tie → backward
      (4L, tns(20), 2L, "click", 0.0, "{}"),
      (5L, tns(40), 2L, "click", 0.0, "{}"),
      (6L, tns(30), 2L, "error", 0.0, "{}"),
      // u3: only a click BEFORE; u4: only AFTER; u5: none (dropped)
      (7L, tns(0), 3L, "click", 0.0, "{}"),
      (8L, tns(60), 3L, "error", 0.0, "{}"),
      (9L, tns(90), 4L, "click", 0.0, "{}"),
      (10L, tns(60), 4L, "error", 0.0, "{}"),
      (11L, tns(5), 5L, "error", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = java.nio.file.Files.createTempDirectory("nearest").toString
    ev.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = AsOfJoin.nearestClickOffset(spark, tmp)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val M = 60L * 1000000L
    assert(got == Map(3L -> 15 * M, 6L -> -10 * M, 8L -> -60 * M,
      10L -> 30 * M), s"got $got")
  }

  test("temporal SCD join ≡ interval containment on the real corpus; containment audit is zero") {
    import spark.implicits._
    val ev = Tables.events(spark, SF)
      .select($"event_id", $"user_id",
        org.apache.spark.sql.functions.expr("unix_micros(ts)").as("tus"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val mids = ev.groupBy(_._2).view.mapValues { g =>
      (g.map(_._3).min + g.map(_._3).max) / 2 }.toMap
    val expected = ev.groupBy { case (_, u, t) =>
        if (t >= mids(u)) "v2" else "v1" }
      .view.mapValues(g => (g.size.toLong, g.map(_._1).sum)).toMap
    val got = AsOfJoin.temporalScdJoin(spark, SF)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2)), r.getLong(3))).toMap
    assert(got.view.mapValues(_._1).toMap == expected,
      s"got=$got expected=$expected")
    got.values.foreach { case (_, invalid) =>
      assert(invalid == 0L, "matched an expired dimension version") }
  }
}
