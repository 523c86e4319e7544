package graft

/** Pins Bench's per-gate row: the fields the summary files carry, a
  * leftover column that measures something, and the per-gate release
  * that returns the session's persisted RDDs to the pre-gate snapshot,
  * also when the gate throws.
  */
class BenchSpec extends SparkSpec {

  /** The gate's row, with the persisted RDD ids before and after it. */
  private def run(fn: Bench.Gate): (Bench.Row, Set[Int], Set[Int]) = {
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val meter = new Bench.JobMeter
    sc.addSparkListener(meter)
    try {
      val before = sc.getPersistentRDDs.keySet.toSet
      val row = Bench.runGate(spark, SF, fn, meter)
      (row, before, sc.getPersistentRDDs.keySet.toSet)
    } finally sc.removeSparkListener(meter)
  }

  private lazy val runs = Seq("q1_agg", "graph_sssp")
    .map(g => g -> run(SparkEntry.queries(g))).toMap

  test("every gate row carries the summary fields") {
    for ((gate, (row, _, _)) <- runs) {
      assert(row.sec > 0 && row.jobs > 0 && row.stages > 0, s"$gate: $row")
      assert(row.taskSec > 0 && row.jobWallSec > 0, s"$gate: $row")
      assert(row.loadBefore >= 0 && row.loadAfter >= 0, s"$gate: $row")
      val keys = "\"([a-z_]+)\":".r.findAllMatchIn(Bench.rowJson(row))
        .map(_.group(1)).toSeq
      assert(keys == Seq("left_rdds", "left_bytes", "jobs", "stages",
        "task_s", "job_wall_s", "codegen_classes"), gate)
    }
  }

  test("graph_sssp leaves persisted RDDs behind and the left column counts them") {
    val (row, _, _) = runs("graph_sssp")
    assert(row.leftRdds > 0 && row.leftBytes > 0, row.toString)
  }

  test("after the release the persisted RDDs equal the pre-gate snapshot") {
    for ((gate, (_, before, after)) <- runs)
      assert(after == before, gate)
  }

  test("a gate that throws records -1 and is still released") {
    val (row, before, after) = run { (s, _) =>
      s.sparkContext.parallelize(1 to 100, 2).persist().count()
      throw new IllegalStateException("planted gate failure")
    }
    assert(row.sec == -1.0)
    assert(row.leftRdds == 1, row.toString)
    assert(after == before)
  }
}
