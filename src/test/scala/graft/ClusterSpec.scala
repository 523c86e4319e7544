package graft

import graft.operators.Dedup
import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}
import org.apache.spark.sql.graftinternal.PlanBridge
import org.apache.spark.sql.types.IntegerType

class ClusterSpec extends SparkSpec {

  /** Runs `body` and returns its result with the ids of the RDDs it
    * persisted and still holds, and of those it created and released.
    * Only RDDs created inside `body` count: their ids lie above a
    * marker RDD made first (RDD ids only grow).
    */
  private def persistedBy[T](body: => T): (T, Set[Int], Set[Int]) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val released = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
        released.add(e.rddId)
    }
    val marker = sc.emptyRDD[Int].id
    sc.addSparkListener(listener)
    try {
      val out = body
      PlanBridge.drainListeners(sc)
      val held = sc.getPersistentRDDs.keySet.toSet -- before
      import scala.jdk.CollectionConverters._
      (out, held, released.asScala.toSet.filter(_ > marker))
    } finally sc.removeSparkListener(listener)
  }

  test("min-label propagation finds exact connected components") {
    import spark.implicits._
    // two components {1,2,3,4} (path) and {10,11}, plus chain order
    // that forces >1 propagation round
    val pairs = Seq((3L, 4L), (1L, 2L), (2L, 3L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.clusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("the label loop releases every round but the last, which backs the result") {
    import spark.implicits._
    val pairs = Seq((3L, 4L), (1L, 2L), (2L, 3L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val (result, held, released) = persistedBy {
      val r = Dedup.clusters(pairs)
      r.collect()
      r
    }
    assert(held.size == 1, s"held=$held")
    assert(released.nonEmpty && (held & released).isEmpty,
      s"held=$held released=$released")
    PlanBridge.unpersistCheckpoint(result)
    assert(!spark.sparkContext.getPersistentRDDs.contains(held.head))
  }

  test("empty pairs give an empty (doc_id, cluster_id) frame of the input's id type after the seed round") {
    import spark.implicits._
    val pairs = Seq.empty[(Int, Int)].toDF("doc_a", "doc_b")
    val (result, held, released) = persistedBy {
      val r = Dedup.clusters(pairs)
      assert(r.collect().isEmpty)
      r
    }
    assert(result.columns.toSeq == Seq("doc_id", "cluster_id"))
    assert(result.schema.fields.map(_.dataType).toSeq ==
      Seq(IntegerType, IntegerType))
    // one propagation round over the (empty) seed frontier: the edge
    // set and the seed labels are released, that round's labels back
    // the result; a second round would release a third checkpoint
    assert(held.size == 1 && released.size == 2,
      s"held=$held released=$released")
    PlanBridge.unpersistCheckpoint(result)
  }

  test("cluster ids are the component minimum on real pairs") {
    import spark.implicits._
    val labels = Dedup.ngramJaccardClusters(spark, SF)
    val pairs = Dedup.ngramJaccardPairs(spark, SF)
    // every edge's two endpoints share a cluster
    val l1 = labels.select($"doc_id".as("doc_a"), $"cluster_id".as("ca"))
    val l2 = labels.select($"doc_id".as("doc_b"), $"cluster_id".as("cb"))
    val broken = pairs.join(l1, "doc_a").join(l2, "doc_b")
      .filter($"ca" =!= $"cb").count()
    assert(broken == 0)
    // each cluster's id is a member of the cluster
    val badId = labels.groupBy($"cluster_id")
      .agg(org.apache.spark.sql.functions.min($"doc_id").as("mn"))
      .filter($"cluster_id" =!= $"mn").count()
    assert(badId == 0)
  }

  test("canonical survivor: exactly one kept per cluster (longest text, id tie-break); unclustered keep themselves") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{count => fcount, lit, max, sum => fsum, when}
    val verdicts = Dedup.canonicalDocs(spark, SF)
    val total = Tables.documents(spark, SF).count()
    assert(verdicts.count() == total, "every doc must get a verdict")
    // per cluster: exactly one kept
    val perCluster = verdicts.filter($"cluster_id".isNotNull)
      .groupBy($"cluster_id")
      .agg(fsum(when($"kept", 1L).otherwise(0L)).as("n_kept"),
        fcount(lit(1)).as("n"))
      .collect()
    assert(perCluster.nonEmpty, "corpus must have near-dup clusters")
    perCluster.foreach { r =>
      assert(r.getLong(1) == 1L, s"cluster ${r.get(0)}: ${r.getLong(1)} kept") }
    // unclustered docs are all kept
    assert(verdicts.filter($"cluster_id".isNull && !$"kept").count() == 0)
    // the kept member really is the argmax(n_chars, -doc_id)
    val docs = Tables.documents(spark, SF).select($"doc_id", $"n_chars")
    val best = verdicts.filter($"cluster_id".isNotNull).join(docs, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getLong(3)))
      .groupBy(_._2)
    best.foreach { case (cid, members) =>
      val winner = members.minBy(m => (-m._4, m._1))
      members.foreach { m =>
        assert(m._3 == (m == winner), s"cluster $cid: wrong survivor $m") }
    }
  }

  test("soft dedup: weights conserve corpus mass, survivors match canonical, sizes match clusters") {
    import spark.implicits._
    val weights = Dedup.softDedupWeights(spark, SF)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nDocs = Tables.documents(spark, SF).count()
    // token-mass conservation: Σ weights ≡ corpus size exactly
    assert(weights.values.sum == nDocs, s"Σw=${weights.values.sum} n=$nDocs")
    // the weighted survivors are EXACTLY the canonical kept set
    val kept = Dedup.canonicalDocs(spark, SF)
      .filter($"kept").select($"doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(weights.keySet == kept)
    // each clustered survivor's weight is its cluster's member count
    val clusters = Dedup.ngramJaccardClusters(spark, SF)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val sizes = clusters.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val members = clusters.toMap
    weights.foreach { case (d, w) =>
      assert(w == members.get(d).map(sizes).getOrElse(1L), s"doc $d w=$w")
    }
    assert(weights.values.exists(_ > 1L), "fixture must contain a real cluster")
  }

  test("recall-eval gate: all four ANN arms present, ratios exact, IVF clears its spec floor") {
    val rows = operators.Similarity.recallEval(spark, SF)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows.keySet == Set("ivf", "ivfpq", "lsh", "pq"))
    rows.foreach { case (m, (total, hits, ppm)) =>
      assert(hits <= total && ppm == hits * 1000000L / total, s"$m")
    }
    // the same floor the dedicated IVF spec holds (measured 0.85)
    assert(rows("ivf")._3 >= 600000L, rows("ivf").toString)
  }

  test("IVF top-k recall ≥ 0.6 at nprobe=4/16 over 20 queries (measured 0.85)") {
    val brute = operators.Similarity.bruteforceTopK(spark, SF, nQueries = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = operators.Similarity.ivfTopK(spark, SF, nQueries = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.6, f"recall=$recall%.2f")
  }
}
