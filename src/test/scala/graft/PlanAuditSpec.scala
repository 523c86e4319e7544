package graft

import graft.operators.{Relational, Similarity}

/** Explain-audit regression gates (SURVEY §6): the physical plans we
  * designed for must stay the plans Catalyst picks. Each test pins a
  * scale-critical property — pushdown, pruning, broadcast, codegen —
  * so a refactor that silently degrades the plan fails CI, not the
  * 100 TB run.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, SF).queryExecution.executedPlan.toString

  test("q1_agg: filter pushed to parquet, scan pruned to the 7 used columns") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"shipdate filter not pushed:\n$p")
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("l_comment") && !read.contains("l_partkey"),
      s"scan reads unused columns: $read")
    assert(p.contains("partial_sum") || p.contains("partial"),
      s"no map-side partial aggregation:\n$p")
  }

  test("q3_join: dimension side broadcast, no shuffle of the dim") {
    val p = plan("q3_join")
    assert(p.contains("BroadcastHashJoin"), s"dim join not broadcast:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)"),
      s"mktsegment filter not pushed:\n$p")
  }

  test("q_window_running: suppkey filter pushed below the window shuffle") {
    val p = plan("q_window_running")
    assert(p.contains("LessThanOrEqual(l_suppkey,10)"),
      s"suppkey filter not pushed to scan:\n$p")
  }

  test("sim_bruteforce_topk: query side broadcast — corpus scanned once, no shuffle") {
    val p = plan("sim_bruteforce_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$p")
  }

  test("dedup_exact: single hash-shuffle with map-side partial aggregation") {
    val p = plan("dedup_exact")
    assert(p.split("Exchange hashpartitioning").length - 1 == 1,
      s"expected exactly one shuffle:\n$p")
  }

  test("documents scan for text ops prunes to the used columns") {
    val p = SparkEntry.queries("text_tokens")(spark, SF)
      .queryExecution.executedPlan.toString
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("source") && !read.contains("lang"),
      s"text_tokens reads unused columns: $read")
  }

  test("search_phrase: scan pruned to (doc_id, text); no exchange carries document bodies") {
    val p = plan("search_phrase")
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("source") && !read.contains("lang"),
      s"phrase search reads unused columns: $read")
    shuffleOutputs("search_phrase").foreach { out =>
      assert(!out.exists(_.name == "text"),
        s"document bodies in a phrase exchange: ${out.map(_.name)}")
    }
  }

  test("embedding kernels stay inside whole-stage codegen") {
    import spark.implicits._
    val p = Tables.embeddings(spark, SF)
      .select(Similarity.cosineCol($"embedding", $"embedding"))
      .queryExecution.executedPlan.toString
    assert(p.contains("*(1) Project"), s"cosine fell out of codegen:\n$p")
  }

  /** Every shuffle exchange in a query's plan, with its output
    * schema. AQE wraps the plan in AdaptiveSparkPlanExec (whose
    * children are hidden from collect), so the plan is built with
    * AQE off — the logical shuffle structure under audit is the
    * same either way.
    */
  private def shuffleOutputs(name: String) = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SparkEntry.queries(name)(spark, SF).queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e.output
    }
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("dedup_embedding_lsh: no shuffle exchange carries embedding arrays") {
    // the band join + pair distinct move (vec_id, chunk_idx, chunk)
    // longs only; embeddings re-attach AFTER the distinct (broadcast
    // at this scale; a by-id join — 1× corpus — at cluster scale,
    // vs ~20× the corpus in arrays if they rode the band join)
    val shuffles = shuffleOutputs("dedup_embedding_lsh")
    val offenders = shuffles.filter(_.exists(
      _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]))
    assert(offenders.isEmpty,
      s"array columns in shuffle exchanges: ${offenders.map(_.map(_.name))}")
  }

  test("sim_lsh_topk: no shuffle exchange carries embedding arrays") {
    // corpus joins broadcast queries (no corpus shuffle); cosine is
    // computed pre-distinct so distinct + top-k move scalars only
    val shuffles = shuffleOutputs("sim_lsh_topk")
    val offenders = shuffles.filter(_.exists(
      _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]))
    assert(offenders.isEmpty,
      s"array columns in shuffle exchanges: ${offenders.map(_.map(_.name))}")
  }

  // ETL dim/bridge single-partition-window regressions are covered by
  // WindowAuditSpec's repo-wide sweep (etl_* are not in its exempt map).

  test("sim_pq_topk: encode and ADC are map-side — only scalar ranking windows shuffle") {
    // codebooks are literals and the query table / shortlist are
    // broadcast: corpus encoding and the ADC lookup-sum add ZERO
    // exchanges. The two shuffles are the ADC shortlist window and
    // the re-rank window, both scalar-only.
    val shuffles = shuffleOutputs("sim_pq_topk")
    assert(shuffles.length == 2,
      s"expected 2 shuffles (shortlist + re-rank windows), got ${shuffles.length}")
    val offenders = shuffles.filter(_.exists(
      _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]))
    assert(offenders.isEmpty,
      s"array columns in shuffle exchanges: ${offenders.map(_.map(_.name))}")
  }

  test("sim_ivfpq_topk: cells + codes from one scan — only scalar ranking windows shuffle") {
    // coarse cell and PQ codes are both carried out of a single
    // map-side projection; probes and shortlist broadcast
    val shuffles = shuffleOutputs("sim_ivfpq_topk")
    assert(shuffles.length == 2,
      s"expected 2 shuffles (shortlist + re-rank windows), got ${shuffles.length}")
    val offenders = shuffles.filter(_.exists(
      _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]))
    assert(offenders.isEmpty,
      s"array columns in shuffle exchanges: ${offenders.map(_.map(_.name))}")
  }

  test("text_pii, text_gopher_filter and text_chunks run shuffle-free at scan speed") {
    Seq("text_pii", "text_gopher_filter", "text_chunks").foreach { q =>
      assert(shuffleOutputs(q).isEmpty, s"$q must not introduce an exchange")
    }
  }

  test("text_vocabulary: both shuffles carry per-token aggregates only") {
    val shuffles = shuffleOutputs("text_vocabulary")
    assert(shuffles.length == 2, s"expected 2 shuffles, got ${shuffles.length}")
    shuffles.foreach { out =>
      assert(!out.exists(_.name == "text"),
        s"document bodies in a vocabulary exchange: ${out.map(_.name)}")
    }
  }

  test("search_bm25: no exchange carries document bodies; stats broadcast") {
    val shuffles = shuffleOutputs("search_bm25")
    shuffles.foreach { out =>
      assert(!out.exists(_.name == "text"),
        s"document bodies in a bm25 exchange: ${out.map(_.name)}")
    }
    val p = plan("search_bm25")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"query/df tables not broadcast:\n$p")
  }

  test("dedup_spans / overlap_sources: no exchange carries gram text or bodies") {
    // gram strings are hashed to 60-bit longs BEFORE the signature
    // shuffle — the hot exchanges move (doc_id, pos, h) / (source, h)
    // triples, never the grams themselves and never document bodies
    Seq("dedup_spans", "overlap_sources").foreach { q =>
      shuffleOutputs(q).foreach { out =>
        assert(!out.exists(a => a.name == "gram" || a.name == "text"),
          s"$q shuffles gram/document text: ${out.map(_.name)}")
      }
    }
  }

  test("sample_mixture: the corpus never shuffles — exchanges are per-source counts") {
    val shuffles = shuffleOutputs("sample_mixture")
    shuffles.foreach { out =>
      assert(!out.exists(a => a.name == "doc_id" || a.name == "text"),
        s"corpus rows in a mixture exchange: ${out.map(_.name)}")
    }
  }

  test("text_js_divergence: no exchange carries document bodies — pairs ride the token-count frame") {
    val shuffles = shuffleOutputs("text_js_divergence")
    shuffles.foreach { out =>
      assert(!out.exists(a => a.name == "text" || a.name == "doc_id"),
        s"document rows in a JSD exchange: ${out.map(_.name)}")
    }
  }

  test("sample_unimax: the corpus never shuffles — the allocation runs on per-source totals") {
    val shuffles = shuffleOutputs("sample_unimax")
    shuffles.foreach { out =>
      assert(!out.exists(a => a.name == "text" || a.name == "doc_id"),
        s"corpus rows in a unimax exchange: ${out.map(_.name)}")
    }
  }

  test("dedup_minhash_incremental: the signature index never shuffles — by construction, not AQE") {
    // band keys and the verify side (pairs ⋈ batch sigs) are batch-
    // bounded and broadcast EXPLICITLY, so the corpus signature index
    // is only ever the streamed side of broadcast joins: the sole
    // exchange is the scalar candidate-pair distinct, and no exchange
    // carries signature arrays at any batch size or AQE setting
    val shuffles = shuffleOutputs("dedup_minhash_incremental")
    val offenders = shuffles.filter(_.exists(
      _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]))
    assert(offenders.isEmpty,
      s"signature arrays in shuffle exchanges: ${offenders.map(_.map(_.name))}")
    assert(shuffles.length == 1,
      s"expected exactly 1 shuffle (pair distinct), got ${shuffles.length}")
  }

  test("dedup_semantic: cell assignment is map-side; no exchange carries embeddings") {
    // the nearest_cells kernel makes assignment a scan-side
    // projection (one expression, O(1) plan size in nlist); at
    // audit scale the cell self-join broadcasts, leaving only the
    // scalar victim aggregation in the exchange set
    val shuffles = shuffleOutputs("dedup_semantic")
    val offenders = shuffles.filter(_.exists(
      _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]))
    assert(offenders.isEmpty,
      s"embedding arrays in shuffle exchanges: ${offenders.map(_.map(_.name))}")
  }

  test("search_keywords / text_bigram_coherence / dedup_ngram_containment: no exchange carries document bodies") {
    // tokens and bigram/shingle HASHES may shuffle (they are the
    // working set); the document text itself must never leave the scan
    Seq("search_keywords", "text_bigram_coherence",
        "dedup_ngram_containment").foreach { q =>
      shuffleOutputs(q).foreach { out =>
        assert(!out.exists(_.name == "text"),
          s"$q shuffles document bodies: ${out.map(_.name)}")
      }
    }
  }

  test("sample_token_budget: no corpus window partitions on bare source — admission is banded") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val ws = SparkEntry.queries("sample_token_budget")(spark, SF)
        .queryExecution.executedPlan.collect { case w: WindowExec => w }
      val specs = ws.map(_.partitionSpec.flatMap(_.references.map(_.name)).toSet)
      // exactly the two designed windows: band-offset prefix (bare
      // source, aggregate-sized) + within-band running sum
      assert(specs.toSet == Set(Set("source"), Set("source", "__band")),
        s"window partition specs drifted: $specs")
      ws.filter(_.partitionSpec.flatMap(_.references.map(_.name)).toSet == Set("source"))
        .foreach { w =>
          // the bare-source window must sit on the band AGGREGATE,
          // upstream of any join with the corpus — i.e. its input is
          // ≤1000 rows per source, never the docs themselves
          assert(w.child.collectFirst { case a: BaseAggregateExec => a }.nonEmpty,
            s"bare-source window over non-aggregated input:\n${w.child}")
          assert(w.child.collectFirst { case j: BaseJoinExec => j }.isEmpty,
            s"bare-source window downstream of the corpus join:\n${w.child}")
        }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("sim_ivf_topk: cell assignment is map-side — only the top-k window shuffles") {
    // the quantizer rides the nearest_cells kernel as a reference
    // object, so assignment adds ZERO exchanges; the sole shuffle in
    // the plan is the scalar per-query ranking window over candidates
    val shuffles = shuffleOutputs("sim_ivf_topk")
    assert(shuffles.length == 1,
      s"expected exactly 1 shuffle (top-k window), got ${shuffles.length}")
    assert(!shuffles.head.exists(
        _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
      s"top-k shuffle carries arrays: ${shuffles.head.map(_.name)}")
  }

  test("q_set_ops: INTERSECT/EXCEPT plan as semi/anti hash joins, never nested-loop") {
    val p = plan("q_set_ops")
    assert(p.contains("LeftSemi"), s"INTERSECT not a left-semi join:\n$p")
    assert(p.contains("LeftAnti"), s"EXCEPT not a left-anti join:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"set operation fell back to an all-pairs join:\n$p")
  }

  test("q_subquery_exists: all three subqueries decorrelate into joins") {
    val p = plan("q_subquery_exists")
    assert(p.contains("LeftSemi"), s"EXISTS not decorrelated to semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS not decorrelated to anti join:\n$p")
    // the correlated scalar becomes an outer join over a grouped
    // aggregate — no per-row subquery execution nodes survive
    assert(!p.contains("Subquery") && !p.contains("CartesianProduct"),
      s"a correlated subquery survived decorrelation:\n$p")
  }

  test("q_lateral_topn: correlated LIMIT decorrelates to a ranking window, not per-row re-execution") {
    val p = plan("q_lateral_topn")
    assert(p.contains("Window"), s"lateral LIMIT did not become a window:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"lateral join went all-pairs:\n$p")
  }

  test("validate_expectations: 5 row-level rules share ONE orders scan (plus one for the anti-join)") {
    val p = plan("validate_expectations")
    val orderScans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("orders.parquet"))
    assert(orderScans == 2,
      s"expected 2 orders scans (agg pass + referential), got $orderScans:\n$p")
  }

  test("lake_partitioned: the year filter prunes DIRECTORIES (PartitionFilters), not rows") {
    val p = plan("lake_partitioned")
    assert(p.contains("PartitionFilters: [") && p.contains("= 1996"),
      s"year filter did not become a partition filter:\n$p")
  }

  test("olap_regression: one map-side-partial aggregate, no raw-row shuffle") {
    val p = plan("olap_regression")
    assert(p.split("Exchange hashpartitioning").length - 1 == 1,
      s"expected exactly one shuffle (the 5-group aggregate):\n$p")
    assert(p.contains("partial"), s"no map-side partial aggregation:\n$p")
  }

  test("validate_fingerprint: ONE aggregate pass — a single-partition final over map-side partials, scan pruned to the digested columns") {
    val p = plan("validate_fingerprint")
    assert(p.contains("partial"), s"no map-side partial aggregation:\n$p")
    // the only exchange is the 1-row final-agg gather; no
    // hashpartitioning shuffle of corpus rows anywhere
    assert(!p.contains("Exchange hashpartitioning"),
      s"fingerprint must not shuffle corpus rows:\n$p")
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("doc_id") && read.contains("text"),
      s"digest inputs missing from scan: $read")
  }

  test("dedup_jaro_names: kernel runs on the distinct-name frame — aggregation BELOW the pair join, join side broadcast") {
    val p = plan("dedup_jaro_names")
    assert(p.contains("BroadcastHashJoin"),
      s"blocked pair join not broadcast:\n$p")
    assert(p.contains("jarowinkler"), s"native kernel absent:\n$p")
    // the name aggregation must sit under the join: the join's inputs
    // are aggregates, so a partial_count appears before the first join
    val joinIdx = p.indexOf("BroadcastHashJoin")
    assert(p.substring(joinIdx).contains("partial_count"),
      s"pair join does not take the aggregated name frame:\n$p")
  }

  test("olap_chi_square: all three margins broadcast back onto the cell frame, corpus reduced by map-side partials") {
    val p = plan("olap_chi_square")
    assert(p.split("BroadcastExchange").length - 1 >= 3,
      s"row/col/grand margins not broadcast:\n$p")
    assert(p.contains("partial_count"), s"no map-side partials:\n$p")
  }

  test("events_sliding_dau: the 24x fan-out generates from the distinct PAIR frame, not raw events") {
    // the Generate (explode) must sit ABOVE the pair distinct: its
    // child subtree contains the aggregate, so the 24x replication
    // applies to (hour, user) pairs — if a refactor exploded raw
    // events first, the aggregate would be above the generator instead
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // materialize=false: the gate's localCheckpoint would hide the
      // structure behind a Scan ExistingRDD
      val plan = graft.operators.Events
        .slidingDau(spark, SF, materialize = false)
        .queryExecution.executedPlan
      val gens = plan.collect { case g: GenerateExec => g }
      assert(gens.nonEmpty, s"no Generate in sliding-dau plan:\n$plan")
      gens.foreach { g =>
        assert(g.child.collectFirst { case a: BaseAggregateExec => a }.nonEmpty,
          s"fan-out generates from raw events (no aggregate below it):\n$plan")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("analytics_funnel_steps: no window anywhere — the chain is aggregates and user-frame joins") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.functions.unix_micros
    import spark.implicits._
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // exchange reuse replaces repeated subtrees with child-less
    // ReusedExchangeExec nodes, which would hide the aggregates this
    // structural check looks for
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try {
      // materialize=false: audit the composed plan, not the checkpoint
      val ev = Tables.events(spark, SF)
        .select($"user_id", $"event_type", unix_micros($"ts").as("tus"))
      val plan = graft.operators.Analytics
        .funnelStepsOf(ev, materialize = false)
        .queryExecution.executedPlan
      assert(plan.collect { case w: WindowExec => w }.isEmpty,
        s"funnel must not plan a window:\n$plan")
      // the chain joins user-frame AGGREGATES: some aggregate sits
      // below the first join
      import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
      import org.apache.spark.sql.execution.joins.{BaseJoinExec => BJ}
      val joins = plan.collect { case j: BJ => j }
      assert(joins.nonEmpty, s"no joins in funnel plan:\n$plan")
      assert(joins.forall(_.collectFirst {
          case a: BaseAggregateExec => a }.nonEmpty),
        s"a funnel join takes raw events on both sides:\n$plan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.exchange.reuse", "true")
    }
  }

  test("search_similar_docs: no exchange carries document bodies; query postings broadcast") {
    shuffleOutputs("search_similar_docs").foreach { out =>
      assert(!out.exists(_.name == "text"),
        s"document bodies in a similar-docs exchange: ${out.map(_.name)}")
    }
    val p = plan("search_similar_docs")
    assert(p.contains("BroadcastHashJoin"),
      s"query postings not broadcast:\n$p")
  }

  test("graph_neighbor_jaccard: neighbor arrays never cross an exchange — wedges generate map-side") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.graftinternal.PlanBridge
    import org.apache.spark.sql.util.QueryExecutionListener
    // audit the plan the gate runs: its final localCheckpoint, which
    // Dataset.checkpoint reports to execution listeners as an action
    val checkpoints =
      new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (funcName == "localCheckpoint") checkpoints.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.listenerManager.register(listener)
    try {
      graft.operators.Graph.neighborJaccardOf(
        graft.operators.Graph.copurchaseEdges(spark, SF), topK = 20)
      PlanBridge.drainListeners(spark.sparkContext)
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
    import scala.jdk.CollectionConverters._
    assert(!checkpoints.isEmpty, "no localCheckpoint reached the listener")
    val shuffles = checkpoints.asScala.last.executedPlan.collect {
      case e: ShuffleExchangeExec => e.output
    }
    assert(shuffles.nonEmpty, "expected exchanges in the jaccard plan")
    val offenders = shuffles.filter(_.exists(
      _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]))
    assert(offenders.isEmpty,
      s"adjacency arrays in shuffle exchanges: ${offenders.map(_.map(_.name))}")
  }

  test("q7_volume_shipping: metadata dims broadcast, orders-customer keyed (never a cartesian), date pushed") {
    val p = plan("q7_volume_shipping")
    assert(p.contains("BroadcastHashJoin"), s"supplier dim not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"disjunctive filter degraded a join to a product:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      s"shipdate range not pushed to the lineitem scan:\n$p")
  }

  test("sim_filtered_topk: label pre-filter rides the broadcast join — corpus scanned once, no product") {
    val p = plan("sim_filtered_topk")
    assert(p.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"label filter fell out of the join keys:\n$p")
  }

  test("rec_item_cf: pair generation is the per-order aggregate, never an interaction self-join product") {
    val p = plan("rec_item_cf")
    assert(!p.contains("CartesianProduct"),
      s"cartesian in the CF plan:\n$p")
    assert(p.contains("partial"), s"no map-side partial aggregation:\n$p")
    // the oracle's op-a JOIN op-b shape would shuffle interactions
    // twice into a pair join; ours explodes sorted baskets map-side
    assert(p.contains("sort_array") || p.contains("collect_set"),
      s"basket device missing — did the pair path regress to a self-join?\n$p")
  }

  test("ml_pca_moments: triangle expansion aggregates in-stage — exchanges carry only moment cells") {
    val p = plan("ml_pca_moments")
    // the exploded corpus×2080 stream must hash-aggregate BEFORE the
    // exchange (Generate under HashAggregate(partial) in one stage);
    // no exchange may carry the embedding arrays themselves
    assert(p.contains("Generate explode"), s"expansion missing:\n$p")
    assert(p.contains("partial"), s"no partial aggregation:\n$p")
    val exchanges = p.split("Exchange").drop(1)
    assert(!exchanges.exists(_.linesIterator.next().contains("embedding")),
      s"an exchange carries embedding arrays:\n$p")
  }

  test("analytics_assoc_rules: support frames broadcast into the rule join — no fact self-join") {
    val p = plan("analytics_assoc_rules")
    assert(p.contains("BroadcastHashJoin"),
      s"support frames not broadcast:\n$p")
    // sort_array folds into the aggregate's resultExpressions, which
    // the plan string elides — assert the visible half of the device
    assert(p.contains("collect_list") && p.contains("Generate explode"),
      s"map-side basket pair device missing:\n$p")
  }

  test("text_quality_qnorm: ranking window partitioned by source; histogram lookup broadcast") {
    val p = plan("text_quality_qnorm")
    assert(p.contains("row_number") &&
      p.contains("partitionBy" ) || p.contains("PartitionBy") ||
      p.contains("windowspecdefinition(source"),
      s"source-partitioned ranking window missing:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"histogram range join not broadcast:\n$p")
  }

  test("sim_dbscan: pair frame is a broadcast nested-loop, never a cartesian shuffle") {
    // the clustering core truncates lineage at a checkpoint, so pin
    // the pair stage (the scale-critical part) directly
    val p = Similarity.dbscanPairs(
        graft.Tables.embeddings(spark, SF), simMin = 0.35)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"dbscan pair join not broadcast-NL:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"dbscan fell back to a shuffled cartesian:\n$p")
  }

  test("q9_profit: both dims broadcast, one partial-agg'd exchange on (nation, year)") {
    val p = plan("q9_profit")
    assert(p.split("BroadcastHashJoin").length >= 3,
      s"q9 dims not both broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q9 fact shuffled for a dim join:\n$p")
    assert(p.contains("partial"), s"q9 aggregate not map-side partial:\n$p")
  }

  test("q16_supplier_census: flagged suppliers excluded via broadcast anti-join before the distinct aggregation") {
    val p = plan("q16_supplier_census")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"q16 exclusion not a broadcast anti-join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"q16 shuffled a dim join:\n$p")
  }

  test("decontaminate_multi: eval gram index broadcast — the corpus never shuffles for membership") {
    val p = plan("decontaminate_multi")
    assert(p.contains("BroadcastHashJoin"),
      s"multi-set gram probe not broadcast:\n$p")
  }

  /** The round-13 statistics wave shares one plan contract: collapse
    * the corpus in the first partial aggregate, then every
    * ladder/total/basis join on the domain-sized remainder rides a
    * broadcast — never a shuffled join, never a cartesian. One pin
    * per gate keeps a refactor from silently re-shuffling a
    * histogram.
    */
  test("round-13 stats wave: histogram-side joins all broadcast, zero cartesians, zero shuffled joins") {
    val wave = Seq("olap_hhi", "olap_mutual_info", "olap_lorenz",
      "olap_hill_tail", "graph_richclub", "ml_conformal", "ml_gains",
      "ml_ks_separation", "ml_brier", "events_periodogram",
      "events_binseg", "sample_neyman", "analytics_attribution_shapley",
      "analytics_logrank", "analytics_nelson_aalen")
    val bad = wave.flatMap { n =>
      val p = plan(n)
      val issues = Seq(
        if (p.contains("CartesianProduct")) Some("CartesianProduct") else None,
        if (p.contains("SortMergeJoin")) Some("SortMergeJoin") else None)
        .flatten
      if (issues.isEmpty) None else Some(s"$n: ${issues.mkString(", ")}")
    }
    assert(bad.isEmpty, s"shuffled/cartesian joins in the stats wave:\n${bad.mkString("\n")}")
  }

  test("analytics_attribution_shapley: the 2^k subset fan-out and the Shapley ladder both ride broadcasts") {
    val p = plan("analytics_attribution_shapley")
    assert(p.split("BroadcastHashJoin").length - 1 >= 2,
      s"shapley v-table joins not broadcast:\n$p")
    assert(p.split("BroadcastNestedLoopJoin").length - 1 >= 1,
      s"subset fan-out not a broadcast nested loop:\n$p")
    assert(p.contains("partial"), s"user collapse not map-side partial:\n$p")
  }

  test("analytics_attribution_shapley_sampled: mask probe + v joins ride broadcasts, no cartesian") {
    val p = plan("analytics_attribution_shapley_sampled")
    // the needed-mask probe is a broadcast nested loop (non-equi
    // subset test) and the ladder/v joins are broadcast hash joins —
    // the corpus-collapsed user frame never shuffles into a cartesian
    assert(p.split("BroadcastNestedLoopJoin").length - 1 >= 1,
      s"mask probe not a broadcast nested loop:\n$p")
    assert(p.split("BroadcastHashJoin").length - 1 >= 2,
      s"ladder/v joins not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian leaked:\n$p")
  }

  /** The ktruss support census must stay the DEGREE-ORIENTED
    * triangle plan (r14 re-plan receipt, SCALING.md): the closure
    * probe against the oriented edge set rides a broadcast under the
    * 20 M-edge budget, so the wedge stream never shuffles — a
    * refactor that reverts to the all-wedge aggregate would
    * re-introduce the 147 M-row shuffle this plan retired.
    */
  test("graph_ktruss: oriented-triangle closure probes a broadcast edge set") {
    // the gate output is checkpointed (its executed plan is a scan of
    // the checkpoint), so pin the per-round support builder directly
    import org.apache.spark.sql.functions.col
    val nb = graft.operators.Graph.copurchaseEdges(spark, SF)
      .repartition(col("src")).localCheckpoint(true)
    val p = graft.operators.Graph.trussSupport(nb, nb.count())
      .queryExecution.executedPlan.toString
    assert(p.split("BroadcastHashJoin").length - 1 >= 1,
      s"triangle closure not a broadcast hash join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian leaked:\n$p")
  }

  test("sim_dbscan_lsh: candidate pairs come from bucket equi-joins — no cartesian, no all-pairs nested loop") {
    val p = plan("sim_dbscan_lsh")
    assert(!p.contains("CartesianProduct"), s"cartesian leaked:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs nested loop leaked into the LSH path:\n$p")
  }
}
