package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over the part co-purchase graph (edges =
  * distinct within-order part pairs, both directions): integer-unit
  * PageRank (Page et al. 1999).
  *
  * Exactness device: ranks live in integer MICRO-UNITS (init 10⁶ per
  * node) and every step is integer arithmetic — contribution =
  * rank div outdeg, damping = 150000 + (850·Σcontrib) div 1000 — so
  * the fixpoint iteration is bit-exact on any engine and any
  * partition merge order (a double PageRank's sums would be
  * order-dependent, which no cross-engine oracle can promise). The
  * oracle unrolls the same five stages as chained CTEs: recursive
  * CTEs forbid aggregates in the recursive term, and an unrolled
  * plan is also exactly what Spark executes here.
  *
  * Scale shape: the edge list (joined with its out-degrees) is
  * checkpointed once. Under AQE the checkpoint does not keep its hash
  * partitioning on src, so each iteration's join re-exchanges the
  * edge side along with the (node, rank) scalars, plus the Σcontrib
  * aggregate. Rank mass is ≤ 10⁶·N micro-units, so the 850·sum
  * intermediate stays within long range up to ~10¹⁰ nodes.
  */
object Graph {

  /** Default Σ C(deg, 2) ceiling for the exact wedge-stream operators
    * ([[trianglesOf]], [[neighborJaccardOf]]) — ~27× the sf0.1
    * co-purchase graph (1.48·10⁸ wedges measured). Past it the exact
    * wedge enumeration is past-budget by this repo's own ×100 scaling
    * receipts (SCALING.md), so the guard throws with the measured
    * budget and the name of the scale valve
    * ([[neighborJaccardSketchOf]]) instead of launching a job that
    * can't finish; callers who know better pass their own ceiling.
    */
  val DefaultWedgeBudget: Long = 4000000000L

  /** Σ C(deg, 2) off an already-computed degree frame — one aggregate
    * over the node-sized frame, nothing edge-sized.
    */
  private def wedgeSum(deg: DataFrame, degCol: String): Long = {
    import org.apache.spark.sql.functions.{expr, sum => fsum}
    Option(deg.agg(
        fsum(expr(s"$degCol * ($degCol - 1) div 2")).as("w"))
      .head.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
  }

  /** Throw, naming `op` and its scale valve, when a measured wedge
    * stream is past the budget.
    */
  private def requireWedgeBudget(wedges: Long,
      budget: Long, op: String, valve: String): Unit = {
    if (wedges > budget) throw new IllegalStateException(
      s"$op: wedge stream is sum C(deg,2) = $wedges > budget $budget — " +
        s"the exact form is past-budget at this scale; use $valve, or " +
        "raise wedgeBudget explicitly if you have the cluster for it")
  }

  /** The knobs [[planGraphBudget]] derives from one degree-census
    * read, plus the census itself so callers can log the evidence.
    * `seedMod` knobs assume the id-density the gates' `% seedMod`
    * sampling does — a sparse id space just samples fewer seeds,
    * which only UNDERshoots the budget.
    */
  final case class GraphBudgetKnobs(
      nodes: Long, edgeRows: Long, maxDeg: Long, wedges: Long,
      exactWedgesOk: Boolean, betweennessSeedMod: Long,
      walkSeedMod: Long, trussPrePeel: Boolean)

  /** Auto-budget pre-flight for the graph family — the joinSkew-style
    * census read that replaces manual knobs. One node-sized aggregate
    * yields (|V|, edge rows, max deg, Σ C(deg,2)); from it:
    * `betweennessSeedMod` bounds seeds·|E|·hops (each seed's BFS can
    * touch every edge row per hop — the [[betweennessOf]] worst
    * case), `walkSeedMod` bounds walkers·steps, `exactWedgesOk` says
    * whether the exact wedge-stream operators fit, and
    * `trussPrePeel` says [[kTrussOf]] will engage its (k−1)-core
    * valve. One seed is the floor — a budget below one seed's work
    * clamps rather than refusing, since the caller asked for the
    * operator; the returned census lets them see that clamp.
    *
    * CONTRACT: `edges` must carry BOTH directions of every undirected
    * edge (the frame shape every gate in this family passes —
    * `requireWedgeBudget`'s callers assume the same). The census
    * groups on `src` only, which is the true degree exactly under
    * that shape; a directed or single-direction frame UNDERSTATES
    * degree/wedges here and would under-budget the very operators
    * the knobs gate — union src/dst into both directions first.
    */
  def planGraphBudget(edges: DataFrame, hops: Int = 4, steps: Int = 8,
      workBudget: Long = DefaultWedgeBudget,
      wedgeBudget: Long = DefaultWedgeBudget): GraphBudgetKnobs = {
    import org.apache.spark.sql.functions.{col, count, expr, lit, max => fmax, sum => fsum}
    val row = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .agg(count(lit(1)).as("n"), fsum(col("deg")).as("m"),
        fmax(col("deg")).as("mx"),
        fsum(expr("deg * (deg - 1) div 2")).as("w")).head
    val nodes = row.getLong(0)
    val m = if (row.isNullAt(1)) 0L else row.getLong(1)
    val mx = if (row.isNullAt(2)) 0L else row.getLong(2)
    val w = if (row.isNullAt(3)) 0L else row.getLong(3)
    // smallest seedMod whose seed-count UPPER bound (nodes/s + 1,
    // covering the % alignment) keeps seeds·unit ≤ budget; BigInt
    // because nodes·|E|·hops overflows long well inside 100 TB range
    def fitSeedMod(unit: BigInt): Long = {
      if (nodes == 0L || unit <= 0) 1L
      else {
        var s = ((unit * nodes + workBudget - 1) / workBudget)
          .min(BigInt(nodes)).toLong.max(1L)
        while (s < nodes &&
            BigInt(nodes / s + 1) * unit > BigInt(workBudget))
          s = math.min(s * 2, nodes)
        s
      }
    }
    GraphBudgetKnobs(nodes, m, mx, w,
      exactWedgesOk = w <= wedgeBudget,
      betweennessSeedMod = fitSeedMod(BigInt(m) * hops),
      walkSeedMod = fitSeedMod(BigInt(steps)),
      trussPrePeel = w > wedgeBudget)
  }

  /** Restrict a both-directions edge frame to its k-core: peel nodes
    * of induced degree < k to the FIXPOINT (each round is one
    * aggregation + two semi-joins on the shrinking graph, the
    * [[kCoreOf]] device run to convergence instead of a bounded
    * census). Returns the surviving edges, still both-directions.
    * Lineage truncates per round; the loop exits as soon as a round
    * peels nothing, and the round cap is a runaway backstop — a peel
    * that removes ≥1 node per round terminates in ≤ |V| rounds
    * regardless.
    */
  private[operators] def coreRestrict(edges: DataFrame, k: Long,
      maxRounds: Int = 1 << 20): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    var e = edges.localCheckpoint(true)
    var n = e.count()
    var r = 0
    var stable = false
    while (!stable && r < maxRounds) {
      val nodes = e.groupBy($"src").agg(count(lit(1)).as("deg"))
        .filter($"deg" >= k).select($"src".as("node"))
      val kept = e
        .join(nodes.select($"node".as("src")), Seq("src"), "left_semi")
        .join(nodes.select($"node".as("dst")), Seq("dst"), "left_semi")
        .select($"src", $"dst")
        .localCheckpoint(true)
      val m = kept.count()
      stable = m == n
      e = kept
      n = m
      r += 1
    }
    e
  }

  /** Distinct undirected co-purchase edges, emitted in both
    * directions, from sorted per-order baskets (same map-side
    * generation as [[Analytics.basketPairs]] — Σ basket², never a
    * self-join).
    */
  def copurchaseEdges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Both directions are emitted by the SAME generator (struct pair
    // + its reverse), so the basket derivation runs once instead of
    // once per union branch, and the dedup rides the hash(src)
    // exchange: hash(src) clusters every (src, dst) group, so the
    // dropDuplicates aggregate reuses the repartition's layout with
    // no second exchange and the result comes out clustered on src —
    // the layout every consumer in this family joins/aggregates on.
    // Net plan: 1 lineitem scan + 2 exchanges (orderkey, src), where
    // the union-of-projections spelling cost 2 scans + 3 exchanges
    // (orderkey ×2, pair-distinct) and left the result unclustered.
    Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_partkey")
      .groupBy($"l_orderkey")
      .agg(sort_array(collect_list($"l_partkey")).as("parts"))
      .select(explode(expr(
        """flatten(transform(parts, (x, i) ->
             flatten(transform(slice(parts, i + 2, size(parts)),
               y -> array(struct(x AS src, y AS dst),
                          struct(y AS src, x AS dst))))))""")).as("pr"))
      .filter($"pr.src" =!= $"pr.dst")
      .select($"pr.src".as("src"), $"pr.dst".as("dst"))
      .repartition($"src")
      .dropDuplicates("src", "dst")
  }

  /** Gate: 5 integer-unit PageRank iterations, top 20 parts — the
    * unit-weight case of [[pageRankWeightedOf]]: with w = 1,
    * (rank·w) div Σ_out w is rank div outdeg.
    */
  def pageRank(spark: SparkSession, dir: String): DataFrame =
    pageRankWeightedOf(copurchaseEdges(spark, dir)
      .select(col("src"), col("dst"), lit(1L).as("w")), iters = 5, topK = 20)

  /** Oracle: the identical five stages unrolled as chained CTEs. */
  val pageRankSql: String = {
    val stages = (1 to 5).map { t =>
      s"""r$t AS (
            SELECT e.dst AS node,
                   CAST(150000 + (850 * sum(r.rank // d.outdeg)) // 1000
                        AS BIGINT) AS rank
            FROM r${t - 1} r
            JOIN deg d ON r.node = d.src
            JOIN edges e ON e.src = r.node
            GROUP BY e.dst)"""
    }.mkString(",\n")
    s"""WITH pairs AS (
          SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        edges AS (
          SELECT p1 AS src, p2 AS dst FROM pairs
          UNION ALL
          SELECT p2 AS src, p1 AS dst FROM pairs),
        deg AS (
          SELECT src, CAST(count(*) AS BIGINT) AS outdeg
          FROM edges GROUP BY src),
        r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rank FROM deg),
        $stages
        SELECT node, rank FROM r5 ORDER BY rank DESC, node LIMIT 20"""
  }

  /** Per-node triangle participation over the co-purchase graph, top
    * 20. Enumeration is degree-ORIENTED (each undirected edge points
    * from its lower (degree, id) endpoint to the higher): every
    * triangle then has exactly one apex with two out-edges, so it is
    * found once, and wedge-generation work drops from the id-ordered
    * Σ |{a<b}|·|{c>b}| to Σ C(outdeg, 2) with outdeg ≤ √(2·|E|) —
    * the standard bound that keeps the wedge join feasible when a
    * hub node has 10⁶ neighbors at 100 TB (id-ordering would square
    * that hub; degree-ordering caps it). The oracle enumerates the
    * same triangle set in plain a<b<c id order — counts are
    * algorithm-independent, so the cheap spelling is exact there.
    */
  def triangles(spark: SparkSession, dir: String): DataFrame =
    trianglesOf(copurchaseEdges(spark, dir), topK = 20)

  def trianglesOf(edges: DataFrame, topK: Int,
      wedgeBudget: Long = DefaultWedgeBudget): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    perNodeTriangles(edges, wedgeBudget)
      .orderBy($"triangles".desc, $"node")
      .limit(topK)
  }

  /** Per-node triangle counts for EVERY node that closes at least one
    * triangle — the shared core of [[trianglesOf]] (top-k census) and
    * [[clusteringByDegreeOf]] (local clustering coefficient). Result
    * is node-sized and eagerly localCheckpoint'ed so callers can drop
    * the operator's internal caches.
    */
  private[operators] def perNodeTriangles(edges: DataFrame,
      wedgeBudget: Long): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // edges feed the degree count AND the orientation join; oriented
    // feeds both wedge sides AND the closing semi-join — persist
    // each or the upstream edge-distinct recomputes three times
    // (measured 8.6 s → the persisted form below at sf0.1)
    val e = edges.localCheckpoint(true)
    val deg = e.groupBy($"src").agg(count(lit(1)).as("deg"))
    // persisted pre-partitioned on the apex: the wedge self-join
    // below joins oriented⋈oriented on u, so caching the hash(u)
    // layout makes that join zero-exchange for BOTH sides (the last
    // orientation join leaves it on hash(dst), which would force two
    // fresh exchanges of the full oriented set)
    val oriented = e
      .join(deg.select($"src", $"deg".as("du")), "src")
      .join(deg.select($"src".as("dst"), $"deg".as("dv")), "dst")
      .filter($"du" < $"dv" || ($"du" === $"dv" && $"src" < $"dst"))
      .select($"src".as("u"), $"dst".as("v"), $"dv")
      .repartition($"u")
      .localCheckpoint(true)
    // in-operator budget guard (one aggregate over the node-sized
    // oriented out-degree frame, off the cache the join reuses):
    // orientation caps outdeg at √(2|E|), so tripping this means the
    // graph itself is past the exact-enumeration budget — the guard
    // turns a job that can't finish into an immediate, sized error.
    // The same aggregate also yields the oriented edge COUNT, which
    // sizes the closing-join broadcast below (census-measured, never
    // a planner estimate — the checkpointed frame has default stats).
    val oc = oriented.groupBy($"u").agg(count(lit(1)).as("odeg"))
    requireWedgeBudget(wedgeSum(oc, "odeg"),
      wedgeBudget, "trianglesOf",
      "edge-sampling estimation (Doulion-style) on a subgraph")
    val orientedRows = Option(oc.agg(sum($"odeg")).head.get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    // wedges from each apex's out-neighborhood, ordered within the
    // same (deg, id) total order so each unordered pair appears once
    val wedges = oriented.select($"u", $"v".as("v1"), $"dv".as("d1"))
      .join(oriented.select($"u", $"v".as("v2"), $"dv".as("d2")), "u")
      .filter($"d1" < $"d2" || ($"d1" === $"d2" && $"v1" < $"v2"))
      .select($"u", $"v1", $"v2")
    // (v1, v2) respects the orientation order, so the closing edge —
    // if it exists — is oriented v1→v2: one semi-join closes the
    // wedge. BROADCAST the oriented edge set when the census says it
    // fits (r17; guide §3.1): the probe charged the closing join with
    // a full exchange + sort of the 74 M-row wedge stream to
    // hash(v1,v2) — shipping the edge-sized build side instead keeps
    // the wedge stream where it was generated, zero exchange.
    val closing = oriented.select($"u".as("v1"), $"v".as("v2"))
    val closingSide =
      if (orientedRows > 0L && orientedRows <= 8000000L) broadcast(closing)
      else closing
    val tri = wedges.join(closingSide, Seq("v1", "v2"), "left_semi")
    val out = tri.select(explode(array($"u", $"v1", $"v2")).as("node"))
      .groupBy($"node")
      .agg(count(lit(1)).as("triangles"))
      .localCheckpoint(true)
    out
  }

  def clusteringByDegree(spark: SparkSession, dir: String): DataFrame =
    clusteringByDegreeOf(copurchaseEdges(spark, dir))

  /** Local clustering coefficient census by degree class (the
    * Watts–Strogatz small-world diagnostic): per node with deg ≥ 2,
    * lcc = 2·tri / (deg·(deg−1)), reported as the per-degree-class
    * node count, triangle mass, and mean lcc. Exactness device: lcc
    * lives in floor-divided integer PPM — (2·tri·10⁶) div
    * (deg·(deg−1)) — and the class mean floor-divides the ppm SUM by
    * the class size, so no fp touches the result at all (headroom:
    * 2·tri·10⁶ ≤ deg²·10⁶ holds BIGINT to deg ≈ 3·10⁶; a hub past
    * that trips the wedge budget first). Cost is the [[trianglesOf]]
    * wedge stream (same budget guard); everything after the triangle
    * count is node-sized, and the output is degree-class-sized.
    */
  def clusteringByDegreeOf(edges: DataFrame,
      wedgeBudget: Long = DefaultWedgeBudget): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // materialized once: degree census and the triangle core both
    // consume the edge frame (localCheckpoint, not persist — the
    // co-purchase plan is shared across gate functions and a peer's
    // unpersist could yank a shared cache entry mid-flight)
    val e = edges.localCheckpoint(true)
    val tri = perNodeTriangles(e, wedgeBudget)
    e.groupBy($"src".as("node")).agg(count(lit(1)).as("deg"))
      .filter($"deg" >= 2)
      .join(tri, Seq("node"), "left")
      .withColumn("tri", coalesce($"triangles", lit(0L)))
      .withColumn("lcc_ppm",
        expr("(2 * tri * 1000000L) div (deg * (deg - 1))"))
      .groupBy($"deg".as("degree"))
      .agg(count(lit(1)).as("nodes"), sum($"tri").as("tri_sum"),
        expr("CAST(sum(lcc_ppm) div count(1) AS BIGINT)")
          .as("mean_lcc_ppm"))
      .orderBy($"degree")
  }

  /** Oracle: full a<b<c triangle enumeration (the [[trianglesSql]]
    * device without the top-k cut), per-node counts left-joined to
    * the degree census, identical integer-ppm floor divisions.
    */
  val clusteringByDegreeSql: String =
    """WITH pairs AS (
         SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       deg AS (
         SELECT node, CAST(count(*) AS BIGINT) AS deg
         FROM (SELECT p1 AS node FROM pairs
               UNION ALL SELECT p2 FROM pairs) GROUP BY node),
       tri AS (
         SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
         FROM pairs e1
         JOIN pairs e2 ON e2.p1 = e1.p2
         JOIN pairs e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2),
       tcnt AS (
         SELECT node, CAST(count(*) AS BIGINT) AS tri
         FROM (SELECT a AS node FROM tri
               UNION ALL SELECT b FROM tri
               UNION ALL SELECT c FROM tri) GROUP BY node),
       pernode AS (
         SELECT d.deg, coalesce(t.tri, 0) AS tri,
                (2 * coalesce(t.tri, 0) * 1000000) // (d.deg * (d.deg - 1))
                  AS lcc_ppm
         FROM deg d LEFT JOIN tcnt t USING (node)
         WHERE d.deg >= 2)
       SELECT deg AS degree, CAST(count(*) AS BIGINT) AS nodes,
              CAST(sum(tri) AS BIGINT) AS tri_sum,
              CAST(CAST(sum(lcc_ppm) AS BIGINT) // count(*) AS BIGINT)
                AS mean_lcc_ppm
       FROM pernode GROUP BY degree ORDER BY degree"""

  /** Oracle: id-ordered a<b<c enumeration over the p1<p2 edge set. */
  val trianglesSql: String =
    """WITH pairs AS (
         SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       tri AS (
         SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
         FROM pairs e1
         JOIN pairs e2 ON e2.p1 = e1.p2
         JOIN pairs e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2),
       tnodes AS (
         SELECT a AS node FROM tri
         UNION ALL SELECT b FROM tri
         UNION ALL SELECT c FROM tri)
       SELECT node, count(*) AS triangles
       FROM tnodes GROUP BY node
       ORDER BY triangles DESC, node LIMIT 20"""

  /** The nodes of a checkpointed (src, dst) frame whose id ≡ 0 mod
    * `seedMod` — the sampled seed set of the BFS-family gates.
    */
  private def seedNodes(e: DataFrame, seedMod: Long): DataFrame =
    e.select(col("src").as("node")).distinct()
      .filter(col("node") % seedMod === 0)

  /** The seeded BFS of [[kHopOf]], [[harmonicOf]] and
    * [[linClosenessOf]]: `levels(l)` holds the (s, node) pairs first
    * reached at hop l from source s, and `levels(0)` the seeds. The
    * first level a pair appears IS its distance (the (s, node)
    * anti-join against the visited set guarantees it), and the
    * frontier is always the distinct NEW layer, so a node is expanded
    * once per source however many paths reach it (work is
    * O(|E reachable|) per source, not O(paths) — the difference
    * between BFS and path enumeration on a 100 TB graph). Seeds that
    * share one source id run as one multi-source BFS: each node then
    * appears once, at its minimum hop over all of them.
    *
    * `e` is the caller's checkpointed (src, dst) frame. Per level:
    * one SHUFFLE_HASH frontier join (the [[pageRankWeightedOf]]
    * rationale — no edge re-sort per level; under AQE it re-exchanges
    * the edge side with the (s, node) scalars); the distinct BEFORE
    * the visited anti-join (aggregate before you shuffle: the raw
    * frontier×edge stream repeats each (s, dst) ~deg times, so the
    * anti-join exchanges the collapsed set — identical result, it
    * drops whole keys either way); one localCheckpoint, so level l's
    * lineage starts from level l−1 instead of replaying every earlier
    * join (without it the BFS goes quadratic in jobs). `vis` stays a
    * LAZY union of the checkpointed levels — no checkpoint job of its
    * own. [[betweennessOf]] keeps its own forward loop: it sums path
    * counts σ per (s, node), which a merged seed set could overflow.
    */
  private def seededBfs(e: DataFrame, seeds: DataFrame,
      hops: Int): IndexedSeq[DataFrame] = {
    val levels = new Array[DataFrame](hops + 1)
    levels(0) = seeds.select(col("s"), col("node")).localCheckpoint(true)
    var vis = levels(0)
    for (l <- 1 to hops) {
      levels(l) = e.join(levels(l - 1).hint("shuffle_hash"),
          col("src") === col("node"))
        .select(col("s"), col("dst").as("node")).distinct()
        .join(vis.select(col("s").as("vs"), col("node").as("vn")),
          col("s") === col("vs") && col("node") === col("vn"), "left_anti")
        .localCheckpoint(true)
      vis = vis.unionByName(levels(l))
    }
    levels.toIndexedSeq
  }

  /** Min-hop BFS layers: nodes within `hops` hops of the seed set
    * (graph nodes whose id ≡ 0 mod 97), reported as one row per hop
    * (count + id checksum) — [[seededBfs]] with every seed under one
    * source id, so a node counts once, at its minimum hop. The oracle
    * unrolls the identical layers as chained CTEs — same device as
    * [[pageRankSql]].
    */
  def kHop(spark: SparkSession, dir: String): DataFrame =
    kHopOf(copurchaseEdges(spark, dir), seedMod = 97L, hops = 3)

  def kHopOf(edges: DataFrame, seedMod: Long, hops: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.localCheckpoint(true)
    seededBfs(e, seedNodes(e, seedMod).select(lit(0L).as("s"), $"node"), hops)
      .zipWithIndex
      .map { case (level, h) => level.select($"node", lit(h.toLong).as("hop")) }
      .reduce(_ unionByName _)
      .groupBy($"hop")
      .agg(count(lit(1)).as("n"), sum($"node").as("node_sum"))
      .orderBy($"hop")
      .localCheckpoint(true)
  }

  /** Oracle: the same BFS layers unrolled (h1..h3), NOT-IN for the
    * visited anti-joins.
    */
  val kHopSql: String =
    """WITH pairs AS (
         SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       edges AS (
         SELECT p1 AS src, p2 AS dst FROM pairs
         UNION ALL
         SELECT p2 AS src, p1 AS dst FROM pairs),
       h0 AS (
         SELECT DISTINCT src AS node FROM edges WHERE src % 97 = 0),
       h1 AS (
         SELECT DISTINCT e.dst AS node
         FROM edges e JOIN h0 ON e.src = h0.node
         WHERE e.dst NOT IN (SELECT node FROM h0)),
       h2 AS (
         SELECT DISTINCT e.dst AS node
         FROM edges e JOIN h1 ON e.src = h1.node
         WHERE e.dst NOT IN (SELECT node FROM h0 UNION ALL
                             SELECT node FROM h1)),
       h3 AS (
         SELECT DISTINCT e.dst AS node
         FROM edges e JOIN h2 ON e.src = h2.node
         WHERE e.dst NOT IN (SELECT node FROM h0 UNION ALL
                             SELECT node FROM h1 UNION ALL
                             SELECT node FROM h2)),
       layers AS (
         SELECT CAST(0 AS BIGINT) AS hop, node FROM h0
         UNION ALL SELECT 1, node FROM h1
         UNION ALL SELECT 2, node FROM h2
         UNION ALL SELECT 3, node FROM h3)
       SELECT hop, count(*) AS n, CAST(sum(node) AS BIGINT) AS node_sum
       FROM layers GROUP BY hop ORDER BY hop"""

  /** Weighted co-purchase edges: weight = co-purchase instance count
    * across orders (the same support semantics as
    * [[Analytics.basketPairs]], whose oracle self-join this mirrors),
    * emitted in both directions. Same Σ basket² map-side pair
    * generation — never a self-join on our side.
    */
  def copurchaseEdgesWeighted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = Tables.lineitem(spark, dir)
      .groupBy($"l_orderkey")
      .agg(sort_array(collect_list($"l_partkey")).as("parts"))
      .select(explode(expr(
        """flatten(transform(parts, (x, i) ->
             transform(slice(parts, i + 2, size(parts)),
                       y -> struct(x AS p1, y AS p2))))""")).as("pr"))
      .filter($"pr.p1" < $"pr.p2")
      .groupBy($"pr.p1".as("p1"), $"pr.p2".as("p2"))
      .agg(count(lit(1)).as("w"))
    pairs.select($"p1".as("src"), $"p2".as("dst"), $"w")
      .unionByName(pairs.select($"p2".as("src"), $"p1".as("dst"), $"w"))
  }

  /** Gate: 5 weighted integer-unit PageRank iterations, top 20. */
  def pageRankWeighted(spark: SparkSession, dir: String): DataFrame =
    pageRankWeightedOf(copurchaseEdgesWeighted(spark, dir), iters = 5, topK = 20)

  /** Weight-proportional PageRank over (src, dst, w): contribution =
    * (rank·w) div Σ_out w, all integer — bit-exact on any merge order
    * (the exactness device of the class doc). Unweighted callers pass
    * w = 1. Long headroom: rank mass ≤ 10⁶·N micro-units, so rank·w
    * stays under 2⁶³ while N·max(w) < ~9·10¹² — e.g. 10⁹ nodes with
    * weights to 10³; beyond that, rescale weights first.
    */
  def pageRankWeightedOf(edges: DataFrame, iters: Int, topK: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // node-count-sized; materialized because it seeds the ranks AND
    // joins the edge list. localCheckpoint, NOT persist: plan-keyed
    // cache entries are process-global, and the wout/e plans here are
    // structurally identical across the PageRank-family gates — a
    // peer gate's unpersist under Verify's 4-way concurrency yanked
    // the shared entry mid-loop (observed once as an empty propagation
    // in graph_ppr, r11). Checkpoint blocks are RDD-private and
    // reaped by GC.
    val wout = edges.groupBy($"src").agg(sum($"w").as("wout"))
      .localCheckpoint(true)
    // one checkpointed copy serves every iteration; under AQE the
    // checkpoint forgets the join's hash partitioning on src, so each
    // iteration's join re-exchanges the edge side with the scalar
    // (node, rank) rows
    val e = edges.join(wout, "src")
      .localCheckpoint(true)
    // the per-iteration join streams the edge list against the
    // node-sized rank frame: SHUFFLE_HASH on the rank side skips the
    // sort-merge join's re-sort of the edge list every iteration
    // (guide §3.1 — build the moderately-small side per partition;
    // measured 2.84 → 2.23 s for the 5-iteration loop body at
    // sf0.1/local[32], OPTIMIZATION_r17.md "Batch 1").
    // The build side is node-scale, so per-partition hash tables stay
    // small at any production partition count.
    var ranks = wout.select($"src".as("node"), lit(1000000L).as("rank"))
    for (_ <- 1 to iters) {
      ranks = e.join(ranks.hint("shuffle_hash"), $"src" === $"node")
        .select($"dst", expr("(rank * w) div wout").as("contrib"))
        .groupBy($"dst")
        .agg(expr("150000L + (850L * sum(contrib)) div 1000L").as("rank"))
        .select($"dst".as("node"), $"rank")
    }
    // materialize the top-k rows eagerly; localCheckpoint rather
    // than cache() so repeated invocations don't alias each other
    // through the plan-keyed CacheManager (which would make any run
    // after the first read a 20-row cache — unrepresentative)
    ranks.orderBy($"rank".desc, $"node").limit(topK)
      .localCheckpoint(true)
  }

  /** Oracle: unrolled CTE chain, weights via the self-join count the
    * basket-pairs oracle already uses.
    */
  val pageRankWeightedSql: String = {
    val stages = (1 to 5).map { t =>
      s"""r$t AS (
            SELECT e.dst AS node,
                   CAST(150000 + (850 * sum((r.rank * e.w) // d.wout)) // 1000
                        AS BIGINT) AS rank
            FROM r${t - 1} r
            JOIN wout d ON r.node = d.src
            JOIN edges e ON e.src = r.node
            GROUP BY e.dst)"""
    }.mkString(",\n")
    s"""WITH pairs AS (
          SELECT a.l_partkey AS p1, b.l_partkey AS p2,
                 CAST(count(*) AS BIGINT) AS w
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2),
        edges AS (
          SELECT p1 AS src, p2 AS dst, w FROM pairs
          UNION ALL
          SELECT p2 AS src, p1 AS dst, w FROM pairs),
        wout AS (
          SELECT src, CAST(sum(w) AS BIGINT) AS wout
          FROM edges GROUP BY src),
        r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rank FROM wout),
        $stages
        SELECT node, rank FROM r5 ORDER BY rank DESC, node LIMIT 20"""
  }

  /** Gate: connected components of the co-purchase graph, reported
    * as a per-component census (component = min part id in it).
    *
    * The iteration is [[Dedup.clusters]] — the same frontier-based
    * min-label propagation that clusters near-duplicate documents
    * runs unchanged on any undirected pair list, so components cost
    * zero new iterative machinery: per round only the still-improving
    * frontier joins the cached src-partitioned edges, labels converge
    * to the component-min in O(diameter) rounds, and each round's
    * lineage is truncated (localCheckpoint'd RDD) so round h never
    * replays rounds 1..h-1. The census then reduces the node-level
    * labels to |components| rows — nothing component-sized ever
    * crosses the driver.
    *
    * Oracle: recursive-CTE reachability closure (min reachable id) —
    * correct at the sf0.01 gate scale; the closure is O(n·|component|)
    * and exists only on the DuckDB side.
    */
  def components(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    componentsOf(copurchaseEdges(spark, dir).filter($"src" < $"dst"))
  }

  /** `pairs` must be one-directional (src < dst); [[Dedup.clusters]]
    * adds the reverse direction itself.
    */
  def componentsOf(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    Dedup.clusters(pairs, "src", "dst")
      .groupBy($"cluster_id".as("component"))
      .agg(count(lit(1)).as("n_nodes"), sum($"doc_id").as("node_sum"))
      .orderBy($"component")
  }

  /** Gate: degree-distribution census of the co-purchase graph — the
    * first diagnostic of any graph workload (hub detection, join
    * budget estimation: triangle work is Σ C(deg, 2)). Two nested
    * aggregations, the second over the |distinct degrees|-sized
    * frame; nothing node-sized crosses the driver.
    */
  def degrees(spark: SparkSession, dir: String): DataFrame =
    degreesOf(copurchaseEdges(spark, dir))

  def degreesOf(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges
      .groupBy($"src").agg(count(lit(1)).as("deg"))
      .groupBy($"deg")
      .agg(count(lit(1)).as("n_nodes"), sum($"src").as("node_sum"))
      .orderBy($"deg")
  }

  /** Gate `graph_budget_census`: the auto-budget pre-flight's census
    * arithmetic ([[planGraphBudget]], the knob source for the whole
    * graph family) board-verified against a DuckDB replay of the same
    * degree census over the same both-directions co-purchase frame —
    * (|V|, edge rows, max degree, Σ C(deg,2)) plus the two
    * budget-threshold verdicts (`exactWedgesOk`, `trussPrePeel`)
    * evaluated at the production default. The derived seedMod knobs
    * are iterative fits with no SQL spelling and stay spec-pinned
    * (GraphSpec's crafted-hub case); this gate pins the CENSUS those
    * fits read, which is where a wrong answer would silently
    * mis-budget every downstream operator.
    */
  def budgetCensus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = planGraphBudget(copurchaseEdges(spark, dir))
    Seq((k.nodes, k.edgeRows, k.maxDeg, k.wedges, k.exactWedgesOk,
        k.trussPrePeel))
      .toDF("nodes", "edge_rows", "max_deg", "wedges",
        "exact_wedges_ok", "truss_pre_peel")
  }

  val budgetCensusSql: String =
    s"""WITH pairs AS (
         SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       edges AS (
         SELECT p1 AS src, p2 AS dst FROM pairs
         UNION ALL
         SELECT p2 AS src, p1 AS dst FROM pairs),
       deg AS (
         SELECT src, CAST(count(*) AS BIGINT) AS deg
         FROM edges GROUP BY src)
       SELECT CAST(count(*) AS BIGINT) AS nodes,
              CAST(sum(deg) AS BIGINT) AS edge_rows,
              CAST(max(deg) AS BIGINT) AS max_deg,
              CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS wedges,
              sum(deg * (deg - 1) // 2) <= $DefaultWedgeBudget
                AS exact_wedges_ok,
              sum(deg * (deg - 1) // 2) > $DefaultWedgeBudget
                AS truss_pre_peel
       FROM deg"""

  val degreesSql: String =
    """WITH pairs AS (
         SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       edges AS (
         SELECT p1 AS src, p2 AS dst FROM pairs
         UNION ALL
         SELECT p2 AS src, p1 AS dst FROM pairs),
       deg AS (
         SELECT src, CAST(count(*) AS BIGINT) AS deg
         FROM edges GROUP BY src)
       SELECT deg, CAST(count(*) AS BIGINT) AS n_nodes,
              CAST(sum(src) AS BIGINT) AS node_sum
       FROM deg GROUP BY deg ORDER BY deg"""

  /** Gate: bounded-round weighted single-source shortest paths from
    * the seed set (part ids ≡ 0 mod 97), reported as a per-distance
    * census after 4 relaxation rounds.
    */
  def sssp(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ssspDistsOf(copurchaseEdgesWeighted(spark, dir), seedMod = 97L, rounds = 4)
      .groupBy($"dist")
      .agg(count(lit(1)).as("n"), sum($"node").as("node_sum"))
      .orderBy($"dist")
  }

  /** Frontier Bellman-Ford: after round k, `dist(v)` = the exact
    * minimum path weight from the seed set using ≤ k edges — the
    * same fixpoint full k-round relaxation computes, because a node
    * whose distance did NOT improve in round k−1 would re-offer
    * candidates already offered then (the standard frontier
    * invariant), so only the improved set needs to propagate. All
    * integer, so min-combining is exact on any merge order.
    *
    * Scale shape: the weighted edge list is checkpointed once; per
    * round one frontier join (which re-exchanges the edge side: under
    * AQE the checkpoint forgets its partitioning on src) + one
    * map-side-combined min per dst + one anti-join against the
    * node-sized distance map, and each round's lineage is truncated
    * (same device as [[kHopOf]]) so round k never replays rounds
    * 1..k−1. Work is O(|E touched by improvements|) per round, the
    * distributed-SSSP minimum; bounded rounds make the gate
    * oracle-expressible (unrolled CTEs), and unbounded SSSP is the
    * same loop run to an empty frontier.
    */
  def ssspDistsOf(edges: DataFrame, seedMod: Long, rounds: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // r17 rework. (1) The weighted edge generator hands the frame
    // over UNclustered (union of two projections); it is clustered on
    // src and checkpointed once, but under AQE the checkpoint forgets
    // that partitioning, so each round's frontier join re-exchanges
    // the edge side.
    // (2) One checkpoint per round instead of two: the round's merge
    // is a single full-outer join producing (node, dist, improved) —
    // the [[Dedup.clusters]] step device — replacing the old
    // improved-checkpoint + anti-join + union + dists-checkpoint.
    // (3) SHUFFLE_HASH on the node-sized frontier ([[pageRankWeightedOf]]).
    val e = edges.repartition($"src").localCheckpoint(true)
    var dists = e.select($"src".as("node")).distinct()
      .filter($"node" % seedMod === 0)
      .withColumn("dist", lit(0L))
      .localCheckpoint(true)
    var frontier = dists
    for (_ <- 1 to rounds) {
      val cand = e.join(frontier.hint("shuffle_hash"), $"src" === $"node")
        .select($"dst", ($"dist" + $"w").as("cdist"))
        .groupBy($"dst").agg(min($"cdist").as("cdist"))
      val step = dists.join(cand, $"node" === $"dst", "full_outer")
        .select(coalesce($"node", $"dst").as("node"),
          when($"dist".isNull || ($"cdist".isNotNull && $"cdist" < $"dist"),
            $"cdist").otherwise($"dist").as("dist"),
          ($"dist".isNull || ($"cdist".isNotNull && $"cdist" < $"dist"))
            .as("improved"))
        .localCheckpoint(true)
      dists = step.select($"node", $"dist")
      frontier = step.filter($"improved").select($"node", $"dist")
    }
    dists
  }

  /** Oracle: the identical 4 relaxation rounds unrolled — d_k(v) =
    * min(d_{k-1}(v), min over edges (d_{k-1}(u) + w)) — full
    * relaxation, which the frontier form provably equals.
    */
  val ssspSql: String = {
    val stages = (1 to 4).map { t =>
      s"""d$t AS (
            SELECT node, min(dist) AS dist FROM (
              SELECT node, dist FROM d${t - 1}
              UNION ALL
              SELECT e.dst AS node, d.dist + e.w AS dist
              FROM d${t - 1} d JOIN edges e ON e.src = d.node) u
            GROUP BY node)"""
    }.mkString(",\n")
    s"""WITH pairs AS (
          SELECT a.l_partkey AS p1, b.l_partkey AS p2,
                 CAST(count(*) AS BIGINT) AS w
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2),
        edges AS (
          SELECT p1 AS src, p2 AS dst, w FROM pairs
          UNION ALL
          SELECT p2 AS src, p1 AS dst, w FROM pairs),
        d0 AS (
          SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist
          FROM edges WHERE src % 97 = 0),
        $stages
        SELECT dist, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(node) AS BIGINT) AS node_sum
        FROM d4 GROUP BY dist ORDER BY dist"""
  }

  val componentsSql: String =
    """WITH RECURSIVE pairs AS (
         SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       und AS (
         SELECT p1 AS src, p2 AS dst FROM pairs
         UNION ALL
         SELECT p2 AS src, p1 AS dst FROM pairs),
       reach(id, r) AS (
         SELECT src, src FROM und
         UNION
         SELECT u.src, reach.r FROM und u JOIN reach ON u.dst = reach.id),
       labels AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
       SELECT component, CAST(count(*) AS BIGINT) AS n_nodes,
              CAST(sum(id) AS BIGINT) AS node_sum
       FROM labels GROUP BY component ORDER BY component"""

  /** Exact non-adjacent candidate pairs of a both-directions edge
    * frame — the wedge census of [[neighborJaccardOf]] and
    * [[adamicAdarOf]], and the one owner of their packed pair format
    * (a·2³² + b in one long).
    *
    * ONE materialization: the degree census and both self-join sides
    * run off a single checkpoint of `edges`. Under AQE the checkpoint
    * forgets the src clustering [[copurchaseEdges]] hands over, so
    * the joins on it re-exchange the edge side — the r16 probe charged
    * ~4 s of the old gate to the extra e-checkpoint + repartition +
    * count passes this replaces. min/max(dst) ride the census's
    * per-src pass, so ONE node-sized pre-flight aggregate over it
    * yields every runtime precondition and sizing knob:
    * (1) id range: the pair packing needs ids in [0, 2³²) — out of
    *     range would COLLIDE keys (silently wrong counts); BOTH src
    *     and dst domains are checked (r16 ADVICE: a caller violating
    *     the symmetric-edge contract could slip an out-of-range dst
    *     past a src-only check);
    * (2) the wedge budget — EVERY apex's C(deg,2) wedges are the
    *     payload (orientation can't cap them), so past the ceiling
    *     the guard names `op`'s sketch `valve` and throws;
    * (3) |V| and |E|, which size the small-side joins.
    *
    * Wedges: both directions are present, so an apex's full
    * neighborhood is its out-list; a < b emits each unordered pair
    * once per shared neighbor. Generation is the co-partitioned
    * self-join (the triangles device); the a < b filter + pair
    * packing run inside whole-stage codegen — no per-apex C(deg,2)
    * array ever materializes (a 10⁶-wedge hub row would).
    * `apex(nb, deg)` is the self-join's apex side, (src, a, payload…)
    * with a a neighbor of src; `aggs` fold the payload per pair.
    *
    * The fold is an explicit repartition on pk + aggregate, NOT a
    * bare groupBy: candidate pairs barely repeat (sf0.1: 148 M
    * wedges → 102 M distinct pairs), so map-side partial aggregation
    * buys a 1.4× row cut while its per-map hash table holds the whole
    * near-distinct key set — measured 41 s vs 15 s for the
    * shuffle-raw-longs-then-aggregate-once shape (sf0.1, 32 cores;
    * OPTIMIZATION_r16.md §1 "Graph family"). Partition count scales
    * with the measured wedge stream (≥ session parallelism, ~3 M
    * wedges per task) instead of being a local constant.
    *
    * Adjacency exclusion on the SAME packed key: the candidate side
    * keeps its hash(pk) layout from the aggregate (zero exchange on
    * the 10⁸-row side; only the edge-sized side moves), and an edge
    * set small enough to ship outright is broadcast — sized from the
    * census, not guessed from plan statistics (the checkpointed
    * frame's estimate is a default, so the planner alone would never
    * pick the broadcast).
    *
    * Returns the candidates (a, b, aggs…), the checkpointed degree
    * census (src, deg, dmin, dmax) and |V|.
    */
  private def wedgeCandidates(edges: DataFrame, wedgeBudget: Long,
      op: String, valve: String, apex: (DataFrame, DataFrame) => DataFrame,
      aggs: Column*): (DataFrame, DataFrame, Long) = {
    val nb = edges.localCheckpoint(true)
    val deg = nb.groupBy(col("src")).agg(count(lit(1)).as("deg"),
        min(col("dst").cast("long")).as("dmin"),
        max(col("dst").cast("long")).as("dmax"))
      .localCheckpoint(true)
    val r = deg.agg(
      min(least(col("src").cast("long"), col("dmin"))),
      max(greatest(col("src").cast("long"), col("dmax"))),
      count(lit(1)), sum(col("deg")),
      sum(expr("deg * (deg - 1) div 2"))).head
    var nodes, edgeRows, wedges = 0L
    if (!r.isNullAt(0)) {
      val (mn, mx) = (r.getLong(0), r.getLong(1))
      require(mn >= 0L && mx < 4294967296L,
        s"$op packs pairs as a*2^32+b, which needs node " +
          s"ids in [0, 2^32) — got [$mn, $mx]; remap ids first")
      nodes = r.getLong(2)
      edgeRows = r.getLong(3)
      wedges = r.getLong(4)
    }
    requireWedgeBudget(wedges, wedgeBudget, op, valve)
    val aggParts = math.max(
      edges.sparkSession.sessionState.conf.numShufflePartitions,
      math.min(4096L, wedges / 3000000L).toInt)
    val side = apex(nb, deg)
    val payload = side.columns.filterNot(Set("src", "a")).map(col).toSeq
    val pairs = side
      .join(nb.select(col("src"), col("dst").as("b")), "src")
      .filter(col("a") < col("b"))
      .select(((col("a") * lit(4294967296L) + col("b")).as("pk") +: payload): _*)
      .repartition(aggParts, col("pk"))
      .groupBy(col("pk"))
      .agg(aggs.head, aggs.tail: _*)
    val adjPacked = nb.filter(col("src") < col("dst"))
      .select((col("src") * lit(4294967296L) + col("dst")).as("pk"))
    val adjSide =
      if (edgeRows <= 8000000L) broadcast(adjPacked) else adjPacked
    val links = pairs.join(adjSide, Seq("pk"), "left_anti")
      .select(Seq(expr("pk div 4294967296L").as("a"),
          (col("pk") % lit(4294967296L)).as("b")) ++
        pairs.columns.filter(_ != "pk").map(col): _*)
    (links, deg, nodes)
  }

  /** Gate: neighborhood-Jaccard link prediction, top 20. */
  def neighborJaccard(spark: SparkSession, dir: String): DataFrame =
    neighborJaccardOf(copurchaseEdges(spark, dir), topK = 20)

  /** Link prediction by neighborhood Jaccard (Liben-Nowell & Kleinberg
    * 2003): score the NON-adjacent pairs (a, b) by
    * |N(a)∩N(b)| / |N(a)∪N(b)|, held exact in integer parts per
    * million — jac_ppm = (common·10⁶) div (deg(a)+deg(b)−common).
    * Common-neighbor counts come from apex-side wedge enumeration
    * ([[wedgeCandidates]]: each shared neighbor c contributes the
    * (a, b) pair once from its own adjacency, a < b ordering dedups
    * the unordered pair), one count per pair. Unlike triangle
    * counting, exact common-neighbor counting is intrinsically
    * Σ C(deg, 2) over apexes — degree orientation cannot cap it
    * because EVERY apex's wedges are the payload, not a closure
    * witness; [[degrees]] is the published budget check
    * (Σ C(deg,2) ≤ |E|·max-deg), and past that budget the scalable
    * relaxation is neighborhood MinHash ([[neighborJaccardSketchOf]]),
    * trading exactness for linear sketches — the same valve the dedup
    * family documents. Prediction = highest-scoring new links.
    */
  def neighborJaccardOf(edges: DataFrame, topK: Int,
      wedgeBudget: Long = DefaultWedgeBudget): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val (links, deg, nodes) = wedgeCandidates(edges, wedgeBudget,
      "neighborJaccardOf", "neighborJaccardSketchOf (adjacency-MinHash " +
        "candidates + exact re-verify)",
      (nb, _) => nb.select($"src", $"dst".as("a")),
      count(lit(1)).as("common"))
    // deg is node-sized: broadcast when the census says it fits
    def degSide(k: String, v: String) = {
      val d = deg.select($"src".as(k), $"deg".as(v))
      if (nodes <= 4000000L) broadcast(d) else d
    }
    links
      .join(degSide("a", "da"), "a")
      .join(degSide("b", "db"), "b")
      .withColumn("jac_ppm",
        expr("(common * 1000000L) div (da + db - common)"))
      .select($"a", $"b", $"common", $"jac_ppm")
      .orderBy($"jac_ppm".desc, $"a", $"b")
      .limit(topK)
      .localCheckpoint(true)
  }

  /** Oracle: wedge self-join per apex + NOT EXISTS against the edge
    * set — the textbook spelling of the same candidate algebra.
    */
  val neighborJaccardSql: String =
    """WITH pairs AS (
         SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       edges AS (
         SELECT p1 AS src, p2 AS dst FROM pairs
         UNION ALL
         SELECT p2 AS src, p1 AS dst FROM pairs),
       deg AS (
         SELECT src, CAST(count(*) AS BIGINT) AS deg
         FROM edges GROUP BY src),
       common AS (
         SELECT e1.dst AS a, e2.dst AS b, CAST(count(*) AS BIGINT) AS common
         FROM edges e1 JOIN edges e2
           ON e1.src = e2.src AND e1.dst < e2.dst
         GROUP BY 1, 2),
       cand AS (
         SELECT a, b, common FROM common c
         WHERE NOT EXISTS (SELECT 1 FROM pairs p
                           WHERE p.p1 = c.a AND p.p2 = c.b))
       SELECT a, b, common,
              (common * 1000000) // (da.deg + db.deg - common) AS jac_ppm
       FROM cand
       JOIN deg da ON da.src = cand.a
       JOIN deg db ON db.src = cand.b
       ORDER BY jac_ppm DESC, a, b LIMIT 20"""

  def adamicAdar(spark: SparkSession, dir: String): DataFrame =
    adamicAdarOf(copurchaseEdges(spark, dir), topK = 20)

  /** Adamic–Adar link prediction (Adamic & Adar 2003; the
    * link-prediction benchmark weighting of Liben-Nowell &
    * Kleinberg): score non-adjacent pairs by
    * Σ_{c ∈ N(a)∩N(b)} 1/ln deg(c) — a rare shared neighbor is
    * stronger evidence than a hub both happen to touch.
    *
    * Exactness device: the apex weight is quantized ONCE per apex to
    * integer micro-units, w = round(10⁶ / ln deg) (deg ≥ 2 — a
    * deg-1 apex spawns no wedge, and the CASE guard keeps ANSI mode
    * off the ln(1)=0 division), so the per-pair score is an exact
    * BIGINT sum — bit-identical on any partition merge order, which
    * a raw double Σ 1/ln(deg) could not promise across engines.
    *
    * Plan shape = [[wedgeCandidates]] with one twist: the apex's
    * weight, joined from the checkpointed degree census (node-sized),
    * rides each adjacency row into the self-join, and the pair
    * aggregate sums it besides counting. Same Σ C(deg,2) intrinsic cost,
    * same wedge-budget guard, same single-long pair packing; past
    * budget the guard names [[adamicAdarSketchOf]] — the MinHash
    * candidate stage with the SAME integer AA re-score on candidates.
    */
  def adamicAdarOf(edges: DataFrame, topK: Int,
      wedgeBudget: Long = DefaultWedgeBudget): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val (links, _, _) = wedgeCandidates(edges, wedgeBudget,
      "adamicAdarOf", "adamicAdarSketchOf (adjacency-MinHash candidates " +
        "+ exact integer micro-unit AA re-score)",
      (nb, deg) => nb.join(deg.select($"src", expr(
          "CASE WHEN deg >= 2 THEN CAST(round(1000000.0 / ln(deg)) AS BIGINT) " +
            "ELSE CAST(0 AS BIGINT) END").as("w")), "src")
        .select($"src", $"w", $"dst".as("a")),
      count(lit(1)).as("common"), sum($"w").as("aa_micro"))
    links.orderBy($"aa_micro".desc, $"a", $"b")
      .limit(topK)
      .localCheckpoint(true)
  }

  /** Oracle: the same candidate algebra with the apex weight spelled
    * in the wedge self-join's projection.
    */
  val adamicAdarSql: String =
    """WITH pairs AS (
         SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       edges AS (
         SELECT p1 AS src, p2 AS dst FROM pairs
         UNION ALL
         SELECT p2 AS src, p1 AS dst FROM pairs),
       deg AS (
         SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
       wt AS (
         SELECT src,
                CASE WHEN deg >= 2
                     THEN CAST(round(1000000.0 / ln(deg)) AS BIGINT)
                     ELSE CAST(0 AS BIGINT) END AS w
         FROM deg),
       scored AS (
         SELECT e1.dst AS a, e2.dst AS b,
                CAST(count(*) AS BIGINT) AS common,
                CAST(sum(wt.w) AS BIGINT) AS aa_micro
         FROM edges e1
         JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         JOIN wt ON wt.src = e1.src
         GROUP BY 1, 2),
       cand AS (
         SELECT a, b, common, aa_micro FROM scored c
         WHERE NOT EXISTS (SELECT 1 FROM pairs p
                           WHERE p.p1 = c.a AND p.p2 = c.b))
       SELECT a, b, common, aa_micro
       FROM cand ORDER BY aa_micro DESC, a, b LIMIT 20"""

  /** Gate: 5 personalized-PageRank iterations from the mod-97 seed
    * set, top 20.
    */
  def personalizedPageRank(spark: SparkSession, dir: String): DataFrame =
    personalizedPageRankOf(copurchaseEdges(spark, dir), seedMod = 97L,
      iters = 5, topK = 20)

  /** Personalized PageRank (the random-walk-with-restart relevance
    * score behind related-items / node-similarity features): teleport
    * returns to the SEED SET, not the uniform distribution, so rank
    * concentrates around the seeds. Same integer-unit exactness
    * device as [[pageRankWeightedOf]] — seeds start at 10⁶ micro-units,
    * non-seeds at 0, and the restart mass (150 000) is added to seeds
    * only: r_{t+1}(v) = (seed ? 150000 : 0) + (850·Σ r_t(u) div
    * outdeg(u)) div 1000 — bit-exact on any merge order. Plan shape
    * is identical to the global operator: one cached src-partitioned
    * edge join, scalar (node, rank) shuffles per step; the seed flag
    * is a pure arithmetic predicate, no second frame.
    */
  def personalizedPageRankOf(edges: DataFrame, seedMod: Long, iters: Int,
      topK: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("outdeg"))
      .localCheckpoint(true)
    val e = edges.join(deg, "src")
      .localCheckpoint(true)
    var ranks = deg.select($"src".as("node"),
      when($"src" % seedMod === 0, 1000000L).otherwise(0L).as("rank"))
    for (_ <- 1 to iters) {
      // right_outer keeps nodes that received no mass this round —
      // a seed with only dead-end in-neighbors must still get its
      // restart mass, and the node set must not shrink
      ranks = e.join(ranks.hint("shuffle_hash"), $"src" === $"node")
        .select($"dst", expr("rank div outdeg").as("contrib"))
        .groupBy($"dst")
        .agg(sum($"contrib").as("insum"))
        .join(deg.select($"src".as("n2")), $"dst" === $"n2", "right_outer")
        .select($"n2".as("node"),
          (when($"n2" % seedMod === 0, 150000L).otherwise(0L) +
            expr("(850L * coalesce(insum, 0L)) div 1000L")).as("rank"))
    }
    val out = ranks.filter($"rank" > 0)
      .orderBy($"rank".desc, $"node").limit(topK)
      .localCheckpoint(true)
    out
  }

  /** Oracle: the identical 5 rounds unrolled, restart mass on seeds
    * only, right-join to the full node set each round.
    */
  val personalizedPageRankSql: String = {
    val stages = (1 to 5).map { t =>
      s"""r$t AS (
            SELECT d.src AS node,
                   CAST(CASE WHEN d.src % 97 = 0 THEN 150000 ELSE 0 END
                        + (850 * coalesce(m.insum, 0)) // 1000 AS BIGINT) AS rank
            FROM deg d LEFT JOIN (
              SELECT e.dst, sum(r.rank // dd.outdeg) AS insum
              FROM r${t - 1} r
              JOIN deg dd ON r.node = dd.src
              JOIN edges e ON e.src = r.node
              GROUP BY e.dst) m ON m.dst = d.src)"""
    }.mkString(",\n")
    s"""WITH pairs AS (
          SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        edges AS (
          SELECT p1 AS src, p2 AS dst FROM pairs
          UNION ALL
          SELECT p2 AS src, p1 AS dst FROM pairs),
        deg AS (
          SELECT src, CAST(count(*) AS BIGINT) AS outdeg
          FROM edges GROUP BY src),
        r0 AS (
          SELECT src AS node,
                 CAST(CASE WHEN src % 97 = 0 THEN 1000000 ELSE 0 END AS BIGINT)
                   AS rank
          FROM deg),
        $stages
        SELECT node, rank FROM r5 WHERE rank > 0
        ORDER BY rank DESC, node LIMIT 20"""
  }

  /** Gate: 3 rounds of k-core peeling (k = 48) — census per round. */
  def kCore(spark: SparkSession, dir: String): DataFrame =
    kCoreOf(copurchaseEdges(spark, dir), k = 48, rounds = 3)

  /** Bounded-round k-core decomposition (the density filter that
    * bounds every heavier graph operator's budget: the k-core is
    * where the wedges live). Round r drops every node whose degree
    * WITHIN the surviving subgraph is < k; the fixpoint of this
    * peeling is the k-core, and each round is one aggregation + one
    * semi-join against the shrinking node set — O(|E|) per round,
    * frontier-free by design because degrees must be recomputed on
    * the induced subgraph anyway. Bounded rounds keep the gate
    * oracle-expressible (unrolled CTEs, the [[kHopSql]] device);
    * production runs the same loop to an empty diff. Lineage is
    * truncated per round so round r never replays rounds 1..r−1.
    * Output: per-round census (survivors, id checksum) — row 0 is
    * the full graph, so the result is non-empty at every SF even
    * when nothing peels.
    */
  def kCoreOf(edges: DataFrame, k: Long, rounds: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.localCheckpoint(true)
    var nodes = e.select($"src".as("node")).distinct().localCheckpoint(true)
    val censuses = Seq.newBuilder[DataFrame]
    censuses += nodes.select(lit(0L).as("round"),
      count(lit(1)).as("n_nodes"), sum($"node").as("node_sum"))
    for (r <- 1 to rounds) {
      val deg = e
        .join(nodes.select($"node".as("src")), Seq("src"), "left_semi")
        .join(nodes.select($"node".as("dst")), Seq("dst"), "left_semi")
        .groupBy($"src").agg(count(lit(1)).as("deg"))
      nodes = deg.filter($"deg" >= k).select($"src".as("node"))
        .localCheckpoint(true)
      censuses += nodes.select(lit(r.toLong).as("round"),
        count(lit(1)).as("n_nodes"), sum($"node").as("node_sum"))
    }
    val out = censuses.result().reduce(_ unionByName _)
      .orderBy($"round")
      .localCheckpoint(true)
    out
  }

  /** Oracle: the identical peeling rounds unrolled. A node with NO
    * surviving edge has induced degree 0 and drops; sum(node) over
    * zero rows is NULL in both engines, kept as-is.
    */
  val kCoreSql: String = {
    val stages = (1 to 3).map { t =>
      s"""n$t AS (
            SELECT e.src AS node
            FROM edges e
            JOIN n${t - 1} a ON e.src = a.node
            JOIN n${t - 1} b ON e.dst = b.node
            GROUP BY e.src
            HAVING count(*) >= 48)"""
    }.mkString(",\n")
    s"""WITH pairs AS (
          SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        edges AS (
          SELECT p1 AS src, p2 AS dst FROM pairs
          UNION ALL
          SELECT p2 AS src, p1 AS dst FROM pairs),
        n0 AS (SELECT DISTINCT src AS node FROM edges),
        $stages
        SELECT CAST(0 AS BIGINT) AS round,
               CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(sum(node) AS BIGINT) AS node_sum FROM n0
        UNION ALL
        SELECT 1, CAST(count(*) AS BIGINT), CAST(sum(node) AS BIGINT) FROM n1
        UNION ALL
        SELECT 2, CAST(count(*) AS BIGINT), CAST(sum(node) AS BIGINT) FROM n2
        UNION ALL
        SELECT 3, CAST(count(*) AS BIGINT), CAST(sum(node) AS BIGINT) FROM n3
        ORDER BY round"""
  }

  /** Gate: 3 rounds of k-truss peeling (k = 17) — census per round. */
  def kTruss(spark: SparkSession, dir: String): DataFrame =
    kTrussOf(copurchaseEdges(spark, dir), k = 17, rounds = 3)

  /** Bounded-round k-truss decomposition (Cohen 2008, "Trusses:
    * cohesive subgraphs for social network analysis") — the EDGE
    * cohesion ladder above [[kCoreOf]]'s node ladder: round r drops
    * every edge lying on fewer than k−2 triangles of the surviving
    * subgraph; the fixpoint is the k-truss, the standard community
    * scaffold. Per round: the co-partitioned wedge self-join (the
    * [[trianglesOf]] device) produces each surviving a<b pair's
    * common-neighbor count map-side-partial-aggregated, and an INNER
    * join against the surviving edge set keeps exactly the edges
    * with support ≥ k−2 (an edge on no wedge has support 0 and drops
    * with the join — correct for k > 2). Bounded rounds keep the
    * oracle expressible (unrolled CTEs, the kCore device); production
    * runs to an empty diff. Per-round lineage is truncated; each
    * round is Σ C(deg′,2) on the SHRINKING graph, and the first
    * round enforces the same wedge budget as the other wedge-stream
    * operators. `edges` should carry BOTH directions of each
    * undirected edge (the [[copurchaseEdges]] convention) — round 1
    * then consumes it as the neighbor frame directly; a
    * one-directional a<b edge list is detected by the count check
    * and re-symmetrized instead (the pre-r14 behavior).
    */
  def kTrussOf(edges: DataFrame, k: Long, rounds: Int,
      wedgeBudget: Long = DefaultWedgeBudget): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val eIn = edges.localCheckpoint(true)
    // Past-budget valve, LOSSLESS for k-truss: every k-truss edge has
    // both endpoints of induced degree ≥ k−1 (each lies on ≥ k−2
    // triangles of the truss), so the k-truss is contained in the
    // (k−1)-core and peeling to that core first cannot drop a truss
    // edge. The peel is O(|E|) per round on a shrinking graph — the
    // density filter that brings the wedge sum back under budget on
    // hub-heavy graphs. If even the core is past budget, the guard
    // throws honestly (there is no lossless reduction left).
    val e0 = {
      val deg = eIn.groupBy($"src").agg(count(lit(1)).as("deg"))
      if (wedgeSum(deg, "deg") <= wedgeBudget) eIn
      else {
        val peeled = coreRestrict(eIn, k - 1)
        requireWedgeBudget(wedgeSum(
          peeled.groupBy($"src").agg(count(lit(1)).as("deg")), "deg"),
          wedgeBudget, "kTrussOf",
          s"a larger explicit wedgeBudget — the ${k - 1}-core pre-peel " +
            "already ran and the surviving core is still past budget")
        peeled
      }
    }
    // Input-orientation contract (r14 advice): the round-1 fast path
    // needs a BOTH-DIRECTIONS frame, and the old count test
    // (|e0| == 2|filter(src<dst)|) accepted a mixed-orientation
    // one-row-per-edge input whose orientations happened to balance —
    // feeding halved degrees into trussSupport and silently dropping
    // its src>dst edges. Now: one cheap orientation census, and only
    // the ambiguous balanced case pays an exact swap-containment
    // anti-join (set check; the census already pinned the counts).
    // Supported shapes — both-directions, or one row per edge in ONE
    // consistent orientation (either direction; canonicalized via
    // least/greatest) — anything else throws instead of corrupting.
    val orient = e0.agg(
      sum(when($"src" < $"dst", 1L).otherwise(0L)),
      sum(when($"src" > $"dst", 1L).otherwise(0L))).head()
    val (ltN, gtN) = (Option(orient.get(0)).fold(0L)(_ => orient.getLong(0)),
      Option(orient.get(1)).fold(0L)(_ => orient.getLong(1)))
    val e0Symmetric = ltN == gtN && gtN > 0 && {
      e0.select($"dst".as("src"), $"src".as("dst"))
        .join(e0, Seq("src", "dst"), "left_anti").isEmpty
    }
    require(e0Symmetric || ltN == 0L || gtN == 0L,
      "kTrussOf: edge frame is mixed-orientation but not symmetric — " +
        "pass both directions per undirected edge, or one row per edge " +
        "in a consistent orientation")
    // surviving UNDIRECTED edges as a<b pairs (least/greatest handles
    // the consistently-descending one-row-per-edge shape, which the
    // old filter(src<dst) silently emptied)
    var und = (if (e0Symmetric) e0.filter($"src" < $"dst")
        .select($"src".as("a"), $"dst".as("b"))
      else e0.filter($"src" =!= $"dst")
        .select(least($"src", $"dst").as("a"),
          greatest($"src", $"dst").as("b")))
      .localCheckpoint(true)
    val censuses = Seq.newBuilder[DataFrame]
    def census(r: Long, frame: DataFrame): DataFrame =
      frame.select(lit(r).as("round"), count(lit(1)).as("n_edges"),
        sum($"a" + $"b").as("edge_sum"))
    censuses += census(0L, und)
    for (r <- 1 to rounds) {
      // Round 1's neighbor frame IS e0 when e0 is symmetric (both
      // directions, already src-partitioned and checkpointed —
      // re-deriving it re-materialized 2|E| rows for nothing);
      // one-directional inputs and later rounds rebuild it from the
      // survivor set.
      val nb =
        if (r == 1 && e0Symmetric) e0
        else und.select($"a".as("src"), $"b".as("dst"))
          .unionByName(und.select($"b".as("src"), $"a".as("dst")))
          .repartition($"src").localCheckpoint(true)
      // Per-edge support via DEGREE-ORIENTED triangle enumeration
      // (Chiba–Nishizeki ordering; the Cohen/Suri-Vassilvitskii
      // MapReduce triangle device) instead of the naive all-wedge
      // census: orient each edge toward the (deg, id)-larger
      // endpoint, enumerate wedges only from each node's ORIENTED
      // out-list (Σ C(outdeg, 2) — provably ≤ the full wedge sum,
      // ~4× smaller here), close them against the oriented edge set,
      // then scatter each triangle +1 to its three edges. The closure
      // probe BROADCASTS the 2-long-column oriented edge frame when
      // it fits, so the wedge stream never shuffles — only the
      // triangle-sized contribution frame does. r13 bench: 22.8 s →
      // ~6 s for the sf0.1 round-1 support. Falls back to a shuffle
      // join past the broadcast budget (a 100 TB edge set is not a
      // broadcast candidate).
      // checkpointed — the count is metadata-cheap
      val support = trussSupport(nb, nb.count())
      und = und.join(support, Seq("a", "b"))
        .filter($"sup" >= k - 2)
        .select($"a", $"b")
        .localCheckpoint(true)
      censuses += census(r.toLong, und)
    }
    censuses.result().reduce(_ unionByName _).orderBy($"round")
      .localCheckpoint(true)
  }

  /** Per-edge triangle support for one truss round over a
    * both-directions neighbor frame — the degree-oriented plan
    * [[kTrussOf]] runs each round (exposed so PlanAuditSpec can pin
    * the broadcast closure, which the gate's terminal checkpoint
    * hides from the executed plan).
    */
  private[graft] def trussSupport(nb: DataFrame, edgeRows: Long): DataFrame = {
    val spark = nb.sparkSession
    import spark.implicits._
    val degR = nb.groupBy($"src").agg(count(lit(1)).as("deg"))
    val oriented = nb
      .join(degR.select($"src", $"deg".as("du")), "src")
      .join(degR.select($"src".as("dst"), $"deg".as("dv")), "dst")
      .filter($"du" < $"dv" || ($"du" === $"dv" && $"src" < $"dst"))
      .select($"src".as("u"), $"dst".as("v"), $"dv")
    val ost = oriented.select($"u".as("x"), $"v".as("y"))
    // 4 M oriented rows ≈ 64 MB packed, a few hundred MB as a
    // HashedRelation — comfortably inside an 8 g driver/executor;
    // the r14 review flagged the earlier 20 M cutoff as heap-blind
    // (a 20 M-row broadcast build can OOM where the shuffle plan
    // completed). Past the cutoff the closure degrades to a shuffled
    // join of the TRIANGLE-bounded wedge frame, never back to the
    // all-wedge aggregate.
    val closer = if (edgeRows / 2 <= 4000000L) broadcast(ost) else ost
    val wedges = oriented.select($"u", $"v".as("x"), $"dv".as("dx"))
      .join(oriented.select($"u", $"v".as("y"), $"dv".as("dy")), "u")
      .filter($"dx" < $"dy" || ($"dx" === $"dy" && $"x" < $"y"))
      .select($"u", $"x", $"y")
    val triangles = wedges.join(closer, Seq("x", "y"))
    triangles
      .select(explode(array(
        struct(least($"u", $"x").as("a"), greatest($"u", $"x").as("b")),
        struct(least($"u", $"y").as("a"), greatest($"u", $"y").as("b")),
        struct(least($"x", $"y").as("a"), greatest($"x", $"y").as("b"))))
        .as("e"))
      .select($"e.a".as("a"), $"e.b".as("b"))
      .groupBy($"a", $"b").agg(count(lit(1)).as("sup"))
  }

  /** Oracle: the identical peeling rounds unrolled — wedge self-join
    * for support, inner join against the surviving edge set.
    */
  val kTrussSql: String = {
    val stages = (1 to 3).map { t =>
      s"""e$t AS (
            SELECT w.a, w.b
            FROM (
              SELECT n1.dst AS a, n2.dst AS b,
                     CAST(count(*) AS BIGINT) AS sup
              FROM (SELECT a AS src, b AS dst FROM e${t - 1}
                    UNION ALL SELECT b, a FROM e${t - 1}) n1
              JOIN (SELECT a AS src, b AS dst FROM e${t - 1}
                    UNION ALL SELECT b, a FROM e${t - 1}) n2
                ON n1.src = n2.src AND n1.dst < n2.dst
              GROUP BY 1, 2) w
            JOIN e${t - 1} s ON s.a = w.a AND s.b = w.b
            WHERE w.sup >= 15)"""
    }.mkString(",\n")
    s"""WITH pairs AS (
          SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        e0 AS (SELECT p1 AS a, p2 AS b FROM pairs),
        $stages
        SELECT CAST(0 AS BIGINT) AS round,
               CAST(count(*) AS BIGINT) AS n_edges,
               CAST(sum(a + b) AS BIGINT) AS edge_sum FROM e0
        UNION ALL
        SELECT 1, CAST(count(*) AS BIGINT), CAST(sum(a + b) AS BIGINT) FROM e1
        UNION ALL
        SELECT 2, CAST(count(*) AS BIGINT), CAST(sum(a + b) AS BIGINT) FROM e2
        UNION ALL
        SELECT 3, CAST(count(*) AS BIGINT), CAST(sum(a + b) AS BIGINT) FROM e3
        ORDER BY round"""
  }

  /** Gate: sketch-path link prediction, top 20 — the scale valve for
    * [[neighborJaccard]] as CODE, not prose.
    */
  def neighborJaccardSketch(spark: SparkSession, dir: String): DataFrame =
    neighborJaccardSketchOf(copurchaseEdges(spark, dir), topK = 20)

  /** Neighborhood-MinHash link prediction — the scale valve
    * [[neighborJaccardOf]]'s budget guard names. The exact operator's
    * Σ C(deg, 2) wedge stream is replaced by LINEAR work:
    *
    *  1. per-node adjacency MinHash signature — 64 Kirsch–
    *     Mitzenmacher hashes off ONE md5 per edge endpoint (the
    *     [[MinHashLSH]] hash family verbatim), folded map-side into
    *     64 `min` aggregates: one (src)-keyed shuffle of 64-long
    *     rows, O(|E|) hashing;
    *  2. banded LSH bucketing (16 bands × 4 rows, 60-bit md5 band
    *     keys): candidate pairs are nodes agreeing on ≥1 band —
    *     Σ bucket² pair work, tiny buckets for dissimilar nodes;
    *  3. exact Jaccard RE-VERIFY on candidates only (the PPJoin
    *     "filter then verify" pattern, Dedup.scala): common-neighbor
    *     counts via the adjacency join restricted to the candidate
    *     set, so the quadratic wedge enumeration never runs — the
    *     verify cost is Σ_cand (deg(a)+deg(b)), linear in candidates.
    *
    * A 10⁶-degree hub costs 10⁶ hashes here instead of the exact
    * form's C(10⁶, 2) ≈ 5·10¹¹ wedges. What is traded: RECALL —
    * pairs below the LSH s-curve (est. Jaccard ≲ (1/B)^(1/R) ≈ 0.5)
    * are found only probabilistically; pairs with identical
    * neighborhoods are found with certainty, and every REPORTED score
    * is exact (re-verified), never estimated. The whole path is
    * md5-derived, so the DuckDB oracle replays it hash-exactly; the
    * recall floor vs the exact operator is GraphSpec's job.
    */
  /** Shared banded-LSH candidate stage of the sketch valves: per-node
    * adjacency MinHash signatures (64 Kirsch–Mitzenmacher hashes off
    * one md5 per edge endpoint, folded map-side into 64 `min`
    * aggregates on one src-keyed shuffle), 16×4 banded bucketing, and
    * the anti-join that drops already-adjacent pairs. Returns the
    * distinct NON-ADJACENT candidate (a, b) pairs (a < b); what each
    * valve re-scores on those candidates — Jaccard counts
    * ([[neighborJaccardSketchOf]]) or weighted common-neighbor sums
    * ([[adamicAdarSketchOf]]) — is the caller's business. Entirely
    * md5-derived, so a SQL oracle can replay it hash-exactly.
    */
  private def lshNewLinkCandidates(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val H = MinHashLSH.H
    val BANDS = MinHashLSH.BANDS
    val R = MinHashLSH.R
    val M = MinHashLSH.M
    // one md5 per edge endpoint → two 28-bit halves → 64 KM hashes;
    // all column arithmetic inside whole-stage codegen, folded by
    // map-side partial min aggregation before the single src shuffle
    val halves = e.select($"src",
      conv(substring(md5($"dst".cast("string")), 1, 7), 16, 10)
        .cast("long").as("h1"),
      conv(substring(md5($"dst".cast("string")), 9, 7), 16, 10)
        .cast("long").as("h2"))
    val aggs = (0 until H).map(i =>
      min(($"h1" + lit(i.toLong) * ($"h2" * 2L + 1L)) % M).as(s"m$i"))
    val sig = halves.groupBy($"src").agg(aggs.head, aggs.tail: _*)
    val bands = sig.select($"src", posexplode(array((0 until BANDS).map { b =>
        val key = concat_ws(",",
          (b * R until (b + 1) * R).map(i => col(s"m$i")): _*)
        conv(substring(md5(key), 1, 15), 16, 10).cast("long")
      }: _*)))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_hash")
    val cand = bands.as("x").join(bands.as("y"),
        $"x.band_idx" === $"y.band_idx" &&
          $"x.band_hash" === $"y.band_hash" && $"x.src" < $"y.src")
      .select($"x.src".as("a"), $"y.src".as("b"))
      .distinct()
    // drop already-adjacent pairs; the exact re-score downstream runs
    // on the surviving candidates only
    cand.join(e.select($"src".as("a"), $"dst".as("b")),
      Seq("a", "b"), "left_anti")
  }

  def neighborJaccardSketchOf(edges: DataFrame, topK: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // localCheckpoint, NOT persist: the edge plan is shared verbatim
    // with the exact gate and triangles, and plan-keyed cache entries
    // are process-global — a peer query unpersisting "its" entry
    // mid-flight yanks it from under this one (observed as a rare
    // empty result under Verify's 4-way concurrency). An RDD-level
    // checkpoint is private to this invocation and reaped by GC.
    val e = edges.localCheckpoint(true)
    val deg = e.groupBy($"src").agg(count(lit(1)).as("deg"))
    val newLinks = lshNewLinkCandidates(e)
    val common = newLinks
      .join(e.select($"src".as("a"), $"dst".as("n")), "a")
      .join(e.select($"src".as("b"), $"dst".as("n")), Seq("b", "n"))
      .groupBy($"a", $"b")
      .agg(count(lit(1)).as("common"))
    val out = common
      .join(deg.select($"src".as("a"), $"deg".as("da")), "a")
      .join(deg.select($"src".as("b"), $"deg".as("db")), "b")
      .withColumn("jac_ppm",
        expr("(common * 1000000L) div (da + db - common)"))
      .select($"a", $"b", $"common", $"jac_ppm")
      .orderBy($"jac_ppm".desc, $"a", $"b")
      .limit(topK)
      .localCheckpoint(true)
    out
  }

  /** Oracle: the identical md5-derived pipeline — signatures, bands,
    * bucket join, adjacency re-verify — replayed in DuckDB SQL (same
    * devices as [[MinHashLSH.nearDuplicatesSql]]).
    */
  val neighborJaccardSketchSql: String = {
    val H = MinHashLSH.H
    val R = MinHashLSH.R
    val M = MinHashLSH.M
    s"""WITH pairs AS (
          SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        edges AS (
          SELECT p1 AS src, p2 AS dst FROM pairs
          UNION ALL
          SELECT p2 AS src, p1 AS dst FROM pairs),
        deg AS (
          SELECT src, CAST(count(*) AS BIGINT) AS deg
          FROM edges GROUP BY src),
        halves AS (
          SELECT src,
                 ('0x' || substr(md5(CAST(dst AS VARCHAR)), 1, 7))::BIGINT AS h1,
                 ('0x' || substr(md5(CAST(dst AS VARCHAR)), 9, 7))::BIGINT AS h2
          FROM edges),
        sig AS (
          SELECT src, i, min((h1 + i * (2 * h2 + 1)) % $M) AS m
          FROM halves CROSS JOIN range($H) t(i)
          GROUP BY src, i),
        bands AS (
          SELECT src, i // $R AS band_idx,
                 ('0x' || substr(md5(string_agg(m::VARCHAR, ',' ORDER BY i)), 1, 15))::BIGINT
                   AS band_hash
          FROM sig GROUP BY src, i // $R),
        cand AS (
          SELECT DISTINCT x.src AS a, y.src AS b
          FROM bands x JOIN bands y
            ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
               AND x.src < y.src),
        newc AS (
          SELECT a, b FROM cand c
          WHERE NOT EXISTS (SELECT 1 FROM pairs p
                            WHERE p.p1 = c.a AND p.p2 = c.b)),
        common AS (
          SELECT c.a, c.b, CAST(count(*) AS BIGINT) AS common
          FROM newc c
          JOIN edges e1 ON e1.src = c.a
          JOIN edges e2 ON e2.src = c.b AND e2.dst = e1.dst
          GROUP BY c.a, c.b)
        SELECT co.a, co.b, co.common,
               (co.common * 1000000) // (da.deg + db.deg - co.common) AS jac_ppm
        FROM common co
        JOIN deg da ON da.src = co.a
        JOIN deg db ON db.src = co.b
        ORDER BY jac_ppm DESC, co.a, co.b LIMIT 20"""
  }

  /** Gate: sketch-path Adamic–Adar link prediction, top 20 — the
    * scale valve [[adamicAdarOf]]'s budget guard names, as CODE.
    */
  def adamicAdarSketch(spark: SparkSession, dir: String): DataFrame =
    adamicAdarSketchOf(copurchaseEdges(spark, dir), topK = 20)

  /** Adamic–Adar past the wedge budget: [[lshNewLinkCandidates]]'s
    * adjacency-MinHash banded-LSH candidate stage (O(|E|) hashing +
    * Σ bucket² pair work) replaces the exact form's Σ C(deg, 2)
    * wedge enumeration, then the EXACT integer micro-unit AA score —
    * Σ_{n ∈ N(a)∩N(b)} round(10⁶/ln deg(n)), [[adamicAdarOf]]'s own
    * arithmetic — is recomputed on candidates only via the adjacency
    * join (Σ_cand (deg(a)+deg(b)) verify cost, the PPJoin
    * filter-then-verify shape). Every REPORTED score is exact; what
    * is traded is RECALL below the LSH s-curve, which is GraphSpec's
    * floor to hold. A 10⁶-degree hub costs 10⁶ hashes, not C(10⁶,2)
    * wedges. The md5-derived candidate stage replays hash-exactly in
    * the SQL oracle.
    */
  def adamicAdarSketchOf(edges: DataFrame, topK: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.localCheckpoint(true)
    // apex weight quantized once per node — adamicAdarOf's device
    val wt = e.groupBy($"src").agg(count(lit(1)).as("deg"))
      .withColumn("w", expr(
        "CASE WHEN deg >= 2 THEN CAST(round(1000000.0 / ln(deg)) AS BIGINT) " +
          "ELSE CAST(0 AS BIGINT) END"))
    val newLinks = lshNewLinkCandidates(e)
    val out = newLinks
      .join(e.select($"src".as("a"), $"dst".as("n")), "a")
      .join(e.select($"src".as("b"), $"dst".as("n")), Seq("b", "n"))
      .join(wt.select($"src".as("n"), $"w"), "n")
      .groupBy($"a", $"b")
      .agg(count(lit(1)).as("common"), sum($"w").as("aa_micro"))
      .select($"a", $"b", $"common", $"aa_micro")
      .orderBy($"aa_micro".desc, $"a", $"b")
      .limit(topK)
      .localCheckpoint(true)
    out
  }

  /** Oracle: the identical md5 candidate pipeline + the weighted
    * re-score, replayed in DuckDB.
    */
  val adamicAdarSketchSql: String = {
    val H = MinHashLSH.H
    val R = MinHashLSH.R
    val M = MinHashLSH.M
    s"""WITH pairs AS (
          SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        edges AS (
          SELECT p1 AS src, p2 AS dst FROM pairs
          UNION ALL
          SELECT p2 AS src, p1 AS dst FROM pairs),
        wt AS (
          SELECT src,
                 CASE WHEN count(*) >= 2
                      THEN CAST(round(1000000.0 / ln(count(*))) AS BIGINT)
                      ELSE CAST(0 AS BIGINT) END AS w
          FROM edges GROUP BY src),
        halves AS (
          SELECT src,
                 ('0x' || substr(md5(CAST(dst AS VARCHAR)), 1, 7))::BIGINT AS h1,
                 ('0x' || substr(md5(CAST(dst AS VARCHAR)), 9, 7))::BIGINT AS h2
          FROM edges),
        sig AS (
          SELECT src, i, min((h1 + i * (2 * h2 + 1)) % $M) AS m
          FROM halves CROSS JOIN range($H) t(i)
          GROUP BY src, i),
        bands AS (
          SELECT src, i // $R AS band_idx,
                 ('0x' || substr(md5(string_agg(m::VARCHAR, ',' ORDER BY i)), 1, 15))::BIGINT
                   AS band_hash
          FROM sig GROUP BY src, i // $R),
        cand AS (
          SELECT DISTINCT x.src AS a, y.src AS b
          FROM bands x JOIN bands y
            ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
               AND x.src < y.src),
        newc AS (
          SELECT a, b FROM cand c
          WHERE NOT EXISTS (SELECT 1 FROM pairs p
                            WHERE p.p1 = c.a AND p.p2 = c.b)),
        scored AS (
          SELECT c.a, c.b, CAST(count(*) AS BIGINT) AS common,
                 CAST(sum(wt.w) AS BIGINT) AS aa_micro
          FROM newc c
          JOIN edges e1 ON e1.src = c.a
          JOIN edges e2 ON e2.src = c.b AND e2.dst = e1.dst
          JOIN wt ON wt.src = e1.dst
          GROUP BY c.a, c.b)
        SELECT a, b, common, aa_micro
        FROM scored ORDER BY aa_micro DESC, a, b LIMIT 20"""
  }

  /** Newman modularity of the BRAND partition over the co-purchase
    * graph — "is co-purchase assortative by brand?", the quality
    * score a community-detection run optimizes, here measuring a
    * given (metadata) partition so the result has an exact
    * cross-engine oracle (detected communities are
    * iteration-order-dependent; a fixed partition's Q is pure
    * arithmetic). Per community c: Q_c = e_c/m − (d_c/2m)², all
    * moments exact BIGINT (m = undirected edge count, e_c =
    * intra-community edges, d_c = degree sum; 4m²·Q_c = 4m·e_c −
    * d_c² holds BIGINT to m ≈ 10⁹ edges), the reported contribution
    * one pinned fp expression. Edges join the part dimension BY KEY
    * twice (endpoint brands); everything after is community-sized.
    */
  def modularityByBrand(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    modularityOf(
      copurchaseEdges(spark, dir).filter($"src" < $"dst"),
      Tables.part(spark, dir)
        .select($"p_partkey".as("node"), $"p_brand".as("community")))
  }

  /** The census [[modularityOf]] and [[conductanceOf]] share over a
    * (src < dst) edge frame and a (node, community) labeling: the
    * undirected edge count m, the edges with both endpoint labels
    * (src, dst, ca, cb) — the edge frame joins the labels BY KEY
    * twice — and the per-community (community, n_nodes, degree_sum).
    * The edges are checkpointed once; both frames read that copy.
    */
  private def communityCensus(edges: DataFrame,
      labels: DataFrame): (Long, DataFrame, DataFrame) = {
    val und = edges.localCheckpoint(true)
    val m = und.count()
    val labeled = und
      .join(labels.select(col("node").as("src"), col("community").as("ca")), "src")
      .join(labels.select(col("node").as("dst"), col("community").as("cb")), "dst")
    val degree = und.select(explode(array(col("src"), col("dst"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .join(labels, "node")
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("degree_sum"))
    (m, labeled, degree)
  }

  /** Core over any (src < dst) edge frame and (node, community)
    * labeling — see [[modularityByBrand]] for the contract.
    */
  def modularityOf(edges: DataFrame, labels: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val (m, labeled, degree) = communityCensus(edges, labels)
    val intra = labeled.filter($"ca" === $"cb")
      .groupBy($"ca".as("community"))
      .agg(count(lit(1)).as("intra_edges"))
    degree.join(intra, Seq("community"), "left")
      .withColumn("intra_edges", coalesce($"intra_edges", lit(0L)))
      .withColumn("q_contrib", round(
        $"intra_edges".cast("double") / lit(m.toDouble) -
          ($"degree_sum".cast("double") / lit(2.0 * m)) *
            ($"degree_sum".cast("double") / lit(2.0 * m)), 6))
      .select($"community", $"n_nodes", $"intra_edges", $"degree_sum",
        $"q_contrib")
      .orderBy($"community")
  }

  val modularityByBrandSql: String =
    """WITH pairs AS (
         SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
       lab AS (
         SELECT pa.p_brand AS ca, pb.p_brand AS cb
         FROM pairs JOIN part pa ON pa.p_partkey = p1
                    JOIN part pb ON pb.p_partkey = p2),
       intra AS (
         SELECT ca AS community, CAST(count(*) AS BIGINT) AS intra_edges
         FROM lab WHERE ca = cb GROUP BY 1),
       und AS (SELECT p1 AS node FROM pairs
               UNION ALL SELECT p2 FROM pairs),
       degs AS (
         SELECT p.p_brand AS community, CAST(count(*) AS BIGINT) AS n_nodes,
                CAST(sum(d.deg) AS BIGINT) AS degree_sum
         FROM (SELECT node, CAST(count(*) AS BIGINT) AS deg
               FROM und GROUP BY 1) d
         JOIN part p ON p.p_partkey = d.node
         GROUP BY 1)
       SELECT community, n_nodes,
              CAST(coalesce(intra_edges, 0) AS BIGINT) AS intra_edges,
              degree_sum,
              round(CAST(coalesce(intra_edges, 0) AS DOUBLE)
                      / CAST(m AS DOUBLE)
                    - (CAST(degree_sum AS DOUBLE)
                       / (2.0 * CAST(m AS DOUBLE)))
                      * (CAST(degree_sum AS DOUBLE)
                         / (2.0 * CAST(m AS DOUBLE))), 6) AS q_contrib
       FROM degs LEFT JOIN intra USING (community) CROSS JOIN m
       ORDER BY community"""

  /** Conductance per community — the CUT-quality companion to
    * [[modularityByBrand]] (modularity compares intra-density to a
    * null model; conductance φ(S) = cut(S)/min(vol(S), 2m−vol(S))
    * reads the boundary directly — Kannan/Vempala/Vetta's (JACM
    * 2004) measure, the standard partition-quality diagnostic):
    * a community whose members mostly co-purchase with OUTSIDE
    * brands has φ near 1 and is a labeling artifact, not a cluster.
    * Same labeling and edge frame as modularity so the two gates
    * read the same partition. cut and vol are exact integer counts
    * off the one labeled-edge pass (a cut edge counts toward BOTH
    * sides); φ is one pinned division rounded at the edge.
    */
  def conductanceByBrand(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    conductanceOf(
      copurchaseEdges(spark, dir).filter($"src" < $"dst"),
      Tables.part(spark, dir)
        .select($"p_partkey".as("node"), $"p_brand".as("community")))
  }

  /** Core over any (src < dst) edge frame and (node, community)
    * labeling.
    */
  def conductanceOf(edges: DataFrame, labels: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val (m, labeled, degree) = communityCensus(edges, labels)
    val cut = labeled.filter($"ca" =!= $"cb")
      .select(explode(array($"ca", $"cb")).as("community"))
      .groupBy($"community").agg(count(lit(1)).as("cut_edges"))
    degree.join(cut, Seq("community"), "left")
      .withColumn("cut_edges", coalesce($"cut_edges", lit(0L)))
      // a boundary-less community reads 0 (the whole-graph community
      // would otherwise be 0/0 — conductance is undefined there)
      .withColumn("conductance", when($"cut_edges" === 0L, lit(0.0))
        .otherwise(round(
          $"cut_edges".cast("double") /
            least($"degree_sum", lit(2L * m) - $"degree_sum").cast("double"),
          6)))
      .select($"community", $"n_nodes", $"cut_edges", $"degree_sum",
        $"conductance")
      .orderBy($"community")
  }

  val conductanceByBrandSql: String =
    """WITH pairs AS (
         SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
       lab AS (
         SELECT pa.p_brand AS ca, pb.p_brand AS cb
         FROM pairs JOIN part pa ON pa.p_partkey = p1
                    JOIN part pb ON pb.p_partkey = p2),
       cut AS (
         SELECT community, CAST(count(*) AS BIGINT) AS cut_edges
         FROM (SELECT unnest([ca, cb]) AS community
               FROM lab WHERE ca <> cb) c
         GROUP BY 1),
       und AS (SELECT p1 AS node FROM pairs
               UNION ALL SELECT p2 FROM pairs),
       degs AS (
         SELECT p.p_brand AS community, CAST(count(*) AS BIGINT) AS n_nodes,
                CAST(sum(d.deg) AS BIGINT) AS degree_sum
         FROM (SELECT node, CAST(count(*) AS BIGINT) AS deg
               FROM und GROUP BY 1) d
         JOIN part p ON p.p_partkey = d.node
         GROUP BY 1)
       SELECT community, n_nodes,
              CAST(coalesce(cut_edges, 0) AS BIGINT) AS cut_edges,
              degree_sum,
              CASE WHEN coalesce(cut_edges, 0) = 0 THEN 0.0
                   ELSE round(CAST(cut_edges AS DOUBLE)
                        / CAST(least(degree_sum, 2 * m - degree_sum)
                               AS DOUBLE), 6)
              END AS conductance
       FROM degs LEFT JOIN cut USING (community) CROSS JOIN m
       ORDER BY community"""

  /** Eigenvector centrality by integer-normalized power iteration —
    * the prestige score where a node matters because its NEIGHBORS
    * matter (Bonacich 1972), completing the centrality family next
    * to PageRank's random surfer (no damping/teleport here: pure
    * A·x, which on a connected undirected graph converges to the
    * principal eigenvector). Exactness device: scores live in
    * integer micro-units and each round renormalizes by FLOOR
    * division through the round's maximum — x ← (A·x)·10⁶ div
    * max(A·x) — so the fixpoint is bit-identical on any engine and
    * merge order, the same contract as the PageRank gate (a
    * float-normalized iteration has no cross-engine oracle).
    * Per-round work is one edge-join shuffle of (node, score)
    * scalars plus one max aggregate; the iteration count is fixed
    * (ranking stabilizes long before the values do). Headroom:
    * Σ_neighbors 10⁶ ≤ deg·10⁶, then ×10⁶ ≤ 10¹⁸ at 10⁶-degree
    * hubs — the BIGINT edge, noted.
    */
  /** Gate: 3 HITS iterations on the customer→part purchase graph,
    * top 20 hubs + top 20 authorities.
    */
  def hits(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val edges = Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(spark, dir).select($"l_orderkey", $"l_partkey"),
        $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("u"), $"l_partkey".as("p"))
      .distinct()
    hitsOf(edges, iters = 3, topK = 20)
  }

  /** HITS hubs & authorities (Kleinberg, JACM 1999) on a BIPARTITE
    * u→p graph — the mutual-reinforcement pair the undirected
    * [[eigenCentralityOf]] collapses into one score: a good hub
    * (customer) buys authoritative parts, an authoritative part is
    * bought by good hubs. Exactness device = eigencentrality's:
    * scores live in integer micro-units normalized by the MAX each
    * half-step (raw·10⁶ div max — one scalar aggregate, merge-order-
    * exact; raw ≤ deg·10⁶ keeps the multiply under 2⁶³ up to ~10⁶
    * degree, past which the decimal(38,0) valve applies).
    *
    * Plan shape per iteration: two keyed joins against the cached
    * edge list, each followed by a map-side-partial sum and a ONE-ROW
    * broadcast max join for the renormalization (no mid-loop driver
    * scalar reads) — only (node, score) pairs shuffle; lineage
    * truncated per half-step. Bounded iterations keep the
    * unrolled-CTE oracle.
    */
  def hitsOf(edges: DataFrame, iters: Int, topK: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // Pre-flight guard (ONE driver action, before the loop): an
    // empty/all-null edge frame must fail loudly, not NPE or return
    // an empty frame twelve joins later — library callers hand us
    // arbitrary frames, not just the gate input.
    val e = edges.filter($"u".isNotNull && $"p".isNotNull)
      .repartition($"u").localCheckpoint(true)
    // r17: a SECOND copy clustered on p — the authority half-step
    // joins on p, and off the u-clustered copy that join re-exchanged
    // the full edge list every iteration (guide §2.4: two operations
    // keyed the same way share one exchange; here each half-step gets
    // its matching layout once). One extra edge-sized materialization
    // buys iters edge-exchanges back.
    val eP = e.repartition($"p").localCheckpoint(true)
    require(!e.isEmpty,
      "hitsOf: empty edge frame — the edge set is empty or all keys " +
        "are null; hand hitsOf a non-empty (u, p) edge frame")
    var h = e.select($"u").distinct().withColumn("hs", lit(1000000L))
      .localCheckpoint(true)
    var a: DataFrame = null
    // Per-half-step normalization stays ON THE CLUSTER: the scalar
    // max rides a one-row broadcast cross join (the q15_top_supplier
    // device) instead of an agg(max).head driver read — 12 mid-loop
    // driver actions at iters=3 become 0. The non-positive-max guard
    // keeps its loud-failure semantics executor-side via raise_error
    // (structurally unreachable once edges is non-empty: the argmax
    // node renormalizes to exactly 10⁶ each half-step, so the next
    // raw max is ≥ 10⁶ — defense for future callers, not a live path).
    def normalized(raw: DataFrame, key: String, out: String,
        side: String): DataFrame =
      raw.crossJoin(broadcast(raw.agg(max($"raw").as("mx"))))
        .select(col(key),
          when($"mx".isNull || $"mx" <= 0L,
            raise_error(lit(s"hitsOf: $side max score is non-positive " +
              "— the edge frame has no positively-scored nodes; check " +
              "the u/p key columns")).cast("long"))
            .otherwise(expr("(raw * 1000000L) div mx")).as(out))
        .localCheckpoint(true)
    // SHUFFLE_HASH on the node-sized score side per the
    // [[pageRankWeightedOf]] rationale.
    for (_ <- 1 to iters) {
      val aRaw = e.join(h.hint("shuffle_hash"), "u")
        .groupBy($"p").agg(sum($"hs").as("raw"))
        .localCheckpoint(true)
      a = normalized(aRaw, "p", "as", "authority")
      val hRaw = eP.join(a.hint("shuffle_hash"), "p")
        .groupBy($"u").agg(sum($"as").as("raw"))
        .localCheckpoint(true)
      h = normalized(hRaw, "u", "hs", "hub")
    }
    val auth = a.orderBy($"as".desc, $"p").limit(topK)
      .select(lit("auth").as("side"), $"p".as("id"), $"as".as("score"))
    val hub = h.orderBy($"hs".desc, $"u").limit(topK)
      .select(lit("hub").as("side"), $"u".as("id"), $"hs".as("score"))
    auth.unionByName(hub).orderBy($"side", $"score".desc, $"id")
      .localCheckpoint(true)
  }

  /** Oracle: the identical half-steps unrolled. */
  val hitsSql: String = {
    val stages = (1 to 3).map { t =>
      s"""araw$t AS (
            SELECT e.p, CAST(sum(h.hs) AS BIGINT) AS raw
            FROM edges e JOIN h${t - 1} h ON h.u = e.u GROUP BY e.p),
          am$t AS (SELECT CAST(max(raw) AS BIGINT) AS mx FROM araw$t),
          a$t AS (SELECT p, (raw * 1000000) // mx AS ascore
                  FROM araw$t CROSS JOIN am$t),
          hraw$t AS (
            SELECT e.u, CAST(sum(a.ascore) AS BIGINT) AS raw
            FROM edges e JOIN a$t a ON a.p = e.p GROUP BY e.u),
          hm$t AS (SELECT CAST(max(raw) AS BIGINT) AS mx FROM hraw$t),
          h$t AS (SELECT u, (raw * 1000000) // mx AS hs
                  FROM hraw$t CROSS JOIN hm$t)"""
    }.mkString(",\n")
    s"""WITH edges AS (
          SELECT DISTINCT o_custkey AS u, l_partkey AS p
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        h0 AS (SELECT DISTINCT u, CAST(1000000 AS BIGINT) AS hs FROM edges),
        $stages,
        auth AS (
          SELECT 'auth' AS side, p AS id, CAST(ascore AS BIGINT) AS score
          FROM a3 ORDER BY ascore DESC, p LIMIT 20),
        hub AS (
          SELECT 'hub' AS side, u AS id, CAST(hs AS BIGINT) AS score
          FROM h3 ORDER BY hs DESC, u LIMIT 20)
        SELECT side, id, score FROM auth
        UNION ALL
        SELECT side, id, score FROM hub
        ORDER BY side, score DESC, id"""
  }

  def eigenCentrality(spark: SparkSession, dir: String): DataFrame =
    eigenCentralityOf(copurchaseEdges(spark, dir), iters = 5, topK = 20)

  def eigenCentralityOf(edges: DataFrame, iters: Int,
      topK: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.localCheckpoint(true)
    // Per-iteration plan shape (r17 rework, guide §2.4/§3.1): the
    // edge frame arrives clustered on src, and on this SYMMETRIC
    // graph Σ_{u~v} x(u) reads identically off either endpoint — so
    // the join keys on src (zero exchange on the edge side; the old
    // dst-keyed join re-exchanged the full edge list every iteration)
    // and the sum groups by dst with map-side partial aggregation.
    // SHUFFLE_HASH on the node-sized score side skips the sort-merge
    // re-sort per iteration (the [[pageRankWeightedOf]] rationale). The
    // renormalization max rides a one-row broadcast cross join (the
    // [[hitsOf]] device) instead of a mid-loop driver read, and only
    // `raw` is checkpointed per iteration — the normalized projection
    // is a cheap rescan of that checkpoint, so the old per-iteration
    // second checkpoint job is gone.
    var x = e.select($"src".as("node")).distinct()
      .withColumn("score", lit(1000000L))
    for (_ <- 1 to iters) {
      val raw = e.join(x.hint("shuffle_hash"), $"src" === $"node")
        .groupBy($"dst".as("node"))
        .agg(sum($"score").as("raw"))
        .localCheckpoint(true)
      x = raw.crossJoin(broadcast(raw.agg(max($"raw").as("mx"))))
        .select($"node", expr("(raw * 1000000L) div mx").as("score"))
    }
    val out = x.orderBy($"score".desc, $"node").limit(topK)
      .localCheckpoint(true)
    out
  }

  val eigenCentralitySql: String = {
    val stages = (1 to 5).map { t =>
      s"""raw$t AS (
            SELECT e.src AS node, CAST(sum(x.score) AS BIGINT) AS raw
            FROM edges e JOIN x${t - 1} x ON x.node = e.dst
            GROUP BY e.src),
          m$t AS (SELECT CAST(max(raw) AS BIGINT) AS mx FROM raw$t),
          x$t AS (SELECT node, (raw * 1000000) // mx AS score
                  FROM raw$t CROSS JOIN m$t)"""
    }.mkString(",\n")
    s"""WITH pairs AS (
          SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        edges AS (
          SELECT p1 AS src, p2 AS dst FROM pairs
          UNION ALL
          SELECT p2 AS src, p1 AS dst FROM pairs),
        x0 AS (SELECT DISTINCT src AS node, CAST(1000000 AS BIGINT) AS score
               FROM edges),
        $stages
        SELECT node, CAST(score AS BIGINT) AS score FROM x5
        ORDER BY score DESC, node LIMIT 20"""
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over the directed edge list — positive means
    * hubs attach to hubs (social-graph shape), negative means hubs
    * fan out to leaves (infrastructure shape); the one-number census
    * that tells you whether degree-based partitioning will see skew
    * compound or spread. All five moments are exact BIGINT off ONE
    * aggregate of the degree-joined edge list (headroom: Σ d_a·d_b ≤
    * 2m·d̂² — BIGINT through 10⁹ edges at 10³ mean hub degree); r is
    * one pinned fp expression.
    */
  def assortativity(spark: SparkSession, dir: String): DataFrame =
    assortativityOf(copurchaseEdges(spark, dir))

  def assortativityOf(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.localCheckpoint(true)
    val deg = e.groupBy($"src").agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    e.join(deg.select($"src", $"deg".as("da")), "src")
      .join(deg.select($"src".as("dst"), $"deg".as("db")), "dst")
      .agg(count(lit(1)).as("n"),
        sum($"da").as("sx"), sum($"db").as("sy"),
        sum($"da" * $"db").as("sxy"),
        sum($"da" * $"da").as("sx2"),
        sum($"db" * $"db").as("sy2"))
      .withColumn("r", round(
        ($"n".cast("double") * $"sxy".cast("double")
          - $"sx".cast("double") * $"sy".cast("double")) /
        (sqrt($"n".cast("double") * $"sx2".cast("double")
          - $"sx".cast("double") * $"sx".cast("double")) *
          sqrt($"n".cast("double") * $"sy2".cast("double")
            - $"sy".cast("double") * $"sy".cast("double"))), 6))
      .select($"n", $"sxy", $"r")
  }

  val assortativitySql: String =
    """WITH pairs AS (
         SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       edges AS (SELECT p1 AS src, p2 AS dst FROM pairs
                 UNION ALL SELECT p2, p1 FROM pairs),
       deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
               FROM edges GROUP BY 1),
       j AS (SELECT da.deg AS da, db.deg AS db
             FROM edges e JOIN deg da ON da.src = e.src
                          JOIN deg db ON db.src = e.dst),
       mo AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(da) AS BIGINT) AS sx,
                     CAST(sum(db) AS BIGINT) AS sy,
                     CAST(sum(da * db) AS BIGINT) AS sxy,
                     CAST(sum(da * da) AS BIGINT) AS sx2,
                     CAST(sum(db * db) AS BIGINT) AS sy2
              FROM j)
       SELECT n, sxy,
              round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (sqrt(CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                       * sqrt(CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE)
                              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                    6) AS r
       FROM mo"""

  def randomWalks(spark: SparkSession, dir: String): DataFrame =
    randomWalksOf(copurchaseEdges(spark, dir), seedMod = 97L, steps = 4)

  /** Deterministic random walks (the DeepWalk/node2vec corpus-
    * sampling primitive, Perozzi et al. KDD 2014): one walk per seed
    * node (id ≡ 0 mod seedMod), `steps` hops, the next neighbor at
    * each step chosen by the portable md5 device — rank = H(walk_id
    * · '#' · step) mod deg(u) over the dst-ordered adjacency — so
    * every engine replays the identical walks (a PRNG walk has no
    * cross-engine oracle; a salted-hash walk is the derandomized
    * form, same device as the sampling family). Output is the
    * (walk_id, step, node) trajectory table, the input shape a
    * skip-gram embedding trainer consumes.
    *
    * Scale shape: each step is one walk-frame join against the
    * ranked adjacency BY KEY (frontier-style, like [[kHopOf]]), with
    * the frontier localCheckpoint'ed per hop so lineage stays O(1)
    * in steps. The adjacency rank window partitions by src — per-
    * node postings, hub-degree bounded (the Search postings
    * exemption shape), never corpus-global.
    */
  def randomWalksOf(edges: DataFrame, seedMod: Long,
      steps: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.localCheckpoint(true)
    // ONE probed frame per step (r17: was two — a deg join and then
    // a ranked join): the per-src degree rides the SAME window pass
    // that ranks the adjacency (same partitioning, no extra
    // exchange), so each step is a single join against the ranked
    // adjacency with the hash-mod pick evaluated in the join
    // condition. SHUFFLE_HASH on the walk side ([[pageRankWeightedOf]]
    // rationale — the walk frame is seed-sized, the adjacency is
    // edge-sized).
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"src")
    val ranked = e
      .withColumn("rk",
        row_number().over(w.orderBy($"dst")).cast("long") - 1L)
      .withColumn("deg", count(lit(1)).over(w))
      .localCheckpoint(true)
    var cur = e.select($"src".as("walk_id")).distinct()
      .filter($"walk_id" % seedMod === 0)
      .withColumn("node", $"walk_id")
      .localCheckpoint(true)
    val levels = Seq.newBuilder[DataFrame]
    levels += cur.withColumn("step", lit(0L))
    for (s <- 1 to steps) {
      val choice = conv(substring(md5(concat(col("p.walk_id")
        .cast("string"), lit(s"#$s"))), 1, 7), 16, 10).cast("long")
      // alias-qualified join: after the first hop the frontier's
      // `node` attribute ORIGINATES from ranked's dst, so an
      // unqualified self-join against ranked is ambiguous by id
      cur = cur.as("p").hint("shuffle_hash")
        .join(ranked.as("r"),
          col("p.node") === col("r.src") &&
            col("r.rk") === choice % col("r.deg"))
        .select(col("p.walk_id").as("walk_id"), col("r.dst").as("node"))
        .localCheckpoint(true)
      levels += cur.withColumn("step", lit(s.toLong))
    }
    levels.result().reduce(_ unionByName _)
      .select($"walk_id", $"step", $"node")
      .orderBy($"walk_id", $"step")
  }

  val randomWalksSql: String = {
    def h(step: Int) =
      s"('0x' || substr(md5(walk_id::VARCHAR || '#$step'), 1, 7))::BIGINT"
    val stages = (1 to 4).map { s =>
      s"""w$s AS (
            SELECT w.walk_id, r.dst AS node
            FROM w${s - 1} w
            JOIN deg d ON d.src = w.node
            JOIN ranked r ON r.src = w.node
              AND r.rk = ${h(s)} % d.deg)"""
    }.mkString(",\n")
    val sel = (0 to 4).map(s =>
      s"SELECT walk_id, CAST($s AS BIGINT) AS step, node FROM w$s")
      .mkString("\nUNION ALL\n")
    s"""WITH pairs AS (
          SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        edges AS (
          SELECT p1 AS src, p2 AS dst FROM pairs
          UNION ALL
          SELECT p2 AS src, p1 AS dst FROM pairs),
        ranked AS (
          SELECT src, dst,
                 CAST(row_number() OVER (PARTITION BY src ORDER BY dst)
                   AS BIGINT) - 1 AS rk
          FROM edges),
        deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
                FROM edges GROUP BY 1),
        w0 AS (SELECT DISTINCT src AS walk_id, src AS node
               FROM edges WHERE src % 97 = 0),
        $stages
        $sel
        ORDER BY walk_id, step"""
  }

  /** Synchronous label-propagation communities (Raghavan et al. 2007,
    * made deterministic): every node starts labeled with itself; each
    * round all nodes SIMULTANEOUSLY adopt the most frequent label
    * among their neighbors, ties broken toward the smallest label.
    * The asynchronous textbook variant is order-dependent (useless as
    * a gate); the synchronous one is a pure function of (graph,
    * rounds) — each round is exactly two aggregations on the
    * src-partitioned edge frame: neighbor-label counting on
    * (src, label) and a lexicographic struct-max argmax, both
    * reusing the hash(src) partitioning, with scalar (node, label)
    * rows as the only per-round shuffle payload (the [[pageRankWeightedOf]]
    * loop discipline: localCheckpoint per round keeps lineage O(1)).
    * Like every operator on this graph, the budget guard is the
    * [[degrees]] census — label counting is Σ deg = 2|E| per round,
    * so rounds·|E| bounds the whole run.
    */
  def labelPropagationOf(edges: DataFrame, rounds: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.localCheckpoint(true)
    // r17 rework (guide §2.4/§3.1): the edge frame is src-clustered
    // and the graph SYMMETRIC, so "labels of src's neighbors" reads
    // identically as "offer src's label to each dst" — keying the
    // join on src makes the edge side zero-exchange (the old
    // dst-keyed join re-exchanged the full edge list every round)
    // and the (dst, label) census exchanges the partially-aggregated
    // pair stream instead. SHUFFLE_HASH on the node-sized label side
    // skips the per-round edge re-sort ([[pageRankWeightedOf]] rationale).
    // No per-round checkpoint: the rounds form a straight chain
    // consumed once, exactly like the [[pageRankWeightedOf]] loop — one job
    // executes all rounds, instead of paying a checkpoint job +
    // driver gap per round.
    var labels = e.select($"src".as("node")).distinct()
      .select($"node", $"node".as("label"))
    for (_ <- 1 to rounds) {
      labels = e.join(labels.hint("shuffle_hash"), $"src" === $"node")
        .groupBy($"dst", $"label").agg(count(lit(1)).as("c"))
        .groupBy($"dst")
        .agg(max(struct($"c", (-$"label").as("neg"))).as("m"))
        .select($"dst".as("node"), (-$"m.neg").as("label"))
    }
    labels
  }

  /** Gate: community census after 3 synchronous LPA rounds over the
    * co-purchase graph — (label, member count, member-id sum), the
    * same order-invariant census shape as [[components]].
    */
  def labelPropagation(spark: SparkSession, dir: String,
      rounds: Int = 3): DataFrame = {
    import spark.implicits._
    labelPropagationOf(copurchaseEdges(spark, dir), rounds)
      .groupBy($"label")
      .agg(count(lit(1)).as("n_nodes"), sum($"node").as("node_sum"))
      .orderBy($"label")
  }

  val labelPropagationSql: String = {
    val stages = (1 to 3).map { t =>
      s"""c$t AS (
            SELECT e.src AS node, l.label, CAST(count(*) AS BIGINT) AS c
            FROM edges e JOIN l${t - 1} l ON e.dst = l.node
            GROUP BY 1, 2),
          l$t AS (
            SELECT node, min(label) AS label
            FROM (SELECT node, label, c,
                         max(c) OVER (PARTITION BY node) AS mc
                  FROM c$t)
            WHERE c = mc
            GROUP BY node)"""
    }.mkString(",\n")
    s"""WITH pairs AS (
          SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        edges AS (
          SELECT p1 AS src, p2 AS dst FROM pairs
          UNION ALL
          SELECT p2 AS src, p1 AS dst FROM pairs),
        l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
        $stages
        SELECT label, CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(sum(node) AS BIGINT) AS node_sum
        FROM l3 GROUP BY label ORDER BY label"""
  }

  /** Gate: sampled-source 3-hop betweenness, top 20 parts. */
  def betweenness(spark: SparkSession, dir: String): DataFrame =
    betweennessOf(copurchaseEdges(spark, dir), seedMod = 499L, hops = 3,
      topK = 20)

  /** Betweenness centrality, Brandes 2001 restricted to a SAMPLED
    * source set and a BOUNDED path horizon (the Brandes/Pich 2007
    * "pivot" estimator family): forward multi-source BFS carries
    * (source, node, level, σ) where σ is the exact shortest-path
    * COUNT, then the dependency recursion runs the levels backward —
    * δ(v) = Σ_{w ∈ succ(v)} σ_v/σ_w · (1 + δ(w)) — and bc(v) =
    * Σ_sources δ_s(v), v ≠ s.
    *
    * Exactness device (what makes this gate hash-exact where
    * textbook betweenness is an fp sum in shuffle order): δ is
    * carried in integer MICRO-units, and each edge's contribution is
    * `(σ_v · (10⁶ + δμ_w)) div σ_w` — σ_w ≥ σ_v for a successor
    * (σ_w sums its predecessors' σ), so the ratio ≤ 1 and the
    * magnitudes stay far under 2⁶³ (σ ≤ maxdeg^hops, δμ ≤
    * (maxdeg·10⁶)^{hops-1}-ish; ~2·10¹⁵ worst-case here). Truncation
    * quantizes each RECURSION STEP at 10⁻⁶ — a documented estimator
    * choice, identical in both engines (`div` ≡ `//`, trunc toward
    * zero), making the whole pipeline BIGINT and every sum
    * order-proof. The hop bound both caps the work AND makes the
    * recursion unrollable as SQL CTEs — the same bounded-rounds
    * device as [[ssspDistsOf]]; paths longer than `hops` simply
    * don't contribute (δ at the horizon level is 0).
    *
    * Scale shape: edges checkpointed once; every forward level is one
    * frontier join + one partial-agg'd σ-sum, every backward level
    * one join pair on the same key. Under AQE the checkpoint forgets
    * its partitioning on src, so each of those joins re-exchanges the
    * edge side with the (s, node, σ/δμ) scalars; lineage truncated
    * per level. Work is O(|seeds| · |E ≤ hops out|):
    * `seedMod` (density) and `hops` (horizon) are the two budget
    * knobs, exactly the SpaceSaving/IVF posture — the exact global
    * algorithm exists (seedMod = 1, hops = diameter) but is an
    * informed choice, not the default.
    */
  def betweennessOf(edges: DataFrame, seedMod: Long, hops: Int,
      topK: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    require(hops >= 2, s"hops=$hops: need at least 2 for any interior node")
    val e = edges.localCheckpoint(true)
    val seeds = seedNodes(e, seedMod)
      .select($"node".as("s"), $"node", lit(1L).as("sigma"))
      .localCheckpoint(true)
    // forward: levels(l) = (s, node, sigma) at BFS distance l from s.
    // The σ-sum runs BEFORE the visited anti-join (aggregate before
    // you shuffle): the raw frontier×edge stream repeats each
    // (s, dst) ~deg times, so the partial aggregation collapses it
    // map-side and the anti-join then runs on the collapsed frame —
    // same result (the anti-join drops whole (s, dst) groups either
    // way), orders of magnitude fewer rows through the exchange.
    val levels = new Array[DataFrame](hops + 1)
    levels(0) = seeds
    var vis = seeds.select($"s", $"node")
    for (l <- 1 to hops) {
      // SHJ-hinted frontier join + lazy vis union (see [[seededBfs]])
      levels(l) = e.join(levels(l - 1).hint("shuffle_hash"),
          $"src" === $"node")
        .select($"s", $"dst", $"sigma")
        .groupBy($"s", $"dst").agg(sum($"sigma").as("sigma"))
        .join(vis.select($"s".as("vs"), $"node".as("vn")),
          $"s" === $"vs" && $"dst" === $"vn", "left_anti")
        .select($"s", $"dst".as("node"), $"sigma")
        .localCheckpoint(true)
      vis = vis.unionByName(levels(l).select($"s", $"node"))
    }
    // backward: δμ at the horizon is 0; each step joins level l to
    // level l+1 through the edge list, a missing δ row reads as 0
    var delta: DataFrame = null // δμ frame for level l+1 (null ⇒ all 0)
    var acc: DataFrame = null   // union of interior δμ frames
    for (l <- hops - 1 to 1 by -1) {
      val upper0 = levels(l + 1)
        .select($"s".as("us"), $"node".as("un"), $"sigma".as("usigma"))
      val upper = if (delta == null)
        upper0.withColumn("udm", lit(0L))
      else upper0.join(
          delta.select($"s".as("ds"), $"node".as("dn"), $"dm"),
          $"us" === $"ds" && $"un" === $"dn", "left_outer")
        .select($"us", $"un", $"usigma", coalesce($"dm", lit(0L)).as("udm"))
      delta = levels(l).hint("shuffle_hash")
        .join(e, $"node" === $"src")
        .join(upper, $"s" === $"us" && $"dst" === $"un")
        .select($"s", $"node",
          expr("(sigma * (1000000 + udm)) div usigma").as("contrib"))
        .groupBy($"s", $"node").agg(sum($"contrib").as("dm"))
        .localCheckpoint(true)
      acc = if (acc == null) delta else acc.unionByName(delta)
    }
    acc.groupBy($"node").agg(sum($"dm").as("bc_micro"))
      .orderBy($"bc_micro".desc, $"node")
      .limit(topK)
  }

  /** Oracle: the identical recursion unrolled — 3 forward BFS levels
    * (σ as the predecessor-σ sum, visited set excluded per level),
    * then δμ₂ from the zero horizon and δμ₁ from δμ₂, in the same
    * integer micro-unit arithmetic.
    */
  val betweennessSql: String =
    """WITH pairs AS (
         SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       edges AS (
         SELECT p1 AS src, p2 AS dst FROM pairs
         UNION ALL
         SELECT p2 AS src, p1 AS dst FROM pairs),
       l0 AS (
         SELECT DISTINCT src AS s, src AS node, CAST(1 AS BIGINT) AS sigma
         FROM edges WHERE src % 499 = 0),
       l1 AS (
         SELECT l0.s, e.dst AS node, CAST(sum(l0.sigma) AS BIGINT) AS sigma
         FROM l0 JOIN edges e ON e.src = l0.node
         WHERE NOT EXISTS (SELECT 1 FROM l0 p
                           WHERE p.s = l0.s AND p.node = e.dst)
         GROUP BY 1, 2),
       l2 AS (
         SELECT l1.s, e.dst AS node, CAST(sum(l1.sigma) AS BIGINT) AS sigma
         FROM l1 JOIN edges e ON e.src = l1.node
         WHERE NOT EXISTS (SELECT 1 FROM l0 p
                           WHERE p.s = l1.s AND p.node = e.dst)
           AND NOT EXISTS (SELECT 1 FROM l1 p
                           WHERE p.s = l1.s AND p.node = e.dst)
         GROUP BY 1, 2),
       l3 AS (
         SELECT l2.s, e.dst AS node, CAST(sum(l2.sigma) AS BIGINT) AS sigma
         FROM l2 JOIN edges e ON e.src = l2.node
         WHERE NOT EXISTS (SELECT 1 FROM l0 p
                           WHERE p.s = l2.s AND p.node = e.dst)
           AND NOT EXISTS (SELECT 1 FROM l1 p
                           WHERE p.s = l2.s AND p.node = e.dst)
           AND NOT EXISTS (SELECT 1 FROM l2 p
                           WHERE p.s = l2.s AND p.node = e.dst)
         GROUP BY 1, 2),
       d2 AS (
         SELECT v.s, v.node,
                CAST(sum((v.sigma * (1000000 + 0)) // w.sigma)
                     AS BIGINT) AS dm
         FROM l2 v JOIN edges e ON e.src = v.node
         JOIN l3 w ON w.s = v.s AND w.node = e.dst
         GROUP BY 1, 2),
       d1 AS (
         SELECT v.s, v.node,
                CAST(sum((v.sigma * (1000000 + coalesce(d2.dm, 0)))
                         // w.sigma) AS BIGINT) AS dm
         FROM l1 v JOIN edges e ON e.src = v.node
         JOIN l2 w ON w.s = v.s AND w.node = e.dst
         LEFT JOIN d2 ON d2.s = w.s AND d2.node = w.node
         GROUP BY 1, 2),
       bc AS (
         SELECT node, CAST(sum(dm) AS BIGINT) AS bc_micro
         FROM (SELECT s, node, dm FROM d1
               UNION ALL SELECT s, node, dm FROM d2) u
         GROUP BY node)
       SELECT node, bc_micro FROM bc
       ORDER BY bc_micro DESC, node LIMIT 20"""

  def harmonic(spark: SparkSession, dir: String): DataFrame =
    harmonicOf(copurchaseEdges(spark, dir), seedMod = 499L, hops = 3,
      topK = 20)

  /** Harmonic centrality h(v) = Σ_s 1/d(s, v) over SAMPLED seed
    * sources and a BOUNDED hop horizon — the centrality that, unlike
    * closeness, stays well-defined on disconnected graphs (an
    * unreachable pair contributes 0, not ∞; Boldi/Vigna "Axioms for
    * Centrality" 2014 make it the principled pick of the two). Same
    * estimator posture as [[betweennessOf]]: seeds = node % seedMod,
    * horizon `hops` — both are the documented budget knobs, and the
    * bounded horizon is what a 100 TB graph can afford anyway (the
    * far tail contributes ≤ 1/(hops+1) each).
    *
    * Exactness: the [[seededBfs]] level IS the distance, so h_micro(v)
    * = Σ_l |{s: d(s,v) = l}| · round(10⁶/l) — counts are exact
    * BIGINTs, the per-level weights are CONSTANTS, no fp anywhere.
    * Scale shape: edges checkpointed once, then the [[seededBfs]]
    * levels; this operator adds only the final per-node sum.
    */
  def harmonicOf(edges: DataFrame, seedMod: Long, hops: Int,
      topK: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    require(hops >= 1, s"hops=$hops: need at least 1 level")
    val e = edges.select($"src", $"dst").localCheckpoint(true)
    val levels = seededBfs(e, seedNodes(e, seedMod)
      .select($"node".as("s"), $"node"), hops)
    (1 to hops).map(l => levels(l).withColumn("w", lit(math.round(1.0e6 / l))))
      .reduce(_ unionByName _)
      .groupBy($"node").agg(sum($"w").as("h_micro"))
      .orderBy($"h_micro".desc, $"node")
      .limit(topK)
  }

  def closeness(spark: SparkSession, dir: String): DataFrame =
    linClosenessOf(copurchaseEdges(spark, dir), seedMod = 499L, hops = 3,
      topK = 20)

  /** Lin's-index closeness over SAMPLED seeds and a BOUNDED horizon —
    * the classical closeness completed with Lin (1976)'s
    * reachability-squared correction, lin(v) = reached(v)² / Σ d(s,v),
    * which is what keeps the ranking sane on disconnected graphs
    * (bare reached/Σd would crown any node touched by ONE seed at
    * distance 1; Boldi/Vigna "Axioms for Centrality" 2014 retain Lin
    * and harmonic as the two principled closeness forms — harmonic is
    * 33n, this is its companion so a reference user gets both).
    *
    * Exactness: the same [[seededBfs]] levels as [[harmonicOf]] — the
    * level IS the distance, so reached = COUNT and Σd = SUM of small
    * integer levels; lin_micro = reached²·10⁶ div Σd by integer
    * division (Σd ≥ reached ≥ 1 for every emitted node — no zero
    * guard needed). Same budget knobs (seedMod, hops).
    */
  def linClosenessOf(edges: DataFrame, seedMod: Long, hops: Int,
      topK: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    require(hops >= 1, s"hops=$hops: need at least 1 level")
    val e = edges.select($"src", $"dst").localCheckpoint(true)
    val levels = seededBfs(e, seedNodes(e, seedMod)
      .select($"node".as("s"), $"node"), hops)
    (1 to hops).map(l => levels(l).withColumn("d", lit(l.toLong)))
      .reduce(_ unionByName _)
      .groupBy($"node")
      .agg(count(lit(1)).as("reached"), sum($"d").as("sum_d"))
      .select($"node", $"reached", $"sum_d",
        expr("(reached * reached * 1000000L) div sum_d").as("lin_micro"))
      .orderBy($"lin_micro".desc, $"node")
      .limit(topK)
  }

  /** Oracle: the harmonic oracle's 3 BFS levels re-aggregated as
    * (count, Σ level) per node with the Lin integer division.
    */
  val closenessSql: String =
    """WITH pairs AS (
         SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       edges AS (
         SELECT p1 AS src, p2 AS dst FROM pairs
         UNION ALL
         SELECT p2 AS src, p1 AS dst FROM pairs),
       l0 AS (
         SELECT DISTINCT src AS s, src AS node
         FROM edges WHERE src % 499 = 0),
       l1 AS (
         SELECT DISTINCT l0.s, e.dst AS node
         FROM l0 JOIN edges e ON e.src = l0.node
         WHERE NOT EXISTS (SELECT 1 FROM l0 p
                           WHERE p.s = l0.s AND p.node = e.dst)),
       l2 AS (
         SELECT DISTINCT l1.s, e.dst AS node
         FROM l1 JOIN edges e ON e.src = l1.node
         WHERE NOT EXISTS (SELECT 1 FROM l0 p
                           WHERE p.s = l1.s AND p.node = e.dst)
           AND NOT EXISTS (SELECT 1 FROM l1 p
                           WHERE p.s = l1.s AND p.node = e.dst)),
       l3 AS (
         SELECT DISTINCT l2.s, e.dst AS node
         FROM l2 JOIN edges e ON e.src = l2.node
         WHERE NOT EXISTS (SELECT 1 FROM l0 p
                           WHERE p.s = l2.s AND p.node = e.dst)
           AND NOT EXISTS (SELECT 1 FROM l1 p
                           WHERE p.s = l2.s AND p.node = e.dst)
           AND NOT EXISTS (SELECT 1 FROM l2 p
                           WHERE p.s = l2.s AND p.node = e.dst)),
       agg AS (
         SELECT node, CAST(count(*) AS BIGINT) AS reached,
                CAST(sum(d) AS BIGINT) AS sum_d
         FROM (SELECT s, node, 1 AS d FROM l1
               UNION ALL SELECT s, node, 2 FROM l2
               UNION ALL SELECT s, node, 3 FROM l3) u
         GROUP BY node)
       SELECT node, reached, sum_d,
              (reached * reached * 1000000) // sum_d AS lin_micro
       FROM agg
       ORDER BY lin_micro DESC, node LIMIT 20"""

  /** Oracle: the same 3 BFS levels as the betweenness oracle (σ
    * dropped), each level weighted by its constant 10⁶/l.
    */
  val harmonicSql: String =
    """WITH pairs AS (
         SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       edges AS (
         SELECT p1 AS src, p2 AS dst FROM pairs
         UNION ALL
         SELECT p2 AS src, p1 AS dst FROM pairs),
       l0 AS (
         SELECT DISTINCT src AS s, src AS node
         FROM edges WHERE src % 499 = 0),
       l1 AS (
         SELECT DISTINCT l0.s, e.dst AS node
         FROM l0 JOIN edges e ON e.src = l0.node
         WHERE NOT EXISTS (SELECT 1 FROM l0 p
                           WHERE p.s = l0.s AND p.node = e.dst)),
       l2 AS (
         SELECT DISTINCT l1.s, e.dst AS node
         FROM l1 JOIN edges e ON e.src = l1.node
         WHERE NOT EXISTS (SELECT 1 FROM l0 p
                           WHERE p.s = l1.s AND p.node = e.dst)
           AND NOT EXISTS (SELECT 1 FROM l1 p
                           WHERE p.s = l1.s AND p.node = e.dst)),
       l3 AS (
         SELECT DISTINCT l2.s, e.dst AS node
         FROM l2 JOIN edges e ON e.src = l2.node
         WHERE NOT EXISTS (SELECT 1 FROM l0 p
                           WHERE p.s = l2.s AND p.node = e.dst)
           AND NOT EXISTS (SELECT 1 FROM l1 p
                           WHERE p.s = l2.s AND p.node = e.dst)
           AND NOT EXISTS (SELECT 1 FROM l2 p
                           WHERE p.s = l2.s AND p.node = e.dst)),
       h AS (
         SELECT node, CAST(sum(w) AS BIGINT) AS h_micro
         FROM (SELECT s, node, 1000000 AS w FROM l1
               UNION ALL SELECT s, node, 500000 FROM l2
               UNION ALL SELECT s, node, 333333 FROM l3) u
         GROUP BY node)
       SELECT node, h_micro FROM h
       ORDER BY h_micro DESC, node LIMIT 20"""

  /** Rich-club coefficient φ(k) over a ladder of degree thresholds —
    * do the high-degree hubs preferentially link to EACH OTHER
    * (Colizza, Flammini, Serrano, Vespignani — Nature Physics 2006)?
    * For each k: N_k = |{v : deg(v) > k}|, E_k = undirected edges
    * with BOTH endpoints past k, φ(k) = 2·E_k / (N_k·(N_k−1)) — the
    * density of the subgraph induced by the club. All counts exact
    * BIGINT; the one division per threshold row is pinned and
    * rounded once.
    *
    * Scale shape: degree census is one partial-agg'd groupBy
    * (node-sized); the one-direction edge list joins that census on
    * src then dst — two edge-sized shuffle joins on node keys,
    * LINEAR in |E| (never a wedge or pair blow-up) — then fans out
    * over the tiny broadcast threshold ladder (|ks| rows) for one
    * final partial-agg'd count per k. N_k rides the same ladder over
    * the census. Nothing here needs a wedge budget: the club is
    * counted on edges, not pairs.
    */
  def richClub(spark: SparkSession, dir: String): DataFrame =
    richClubOf(copurchaseEdges(spark, dir), Seq(1L, 2L, 4L, 8L, 16L, 32L))

  def richClubOf(edges: DataFrame, ks: Seq[Long]): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
      .select($"src".as("node"), $"deg")
    val ladder = ks.toDF("k")
    val nk = deg.crossJoin(broadcast(ladder)).filter($"deg" > $"k")
      .groupBy($"k").agg(count(lit(1)).as("n_nodes"))
    val one = edges.filter($"src" < $"dst")
      .join(deg.select($"node".as("src"), $"deg".as("deg_s")), Seq("src"))
      .join(deg.select($"node".as("dst"), $"deg".as("deg_d")), Seq("dst"))
    val ek = one.crossJoin(broadcast(ladder))
      .filter($"deg_s" > $"k" && $"deg_d" > $"k")
      .groupBy($"k").agg(count(lit(1)).as("n_edges"))
    // ladder-first left joins: a threshold past the max degree still
    // emits its row (n_nodes = 0, φ = 0) — the ladder is the contract
    ladder.join(nk, Seq("k"), "left").join(ek, Seq("k"), "left")
      .withColumn("n_nodes", coalesce($"n_nodes", lit(0L)))
      .withColumn("n_edges", coalesce($"n_edges", lit(0L)))
      .select($"k", $"n_nodes", $"n_edges",
        when($"n_nodes" > 1L,
          round(lit(2.0) * $"n_edges".cast("double") /
            ($"n_nodes".cast("double") * ($"n_nodes" - 1L).cast("double")),
            6)).otherwise(lit(0.0)).as("phi"))
      .orderBy($"k")
  }

  val richClubSql: String =
    """WITH pairs AS (
         SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
       edges AS (
         SELECT p1 AS src, p2 AS dst FROM pairs
         UNION ALL
         SELECT p2 AS src, p1 AS dst FROM pairs),
       deg AS (
         SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
         FROM edges GROUP BY src),
       ks AS (SELECT CAST(k AS BIGINT) AS k
              FROM (VALUES (1), (2), (4), (8), (16), (32)) t(k)),
       nk AS (
         SELECT k, CAST(count(*) AS BIGINT) AS n_nodes
         FROM deg, ks WHERE deg > k GROUP BY k),
       ek AS (
         SELECT k, CAST(count(*) AS BIGINT) AS n_edges
         FROM pairs
         JOIN deg ds ON ds.node = pairs.p1
         JOIN deg dd ON dd.node = pairs.p2, ks
         WHERE ds.deg > k AND dd.deg > k GROUP BY k)
       SELECT ks.k, CAST(coalesce(nk.n_nodes, 0) AS BIGINT) AS n_nodes,
              CAST(coalesce(ek.n_edges, 0) AS BIGINT) AS n_edges,
              CASE WHEN coalesce(nk.n_nodes, 0) > 1
                   THEN round(2.0 * CAST(coalesce(ek.n_edges, 0) AS DOUBLE)
                     / (CAST(nk.n_nodes AS DOUBLE)
                        * CAST(nk.n_nodes - 1 AS DOUBLE)), 6)
                   ELSE 0.0 END AS phi
       FROM ks LEFT JOIN nk ON nk.k = ks.k
       LEFT JOIN ek ON ek.k = ks.k
       ORDER BY ks.k"""
}
