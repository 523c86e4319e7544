package graft

import graft.operators.Graph
import org.apache.spark.sql.functions._

/** Integer-unit PageRank: the distributed iteration must equal a
  * sequential single-threaded re-derivation with the same integer
  * rules — any fp creep, merge-order dependence, or off-by-one in
  * the damping arithmetic breaks the equality.
  */
class GraphSpec extends SparkSpec {

  test("5-iteration ranks equal a sequential integer re-derivation on a crafted graph") {
    import spark.implicits._
    // path + triangle + star: mixed degrees so div truncation and
    // damping are both exercised asymmetrically
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 2L), // triangle 2-3-4 with tail 1
      (5L, 6L), (5L, 7L), (5L, 8L)) // star at 5
    val edges = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val got = Graph.pageRankWeightedOf(
        spark.createDataFrame(
          spark.sparkContext.parallelize(edges, 4)).toDF("src", "dst")
          .withColumn("w", lit(1L)),
        iters = 5, topK = 100)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var rank = adj.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to 5) {
      val contrib = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      for ((src, outs) <- adj; c = rank(src) / outs.length; dst <- outs)
        contrib(dst) += c
      rank = adj.keys.map(n => n -> (150000L + (850L * contrib(n)) / 1000L))
        .toMap
    }
    assert(got == rank, s"spark=$got sequential=$rank")
    // high-degree hub (5) must outrank its leaves, triangle nodes the tail
    assert(got(5L) > got(6L) && got(2L) > got(1L), s"ordering wrong: $got")
  }

  test("corpus ranks: every node keeps the damping floor; top-k fully tie-broken") {
    val rows = Graph.pageRank(spark, SF)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty)
    rows.foreach { case (n, r) =>
      assert(r >= 150000L, s"node $n below damping floor: $r") }
    // sorted by rank desc then node asc, no unordered ties
    assert(rows.sameElements(rows.sortBy { case (n, r) => (-r, n) }),
      s"top-k ordering not deterministic: ${rows.toSeq}")
  }

  private def bothDirs(und: Seq[(Long, Long)]) =
    und.flatMap { case (a, b) => Seq((a, b), (b, a)) }

  /** Reference per-node triangle counts by brute-force triple scan. */
  private def bruteTriangles(und: Seq[(Long, Long)]): Map[Long, Long] = {
    val es = und.map { case (a, b) => (a min b, a max b) }.toSet
    val nodes = es.toSeq.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val triples = for {
      a <- nodes; b <- nodes if a < b; c <- nodes if b < c
      if es((a, b)) && es((b, c)) && es((a, c))
    } yield Seq(a, b, c)
    triples.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
  }

  test("modularity: two cliques bridged once — perfect split scores high, one-community scores 0") {
    import spark.implicits._
    // K4 on 1-4, K4 on 5-8, one bridge 4-5
    val und = (for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)) ++
      (for { a <- 5L to 8L; b <- (a + 1) to 8L } yield (a, b)) :+ (4L, 5L)
    val edges = spark.createDataFrame(
      spark.sparkContext.parallelize(und, 4)).toDF("src", "dst")
    def q(labels: Seq[(Long, String)]): Map[String, Double] =
      Graph.modularityOf(edges, labels.toDF("node", "community"))
        .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    // the natural split: m=13, e_c=6, d_c=13 each side
    val split = (1L to 8L).map(n => n -> (if (n <= 4) "L" else "R"))
    val qs = q(split)
    val expect = 6.0 / 13 - math.pow(13.0 / 26, 2)
    assert(qs.values.forall(v => math.abs(v - expect) < 1e-6), s"$qs")
    assert(qs.values.sum > 0.4, "a good split must score high")
    // everything in ONE community: Q = m/m - (2m/2m)^2 = 0 exactly
    val one = q((1L to 8L).map(_ -> "all"))
    assert(one == Map("all" -> 0.0), s"$one")
  }

  test("eigencentrality: hub tops the star, middle tops the path; ≡ sequential integer iteration") {
    import spark.implicits._
    def run(und: Seq[(Long, Long)], iters: Int): Seq[(Long, Long)] =
      Graph.eigenCentralityOf(
        spark.createDataFrame(
          spark.sparkContext.parallelize(bothDirs(und), 4))
          .toDF("src", "dst"), iters, topK = 100)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    def sequential(und: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
      val adj = bothDirs(und).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      var x = adj.keys.map(_ -> 1000000L).toMap
      (1 to iters).foreach { _ =>
        val raw = adj.map { case (n, ns) => n -> ns.map(x).sum }
        val mx = raw.values.max
        x = raw.map { case (n, r) => n -> r * 1000000L / mx }
      }
      x
    }
    val star = (2L to 6L).map(l => (1L, l))
    val sGot = run(star, 5)
    assert(sGot.head._1 == 1L, s"hub must top the star: $sGot")
    // the 5-path OSCILLATES at odd rounds under integer floor
    // normalization (2,3,4 all clamp to the max); even rounds
    // resolve the middle strictly — a real property of the
    // truncated iteration, pinned here rather than papered over
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val pGot = run(path, 6)
    assert(pGot.head._1 == 3L, s"middle must top the path: $pGot")
    val rnd = new scala.util.Random(19)
    val und = (for {
      a <- 1L to 20L; b <- (a + 1) to 20L if rnd.nextDouble() < 0.3
    } yield (a, b)).toSeq
    val want = sequential(und, 5)
    run(und, 5).foreach { case (n, s) =>
      assert(want(n) == s, s"node $n: $s vs ${want(n)}") }
  }

  test("assortativity: star graph is perfectly disassortative (r = -1); random graph ≡ scala moments") {
    import spark.implicits._
    def of(und: Seq[(Long, Long)]): (Long, Long, Double) = {
      val r = Graph.assortativityOf(
        spark.createDataFrame(
          spark.sparkContext.parallelize(bothDirs(und), 4))
          .toDF("src", "dst")).head
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    }
    // star: hub degree 5 meets leaves of degree 1 on every edge
    val star = (2L to 6L).map(l => (1L, l))
    val (n, _, rs) = of(star)
    assert(n == 10 && math.abs(rs - (-1.0)) < 1e-9, s"star r=$rs")
    // random graph vs flat scala re-derivation
    val rnd = new scala.util.Random(17)
    val und = (for {
      a <- 1L to 25L; b <- (a + 1) to 25L if rnd.nextDouble() < 0.25
    } yield (a, b)).toSeq
    val deg = bothDirs(und).groupBy(_._1).view
      .mapValues(_.size.toLong).toMap
    val pts = bothDirs(und).map { case (a, b) => (deg(a), deg(b)) }
    val nn = pts.size.toLong
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val sx2 = pts.map(p => p._1 * p._1).sum
    val sy2 = pts.map(p => p._2 * p._2).sum
    val want = (nn.toDouble * sxy - sx.toDouble * sy) /
      (math.sqrt(nn.toDouble * sx2 - sx.toDouble * sx) *
        math.sqrt(nn.toDouble * sy2 - sy.toDouble * sy))
    val (gn, gsxy, gr) = of(und)
    assert(gn == nn && gsxy == sxy)
    assert(math.abs(gr - math.floor(want * 1e6 + 0.5) / 1e6) < 2e-6,
      s"r=$gr want=$want")
  }

  test("oriented triangle counts equal brute-force on K4 + pendant") {
    import spark.implicits._
    // K4 on 1-4 (4 triangles, 3 per node), pendant 5 off node 1 (0)
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L))
    val got = Graph.trianglesOf(
        spark.createDataFrame(
          spark.sparkContext.parallelize(bothDirs(und), 4))
          .toDF("src", "dst"), topK = 100)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      s"got $got") // node 5 closes no triangle → absent from counts
  }

  test("clustering census: triangle + pendant fixture, and pendant-only nodes drop out") {
    import spark.implicits._
    // triangle 1-2-3 plus pendant 4 off node 1: deg(1)=3 lcc=1/3,
    // deg(2)=deg(3)=2 lcc=1, deg(4)=1 → excluded
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L))
    val got = Graph.clusteringByDegreeOf(
        spark.createDataFrame(
          spark.sparkContext.parallelize(bothDirs(und), 4))
          .toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((2L, 2L, 2L, 1000000L), (3L, 1L, 1L, 333333L)),
      s"got ${got.toSeq}")
  }

  test("clustering census ≡ brute force on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val n = 30
    val und = (for {
      a <- 1L to n; b <- (a + 1) to n if rnd.nextDouble() < 0.3
    } yield (a, b)).toSeq
    val got = Graph.clusteringByDegreeOf(
        spark.createDataFrame(
          spark.sparkContext.parallelize(bothDirs(und), 8))
          .toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val perNode = Graph.trianglesOf(
        spark.createDataFrame(
          spark.sparkContext.parallelize(bothDirs(und), 8))
          .toDF("src", "dst"), topK = 10000)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tri = bruteTriangles(und)
    assert(perNode == tri,
      s"per-node diff: extra=${perNode.toSet -- tri.toSet} missing=${tri.toSet -- perNode.toSet}")
    val deg = und.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    // keys is a SET — force a Seq before mapping to counts, or equal
    // per-node values collapse and the sums come up short
    val want = deg.filter(_._2 >= 2).keys.toSeq.groupBy(deg).toSeq
      .sortBy(_._1)
      .map { case (d, ns) =>
        val ts = ns.map(nd => tri.getOrElse(nd, 0L))
        (d, ns.size.toLong, ts.sum,
          ns.map(nd => (2 * tri.getOrElse(nd, 0L) * 1000000L) /
            (d * (d - 1))).sum / ns.size)
      }
    assert(got.toSeq == want, s"got=${got.toSeq} want=$want " +
      s"perNodeTotal=${perNode.values.sum} bruteTotal=${tri.values.sum} " +
      s"edges=${und.size}")
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("random walks replay by hand on a crafted graph; trajectories are edge-valid on a random one") {
    import spark.implicits._
    // path 1-2-3 plus 2-4: adj(2) = [1,3,4] ordered by dst
    val und = Seq((1L, 2L), (2L, 3L), (2L, 4L))
    val adj = bothDirs(und).groupBy(_._1).view
      .mapValues(_.map(_._2).sorted.toIndexedSeq).toMap
    def h(walk: Long, step: Int, deg: Int): Int =
      (BigInt(md5hex(s"$walk#$step").take(7), 16) % deg).toInt
    def replay(seed: Long, steps: Int): Seq[(Long, Long, Long)] = {
      var node = seed
      (0 to steps).map { s =>
        if (s > 0) node = adj(node)(h(seed, s, adj(node).size))
        (seed, s.toLong, node)
      }
    }
    val got = Graph.randomWalksOf(
        spark.createDataFrame(
          spark.sparkContext.parallelize(bothDirs(und), 4))
          .toDF("src", "dst"), seedMod = 2L, steps = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = Seq(2L, 4L).flatMap(replay(_, 3))
    assert(got.toSeq == want, s"got=${got.toSeq} want=$want")

    val rnd = new scala.util.Random(13)
    val rund = (for {
      a <- 1L to 30L; b <- (a + 1) to 30L if rnd.nextDouble() < 0.3
    } yield (a, b)).toSeq
    val es = bothDirs(rund).toSet
    val rows = Graph.randomWalksOf(
        spark.createDataFrame(
          spark.sparkContext.parallelize(bothDirs(rund), 8))
          .toDF("src", "dst"), seedMod = 5L, steps = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val seeds = rund.flatMap(e => Seq(e._1, e._2)).distinct
      .filter(_ % 5 == 0)
    assert(rows.length == seeds.size * 5, s"${rows.length} rows")
    rows.groupBy(_._1).foreach { case (w, tr) =>
      val path = tr.sortBy(_._2).map(_._3).toSeq
      assert(path.head == w, s"walk $w starts at its seed")
      path.sliding(2).foreach { p =>
        assert(es((p(0), p(1))), s"walk $w traverses non-edge $p")
      }
    }
  }

  test("oriented triangle counts equal brute-force on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val n = 30
    val und = (for {
      a <- 1L to n; b <- (a + 1) to n if rnd.nextDouble() < 0.3
    } yield (a, b)).toSeq
    val got = Graph.trianglesOf(
        spark.createDataFrame(
          spark.sparkContext.parallelize(bothDirs(und), 8))
          .toDF("src", "dst"), topK = 1000)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = bruteTriangles(und)
    assert(got == want,
      s"mismatch: extra=${got.toSet -- want.toSet} missing=${want.toSet -- got.toSet}")
    // degree orientation found each triangle once — totals are 3·|tri|
    assert(got.values.sum % 3 == 0)
  }

  test("kHop layers are min-hop BFS: crafted path + unreachable island") {
    import spark.implicits._
    // 10—1—2—3—4 path (seed 10 via mod 10), island 6—7 unreachable
    val und = Seq((10L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (6L, 7L))
    val got = Graph.kHopOf(
        spark.createDataFrame(
          spark.sparkContext.parallelize(bothDirs(und), 4))
          .toDF("src", "dst"), seedMod = 10L, hops = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // hop→(count, id-sum): seed 10; then 1; then 2; then 3. Node 4 is
    // 4 hops out and the island never appears.
    assert(got.toSeq == Seq((0L, 1L, 10L), (1L, 1L, 1L), (2L, 1L, 2L),
      (3L, 1L, 3L)), s"got ${got.toSeq}")
  }

  test("kHop on a cycle stops growing once the frontier empties") {
    import spark.implicits._
    // triangle 10-1-2: everything reached by hop 1, hops 2-3 add nothing
    val und = Seq((10L, 1L), (1L, 2L), (2L, 10L))
    val got = Graph.kHopOf(
        spark.createDataFrame(
          spark.sparkContext.parallelize(bothDirs(und), 2))
          .toDF("src", "dst"), seedMod = 10L, hops = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((0L, 1L, 10L), (1L, 2L, 3L)), s"got ${got.toSeq}")
  }

  test("kHop with overlapping seed frontiers counts each node once, at its minimum hop") {
    // path 10—1—2—20 with seedMod 10: seeds 10 and 20 reach 1 and 2
    // from both sides (1 is 1 hop from 10 and 2 from 20, 2 the other
    // way round); a per-seed BFS would count each of them twice
    val und = Seq((10L, 1L), (1L, 2L), (2L, 20L))
    val got = Graph.kHopOf(
        spark.createDataFrame(
          spark.sparkContext.parallelize(bothDirs(und), 3))
          .toDF("src", "dst"), seedMod = 10L, hops = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((0L, 2L, 30L), (1L, 2L, 3L)), s"got ${got.toSeq}")
  }

  test("weighted ranks equal a sequential weighted re-derivation; weight skew shifts rank") {
    import spark.implicits._
    // star at 1 with one dominant edge (1-2 weight 10, others 1), plus
    // a light 3-4-5 triangle: weighting must route rank mass to 2
    val und = Seq((1L, 2L, 10L), (1L, 3L, 1L), (1L, 4L, 1L),
      (3L, 4L, 2L), (4L, 5L, 1L), (3L, 5L, 1L))
    val edges = und.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
    val got = Graph.pageRankWeightedOf(
        spark.createDataFrame(
          spark.sparkContext.parallelize(edges, 3)).toDF("src", "dst", "w"),
        iters = 5, topK = 100)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val adj = edges.groupBy(_._1).view
      .mapValues(es => es.map(e => (e._2, e._3))).toMap
    var rank = adj.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to 5) {
      val contrib = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      for ((src, outs) <- adj; wout = outs.map(_._2).sum;
           (dst, w) <- outs)
        contrib(dst) += rank(src) * w / wout
      rank = adj.keys.map(n => n -> (150000L + (850L * contrib(n)) / 1000L))
        .toMap
    }
    assert(got == rank, s"spark=$got sequential=$rank")
    // the heavy edge must dominate: 2 outranks every light-edge peer
    assert(got(2L) > got(3L) && got(2L) > got(4L), s"weighting inert: $got")
  }

  test("degree census: star + path fixture") {
    import spark.implicits._
    // star at 5 (leaves 6,7,8) + path 1-2: degrees 1×5 nodes, 3×1
    val und = Seq((5L, 6L), (5L, 7L), (5L, 8L), (1L, 2L))
    val got = Graph.degreesOf(
        spark.createDataFrame(
          spark.sparkContext.parallelize(bothDirs(und), 3))
          .toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 5L, 24L), (3L, 1L, 5L)), s"got ${got.toSeq}")
  }

  test("components census: crafted two-component graph + isolated pair") {
    import spark.implicits._
    // component A: path 1-2-3-4 (min 1); component B: triangle 7-8-9
    // (min 7); component C: lone edge 20-30 (min 20)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L), (8L, 9L),
      (7L, 9L), (20L, 30L))
    val got = Graph.componentsOf(
        spark.createDataFrame(
          spark.sparkContext.parallelize(pairs, 3)).toDF("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 4L, 10L), (7L, 3L, 24L), (20L, 2L, 50L)),
      s"got ${got.toSeq}")
  }

  test("sssp takes the light 3-hop path over the heavy 2-hop path; round-bounded") {
    import spark.implicits._
    // seed 7 (mod 7): 7-1-3 costs 20 in 2 hops; 7-2-4-3 costs 3 in 3
    // hops — weighted semantics must prefer the longer-but-lighter
    // path once enough rounds have run, and must NOT before
    val und = Seq((7L, 1L, 10L), (1L, 3L, 10L), (7L, 2L, 1L),
      (2L, 4L, 1L), (4L, 3L, 1L))
    val edges = spark.createDataFrame(
      spark.sparkContext.parallelize(
        und.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }, 3))
      .toDF("src", "dst", "w")
    def dists(rounds: Int): Map[Long, Long] =
      Graph.ssspDistsOf(edges, seedMod = 7L, rounds = rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dists(2) == Map(7L -> 0L, 1L -> 10L, 2L -> 1L, 3L -> 20L,
      4L -> 2L), s"2 rounds: ${dists(2)}")
    assert(dists(3) == Map(7L -> 0L, 1L -> 10L, 2L -> 1L, 3L -> 3L,
      4L -> 2L), s"3 rounds: ${dists(3)}")
  }

  test("sssp equals sequential k-round Bellman-Ford on a random weighted graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val n = 25
    val und = (for {
      a <- 1L to n; b <- (a + 1) to n if rnd.nextDouble() < 0.25
    } yield (a, b, rnd.nextInt(9) + 1L)).toSeq
    val both = und.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
    val rounds = 4
    val got = Graph.ssspDistsOf(
        spark.createDataFrame(
          spark.sparkContext.parallelize(both, 6)).toDF("src", "dst", "w"),
        seedMod = 5L, rounds = rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // full (non-frontier) k-round relaxation — the frontier
    // optimization must not change the fixpoint prefix
    var dist = both.map(_._1).distinct.filter(_ % 5 == 0)
      .map(_ -> 0L).toMap
    for (_ <- 1 to rounds) {
      val cand = scala.collection.mutable.Map.empty[Long, Long] ++ dist
      for ((s, d, w) <- both; sd <- dist.get(s)) {
        val nd = sd + w
        if (cand.get(d).forall(nd < _)) cand(d) = nd
      }
      dist = cand.toMap
    }
    assert(got == dist, s"spark=$got sequential=$dist")
  }

  test("components on the corpus graph: labels partition the node set") {
    import spark.implicits._
    val edges = Graph.copurchaseEdges(spark, SF)
    val nNodes = edges.select($"src").distinct().count()
    val census = Graph.components(spark, SF)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(census.map(_._2).sum == nNodes,
      s"census covers ${census.map(_._2).sum} of $nNodes nodes")
    assert(census.map(_._1).distinct.length == census.length)
  }

  /** Brute-force neighborhood Jaccard over every non-adjacent pair
    * with ≥1 common neighbor, in the same integer ppm arithmetic.
    */
  private def bruteJaccard(und: Seq[(Long, Long)]): Map[(Long, Long), (Long, Long)] = {
    val nbrs = bothDirs(und).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val nodes = nbrs.keys.toSeq.sorted
    (for {
      a <- nodes; b <- nodes if a < b
      if !nbrs(a).contains(b)
      common = (nbrs(a) & nbrs(b)).size.toLong if common > 0
    } yield (a, b) ->
        (common, common * 1000000L / (nbrs(a).size + nbrs(b).size - common))
    ).toMap
  }

  test("neighbor-Jaccard link prediction equals brute force on a crafted graph") {
    import spark.implicits._
    // two cliques sharing node 4 (so 3—5 etc. are strong predictions),
    // plus a pendant 8—1: pendant pairs score via their one wedge
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L), (5L, 7L), (6L, 7L), (8L, 1L))
    val got = Graph.neighborJaccardOf(
        spark.createDataFrame(
          spark.sparkContext.parallelize(bothDirs(und), 3)).toDF("src", "dst"),
        topK = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val exp = bruteJaccard(und)
    assert(got == exp, s"spark=$got brute=$exp")
    // no adjacent pair leaks through the anti-join
    assert(!got.keySet.exists(p => und.contains(p)),
      s"adjacent pair predicted: ${got.keySet.filter(und.contains)}")
  }

  test("neighbor-Jaccard equals brute force on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val und = (for {
      a <- 1L to 30L; b <- (a + 1) to 30L if rnd.nextDouble() < 0.15
    } yield (a, b)).toSeq
    val got = Graph.neighborJaccardOf(
        spark.createDataFrame(
          spark.sparkContext.parallelize(bothDirs(und), 5)).toDF("src", "dst"),
        topK = 10000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got == bruteJaccard(und))
  }

  private def toEdgeDf(und: Seq[(Long, Long)], parts: Int = 3) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(bothDirs(und), parts)).toDF("src", "dst")

  /** Brute-force Adamic–Adar in the same quantize-then-sum integer
    * arithmetic: w(c) = round(10⁶ / ln deg c), summed per pair.
    */
  private def bruteAdamicAdar(
      und: Seq[(Long, Long)]): Map[(Long, Long), (Long, Long)] = {
    val nbrs = bothDirs(und).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    def w(c: Long): Long =
      if (nbrs(c).size >= 2) math.round(1000000.0 / math.log(nbrs(c).size))
      else 0L
    val nodes = nbrs.keys.toSeq.sorted
    (for {
      a <- nodes; b <- nodes if a < b
      if !nbrs(a).contains(b)
      cs = nbrs(a) & nbrs(b) if cs.nonEmpty
    } yield (a, b) -> (cs.size.toLong, cs.toSeq.map(w).sum)).toMap
  }

  test("Adamic-Adar equals integer brute force on crafted and random graphs") {
    // crafted: the shared-clique shape — node 4 is the hub apex
    // (deg 4 → weight 10⁶/ln 4), pendant 8 exercises the deg-1 guard
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L), (5L, 7L), (6L, 7L), (8L, 1L))
    val got = Graph.adamicAdarOf(toEdgeDf(und), topK = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    val exp = bruteAdamicAdar(und)
    assert(got == exp, s"spark=$got brute=$exp")
    assert(!got.keySet.exists(p => und.contains(p)))
    // pair (2,8) shares only node 1 (deg 3): its score is exactly
    // that one apex weight — pins the quantization formula itself
    val byPair = got.view.mapValues(_._2).toMap
    assert(byPair((2L, 8L)) == math.round(1000000.0 / math.log(3)),
      "single-wedge pair scores exactly its apex weight")
    // random graph
    val rnd = new scala.util.Random(23)
    val rndUnd = (for {
      a <- 1L to 30L; b <- (a + 1) to 30L if rnd.nextDouble() < 0.15
    } yield (a, b)).toSeq
    val gotR = Graph.adamicAdarOf(toEdgeDf(rndUnd, 5), topK = 10000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(gotR == bruteAdamicAdar(rndUnd))
  }

  test("HITS: spark == sequential integer reference; star hub and its authority dominate") {
    import spark.implicits._
    // bipartite: user 1 buys parts 10,11,12,13; users 2,3 buy part 10
    // -> user 1 is the hub, part 10 the authority
    val up = Seq((1L, 10L), (1L, 11L), (1L, 12L), (1L, 13L),
      (2L, 10L), (3L, 10L))
    def reference(edges: Seq[(Long, Long)], iters: Int): (Map[Long, Long], Map[Long, Long]) = {
      var h = edges.map(_._1).distinct.map(_ -> 1000000L).toMap
      var a = Map.empty[Long, Long]
      for (_ <- 1 to iters) {
        val ar = edges.groupBy(_._2).view
          .mapValues(_.map(e => h(e._1)).sum).toMap
        val am = ar.values.max
        a = ar.view.mapValues(v => v * 1000000L / am).toMap
        val hr = edges.groupBy(_._1).view
          .mapValues(_.map(e => a(e._2)).sum).toMap
        val hm = hr.values.max
        h = hr.view.mapValues(v => v * 1000000L / hm).toMap
      }
      (h, a)
    }
    val got = Graph.hitsOf(up.toDF("u", "p"), iters = 3, topK = 100)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val (h, a) = reference(up, 3)
    h.foreach { case (u, s) => assert(got(("hub", u)) == s, s"hub $u") }
    a.foreach { case (p, s) => assert(got(("auth", p)) == s, s"auth $p") }
    assert(got(("hub", 1L)) == 1000000L, "star center is the max hub")
    assert(got(("auth", 10L)) == 1000000L, "shared part is the max authority")
  }

  test("k-truss peeling: clique edges survive, bridges peel; ≡ brute force on a random graph") {
    // 5-clique (every edge on 3 triangles) + a bridge to a pendant
    // triangle: at k=4 (support ≥ 2) the clique survives whole, the
    // bridge (on 0 triangles) peels in round 1, and the pendant
    // triangle (support 1 each) peels too
    val clique = for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b)
    val und = clique ++ Seq((5L, 6L), (6L, 7L), (6L, 8L), (7L, 8L))
    val got = Graph.kTrussOf(toEdgeDf(und), k = 4, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got(0L) == und.length.toLong)
    assert(got(1L) == 10L, s"round 1 kept ${got(1L)} edges, want the clique")
    assert(got(2L) == 10L, "clique must be stable")

    // brute force on a random graph: same peeling in plain scala
    def brute(undE: Seq[(Long, Long)], k: Long, rounds: Int): Seq[(Long, Long, Long)] = {
      var es = undE.map { case (a, b) => if (a < b) (a, b) else (b, a) }.distinct
      val out = Seq.newBuilder[(Long, Long, Long)]
      def cens(r: Long): Unit =
        out += ((r, es.length.toLong, es.map { case (a, b) => a + b }.sum))
      cens(0L)
      for (r <- 1 to rounds) {
        val nbr = (es ++ es.map(_.swap)).groupBy(_._1).view
          .mapValues(_.map(_._2).toSet).toMap
        es = es.filter { case (a, b) =>
          (nbr(a) & nbr(b)).size >= k - 2 }
        cens(r.toLong)
      }
      out.result()
    }
    val rnd = new scala.util.Random(17)
    val rndUnd = (for {
      a <- 1L to 25L; b <- (a + 1) to 25L if rnd.nextDouble() < 0.25
    } yield (a, b)).toSeq
    // one-directional a<b input must match the both-directions form
    // (the round-1 fast path re-symmetrizes when the count check
    // says the input is not already both-directions)
    import spark.implicits._
    val oneDir = rndUnd.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct.toDF("src", "dst")
    val gotR = Graph.kTrussOf(toEdgeDf(rndUnd, 5), k = 5, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2)))
    val expR = brute(rndUnd, 5L, 3).map { case (r, n, s) =>
      (r, n, if (n == 0) 0L else s) }
    assert(gotR.toSeq == expR, s"${gotR.toSeq} vs $expR")
    val gotOneDir = Graph.kTrussOf(oneDir, k = 5, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2)))
    assert(gotOneDir.toSeq == expR,
      s"one-directional input diverged: ${gotOneDir.toSeq} vs $expR")

    // consistently-DESCENDING one-row-per-edge input: the old
    // filter(src<dst) silently emptied it; now canonicalized
    val oneDirDesc = rndUnd.map { case (a, b) =>
      (math.max(a, b), math.min(a, b)) }.distinct.toDF("src", "dst")
    val gotDesc = Graph.kTrussOf(oneDirDesc, k = 5, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2)))
    assert(gotDesc.toSeq == expR,
      s"descending-orientation input diverged: ${gotDesc.toSeq} vs $expR")
  }

  test("k-truss rejects a balanced mixed-orientation edge frame (r14 advice)") {
    import spark.implicits._
    // one row per edge, orientations mixed so that exactly half the
    // rows have src<dst — the shape the old count-equality check
    // accepted as "both directions" while halving every degree
    val mixed = Seq((1L, 2L), (3L, 1L), (2L, 3L), (4L, 2L))
      .toDF("src", "dst")
    val ex = intercept[IllegalArgumentException] {
      Graph.kTrussOf(mixed, k = 3, rounds = 1)
    }
    assert(ex.getMessage.contains("mixed-orientation"), ex.getMessage)
  }

  test("Adamic-Adar enforces the wedge budget and the id packing bound") {
    val hub = (1L to 40L).map(i => (0L, i))
    val ex = intercept[IllegalStateException] {
      Graph.adamicAdarOf(toEdgeDf(hub), topK = 5, wedgeBudget = 100L)
    }
    assert(ex.getMessage.contains("adamicAdarSketchOf"),
      s"guard must name the AA-capable valve: ${ex.getMessage}")
    assert(Graph.adamicAdarOf(toEdgeDf(hub), topK = 5,
      wedgeBudget = 1000L).count() > 0)
    val bad = Seq((1L, 4294967296L))
    val ex2 = intercept[IllegalArgumentException] {
      Graph.adamicAdarOf(toEdgeDf(bad), topK = 5)
    }
    assert(ex2.getMessage.contains("remap ids first"))
  }

  test("wedge budget guard: a hub graph over the ceiling throws and names the valve; under it runs") {
    // star with a 40-degree hub: Σ C(deg,2) = C(40,2) = 780 wedges
    val hub = (1L to 40L).map(i => (0L, i))
    val ex = intercept[IllegalStateException] {
      Graph.neighborJaccardOf(toEdgeDf(hub), topK = 5, wedgeBudget = 100L)
    }
    assert(ex.getMessage.contains("780") &&
      ex.getMessage.contains("neighborJaccardSketchOf"),
      s"guard must report the wedge count and the valve: ${ex.getMessage}")
    // the same graph under a sufficient budget completes
    assert(Graph.neighborJaccardOf(toEdgeDf(hub), topK = 5,
      wedgeBudget = 1000L).count() > 0)
    // triangles has the same guard on the ORIENTED wedge stream (the
    // hub star orients to 0 oriented wedges, so use a triangle: one
    // oriented wedge at its min-(deg,id) apex)
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val tx = intercept[IllegalStateException] {
      Graph.trianglesOf(toEdgeDf(tri), topK = 5, wedgeBudget = 0L)
    }
    assert(tx.getMessage.contains("trianglesOf"), tx.getMessage)
  }

  test("pair-packing id bound is enforced at runtime, not in a comment") {
    // a node id at 2^32 would silently collide packed keys — the
    // operator must refuse instead (r10 advice)
    val bad = Seq((1L, 4294967296L), (2L, 4294967296L))
    val ex = intercept[IllegalArgumentException] {
      Graph.neighborJaccardOf(toEdgeDf(bad), topK = 5)
    }
    assert(ex.getMessage.contains("2^32"), ex.getMessage)
  }

  test("sketch valve: identical neighborhoods are found with certainty, scores re-verified exact") {
    // nodes 100 and 101 share the identical 8-node neighborhood (and
    // are not adjacent): identical adjacency sets → identical MinHash
    // signatures → every band collides → certain candidate; jac = 1.
    // Node pair (200, 201) shares nothing → must not be predicted.
    val und = (1L to 8L).flatMap(i => Seq((100L, i), (101L, i))) ++
      Seq((200L, 50L), (201L, 60L))
    val got = Graph.neighborJaccardSketchOf(toEdgeDf(und), topK = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got.contains((100L, 101L)), s"certain pair missed: $got")
    assert(got((100L, 101L)) == (8L, 1000000L), s"score not exact: $got")
    assert(!got.contains((200L, 201L)))
    // every reported score equals brute force — the re-verify step
    // means the sketch never ESTIMATES a reported number
    val brute = bruteJaccard(und)
    got.foreach { case (pair, score) =>
      assert(brute(pair) == score, s"$pair: sketch=$score brute=${brute(pair)}")
    }
  }

  test("sketch valve recall floor vs the exact operator on the corpus graph") {
    val edges = Graph.copurchaseEdges(spark, SF)
    val exact = Graph.neighborJaccardOf(edges, topK = 20)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3)))
    val sketch = Graph.neighborJaccardSketchOf(edges, topK = 1000000)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3)))
      .toMap
    // (a) whatever the sketch reports must carry the exact score —
    // cross-checked against the exact top-20 where they intersect
    exact.filter(p => sketch.contains(p._1)).foreach { case (pair, ppm) =>
      assert(sketch(pair) == ppm, s"$pair: sketch=${sketch(pair)} exact=$ppm")
    }
    // (b) recall floor on the exact top-20: the LSH s-curve at
    // B=16/R=4 gives each ~0.45-jaccard pair a ~50% per-band chance
    // union'd to ~54%; md5 is fixed, so the realized recall is
    // DETERMINISTIC for this corpus — floor pinned below the
    // measured value (see GraphSpec history), well above chance
    val hit = exact.count(p => sketch.contains(p._1))
    assert(hit >= exact.length * 3 / 10,
      s"sketch recall collapsed: $hit of ${exact.length} exact top-20 pairs")
  }

  test("AA sketch valve: identical neighborhoods certain, every reported score re-verified exact") {
    // nodes 100/101 share the identical 8-node neighborhood → every
    // band collides → certain candidate; each shared neighbor has
    // deg 2, so aa_micro = 8·round(10⁶/ln 2) exactly — pins both the
    // candidate stage and the integer re-score
    val und = (1L to 8L).flatMap(i => Seq((100L, i), (101L, i))) ++
      Seq((200L, 50L), (201L, 60L))
    val got = Graph.adamicAdarSketchOf(toEdgeDf(und), topK = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    val w2 = math.round(1000000.0 / math.log(2))
    assert(got.contains((100L, 101L)), s"certain pair missed: $got")
    assert(got((100L, 101L)) == (8L, 8L * w2), s"score not exact: $got")
    assert(!got.contains((200L, 201L)))
    val brute = bruteAdamicAdar(und)
    got.foreach { case (pair, score) =>
      assert(brute(pair) == score, s"$pair: sketch=$score brute=${brute(pair)}")
    }
  }

  test("AA sketch recall floor vs the exact operator on the corpus graph") {
    val edges = Graph.copurchaseEdges(spark, SF)
    val exact = Graph.adamicAdarOf(edges, topK = 20)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3)))
    val sketch = Graph.adamicAdarSketchOf(edges, topK = 1000000)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3)))
      .toMap
    // (a) reported scores are EXACT — never estimated
    exact.filter(p => sketch.contains(p._1)).foreach { case (pair, aa) =>
      assert(sketch(pair) == aa, s"$pair: sketch=${sketch(pair)} exact=$aa")
    }
    // (b) recall floor on the exact top-20 (md5 is fixed, so the
    // realized recall is deterministic for this corpus)
    val hit = exact.count(p => sketch.contains(p._1))
    assert(hit >= exact.length * 3 / 10,
      s"AA sketch recall collapsed: $hit of ${exact.length} top-20 pairs")
  }

  test("k-truss valve: past budget the (k-1)-core pre-peel engages, fixpoint ≡ direct") {
    // 5-clique + a 40-leaf star at a separate hub: the hub alone is
    // C(40,2)=780 wedges, past a 500 budget; the 3-core fixpoint
    // peels the leaves (deg 1) and then the stranded hub, leaving
    // just the clique (30 wedges — under budget). k-truss ⊆
    // (k−1)-core makes the peel lossless, so the FIXPOINT census of
    // the valved run must equal the direct (big-budget) run's.
    val clique = for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b)
    val und = clique ++ (101L to 140L).map(i => (50L, i))
    val valved = Graph.kTrussOf(toEdgeDf(und), k = 4, rounds = 2,
      wedgeBudget = 500L).collect()
    val direct = Graph.kTrussOf(toEdgeDf(und), k = 4, rounds = 2,
      wedgeBudget = 100000L).collect()
    def last(rows: Array[org.apache.spark.sql.Row]) = {
      val r = rows.maxBy(_.getLong(0))
      (r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
    }
    // both reach the same fixpoint: the intact clique (10 edges)
    assert(last(valved) == last(direct), s"${last(valved)} vs ${last(direct)}")
    assert(last(valved)._1 == 10L, s"clique must survive whole: ${last(valved)}")
    // round 0 of the valved run is the PEELED graph — the valve ran
    assert(valved.minBy(_.getLong(0)).getLong(1) == 10L,
      "pre-peel did not shrink the census base")
    // if even the core is past budget there is no lossless reduction
    // left — the guard must throw and say the pre-peel already ran
    val ex = intercept[IllegalStateException] {
      Graph.kTrussOf(toEdgeDf(und), k = 4, rounds = 2, wedgeBudget = 5L)
    }
    assert(ex.getMessage.contains("pre-peel"), ex.getMessage)
  }

  test("planGraphBudget: census-derived knobs keep the crafted hub graph under budget") {
    // 200-leaf star: 201 nodes, 400 edge rows, C(200,2)=19900 wedges
    val und = (1L to 200L).map(i => (0L, i))
    val edges = toEdgeDf(und)
    val knobs = Graph.planGraphBudget(edges, hops = 4, steps = 8,
      workBudget = 10000L, wedgeBudget = 1000L)
    assert(knobs.nodes == 201L && knobs.edgeRows == 400L &&
      knobs.maxDeg == 200L && knobs.wedges == 19900L, knobs.toString)
    assert(!knobs.exactWedgesOk && knobs.trussPrePeel, knobs.toString)
    // the knob's promise, checked against the REAL seed count the
    // % sampling realizes on this id space, not the planner's bound
    val bSeeds = (0L to 200L).count(_ % knobs.betweennessSeedMod == 0L)
    assert(bSeeds * 400L * 4L <= 10000L,
      s"betweenness work ${bSeeds * 1600L} > budget (seedMod=${knobs.betweennessSeedMod})")
    assert(bSeeds >= 1L, "planner must keep at least one seed")
    val wSeeds = (0L to 200L).count(_ % knobs.walkSeedMod == 0L)
    assert(wSeeds * 8L <= 10000L)
    // and the knob drives the operator as-is
    assert(Graph.betweennessOf(edges, knobs.betweennessSeedMod, hops = 4,
      topK = 5).count() >= 0L)
  }

  test("hitsOf refuses an empty or zero-scored edge frame with a clear message") {
    import spark.implicits._
    val ex = intercept[IllegalArgumentException] {
      Graph.hitsOf(Seq.empty[(Long, Long)].toDF("u", "p"), iters = 1,
        topK = 5)
    }
    assert(ex.getMessage.contains("empty"), ex.getMessage)
    val ex2 = intercept[IllegalArgumentException] {
      Graph.hitsOf(Seq((null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(1L)))
        .toDF("u", "p"), iters = 1, topK = 5)
    }
    assert(ex2.getMessage.contains("hitsOf"), ex2.getMessage)
  }

  test("personalized PageRank equals a sequential integer re-derivation; mass stays near the seed") {
    import spark.implicits._
    // two communities bridged by one edge; seed (node 5, via mod 5)
    // sits in the left one — right-community nodes must rank below
    // every left node reachable in few hops
    val und = Seq((5L, 1L), (5L, 2L), (1L, 2L), (2L, 3L), // left, seeded at 5
      (3L, 11L), // bridge
      (11L, 12L), (12L, 13L), (11L, 13L)) // right
    val edges = bothDirs(und)
    val got = Graph.personalizedPageRankOf(
        toEdgeDf(und), seedMod = 5L, iters = 5, topK = 100)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var rank = adj.keys.map(n => n -> (if (n % 5 == 0) 1000000L else 0L)).toMap
    for (_ <- 1 to 5) {
      val contrib = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      for ((src, outs) <- adj; c = rank(src) / outs.length; dst <- outs)
        contrib(dst) += c
      rank = adj.keys.map(n =>
        n -> ((if (n % 5 == 0) 150000L else 0L) + 850L * contrib(n) / 1000L))
        .toMap
    }
    val expected = rank.filter(_._2 > 0)
    assert(got == expected, s"spark=$got sequential=$expected")
    // personalization: the seed's direct neighbors outrank the far community
    assert(got(1L) > got(12L) && got(2L) > got(13L), s"mass drifted: $got")
  }

  /** Brute k-core peeling: repeatedly recompute induced degrees and
    * drop nodes below k, `rounds` times; census per round.
    */
  private def brutePeel(und: Seq[(Long, Long)], k: Long, rounds: Int)
      : Seq[(Long, Long, Option[Long])] = {
    val edges = bothDirs(und)
    var nodes = edges.map(_._1).toSet
    val out = Seq.newBuilder[(Long, Long, Option[Long])]
    def census(r: Long) = out += ((r, nodes.size.toLong,
      if (nodes.isEmpty) None else Some(nodes.sum)))
    census(0L)
    for (r <- 1 to rounds) {
      val deg = edges.filter(e => nodes(e._1) && nodes(e._2))
        .groupBy(_._1).view.mapValues(_.size.toLong).toMap
      nodes = nodes.filter(n => deg.getOrElse(n, 0L) >= k)
      census(r.toLong)
    }
    out.result()
  }

  test("k-core peeling equals brute force; peeling cascades (a chain unravels round by round)") {
    import spark.implicits._
    // K4 core (every induced degree 3) + a path tail 4-5-6-7: the
    // tail unravels one node per round under k=2 — the cascade a
    // single-pass degree filter would get wrong
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L))
    val got = Graph.kCoreOf(toEdgeDf(und), k = 2, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
    val exp = brutePeel(und, 2, 3)
    assert(got == exp, s"spark=$got brute=$exp")
    // the cascade really happened: strictly shrinking until the core
    assert(got.map(_._2) == Seq(7L, 6L, 5L, 4L), s"got $got")
  }

  test("LPA: two disjoint K4s collapse to exactly their min labels; sync rounds ≡ in-memory replay") {
    import spark.implicits._
    // K4 on 1-4 and K4 on 5-8, no bridge: after round 1 each clique
    // holds labels {2,1,1,1} / {6,5,5,5}, and round 2 unifies each
    // side on its minimum member — a deterministic two-community end
    // state a single round would NOT reach (round-1 state is mixed)
    val und = (for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)) ++
      (for { a <- 5L to 8L; b <- (a + 1) to 8L } yield (a, b))
    val bidir = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val edges = spark.createDataFrame(
      spark.sparkContext.parallelize(bidir, 4)).toDF("src", "dst")
    val got = Graph.labelPropagationOf(edges, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == (1L to 4L).map(n => (n, 1L)) ++ (5L to 8L).map(n => (n, 5L)),
      s"got $got")
    // replay equality on an irregular graph (kite + tail + isolateish
    // pendant): synchronous update with min-label tie-break, 3 rounds
    val und2 = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 7L), (7L, 8L), (8L, 6L))
    val bidir2 = und2.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val adj = bidir2.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lab = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      lab = adj.keys.map { u =>
        val counts = adj(u).groupBy(lab).view.mapValues(_.length).toMap
        val mc = counts.values.max
        u -> counts.collect { case (l, c) if c == mc => l }.min
      }.toMap
    }
    val got2 = Graph.labelPropagationOf(
        spark.createDataFrame(spark.sparkContext.parallelize(bidir2, 4))
          .toDF("src", "dst"), rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got2 == lab.toSeq.sorted, s"spark=$got2 replay=${lab.toSeq.sorted}")
  }

  /** In-memory replay of the QUANTIZED Brandes estimator — the same
    * sampled sources, hop horizon, and integer micro-unit δ with
    * truncating division the operator documents.
    */
  private def bruteBetweenness(und: Seq[(Long, Long)], seedMod: Long,
      hops: Int, topK: Int): Seq[(Long, Long)] = {
    import scala.collection.mutable
    val adj = mutable.HashMap.empty[Long, mutable.Set[Long]]
    und.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.Set.empty) += b
      adj.getOrElseUpdate(b, mutable.Set.empty) += a
    }
    val bc = mutable.HashMap.empty[Long, Long]
    adj.keys.toSeq.sorted.filter(_ % seedMod == 0).foreach { s =>
      val dist = mutable.HashMap(s -> 0)
      val sigma = mutable.HashMap(s -> 1L)
      val levels = mutable.ArrayBuffer(Seq(s))
      for (l <- 1 to hops) {
        val next = levels(l - 1).flatMap(adj(_)).distinct
          .filterNot(dist.contains).sorted
        next.foreach(v => dist(v) = l)
        next.foreach(v => sigma(v) = adj(v).toSeq
          .filter(u => dist.get(u).contains(l - 1)).map(sigma).sum)
        levels += next
      }
      val dm = mutable.HashMap.empty[Long, Long]
      for (l <- hops - 1 to 1 by -1) levels(l).foreach { v =>
        val cs = adj(v).toSeq
          .filter(w => dist.get(w).contains(l + 1))
          .map(w => sigma(v) * (1000000L + dm.getOrElse(w, 0L)) / sigma(w))
        if (cs.nonEmpty) { dm(v) = cs.sum; bc(v) = bc.getOrElse(v, 0L) + dm(v) }
      }
    }
    bc.toSeq.sortBy { case (n, b) => (-b, n) }.take(topK)
  }

  test("betweenness: star center carries all of it, path midpoint tops; ≡ quantized replay") {
    // star: center 10, leaves 1..5 — every leaf-to-leaf shortest path
    // runs through the center, leaves are never interior
    val star = (1L to 5L).map(l => (10L, l))
    val gotStar = Graph.betweennessOf(toEdgeDf(star), seedMod = 1L,
        hops = 2, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // from each of 5 leaf sources the center's δμ is 4·10⁶ (4 unit-σ
    // successors); the center source contributes nothing interior
    assert(gotStar == Seq((10L, 20000000L)),
      s"star: $gotStar (leaves must be absent, not zero)")
    // path 1-2-3-4-5: the midpoint dominates; exact vs replay
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val gotPath = Graph.betweennessOf(toEdgeDf(path), seedMod = 1L,
        hops = 3, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(gotPath == bruteBetweenness(path, 1L, 3, 10),
      s"path: $gotPath vs ${bruteBetweenness(path, 1L, 3, 10)}")
    assert(gotPath.head._1 == 3L, s"midpoint must top the path: $gotPath")
  }

  test("betweenness equals the quantized replay on a random graph incl. tied-σ splits") {
    val rnd = new scala.util.Random(11)
    // dense-ish so multiple equal-length paths (σ > 1) actually occur
    val und = (for {
      a <- 1L to 24L; b <- (a + 1) to 24L if rnd.nextDouble() < 0.18
    } yield (a, b)).toSeq
    val want = bruteBetweenness(und, seedMod = 2L, hops = 3, topK = 15)
    val got = Graph.betweennessOf(toEdgeDf(und, parts = 4), seedMod = 2L,
        hops = 3, topK = 15)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want, s"$got vs $want")
  }

  test("harmonic: star center sums its leaves, path halves with distance, components stay apart") {
    def run(und: Seq[(Long, Long)], hops: Int = 3) =
      Graph.harmonicOf(toEdgeDf(und), seedMod = 1L, hops = hops, topK = 100)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // star 0—{1..5}: center gets 5 seeds at d=1; each leaf gets the
    // center at d=1 plus 4 siblings at d=2
    val star = run((1L to 5L).map(l => (0L, l)))
    assert(star(0L) == 5000000L)
    (1L to 5L).foreach(l => assert(star(l) == 1000000L + 4L * 500000L))
    // path 0—1—2—3 at 3 hops: ends see 1e6+5e5+333333, middles
    // 2·1e6 + 5e5 (+333333 only if a 3-away node exists — none)
    val path = run(Seq((0L, 1L), (1L, 2L), (2L, 3L)))
    assert(path(0L) == 1000000L + 500000L + 333333L && path(0L) == path(3L))
    assert(path(1L) == 2L * 1000000L + 500000L && path(1L) == path(2L))
    // two disjoint edges: no cross-component contribution ever
    val comp = run(Seq((0L, 1L), (10L, 11L)))
    assert(comp.values.toSet == Set(1000000L))
    // horizon binds: the path at hops=1 drops every d≥2 term
    val path1 = run(Seq((0L, 1L), (1L, 2L), (2L, 3L)), hops = 1)
    assert(path1(0L) == 1000000L && path1(1L) == 2000000L)
  }

  test("conductance: two bridged cliques read cut/vol exactly; a boundary-less community reads 0") {
    import spark.implicits._
    // K3 + K3 joined by one bridge: vol = 7 each side, cut = 1
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val edges = spark.createDataFrame(
      spark.sparkContext.parallelize(und, 3)).toDF("src", "dst")
    def labels(f: Long => String) =
      (1L to 6L).map(n => (n, f(n))).toDF("node", "community")
    val got = Graph.conductanceOf(edges,
        labels(n => if (n <= 3) "A" else "B"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val phi = math.floor(1.0 / 7.0 * 1e6 + 0.5) / 1e6
    assert(got("A") == ((3L, 1L, 7L, phi)) && got("B") == ((3L, 1L, 7L, phi)),
      got.toString)
    // one community over everything: no boundary, conductance 0
    val whole = Graph.conductanceOf(edges, labels(_ => "ALL")).collect().head
    assert(whole.getLong(2) == 0L && whole.getDouble(4) == 0.0)
  }

  test("lin closeness: star graph, all nodes seeded — center dominates with reached^2/sum_d exact") {
    import spark.implicits._
    import graft.operators.Graph
    // star: center 0, leaves 1..4 (both directions)
    val und = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = Graph.linClosenessOf(edges, seedMod = 1L, hops = 2, topK = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    // center: reached 4 at d=1 -> lin = 16e6/4; every leaf: d=1 to
    // center + d=2 to the other three -> reached 4, sum_d 7
    assert(got.head == (0L, 4L, 4L, 4000000L), s"got ${got.head}")
    got.tail.foreach { case (node, reached, sumd, lin) =>
      assert(reached == 4L && sumd == 7L && lin == 16000000L / 7L,
        s"leaf $node: ($reached, $sumd, $lin)")
    }
  }

  test("rich club: clique is φ=1 at every feasible k; star's club empties past the spokes; ladder rows survive past max degree") {
    import spark.implicits._
    import graft.operators.Graph
    // K4: every node degree 3
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val clique = (k4 ++ k4.map(_.swap)).toDF("src", "dst")
    val gotClique = Graph.richClubOf(clique, Seq(1L, 2L, 3L)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    // deg>1 and deg>2 keep all 4 nodes and all 6 edges: density 1
    assert(gotClique(1L) == ((4L, 6L, 1.0)))
    assert(gotClique(2L) == ((4L, 6L, 1.0)))
    // deg>3 excludes everyone — the ladder row still exists, zeroed
    assert(gotClique(3L) == ((0L, 0L, 0.0)))
    // star: hub 0 (deg 4), spokes deg 1 — club at k=1 is the lone
    // hub: no pair, φ pinned to 0 by the n<2 guard
    val undStar = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))
    val star = (undStar ++ undStar.map(_.swap)).toDF("src", "dst")
    val gotStar = Graph.richClubOf(star, Seq(1L, 4L)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(gotStar(1L) == ((1L, 0L, 0.0)))
    assert(gotStar(4L) == ((0L, 0L, 0.0)))
  }
}
