package graft.tools

import scala.collection.mutable

import graft.{Graft, Tables}
import org.apache.spark.sql.DataFrame

/** Independent corpus-scale verification of the graph gate family —
  * the DuckDB oracles are exact but impractical at sf0.1 (each
  * unrolled-CTE iteration materializes in a single-threaded engine;
  * the components closure alone runs hours), so this tool re-derives
  * every graph gate in plain single-threaded Scala from the raw
  * (orderkey, partkey) rows and diffs against the distributed
  * results. All six algorithms are integer-exact by design
  * (SCALING.md), so the comparison is equality, not tolerance.
  *
  * Usage: runMain graft.tools.GraphCrossCheck <sfDir>
  * Prints one ok/FAIL line per gate; exits 1 on any mismatch.
  */
object GraphCrossCheck {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = Graft.session(master = s"local[$cpus]",
      shufflePartitions = cpus.toInt, appName = "graft-graphxcheck")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val li = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_partkey").as[(Long, Long)].collect()

    // weighted undirected pair support: for each order with part-value
    // counts {x: cx}, pair (x<y) gains cx·cy instances — identical to
    // the operators' sorted-basket generator and the oracles' a<b
    // self-join count
    val w = mutable.HashMap.empty[(Long, Long), Long]
    li.groupBy(_._1).foreach { case (_, rows) =>
      val counts = rows.groupBy(_._2).map { case (p, r) => p -> r.length.toLong }
      val parts = counts.keys.toArray.sorted
      var i = 0
      while (i < parts.length) {
        var j = i + 1
        while (j < parts.length) {
          val k = (parts(i), parts(j))
          w(k) = w.getOrElse(k, 0L) + counts(parts(i)) * counts(parts(j))
          j += 1
        }
        i += 1
      }
    }
    val und = w.keys.toArray
    val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    val wadj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[(Long, Long)]]
    und.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += b
      adj.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += a
      val wt = w((a, b))
      wadj.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += ((b, wt))
      wadj.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += ((a, wt))
    }
    val nodes = adj.keys.toArray.sorted
    println(s"[graphxcheck] $dir: ${und.length} undirected edges, ${nodes.length} nodes")

    var failed = 0
    def check(name: String, got: Seq[Seq[Long]], want: Seq[Seq[Long]]): Unit =
      if (got == want) println(s"ok   $name: ${got.length} rows")
      else {
        failed += 1
        val diff = got.zipAll(want, Nil, Nil).filter { case (g, e) => g != e }
        println(s"FAIL $name: got ${got.length} rows want ${want.length}; " +
          s"first diffs: ${diff.take(3)}")
      }
    def rows(df: DataFrame): Seq[Seq[Long]] =
      df.collect().map(r => r.toSeq.map(_.asInstanceOf[Long]).toList.toSeq).toSeq

    // ── pagerank (unweighted, 5 iters, top 20) ──
    def pagerank(contrib: (Long, Long) => Iterable[(Long, Long)]): Map[Long, Long] = {
      var rank = nodes.map(_ -> 1000000L).toMap
      for (_ <- 1 to 5) {
        val in = mutable.HashMap.empty[Long, Long]
        nodes.foreach { u =>
          contrib(u, rank(u)).foreach { case (v, c) =>
            in(v) = in.getOrElse(v, 0L) + c
          }
        }
        rank = nodes.map(u => u -> (150000L + (850L * in.getOrElse(u, 0L)) / 1000L)).toMap
      }
      rank
    }
    def top20(rank: Map[Long, Long]): Seq[Seq[Long]] =
      rank.toSeq.sortBy { case (n, r) => (-r, n) }.take(20)
        .map { case (n, r) => Seq(n, r) }
    val pr = pagerank((u, r) => adj(u).map(v => v -> r / adj(u).length))
    check("graph_pagerank", rows(graft.operators.Graph.pageRank(spark, dir)), top20(pr))

    // ── weighted pagerank ──
    val wout = wadj.map { case (u, vs) => u -> vs.map(_._2).sum }
    val prw = pagerank((u, r) => wadj(u).map { case (v, wt) => v -> (r * wt) / wout(u) })
    check("graph_pagerank_weighted",
      rows(graft.operators.Graph.pageRankWeighted(spark, dir)), top20(prw))

    // ── triangles (per-node counts, top 20) ──
    val edgeSet = und.map { case (a, b) => a * 1000000007L + b }.toSet
    val tri = mutable.HashMap.empty[Long, Long]
    nodes.foreach { a =>
      val hi = adj(a).filter(_ > a).sorted
      var i = 0
      while (i < hi.length) {
        var j = i + 1
        while (j < hi.length) {
          if (edgeSet.contains(hi(i) * 1000000007L + hi(j))) {
            tri(a) = tri.getOrElse(a, 0L) + 1
            tri(hi(i)) = tri.getOrElse(hi(i), 0L) + 1
            tri(hi(j)) = tri.getOrElse(hi(j), 0L) + 1
          }
          j += 1
        }
        i += 1
      }
    }
    check("graph_triangles", rows(graft.operators.Graph.triangles(spark, dir)),
      tri.toSeq.sortBy { case (n, t) => (-t, n) }.take(20)
        .map { case (n, t) => Seq(n, t) })

    // ── eigenvector centrality (integer power iteration) ──
    val ecWant: Seq[Seq[Long]] = {
      var x = nodes.map(_ -> 1000000L).toMap
      (1 to 5).foreach { _ =>
        val raw = nodes.map(n => n -> adj(n).map(x).sum).toMap
        val mx = raw.values.max
        x = raw.map { case (n, r) => n -> r * 1000000L / mx }
      }
      x.toSeq.sortBy { case (n, s) => (-s, n) }.take(20)
        .map { case (n, s) => Seq(n, s) }
    }
    check("graph_eigencentrality",
      rows(graft.operators.Graph.eigenCentrality(spark, dir)), ecWant)

    // ── deterministic random walks (md5 hash replayed in scala) ──
    def md5hexLocal(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val sortedAdj = adj.map { case (k, v) => k -> v.sorted }
    val rwWant = nodes.filter(_ % 97 == 0).toSeq.sorted.flatMap { seed =>
      var node = seed
      (0 to 4).map { s =>
        if (s > 0) {
          val ns = sortedAdj(node)
          node = ns((BigInt(md5hexLocal(s"$seed#$s").take(7), 16)
            % ns.length).toInt)
        }
        Seq(seed, s.toLong, node)
      }
    }
    check("graph_random_walks",
      rows(graft.operators.Graph.randomWalks(spark, dir)), rwWant)

    // ── clustering coefficient census by degree class ──
    val ccWant = nodes.filter(n => adj(n).size >= 2)
      .groupBy(n => adj(n).size.toLong).toSeq.sortBy(_._1)
      .map { case (d, ns) =>
        val lccSum = ns.map(n =>
          (2 * tri.getOrElse(n, 0L) * 1000000L) / (d * (d - 1))).sum
        Seq(d, ns.size.toLong, ns.map(n => tri.getOrElse(n, 0L)).sum,
          lccSum / ns.size)
      }
    check("graph_clustering",
      rows(graft.operators.Graph.clusteringByDegree(spark, dir)), ccWant)

    // ── khop (seeds ≡ 0 mod 97, 3 hops; per-hop census) ──
    val hop = mutable.HashMap.empty[Long, Long]
    var frontier = nodes.filter(_ % 97 == 0).toSet
    frontier.foreach(n => hop(n) = 0L)
    for (h <- 1 to 3) {
      frontier = frontier.flatMap(adj(_)).filterNot(hop.contains)
      frontier.foreach(n => hop(n) = h.toLong)
    }
    check("graph_khop", rows(graft.operators.Graph.kHop(spark, dir)),
      hop.toSeq.groupBy(_._2).toSeq.sortBy(_._1)
        .map { case (h, ns) => Seq(h, ns.length.toLong, ns.map(_._1).sum) })

    // ── sssp (4 bounded Bellman-Ford rounds; per-distance census) ──
    var dist = nodes.filter(_ % 97 == 0).map(_ -> 0L).toMap
    for (_ <- 1 to 4) {
      val next = mutable.HashMap.empty[Long, Long] ++ dist
      dist.foreach { case (u, du) =>
        wadj(u).foreach { case (v, wt) =>
          val c = du + wt
          if (!next.contains(v) || c < next(v)) next(v) = c
        }
      }
      dist = next.toMap
    }
    check("graph_sssp", rows(graft.operators.Graph.sssp(spark, dir)),
      dist.toSeq.groupBy(_._2).toSeq.sortBy(_._1)
        .map { case (d, ns) => Seq(d, ns.length.toLong, ns.map(_._1).sum) })

    // ── components (min-label census) ──
    val label = mutable.HashMap.empty[Long, Long]
    nodes.foreach { n =>
      if (!label.contains(n)) {
        // BFS the whole component, label with its min id
        val seen = mutable.HashSet(n)
        val queue = mutable.Queue(n)
        while (queue.nonEmpty) {
          val u = queue.dequeue()
          adj(u).foreach { v => if (seen.add(v)) queue.enqueue(v) }
        }
        val m = seen.min
        seen.foreach(v => label(v) = m)
      }
    }
    check("graph_components", rows(graft.operators.Graph.components(spark, dir)),
      label.toSeq.groupBy(_._2).toSeq.sortBy(_._1)
        .map { case (c, ns) => Seq(c, ns.length.toLong, ns.map(_._1).sum) })

    // ── degree census ──
    check("graph_degrees", rows(graft.operators.Graph.degrees(spark, dir)),
      adj.toSeq.map { case (n, vs) => (n, vs.length.toLong) }
        .groupBy(_._2).toSeq.sortBy(_._1)
        .map { case (d, ns) => Seq(d, ns.length.toLong, ns.map(_._1).sum) })

    // ── auto-budget pre-flight census (r15 gate) ──
    {
      val degs = adj.toSeq.map(_._2.length.toLong)
      val wedges = degs.map(d => d * (d - 1) / 2).sum
      val budget = graft.operators.Graph.DefaultWedgeBudget
      check("graph_budget_census",
        rows(graft.operators.Graph.budgetCensus(spark, dir)
          .selectExpr("nodes", "edge_rows", "max_deg", "wedges",
            "CAST(exact_wedges_ok AS LONG)", "CAST(truss_pre_peel AS LONG)")),
        Seq(Seq(nodes.length.toLong, degs.sum, degs.max, wedges,
          if (wedges <= budget) 1L else 0L,
          if (wedges > budget) 1L else 0L)))
    }

    // ── synchronous label propagation (3 rounds, min-label ties) ──
    {
      var lab = nodes.map(n => n -> n).toMap
      for (_ <- 1 to 3) {
        lab = nodes.map { u =>
          val counts = mutable.HashMap.empty[Long, Long]
          adj(u).foreach { v =>
            counts(lab(v)) = counts.getOrElse(lab(v), 0L) + 1L
          }
          val mc = counts.values.max
          u -> counts.collect { case (l, c) if c == mc => l }.min
        }.toMap
      }
      check("graph_lpa",
        rows(graft.operators.Graph.labelPropagation(spark, dir)),
        lab.groupBy(_._2).toSeq.sortBy(_._1).map { case (l, m) =>
          Seq(l, m.size.toLong, m.keys.sum)
        })
    }

    // ── neighbor-Jaccard + Adamic–Adar link prediction (top 20
    // non-adjacent pairs each) ──
    // Σ C(deg,2) wedge pairs (~1.4·10⁸ at sf0.1) would OOM a boxed
    // HashMap; pack each a<b pair AND the apex degree into one Long
    // (a:24 | b:24 | deg:16), sort the flat primitive array, and walk
    // runs over the 48-bit pair prefix — ~1.1 GB peak, no boxing, one
    // array serving both gates (run length = common count for
    // Jaccard; Σ round(10⁶/ln(low 16 bits)) = the Adamic–Adar sum).
    val nbrSet = adj.view.mapValues(_.toSet).toMap
    val wedgeCount = nodes.map { n =>
      val d = adj(n).length.toLong; d * (d - 1) / 2
    }.sum
    val maxDeg = nodes.map(n => adj(n).length).max
    require(wedgeCount < Int.MaxValue && nodes.last < (1L << 24) &&
        maxDeg < (1 << 16),
      s"wedge array too large: $wedgeCount (maxDeg=$maxDeg)")
    val wedges = new Array[Long](wedgeCount.toInt)
    var wi = 0
    nodes.foreach { apex =>
      val ns = adj(apex).sorted.toArray
      val d = ns.length.toLong
      var i = 0
      while (i < ns.length) {
        var j = i + 1
        while (j < ns.length) {
          wedges(wi) = (ns(i) << 40) | (ns(j) << 16) | d; wi += 1; j += 1
        }
        i += 1
      }
    }
    java.util.Arrays.sort(wedges)
    // keep-20 queues dequeue the WORST candidate under (score desc, a, b)
    val worstFirst = mutable.PriorityQueue.empty[(Long, Long, Long, Long)](
      Ordering.by { case (ppm, a, b, _) => (-ppm, a, b) })
    val worstAa = mutable.PriorityQueue.empty[(Long, Long, Long, Long)](
      Ordering.by { case (aa, a, b, _) => (-aa, a, b) })
    var k = 0
    while (k < wedges.length) {
      var e = k
      var aaSum = 0L
      while (e < wedges.length &&
          (wedges(e) >>> 16) == (wedges(k) >>> 16)) {
        aaSum += math.round(1000000.0 / math.log((wedges(e) & 0xffffL).toDouble))
        e += 1
      }
      val (a, b) = (wedges(k) >>> 40, (wedges(k) >> 16) & 0xffffffL)
      if (!nbrSet(a).contains(b)) {
        val c = (e - k).toLong
        worstFirst.enqueue(
          (c * 1000000L / (nbrSet(a).size + nbrSet(b).size - c), a, b, c))
        if (worstFirst.size > 20) worstFirst.dequeue()
        worstAa.enqueue((aaSum, a, b, c))
        if (worstAa.size > 20) worstAa.dequeue()
      }
      k = e
    }
    val jacTop = worstFirst.dequeueAll.reverse
      .map((t: (Long, Long, Long, Long)) => Seq(t._2, t._3, t._4, t._1))
      .toSeq
    check("graph_neighbor_jaccard",
      rows(graft.operators.Graph.neighborJaccard(spark, dir)), jacTop)
    val aaTop = worstAa.dequeueAll.reverse
      .map((t: (Long, Long, Long, Long)) => Seq(t._2, t._3, t._4, t._1))
      .toSeq
    check("graph_adamic_adar",
      rows(graft.operators.Graph.adamicAdar(spark, dir)), aaTop)

    // ── personalized pagerank (seeds ≡ 0 mod 97, 5 iters, top 20) ──
    val pprSeq: Map[Long, Long] = {
      var rank = nodes.map(n => n -> (if (n % 97 == 0) 1000000L else 0L)).toMap
      for (_ <- 1 to 5) {
        val in = mutable.HashMap.empty[Long, Long]
        nodes.foreach { u =>
          val r = rank(u)
          if (r != 0) adj(u).foreach { v =>
            in(v) = in.getOrElse(v, 0L) + r / adj(u).length }
        }
        rank = nodes.map(u => u -> ((if (u % 97 == 0) 150000L else 0L) +
          (850L * in.getOrElse(u, 0L)) / 1000L)).toMap
      }
      rank.filter(_._2 > 0)
    }
    check("graph_ppr",
      rows(graft.operators.Graph.personalizedPageRank(spark, dir)),
      top20(pprSeq))

    // ── k-core peeling (k = 48, 3 rounds; per-round census) ──
    val kcoreSeq: Seq[Seq[Long]] = {
      var live = nodes.toSet
      val out = mutable.ArrayBuffer[Seq[Long]](
        Seq(0L, live.size.toLong, live.sum))
      for (r <- 1 to 3) {
        val deg = mutable.HashMap.empty[Long, Long]
        und.foreach { case (a, b) =>
          if (live(a) && live(b)) { deg(a) = deg.getOrElse(a, 0L) + 1
            deg(b) = deg.getOrElse(b, 0L) + 1 }
        }
        live = live.filter(n => deg.getOrElse(n, 0L) >= 48L)
        out += Seq(r.toLong, live.size.toLong, live.sum)
      }
      out.toSeq
    }
    // census sums are NULL on an empty round — compare via the
    // nullable row form
    val kcoreGot = graft.operators.Graph.kCore(spark, dir).collect()
      .map(r => Seq(r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    val kcoreWant = kcoreSeq.map { s =>
      if (s(1) == 0L) Seq(s(0), 0L, -1L) else s }
    check("graph_kcore", kcoreGot, kcoreWant)

    // ── k-truss peeling (k = 17, 3 rounds; per-round edge census) ──
    val ktrussWant: Seq[Seq[Long]] = {
      var es = und.map { case (a, b) => if (a < b) (a, b) else (b, a) }
        .distinct.toSeq
      val out = Seq.newBuilder[Seq[Long]]
      def cens(r: Long): Unit =
        out += Seq(r, es.length.toLong, es.map { case (a, b) => a + b }.sum)
      cens(0L)
      for (r <- 1 to 3) {
        val nbr = (es ++ es.map(_.swap)).groupBy(_._1).view
          .mapValues(_.map(_._2).toSet).toMap
        es = es.filter { case (a, b) => (nbr(a) & nbr(b)).size >= 15 }
        cens(r.toLong)
      }
      out.result()
    }
    check("graph_ktruss",
      rows(graft.operators.Graph.kTruss(spark, dir)), ktrussWant)

    // ── neighbor-Jaccard SKETCH (md5 MinHash replayed in scala) ──
    val sketchSeq: (Seq[Seq[Long]], Seq[Seq[Long]]) = {
      val mdt = new ThreadLocal[java.security.MessageDigest] {
        override def initialValue() = java.security.MessageDigest.getInstance("MD5")
      }
      def md5hex(s: String): String =
        mdt.get().digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val M = graft.operators.MinHashLSH.M
      val sig = nodes.map { u =>
        val mins = Array.fill(64)(Long.MaxValue)
        adj(u).foreach { v =>
          val hx = md5hex(v.toString)
          val h1 = java.lang.Long.parseLong(hx.substring(0, 7), 16)
          val h2 = java.lang.Long.parseLong(hx.substring(8, 15), 16)
          var i = 0
          while (i < 64) {
            val h = (h1 + i * (2 * h2 + 1)) % M
            if (h < mins(i)) mins(i) = h
            i += 1
          }
        }
        u -> mins
      }.toMap
      val buckets = mutable.HashMap.empty[(Int, String), mutable.ArrayBuffer[Long]]
      nodes.foreach { u =>
        val s = sig(u)
        (0 until 16).foreach { b =>
          val key = (b, md5hex((b * 4 until (b + 1) * 4).map(s(_)).mkString(","))
            .substring(0, 15))
          buckets.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += u
        }
      }
      val adjSet = adj.map { case (u, vs) => u -> vs.toSet }
      val cand = mutable.HashSet.empty[(Long, Long)]
      buckets.values.foreach { members =>
        val m = members.toArray.sorted
        var i = 0
        while (i < m.length) {
          var j = i + 1
          while (j < m.length) {
            if (!adjSet(m(i)).contains(m(j))) cand += ((m(i), m(j)))
            j += 1
          }
          i += 1
        }
      }
      val jacTop = cand.toSeq.flatMap { case (a, b) =>
        val common = (adjSet(a) & adjSet(b)).size.toLong
        if (common == 0) None
        else {
          val jac = common * 1000000L / (adjSet(a).size + adjSet(b).size - common)
          Some((a, b, common, jac))
        }
      }.sortBy { case (a, b, _, j) => (-j, a, b) }.take(20)
        .map { case (a, b, c, j) => Seq(a, b, c, j) }
      // AA re-score on the SAME candidate set (the shared LSH stage):
      // per shared neighbor round(1e6/ln deg), summed exact
      def w(n: Long): Long = {
        val d = adjSet(n).size
        if (d >= 2) math.round(1000000.0 / math.log(d.toDouble)) else 0L
      }
      val aaTop = cand.toSeq.flatMap { case (a, b) =>
        val shared = adjSet(a) & adjSet(b)
        if (shared.isEmpty) None
        else Some((a, b, shared.size.toLong, shared.iterator.map(w).sum))
      }.sortBy { case (a, b, _, s) => (-s, a, b) }.take(20)
        .map { case (a, b, c, s) => Seq(a, b, c, s) }
      (jacTop, aaTop)
    }
    check("graph_neighbor_jaccard_sketch",
      rows(graft.operators.Graph.neighborJaccardSketch(spark, dir)),
      sketchSeq._1)
    check("graph_adamic_adar_sketch",
      rows(graft.operators.Graph.adamicAdarSketch(spark, dir)), sketchSeq._2)

    // ── betweenness (sampled sources % 499, 3-hop horizon, quantized
    //    Brandes — δ in integer micro-units, trunc division) ──
    {
      val dedup = adj.map { case (u, vs) => u -> vs.distinct.toArray }
      val bc = mutable.HashMap.empty[Long, Long]
      nodes.filter(_ % 499 == 0).foreach { s =>
        val dist = mutable.HashMap(s -> 0)
        val sigma = mutable.HashMap(s -> 1L)
        val byLevel = mutable.ArrayBuffer(mutable.ArrayBuffer(s))
        for (l <- 1 to 3) {
          val next = mutable.LinkedHashSet.empty[Long]
          byLevel(l - 1).foreach { u =>
            dedup(u).foreach { v =>
              if (!dist.contains(v)) next += v
            }
          }
          next.foreach { v => dist(v) = l }
          next.foreach { v =>
            sigma(v) = dedup(v).iterator
              .filter(u => dist.get(u).contains(l - 1)).map(sigma).sum
          }
          byLevel += mutable.ArrayBuffer(next.toSeq.sorted: _*)
        }
        val dm = mutable.HashMap.empty[Long, Long]
        for (l <- 2 to 1 by -1) {
          byLevel(l).foreach { v =>
            val contribs = dedup(v).iterator
              .filter(wn => dist.get(wn).contains(l + 1))
              .map(wn => (sigma(v) * (1000000L + dm.getOrElse(wn, 0L))) / sigma(wn))
              .toSeq
            if (contribs.nonEmpty) {
              dm(v) = contribs.sum
              bc(v) = bc.getOrElse(v, 0L) + dm(v)
            }
          }
        }
      }
      val want = bc.toSeq.sortBy { case (n, b) => (-b, n) }.take(20)
        .map { case (n, b) => Seq(n, b) }
      check("graph_betweenness",
        rows(graft.operators.Graph.betweenness(spark, dir)), want)
    }

    // ── harmonic centrality and Lin closeness (same sampled seeds +
    //    3-hop BFS; harmonic weighs level l by the constant 10⁶/l,
    //    Lin is reached²·10⁶ div Σd) ──
    {
      val dedup = adj.map { case (u, vs) => u -> vs.distinct.toArray }
      val h = mutable.HashMap.empty[Long, Long]
      val reached = mutable.HashMap.empty[Long, Long]
      val sumD = mutable.HashMap.empty[Long, Long]
      val w = Array(0L, 1000000L, 500000L, 333333L)
      nodes.filter(_ % 499 == 0).foreach { s =>
        val dist = mutable.HashMap(s -> 0)
        var frontier = Seq(s)
        for (l <- 1 to 3) {
          val next = mutable.LinkedHashSet.empty[Long]
          frontier.foreach(u => dedup(u).foreach { v =>
            if (!dist.contains(v)) next += v
          })
          next.foreach { v =>
            dist(v) = l
            h(v) = h.getOrElse(v, 0L) + w(l)
            reached(v) = reached.getOrElse(v, 0L) + 1L
            sumD(v) = sumD.getOrElse(v, 0L) + l
          }
          frontier = next.toSeq
        }
      }
      val want = h.toSeq.sortBy { case (n, s) => (-s, n) }.take(20)
        .map { case (n, s) => Seq(n, s) }
      check("graph_harmonic",
        rows(graft.operators.Graph.harmonic(spark, dir)), want)
      val lin = reached.toSeq.map { case (n, r) =>
        (n, r, sumD(n), r * r * 1000000L / sumD(n)) }
      check("graph_closeness",
        rows(graft.operators.Graph.closeness(spark, dir)),
        lin.sortBy { case (n, _, _, l) => (-l, n) }.take(20)
          .map { case (n, r, d, l) => Seq(n, r, d, l) })
    }

    // ── HITS on the bipartite customer→part graph (3 iters) ──
    {
      import spark.implicits._
      val ords = Tables.orders(spark, dir)
        .select($"o_orderkey", $"o_custkey").as[(Long, Long)].collect()
        .toMap
      val up = li.map { case (ok, pk) => (ords(ok), pk) }.distinct
      var h = up.map(_._1).distinct.map(_ -> 1000000L).toMap
      var a = Map.empty[Long, Long]
      for (_ <- 1 to 3) {
        val ar = up.groupBy(_._2).view
          .mapValues(_.map(e => h(e._1)).sum).toMap
        val am = ar.values.max
        a = ar.view.mapValues(v => v * 1000000L / am).toMap
        val hr = up.groupBy(_._1).view
          .mapValues(_.map(e => a(e._2)).sum).toMap
        val hm = hr.values.max
        h = hr.view.mapValues(v => v * 1000000L / hm).toMap
      }
      val want =
        a.toSeq.sortBy { case (p, s) => (-s, p) }.take(20)
          .map { case (p, s) => Seq(p, s) } ++
        h.toSeq.sortBy { case (u, s) => (-s, u) }.take(20)
          .map { case (u, s) => Seq(u, s) }
      val got = graft.operators.Graph.hits(spark, dir).collect()
        .map(r => Seq(r.getLong(1), r.getLong(2)).toSeq).toSeq
      check("graph_hits", got, want)
    }

    // ── rich club (degree-threshold ladder; integer columns — φ is
    // one pinned division off n_nodes/n_edges, checked by OlapSpec) ──
    {
      val deg = adj.map { case (n, l) => n -> l.length.toLong }
      val ks = Seq(1L, 2L, 4L, 8L, 16L, 32L)
      val want = ks.map { k =>
        val club = deg.filter(_._2 > k).keySet
        val ek = und.count { case (a, b) => club(a) && club(b) }.toLong
        Seq(k, club.size.toLong, ek)
      }
      check("graph_richclub",
        rows(graft.operators.Graph.richClub(spark, dir)
          .select("k", "n_nodes", "n_edges")),
        want)
    }

    println(if (failed == 0) s"ALL GRAPH GATES MATCH the scala re-derivation at $dir"
      else s"$failed gate(s) FAILED")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
