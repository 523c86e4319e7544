package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity operators over `embeddings`
  * (vec_id, embedding: array<float>, label).
  *
  * Dot products run in double precision, sequential order — the
  * native kernels (graft.functions.VecDot/VecCosine) match a SQL
  * list_reduce left fold bit-for-bit, which is what lets every
  * operator here carry an exact DuckDB oracle: identical IEEE
  * operations produce identical doubles, so even sign thresholds
  * (LSH bits) and top-k orderings agree between engines. No UDFs.
  */
object Similarity {

  /** Σ aᵢ·bᵢ in double precision — native codegen kernel
    * (graft.functions.VecDot), registered via GraftExtensions.
    */
  def dotCol(a: Column, b: Column): Column =
    call_function("vec_dot", a, b)

  /** Fused single-pass cosine (graft.functions.VecCosine). */
  def cosineCol(a: Column, b: Column): Column =
    call_function("vec_cosine", a, b)

  /** Cosine from PRE-COMPUTED norms — bit-identical to [[cosineCol]]
    * (`na`/`nb` must be sqrt(vec_dot(e, e)), the same sequential Σx²
    * fold the fused kernel accumulates; the quotient and the
    * zero-denominator → 0.0 guard are the same IEEE operations in the
    * same order). On an all-pairs scan this cuts the per-pair kernel
    * from three dot products to one: the norms are computed once per
    * VECTOR instead of once per PAIR (guide §1.2 — don't recompute
    * what a cheaper pass already knows).
    */
  def cosinePrenormed(ea: Column, eb: Column, na: Column,
      nb: Column): Column = {
    val denom = na * nb
    when(denom === 0.0, 0.0).otherwise(dotCol(ea, eb) / denom)
  }

  /** Spread a CPU-heavy kernel scan across the session's default
    * parallelism. The gate corpora arrive as ONE parquet split, and a
    * broadcast/nested-loop pair scan fuses its whole O(n·candidates)
    * kernel loop into that single scan task — measured single-task
    * 2.8-20 s stages on the r16 probe. Round-robin repartition
    * restores map-side parallelism; the pair joins broadcast their
    * other side, so no co-location is lost, and on a many-split
    * production scan this is a cores-sized rebalance, not a collapse
    * (defaultParallelism tracks the cluster, not a local constant).
    */
  private[operators] def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Row cap for data-sized broadcast sides, gated on a MEASURED
    * census (never a planner estimate): 4M rows of (id, vector,
    * norm) is comfortably under the 8 GB / 512M-row broadcast hard
    * cap with room for wide embeddings; past it the planner's
    * shuffle join takes over.
    */
  private[operators] val BroadcastRowCap: Long = 4000000L

  /** Reference HOF formulation, kept for spec cross-validation of
    * the native kernels.
    */
  def dotColHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** DuckDB rendering of the same sequential-fold dot product. */
  private def dotSql(a: String, b: String): String =
    s"""list_reduce(list_transform(list_zip($a, $b),
          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, v) -> acc + v)"""

  /** DuckDB rendering of VecCosine (dot / (‖a‖·‖b‖)). */
  private[operators] def cosineSql(a: String, b: String): String =
    s"""(${dotSql(a, b)}
         / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"""

  /** #33 brute-force cosine top-k: every query vector (vec_id <
    * nQueries) against the full corpus. The query side is broadcast,
    * so the corpus is scanned exactly once with no shuffle before
    * the per-query top-k.
    */
  def bruteforceTopK(spark: SparkSession, dir: String,
      nQueries: Int = 5, k: Int = 5): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    val cands = spread(
      emb.select($"vec_id".as("cand_id"), $"embedding".as("c_emb")))
      .withColumn("c_n", sqrt(dotCol($"c_emb", $"c_emb")))
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"cand_id")
    cands.join(broadcast(queries
        .withColumn("q_n", sqrt(dotCol($"q_emb", $"q_emb")))),
        $"cand_id" =!= $"query_id")
      .select($"query_id", $"cand_id",
        round(cosinePrenormed($"q_emb", $"c_emb", $"q_n", $"c_n"), 4)
          .as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= k)
      .select($"query_id", $"cand_id", $"cos", $"rk".cast("long").as("rk"))
  }

  def bruteforceTopKSql(nQueries: Int = 5, k: Int = 5): String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
                   FROM embeddings WHERE vec_id < $nQueries),
        scored AS (
          SELECT q.query_id, c.vec_id AS cand_id,
                 round(${cosineSql("q.q_emb", "c.embedding")}, 4) AS cos
          FROM embeddings c CROSS JOIN q
          WHERE c.vec_id <> q.query_id)
        SELECT query_id, cand_id, cos, rk FROM (
          SELECT query_id, cand_id, cos,
                 CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, cand_id) AS BIGINT) AS rk
          FROM scored)
        WHERE rk <= $k"""

  /** Filtered vector search — top-k restricted to candidates sharing
    * the query's label (the metadata-filter kNN every vector store
    * grew in 2023; category-scoped retrieval is the training-data
    * shape: "nearest neighbors within the same source/language").
    * Strategy is PRE-filter: the label predicate joins BEFORE any
    * distance work, so selectivity s cuts the scan to s·N — the
    * right side of the pre/post trade whenever the filter is
    * indexable-selective (post-filter k' oversampling is the ANN
    * fallback when it isn't; here exactness is the contract, so the
    * pre-filter is both faster AND correct). Same broadcast-query
    * one-scan shape as [[bruteforceTopK]].
    */
  def filteredTopK(spark: SparkSession, dir: String,
      nQueries: Int = 5, k: Int = 5): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"label".as("q_label"),
        $"embedding".as("q_emb"))
    val cands = spread(emb.select($"vec_id".as("cand_id"), $"label",
      $"embedding".as("c_emb")))
      .withColumn("c_n", sqrt(dotCol($"c_emb", $"c_emb")))
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"cand_id")
    cands.join(broadcast(queries
        .withColumn("q_n", sqrt(dotCol($"q_emb", $"q_emb")))),
        $"label" === $"q_label" && $"cand_id" =!= $"query_id")
      .select($"query_id", $"cand_id", $"label",
        round(cosinePrenormed($"q_emb", $"c_emb", $"q_n", $"c_n"), 4)
          .as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= k)
      .select($"query_id", $"cand_id", $"label", $"cos",
        $"rk".cast("long").as("rk"))
  }

  def filteredTopKSql(nQueries: Int = 5, k: Int = 5): String =
    s"""WITH q AS (SELECT vec_id AS query_id, label AS q_label,
                          embedding AS q_emb
                   FROM embeddings WHERE vec_id < $nQueries),
        scored AS (
          SELECT q.query_id, c.vec_id AS cand_id, c.label,
                 round(${cosineSql("q.q_emb", "c.embedding")}, 4) AS cos
          FROM embeddings c JOIN q
            ON c.label = q.q_label AND c.vec_id <> q.query_id)
        SELECT query_id, cand_id, label, cos, rk FROM (
          SELECT query_id, cand_id, label, cos,
                 CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, cand_id) AS BIGINT) AS rk
          FROM scored)
        WHERE rk <= $k"""

  /** #32 blocked embedding near-dup: pairs within the same `label`
    * block above a cosine threshold. Blocking bounds the pair space;
    * at scale the block key becomes an LSH bucket (see
    * embeddingDedupLsh).
    */
  def embeddingDedup(spark: SparkSession, dir: String,
      threshold: Double = 0.35): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"label", $"embedding")
    // broadcast gated on a measured census — [[dbscanPairs]] rationale
    val fits = emb.count() <= BroadcastRowCap
    val a0 = emb.select($"vec_id".as("vec_a"), $"label",
      $"embedding".as("e_a"))
    val a = (if (fits) spread(a0) else a0)
      .withColumn("n_a", sqrt(dotCol($"e_a", $"e_a")))
    val b = emb.select($"vec_id".as("vec_b"), $"label", $"embedding".as("e_b"))
      .withColumn("n_b", sqrt(dotCol($"e_b", $"e_b")))
    a.join(if (fits) broadcast(b) else b, Seq("label"))
      .filter($"vec_a" < $"vec_b")
      .select($"vec_a", $"vec_b",
        round(cosinePrenormed($"e_a", $"e_b", $"n_a", $"n_b"), 4).as("cos"))
      .filter($"cos" >= threshold)
  }

  def embeddingDedupSql(threshold: Double = 0.35): String =
    s"""WITH scored AS (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                 round(${cosineSql("a.embedding", "b.embedding")}, 4) AS cos
          FROM embeddings a JOIN embeddings b
            ON a.label = b.label AND a.vec_id < b.vec_id)
        SELECT vec_a, vec_b, cos FROM scored WHERE cos >= $threshold"""

  // ── random-hyperplane LSH machinery (shared by #32b and #34) ──────

  /** Deterministic pseudo-random hyperplanes (seeded LCG → values in
    * [-1, 1]). Sign-threshold LSH only needs directions, and the
    * exact component values are embedded as literals in both the
    * Spark plan and the generated DuckDB oracle.
    */
  def planesFor(nPlanes: Int): Array[Array[Double]] = {
    require(nPlanes >= 1 && nPlanes <= 63, s"nPlanes must be in [1,63], got $nPlanes")
    var s = 1234567L
    def next(): Double = {
      s = s * 6364136223846793005L + 1442695040888963407L
      (s >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
    Array.fill(nPlanes)(Array.fill(64)(next()))
  }

  val PLANES = 16
  private lazy val planes16 = planesFor(PLANES)

  /** n-bit hyperplane signature of an embedding column (planes as
    * float literals — the native kernel takes array<float> on both
    * sides).
    */
  def lshSignatureColFor(emb: Column, planes: Array[Array[Double]]): Column = {
    val sigBits = planes.zipWithIndex.map { case (p, i) =>
      val pl = array(p.toSeq.map(v => lit(v.toFloat)): _*)
      when(dotCol(emb, pl) > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    sigBits.reduce((a, b) => a.bitwiseOR(b))
  }

  def lshSignatureCol(emb: Column): Column =
    lshSignatureColFor(emb, planes16)

  /** (vec_id, chunk_idx, chunk) rows — ids only, embeddings pruned
    * before any generator, so nothing downstream shuffles arrays.
    */
  private def chunkRows(emb: DataFrame, planes: Array[Array[Double]],
      chunkBits: Int): DataFrame = {
    import emb.sparkSession.implicits._
    val nChunks = planes.length / chunkBits
    val mask = (1L << chunkBits) - 1
    emb.select($"vec_id", lshSignatureColFor($"embedding", planes).as("sig"))
      .select($"vec_id", posexplode(
        transform(sequence(lit(0), lit(nChunks - 1)), c =>
          call_function("shiftright", $"sig", c * chunkBits).bitwiseAND(lit(mask)))))
      .withColumnRenamed("pos", "chunk_idx").withColumnRenamed("col", "chunk")
  }

  /** Multi-probe expansion: the chunk itself plus its single-bit
    * flips, so pairs that disagree on one hyperplane per chunk still
    * collide somewhere.
    */
  private def probeCol(chunk: Column, chunkBits: Int): Column =
    explode(array(chunk +:
      (0 until chunkBits).map(b => chunk.bitwiseXOR(lit(1L << b))): _*))

  /** SQL fragments mirroring [[chunkRows]]: a `planes(pi, pv)` VALUES
    * CTE and a relational bits→chunks derivation (DuckDB refuses
    * `1::BIGINT << 63`, so the signature never gets packed there).
    */
  private def chunkCtes(planes: Array[Array[Double]], chunkBits: Int): String = {
    val planeRows = planes.zipWithIndex.map { case (p, i) =>
      "(" + i + ", [" + p.map(v => s"CAST($v AS FLOAT)").mkString(", ") + "])"
    }.mkString(",\n            ")
    s"""planes AS (
          SELECT * FROM (VALUES
            $planeRows) p(pi, pv)),
        bits AS (
          SELECT e.vec_id, p.pi,
                 CASE WHEN ${dotSql("e.embedding", "p.pv")} > 0
                      THEN 1::BIGINT ELSE 0::BIGINT END AS b
          FROM embeddings e CROSS JOIN planes p),
        chunks AS (
          SELECT vec_id, pi // $chunkBits AS chunk_idx,
                 sum(b << (pi % $chunkBits)) AS chunk
          FROM bits GROUP BY vec_id, pi // $chunkBits)"""
  }

  private def probeFlipsSql(chunkBits: Int): String =
    "[0" + (0 until chunkBits).map(b => ", " + (1L << b)).mkString + "]"

  /** #32b label-free near-dup pairs at scale: block by shared LSH
    * signature chunk instead of a ground-truth label.
    *
    * Scale posture: the band join and the pair distinct move ONLY
    * (vec_id, chunk_idx, chunk) longs — embeddings are pruned at the
    * scan projection and re-attached per distinct pair afterwards
    * (at 100 TB that's ~24 bytes/row through the hot shuffle instead
    * of ~20× the corpus in 256-byte arrays). Parameterize by corpus
    * size via [[lshParamsFor]]: buckets per band = 2^chunkBits must
    * grow with N or Σ bucket² turns quadratic. The defaults here are
    * the gate parameters for the test corpus (~10³ vectors).
    */
  def embeddingDedupLsh(spark: SparkSession, dir: String,
      threshold: Double = 0.35, nPlanes: Int = 16, chunkBits: Int = 4): DataFrame = {
    import spark.implicits._
    require(nPlanes % chunkBits == 0, "nPlanes must be a multiple of chunkBits")
    val planes = planesFor(nPlanes)
    val emb = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val chunked = chunkRows(emb, planes, chunkBits)
    val probed = chunked.select($"vec_id", $"chunk_idx",
      probeCol($"chunk", chunkBits).as("chunk"))
    val pairs = probed.as("x").join(chunked.as("y"),
        $"x.chunk_idx" === $"y.chunk_idx" && $"x.chunk" === $"y.chunk" &&
          $"x.vec_id" < $"y.vec_id")
      .select($"x.vec_id".as("vec_a"), $"y.vec_id".as("vec_b"))
      .distinct()
    pairs
      .join(emb.select($"vec_id".as("vec_a"), $"embedding".as("e_a")), "vec_a")
      .join(emb.select($"vec_id".as("vec_b"), $"embedding".as("e_b")), "vec_b")
      .select($"vec_a", $"vec_b", round(cosineCol($"e_a", $"e_b"), 4).as("cos"))
      .filter($"cos" >= threshold)
  }

  /** Parameter derivation for a corpus of `n` vectors: buckets per
    * band ≈ n / targetBucket keeps expected bucket size (and so the
    * Σ bucket² candidate cost per band) bounded as the corpus grows.
    * Recall at a given cosine threshold is then tuned by the number
    * of bands (nPlanes / chunkBits) and the probe set — near-dup
    * thresholds in practice are high (cos ≥ 0.9), where per-plane
    * agreement is ~0.85+ and 16-bit chunks retain recall; the low
    * test threshold (0.35) is only viable because the test corpus is
    * small enough for 4-bit chunks.
    */
  def lshParamsFor(n: Long, targetBucket: Int = 64): (Int, Int) = {
    val chunkBits = math.min(16, math.max(4,
      math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0)).toInt))
    (4 * chunkBits, chunkBits) // 4 bands
  }

  /** The hyperplane-bucket candidate CTE chain (chunks → probes →
    * distinct bucket pairs) shared by [[embeddingDedupLshSql]] and
    * [[dbscanLshSql]] — one text, so a probe-scheme change cannot
    * desynchronize the two hash-exact oracles.
    */
  private def lshCandCtes(nPlanes: Int, chunkBits: Int,
      pairsName: String): String =
    s"""${chunkCtes(planesFor(nPlanes), chunkBits)},
        probed AS (
          SELECT vec_id, chunk_idx, xor(chunk, f.fl) AS chunk
          FROM chunks CROSS JOIN unnest(${probeFlipsSql(chunkBits)}) f(fl)),
        $pairsName AS (
          SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
          FROM probed x JOIN chunks y
            ON x.chunk_idx = y.chunk_idx AND x.chunk = y.chunk
               AND x.vec_id < y.vec_id)"""

  def embeddingDedupLshSql(threshold: Double = 0.35, nPlanes: Int = 16,
      chunkBits: Int = 4): String =
    s"""WITH ${lshCandCtes(nPlanes, chunkBits, "pairs")},
        scored AS (
          SELECT p.vec_a, p.vec_b,
                 round(${cosineSql("a.embedding", "b.embedding")}, 4) AS cos
          FROM pairs p
          JOIN embeddings a ON a.vec_id = p.vec_a
          JOIN embeddings b ON b.vec_id = p.vec_b)
        SELECT vec_a, vec_b, cos FROM scored WHERE cos >= $threshold"""

  /** #34 ANN via multi-probe signature buckets: a corpus vector is a
    * candidate when any chunk matches any probe of the query's chunk.
    * Probing expands only the broadcast query side (5× rows); the
    * corpus never shuffles (broadcast band join), and the cosine is
    * computed BEFORE the candidate distinct so the dedup and the
    * top-k window move only (query_id, cand_id, cos) scalars — no
    * array ever crosses an exchange. Recall vs bruteforceTopK is
    * additionally asserted in SimilaritySpec.
    */
  def lshTopK(spark: SparkSession, dir: String,
      nQueries: Int = 5, k: Int = 5): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding", lshSignatureCol($"embedding").as("sig"))
    val chunked = emb.select($"vec_id", $"embedding", posexplode(
        transform(sequence(lit(0), lit(3)), c =>
          call_function("shiftright", $"sig", c * 4).bitwiseAND(lit(0xfL)))))
      .withColumnRenamed("pos", "chunk_idx").withColumnRenamed("col", "chunk")
    val queries = chunked.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"),
        $"chunk_idx", probeCol($"chunk", 4).as("chunk"))
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"cand_id")
    chunked.join(broadcast(queries), Seq("chunk_idx", "chunk"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("cand_id"),
        round(cosineCol($"q_emb", $"embedding"), 4).as("cos"))
      .distinct()
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= k)
      .select($"query_id", $"cand_id", $"cos", $"rk".cast("long").as("rk"))
  }

  def lshTopKSql(nQueries: Int = 5, k: Int = 5): String =
    s"""WITH ${chunkCtes(planes16, 4)},
        qprobes AS (
          SELECT c.vec_id AS query_id, c.chunk_idx, xor(c.chunk, f.fl) AS chunk
          FROM chunks c CROSS JOIN unnest(${probeFlipsSql(4)}) f(fl)
          WHERE c.vec_id < $nQueries),
        cand AS (
          SELECT DISTINCT q.query_id, c.vec_id AS cand_id,
                 round(${cosineSql("qe.embedding", "ce.embedding")}, 4) AS cos
          FROM qprobes q
          JOIN chunks c ON c.chunk_idx = q.chunk_idx AND c.chunk = q.chunk
                        AND c.vec_id <> q.query_id
          JOIN embeddings qe ON qe.vec_id = q.query_id
          JOIN embeddings ce ON ce.vec_id = c.vec_id)
        SELECT query_id, cand_id, cos, rk FROM (
          SELECT query_id, cand_id, cos,
                 CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, cand_id) AS BIGINT) AS rk
          FROM cand)
        WHERE rk <= $k"""

  // ── coarse-quantizer plumbing shared by IVF / IVF×PQ / SemDedup ───

  /** The deterministic quantizer stand-in: the first `nlist` corpus
    * vectors as (cell_id, centroid). Metadata-scale (nlist ≤ ~10⁵
    * rows) — the ONLY collect in the IVF family.
    */
  def firstCentroids(spark: SparkSession, dir: String,
      nlist: Int): Array[(Long, Array[Float])] = {
    import spark.implicits._
    Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
      .filter($"vec_id" < nlist)
      .as[(Long, Array[Float])].collect().sortBy(_._1)
  }

  /** Spherical-k-means trained quantizer (Lloyd iterations over a
    * bounded sample of L2-normalized vectors, means re-normalized
    * each round so max-cosine assignment ≡ min-L2). Driver-side on a
    * collected sample — quantizer training is a sample problem:
    * thousands of vectors suffice regardless of corpus size (feed it
    * `hashSample`d rows for billion-vector corpora). Cell ids are
    * 0..k-1 ascending, as [[cellCol]]'s tie-break requires. NOT the
    * gate default: trained means have no cross-engine bit-exact form
    * (summation order), which the DuckDB oracle requires — recall
    * and balance vs the stand-in are spec'd in SimilaritySpec.
    */
  def kmeansCentroids(spark: SparkSession, dir: String, k: Int = 16,
      sampleMax: Int = 4096, iters: Int = 10): Array[(Long, Array[Float])] =
    kmeansCentroidsOf(Tables.embeddings(spark, dir), k, sampleMax, iters)

  /** Frame-generic trainer: any (vec_id, embedding) frame — lets the
    * scale probes and specs train over ScaleGen'd or synthetic
    * corpora through the same code path the gate-adjacent entry uses.
    */
  def kmeansCentroidsOf(emb: DataFrame, k: Int,
      sampleMax: Int = 4096, iters: Int = 10): Array[(Long, Array[Float])] = {
    import emb.sparkSession.implicits._
    val sample: Array[Array[Double]] = emb
      .filter($"vec_id" < sampleMax).select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1).map { case (_, v) =>
        val n = math.sqrt(v.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble))
        if (n == 0.0) v.map(_.toDouble) else v.map(_.toDouble / n)
      }
    require(sample.nonEmpty, "k-means: empty sample")
    val dim = sample.head.length
    def renorm(c: Array[Double]): Array[Double] = {
      val n = math.sqrt(c.foldLeft(0.0)((acc, x) => acc + x * x))
      if (n == 0.0) c else c.map(_ / n)
    }
    // distinctBy(.toSeq): Array equality is referential, so a plain
    // .distinct would be a no-op and duplicate sample vectors could
    // seed duplicate centroids. Validate k AFTER dedup — a
    // duplicate-heavy sample must fail loudly, not silently seed
    // fewer than k cells
    val seeds = sample.distinctBy(_.toSeq)
    require(seeds.length >= k,
      s"k-means: only ${seeds.length} distinct sample vectors < k=$k " +
        "(raise sampleMax or lower k)")
    // Seeding is deliberately first-k-distinct, not farthest-first
    // (Gonzalez) or k-means++: farthest-first was measured here to
    // seed on OUTLIER directions, which on near-uniform data drags
    // Lloyd's centroids into low-density regions and cost ~30 points
    // of IVF recall at a fixed small nprobe; k-means++ needs an RNG,
    // which breaks run-to-run reproducibility. First-k from a
    // hash-ordered sample is density-proportional (the sample IS the
    // data distribution) and fully deterministic, and the
    // nlist=1024 clustered-corpus spec shows Lloyd from these seeds
    // takes the pair-cost objective outright.
    var cents: Array[Array[Double]] = seeds.take(k)
    for (_ <- 0 until iters) {
      val assign = sample.map { p =>
        var bestC = 0; var best = Double.NegativeInfinity
        var ci = 0
        while (ci < cents.length) {
          var dot = 0.0; var i = 0
          while (i < dim) { dot += p(i) * cents(ci)(i); i += 1 }
          if (dot > best) { best = dot; bestC = ci }
          ci += 1
        }
        bestC
      }
      cents = cents.zipWithIndex.map { case (old, ci) =>
        val mine = sample.indices.filter(assign(_) == ci)
        if (mine.isEmpty) old
        else {
          val s = Array.fill(dim)(0.0)
          mine.foreach { pi =>
            var i = 0; while (i < dim) { s(i) += sample(pi)(i); i += 1 }
          }
          renorm(s.map(_ / mine.size))
        }
      }
    }
    cents.zipWithIndex.map { case (c, ci) => (ci.toLong, c.map(_.toFloat)) }
  }

  /** Gate `sim_kmeans_quantizer` (rows-only + selfcheck.py reference
    * replay): the TRAINED spherical-k-means coarse quantizer
    * ([[kmeansCentroids]], SURVEY 34e — the last LLM-pipeline row
    * without a board check). No cross-ENGINE SQL oracle exists
    * (DuckDB can't replay the Lloyd loop), but the trainer is fully
    * driver-side DETERMINISTIC — vec_id-sorted sample, left-to-right
    * float accumulation, first-k-distinct seeding, fixed iteration
    * count — and IEEE-754 binary64 +,×,÷,√ are correctly rounded in
    * both the JVM and CPython, so a pure-Python replay of the same
    * operation ORDER reproduces every centroid bit for bit
    * (`ref_kmeans_quantizer`, tools/selfcheck.py — the zlib-parity
    * precedent, exact compare).
    *
    * Output is SCALAR rows `(cell_id, dim, value)` — the codebook
    * flattened one component per row (k×dim = 16×64 = 1024 rows,
    * still metadata-scale) — because the board harness sorts gate
    * output column-wise and an `array<float>` column is unsortable
    * there (the round-15 red row). Same trained floats, sortable
    * spelling.
    */
  def kmeansQuantizerGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    kmeansCentroids(spark, dir, k = 16, sampleMax = 4096, iters = 10)
      .toSeq
      .flatMap { case (ci, c) =>
        c.iterator.zipWithIndex.map { case (v, d) => (ci, d.toLong, v) }
      }
      .toDF("cell_id", "dim", "value")
  }

  /** The centroid codebook / ids as SINGLE nested-array literals
    * (one Literal node each, not nlist·dim CreateArray children) —
    * the builder folds them into the nearest_cells kernel.
    */
  private def centsLit(cents: Array[(Long, Array[Float])]): Column =
    typedLit(cents.map(_._2.toSeq).toSeq)

  private def centIdsLit(cents: Array[(Long, Array[Float])]): Column =
    typedLit(cents.map(_._1).toSeq)

  /** Nearest-centroid cell id (cos DESC, cell_id ASC) — one native
    * kernel call (graft.functions.NearestCells) evaluated map-side
    * during the scan, plan size O(1) in nlist.
    */
  def cellCol(emb: Column, cents: Array[(Long, Array[Float])]): Column =
    call_function("nearest_cells", emb, centsLit(cents), centIdsLit(cents),
      lit(1)).getItem(0)

  /** The `nprobe` nearest cell ids in (cos DESC, cell_id ASC) order,
    * as an explode-ready array — query-side only.
    */
  def probeCellsCol(emb: Column, cents: Array[(Long, Array[Float])],
      nprobe: Int): Column =
    call_function("nearest_cells", emb, centsLit(cents), centIdsLit(cents),
      lit(nprobe))

  // ── #34b IVF (inverted-file) ANN ──────────────────────────────────

  /** IVF ANN: assign every vector to its nearest of `nlist` coarse
    * centroids, then answer a query by searching only its `nprobe`
    * nearest cells. Default centroids are the first `nlist` corpus
    * vectors — a deterministic stand-in for an offline-trained
    * quantizer ([[kmeansCentroids]] drops in via `centroids`).
    *
    * Scale posture: the quantizer is metadata-scale, collected once
    * and folded into ONE [[graft.functions.NearestCells]] kernel —
    * cell assignment is a single codegen expression evaluated
    * map-side during the corpus scan, ZERO exchanges before
    * assignment, and the plan stays O(1)-sized as nlist grows to the
    * 10⁴–10⁵ a 100 TB corpus needs (the previous literal-column
    * argmax hit Janino's constant-pool/method limits near nlist ≈
    * 10³). Probes expand only the query side; the search join
    * broadcasts probes, so the corpus never shuffles and the only
    * exchange in the whole plan is the scalar top-k window.
    */
  def ivfTopK(spark: SparkSession, dir: String, nQueries: Int = 5,
      k: Int = 5, nlist: Int = 16, nprobe: Int = 4,
      centroids: Option[Array[(Long, Array[Float])]] = None): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val cents = centroids.getOrElse(firstCentroids(spark, dir, nlist))
    val cells = emb.select($"vec_id", $"embedding",
      cellCol($"embedding", cents).as("cell_id"))
    // query probes: nprobe nearest cells per query (query rows only)
    val probes = emb.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"),
        explode(probeCellsCol($"embedding", cents, nprobe)).as("cell_id"))
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"cand_id")
    cells.join(broadcast(probes), Seq("cell_id"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("cand_id"),
        round(cosineCol($"q_emb", $"embedding"), 4).as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= k)
      .select($"query_id", $"cand_id", $"cos", $"rk".cast("long").as("rk"))
  }

  // ── #34c product-quantization (PQ) ANN, asymmetric distance ───────

  /** PQ compresses each (L2-normalized) 64-dim float vector to
    * M=8 4-bit codes — 4 bytes per vector, a 64× scan-size cut —
    * by quantizing each 8-dim subvector to its nearest of K=16
    * codebook entries. Search is ADC (Jégou et al., TPAMI 2011):
    * the query precomputes a K×M distance table, and a candidate's
    * approximate distance is the sum of 8 table lookups — no float
    * vectors touched on the corpus side at query time.
    *
    * Codebooks are the subvectors of the first K normalized corpus
    * vectors (the same deterministic offline-trained-quantizer
    * stand-in as IVF's centroids) and are folded into the plan as
    * literals, so BOTH encode and ADC are pure map-side codegen over
    * the scan: the only exchange in the plan is the scalar top-k
    * window. Normalizing first makes L2 order ≡ cosine order
    * (‖â−b̂‖² = 2−2cos), so recall is measured against the cosine
    * brute force.
    *
    * Sub-distances use the ‖e_m‖²/‖e‖² + ‖c‖² − 2·(e_m·c)/‖e‖ form,
    * computed by the native PQ kernels (graft.functions.PqKernels:
    * one `pq_encode` call on the corpus side, one `pq_dtable` +
    * `pq_adc` on the query side), and every arithmetic step
    * (normalization, sequential-fold dots, the scalar combination
    * order, first-match argmin with ascending tie-break) is mirrored
    * op-for-op in the generated DuckDB oracle, so the gate is exact
    * like the rest of the family.
    */
  /** The [m][codes][sub] codebooks as a constant nested-array
    * column — builder-folded into the PQ kernel expressions, never
    * evaluated per row.
    */
  private def booksCol(bkF: Array[Array[Array[Float]]]): Column =
    array(bkF.map(mi => array(mi.map(cb =>
      array(cb.map(lit(_)).toSeq: _*)).toSeq: _*)).toSeq: _*)

  def pqTopK(spark: SparkSession, dir: String, nQueries: Int = 5,
      k: Int = 5, m: Int = 8, codes: Int = 16,
      books: Option[Array[Array[Array[Double]]]] = None,
      rerank: Int = 0): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val bk = books.getOrElse(pqBooks(spark, dir, m, codes))
    val bc = booksCol(bk.map(_.map(_.map(_.toFloat))))
    // corpus side carries ONE kernel expression (codes), query side
    // one (the ADC lookup table) — same flops as the staged column
    // form, none of its hundreds-of-projections plan
    val coded = emb.select($"vec_id",
      call_function("pq_encode", $"embedding", bc).as("codes"))
    val qtab = emb.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"),
        call_function("pq_dtable", $"embedding", bc).as("dtab"))
    val w = Window.partitionBy($"query_id").orderBy($"adist".asc, $"cand_id")
    val shortlist = coded.join(broadcast(qtab), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("cand_id"),
        round(call_function("pq_adc", $"codes", $"dtab"), 4).as("adist"))
      .withColumn("rk", row_number().over(w))
    if (rerank <= 0)
      shortlist.filter($"rk" <= k)
        .select($"query_id", $"cand_id", $"adist", $"rk".cast("long").as("rk"))
    else {
      // ADC shortlist of `rerank`, then EXACT cosine re-rank of those
      // few candidates (the standard ADC+re-rank refinement): the
      // expensive float vectors are touched for nQueries×rerank rows
      // only, via broadcast of the tiny shortlist — the corpus scan
      // stays codes-only
      val short = shortlist.filter($"rk" <= rerank)
        .select($"query_id", $"cand_id")
      val qe = emb.filter($"vec_id" < nQueries)
        .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
      val w2 = Window.partitionBy($"query_id").orderBy($"cos".desc, $"cand_id")
      emb.join(broadcast(short), $"vec_id" === $"cand_id")
        .join(broadcast(qe), Seq("query_id"))
        .select($"query_id", $"cand_id",
          round(cosineCol($"q_emb", $"embedding"), 4).as("cos"))
        .withColumn("rk", row_number().over(w2))
        .filter($"rk" <= k)
        .select($"query_id", $"cand_id", $"cos", $"rk".cast("long").as("rk"))
    }
  }

  /** IVF×PQ (the paper's IVFADC): coarse cells bound WHICH vectors a
    * query compares against (nprobe of nlist cells), PQ codes bound
    * WHAT each comparison costs (8 table lookups, no floats), and the
    * exact re-rank restores precision on the shortlist. Cell id and
    * codes come out of one scan projection (the nearest_cells +
    * pq_encode kernels); the probe table is broadcast, so the
    * corpus never shuffles — the two exchanges are the scalar
    * shortlist and re-rank windows, same as [[pqTopK]].
    */
  def ivfPqTopK(spark: SparkSession, dir: String, nQueries: Int = 5,
      k: Int = 5, nlist: Int = 16, nprobe: Int = 4, m: Int = 8,
      codes: Int = 16, rerank: Int = 50): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val bk = pqBooks(spark, dir, m, codes)
    val cents = firstCentroids(spark, dir, nlist)
    val bc = booksCol(bk.map(_.map(_.map(_.toFloat))))
    // cells and codes out of ONE scan projection: two native kernel
    // calls (nearest_cells + pq_encode), both O(1) plan size — the
    // previous staged-ccos formulation was O(nlist) columns
    val coded = emb.select($"vec_id",
      cellCol($"embedding", cents).as("cell_id"),
      call_function("pq_encode", $"embedding", bc).as("codes"))
    // query probes: nprobe nearest cells per query (query rows only)
    val qprobes = emb.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"),
        explode(probeCellsCol($"embedding", cents, nprobe)).as("p_cell"))
    val qtab = emb.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"),
        call_function("pq_dtable", $"embedding", bc).as("dtab"))
      .join(qprobes, Seq("query_id"))
    val w = Window.partitionBy($"query_id").orderBy($"adist".asc, $"cand_id")
    val shortlist = coded
      .join(broadcast(qtab),
        $"cell_id" === $"p_cell" && $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("cand_id"),
        round(call_function("pq_adc", $"codes", $"dtab"), 4).as("adist"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= rerank)
      .select($"query_id", $"cand_id")
    val qe = emb.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    val w2 = Window.partitionBy($"query_id").orderBy($"cos".desc, $"cand_id")
    emb.join(broadcast(shortlist), $"vec_id" === $"cand_id")
      .join(broadcast(qe), Seq("query_id"))
      .select($"query_id", $"cand_id",
        round(cosineCol($"q_emb", $"embedding"), 4).as("cos"))
      .withColumn("rk", row_number().over(w2))
      .filter($"rk" <= k)
      .select($"query_id", $"cand_id", $"cos", $"rk".cast("long").as("rk"))
  }

  /** Codebooks: subvector m of the first K L2-normalized corpus
    * vectors, computed once driver-side in double precision (they
    * become literals in both engines, so cross-engine fp identity is
    * by construction).
    */
  def pqBooks(spark: SparkSession, dir: String, m: Int,
      codes: Int): Array[Array[Array[Double]]] = {
    import spark.implicits._
    val dim = 64; val sub = dim / m
    val firstK = Tables.embeddings(spark, dir)
      .filter($"vec_id" < codes).select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    Array.tabulate(m) { mi =>
      firstK.map { case (_, v) =>
        val n = math.sqrt(v.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble))
        Array.tabulate(sub)(i => v(mi * sub + i).toDouble / n)
      }
    }
  }

  /** Lloyd-iteration k-means per subspace over a bounded sample of
    * normalized vectors — the offline codebook trainer. Driver-side
    * on a collected sample (codebook training is a sample problem:
    * thousands of vectors suffice regardless of corpus size; for
    * billion-vector corpora feed it `hashSample`d rows). Trained
    * books go to [[pqTopK]]'s `books` parameter; they are NOT the
    * gate default because k-means means have no cross-engine
    * bit-exact form (summation order), which the oracle requires.
    */
  def pqTrainBooks(spark: SparkSession, dir: String, m: Int = 8,
      codes: Int = 16, sampleMax: Int = 4096, iters: Int = 10): Array[Array[Array[Double]]] = {
    import spark.implicits._
    val dim = 64; val sub = dim / m
    val sample = Tables.embeddings(spark, dir)
      .filter($"vec_id" < sampleMax).select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1).map { case (_, v) =>
        val n = math.sqrt(v.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble))
        v.map(_.toDouble / n)
      }
    Array.tabulate(m) { mi =>
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, mi * sub, (mi + 1) * sub))
      // same post-dedup validation as kmeansCentroids: never seed
      // fewer than `codes` centroids silently
      val seeds = pts.distinctBy(_.toSeq)
      require(seeds.length >= codes,
        s"pq train: only ${seeds.length} distinct subvectors < codes=$codes")
      var cents = seeds.take(codes)
      for (_ <- 0 until iters) {
        val assign = pts.map { p =>
          cents.zipWithIndex.minBy { case (c, _) =>
            var d = 0.0; var i = 0
            while (i < sub) { val t = p(i) - c(i); d += t * t; i += 1 }; d
          }._2
        }
        cents = cents.zipWithIndex.map { case (old, ci) =>
          val mine = pts.indices.filter(assign(_) == ci)
          if (mine.isEmpty) old
          else {
            val s2 = Array.fill(sub)(0.0)
            mine.foreach { pi => var i = 0; while (i < sub) { s2(i) += pts(pi)(i); i += 1 } }
            s2.map(_ / mine.size)
          }
        }
      }
      cents
    }
  }

  /** The identical computation as static ANSI SQL: the codebooks are
    * re-derived relationally (16 single-row cross joins over the
    * same normalized first-K vectors), and every normalize/subtract/
    * square/sum/argmin step mirrors [[pqTopK]] op-for-op — the Scala
    * driver-side book fold and DuckDB's list_reduce fold run the
    * same IEEE operations in the same order, so the doubles agree
    * bit-for-bit.
    */
  /** The shared PQ CTE chain (normed → … → coded), mirroring
    * [[pqStages]] op-for-op. Returned WITHOUT the leading `WITH`.
    */
  private def pqSqlCtes(m: Int, codes: Int): String = {
    val dim = 64; val sub = dim / m
    def lo(mi: Int) = mi * sub + 1
    def hi(mi: Int) = (mi + 1) * sub
    val bookJoins = (0 until codes).map(j =>
      s"CROSS JOIN (SELECT embedding, nrm FROM normed WHERE vec_id = $j) bk$j")
      .mkString("\n")
    val normed =
      s"""normed AS (SELECT vec_id, embedding,
            sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings)"""
    // books: one row of float-cast normalized subvectors + their ‖c‖²
    val cCols = for (mi <- 0 until m; j <- 0 until codes)
      yield s"list_transform(bk$j.embedding[${lo(mi)}:${hi(mi)}], " +
        s"x -> CAST(CAST(x AS DOUBLE) / bk$j.nrm AS FLOAT)) AS c_${mi}_$j"
    val c2Cols = for (mi <- 0 until m; j <- 0 until codes)
      yield s"${dotSql(s"c_${mi}_$j", s"c_${mi}_$j")} AS c2_${mi}_$j"
    // per-vector slices and their squared norms, then one dot per
    // (m, j) — same ‖e_m‖²/‖e‖² + ‖c‖² − 2·(e_m·c)/‖e‖ form and
    // association order as the Spark side
    val sCols = (0 until m).map(mi => s"embedding[${lo(mi)}:${hi(mi)}] AS s_$mi")
    val sqCols = (0 until m).map(mi => s"${dotSql(s"s_$mi", s"s_$mi")} AS sq_$mi")
    val dsCols = for (mi <- 0 until m; j <- 0 until codes)
      yield s"((sq_$mi / (nrm * nrm) + c2_${mi}_$j) - " +
        s"((2.0 * ${dotSql(s"s_$mi", s"c_${mi}_$j")}) / nrm)) AS ds_${mi}_$j"
    val codeCols = (0 until m).map { mi =>
      val ds = (0 until codes).map(j => s"ds_${mi}_$j")
      val best = ds.reduceLeft((a, b) => s"least($a, $b)")
      val chain = (0 until codes).map(j => s"WHEN ds_${mi}_$j = best_$mi THEN $j")
        .mkString(" ")
      (s"$best AS best_$mi", s"CASE $chain ELSE -1 END AS code_$mi")
    }
    s"""$normed,
        books0 AS (SELECT ${cCols.mkString(",\n")} FROM (SELECT 1) one
                   $bookJoins),
        books AS (SELECT *, ${c2Cols.mkString(",\n")} FROM books0),
        sliced AS (SELECT vec_id, nrm, ${sCols.mkString(",\n")} FROM normed),
        sq AS (SELECT vec_id, nrm, ${(0 until m).map(mi => s"s_$mi").mkString(", ")},
               ${sqCols.mkString(",\n")} FROM sliced),
        ds AS (SELECT vec_id, ${dsCols.mkString(",\n")}
               FROM sq CROSS JOIN books),
        bests AS (SELECT vec_id, ${(for (mi <- 0 until m; j <- 0 until codes)
                   yield s"ds_${mi}_$j").mkString(", ")},
                  ${codeCols.map(_._1).mkString(",\n")} FROM ds),
        coded AS (SELECT vec_id,
                  ${codeCols.map(_._2).mkString(",\n")} FROM bests)"""
  }

  /** ADC lookup-sum over `c.code_*` / `q.d_*`, fixed m order. */
  private def pqSqlAdist(m: Int, codes: Int): String =
    (0 until m).map { mi =>
      val chain = (0 until codes).map(j =>
        s"WHEN c.code_$mi = $j THEN q.d_${mi}_$j").mkString(" ")
      s"CASE $chain ELSE 1.7976931348623157e308 END"
    }.reduceLeft((a, b) => s"($a + $b)")

  private def pqSqlQtabCols(m: Int, codes: Int): String =
    (for (mi <- 0 until m; j <- 0 until codes)
      yield s"ds_${mi}_$j AS d_${mi}_$j").mkString(",\n")

  /** Exact-cosine refinement of an `adc` shortlist + final top-k,
    * mirroring the Spark re-rank stage op-for-op.
    */
  private def pqSqlRerank(k: Int, rerank: Int): String =
    s""",
        short AS (SELECT query_id, cand_id FROM adc WHERE rk <= $rerank),
        rr AS (
          SELECT s.query_id, s.cand_id,
                 round(${cosineSql("qe.embedding", "ce.embedding")}, 4) AS cos
          FROM short s
          JOIN embeddings qe ON qe.vec_id = s.query_id
          JOIN embeddings ce ON ce.vec_id = s.cand_id)
        SELECT query_id, cand_id, cos, rk FROM (
          SELECT query_id, cand_id, cos,
                 CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, cand_id) AS BIGINT) AS rk
          FROM rr)
        WHERE rk <= $k"""

  def pqTopKSql(nQueries: Int = 5, k: Int = 5, m: Int = 8,
      codes: Int = 16, rerank: Int = 0): String = {
    val adist = pqSqlAdist(m, codes)
    val prelude = s"""WITH ${pqSqlCtes(m, codes)},
        qtab AS (SELECT vec_id AS query_id,
                 ${pqSqlQtabCols(m, codes)}
                 FROM ds WHERE vec_id < $nQueries),
        adc AS (
          SELECT q.query_id, c.vec_id AS cand_id,
                 round($adist, 4) AS adist,
                 CAST(row_number() OVER (PARTITION BY q.query_id
                      ORDER BY round($adist, 4) ASC, c.vec_id) AS BIGINT) AS rk
          FROM coded c CROSS JOIN qtab q
          WHERE c.vec_id <> q.query_id)"""
    if (rerank <= 0)
      s"""$prelude
          SELECT query_id, cand_id, adist, rk FROM adc WHERE rk <= $k"""
    else
      prelude + pqSqlRerank(k, rerank)
  }

  /** IVF×PQ oracle: the IVF CTEs bound the comparison set, the PQ
    * CTEs price each comparison, the re-rank refines — all three
    * already proven exact in isolation.
    */
  def ivfPqTopKSql(nQueries: Int = 5, k: Int = 5, nlist: Int = 16,
      nprobe: Int = 4, m: Int = 8, codes: Int = 16,
      rerank: Int = 50): String = {
    val adist = pqSqlAdist(m, codes)
    s"""WITH ${pqSqlCtes(m, codes)},
        cents AS (
          SELECT vec_id AS cell_id, embedding AS c_emb
          FROM embeddings WHERE vec_id < $nlist),
        assigned AS (
          SELECT vec_id, cell_id, ark FROM (
            SELECT e.vec_id, c.cell_id,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY ${cosineSql("e.embedding", "c.c_emb")} DESC, c.cell_id)
                     AS ark
            FROM embeddings e CROSS JOIN cents c)),
        cells AS (SELECT vec_id, cell_id FROM assigned WHERE ark = 1),
        probes AS (
          SELECT vec_id AS query_id, cell_id AS p_cell
          FROM assigned WHERE vec_id < $nQueries AND ark <= $nprobe),
        codedc AS (SELECT coded.*, cells.cell_id
                   FROM coded JOIN cells USING (vec_id)),
        qtab AS (
          SELECT d.query_id, p.p_cell, d.* EXCLUDE (query_id) FROM (
            SELECT vec_id AS query_id,
                   ${pqSqlQtabCols(m, codes)}
            FROM ds WHERE vec_id < $nQueries) d
          JOIN probes p USING (query_id)),
        adc AS (
          SELECT q.query_id, c.vec_id AS cand_id,
                 round($adist, 4) AS adist,
                 CAST(row_number() OVER (PARTITION BY q.query_id
                      ORDER BY round($adist, 4) ASC, c.vec_id) AS BIGINT) AS rk
          FROM codedc c JOIN qtab q
            ON c.cell_id = q.p_cell AND c.vec_id <> q.query_id)""" +
      pqSqlRerank(k, rerank)
  }

  /** Oracle re-derives assignment relationally (rank cells per vector
    * by the identical fp cosine, tie-break cell_id) — same cells,
    * same probes, same top-k.
    */
  def ivfTopKSql(nQueries: Int = 5, k: Int = 5, nlist: Int = 16,
      nprobe: Int = 4): String =
    s"""WITH cents AS (
          SELECT vec_id AS cell_id, embedding AS c_emb
          FROM embeddings WHERE vec_id < $nlist),
        assigned AS (
          SELECT vec_id, cell_id, ark FROM (
            SELECT e.vec_id, c.cell_id,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY ${cosineSql("e.embedding", "c.c_emb")} DESC, c.cell_id)
                     AS ark
            FROM embeddings e CROSS JOIN cents c)),
        cells AS (SELECT vec_id, cell_id FROM assigned WHERE ark = 1),
        probes AS (
          SELECT vec_id AS query_id, cell_id
          FROM assigned WHERE vec_id < $nQueries AND ark <= $nprobe),
        cand AS (
          SELECT p.query_id, s.vec_id AS cand_id,
                 round(${cosineSql("qe.embedding", "ce.embedding")}, 4) AS cos
          FROM probes p
          JOIN cells s ON s.cell_id = p.cell_id AND s.vec_id <> p.query_id
          JOIN embeddings qe ON qe.vec_id = p.query_id
          JOIN embeddings ce ON ce.vec_id = s.vec_id)
        SELECT query_id, cand_id, cos, rk FROM (
          SELECT query_id, cand_id, cos,
                 CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, cand_id) AS BIGINT) AS rk
          FROM cand)
        WHERE rk <= $k"""

  /** Recall@k of every approximate ANN path against the brute-force
    * ground truth, as ONE gated table — the measurement that turns
    * the recall SPECS (per-method floors in ClusterSpec/SearchSpec)
    * into an oracle-checked artifact a user can read per run. Each
    * method's (query, candidate) top-k set joins the brute top-k on
    * the SAME queries; recall is an exact ppm ratio of integer
    * counts. This gate recomputes the four pipelines the sim_*
    * gates already verify (same defaults), so its cost is the
    * family's cost — run it when tuning, not per-query.
    */
  def recallEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val brute = bruteforceTopK(spark, dir)
      .select($"query_id", $"cand_id").localCheckpoint(true)
    val total = brute.count()
    val methods = Seq(
      "ivf" -> ivfTopK(spark, dir),
      "ivfpq" -> ivfPqTopK(spark, dir),
      "lsh" -> lshTopK(spark, dir),
      "pq" -> pqTopK(spark, dir, rerank = 50))
    methods.map { case (name, df) =>
      val hits = df.select($"query_id", $"cand_id")
        .join(brute, Seq("query_id", "cand_id"), "left_semi").count()
      // zero-truth guard: an empty embedding corpus reports recall 0,
      // not ArithmeticException (the prCurve n_pos=0 class)
      (name, total, hits, if (total > 0) hits * 1000000L / total else 0L)
    }.toDF("method", "n_truth", "hits", "recall_ppm")
      .orderBy($"method")
  }

  /** DBSCAN density clustering over the embedding corpus (Ester,
    * Kriegel, Sander, Xu — KDD 1996), cosine-similarity metric: a
    * point is CORE when ≥ `minPts` OTHER points sit at cosine ≥
    * `simMin` (the ε-ball; minPts counts neighbors, the point itself
    * excluded — classic minPts minus one); clusters are connected
    * components of the core-core proximity graph; non-core points
    * with a core neighbor are BORDER and take the smallest cluster
    * label among their core neighbors (the deterministic pin for
    * DBSCAN's well-known border ambiguity); everything else is NOISE
    * (cluster −1). Labels are min core vec_id per component — the
    * repo-wide canonical-component convention. This is the
    * density-based companion to the centroid k-means quantizer
    * (34e): it finds arbitrary-shape clusters and an explicit noise
    * set, the dedup/curation-friendly semantics (HDBSCAN's
    * density-ladder generalizes it; the fixed-ε cut is what has an
    * exact cross-engine oracle).
    *
    * Exactness: cosine via the [[cosineCol]] sequential-fold kernel
    * (bit-identical to the DuckDB list_reduce), thresholded on the
    * ROUNDED 4-decimal value — the established sign/threshold parity
    * device; everything downstream is integer counting and min-label
    * propagation ([[graft.operators.Dedup.clusters]], the CC engine).
    *
    * Scale: the ε-neighbor pair frame is the budgeted part — the
    * pre-flight refuses past `pairBudget` naming the valve: generate
    * candidate pairs with the hyperplane-LSH bucket device
    * ([[embeddingDedupLsh]]'s blocking) or IVF cells and feed them
    * to [[dbscanOf]], which accepts ANY pair source (recall-traded
    * DBSCAN, the DBSCAN-LSH literature shape). CC propagation is
    * rounds ≤ core-graph diameter, labels-sized shuffles.
    */
  def dbscan(spark: SparkSession, dir: String, simMin: Double = 0.35,
      minPts: Int = 2, pairBudget: Long = 50000000L): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val n = emb.count() // pre-flight census, one scalar
    require(n * (n - 1) / 2 <= pairBudget,
      s"dbscan: ${n * (n - 1) / 2} exact candidate pairs exceed " +
        s"pairBudget=$pairBudget — block candidates with the " +
        "hyperplane-LSH device (embeddingDedupLsh) or IVF cells and " +
        "feed them to dbscanOf")
    dbscanOf(emb.select($"vec_id"), dbscanPairs(emb, simMin, n), minPts)
  }

  /** The exact ε-neighbor pair frame [[dbscan]] clusters over —
    * exposed so PlanAuditSpec pins its broadcast-NL shape. The
    * broadcast of the probe side is gated on a MEASURED row census
    * (`knownRows` when the caller already counted, one count
    * otherwise): the broadcast relation ships to every executor and
    * caps at 8 GB, so an unguarded data-sized broadcast is a
    * production OOM, not a plan choice (r16 ADVICE item).
    */
  def dbscanPairs(emb: DataFrame, simMin: Double,
      knownRows: Long = -1L): DataFrame = {
    import emb.sparkSession.implicits._
    val n = if (knownRows >= 0L) knownRows else emb.count()
    val fits = n <= BroadcastRowCap
    // streamed side spread across cores + per-vector norms (see
    // [[spread]]/[[cosinePrenormed]]): same rounded cosine, one dot
    // product per pair instead of three, 32 tasks instead of one
    val a = spread(emb.select($"vec_id".as("i"), $"embedding".as("ea")))
      .withColumn("na", sqrt(dotCol($"ea", $"ea")))
    val b = emb.select($"vec_id".as("j"), $"embedding".as("eb"))
      .withColumn("nb", sqrt(dotCol($"eb", $"eb")))
    a.join(if (fits) broadcast(b) else b, $"i" < $"j")
      .filter(round(cosinePrenormed($"ea", $"eb", $"na", $"nb"), 4) >= simMin)
      .select($"i", $"j")
  }

  /** Clustering core over any (vec_id) point frame + (i, j)
    * one-directional similar-pair frame — see [[dbscan]] for the
    * semantics contract.
    */
  def dbscanOf(points: DataFrame, simPairs: DataFrame,
      minPts: Int): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val p = simPairs.localCheckpoint(true)
    val nb = p.select($"i".as("v"), $"j".as("o"))
      .unionByName(p.select($"j".as("v"), $"i".as("o")))
    val core = nb.groupBy($"v").agg(count(lit(1)).as("deg"))
      .filter($"deg" >= minPts).select($"v")
    // core-core edges; CC labels = min core id per component
    val corePairs = p
      .join(core.select($"v".as("i")), "i")
      .join(core.select($"v".as("j")), "j")
      .select($"i", $"j")
    val ccLabels = Dedup.clusters(corePairs, "i", "j")
      .select($"doc_id".as("v"), $"cluster_id".as("cluster"))
    // isolated cores (no core neighbor) label themselves
    val coreLabels = ccLabels.unionByName(
      core.join(ccLabels.select($"v"), Seq("v"), "left_anti")
        .select($"v", $"v".as("cluster"))).localCheckpoint(true)
    val borderLabels = nb
      .join(core.select($"v".as("nc")), $"o" === $"nc") // core neighbors
      .join(coreLabels.select($"v".as("cv"), $"cluster"), $"o" === $"cv")
      .join(core, Seq("v"), "left_anti") // border = non-core
      .groupBy($"v").agg(min($"cluster").as("cluster"))
    val assigned = coreLabels.withColumn("role", lit("core"))
      .unionByName(borderLabels.withColumn("role", lit("border")))
    points.select($"vec_id")
      .join(assigned.select($"v".as("vec_id"), $"cluster", $"role"),
        Seq("vec_id"), "left")
      .select($"vec_id",
        coalesce($"role", lit("noise")).as("role"),
        coalesce($"cluster", lit(-1L)).as("cluster"))
      .orderBy($"vec_id")
  }

  /** Shared CC/border/assign tail over CTEs `e` (vec_id) and `p`
    * (i, j) — the [[dbscanSql]] body past the pair source, factored
    * so [[dbscanLshSql]] swaps in the LSH-blocked pair frame without
    * duplicating the clustering text.
    */
  private def dbscanTailSql(minPts: Int): String =
    s"""nb AS (SELECT i AS v, j AS o FROM p
               UNION ALL SELECT j AS v, i AS o FROM p),
        core AS (SELECT v FROM nb GROUP BY v
                 HAVING count(*) >= $minPts),
        cc AS (SELECT p.i, p.j FROM p
               JOIN core a ON a.v = p.i JOIN core b ON b.v = p.j),
        und AS (SELECT i AS src, j AS dst FROM cc
                UNION ALL SELECT j AS src, i AS dst FROM cc),
        reach(id, r) AS (
          SELECT v, v FROM core
          UNION
          SELECT u.src, reach.r FROM und u JOIN reach ON u.dst = reach.id),
        core_lbl AS (SELECT id AS v, min(r) AS cluster
                     FROM reach GROUP BY id),
        border_lbl AS (
          SELECT nb.v, min(cl.cluster) AS cluster
          FROM nb JOIN core c ON c.v = nb.o
          JOIN core_lbl cl ON cl.v = nb.o
          WHERE nb.v NOT IN (SELECT v FROM core)
          GROUP BY nb.v),
        assigned AS (
          SELECT v, 'core' AS role, cluster FROM core_lbl
          UNION ALL
          SELECT v, 'border', cluster FROM border_lbl)
        SELECT e.vec_id,
               coalesce(a.role, 'noise') AS role,
               CAST(coalesce(a.cluster, -1) AS BIGINT) AS cluster
        FROM e LEFT JOIN assigned a ON a.v = e.vec_id
        ORDER BY e.vec_id"""

  // `p` is AS MATERIALIZED in both pair sources: DuckDB inlines a
  // plain CTE at every reference, and the tail reaches `p` through
  // `nb`, `core` and `und` — inside the recursive `reach` term too —
  // so the cosine pair join re-ran per reference and per recursion
  // step (sim_dbscan 126 s → 1.8 s at sf0.01 on 4 cores; the
  // silhouette oracles over it ~4.5 min → 2 s, hash-identical).
  def dbscanSql(simMin: Double = 0.35, minPts: Int = 2): String =
    s"""WITH RECURSIVE e AS (
          SELECT vec_id, embedding FROM embeddings),
        p AS MATERIALIZED (
          SELECT a.vec_id AS i, b.vec_id AS j
          FROM e a JOIN e b ON a.vec_id < b.vec_id
          WHERE round(${cosineSql("a.embedding", "b.embedding")}, 4)
                  >= $simMin),
        ${dbscanTailSql(minPts)}"""

  /** DBSCAN over the LSH-BLOCKED pair frame — the scale valve
    * [[dbscan]]'s pre-flight names (DBSCAN-LSH: candidate pairs from
    * the hyperplane-bucket device instead of the n² frame, the
    * recall-traded form the literature runs at corpus scale). Every
    * admitted pair still passes the exact rounded-cosine ε test, so
    * precision is 1 by construction and ONLY recall is traded —
    * SimilaritySpec floors pair recall and role agreement against
    * the exact clustering. The gate is hash-exact: DuckDB re-derives
    * the identical hyperplane buckets, probes, cosine filter and CC.
    */
  def dbscanLsh(spark: SparkSession, dir: String, simMin: Double = 0.35,
      minPts: Int = 2): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val pairs = embeddingDedupLsh(spark, dir, simMin)
      .select($"vec_a".as("i"), $"vec_b".as("j"))
    dbscanOf(emb.select($"vec_id"), pairs, minPts)
  }

  def dbscanLshSql(simMin: Double = 0.35, minPts: Int = 2,
      nPlanes: Int = 16, chunkBits: Int = 4): String =
    s"""WITH RECURSIVE ${lshCandCtes(nPlanes, chunkBits, "cand")},
        e AS (SELECT vec_id FROM embeddings),
        p AS MATERIALIZED (
          SELECT c.vec_a AS i, c.vec_b AS j
          FROM cand c
          JOIN embeddings a ON a.vec_id = c.vec_a
          JOIN embeddings b ON b.vec_id = c.vec_b
          WHERE round(${cosineSql("a.embedding", "b.embedding")}, 4)
                  >= $simMin),
        ${dbscanTailSql(minPts)}"""

  def recallEvalSql(): String = {
    val methods = Seq(
      "ivf" -> ivfTopKSql(),
      "ivfpq" -> ivfPqTopKSql(),
      "lsh" -> lshTopKSql(),
      "pq" -> pqTopKSql(rerank = 50))
    val arms = methods.map { case (name, sql) =>
      s"""SELECT '$name' AS method,
                 (SELECT CAST(count(*) AS BIGINT) FROM brute) AS n_truth,
                 CAST(count(*) AS BIGINT) AS hits
          FROM (SELECT query_id, cand_id FROM ($sql)) x
          WHERE EXISTS (SELECT 1 FROM brute b
                        WHERE b.query_id = x.query_id
                          AND b.cand_id = x.cand_id)"""
    }.mkString("\n        UNION ALL\n        ")
    s"""WITH brute AS (
          SELECT query_id, cand_id FROM (${bruteforceTopKSql()})),
        arms AS (
        $arms)
        SELECT method, n_truth, hits,
               CAST(CASE WHEN n_truth > 0 THEN hits * 1000000 // n_truth
                    ELSE 0 END AS BIGINT) AS recall_ppm
        FROM arms ORDER BY method"""
  }

  /** Simplified SILHOUETTE over the DBSCAN clustering (Rousseeuw
    * 1987; the "simplified" medoid variant — per point, a = distance
    * to its OWN cluster's canonical point, b = the nearest OTHER
    * canonical, s = (b−a)/max(a,b)) — the clustering-quality readout
    * that closes the loop on [[dbscan]] the way recallEval closes it
    * on the ANN family. Canonicals are the cluster labels themselves
    * (min core vec_id — real points by construction), so the medoid
    * set needs no extra pass and broadcasts. Distances are 1 − the
    * ROUNDED 4-decimal cosine (the established parity device); each
    * point's s quantizes to integer micro BEFORE the per-cluster sum
    * (fp sums are merge-order-dependent; BIGINT sums are not). Noise
    * is excluded, per the standard convention.
    */
  def dbscanSilhouette(spark: SparkSession, dir: String,
      simMin: Double = 0.35, minPts: Int = 2): DataFrame =
    silhouetteOf(spark, dir, dbscan(spark, dir, simMin, minPts))

  /** Silhouette over the LSH-blocked clustering — the companion
    * valve gate to [[dbscanLsh]]: at corpus scale the exact DBSCAN
    * (and so its silhouette) refuses past the pair budget, while
    * this pair runs — same canonical-medoid silhouette, clusters
    * from the recall-traded pair frame. Hash-exact like its sibling
    * (the oracle swaps the inner clustering text only).
    */
  def dbscanSilhouetteLsh(spark: SparkSession, dir: String,
      simMin: Double = 0.35, minPts: Int = 2): DataFrame =
    silhouetteOf(spark, dir, dbscanLsh(spark, dir, simMin, minPts))

  /** Shared silhouette core over any (vec_id, role, cluster)
    * assignment frame — see [[dbscanSilhouette]] for the contract.
    */
  private def silhouetteOf(spark: SparkSession, dir: String,
      assignment: DataFrame): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val assigned = spread(assignment
      .filter($"cluster" =!= -1L)
      .select($"vec_id", $"cluster")
      .join(emb, "vec_id"))
      .withColumn("e_n", sqrt(dotCol($"embedding", $"embedding")))
      .localCheckpoint(true)
    val canon = assigned.select($"cluster".as("c_id")).distinct()
      .join(emb.select($"vec_id".as("c_id"), $"embedding".as("c_emb")),
        "c_id")
      .withColumn("c_n", sqrt(dotCol($"c_emb", $"c_emb")))
    val scored = assigned.crossJoin(broadcast(canon))
      .select($"vec_id", $"cluster", $"c_id",
        (lit(1.0) - round(
          cosinePrenormed($"embedding", $"c_emb", $"e_n", $"c_n"), 4))
          .as("d"))
    val ab = scored.groupBy($"vec_id", $"cluster")
      .agg(min(when($"c_id" === $"cluster", $"d")).as("a"),
        min(when($"c_id" =!= $"cluster", $"d")).as("b"))
    // b is NULL when only one cluster exists (no other canonical) —
    // engines disagree on NULL propagation through greatest, so pin
    // that edge to s = 0 explicitly
    ab.select($"cluster",
        when($"b".isNotNull && greatest($"a", $"b") > 0,
          round(($"b" - $"a") / greatest($"a", $"b") * 1.0e6))
          .otherwise(0.0).cast("long").as("s_micro"))
      .groupBy($"cluster")
      .agg(count(lit(1)).as("n_points"), sum($"s_micro").as("s_sum_micro"))
      .select($"cluster", $"n_points", $"s_sum_micro",
        round($"s_sum_micro".cast("double")
          / ($"n_points".cast("double") * 1.0e6), 4).as("mean_sil"))
      .orderBy($"cluster")
  }

  def dbscanSilhouetteSql(simMin: Double = 0.35, minPts: Int = 2): String =
    silhouetteSqlOver(dbscanSql(simMin, minPts))

  def dbscanSilhouetteLshSql(simMin: Double = 0.35,
      minPts: Int = 2): String =
    silhouetteSqlOver(dbscanLshSql(simMin, minPts))

  /** The silhouette oracle over any clustering subquery text. */
  private def silhouetteSqlOver(clusteringSql: String): String =
    s"""WITH asg AS (
          SELECT vec_id, cluster FROM ($clusteringSql)
          WHERE cluster <> -1),
        emb AS (SELECT vec_id, embedding FROM embeddings),
        pts AS (SELECT a.vec_id, a.cluster, e.embedding
                FROM asg a JOIN emb e USING (vec_id)),
        canon AS (
          SELECT DISTINCT a.cluster AS c_id, e.embedding AS c_emb
          FROM asg a JOIN emb e ON e.vec_id = a.cluster),
        scored AS (
          SELECT p.vec_id, p.cluster, c.c_id,
                 1.0 - round(${cosineSql("p.embedding", "c.c_emb")}, 4)
                   AS d
          FROM pts p CROSS JOIN canon c),
        ab AS (
          SELECT vec_id, cluster,
                 min(CASE WHEN c_id = cluster THEN d END) AS a,
                 min(CASE WHEN c_id <> cluster THEN d END) AS b
          FROM scored GROUP BY 1, 2),
        s AS (
          SELECT cluster,
                 CAST(CASE WHEN b IS NOT NULL AND greatest(a, b) > 0
                      THEN round((b - a) / greatest(a, b) * 1000000)
                      ELSE 0 END AS BIGINT) AS s_micro
          FROM ab)
        SELECT cluster, CAST(count(*) AS BIGINT) AS n_points,
               CAST(sum(s_micro) AS BIGINT) AS s_sum_micro,
               round(CAST(sum(s_micro) AS DOUBLE)
                 / (CAST(count(*) AS DOUBLE) * 1000000), 4) AS mean_sil
        FROM s GROUP BY cluster ORDER BY cluster"""
}
