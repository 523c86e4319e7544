package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftinternal.PlanBridge

/** Deduplication operators for training-data curation. All token /
  * shingle construction is shared column-expression code (no UDFs) so
  * the whole family stays inside whole-stage codegen.
  */
object Dedup {

  /** Whitespace tokens with empties dropped — identical semantics to
    * Normalize.splitTrimExplode but kept as an array (no generator).
    */
  def tokensCol(c: Column): Column =
    filter(transform(split(trim(c), " "), t => trim(t)), t => length(t) > 0)

  /** Distinct k-word shingles over [[tokensCol]]. Callers must guard
    * size(tokens) >= k (Spark's `sequence` turns descending for
    * empty ranges).
    */
  def shinglesCol(tokens: Column, k: Int): Column =
    array_distinct(transform(
      sequence(lit(1), size(tokens) - lit(k - 1)),
      i => concat_ws(" ", slice(tokens, i, lit(k)))))

  /** (doc_id, lang, pos, token) rows — the codegen-native token
    * path: explode the raw split, then trim/filter as plain
    * predicates on the exploded rows. The [[tokensCol]] array form
    * runs interpreted (higher-order functions don't codegen); this
    * shape stays inside whole-stage codegen end-to-end, which is
    * what you want feeding signature builds over a 100 TB corpus.
    * `pos` orders tokens within a doc (gaps from dropped empties are
    * harmless — consumers use windows, not index arithmetic).
    */
  def tokenRows(spark: SparkSession, dir: String): DataFrame =
    tokenRowsOf(Tables.documents(spark, dir))

  /** Same token stream over any (doc_id, lang, text) frame — lets
    * specs drive the dedup family through crafted corpora.
    */
  def tokenRowsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select($"doc_id", $"lang", posexplode(split(trim($"text"), " ")))
      .select($"doc_id", $"lang", $"pos", trim($"col").as("token"))
      .filter(length($"token") > 0)
  }

  /** Distinct 3-shingle postings (doc_id, lang, n, shingle) where
    * `n` = the doc's distinct-shingle count: consecutive tokens via
    * two `lead`s over the per-doc window, distinct via groupBy, size
    * via a whole-partition count window. One shuffle on doc_id,
    * everything codegen — equivalent to
    * `explode(shinglesCol(tokensCol(text), 3))` with sizes attached.
    */
  def shinglePostings(spark: SparkSession, dir: String): DataFrame =
    shinglePostingsOf(Tables.documents(spark, dir))

  def shinglePostingsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    tokenRowsOf(docs)
      .withColumn("t2", lead($"token", 1).over(w))
      .withColumn("t3", lead($"token", 2).over(w))
      .filter($"t3".isNotNull)
      .groupBy($"doc_id", $"lang",
        concat_ws(" ", $"token", $"t2", $"t3").as("shingle"))
      .agg(count(lit(1)).as("dup_count"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"doc_id")))
      .select($"doc_id", $"lang", $"n", $"shingle")
  }

  /** #28 exact dedup: group identical payloads, keep the smallest id
    * (canonical representative). One hash-shuffle on the payload —
    * at 100 TB, pre-hash the payload to a 128-bit key so the shuffle
    * moves 16-byte keys, not document bodies (see exactByHash).
    */
  def exact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .groupBy($"text")
      .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select($"doc_id", $"text", $"n_copies")
  }

  val exactSql: String =
    """SELECT min(doc_id) AS doc_id, text, count(*) AS n_copies
       FROM documents GROUP BY text"""

  /** Scale path for exact dedup: shuffle a 128-bit payload hash
    * instead of the payload. Collision probability at 10^12 docs is
    * ~10^-14 (birthday bound) — acceptable for curation; use
    * `exact` when bytes must be compared.
    */
  def exactByHash(df: DataFrame, payload: Column, id: Column): DataFrame =
    df.groupBy(md5(payload).as("payload_md5"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_copies"))

  /** #31 n-gram (3-word shingle) Jaccard near-dup pairs via an
    * inverted-index (posting-list) self-join: explode distinct
    * shingles, join postings on (shingle, lang), count common
    * shingles per pair, then jaccard = common / (|A|+|B|−common).
    * Cost is Σ_shingle postings² — bounded by shingle rarity, not by
    * block size, so it scales where a per-block cross product
    * (array_intersect over every pair) is quadratic. A pair can only
    * reach jaccard ≥ t if it shares ≥1 shingle, so the posting join
    * loses nothing.
    */
  def ngramJaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // |set| rides on each posting row (one int) so jaccard needs no
    // re-join against a per-doc sizes table; the join key is the
    // 64-bit shingle hash — the exchange moves 8-byte longs instead
    // of ~25-char strings (collisions at 2^-64 per pair shift a
    // count by ±1 in the 4th decimal at worst)
    val post = shinglePostings(spark, dir)
      .select($"doc_id", $"lang", $"n", xxhash64($"shingle").as("sh_h"))
    post.as("x").join(post.as("y"),
        $"x.sh_h" === $"y.sh_h" && $"x.lang" === $"y.lang" &&
          $"x.doc_id" < $"y.doc_id")
      .groupBy($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"))
      .agg(count(lit(1)).as("common"),
        first($"x.n").as("n_a"), first($"y.n").as("n_b"))
      .select($"doc_a", $"doc_b",
        round($"common".cast("double") / ($"n_a" + $"n_b" - $"common"), 4)
          .as("jaccard"))
      .filter($"jaccard" >= 0.5)
  }

  /** #31c one-sided containment near-dup — Broder's companion measure
    * to the resemblance/Jaccard: |A∩B| / min(|A|,|B|) ≥ t. Catches
    * the asymmetric duplication Jaccard misses at any threshold: a
    * short document quoted whole inside a boilerplate-padded page
    * has high containment but low Jaccard (the union is dominated by
    * the padding). Same posting-list self-join shape and Σ postings²
    * cost as [[ngramJaccardPairs]]; the threshold is a rational
    * tNum/tDen compared by integer cross-multiplication, so a
    * boundary pair can never be lost to floating point (the gate is
    * hash-exact against a brute-force DuckDB oracle).
    */
  def containmentPairs(spark: SparkSession, dir: String,
      tNum: Long = 3, tDen: Long = 5): DataFrame =
    containmentPairsOf(Tables.documents(spark, dir), tNum, tDen)

  def containmentPairsOf(docs: DataFrame,
      tNum: Long, tDen: Long): DataFrame = {
    import docs.sparkSession.implicits._
    val post = shinglePostingsOf(docs)
      .select($"doc_id", $"lang", $"n", xxhash64($"shingle").as("sh_h"))
    post.as("x").join(post.as("y"),
        $"x.sh_h" === $"y.sh_h" && $"x.lang" === $"y.lang" &&
          $"x.doc_id" < $"y.doc_id")
      .groupBy($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"))
      .agg(count(lit(1)).as("common"),
        first($"x.n").as("n_a"), first($"y.n").as("n_b"))
      .filter($"common" * tDen >= lit(tNum) * least($"n_a", $"n_b"))
      .select($"doc_a", $"doc_b",
        round($"common".cast("double") / least($"n_a", $"n_b"), 4)
          .as("containment"))
  }

  val containmentPairsSql: String =
    """WITH toks AS (
         SELECT doc_id, lang,
                list_filter(list_transform(string_split(trim(text), ' '), x -> trim(x)),
                            x -> length(x) > 0) AS t
         FROM documents),
       sh AS (
         SELECT doc_id, lang,
                list_distinct([array_to_string(t[i:i+2], ' ')
                               for i in range(1, len(t) - 1)]) AS s
         FROM toks WHERE len(t) >= 3)
       SELECT doc_a, doc_b,
              round(common * 1.0 / least(n_a, n_b), 4) AS containment
       FROM (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                len(list_intersect(a.s, b.s)) AS common,
                len(a.s) AS n_a, len(b.s) AS n_b
         FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id)
       WHERE common * 5 >= 3 * least(n_a, n_b)"""

  /** #31b frequent-shingle release valve: the same ≥t Jaccard pairs
    * as [[ngramJaccardPairs]], but candidate generation runs only on
    * each doc's PREFIX of globally-rarest shingles (PPJoin-style
    * prefix filter, Xiao et al.), so one boilerplate shingle shared
    * by 10^6 docs no longer creates a 10^12-row bucket — a heavy
    * hitter enters the join only for docs with almost nothing else.
    *
    * Lossless: jaccard(A,B) ≥ t ⇒ |A∩B| ≥ ⌈β·(|A|+|B|)⌉ with
    * β = t/(1+t); if both prefixes have length |X| − ⌈β·|X|⌉ + 1
    * under one total order (global freq asc, hash asc) and were
    * disjoint, every common shingle would sit in one of the two
    * suffixes, giving |A∩B| ≤ (⌈β|A|⌉−1) + (⌈β|B|⌉−1) < β(|A|+|B|) —
    * contradiction. So every qualifying pair shares a prefix shingle.
    * A size filter (t·max ≤ min, since |A∩B| ≤ min and ≥ t·max)
    * prunes cross-size candidates before they materialize.
    *
    * Candidates are then verified EXACTLY against the full posting
    * lists (ids-only join, counts recomputed), so output ≡ the
    * unfiltered posting join — the gate shares its oracle.
    */
  def ngramJaccardPairsPrefix(spark: SparkSession, dir: String,
      t: Double = 0.5): DataFrame = {
    // postings feed four consumers (freq window, prefix join ×2,
    // verify ×2) — cache is the right trade. CacheManager keys on
    // the logical plan, so repeat invocations share ONE entry per
    // (dir); the entry outlives the query (standard table-cache
    // semantics) and is evicted LRU or by spark.catalog.clearCache.
    val post = shinglePostings(spark, dir).cache()
    verifiedJaccardPairs(post, prefixCandidates(post, t), t)
  }

  /** Prefix-filtered candidate pairs. `post` must have columns
    * (doc_id, lang, n, shingle) with distinct shingles per doc and
    * n = the doc's distinct-shingle count (= [[shinglePostings]]).
    */
  def prefixCandidates(post: DataFrame, t: Double): DataFrame = {
    import post.sparkSession.implicits._
    // all threshold arithmetic in exact integers (t quantized to
    // per-mille, floored so the quantized threshold never exceeds t):
    // β = t/(1+t) becomes tPM/(1000+tPM), and ⌈β·n⌉ =
    // (tPM·n + d − 1) div d with d = 1000+tPM. A double β that
    // rounds UP (e.g. t=0.25 → β_fp > 0.2) would shorten the prefix
    // by one and silently lose a boundary-jaccard pair.
    val tPerMille = math.floor(t * 1000).toLong
    val denom = 1000L + tPerMille
    val hashed = post.select($"doc_id", $"lang", $"n",
      xxhash64($"shingle").as("sh_h"))
    // rank each doc's shingles by global rarity (total order:
    // freq asc, hash asc); keep the provably-sufficient prefix.
    // freq comes from a count window instead of groupBy+join — one
    // fewer postings-sized exchange
    // `div` = exact integer division (Column./ would detour through
    // doubles and truncate)
    val ceilBetaN = expr(s"(n * $tPerMille + ${denom - 1}) div $denom")
    val prefix = hashed
      .withColumn("freq", count(lit(1)).over(
        Window.partitionBy($"lang", $"sh_h")))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"doc_id").orderBy($"freq", $"sh_h")))
      .filter($"rk" <= $"n" - ceilBetaN + lit(1))
      .select($"doc_id", $"lang", $"n", $"sh_h")
    // prefix-only self-join + size filter, ids only through the
    // exchange — no payloads, no full posting lists. The size bound
    // (jaccard ≥ t ⇒ t·max(|A|,|B|) ≤ min) compares in the same
    // integer per-mille so a boundary pair (e.g. exactly t) can
    // never be lost to floating-point (t·max rounding above min)
    prefix.as("x").join(prefix.as("y"),
        $"x.sh_h" === $"y.sh_h" && $"x.lang" === $"y.lang" &&
          $"x.doc_id" < $"y.doc_id" &&
          greatest($"x.n", $"y.n") * lit(tPerMille) <= least($"x.n", $"y.n") * lit(1000L))
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"))
      .distinct()
  }

  /** Exact verification: recount common shingles over the FULL
    * postings, but only for candidate pairs — cost is
    * Σ_pairs (|A| + common), not Σ_shingle postings².
    */
  def verifiedJaccardPairs(post: DataFrame, cand: DataFrame,
      t: Double): DataFrame = {
    import post.sparkSession.implicits._
    val hashed = post.select($"doc_id", $"lang", $"n",
      xxhash64($"shingle").as("sh_h"))
    val pa = hashed.select($"doc_id".as("doc_a"), $"lang".as("la"),
      $"n".as("n_a"), $"sh_h".as("ha"))
    val pb = hashed.select($"doc_id".as("doc_b"), $"lang".as("lb"),
      $"n".as("n_b"), $"sh_h".as("hb"))
    // the ha===hb / la===lb predicates become equi-join keys of the
    // second join (Catalyst extracts them), so this is two hash
    // joins, not a per-pair cross product
    cand.join(pa, "doc_a")
      .join(pb, Seq("doc_b"))
      .filter($"ha" === $"hb" && $"la" === $"lb")
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("common"),
        first($"n_a").as("n_a"), first($"n_b").as("n_b"))
      .select($"doc_a", $"doc_b",
        round($"common".cast("double") / ($"n_a" + $"n_b" - $"common"), 4)
          .as("jaccard"))
      .filter($"jaccard" >= t)
  }

  /** Pair CTEs shared by the pairs oracle and the recursive
    * clustering oracle.
    */
  private[operators] val pairsCte: String =
    """toks AS (
         SELECT doc_id, lang,
                list_filter(list_transform(string_split(trim(text), ' '), x -> trim(x)),
                            x -> length(x) > 0) AS t
         FROM documents),
       sh AS (
         SELECT doc_id, lang,
                list_distinct([array_to_string(t[i:i+2], ' ')
                               for i in range(1, len(t) - 1)]) AS s
         FROM toks WHERE len(t) >= 3),
       pairs AS (
         SELECT doc_a, doc_b, jaccard FROM (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  round(len(list_intersect(a.s, b.s)) * 1.0 /
                        len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
           FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id)
         WHERE jaccard >= 0.5)"""

  val ngramJaccardPairsSql: String =
    s"WITH $pairsCte SELECT doc_a, doc_b, jaccard FROM pairs"

  /** Connected components over near-dup pairs: frontier-based
    * min-label propagation (the incremental form of Kiveris-style
    * large-graph CC). Only labels that IMPROVED last round are joined
    * against the edge set, so per-round cost tracks the shrinking
    * frontier instead of staying O(E) every round, and convergence is
    * simply "the frontier is empty" — no second full-label diff join.
    *
    * Completeness: every label value a node ever holds is offered to
    * all its neighbors the round after it is assigned (the node is in
    * that round's frontier), so at empty-frontier fixpoint adjacent
    * labels are equal in both directions of `und` → labels are
    * constant per component → the min id, which seeds as its own
    * label and never decreases.
    *
    * The loop runs on the caller's session; AQE coalescing sizes its
    * shuffles. The undirected edge set is derived once into a
    * localCheckpoint, but the checkpoint does not keep its hash
    * partitioning under AQE, so each round's propagate join
    * re-exchanges the edge side along with the frontier. Each round's
    * labels are a localCheckpoint (lineage truncated, blocks freeable
    * by handle), materialized by the frontier count, and the PREVIOUS
    * round's blocks are released as soon as the next round is
    * materialized — live memory is one label-set copy plus the edges,
    * not one copy per round. The final round's blocks back the
    * returned DataFrame; the caller may release them with
    * `PlanBridge.unpersistCheckpoint`.
    *
    * Output: (doc_id, cluster_id = min doc_id in the component) for
    * every doc that appears in a pair.
    */
  def clusters(pairs: DataFrame, idA: String = "doc_a",
      idB: String = "doc_b"): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val e = pairs.select(col(idA).as("src"), col(idB).as("dst"))
    // localCheckpoint, NOT cache(): a CacheManager entry would be keyed
    // on the caller's pair plan, which peer gates build too, and a
    // peer's unpersist could remove it mid-loop (see Graph.pageRankWeightedOf)
    val und = e.union(e.select($"dst".as("src"), $"src".as("dst")))
      .repartition($"src").localCheckpoint(false)
    try {
      // seed with min(self, direct neighbors) — one aggregation that
      // saves a full propagation round vs label := self
      var labels = und.groupBy($"src".as("id"))
        .agg(least(min($"dst"), first($"src")).as("label"))
        .localCheckpoint(false)
      // every seed label is new information, so the whole node set is
      // the first frontier
      var frontier = labels
      var active = 1L
      while (active > 0) {
        // offer each frontier label to the frontier nodes' neighbors
        val offers = und
          .join(frontier.withColumnRenamed("id", "src"), "src")
          .groupBy($"dst".as("id")).agg(min($"label").as("offer"))
        // one left join derives both next labels and the next
        // frontier from a single materialized step
        val step = labels.join(offers, Seq("id"), "left")
          .select($"id",
            when($"offer" < $"label", $"offer").otherwise($"label").as("label"),
            coalesce($"offer" < $"label", lit(false)).as("improved"))
          .localCheckpoint(false)
        frontier = step.filter($"improved").select($"id", $"label")
        active = frontier.count() // materializes step
        PlanBridge.unpersistCheckpoint(labels)
        labels = step.select($"id", $"label")
      }
      labels.select($"id".as("doc_id"), $"label".as("cluster_id"))
    } finally PlanBridge.unpersistCheckpoint(und)
  }

  /** Gate query: clusters over the ≥0.5-jaccard pair graph. */
  def ngramJaccardClusters(spark: SparkSession, dir: String): DataFrame =
    clusters(ngramJaccardPairs(spark, dir))

  /** DuckDB oracle via a recursive CTE: reach(id, r) closes the
    * undirected edge relation; cluster_id = min reachable id.
    */
  val ngramJaccardClustersSql: String =
    s"""WITH RECURSIVE $pairsCte,
        und AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL
                SELECT doc_b, doc_a FROM pairs),
        reach(id, r) AS (
          SELECT src, src FROM und
          UNION
          SELECT u.src, reach.r FROM und u JOIN reach ON u.dst = reach.id)
        SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id"""

  /** Canonical-survivor selection — the step AFTER near-dup detection
    * that actually builds the training set: per near-dup cluster keep
    * exactly one representative (longest text wins, doc_id breaks
    * ties), every unclustered doc keeps itself. Composes
    * [[ngramJaccardClusters]] with a per-cluster argmax: the ranking
    * window partitions by cluster_id (cluster-sized frames across
    * many keys — the scalable window shape), and the final verdict is
    * one left join back to the corpus. Output carries the full corpus
    * with (cluster_id, kept), so the downstream filter `kept` is the
    * dedup'd corpus and the dropped set is auditable — a dedup that
    * silently deletes is a dedup nobody can debug at 100 TB.
    */
  def canonicalDocs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val members = ngramJaccardClusters(spark, dir)
      .join(graft.Tables.documents(spark, dir)
        .select($"doc_id", $"n_chars"), "doc_id")
    val ranked = members.withColumn("rk",
      row_number().over(Window.partitionBy($"cluster_id")
        .orderBy($"n_chars".desc, $"doc_id")))
    graft.Tables.documents(spark, dir).select($"doc_id")
      .join(ranked.select($"doc_id", $"cluster_id", ($"rk" === 1).as("is_best")),
        Seq("doc_id"), "left")
      .select($"doc_id", $"cluster_id",
        coalesce($"is_best", lit(true)).as("kept"))
      .orderBy($"doc_id")
  }

  val canonicalDocsSql: String =
    s"""WITH RECURSIVE $pairsCte,
        und AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL
                SELECT doc_b, doc_a FROM pairs),
        reach(id, r) AS (
          SELECT src, src FROM und
          UNION
          SELECT u.src, reach.r FROM und u JOIN reach ON u.dst = reach.id),
        labels AS (
          SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
        ranked AS (
          SELECT l.doc_id, l.cluster_id,
                 row_number() OVER (PARTITION BY l.cluster_id
                                    ORDER BY d.n_chars DESC, l.doc_id) AS rk
          FROM labels l JOIN documents d ON d.doc_id = l.doc_id)
        SELECT d.doc_id, r.cluster_id,
               coalesce(r.rk = 1, TRUE) AS kept
        FROM documents d LEFT JOIN ranked r ON d.doc_id = r.doc_id
        ORDER BY d.doc_id"""

  /** Soft dedup: one canonical survivor per near-dup cluster,
    * carrying the cluster's multiplicity as a WEIGHT — the
    * reweighting form of deduplication (cf. He et al., "SoftDedup",
    * ACL 2024; the sampled-count columns of public corpus releases):
    * hard-dropping duplicates changes the training distribution,
    * while keeping the survivor at weight = cluster size preserves
    * the original token mass with none of the redundant storage or
    * compute — the consumer samples the canonical doc `weight`
    * times (or scales its loss). Survivor choice and clustering are
    * EXACTLY [[canonicalDocs]]'s (longest doc, doc_id tie-break, on
    * the verified n-gram Jaccard clusters), so the two gates cannot
    * drift; singletons ride through at weight 1.
    *
    * Scale shape: inherits the cluster operator's frontier-join CC
    * and the per-cluster rank window (cluster-sized partitions);
    * the weight is one partial-agg'd count per cluster.
    */
  def softDedupWeights(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val members = ngramJaccardClusters(spark, dir)
    val sized = members
      .join(members.groupBy($"cluster_id").agg(count(lit(1)).as("weight")),
        "cluster_id")
      .join(graft.Tables.documents(spark, dir)
        .select($"doc_id", $"n_chars"), "doc_id")
      .withColumn("rk", row_number().over(
        Window.partitionBy($"cluster_id")
          .orderBy($"n_chars".desc, $"doc_id")))
      .filter($"rk" === 1)
      .select($"doc_id", $"weight")
    graft.Tables.documents(spark, dir).select($"doc_id")
      .join(sized, Seq("doc_id"), "left")
      .join(members.select($"doc_id", lit(1L).as("in_cluster")),
        Seq("doc_id"), "left")
      // non-survivor cluster members drop; everything else weight 1
      .filter($"weight".isNotNull || $"in_cluster".isNull)
      .select($"doc_id", coalesce($"weight", lit(1L)).as("weight"))
      .orderBy($"doc_id")
  }

  val softDedupWeightsSql: String =
    s"""WITH RECURSIVE $pairsCte,
        und AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION ALL
                SELECT doc_b, doc_a FROM pairs),
        reach(id, r) AS (
          SELECT src, src FROM und
          UNION
          SELECT u.src, reach.r FROM und u JOIN reach ON u.dst = reach.id),
        labels AS (
          SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
        sizes AS (
          SELECT cluster_id, CAST(count(*) AS BIGINT) AS weight
          FROM labels GROUP BY 1),
        ranked AS (
          SELECT l.doc_id, l.cluster_id,
                 row_number() OVER (PARTITION BY l.cluster_id
                                    ORDER BY d.n_chars DESC, l.doc_id) AS rk
          FROM labels l JOIN documents d ON d.doc_id = l.doc_id)
        SELECT d.doc_id,
               CAST(coalesce(s.weight, 1) AS BIGINT) AS weight
        FROM documents d
        LEFT JOIN ranked r ON r.doc_id = d.doc_id
        LEFT JOIN sizes s ON s.cluster_id = r.cluster_id AND r.rk = 1
        WHERE r.doc_id IS NULL OR r.rk = 1
        ORDER BY d.doc_id"""

  /** Content-defined chunking dedup (the LBFS/FastCDC device,
    * Muthitacharoen SOSP'01): chunk boundaries cut where the hash of
    * the 4-gram ending at each position ≡ 0 mod 32, so an edit moves
    * only the boundaries in its own neighborhood — the property that
    * lets a storage/dedup system find shared content between
    * near-identical documents without any alignment search (where
    * fixed-width chunking loses everything after one insertion).
    * Report: chunks shared by ≥2 documents, top-k by occurrence.
    *
    * Exactness device: the gear hash is the pure integer
    * ((a·257+b)·257+c)·257+d over ASCII codes — both engines compute
    * it bit-identically via per-position lambda transforms (no
    * rolling state, so no fold-emission problem in SQL); chunk
    * fingerprints are md5 of the chunk text. Per-doc work is
    * O(len·4) map-side; only (fp, doc_id, len) rows shuffle — never
    * chunk text at corpus scale (md5 collapses it first).
    */
  def cdcChunks(spark: SparkSession, dir: String, topK: Int = 20)
      : DataFrame =
    cdcChunksOf(Tables.documents(spark, dir), topK)

  /** Per-document CDC chunk rows over any (doc_id, text) frame —
    * exposed so specs can drive boundary-locality fixtures.
    */
  def cdcChunkRowsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // O(len·4) gear-hash kernel per row — a single-split corpus fuses
    // it into one task (2.0 s single-task on the r16 probe); spread
    // restores map-side parallelism before the fan-out
    Similarity.spread(docs)
      .select($"doc_id",
        trim(regexp_replace(lower($"text"), "\\s+", " ")).as("t"))
      .withColumn("cs", split($"t", ""))
      .withColumn("n", length($"t"))
      // interior cut positions: 4-gram gear hash ≡ 0 (mod 64)
      .withColumn("cuts", expr(
        """IF(n < 4, array(),
           filter(transform(sequence(4, n),
             i -> IF((((ascii(element_at(cs, i - 3)) * 257
                        + ascii(element_at(cs, i - 2))) * 257
                       + ascii(element_at(cs, i - 1))) * 257
                      + ascii(element_at(cs, i))) % 32 = 0
                     AND i < n, i, -1)),
           x -> x != -1))"""))
      .withColumn("bounds", expr(
        "concat(array(0), cuts, array(n))"))
      .select($"doc_id", explode(expr(
        """filter(transform(sequence(1, size(bounds) - 1),
             k -> array_join(slice(cs, element_at(bounds, k) + 1,
               element_at(bounds, k + 1) - element_at(bounds, k)), '')),
           c -> length(c) > 0)""")).as("chunk"))
  }

  def cdcChunksOf(docs: DataFrame, topK: Int): DataFrame = {
    import docs.sparkSession.implicits._
    cdcChunkRowsOf(docs)
      .select($"doc_id", md5($"chunk").as("fp"),
        length($"chunk").cast("long").as("len"))
      .groupBy($"fp")
      .agg(countDistinct($"doc_id").as("n_docs"),
        count(lit(1)).as("n_occ"), max($"len").as("len"))
      .filter($"n_docs" >= 2)
      .orderBy($"n_occ".desc, $"fp")
      .limit(topK)
  }

  def cdcChunksSql(topK: Int = 20): String =
    s"""WITH norm AS (
          SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))
                   AS t
          FROM documents),
        cut AS (
          SELECT doc_id, t, length(t) AS n,
                 list_filter(list_transform(range(4, length(t) + 1),
                   i -> CASE WHEN (((ord(t[i-3:i-3]) * 257
                                    + ord(t[i-2:i-2])) * 257
                                   + ord(t[i-1:i-1])) * 257
                                  + ord(t[i:i])) % 32 = 0
                                 AND i < length(t)
                             THEN i ELSE -1 END),
                   x -> x != -1) AS cuts
          FROM norm),
        bounds AS (
          SELECT doc_id, t,
                 list_concat(list_concat([0], cuts), [n]) AS b
          FROM cut),
        ch AS (
          SELECT doc_id, unnest(list_filter(
                   list_transform(range(1, length(b)),
                     k -> t[b[k] + 1:b[k + 1]]),
                   c -> length(c) > 0)) AS chunk
          FROM bounds)
        SELECT md5(chunk) AS fp,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_occ,
               CAST(max(length(chunk)) AS BIGINT) AS len
        FROM ch
        GROUP BY fp HAVING count(DISTINCT doc_id) >= 2
        ORDER BY n_occ DESC, fp LIMIT $topK"""
}
