package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fuzzy entity resolution over short identifier strings — the
  * "same real-world thing, slightly different spelling" matcher that
  * complements the token-set dedup family (Jaccard/containment work
  * on bags of shingles; Jaro–Winkler is the right metric when the
  * strings are NAMES, where transpositions and shared prefixes carry
  * the signal).
  *
  * Scale shape: similarity is computed on the DISTINCT-NAME domain,
  * not the row domain — the corpus collapses to (name, count) first,
  * so the pairwise stage is vocabulary², blocked further by first
  * token, and the number of jaro_winkler evaluations is
  * corpus-size-INDEPENDENT (reference semantics: resolve the entity
  * vocabulary, then fan results back out by multiplicity). Both the
  * blocking and the candidate order are mirrored exactly in the
  * oracle, so the gate is hash-exact, not recall-approximate.
  */
object EntityResolution {

  /** Near-duplicate part-name pairs: distinct names, blocked on the
    * leading token, scored with the native `jaro_winkler` kernel
    * (functions/JaroWinkler.scala), kept at ≥ `threshold`. `n_pairs`
    * is the row-domain weight of the name pair (how many part-row
    * pairs the match represents). Exact-equal names are the
    * exact-dedup family's job — the strict `name_a < name_b` keeps
    * this gate to true near-duplicates and halves the candidate set.
    */
  def jaroNamePairs(spark: SparkSession, dir: String,
      threshold: Double = 0.85): DataFrame = {
    import spark.implicits._
    val names = Tables.part(spark, dir)
      .groupBy($"p_name").agg(count(lit(1)).as("n"))
      .withColumn("blk", substring_index($"p_name", " ", 1))
    val a = names.select($"blk", $"p_name".as("name_a"), $"n".as("n_a"))
    val b = names.select($"blk", $"p_name".as("name_b"), $"n".as("n_b"))
    a.join(broadcast(b), Seq("blk"))
      .filter($"name_a" < $"name_b")
      .withColumn("jw", call_function("jaro_winkler", $"name_a", $"name_b"))
      .filter($"jw" >= threshold)
      .select($"name_a", $"name_b",
        round($"jw", 4).as("jw_sim"),
        ($"n_a" * $"n_b").as("n_pairs"))
      .orderBy($"name_a", $"name_b")
  }

  /** Blocking QUALITY metrics — the evaluation every production ER
    * pipeline owes its blocking scheme: against the un-blocked ground
    * truth (all vocabulary pairs ≥ threshold — affordable exactly
    * because similarity lives on the distinct-name domain),
    * measure REDUCTION RATIO (how much of the all-pairs work the
    * blocks skip) and PAIRS COMPLETENESS (recall: what fraction of
    * true matches the blocks retain). Both in integer ppm. This is
    * the operator that tells you whether first-token blocking is
    * good enough BEFORE you scale it — the meta-measurement, not the
    * match.
    */
  def blockingQuality(spark: SparkSession, dir: String,
      threshold: Double = 0.85): DataFrame = {
    import spark.implicits._
    val names = Tables.part(spark, dir).select($"p_name").distinct()
      .withColumn("blk", substring_index($"p_name", " ", 1))
    val a = names.select($"p_name".as("na"), $"blk".as("ba"))
    val b = names.select($"p_name".as("nb"), $"blk".as("bb"))
    val all = a.join(broadcast(b), $"na" < $"nb")
      .withColumn("hit",
        when(call_function("jaro_winkler", $"na", $"nb") >= threshold, 1L)
          .otherwise(0L))
      .withColumn("blocked", when($"ba" === $"bb", 1L).otherwise(0L))
    all.agg(
        count(lit(1)).as("n_allpairs"),
        sum($"blocked").as("n_candidates"),
        sum($"hit").as("n_true"),
        sum($"hit" * $"blocked").as("n_found"))
      .select($"n_allpairs", $"n_candidates", $"n_true", $"n_found",
        expr("((n_allpairs - n_candidates) * 1000000L) div n_allpairs")
          .as("reduction_ppm"),
        expr("CASE WHEN n_true = 0 THEN 1000000L " +
          "ELSE (n_found * 1000000L) div n_true END").as("recall_ppm"))
  }

  def blockingQualitySql(threshold: Double = 0.85): String =
    s"""WITH names AS (
          SELECT DISTINCT p_name,
                 split_part(p_name, ' ', 1) AS blk
          FROM part),
        pairs AS (
          SELECT CASE WHEN jaro_winkler_similarity(x.p_name, y.p_name)
                        >= $threshold THEN 1 ELSE 0 END AS hit,
                 CASE WHEN x.blk = y.blk THEN 1 ELSE 0 END AS blocked
          FROM names x JOIN names y ON x.p_name < y.p_name),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n_allpairs,
                 CAST(sum(blocked) AS BIGINT) AS n_candidates,
                 CAST(sum(hit) AS BIGINT) AS n_true,
                 CAST(sum(hit * blocked) AS BIGINT) AS n_found
          FROM pairs)
        SELECT n_allpairs, n_candidates, n_true, n_found,
               ((n_allpairs - n_candidates) * 1000000) // n_allpairs
                 AS reduction_ppm,
               CASE WHEN n_true = 0 THEN 1000000
                    ELSE (n_found * 1000000) // n_true END AS recall_ppm
        FROM agg"""

  // ── Fellegi–Sunter probabilistic record linkage ───────────────────
  // m/u parameters (P[field agrees | match] / P[agrees | non-match])
  // are MODEL INPUTS — fixed literals here, estimated from labeled
  // pairs or EM in production. Weights are precomputed integer
  // MILLI-BITS (round(log2(m/u)·1000)), so the pair score is pure
  // BIGINT addition — a single source of truth interpolated into the
  // SQL twin.
  private val fsFields: Seq[(String, Double, Double)] = Seq(
    // field, m, u
    ("name", 0.90, 0.01),  // jaro-winkler ≥ 0.90 on the full name
    ("brand", 0.95, 0.04), // exact brand equality (25 brands)
    ("typ", 0.90, 0.02),   // exact type equality (150 types)
    ("size", 0.85, 0.02))  // exact size equality (50 sizes)
  private def mb(x: Double): Long =
    math.round(math.log(x) / math.log(2.0) * 1000.0)
  /** (field, agreeWeight, disagreeWeight) in milli-bits. */
  val fsWeights: Seq[(String, Long, Long)] = fsFields.map {
    case (f, m, u) => (f, mb(m / u), mb((1.0 - m) / (1.0 - u)))
  }

  /** Fellegi–Sunter match scoring (Fellegi/Sunter, JASA 1969 — the
    * canonical probabilistic record-linkage model): each blocked
    * candidate pair gets Σ over fields of log2(m/u) when the field
    * agrees and log2((1−m)/(1−u)) when it disagrees — the
    * log-likelihood ratio that a pair is a match, the number the
    * classic link/review/non-link thresholds cut on. Agreement
    * fields here: near-name (Jaro–Winkler ≥ 0.9 via the native
    * kernel), brand, type, and size equality over first-token-blocked
    * part pairs (the [[jaroNamePairs]] candidate space, so candidate
    * cost stays vocabulary²-blocked and corpus-size-independent).
    * Scoring is EXACT integer milli-bit addition — the m/u literals
    * compile to constant integer weights shared verbatim with the
    * oracle; the only fp is the jw comparison both engines make on
    * identical strings.
    */
  /** Default ceiling on the within-block record-pair fan-out
    * Σ C(|block|,2) — ~4× the sf0.1 first-token census (≈50 M pairs
    * measured, r12 board note). Block sizes grow linearly with the
    * corpus under a fixed key vocabulary, so pairs grow QUADRATICALLY
    * — past the ceiling the exact pair join is the scale-killer the
    * wedge family refuses, and the guard throws naming the finer-key
    * valve instead of launching a job that can't finish.
    */
  val DefaultPairBudget: Long = 200000000L

  /** (sum C(|block|,2), total records) off ONE block-sized aggregate
    * — the pair census the budget guard cuts on plus the record count
    * that sizes the broadcast decision below.
    */
  private def blockCensus(keyed: DataFrame, blkCol: String): (Long, Long) = {
    val row = keyed.groupBy(col(blkCol)).agg(count(lit(1)).as("n"))
      .agg(sum(expr("n * (n - 1) div 2")).as("p"), sum(col("n")).as("r")).head
    if (row.isNullAt(0)) (0L, 0L) else (row.getLong(0), row.getLong(1))
  }

  private def requirePairBudget(keyed: DataFrame, blkCol: String,
      budget: Long, op: String): Long = {
    val (pairs, records) = blockCensus(keyed, blkCol)
    if (pairs > budget) throw new IllegalStateException(
      s"$op: within-block record-pair fan-out is sum C(|block|,2) = " +
        s"$pairs > budget $budget — the blocking key is too coarse at " +
        "this scale; use a finer composite key (fellegiSunterFine's " +
        "first-token x brand, or pick one with blockingKeySelect), or " +
        "raise pairBudget explicitly if you have the cluster for it")
    records
  }

  def fellegiSunter(spark: SparkSession, dir: String,
      topK: Int = 50): DataFrame = {
    import spark.implicits._
    val parts = Tables.part(spark, dir)
      .select($"p_partkey".as("pk"), $"p_name".as("nm"),
        $"p_brand".as("br"), $"p_type".as("tp"), $"p_size".as("sz"))
    fellegiSunterOf(parts, substring_index($"nm", " ", 1), topK)
  }

  /** The finer-blocking VALVE: same scorer on the composite
    * first-token × brand key — candidate pairs drop by ~the brand
    * cardinality (every within-block pair now also agrees on brand),
    * trading cross-brand recall for a quadratic-fan-out cut. This is
    * the key [[fellegiSunter]]'s budget guard names; pick between
    * them with data via [[blockingKeySelect]].
    */
  def fellegiSunterFine(spark: SparkSession, dir: String,
      topK: Int = 50): DataFrame = {
    import spark.implicits._
    val parts = Tables.part(spark, dir)
      .select($"p_partkey".as("pk"), $"p_name".as("nm"),
        $"p_brand".as("br"), $"p_type".as("tp"), $"p_size".as("sz"))
    fellegiSunterOf(parts,
      concat(substring_index($"nm", " ", 1), lit("|"), $"br"), topK)
  }

  /** FS core over any (pk, nm, br, tp, sz) frame and blocking key.
    * Refuses past `pairBudget` (census first — one block-sized
    * aggregate — never the pair join itself).
    */
  def fellegiSunterOf(partsIn: DataFrame,
      blkExpr: org.apache.spark.sql.Column, topK: Int,
      pairBudget: Long = DefaultPairBudget): DataFrame = {
    import partsIn.sparkSession.implicits._
    fsScoredPairs(partsIn, blkExpr, pairBudget)
      .orderBy($"score_mbits".desc, $"pk_a", $"pk_b")
      .limit(topK)
  }

  /** The scored candidate-pair frame both [[fellegiSunterOf]] (top-k
    * review list) and [[resolveEntities]] (threshold + closure) cut.
    */
  private def fsScoredPairs(partsIn: DataFrame,
      blkExpr: org.apache.spark.sql.Column,
      pairBudget: Long = DefaultPairBudget): DataFrame = {
    val spark = partsIn.sparkSession
    import spark.implicits._
    val Seq((_, nA, nD), (_, bA, bD), (_, tA, tD), (_, sA, sD)) = fsWeights
    val parts = partsIn.withColumn("blk", blkExpr)
    val records = requirePairBudget(parts, "blk", pairBudget, "fellegiSunter")
    // the jaro kernel runs on the DISTINCT-NAME-PAIR domain
    // (vocabulary² within blocks — corpus-size-independent, the
    // jaroNamePairs posture); record pairs then join the flag by
    // name, so the per-record-pair work is equality tests + one
    // broadcast hash lookup, never a string kernel
    val names = parts.select($"blk", $"nm").distinct()
    // distinct AFTER dropping blk: under a composite key one name can
    // sit in many blocks, and a name pair sharing k blocks would
    // otherwise join k flag rows onto every record pair (duplicate
    // output rows crowding the top-k — the r13 _fine defect)
    val namePairs = names
      .join(names.select($"blk", $"nm".as("nm2")), Seq("blk"))
      .select($"nm".as("np_a"), $"nm2".as("np_b"),
        when(call_function("jaro_winkler", $"nm", $"nm2") >= 0.9, 1L)
          .otherwise(0L).as("ag_name"))
      .distinct()
    // the record side arrives as ONE parquet split, which fuses the
    // whole within-block pair fan-out (~50 M probe+score evaluations
    // at sf0.1) into a single task — measured 20 s single-threaded on
    // the r16 probe; spreading it across the default parallelism
    // restores the map-side parallelism (the block side broadcasts,
    // so no co-location is lost). The broadcast is gated on the
    // MEASURED record count from the budget census (one aggregate,
    // already paid above) — the pair budget bounds sum C(n_block,2),
    // not records, so a corpus of many small blocks could pass the
    // guard yet be far too big to ship to every executor; past the
    // cut the planner's shuffle join takes over and the spread is
    // skipped (the blk exchange redistributes the kernel anyway).
    val fits = records <= 4000000L
    val a0 = if (fits) Similarity.spread(parts) else parts
    val a = a0
      .select($"blk", $"pk".as("pk_a"), $"nm".as("nm_a"),
        $"br".as("br_a"), $"tp".as("tp_a"), $"sz".as("sz_a"))
    val b0 = parts.select($"blk", $"pk".as("pk_b"), $"nm".as("nm_b"),
      $"br".as("br_b"), $"tp".as("tp_b"), $"sz".as("sz_b"))
    val b = if (fits) broadcast(b0) else b0
    a.join(b, Seq("blk")).filter($"pk_a" < $"pk_b")
      .join(broadcast(namePairs),
        $"nm_a" === $"np_a" && $"nm_b" === $"np_b")
      .withColumn("ag_brand", when($"br_a" === $"br_b", 1L).otherwise(0L))
      .withColumn("ag_type", when($"tp_a" === $"tp_b", 1L).otherwise(0L))
      .withColumn("ag_size", when($"sz_a" === $"sz_b", 1L).otherwise(0L))
      .withColumn("score_mbits",
        when($"ag_name" === 1L, lit(nA)).otherwise(lit(nD)) +
          when($"ag_brand" === 1L, lit(bA)).otherwise(lit(bD)) +
          when($"ag_type" === 1L, lit(tA)).otherwise(lit(tD)) +
          when($"ag_size" === 1L, lit(sA)).otherwise(lit(sD)))
      .select($"pk_a", $"pk_b", $"ag_name", $"ag_brand", $"ag_type",
        $"ag_size", $"score_mbits")
  }

  /** End-to-end ENTITY RESOLUTION — the decision step on top of the
    * Fellegi–Sunter scorer: pairs at or above `thresholdMbits` (the
    * classic "link" cut; default = agree on name+brand+type whatever
    * size does) become match edges, connected components merge them
    * into entities (transitive closure — the standard ER final step,
    * via the repo CC engine), and the output is the entity census a
    * data steward reviews: canonical id = min record key, sizes,
    * distinct names, a sample name. Runs on the FINE composite
    * blocking key (first-token × brand) — the production valve, so
    * the pair fan-out stays budget-guarded and brand-bounded.
    */
  def resolveEntities(spark: SparkSession, dir: String,
      thresholdMbits: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val Seq((_, nA, _), (_, bA, _), (_, tA, _), (_, _, sD)) = fsWeights
    val thr = thresholdMbits.getOrElse(nA + bA + tA + sD)
    val parts = Tables.part(spark, dir)
      .select($"p_partkey".as("pk"), $"p_name".as("nm"),
        $"p_brand".as("br"), $"p_type".as("tp"), $"p_size".as("sz"))
    val blk = concat(substring_index($"nm", " ", 1), lit("|"), $"br")
    val matches = fsScoredPairs(parts, blk)
      .filter($"score_mbits" >= thr)
      .select($"pk_a", $"pk_b")
    val clusters = Dedup.clusters(matches, "pk_a", "pk_b")
      .select($"doc_id".as("pk"), $"cluster_id".as("entity"))
    clusters
      .join(parts.select($"pk", $"nm"), "pk")
      .groupBy($"entity")
      .agg(count(lit(1)).as("n_records"),
        countDistinct($"nm").as("n_names"),
        min($"nm").as("sample_name"))
      .orderBy($"n_records".desc, $"entity")
  }

  def resolveEntitiesSql(thresholdMbits: Option[Long] = None): String = {
    val Seq((_, nA, nD), (_, bA, bD), (_, tA, tD), (_, sA, sD)) = fsWeights
    val thr = thresholdMbits.getOrElse(nA + bA + tA + sD)
    s"""WITH RECURSIVE parts AS (
          SELECT p_partkey AS pk, p_name AS nm, p_brand AS br,
                 p_type AS tp, p_size AS sz,
                 split_part(p_name, ' ', 1) || '|' || p_brand AS blk
          FROM part),
        scored AS (
          SELECT a.pk AS pk_a, b.pk AS pk_b,
                 CAST(CASE WHEN jaro_winkler_similarity(a.nm, b.nm) >= 0.9
                      THEN $nA ELSE $nD END
                    + CASE WHEN a.br = b.br THEN $bA ELSE $bD END
                    + CASE WHEN a.tp = b.tp THEN $tA ELSE $tD END
                    + CASE WHEN a.sz = b.sz THEN $sA ELSE $sD END
                   AS BIGINT) AS score_mbits
          FROM parts a JOIN parts b
            ON a.blk = b.blk AND a.pk < b.pk),
        m AS (SELECT pk_a, pk_b FROM scored
              WHERE score_mbits >= $thr),
        und AS (SELECT pk_a AS src, pk_b AS dst FROM m
                UNION ALL SELECT pk_b, pk_a FROM m),
        reach(id, r) AS (
          SELECT src, src FROM und
          UNION
          SELECT u.src, reach.r FROM und u JOIN reach ON u.dst = reach.id),
        lbl AS (SELECT id AS pk, min(r) AS entity FROM reach GROUP BY id)
        SELECT l.entity, CAST(count(*) AS BIGINT) AS n_records,
               CAST(count(DISTINCT p.nm) AS BIGINT) AS n_names,
               min(p.nm) AS sample_name
        FROM lbl l JOIN parts p ON p.pk = l.pk
        GROUP BY l.entity
        ORDER BY n_records DESC, entity"""
  }

  def fellegiSunterSql(topK: Int = 50): String =
    fellegiSunterSqlWithKey("split_part(p_name, ' ', 1)", topK)

  def fellegiSunterFineSql(topK: Int = 50): String =
    fellegiSunterSqlWithKey(
      "split_part(p_name, ' ', 1) || '|' || p_brand", topK)

  private def fellegiSunterSqlWithKey(blkSql: String, topK: Int): String = {
    val Seq((_, nA, nD), (_, bA, bD), (_, tA, tD), (_, sA, sD)) = fsWeights
    s"""WITH parts AS (
          SELECT p_partkey AS pk, p_name AS nm, p_brand AS br,
                 p_type AS tp, p_size AS sz,
                 $blkSql AS blk
          FROM part),
        scored AS (
          SELECT a.pk AS pk_a, b.pk AS pk_b,
                 CASE WHEN jaro_winkler_similarity(a.nm, b.nm) >= 0.9
                      THEN 1 ELSE 0 END AS ag_name,
                 CASE WHEN a.br = b.br THEN 1 ELSE 0 END AS ag_brand,
                 CASE WHEN a.tp = b.tp THEN 1 ELSE 0 END AS ag_type,
                 CASE WHEN a.sz = b.sz THEN 1 ELSE 0 END AS ag_size
          FROM parts a JOIN parts b
            ON a.blk = b.blk AND a.pk < b.pk)
        SELECT pk_a, pk_b,
               CAST(ag_name AS BIGINT) AS ag_name,
               CAST(ag_brand AS BIGINT) AS ag_brand,
               CAST(ag_type AS BIGINT) AS ag_type,
               CAST(ag_size AS BIGINT) AS ag_size,
               CAST(CASE WHEN ag_name = 1 THEN $nA ELSE $nD END
                  + CASE WHEN ag_brand = 1 THEN $bA ELSE $bD END
                  + CASE WHEN ag_type = 1 THEN $tA ELSE $tD END
                  + CASE WHEN ag_size = 1 THEN $sA ELSE $sD END
                 AS BIGINT) AS score_mbits
        FROM scored
        ORDER BY score_mbits DESC, pk_a, pk_b LIMIT $topK"""
  }

  /** Sorted-neighborhood candidate generation (Hernández & Stolfo,
    * SIGMOD 1995): sort the distinct-name vocabulary on its own
    * value and pair each name with its next `w−1` neighbors via
    * `lead` — the classic alternative to equality blocking, catching
    * near-duplicates that straddle a block boundary. Candidates are
    * verified with the native Jaro–Winkler kernel and kept at
    * ≥ `threshold`.
    *
    * Scale: the window runs over the DISTINCT-NAME domain
    * (vocabulary-sized — the same exemption family as the other ER
    * operators), never corpus rows; at corpus scale the sort becomes
    * the range-partitioned total order of [[graft.pipeline.SortedExport]]
    * and the window stays per-partition with a (w−1)-row boundary
    * exchange, which is how the multi-pass method is deployed in
    * practice.
    */
  def sortedNeighborhood(spark: SparkSession, dir: String,
      w: Int = 4, threshold: Double = 0.80): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val names = Tables.part(spark, dir).select($"p_name").distinct()
    val win = Window.orderBy($"p_name")
    val withLeads = names.select($"p_name".as("name_a") +:
      (1 until w).map(i => lead($"p_name", i).over(win).as(s"nb$i")): _*)
    val cand = withLeads.select($"name_a",
        explode(array((1 until w).map(i =>
          struct(col(s"nb$i").as("name_b"), lit(i.toLong).as("dist"))): _*))
          .as("c"))
      .select($"name_a", $"c.name_b", $"c.dist")
      .filter($"name_b".isNotNull)
    cand
      .withColumn("jw", call_function("jaro_winkler", $"name_a", $"name_b"))
      .filter($"jw" >= threshold)
      .select($"name_a", $"name_b", $"dist", round($"jw", 4).as("jw_sim"))
      .orderBy($"name_a", $"name_b")
  }

  def sortedNeighborhoodSql(w: Int = 4, threshold: Double = 0.80): String = {
    val leads = (1 until w).map(i =>
      s"lead(p_name, $i) OVER (ORDER BY p_name) AS nb$i").mkString(",\n                ")
    val arms = (1 until w).map(i =>
      s"SELECT name_a, nb$i AS name_b, CAST($i AS BIGINT) AS dist FROM leads WHERE nb$i IS NOT NULL")
      .mkString("\n         UNION ALL\n         ")
    s"""WITH names AS (SELECT DISTINCT p_name FROM part),
       leads AS (
         SELECT p_name AS name_a,
                $leads
         FROM names),
       cand AS (
         $arms)
       SELECT name_a, name_b, dist,
              round(jaro_winkler_similarity(name_a, name_b), 4) AS jw_sim
       FROM cand
       WHERE jaro_winkler_similarity(name_a, name_b) >= $threshold
       ORDER BY name_a, name_b"""
  }

  /** American Soundex as a pure column-expression chain (Russell &
    * Odell's 1918 patent algorithm, public domain; the recipe is the
    * standard one: digit-map with h/w deleted BEFORE run-collapsing —
    * that deletion IS the "same code separated by h/w merges" rule —
    * vowels kept as 0-separators, collapse runs, drop the first
    * letter's own run, strip zeros, pad to letter+3). Everything is
    * translate/regexp/substring built-ins, so the whole derivation
    * runs inside whole-stage codegen and restates verbatim in the
    * oracle.
    */
  private val sdxFrom = "abcdefgijklmnopqrstuvxyzhw" // h,w last → deleted
  private val sdxTo = "012301202245501262301202"

  def soundexCol(tok: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val code = translate(lower(tok), sdxFrom, sdxTo)
    val collapsed = (0 to 6).foldLeft(code)((c, d) =>
      regexp_replace(c, s"$d+", s"$d"))
    val first = lower(substring(tok, 1, 1))
    val body = when(first.isin("h", "w"), collapsed)
      .otherwise(substring(collapsed, 2, 1000000))
    concat(upper(first),
      substring(concat(regexp_replace(body, "0", ""), lit("000")), 1, 3))
  }

  /** The same derivation in DuckDB SQL over an expression `x`
    * (regexp_replace needs the 'g' flag there; translate deletion
    * semantics match).
    */
  def soundexSqlExpr(x: String): String = {
    val code = s"translate(lower($x), '$sdxFrom', '$sdxTo')"
    val collapsed = (0 to 6).foldLeft(code)((c, d) =>
      s"regexp_replace($c, '$d+', '$d', 'g')")
    s"""(upper(substring($x, 1, 1)) ||
        substring(replace(
          CASE WHEN lower(substring($x, 1, 1)) IN ('h', 'w')
               THEN $collapsed
               ELSE substring($collapsed, 2) END,
          '0', '') || '000', 1, 3))"""
  }

  /** Gate: phonetic block census over the distinct leading-token
    * vocabulary of part names — the blocking-key builder for ER at
    * scale (soundex collides spelling variants first-token equality
    * misses: smith/smyth, robert/rupert). The corpus collapses to
    * the token vocabulary BEFORE any soundex work, so the derivation
    * cost is vocabulary-sized and corpus-size-independent; the census
    * groups on the code domain.
    */
  def soundexBlocks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.part(spark, dir)
      .select(substring_index($"p_name", " ", 1).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("n"))
      .withColumn("sdx", soundexCol($"token"))
      .groupBy($"sdx")
      .agg(count(lit(1)).as("n_tokens"), sum($"n").as("n_names"),
        min($"token").as("sample_token"))
      .orderBy($"sdx")
  }

  def soundexBlocksSql: String = {
    val sdx = soundexSqlExpr("token")
    s"""WITH toks AS (
         SELECT split_part(p_name, ' ', 1) AS token,
                CAST(count(*) AS BIGINT) AS n
         FROM part GROUP BY 1),
       coded AS (SELECT token, n, $sdx AS sdx FROM toks)
       SELECT sdx, CAST(count(*) AS BIGINT) AS n_tokens,
              CAST(sum(n) AS BIGINT) AS n_names,
              min(token) AS sample_token
       FROM coded GROUP BY sdx ORDER BY sdx"""
  }

  /** Blocking-KEY SELECTION as code (r12 verdict item 6):
    * [[blockingQuality]] measures one key's trade; this operator
    * measures the MENU — first-token, soundex(first-token), and
    * their × brand composites — and picks the key a production run
    * should block on: the CHEAPEST (fewest within-block record
    * pairs, the number [[fellegiSunterOf]]'s budget guard cuts on)
    * among keys whose pairs-completeness clears `recallFloorPpm`;
    * if none clears it, the highest-recall key. Per key, one
    * block-sized census aggregate (never the pair join) plus one
    * vocabulary-domain retained-truth count; ground truth is the
    * un-blocked distinct-name pair set at `threshold`, affordable
    * exactly because it lives on the vocabulary² domain. Output is
    * one row per candidate key with the evidence (block census,
    * candidate pairs, reduction, recall) and a `chosen` flag — the
    * row to feed back into [[fellegiSunterOf]] as the valve.
    */
  def blockingKeySelect(spark: SparkSession, dir: String,
      threshold: Double = 0.9,
      recallFloorPpm: Long = 800000L): DataFrame = {
    import spark.implicits._
    blockingKeySelectOf(
      Tables.part(spark, dir).select($"p_partkey".as("pk"),
        $"p_name".as("nm"), $"p_brand".as("br")),
      threshold, recallFloorPpm)
  }

  /** Core over any (pk, nm, br) frame. */
  def blockingKeySelectOf(parts: DataFrame, threshold: Double,
      recallFloorPpm: Long): DataFrame = {
    val spark = parts.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.Column
    val tok = substring_index($"nm", " ", 1)
    val keys: Seq[(String, Column)] = Seq(
      "first_token" -> tok,
      "soundex" -> soundexCol(tok),
      "token_brand" -> concat(tok, lit("|"), $"br"),
      "soundex_brand" -> concat(soundexCol(tok), lit("|"), $"br"))
    val names = parts.select($"nm").distinct()
    val truth = names.select($"nm".as("na"))
      .join(broadcast(names.select($"nm".as("nb"))), $"na" < $"nb")
      .filter(call_function("jaro_winkler", $"na", $"nb") >= threshold)
      .localCheckpoint(true)
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    val allPairs = parts.agg(
      expr("count(1) * (count(1) - 1) div 2").as("all_pairs"))
    val perKey = keys.map { case (kn, kc) =>
      val census = parts.withColumn("k", kc).groupBy($"k")
        .agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_blocks"), max($"n").as("max_block"),
          coalesce(sum(expr("n * (n - 1) div 2")), lit(0L)).as("cand_pairs"))
      val nk = parts.select($"nm", kc.as("k")).distinct()
      val retained = truth
        .join(nk.select($"nm".as("na"), $"k"), Seq("na"))
        .join(nk.select($"nm".as("nb"), $"k"), Seq("nb", "k"))
        .select($"na", $"nb").distinct()
        .agg(count(lit(1)).as("retained"))
      census.crossJoin(retained).crossJoin(nTruth).crossJoin(allPairs)
        .select(lit(kn).as("key"), $"n_blocks", $"max_block",
          $"cand_pairs",
          expr("CASE WHEN all_pairs = 0 THEN 1000000L ELSE " +
            "((all_pairs - cand_pairs) * 1000000L) div all_pairs END")
            .as("reduction_ppm"),
          expr("CASE WHEN n_truth = 0 THEN 1000000L ELSE " +
            "(retained * 1000000L) div n_truth END").as("recall_ppm"))
    }.reduce(_.unionByName(_))
    // chosen: cheapest above the floor, else highest recall — the
    // winner comes off a lexicographic MIN-STRUCT aggregate + one-row
    // broadcast join (the q15_top_supplier device), so the 4-row key
    // menu never needs a window at all
    val meets = when($"recall_ppm" >= recallFloorPpm, 1L).otherwise(0L)
    val rankKey = when($"recall_ppm" >= recallFloorPpm, $"cand_pairs")
      .otherwise(lit(1000000L) - $"recall_ppm")
    val best = perKey
      .agg(min(struct((lit(1L) - meets).as("m"), rankKey.as("r"),
        $"cand_pairs".as("c"), $"key".as("k"))).as("b"))
      .select($"b.k".as("best_key"))
    perKey.crossJoin(broadcast(best))
      .withColumn("chosen", when($"key" === $"best_key", 1L).otherwise(0L))
      .drop("best_key")
      .orderBy($"key")
  }

  def blockingKeySelectSql(threshold: Double = 0.9,
      recallFloorPpm: Long = 800000L): String = {
    val sdx = soundexSqlExpr("split_part(nm, ' ', 1)")
    def arm(kn: String, kSql: String): String =
      s"""SELECT '$kn' AS key, cs.n_blocks, cs.max_block, cs.cand_pairs,
                 rt.retained
          FROM (
            SELECT CAST(count(*) AS BIGINT) AS n_blocks,
                   CAST(max(n) AS BIGINT) AS max_block,
                   CAST(coalesce(sum(n * (n - 1) // 2), 0) AS BIGINT)
                     AS cand_pairs
            FROM (SELECT $kSql AS k, CAST(count(*) AS BIGINT) AS n
                  FROM parts GROUP BY 1)) cs,
          (
            SELECT CAST(count(*) AS BIGINT) AS retained
            FROM (
              SELECT DISTINCT t.na, t.nb
              FROM truth t
              JOIN (SELECT DISTINCT nm, $kSql AS k FROM parts) x
                ON x.nm = t.na
              JOIN (SELECT DISTINCT nm, $kSql AS k FROM parts) y
                ON y.nm = t.nb AND y.k = x.k)) rt"""
    s"""WITH parts AS MATERIALIZED (
          SELECT p_partkey AS pk, p_name AS nm, p_brand AS br FROM part),
        names AS MATERIALIZED (SELECT DISTINCT nm FROM parts),
        truth AS MATERIALIZED (
          SELECT x.nm AS na, y.nm AS nb
          FROM names x JOIN names y ON x.nm < y.nm
          WHERE jaro_winkler_similarity(x.nm, y.nm) >= $threshold),
        tot AS MATERIALIZED (
          SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
        ap AS MATERIALIZED (
          SELECT CAST(count(*) * (count(*) - 1) // 2 AS BIGINT)
            AS all_pairs FROM parts),
        arms AS MATERIALIZED (
          ${arm("first_token", "split_part(nm, ' ', 1)")}
          UNION ALL
          ${arm("soundex", sdx)}
          UNION ALL
          ${arm("token_brand", "split_part(nm, ' ', 1) || '|' || br")}
          UNION ALL
          ${arm("soundex_brand", s"$sdx || '|' || br")}),
        scored AS MATERIALIZED (
          SELECT key, n_blocks, max_block, cand_pairs,
                 CAST(CASE WHEN all_pairs = 0 THEN 1000000
                      ELSE ((all_pairs - cand_pairs) * 1000000) // all_pairs
                      END AS BIGINT) AS reduction_ppm,
                 CAST(CASE WHEN n_truth = 0 THEN 1000000
                      ELSE (retained * 1000000) // n_truth
                      END AS BIGINT) AS recall_ppm
          FROM arms, tot, ap),
        ranked AS MATERIALIZED (
          SELECT *, row_number() OVER (ORDER BY
                   CASE WHEN recall_ppm >= $recallFloorPpm
                        THEN 1 ELSE 0 END DESC,
                   CASE WHEN recall_ppm >= $recallFloorPpm
                        THEN cand_pairs
                        ELSE 1000000 - recall_ppm END ASC,
                   cand_pairs ASC, key ASC) AS rk
          FROM scored)
        SELECT key, n_blocks, max_block, cand_pairs, reduction_ppm,
               recall_ppm,
               CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS BIGINT) AS chosen
        FROM ranked ORDER BY key"""
  }

  def jaroNamePairsSql(threshold: Double = 0.85): String =
    s"""WITH names AS (
          SELECT p_name, CAST(count(*) AS BIGINT) AS n
          FROM part GROUP BY 1),
        b AS (
          SELECT p_name, n, split_part(p_name, ' ', 1) AS blk FROM names)
        SELECT x.p_name AS name_a, y.p_name AS name_b,
               round(jaro_winkler_similarity(x.p_name, y.p_name), 4) AS jw_sim,
               x.n * y.n AS n_pairs
        FROM b x JOIN b y ON x.blk = y.blk AND x.p_name < y.p_name
        WHERE jaro_winkler_similarity(x.p_name, y.p_name) >= $threshold
        ORDER BY 1, 2"""
}
