package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** #30 SimHash near-duplicate detection: 64-bit token-weighted
  * fingerprint + pigeonhole-banded Hamming join.
  *
  * Pair search splits the 64-bit fingerprint into 4×16-bit chunks:
  * Hamming distance ≤ 3 guarantees at least one chunk matches
  * (pigeonhole), so the join key is a chunk value and the quadratic
  * blow-up is confined to same-chunk buckets.
  *
  * Token hash bits come from the token's md5 hex digits (bit i =
  * bit i%4 of digit i/4) — one digest per token row, every step
  * reproducible in ANSI SQL, so the DuckDB oracle re-derives the
  * full pipeline and the gate is hash-exact instead of rows-only.
  */
object SimHash {

  /** shiftright/shiftleft with a Column shift amount (the Scala DSL
    * overloads only take Int; the SQL functions take expressions).
    */
  private def shr(c: Column, n: Column): Column = call_function("shiftright", c, n)
  private def shl(c: Column, n: Column): Column = call_function("shiftleft", c, n)

  /** 64-bit SimHash of a token array: bit i is set when
    * Σ_tokens (±1 by md5-digit bit i) > 0.
    *
    * Kept as the reference column form (interpreted higher-order
    * functions) for small/ad-hoc frames; [[fingerprints]] uses the
    * codegen explode+aggregate form for corpus-scale runs.
    */
  def simhashCol(tokens: Column): Column = {
    val sums = aggregate(
      tokens,
      array_repeat(lit(0L), 64),
      (acc, t) => zip_with(acc, sequence(lit(0), lit(63)), (a, i) => {
        val digit = conv(call_function("substring", md5(t), i / 4 + 1, lit(1)),
          16, 10).cast("long")
        a + when(shr(digit, i % 4).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)
      }))
    aggregate(
      zip_with(sums, sequence(lit(0), lit(63)), (s, i) =>
        when(s > 0, shl(lit(1L), i)).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc.bitwiseOR(v))
  }

  /** (doc_id, simhash) fingerprints via the native per-row kernel
    * (graft.functions.SimHash64): the raw space-split token array
    * (codegen `split`, no higher-order functions) feeds one kernel
    * call per document — fingerprinting is a pure scan with ZERO
    * exchanges. Token-less docs are dropped (they'd all collide at
    * fingerprint 0 and flood the pair stage with garbage); `≥1
    * token` ⇔ trimmed text non-empty, since tokens are space-split.
    * Matches simhashCol and [[fingerprintsAgg]] bit-for-bit.
    */
  def fingerprints(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.documents(spark, dir)
      .filter(length(trim($"text")) > 0)
      .select($"doc_id",
        call_function("simhash64", split(trim($"text"), " ")).as("simhash"))
  }

  /** The previous explode + 64-`sum(±1)`-aggregate formulation (one
    * doc_id shuffle, map-side partial agg) — kept as the
    * column-API reference the kernel is cross-validated against in
    * SimHashSpec.
    */
  def fingerprintsAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val digitCols = (0 until 16).map(j =>
      conv(substring($"hx", j + 1, 1), 16, 10).cast("long").as(s"d$j"))
    val toks = Dedup.tokenRows(spark, dir)
      .select($"doc_id", md5($"token").as("hx"))
      .select($"doc_id" +: digitCols: _*)
    val aggs = (0 until 64).map { i =>
      sum(when(shiftright(col(s"d${i / 4}"), i % 4).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"b$i")
    }
    toks.groupBy($"doc_id").agg(aggs.head, aggs.tail: _*)
      .select($"doc_id",
        (0 until 64).map(i =>
          when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b)).as("simhash"))
  }

  /** Near-dup pairs with Hamming distance ≤ maxDist. The 4×16-bit
    * pigeonhole banding is complete only for maxDist ≤ 3 (4 flipped
    * bits can land one per chunk and share nothing) — enforced, not
    * documented away.
    */
  def nearDuplicates(spark: SparkSession, dir: String): DataFrame =
    nearDuplicatesFrom(fingerprints(spark, dir), maxDist = 3)

  def nearDuplicatesFrom(fps: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist <= 3,
      s"4-chunk banding is only complete for maxDist <= 3, got $maxDist")
    import fps.sparkSession.implicits._
    val chunks = fps.select($"doc_id", $"simhash", posexplode(
        transform(sequence(lit(0), lit(3)), c =>
          shr($"simhash", c * 16).bitwiseAND(lit(0xffffL)))))
      .withColumnRenamed("pos", "chunk_idx")
      .withColumnRenamed("col", "chunk")
    chunks.as("x").join(chunks.as("y"),
        $"x.chunk_idx" === $"y.chunk_idx" && $"x.chunk" === $"y.chunk" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"),
        bit_count($"x.simhash".bitwiseXOR($"y.simhash")).cast("long").as("hamming"))
      .distinct()
      .filter($"hamming" <= maxDist)
      .orderBy($"doc_a", $"doc_b")
  }

  /** Full-pipeline DuckDB oracle. DuckDB refuses `1::BIGINT << 63`,
    * so instead of packing a 64-bit fingerprint it keeps the 64 sign
    * bits relational (doc_id, i, b) and derives the 16-bit chunk keys
    * and the Hamming distance directly from them — same candidate
    * set, same output.
    */
  val nearDuplicatesSql: String =
    """WITH toks AS (
         SELECT doc_id,
                unnest(list_filter(list_transform(string_split(trim(text), ' '),
                                                  x -> trim(x)),
                                   x -> length(x) > 0)) AS token
         FROM documents),
       hx AS (SELECT doc_id, md5(token) AS hx FROM toks),
       bits AS (
         SELECT doc_id, i,
                CASE WHEN sum(CASE WHEN (('0x' || substr(hx, (i // 4) + 1, 1))::BIGINT
                                         >> (i % 4)) & 1 = 1
                              THEN 1 ELSE -1 END) > 0
                     THEN 1 ELSE 0 END AS b
         FROM hx CROSS JOIN range(64) t(i)
         GROUP BY doc_id, i),
       chunks AS (
         SELECT doc_id, i // 16 AS chunk_idx,
                sum(b << (i % 16)) AS chunk
         FROM bits GROUP BY doc_id, i // 16),
       cand AS (
         SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM chunks x JOIN chunks y
           ON x.chunk_idx = y.chunk_idx AND x.chunk = y.chunk
              AND x.doc_id < y.doc_id),
       ham AS (
         SELECT c.doc_a, c.doc_b,
                CAST(sum(CASE WHEN a.b <> b.b THEN 1 ELSE 0 END) AS BIGINT) AS hamming
         FROM cand c
         JOIN bits a ON a.doc_id = c.doc_a
         JOIN bits b ON b.doc_id = c.doc_b AND b.i = a.i
         GROUP BY c.doc_a, c.doc_b)
       SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 3"""
}
