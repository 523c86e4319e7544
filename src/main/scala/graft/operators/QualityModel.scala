package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Model-based quality filtering — the hashed bag-of-words linear
  * classifier shape modern curation pipelines run after the rule
  * battery (the CCNet/LLaMA fastText language-quality filter, DCLM's
  * quality classifier): tokens hash into D weight buckets, the
  * document's score is the sum of its tokens' weights, and a
  * threshold decides keep/drop.
  *
  * The WEIGHTS here are a deterministic stand-in (a pure function of
  * the bucket — no trained artifact ships in this container; same
  * stance as the multimodal decode stub and the IVF quantizer
  * stand-in). Everything else is the real mechanism, and a trained
  * model drops in by replacing [[weightCol]] with a lookup into a
  * broadcast weight array: hashing, bucketing, and the per-document
  * aggregation are unchanged.
  *
  * Shape at 100 TB: tokens explode map-side, the bucket is the same
  * portable md5 device as Sampling.bucket (exact in both engines —
  * xxhash64 has no DuckDB twin), the weight is integer arithmetic on
  * the bucket (no join, no lookup table in the stand-in), and the
  * only exchange is the per-doc partial-aggregated sum — the same
  * budget as token counting. Integer weights make the sum order-free,
  * which is what keeps the gate hash-exact.
  */
object QualityModel {

  val D = 1 << 16

  /** Bucket 0..D-1 of a token — md5-derived like Sampling.bucket, so
    * the oracle recomputes it exactly.
    */
  def bucketCol(token: Column): Column =
    conv(substring(md5(token), 1, 7), 16, 10).cast("long") % D

  /** Stand-in weight: integer in [-3, 3], a pure function of the
    * bucket (≈ zero-mean over buckets). A trained model replaces this
    * with element_at(<broadcast weights>, bucket + 1).
    */
  def weightCol(bucket: Column): Column = bucket % 7 - lit(3L)

  /** (doc_id, n_tokens, score, keep) — keep when the summed weight is
    * non-negative.
    */
  def score(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select($"doc_id", explode(Dedup.tokensCol($"text")).as("tok"))
      .select($"doc_id", weightCol(bucketCol($"tok")).as("w"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum($"w").as("score"))
      .select($"doc_id", $"n_tokens", $"score",
        when($"score" >= 0, 1L).otherwise(0L).as("keep"))
  }

  def scoreDocuments(spark: SparkSession, dir: String): DataFrame =
    score(Tables.documents(spark, dir))

  def scoreDocumentsSql: String =
    s"""WITH toks AS (
          SELECT doc_id,
                 unnest(list_filter(list_transform(
                   string_split(trim(text), ' '), x -> trim(x)),
                   x -> length(x) > 0)) AS tok
          FROM documents),
        w AS (
          SELECT doc_id,
                 (('0x' || substr(md5(tok), 1, 7))::BIGINT % $D) % 7 - 3 AS w
          FROM toks)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(w) AS BIGINT) AS score,
               CAST(CASE WHEN sum(w) >= 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
        FROM w GROUP BY doc_id"""
}
