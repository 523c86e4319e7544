package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftinternal.PlanBridge

/** Byte-pair-encoding tokenizer TRAINING and ENCODE as Spark plans —
  * the real subword-vocabulary loop an LLM data pipeline runs over
  * its corpus (Sennrich et al., ACL 2016; the GPT-2/BPE lineage),
  * not just the one-shot pair census of
  * [[TextAnalysis.bpePairs]].
  *
  * Scale shape: training never touches corpus rows after ONE
  * word-count aggregation — the loop state is the WORD-FREQUENCY
  * vocabulary (orders smaller than the corpus; the classic trainer
  * trick), each round is (pair census over vocabulary → one-row
  * top-1 collect → array-fold merge rewrite), and every round
  * localCheckpoints the vocabulary so plan lineage stays O(1) in
  * rounds (the [[Graph]] iteration device). Encoding is a single
  * map-side pass: the learned merge table rides as ONE reference
  * object inside the native `bpe_encode` kernel
  * ([[graft.functions.BpeKernels]]) — plan size O(1) in merges,
  * whole-stage codegen intact, no join against a merge table.
  *
  * No SQL oracle exists for a data-dependent training loop, so both
  * gates are declared rows-only; BpeSpec replays the exact merge
  * sequence and encode with an independent in-memory reference.
  */
object Bpe {

  /** Word-frequency vocabulary — the only corpus-sized pass. */
  def vocab(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(explode(split(trim($"text"), " +")).as("w"))
      .filter(length($"w") > 0)
      .groupBy($"w").agg(count(lit(1)).as("f"))
  }

  /** One exhaustive left-to-right non-overlapping merge of the
    * adjacent pair (a, b) over a symbol array, as a codegen'd
    * array fold — the training-side rewrite the encode kernel
    * replays.
    */
  def mergeAdjacent(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 && element_at(acc, -1) === a && x === b,
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  final case class Merge(rank: Int, left: String, right: String,
      merged: String, freq: Long)

  /** The training loop: k rounds of (adjacent-pair census over the
    * vocabulary, weighted by word frequency; deterministic top-1 —
    * freq DESC, then lexicographic; fold-rewrite the vocabulary).
    * Stops early when the best pair drops below minFreq.
    */
  def trainMerges(spark: SparkSession, dir: String, k: Int = 24,
      minFreq: Long = 2L): Seq[Merge] = {
    import spark.implicits._
    // the rounds run on the caller's session: AQE coalescing sizes
    // their shuffles over the vocabulary frame (distinct words × freq)
    var words = vocab(Tables.documents(spark, dir))
      .select($"f", expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))")
        .as("syms"))
      .localCheckpoint(true)
    val out = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var rank = 1
    var done = false
    while (rank <= k && !done) {
      val top = words.filter(size($"syms") >= 2)
        .select($"f", explode(expr(
          """transform(sequence(1, size(syms) - 1),
             i -> named_struct('a', element_at(syms, i),
                               'b', element_at(syms, i + 1)))""")).as("p"))
        .groupBy($"p.a".as("a"), $"p.b".as("b"))
        .agg(sum($"f").as("freq"))
        .orderBy($"freq".desc, $"a", $"b")
        .limit(1).collect()
      if (top.isEmpty || top(0).getLong(2) < minFreq) done = true
      else {
        val (a, b, f) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        val next = words
          .withColumn("syms", mergeAdjacent($"syms", a, b))
          .localCheckpoint(true)
        // release the PREVIOUS round's checkpoint blocks by handle —
        // Dataset.unpersist only clears CacheManager entries, which a
        // localCheckpoint never has, so the old spelling leaked every
        // round's blocks until GC (r16 ADVICE item)
        PlanBridge.unpersistCheckpoint(words)
        words = next
        out += Merge(rank, a, b, a + b, f)
        rank += 1
      }
    }
    PlanBridge.unpersistCheckpoint(words)
    out.toSeq
  }

  /** Gate: the learned merge table. Deterministic — rows-only only
    * because SQL cannot express the loop; BpeSpec replays it exactly.
    */
  def train(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    trainMerges(spark, dir).toDF()
      .select($"rank".cast("long").as("rank"), $"left", $"right",
        $"merged", $"freq")
      .orderBy($"rank")
  }

  /** Gate: corpus encode under a 16-merge learned tokenizer — one
    * map-side kernel pass; per-doc subword statistics.
    */
  def encodeDocuments(spark: SparkSession, dir: String,
      k: Int = 16): DataFrame = {
    import spark.implicits._
    val merges = trainMerges(spark, dir, k)
    val mergesLit = typedLit(merges.map(m => Seq(m.left, m.right)))
    val words = filter(split(trim($"text"), " +"), w => length(w) > 0)
    val toks = flatten(transform(words,
      w => call_function("bpe_encode", w, mergesLit)))
    Tables.documents(spark, dir)
      .select($"doc_id", size(words).cast("long").as("n_words"),
        size(toks).cast("long").as("n_bpe"),
        size(array_distinct(toks)).cast("long").as("n_bpe_distinct"))
      .orderBy($"doc_id")
  }
}
