package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Span-level duplication analysis over token k-grams — the
  * substring-dedup family of Lee et al. 2022 ("Deduplicating
  * Training Data Makes Language Models Better"): a duplicated SPAN
  * inside an otherwise-unique document is invisible to whole-doc
  * dedup (exact, minhash, simhash all hash the full text) but still
  * burns training tokens and amplifies memorization. Reference
  * analogue: the dedup step of task.py:43-120 works at whole-row
  * granularity; this family is the sub-document refinement of it.
  *
  * Positions are 1-based indices into the FILTERED token list
  * (empties dropped), so gram construction is pure array arithmetic
  * on the scan — zero shuffles until the signature aggregate.
  *
  * Scale posture: every downstream key is a 60-bit md5-derived long
  * ([[Spans.md5Long]]), so the hot shuffle moves (doc_id, pos, h)
  * triples — never gram text. The hash family is re-derived
  * value-for-value in DuckDB (same stance as the minhash gates), so
  * the gates stay exact rather than "equal modulo collisions".
  */
object Spans {

  /** Span gram width. 5 tokens ≈ the shortest span worth calling a
    * duplicate (k=3 marks ~38% of the synthetic corpus duplicated —
    * noise; k=5 lands at ~5%, the shape of a real near-dup tail).
    */
  val K = 5

  /** 60-bit long from the md5 hex prefix — DuckDB-derivable
    * (`('0x' || substr(md5(x),1,15))::BIGINT`), shared by every
    * hash-keyed gate in this file.
    */
  def md5Long(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** (doc_id, source, pos, gram) — one row per k-gram INSTANCE
    * (positions matter here, unlike [[Dedup.shinglePostings]] which
    * deduplicates shingles per doc). Array-path construction: the
    * per-row transform keeps gram building on the scan with zero
    * shuffles; the `size >= K` guard keeps `sequence` ascending.
    */
  def spanPostingsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val toks = Dedup.tokensCol($"text")
    docs
      .select($"doc_id", $"source", toks.as("t"))
      .where(size($"t") >= K)
      .select($"doc_id", $"source", explode(transform(
        sequence(lit(1), size($"t") - lit(K - 1)),
        i => struct(i.as("pos"),
          concat_ws(" ", slice($"t", i, lit(K))).as("gram")))).as("pg"))
      .select($"doc_id", $"source", $"pg.pos".as("pos"), $"pg.gram".as("gram"))
  }

  /** #28c per-document duplicated-span report: of a doc's k-gram
    * instances, how many are repeats of a gram already seen earlier
    * in the corpus (earlier = smaller (doc_id, pos), the keep-first
    * rule every dedup gate here uses)? `dup_instances` counts the
    * instances span-removal would delete; `dup_ratio` is the doc's
    * duplicated fraction — the curation signal (drop or trim docs
    * above a threshold).
    *
    * Plan: one window shuffle on the 8-byte gram key ranks each
    * instance within its gram (rn=1 ⇔ the corpus-first instance),
    * then one partial-agg'd groupBy(doc_id) folds the flags into
    * per-doc counts. The corpus text itself never shuffles — only
    * (doc_id, pos, h) triples do. Docs with fewer than K tokens
    * surface with zero counts via the left join (complete report,
    * not just the gram-bearing slice).
    */
  def spanDedup(spark: SparkSession, dir: String): DataFrame =
    spanDedupOf(Tables.documents(spark, dir))

  def spanDedupOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val keyed = spanPostingsOf(docs)
      .select($"doc_id", $"pos", md5Long($"gram").as("h"))
    val w = Window.partitionBy($"h").orderBy($"doc_id", $"pos")
    val perDoc = keyed
      .withColumn("rn", row_number().over(w))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("g"),
        sum(when($"rn" > 1, 1L).otherwise(0L)).as("d"))
    docs.select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"g", lit(0L)).as("n_grams"),
        coalesce($"d", lit(0L)).as("dup_instances"),
        coalesce(round($"d".cast("double") / $"g", 4), lit(0.0))
          .as("dup_ratio"))
  }

  val spanDedupSql: String =
    s"""WITH toks AS (
          SELECT doc_id,
                 list_filter(list_transform(string_split(trim(text), ' '),
                             x -> trim(x)), x -> length(x) > 0) AS t
          FROM documents),
        grams AS (
          SELECT doc_id,
                 unnest([{'pos': i,
                          'h': ('0x' || substr(md5(array_to_string(t[i:i+${K - 1}], ' ')), 1, 15))::BIGINT}
                         for i in range(1, len(t) - ${K - 2})],
                        recursive := true)
          FROM toks WHERE len(t) >= $K),
        ranked AS (
          SELECT doc_id,
                 row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
          FROM grams),
        per_doc AS (
          SELECT doc_id, count(*) AS g,
                 CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS d
          FROM ranked GROUP BY doc_id)
        SELECT doc_id,
               coalesce(g, 0) AS n_grams,
               coalesce(d, 0) AS dup_instances,
               coalesce(round(CAST(d AS DOUBLE) / g, 4), 0.0) AS dup_ratio
        FROM documents LEFT JOIN per_doc USING (doc_id)"""

  /** #28d cross-source overlap matrix: for every pair of sources,
    * how many distinct k-grams they share, and the containment of
    * the smaller source in the larger — the corpus-composition
    * diagnostic run before mixing crawls (a high-containment pair
    * means one source is largely a re-crawl of the other, and
    * whole-doc dedup across them will be load-bearing).
    *
    * Plan: distinct (source, h) first — the matrix is computed over
    * source-level gram SETS, so the per-instance stream collapses
    * before any join. The self-join fanout per gram is bounded by
    * the number of sources carrying it (≤ #sources, thousands at
    * most — never corpus-shaped), and the per-source gram counts
    * broadcast onto the pair aggregate.
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame =
    sourceOverlapOf(Tables.documents(spark, dir))

  /** Chooses the bitmask path when the source list fits a long's
    * bits, the pair self-join otherwise. Both produce identical
    * matrices (SpansSpec pins the equivalence).
    */
  def sourceOverlapOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val srcs = docs.select($"source").distinct()
      .orderBy($"source").collect().map(_.getString(0)) // metadata-scale
    if (srcs.length <= 62) sourceOverlapBitmaskOf(docs, srcs)
    else sourceOverlapPairsOf(docs)
  }

  /** Bitmask path: each gram aggregates to ONE row carrying the
    * bit-or of its sources' bit indices, the mask histogram (≤
    * distinct-mask rows — tiny against the gram stream whenever
    * sources co-occur in patterns, which is exactly when the pair
    * join blows up) is crossed with the CONSTANT i<j pair list, and
    * pair counts sum per (i, j). Worst case matches the pair join's
    * Σ sources-per-gram²; the typical case collapses it to one
    * bit_or aggregate. Source names ride literal maps both ways —
    * nothing driver-sized moves.
    */
  private[graft] def sourceOverlapBitmaskOf(docs: DataFrame,
      srcs: Array[String]): DataFrame = {
    import docs.sparkSession.implicits._
    val sg = spanPostingsOf(docs)
      .select($"source", md5Long($"gram").as("h")).distinct()
    val perSrc = sg.groupBy($"source").agg(count(lit(1)).as("n"))
    val srcIdx = map(srcs.zipWithIndex.flatMap { case (s, i) =>
      Seq(lit(s), lit(i)) }.toSeq: _*)
    val idxSrc = map(srcs.zipWithIndex.flatMap { case (s, i) =>
      Seq(lit(i), lit(s)) }.toSeq: _*)
    val maskHist = sg
      .select($"h", call_function("shiftleft", lit(1L),
        element_at(srcIdx, $"source")).as("bit"))
      .groupBy($"h").agg(call_function("bit_or", $"bit").as("mask"))
      .groupBy($"mask").agg(count(lit(1)).as("cnt"))
    val pairList = array((for {
      i <- srcs.indices; j <- (i + 1) until srcs.length
    } yield struct(lit(i).as("i"), lit(j).as("j"))): _*)
    val pairs = maskHist
      .select($"cnt", explode(filter(pairList, p =>
        $"mask".bitwiseAND(call_function("shiftleft", lit(1L), p("i"))) =!= 0 &&
          $"mask".bitwiseAND(call_function("shiftleft", lit(1L), p("j"))) =!= 0))
        .as("p"))
      .groupBy(element_at(idxSrc, $"p.i").as("source_a"),
        element_at(idxSrc, $"p.j").as("source_b"))
      .agg(sum($"cnt").as("shared_grams"))
    withContainment(pairs, perSrc)
  }

  /** Pair-join path for >62 sources: per-gram source self-join. */
  private[graft] def sourceOverlapPairsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val sg = spanPostingsOf(docs)
      .select($"source", md5Long($"gram").as("h")).distinct()
    val perSrc = sg.groupBy($"source").agg(count(lit(1)).as("n"))
    val pairs = sg.as("a").join(sg.as("b"), Seq("h"))
      .filter($"a.source" < $"b.source")
      .groupBy($"a.source".as("source_a"), $"b.source".as("source_b"))
      .agg(count(lit(1)).as("shared_grams"))
    withContainment(pairs, perSrc)
  }

  private def withContainment(pairs: DataFrame, perSrc: DataFrame): DataFrame = {
    import pairs.sparkSession.implicits._
    pairs
      .join(broadcast(perSrc.select($"source".as("source_a"), $"n".as("grams_a"))),
        Seq("source_a"))
      .join(broadcast(perSrc.select($"source".as("source_b"), $"n".as("grams_b"))),
        Seq("source_b"))
      .select($"source_a", $"source_b", $"grams_a", $"grams_b",
        $"shared_grams",
        round($"shared_grams".cast("double") / least($"grams_a", $"grams_b"), 4)
          .as("containment"))
  }

  val sourceOverlapSql: String =
    s"""WITH toks AS (
          SELECT doc_id, source,
                 list_filter(list_transform(string_split(trim(text), ' '),
                             x -> trim(x)), x -> length(x) > 0) AS t
          FROM documents),
        sg AS (
          SELECT DISTINCT source,
                 ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
          FROM (SELECT source,
                       unnest([array_to_string(t[i:i+${K - 1}], ' ')
                               for i in range(1, len(t) - ${K - 2})]) AS g
                FROM toks WHERE len(t) >= $K)),
        per_src AS (
          SELECT source, count(*) AS n FROM sg GROUP BY source),
        pairs AS (
          SELECT a.source AS source_a, b.source AS source_b,
                 CAST(count(*) AS BIGINT) AS shared_grams
          FROM sg a JOIN sg b ON a.h = b.h AND a.source < b.source
          GROUP BY a.source, b.source)
        SELECT source_a, source_b,
               pa.n AS grams_a, pb.n AS grams_b, shared_grams,
               round(CAST(shared_grams AS DOUBLE) / least(pa.n, pb.n), 4)
                 AS containment
        FROM pairs
        JOIN per_src pa ON pa.source = pairs.source_a
        JOIN per_src pb ON pb.source = pairs.source_b"""
}
