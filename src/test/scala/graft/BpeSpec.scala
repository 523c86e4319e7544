package graft

import graft.operators.Bpe
import graft.functions.BpeKernels
import org.apache.spark.sql.functions._

/** The BPE trainer/encoder against an independent in-memory
  * reference: the reference re-implements the Sennrich loop directly
  * on a word-count map (no Spark, no shared code with the operator),
  * so the distributed devices — vocabulary-state loop, array-fold
  * merge, kernel encode — are checked against the textbook
  * algorithm.
  */
class BpeSpec extends SparkSpec {

  private def atoms(w: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.result()
  }

  private def mergeLR(syms: Vector[String], a: String, b: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += a + b; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Textbook trainer on a word-count map. */
  private def referenceTrain(counts: Map[String, Long], k: Int,
      minFreq: Long): Seq[(String, String, Long)] = {
    var words: Map[Vector[String], Long] =
      counts.map { case (w, f) => atoms(w) -> f }
    val out = Seq.newBuilder[(String, String, Long)]
    var r = 0
    var done = false
    while (r < k && !done) {
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          pairs(p) = pairs.getOrElse(p, 0L) + f
          i += 1
        }
      }
      if (pairs.isEmpty) done = true
      else {
        val ((a, b), f) = pairs.minBy { case ((a, b), f) => (-f, a, b) }
        if (f < minFreq) done = true
        else {
          words = words.toSeq.map { case (syms, c) => (mergeLR(syms, a, b), c) }
            .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sum }
          out += ((a, b, f))
          r += 1
        }
      }
    }
    out.result()
  }

  test("trainer replays the textbook merge sequence exactly") {
    import spark.implicits._
    val counts = Bpe.vocab(Tables.documents(spark, SF))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = referenceTrain(counts, k = 24, minFreq = 2L)
    val got = Bpe.trainMerges(spark, SF, k = 24, minFreq = 2L)
      .map(m => (m.left, m.right, m.freq))
    assert(got == expect,
      s"first divergence at ${got.zip(expect).indexWhere(p => p._1 != p._2)}:" +
        s"\n got=$got\n exp=$expect")
    assert(got.nonEmpty)
  }

  test("kernel encode == training-fold replay on every corpus word") {
    import spark.implicits._
    val merges = Bpe.trainMerges(spark, SF, k = 16)
    val ranked = merges.map(m => (m.left, m.right))
    val kernel = new BpeKernels.Merges(ranked.toArray)
    // reference: apply each merge exhaustively L-to-R in rank order
    def refEncode(w: String): Vector[String] =
      ranked.foldLeft(atoms(w)) { case (s, (a, b)) => mergeLR(s, a, b) }
    val words = Bpe.vocab(Tables.documents(spark, SF))
      .collect().map(_.getString(0))
    words.foreach { w =>
      assert(kernel.encodeWord(w).toVector == refEncode(w), s"word '$w'")
    }
  }

  test("encode gate's token accounting matches a driver-side re-count") {
    import spark.implicits._
    val k = 16
    val merges = Bpe.trainMerges(spark, SF, k)
    val ranked = merges.map(m => (m.left, m.right))
    def refEncode(w: String): Vector[String] =
      ranked.foldLeft(atoms(w)) { case (s, (a, b)) => mergeLR(s, a, b) }
    val gate = operators.Bpe.encodeDocuments(spark, SF, k).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val docs = Tables.documents(spark, SF).select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    docs.foreach { case (id, text) =>
      val ws = text.trim.split(" +").filter(_.nonEmpty).toSeq
      val toks = ws.flatMap(refEncode)
      val (nw, nb, nd) = gate(id)
      assert(nw == ws.length, s"doc $id n_words")
      assert(nb == toks.length, s"doc $id n_bpe")
      assert(nd == toks.distinct.length, s"doc $id n_bpe_distinct")
    }
  }

  test("trainer releases every vocabulary checkpoint it makes") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    assert(Bpe.trainMerges(spark, SF, k = 4).nonEmpty)
    val left = sc.getPersistentRDDs.keySet.toSet -- before
    assert(left.isEmpty, s"persisted RDDs left by trainMerges: $left")
  }

  test("merges compress: encoded corpus is shorter than its characters") {
    val merges = Bpe.trainMerges(spark, SF, k = 16)
    assert(merges.nonEmpty && merges.head.freq >= merges.last.freq,
      "merge frequencies are non-increasing in rank order under greedy selection")
  }
}
