package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extensions registering graft's native Catalyst functions
  * — the supported public extension point (no private[sql] access).
  * Activate with `.config("spark.sql.extensions",
  * "graft.functions.GraftExtensions")`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (children: Seq[Expression]) => RollingHash(children.head)))
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (children: Seq[Expression]) => VecDot(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("vec_cosine"),
      new ExpressionInfo(classOf[VecCosine].getName, "vec_cosine"),
      (children: Seq[Expression]) => VecCosine(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (children: Seq[Expression]) => SimHash64(children.head)))
    ext.injectFunction((
      FunctionIdentifier("minhash_sigs"),
      new ExpressionInfo(classOf[MinHashSigs].getName, "minhash_sigs"),
      (children: Seq[Expression]) => MinHashSigs(children.head)))
    // PQ kernels take the codebooks as a CONSTANT second argument,
    // folded at resolution time into the expression (never a per-row
    // child — a 1k-literal CreateArray evaluated per row would undo
    // the kernel's point)
    ext.injectFunction((
      FunctionIdentifier("pq_dtable"),
      new ExpressionInfo(classOf[PqDTable].getName, "pq_dtable"),
      (children: Seq[Expression]) => {
        require(children(1).foldable, "pq_dtable: books must be a constant")
        PqDTable(children.head, PqKernels.parseBooks(children(1).eval(null)))
      }))
    ext.injectFunction((
      FunctionIdentifier("pq_encode"),
      new ExpressionInfo(classOf[PqEncode].getName, "pq_encode"),
      (children: Seq[Expression]) => {
        require(children(1).foldable, "pq_encode: books must be a constant")
        PqEncode(children.head, PqKernels.parseBooks(children(1).eval(null)))
      }))
    ext.injectFunction((
      FunctionIdentifier("pq_adc"),
      new ExpressionInfo(classOf[PqAdc].getName, "pq_adc"),
      (children: Seq[Expression]) => PqAdc(children(0), children(1))))
    // BPE merge table: a constant folded into one reference object at
    // resolution time, same stance as the PQ codebooks
    ext.injectFunction((
      FunctionIdentifier("bpe_encode"),
      new ExpressionInfo(classOf[BpeEncode].getName, "bpe_encode"),
      (children: Seq[Expression]) => {
        require(children(1).foldable, "bpe_encode: merges must be a constant")
        BpeEncode(children.head, BpeKernels.parseMerges(children(1).eval(null)).toSeq)
      }))
    // Coarse-quantizer assignment: like the PQ kernels, the centroid
    // codebook and ids are CONSTANT arguments folded at resolution
    // time into one reference object — nlist can reach 10⁴–10⁵
    // without an O(nlist·dim)-literal expression tree
    ext.injectFunction((
      FunctionIdentifier("nearest_cells"),
      new ExpressionInfo(classOf[NearestCells].getName, "nearest_cells"),
      (children: Seq[Expression]) => {
        import org.apache.spark.sql.AnalysisException
        import org.apache.spark.sql.types.{ArrayType, ByteType, FloatType, IntegerType, LongType, ShortType}
        def raise(msg: String): Nothing =
          throw new AnalysisException("USER_RAISED_EXCEPTION",
            Map("errorMessage" -> msg))
        if (children.length != 4)
          raise("nearest_cells(embedding, centroids, ids, n)")
        def fail(what: String, got: Expression): Nothing =
          raise(s"nearest_cells: $what, got ${got.dataType.sql}")
        if (!(children(1).foldable && children(2).foldable && children(3).foldable))
          raise("nearest_cells: centroids, ids, n must be constants")
        // validate at analysis time — parseCents reads getFloat, so an
        // array<array<double>> centroid literal would otherwise die at
        // eval with a bare ClassCastException
        children(1).dataType match {
          case ArrayType(ArrayType(FloatType, _), _) => ()
          case _ => fail("centroids must be array<array<float>>", children(1))
        }
        children(2).dataType match {
          case ArrayType(LongType, _) => ()
          case _ => fail("ids must be array<bigint>", children(2))
        }
        children(3).dataType match {
          case ByteType | ShortType | IntegerType | LongType => ()
          case _ => fail("n must be integral", children(3))
        }
        NearestCells(children.head,
          CellAssign.parseCents(children(1).eval(null)),
          CellAssign.parseIds(children(2).eval(null)),
          children(3).eval(null).asInstanceOf[Number].intValue)
      }))
    // Threshold k folds at resolution time — a constant of the verify
    // join, never a per-row child
    ext.injectFunction((
      FunctionIdentifier("lev_bounded"),
      new ExpressionInfo(classOf[LevBounded].getName, "lev_bounded"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "lev_bounded(a, b, k)")
        require(children(2).foldable, "lev_bounded: k must be a constant")
        LevBounded(children(0), children(1),
          children(2).eval(null).asInstanceOf[Number].intValue)
      }))
    ext.injectFunction((
      FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "jaro_winkler(a, b)")
        JaroWinkler(children(0), children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("dtw"),
      new ExpressionInfo(classOf[Dtw].getName, "dtw"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "dtw(a, b)")
        Dtw(children(0), children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("ss_topk"),
      new ExpressionInfo(classOf[SpaceSavingTopK].getName, "ss_topk"),
      (children: Seq[Expression]) =>
        SpaceSavingTopK(children(0), children(1), children(2))
          .toAggregateExpression()))
    ext.injectFunction((
      FunctionIdentifier("topk_by"),
      new ExpressionInfo(classOf[TopKBy].getName, "topk_by"),
      (children: Seq[Expression]) =>
        TopKBy(children(0), children(1), children(2))
          .toAggregateExpression()))
    // Spark's own bloom-filter expression pair (the machinery behind
    // runtime-filter joins), surfaced as SQL functions so incremental
    // dedup can build/probe corpus-fingerprint filters declaratively:
    // bloom_agg(xxhash64(key)[, estItems]) → binary sketch;
    // bloom_might_contain(<constant sketch>, xxhash64(key)) → boolean.
    ext.injectFunction((
      FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_agg"),
      (children: Seq[Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.Cast
        import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
        import org.apache.spark.sql.types.LongType
        // the aggregate demands BIGINT constants for items/bits, but
        // SQL integer literals arrive as INT — fold a cast in (stays
        // foldable, so the constant check still passes)
        def asLong(e: Expression): Expression =
          if (e.dataType == LongType) e else Cast(e, LongType)
        val agg = children match {
          case Seq(c) => new BloomFilterAggregate(c)
          case Seq(c, items) => new BloomFilterAggregate(c, asLong(items))
          case Seq(c, items, bits) =>
            new BloomFilterAggregate(c, asLong(items), asLong(bits))
          case _ => throw new IllegalArgumentException(
            s"bloom_agg expects 1-3 arguments, got ${children.size}")
        }
        agg.toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "bloom_might_contain"),
      (children: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children(0), children(1))))
  }
}

object GraftExtensions {
  val NAME = "graft.functions.GraftExtensions"
}
