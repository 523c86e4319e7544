package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Per-row cost of graft's native SQL functions (`functions/`), timed
  * as SQL selects over the workload's documents and embeddings. Each
  * input is copied up to a fixed row count and cached first. Each select
  * is timed next to a select that only reads the same arguments. The
  * difference of the fastest of [[Reps]] repetitions of each is divided
  * by the row count: noise only ever adds time.
  */
object Kernels {

  val Reps = 5

  /** function → (expression, an O(1) read of its arguments, input view) */
  val Selects: Seq[(String, String, String, String)] = Seq(
    ("minhash_sigs", "minhash_sigs(toks)", "size(toks)", "pb_toks"),
    ("simhash64", "simhash64(toks)", "size(toks)", "pb_toks"),
    ("lev_bounded", "lev_bounded(a, b, 8)", "octet_length(a) + octet_length(b)", "pb_strs"),
    ("jaro_winkler", "jaro_winkler(a, b)", "octet_length(a) + octet_length(b)", "pb_strs"),
    ("rolling_hash", "rolling_hash(s)", "octet_length(s)", "pb_strs"),
    ("vec_cosine", "vec_cosine(u, v)", "size(u) + size(v)", "pb_vecs"))

  def measure(spark: SparkSession, dir: String): Map[String, Double] = {
    val docs = graft.Tables.documents(spark, dir)
    // Row counts sized so that each kernel runs for about 0.05-0.3 s
    // per select.
    val views = Seq(
      cached(docs, 4000, "split(text, ' ') AS toks"),
      cached(docs, 50000, "substr(text, 1, 48) AS a", "substr(text, 2, 48) AS b",
        "substr(text, 1, 256) AS s"),
      cached(graft.Tables.embeddings(spark, dir), 50000,
        "embedding AS u", "reverse(embedding) AS v"))
    val names = Seq("pb_toks", "pb_strs", "pb_vecs")
    try {
      val rows = names.zip(views).map { case (n, v) =>
        v.createOrReplaceTempView(n)
        n -> v.count()
      }.toMap
      def fastestMs(sql: String): Double = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        spark.sql(sql).collect()
        (System.nanoTime() - t0) / 1e6
      }.min
      Selects.map { case (name, fn, read, view) =>
        val withFn = fastestMs(s"SELECT sum(hash($fn)) FROM $view")
        val bare = fastestMs(s"SELECT sum(hash($read)) FROM $view")
        name -> (withFn - bare) * 1e6 / rows(view)
      }.toMap
    } finally {
      views.foreach(_.unpersist(blocking = true))
      names.foreach(spark.catalog.dropTempView)
    }
  }

  /** `df` repeated to at least `rows` rows, projected and cached. */
  private def cached(df: DataFrame, rows: Long, cols: String*): DataFrame = {
    val copies = math.max(1L, (rows + df.count() - 1) / df.count())
    df.crossJoin(df.sparkSession.range(copies)).selectExpr(cols: _*)
      .persist(StorageLevel.MEMORY_ONLY)
  }
}
