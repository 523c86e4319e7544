package graft

import org.apache.spark.sql.SparkSession

/** Library front door: a SparkSession factory with graft's native
  * functions registered and the scale posture baked in. On a real
  * cluster, `master` comes from spark-submit and only the extensions
  * + AQE settings matter.
  */
object Graft {

  /** `spark.sql.codegen.cache.maxEntries`: how many compiled generated
    * classes (whole-stage pipelines, projections, predicates) the JVM
    * keeps. Spark's default of 100 is smaller than one warm round of
    * graft work: perfbench's `interactive_sql` cycles through 108
    * distinct classes and `curation_etl` through 103, and one sf0.01
    * pass over the board compiles 4,721. An LRU smaller than a cyclic
    * working set misses on nearly every lookup, so each round compiled
    * 25-41 classes again in Janino (0.4-0.8 s on 4 cores) and the JIT
    * warmed the new classes from scratch. 8192 holds the board with
    * headroom and stays bounded: a class that embeds a per-call value
    * never hits (860 per warm board pass, most in the stream gates), so
    * an unbounded cache would grow on every pass. The cost is metaspace
    * for the classes kept: after a 3-pass sf0.01 board, metaspace plus
    * compressed class space held 320 MB against 265 MB with the
    * default, roughly 10 kB for each class kept. Results cannot change:
    * the cache is keyed by the full generated source, so a hit returns
    * a class compiled from identical text.
    *
    * A static, JVM-wide setting: Spark reads it once, when the
    * `CodeGenerator` object is first used. It takes effect only when
    * [[configure]]'s builder creates the first session in the JVM; a
    * session that `getOrCreate` picks up from elsewhere (spark-shell's,
    * say) keeps whatever it was built with.
    */
  val CodegenCacheEntries = 8192

  /** @param shufflePartitions initial shuffle parallelism — size to
    *   ~2-3× total cores; AQE coalesces small partitions and splits
    *   skewed ones at runtime, so this is a starting point, not a
    *   contract.
    */
  def session(master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors,
      appName: String = "graft"): SparkSession =
    configure(SparkSession.builder().master(master), shufflePartitions, appName)
      .getOrCreate()

  /** Apply graft's config to any builder (lets spark-submit own the
    * master/deploy settings).
    */
  def configure(b: SparkSession.Builder, shufflePartitions: Int,
      appName: String): SparkSession.Builder =
    b.appName(appName)
      .config("spark.sql.extensions", graft.functions.GraftExtensions.NAME)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // AQE: runtime re-plan — coalesce post-shuffle partitions,
      // convert to broadcast when a side turns out small, split
      // skewed join partitions (the salting you don't hand-write)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // compile each generated class once per JVM, not once per round
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // testdata events.parquet is TIMESTAMP(NANOS), which Spark 4
      // rejects outright; read raw nanos (Tables.events truncates)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // per-process scratch warehouse: managed-table LOCATIONS must
      // die with the session's in-memory catalog — a persistent
      // ./spark-warehouse plus a fresh catalog makes every re-run of
      // a saveAsTable gate fail with LOCATION_ALREADY_EXISTS
      .config("spark.sql.warehouse.dir",
        graft.util.Scratch.dir("graft_warehouse"))
      // file: without a child process per create, mkdirs and
      // FileContext rename (graft.util.LocalFs); both Hadoop APIs
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.util.LocalFs.Checksummed].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.util.LocalFs.Context].getName)
}
