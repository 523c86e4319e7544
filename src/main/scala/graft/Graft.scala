package graft

import org.apache.spark.sql.SparkSession

/** Library front door: a SparkSession factory with graft's native
  * functions registered and the scale posture baked in. On a real
  * cluster, `master` comes from spark-submit and only the extensions
  * + AQE settings matter.
  */
object Graft {

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
