package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.{expr, timestamp_micros}
import org.apache.spark.sql.graftinternal.PlanBridge
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Parquet table loaders for the driver-generated testdata layout
  * (`<dir>/<name>.parquet`). All gate queries read through here so
  * scans stay column-pruned and filter-pushed by Catalyst.
  *
  * Each table is resolved once per distinct file set, not once per
  * call. A `spark.read.parquet` checks the path, lists it and runs one
  * Spark job to read a footer for schema inference. [[parquet]] keeps
  * one entry per table path holding the resolved relation, and reuses
  * it while two things match the entry:
  *  - the stamp: (file, length, mtime) of every file under the path,
  *    listed recursively on each call;
  *  - the SQL conf that changes how a parquet file resolves
  *    ([[resolveConfs]]).
  * Any difference re-resolves with `spark.read.parquet` and replaces
  * the entry. Spark's part-file names carry a per-write UUID, so an
  * overwrite always changes the stamp; an in-place rewrite of one file
  * changes its length or mtime. A reused relation is re-bound to the
  * calling session, so the scan reads the caller's conf, and gets
  * fresh attribute ids, so two reads of one table in one query stay
  * distinct. Entries are keyed by path, not by session: a relation
  * holds its session strongly, so per-session entries would keep every
  * stream gate's child session alive.
  */
object Tables {

  /** `events.ts` has a physical layout this session cannot read, or
    * that the loader does not normalize.
    */
  final class EventsLayoutException(msg: String, cause: Throwable = null)
      extends IllegalStateException(msg, cause)

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** SQL conf read while a parquet file's schema is inferred. */
  private val resolveConfs = Seq(NanosAsLong,
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled")

  private final case class Entry(stamp: Seq[(String, Long, Long)],
      conf: Seq[Option[String]], relation: LogicalRelation)

  private val resolved = new ConcurrentHashMap[String, Entry]()

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** The parquet table at `path`, a single file or a directory of part
    * files.
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val stamp = stampOf(spark, path)
    val conf = resolveConfs.map(spark.conf.getOption)
    resolved.get(path) match {
      case e: Entry if stamp.nonEmpty && e.stamp == stamp && e.conf == conf =>
        PlanBridge.ofFileRelation(spark, e.relation)
      case _ =>
        val df = spark.read.parquet(path)
        PlanBridge.fileRelation(df)
          .foreach(lr => resolved.put(path, Entry(stamp, conf, lr)))
        df
    }
  }

  /** Number of table paths with a resolved relation. */
  private[graft] def resolvedPaths: Int = resolved.size

  /** (file, length, mtime) of every file under `path`, sorted; empty
    * when the path does not exist, so the read raises Spark's own error.
    */
  private def stampOf(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(st: FileStatus): Seq[(String, Long, Long)] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk)
      else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
    try walk(fs.getFileStatus(root)).sorted
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  /** events.ts has shipped in two physical layouts across testdata
    * generations: TIMESTAMP(NANOS) (which Spark 4 rejects outright —
    * read as raw int64 nanos via the SPARK-40819 legacy conf, which
    * [[Graft.configure]] sets, and truncate to µs; integer `div`, not
    * `/`, because ns epochs overflow a double's 53-bit mantissa) and
    * plain TIMESTAMP(µs) (read as-is). Branch on the dtype the scan
    * actually yields so a testdata regen can't break every
    * events-reading plan again. NTZ timestamps are cast to session-tz
    * TIMESTAMP — an identical instant because every Graft session pins
    * session.timeZone=UTC — so downstream `unix_micros`/`window`/
    * `Row.getTimestamp` code sees one type regardless of the physical
    * layout. The loader does not change the caller's conf: a session
    * without the legacy conf gets an [[EventsLayoutException]] naming
    * it when it meets the nanos layout.
    */
  def events(s: SparkSession, d: String): DataFrame = normalizedTs(eventsRaw(s, d))

  /** `events` as stored, before the ts normalization of [[events]]. */
  private[graft] def eventsRaw(s: SparkSession, d: String): DataFrame =
    try apply(s, d, "events")
    catch {
      case e: Exception if !s.conf.getOption(NanosAsLong).contains("true") &&
          causes(e).exists(c => String.valueOf(c.getMessage).contains("TIMESTAMP(NANOS")) =>
        throw new EventsLayoutException(
          s"events.ts is TIMESTAMP(NANOS), which this session can only read " +
            s"with $NanosAsLong=true (Graft.configure sets it)", e)
    }

  /** `df` with its `ts` column as session-tz TIMESTAMP, whatever
    * physical layout [[eventsRaw]] met (batch or streaming frame).
    */
  private[graft] def normalizedTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType =>
        df.withColumn("ts", df("ts").cast(TimestampType))
      case _: TimestampType => df
      case other =>
        throw new EventsLayoutException(
          s"events.ts: unsupported physical type $other (expected int64-nanos or timestamp)")
    }

  private def causes(e: Throwable): Iterator[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)

  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
