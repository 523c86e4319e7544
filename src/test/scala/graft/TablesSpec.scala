package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftinternal.PlanBridge

/** [[Tables]] resolves a table once per file set: repeat reads reuse
  * the relation without a listing job, stay distinct inside one
  * query, and re-resolve when the files change.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def tempTable(df: DataFrame): String = {
    val p = Files.createTempDirectory("graft_tables").resolve("t.parquet").toString
    df.write.parquet(p)
    p
  }

  /** Write `df` as ONE parquet file named `file`, replacing it. */
  private def writeSingleFile(df: DataFrame, file: Path): Unit = {
    val staging = Files.createTempDirectory("graft_tables_stage")
    df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val part = Files.list(staging)
      .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
    Files.move(part, file, StandardCopyOption.REPLACE_EXISTING)
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  /** Jobs started while `body` runs on this thread. The fence job runs
    * after `body`; the listener bus delivers events in order, so once
    * the fence is seen every job `body` started has been counted.
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${System.nanoTime}"
    val counted = new AtomicInteger(0)
    val fenceSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`group`) => counted.incrementAndGet()
          case Some(g) if g == group + "-fence" => fenceSeen.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(group + "-fence", "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenceSeen.await(30, java.util.concurrent.TimeUnit.SECONDS))
      counted.get
    } finally sc.removeSparkListener(listener)
  }

  test("a self-join of two orders reads returns the same rows as two plain reads") {
    Tables.orders(spark, SF).count() // resolve, so both reads below reuse it
    def selfJoin(a: DataFrame, b: DataFrame): DataFrame =
      a.as("a").join(b.as("b"),
          $"a.o_custkey" === $"b.o_custkey" && $"a.o_orderkey" < $"b.o_orderkey")
        .select($"a.o_orderkey", $"b.o_orderkey", $"a.o_custkey")
    val path = s"$SF/orders.parquet"
    val reused = selfJoin(Tables.orders(spark, SF), Tables.orders(spark, SF))
    val plain = selfJoin(spark.read.parquet(path), spark.read.parquet(path))
    val got = rows(reused)
    assert(got.nonEmpty)
    assert(got === rows(plain))
  }

  test("an overwritten table directory is seen on the next read, schema included") {
    val p = tempTable(Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    assert(rows(Tables.parquet(spark, p)) === Seq(Row(1L, "a"), Row(2L, "b")))
    Seq((3L, 0.5)).toDF("id", "x").write.mode("overwrite").parquet(p)
    val after = Tables.parquet(spark, p)
    assert(after.columns.toSeq === Seq("id", "x"))
    assert(rows(after) === Seq(Row(3L, 0.5)))
  }

  test("a single-file table rewritten in place is seen on the next read, schema included") {
    val file = Files.createTempDirectory("graft_tables").resolve("one.parquet")
    writeSingleFile(Seq((1L, "a")).toDF("id", "s"), file)
    val before = (Files.size(file), Files.getLastModifiedTime(file).toMillis)
    assert(rows(Tables.parquet(spark, file.toString)) === Seq(Row(1L, "a")))
    writeSingleFile(Seq((2L, 7, true), (3L, 8, false)).toDF("id", "n", "flag"), file)
    // the same name with a new length and a later mtime
    Files.setLastModifiedTime(file,
      java.nio.file.attribute.FileTime.fromMillis(before._2 + 2000L))
    assert(Files.size(file) != before._1)
    val after = Tables.parquet(spark, file.toString)
    assert(after.columns.toSeq === Seq("id", "n", "flag"))
    assert(rows(after) === Seq(Row(2L, 7, true), Row(3L, 8, false)))
  }

  test("reads through 20 cloned sessions leave one entry for the path") {
    val p = tempTable(Seq((1L, 2L)).toDF("a", "b"))
    val before = Tables.resolvedPaths
    val counts = (1 to 20).map { _ =>
      val child = PlanBridge.cloneSession(spark)
      Tables.parquet(child, p).agg(sum($"a" + $"b")).as[Long].head()
    }
    assert(counts.toSet === Set(3L))
    assert(Tables.resolvedPaths === before + 1)
  }

  test("the first read of a table starts one Spark job, a repeat read none") {
    val p = tempTable(Seq((1L, "x")).toDF("id", "s"))
    assert(jobsDuring(Tables.parquet(spark, p)) === 1)
    assert(jobsDuring(Tables.parquet(spark, p)) === 0)
    assert(jobsDuring(Tables.parquet(spark, p).select($"id")) === 0)
  }
}
