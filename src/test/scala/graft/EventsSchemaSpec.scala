package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graftinternal.PlanBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `Tables.events` must tolerate every physical layout the driver's
  * testdata generator has shipped for `events.ts`: int64 raw nanos
  * (the TIMESTAMP(NANOS) legacy-read form), TIMESTAMP_NTZ(µs), and
  * session-tz TIMESTAMP(µs). A regen that flips the layout must not
  * change a single row — this spec writes one tiny fixture per
  * layout and asserts the loader yields identical µs instants with
  * the canonical TimestampType dtype from all three.
  */
class EventsSchemaSpec extends SparkSpec {
  import spark.implicits._

  // Three µs-precision instants, deliberately including a sub-second part.
  private val microsEpochs = Seq(1700000000000001L, 1700003600123456L, 1700007200999999L)

  private def baseRows(tsCol: Column): DataFrame =
    microsEpochs.zipWithIndex
      .map { case (us, i) => (i.toLong, us, i.toLong % 2, s"type_$i") }
      .toDF("event_id", "us", "user_id", "event_type")
      .withColumn("ts", tsCol)
      .select("event_id", "ts", "user_id", "event_type")

  private def writeFixture(df: DataFrame): String = {
    val dir = Files.createTempDirectory("graft_events_schema").toString
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def loadInstants(dir: String): Seq[(Long, Long)] = {
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType === TimestampType,
      s"loader must canonicalize to TimestampType, got ${df.schema("ts").dataType}")
    df.select($"event_id", unix_micros($"ts"))
      .as[(Long, Long)].collect().toSeq.sortBy(_._1)
  }

  test("int64-nanos, TIMESTAMP_NTZ and TIMESTAMP layouts load to identical µs instants") {
    val nanosDir = writeFixture(baseRows(col("us") * lit(1000L)))
    val ntzDir = writeFixture(
      baseRows(timestamp_micros(col("us")).cast(TimestampNTZType)))
    val tsDir = writeFixture(baseRows(timestamp_micros(col("us"))))

    val expected = microsEpochs.zipWithIndex.map { case (us, i) => (i.toLong, us) }
    assert(loadInstants(nanosDir) === expected)
    assert(loadInstants(ntzDir) === expected)
    assert(loadInstants(tsDir) === expected)
  }

  /** `events.parquet` as one file whose ts column is INT64
    * TIMESTAMP(NANOS) — the layout Spark itself cannot write.
    */
  private def writeNanosFixture(): String = {
    val dir = Files.createTempDirectory("graft_events_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).withConf(new Configuration()).build()
    val rows = new SimpleGroupFactory(schema)
    try microsEpochs.zipWithIndex.foreach { case (us, i) =>
      w.write(rows.newGroup().append("event_id", i.toLong)
        .append("ts", us * 1000L + 999L))
    } finally w.close()
    dir
  }

  test("a TIMESTAMP(NANOS) file loads to truncated µs instants under the shipped conf") {
    val expected = microsEpochs.zipWithIndex.map { case (us, i) => (i.toLong, us) }
    assert(loadInstants(writeNanosFixture()) === expected)
  }

  test("without the legacy nanos conf the TIMESTAMP(NANOS) layout raises a named error") {
    val dir = writeNanosFixture()
    val bare = PlanBridge.cloneSession(spark)
    bare.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val e = intercept[Tables.EventsLayoutException](Tables.events(bare, dir))
    assert(e.getMessage.contains("spark.sql.legacy.parquet.nanosAsLong"))
    assert(bare.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "false",
      "the loader must not change the caller's conf")
    assert(loadInstants(dir).size === microsEpochs.size)
  }

  test("the live testdata layout loads and buckets by hour without error") {
    val df = Tables.events(spark, SF)
    val n = df.agg(countDistinct(date_trunc("hour", $"ts"))).as[Long].head()
    assert(n > 0)
  }
}
