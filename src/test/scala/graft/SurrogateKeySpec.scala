package graft

import graft.operators.SurrogateKey
import org.apache.spark.sql.graftinternal.PlanBridge
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class SurrogateKeySpec extends SparkSpec {

  test("orderedScalable ≡ row_number() over unique keys, dense 1..N") {
    // a child session with 8 uncoalesced shuffle partitions, so the
    // range partitioning really splits the keys across partitions
    val child = PlanBridge.cloneSession(spark)
    child.conf.set("spark.sql.shuffle.partitions", 8)
    child.conf.set("spark.sql.adaptive.coalescePartitions.enabled", false)
    import child.implicits._
    val keys = new scala.util.Random(7)
      .shuffle((1 to 2000).map(i => s"k${i * 7919L % 100003L}"))
    val df = keys.toDF("key").repartition(7)
    val ids = SurrogateKey.orderedScalable(df, "key", "id")
    assert(ids.rdd.getNumPartitions >= 7)
    val got = ids.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = df.withColumn("id", row_number().over(Window.orderBy($"key")))
      .collect().map(r => r.getString(0) -> r.getInt(1).toLong).toMap
    assert(got.size == keys.size && got == want)
    assert(got.values.toSeq.sorted == (1L to keys.size.toLong))
  }

  test("scalable assigns unique, dense ids 1..N") {
    import spark.implicits._
    val df = (1 to 2000).map(i => (i % 13, s"r$i")).toDF("g", "s").repartition(7)
    val ids = SurrogateKey.scalable(df, "id").select($"id").as[Long]
      .collect().toSeq
    assert(ids.sorted == (1L to 2000L))
  }
}
