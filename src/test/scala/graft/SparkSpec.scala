package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session — specs
  * run in a single forked JVM, so getOrCreate dedups).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  /** Smallest testdata scale — specs assert properties, not perf. */
  val SF = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** Built through [[Graft.configure]], so specs run the config the
    * library ships.
    */
  lazy val session: SparkSession = Graft.configure(
      SparkSession.builder().master("local[4]"), 4, "graft-test")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
