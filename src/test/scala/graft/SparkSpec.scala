package graft

import java.nio.file.{Files, Paths}

import graft.pipeline.NetflixEtl
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session — specs
  * run in a single forked JVM, so getOrCreate dedups).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  /** Smallest testdata scale — specs assert properties, not perf. */
  val SF = "/root/testdata/sf0.001"

  /** `gates` without the ones whose input file is missing on this
    * host; each gate left out is reported in the test's output, so the
    * report shows what a gate-wide sweep did not check.
    */
  protected def gatesWithInputs(gates: Seq[String]): Seq[String] =
    gates.filter { g =>
      val missing = SparkSpec.missingInput(g)
      missing.foreach(p => info(s"$g not checked: its input $p is absent"))
      missing.isEmpty
    }
}

object SparkSpec {
  /** Built through [[Graft.configure]], so specs run the config the
    * library ships.
    */
  lazy val session: SparkSession = Graft.configure(
      SparkSession.builder().master("local[4]"), 4, "graft-test")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The input file of `gate` when it lies outside the testdata and is
    * not on this host. Only `etl_netflix` reads such a file: the
    * reference's own CSV.
    */
  def missingInput(gate: String): Option[String] = gate match {
    case "etl_netflix" if !Files.isRegularFile(Paths.get(NetflixEtl.referenceCsv)) =>
      Some(NetflixEtl.referenceCsv)
    case _ => None
  }
}
