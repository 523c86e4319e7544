package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftinternal.PlanBridge

/** Driver-run benchmark: times every SparkEntry query at
  * SPARK_GRAFT_SF_DIR on [[Graft.session]] exactly as it ships, min of
  * 3 passes in one JVM. One bounded JSON line on stdout; the per-gate
  * rows go to target/bench_summary.json and boards/bench_latest.json.
  */
object Bench {
  type Gate = (SparkSession, String) => DataFrame

  /** One run of one gate.
    * @param sec        wall of `fn(spark, sfDir).count()`; -1 when the
    *                   gate threw
    * @param loadBefore 1-min host loadavg at the gate's start
    * @param loadAfter  1-min host loadavg at its end
    * @param leftRdds   RDDs the gate left persisted (not in the
    *                   pre-gate snapshot); released after the row is taken
    * @param leftBytes  their memory + disk bytes
    * @param jobs       Spark jobs that started while the gate ran
    * @param stages     their completed stages
    * @param taskSec    executor run time summed over those stages
    * @param jobWallSec submit-to-end wall summed over those jobs
    * @param codegenClasses generated classes Janino compiled while the
    *                   gate ran, i.e. codegen-cache misses
    */
  final case class Row(sec: Double, loadBefore: Double, loadAfter: Double,
      leftRdds: Int, leftBytes: Long, jobs: Int, stages: Int,
      taskSec: Double, jobWallSec: Double, codegenClasses: Long)

  /** Janino compiles so far in this JVM, driver and local executors. */
  private def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Credits each job that starts while a gate is open to that gate
    * (gates run serially), streaming micro-batch jobs included.
    */
  final class JobMeter extends SparkListener {
    @volatile private var since = Long.MaxValue
    private val started = mutable.HashMap.empty[Int, Long]
    private val stageJob = mutable.HashMap.empty[Int, Int]
    private var stages = 0
    private var taskMs = 0L
    private var wallMs = 0L

    def open(): Unit = synchronized {
      started.clear(); stageJob.clear()
      stages = 0; taskMs = 0L; wallMs = 0L
      since = System.currentTimeMillis()
    }

    /** (jobs, stages, task s, job wall s) since [[open]]; read it once
      * the listener bus has drained.
      */
    def close(): (Int, Int, Double, Double) = synchronized {
      since = Long.MaxValue
      (started.size, stages, taskMs / 1e3, wallMs / 1e3)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (e.time >= since) {
        started(e.jobId) = e.time
        e.stageIds.foreach(stageJob(_) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      started.get(e.jobId).foreach(t => wallMs += e.time - t)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      if (stageJob.contains(e.stageInfo.stageId)) {
        stages += 1
        taskMs += e.stageInfo.taskMetrics.executorRunTime
      }
    }
  }

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean

  /** Times `fn(spark, sfDir).count()` alone. Outside the timed region
    * it reads the gate's jobs off `meter` (registered on `spark`), then
    * records and releases every RDD the gate left persisted, so the
    * next gate starts from the same storage state.
    */
  def runGate(spark: SparkSession, sfDir: String, fn: Gate, meter: JobMeter): Row = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val loadBefore = osBean.getSystemLoadAverage
    val compiledBefore = codegenCompiles
    meter.open()
    val t0 = System.nanoTime()
    // a failed gate records -1, never its elapsed-to-failure time: a
    // breakage must not masquerade as a fast result
    val sec = try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
      catch { case _: Throwable => -1.0 }
    val loadAfter = osBean.getSystemLoadAverage
    // job ends and storage sizes reach the driver through the bus
    PlanBridge.drainListeners(sc)
    val (jobs, stages, taskSec, jobWallSec) = meter.close()
    val codegenClasses = codegenCompiles - compiledBefore
    val left = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    val leftBytes = sc.getRDDStorageInfo.filter(i => left.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum
    spark.catalog.clearCache()
    left.values.foreach(_.unpersist(blocking = true))
    Row(sec, loadBefore, loadAfter, left.size, leftBytes, jobs, stages,
      taskSec, jobWallSec, codegenClasses)
  }

  // 4 decimals (0.1 ms) — full double precision would waste ~10
  // chars/query against the harvester's bounded tail capture
  private def fmt(v: Double): String =
    if (v < 0) "-1" else BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
  private def fmt1(v: Double): String =
    if (v < 0) "-1" else BigDecimal(v).setScale(1, BigDecimal.RoundingMode.HALF_UP).toString

  /** A gate's row in the summary files: what it left, its jobs and
    * the classes it compiled.
    */
  def rowJson(r: Row): String =
    s"""{"left_rdds":${r.leftRdds},"left_bytes":${r.leftBytes},""" +
      s""""jobs":${r.jobs},"stages":${r.stages},"task_s":${fmt(r.taskSec)},""" +
      s""""job_wall_s":${fmt(r.jobWallSec)},"codegen_classes":${r.codegenClasses}}"""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = Graft.session(master = s"local[$cpus]",
      shufflePartitions = cpus.toInt, appName = "graft-bench")
    spark.sparkContext.setLogLevel("WARN")
    // Scale-up runs: at sub-GB SFs the default 128MB split target +
    // 4MB open cost packs whole tables into 2-4 scan partitions, so
    // wall time measures split packing, not the operator. On a real
    // cluster data >> split size and this knob is moot. Set e.g. 8m
    // to restore map-side parallelism for the scaled-data curve.
    sys.env.get("SPARK_GRAFT_MAX_PARTITION_BYTES").foreach { v =>
      spark.conf.set("spark.sql.files.maxPartitionBytes", v)
      spark.conf.set("spark.sql.files.openCostInBytes", "1m")
    }
    val gates = SparkEntry.selectedQueries
    val names = gates.keys.toSeq
    val meter = new JobMeter
    spark.sparkContext.addSparkListener(meter)
    // min over three passes: pass 1 absorbs JVM and table-resolution
    // warmup and compiles the board's generated classes, which the
    // codegen cache (Graft.CodegenCacheEntries) keeps; passes 2-3 run
    // each gate on compiled code (a gate that still compiles shows it
    // in codegen_classes), and their min shrugs off scheduler noise
    val passes = Seq.fill(3)(gates.map { case (n, fn) => n -> runGate(spark, sfDir, fn, meter) })
    // per gate, the row of the pass that produced its min
    val best = names.map { k =>
      k -> passes.map(_(k)).filter(_.sec >= 0).minByOption(_.sec)
    }.toMap
    val results = names.map(k => k -> best(k).fold(-1.0)(_.sec)).toMap
    val qs = names.map(k => s"\"" + k + "\":" + fmt(results(k))).mkString("{", ",", "}")
    // per-query [min, median, max] over the 3 passes, so a reader can
    // tell an engineering regression from run-to-run variance (at
    // sf0.1 a ±15% swing on a sub-second query is pure noise; the
    // spread makes that visible instead of arguable)
    val spread = names.map { k =>
      val ts = passes.map(_(k).sec).filter(_ >= 0).sorted
      val s = if (ts.isEmpty) Seq(-1.0, -1.0, -1.0)
        else Seq(ts.min, ts(ts.size / 2), ts.max)
      s"\"" + k + "\":[" + s.map(fmt).mkString(",") + "]"
    }.mkString("{", ",", "}")
    // host-load column: per gate, the [before, after] 1-min loadavg
    // of the pass that produced the reported min — a min harvested at
    // loadavg 60 on a 32-cpu box reads as crowded, one at 8 as clean
    val loads = names.map { k =>
      val s = best(k).fold(Seq(-1.0, -1.0))(r => Seq(r.loadBefore, r.loadAfter))
      s"\"" + k + "\":[" + s.map(fmt1).mkString(",") + "]"
    }.mkString("{", ",", "}")
    // what each gate left behind and its jobs, from the min pass (the
    // first pass for a gate that failed every time)
    val rows = names.map { k =>
      s"\"" + k + "\":" + rowJson(best(k).getOrElse(passes.head(k)))
    }.mkString("{", ",", "}")
    // total sums only successful queries — the -1 sentinels would
    // otherwise make a broken round look FASTER than a working one
    val total = results.values.filter(_ >= 0).sum
    val failed = results.values.count(_ < 0)
    // The harvester keeps only the last ~2 KB of stdout and parses the
    // final {"metric":...} line. At 76+ queries the flat per-query map
    // alone outgrows that window (rounds 5 and 7 both recorded null),
    // so the FULL summary — per-query times, spreads, rows, total —
    // goes to a file and stdout carries only the bounded-size line,
    // with the file path for readers who want the detail.
    val summaryJson =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
        s""""failed":$failed,"n":${results.size},"queries":$qs,""" +
        s""""spread":$spread,"load":$loads,"gates":$rows,"sf":"$sfDir"}""" + "\n"
    // target/ for this run; boards/ survives `sbt clean` and can be
    // committed as a round receipt
    val summaryPath = Paths.get("target/bench_summary.json")
    for (p <- Seq(summaryPath, Paths.get("boards/bench_latest.json"))) {
      Files.createDirectories(p.getParent)
      Files.write(p, summaryJson.getBytes(UTF_8))
    }
    // The harvester parses only the LAST ~2 KB of stdout, so the full
    // 380-gate map cannot ride the line — but a 10% total move must
    // still be attributable from the harvested artifact alone. Two
    // bounded digests: the 12 slowest gates (they carry most of the
    // wall) and per-family second totals (prefix before the first
    // '_'), both from the same per-gate minima the total sums.
    val top = results.filter(_._2 >= 0).toSeq.sortBy(-_._2).take(12)
      .map { case (k, v) => s"\"" + k + "\":" + fmt1(v) }
      .mkString("{", ",", "}")
    val fams = results.filter(_._2 >= 0).toSeq
      .groupBy { case (k, _) => k.takeWhile(_ != '_') }
      .map { case (f, kvs) => f -> kvs.map(_._2).sum }
      .toSeq.sortBy(-_._2)
      .map { case (f, v) => s"\"" + f + "\":" + fmt1(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","failed":$failed,"n":${results.size},"top":$top,"fam":$fams,"detail":"${summaryPath.toAbsolutePath}","sf":"$sfDir"}""")
    spark.stop()
  }
}
