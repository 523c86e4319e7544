package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One closed-loop client (one call in flight) against
  * `graft.Graft.session` as the library ships it.
  *
  * A round calls every gate of the workload once, in an order drawn
  * from the seed. `--warmup` untimed rounds come first, then
  * `--rounds` timed ones, cut short once `--seconds` of them have
  * passed. Every call is timed from outside the
  * engine in three phases: the `SparkEntry.queries` builder (build),
  * `queryExecution.executedPlan` (plan) and `collect()` (execute), and
  * its result is checked against the expected fingerprint.
  *
  * With `--trace 1` the timed rounds alternate untraced (the base of the
  * tracing overhead) and traced: a SparkListener and a
  * StreamingQueryListener recording, a job group per call, storage
  * snapshots around each call and plan-node counts. The kernel
  * micro-benchmarks of [[Kernels]] run last.
  *
  * Everything is kept in memory and written as one JSON file at the
  * end; `perfbench/metrics.py` turns it into metrics.
  */
object Harness {

  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  /** Wall-clock ms with sub-ms precision, on the epoch base of Spark's
    * listener event times.
    */
  def nowMs(): Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  final case class Args(workload: String, data: String,
      gates: Seq[String], seed: Long, warmup: Int, rounds: Int, seconds: Double,
      trace: Boolean, cores: Int, expected: String, out: String, record: Boolean)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"),
      m("gates").split(",").toSeq.filter(_.nonEmpty), m("seed").toLong,
      m("warmup").toInt, m("rounds").toInt, m("seconds").toDouble, m("trace") == "1",
      m("cores").toInt, m("expected"), m("out"), m.get("record").contains("1"))
  }

  /** `gate<TAB>rows<TAB>hash` lines → gate → print. */
  def loadExpected(path: String): Map[String, Fingerprint.Print] =
    Files.readAllLines(Paths.get(path)).asScala.iterator
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t"))
      .collect { case Array(g, n, h) => g -> Fingerprint.Print(n.toLong, h) }
      .toMap

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val expected = if (a.record) Map.empty[String, Fingerprint.Print]
      else loadExpected(a.expected)
    val missing = a.gates.filterNot(expected.contains)
    require(a.record || missing.isEmpty,
      s"no expected fingerprint for ${missing.mkString(", ")}")
    val unknown = a.gates.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not in SparkEntry.queries: ${unknown.mkString(", ")}")

    if (a.trace) StreamRecorder.install()
    val (steal0, ticks0) = cpuTicks()
    val s0 = nowMs()
    val spark = graft.Graft.session(master = s"local[${a.cores}]")
    val sessionS = (nowMs() - s0) / 1e3
    val run = new Run(spark, a, expected)
    (0 until a.warmup).foreach(r => run.round(r, warmup = true))
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val (steal1, ticks1) = cpuTicks()

    run.timedRounds(a.rounds, a.seconds)
    run.tracing(false)
    // what the timed rounds left reachable: the first collection lets
    // Spark's ContextCleaner release blocks of unreachable RDDs, the
    // second frees them, so the figure is the live set and not the
    // collector's or the cleaner's timing
    System.gc()
    Thread.sleep(500)
    System.gc()
    val liveHeapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val kernels = if (a.trace) Kernels.measure(spark, a.data) else Map.empty[String, Double]

    val out = Map(
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores,
      "session_s" -> sessionS, "setup_s" -> setupS,
      "setup_steal" -> (steal1 - steal0).toDouble / math.max(ticks1 - ticks0, 1L),
      "peak_rss_mb" -> peakRssMb(),
      "live_heap_mb" -> liveHeapMb,
      "rounds" -> run.rounds.toSeq, "calls" -> run.calls.toSeq,
      "jobs" -> run.recorder.jobs.toSeq, "stages" -> run.recorder.stages.toSeq,
      "batches" -> StreamRecorder.batches.toSeq, "kernels" -> kernels)
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writeValue(Paths.get(a.out).toFile, out)
    spark.stop()
  }

  /** (steal, total) jiffies of the host's CPUs so far, from the first
    * line of /proc/stat: the time this machine's CPUs were runnable but
    * not run because the hypervisor gave them to another guest.
    */
  def cpuTicks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
      (f(7), f.sum)
    } finally src.close()
  }

  /** VmHWM of this JVM in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(-1.0) finally src.close()
  }

  /** The rounds of one run and what they recorded. */
  final class Run(spark: SparkSession, a: Args,
      expected: Map[String, Fingerprint.Print]) {
    val rounds = mutable.ArrayBuffer.empty[Map[String, Any]]
    val calls = mutable.ArrayBuffer.empty[Map[String, Any]]
    val recorder = new JobRecorder
    private val rng = new scala.util.Random(a.seed)
    private var traced = false
    private var next = 0
    private val sc = spark.sparkContext
    private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    private val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    def tracing(on: Boolean): Unit = if (on != traced) {
      if (on) sc.addSparkListener(recorder)
      else {
        // the listener bus delivers asynchronously: let it catch up
        // with the finished jobs before detaching
        val deadline = nowMs() + 10e3
        do Thread.sleep(100) while (recorder.open > 0 && nowMs() < deadline)
        sc.removeSparkListener(recorder)
      }
      StreamRecorder.on = on
      traced = on
    }

    /** `n` timed rounds, or as many as end within `seconds`, but at
      * least two. With tracing they alternate untraced and traced,
      * which keeps the JIT's warming over a run out of the tracing
      * overhead.
      */
    def timedRounds(n: Int, seconds: Double): Unit = {
      val t0 = nowMs()
      var i = 0
      while (i < n && (i < 2 || nowMs() - t0 < seconds * 1e3)) {
        if (a.trace) tracing(i % 2 == 1)
        round(next, warmup = false)
        i += 1
      }
    }

    def round(r: Int, warmup: Boolean): Unit = {
      next = r + 1
      val gc0 = gcBeans.map(_.getCollectionTime).sum
      val cpu0 = os.getProcessCpuTime
      val (steal0, ticks0) = cpuTicks()
      val t0 = nowMs()
      rng.shuffle(a.gates).zipWithIndex.foreach { case (g, i) =>
        calls += call(g, s"r${r}c$i", r, warmup)
      }
      val t1 = nowMs()
      val (steal1, ticks1) = cpuTicks()
      rounds += Map("round" -> r, "warmup" -> warmup, "traced" -> traced,
        "start" -> t0, "end" -> t1,
        "gc_s" -> (gcBeans.map(_.getCollectionTime).sum - gc0) / 1e3,
        "cpu_s" -> (os.getProcessCpuTime - cpu0) / 1e9,
        "steal" -> (steal1 - steal0).toDouble / math.max(ticks1 - ticks0, 1L),
        "heap_mb" -> ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)
    }

    private def storage(): (Long, Double) = {
      val infos = sc.getRDDStorageInfo
      (infos.map(_.numCachedPartitions.toLong).sum, infos.map(_.memSize).sum / 1048576.0)
    }

    private def call(gate: String, id: String, r: Int, warmup: Boolean): Map[String, Any] = {
      val fn = graft.SparkEntry.queries(gate)
      if (traced) sc.setJobGroup(id, gate, interruptOnCancel = false)
      val (blocks0, mem0) = if (traced) storage() else (0L, 0.0)
      val t0 = nowMs()
      var t1, t2 = t0
      val rec = mutable.LinkedHashMap[String, Any]("id" -> id, "gate" -> gate,
        "round" -> r, "warmup" -> warmup, "traced" -> traced)
      try {
        val df = fn(spark, a.data)
        t1 = nowMs()
        df.queryExecution.executedPlan
        t2 = nowMs()
        val rows = df.collect()
        val t3 = nowMs()
        val got = Fingerprint.of(df.columns.toSeq, rows)
        rec ++= Seq("t0" -> t0, "t1" -> t1, "t2" -> t2, "t3" -> t3,
          "rows" -> got.rows, "hash" -> got.hash)
        expected.get(gate).filter(_ != got).foreach { want =>
          rec += "error" -> s"fingerprint ${got.rows}/${got.hash}, expected ${want.rows}/${want.hash}"
        }
        if (traced) rec ++= planCounts(df.queryExecution.executedPlan)
      } catch {
        case e: Throwable =>
          rec ++= Seq("t0" -> t0, "t1" -> t1, "t2" -> t2, "t3" -> nowMs(),
            "error" -> s"${e.getClass.getName}: ${e.getMessage}".linesIterator.next())
      } finally if (traced) sc.clearJobGroup()
      if (traced) {
        val (blocks1, mem1) = storage()
        rec ++= Seq("blocks_left" -> (blocks1 - blocks0), "mem_mb_left" -> (mem1 - mem0))
      }
      rec.toMap
    }
  }

  /** Join and exchange nodes of the final (post-AQE) physical plan. */
  def planCounts(plan: SparkPlan): Seq[(String, Int)] = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case ad: AdaptiveSparkPlanExec => nodes(ad.executedPlan)
      case st: QueryStageExec => nodes(st.plan)
      case re: ReusedExchangeExec => Seq(re)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    val all = nodes(plan)
    Seq(
      "broadcast_joins" -> all.count {
        case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => true
        case _ => false
      },
      "shuffle_joins" -> all.count {
        case _: SortMergeJoinExec | _: ShuffledHashJoinExec | _: CartesianProductExec => true
        case _ => false
      },
      "exchanges" -> all.count(_.isInstanceOf[ShuffleExchangeLike]))
  }

  /** Jobs with their group and stages, and per-stage task aggregates. */
  final class JobRecorder extends SparkListener {
    val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val stages = mutable.ArrayBuffer.empty[Map[String, Any]]
    private val started = mutable.HashMap.empty[Int, (Long, String, Seq[Int])]
    private val acc = mutable.HashMap.empty[(Int, Int), mutable.Map[String, Double]]

    def open: Int = synchronized(started.size)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      started(e.jobId) = (e.time, group.orNull, e.stageIds)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      started.remove(e.jobId).foreach { case (t, g, s) =>
        jobs += Map("id" -> e.jobId, "group" -> g, "start" -> t, "end" -> e.time,
          "stages" -> s)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = acc.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.Map.empty[String, Double].withDefaultValue(0.0))
      val ms = e.taskInfo.duration.toDouble
      s("tasks") += 1
      s("task_ms") += ms
      s("max_task_ms") = math.max(s("max_task_ms"), ms)
      Option(e.taskMetrics).foreach { m =>
        s("in_bytes") += m.inputMetrics.bytesRead
        s("in_records") += m.inputMetrics.recordsRead
        if (m.inputMetrics.recordsRead > 0) s("scan_tasks") += 1
        s("out_bytes") += m.outputMetrics.bytesWritten
        s("out_records") += m.outputMetrics.recordsWritten
        s("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        s("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
        s("fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
        s("spill_bytes") += m.diskBytesSpilled
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val s = acc.remove((i.stageId, i.attemptNumber()))
        .getOrElse(mutable.Map.empty[String, Double])
      stages += (s.toMap ++ Map("id" -> i.stageId, "attempt" -> i.attemptNumber(),
        "submit" -> i.submissionTime.getOrElse(-1L),
        "complete" -> i.completionTime.getOrElse(-1L)))
    }
  }

}

/** Micro-batch progress: start time and per-phase durations. Spark
  * instantiates it once per streaming query manager, so the streaming
  * gates' cloned sessions report too; all instances share one buffer,
  * which fills only while [[StreamRecorder.on]] is set.
  */
final class StreamRecorder extends StreamingQueryListener {
  import StreamRecorder._
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (on) {
      val p = e.progress
      def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      batches.synchronized {
        batches += Map("start" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "trigger_ms" -> ms("triggerExecution"), "planning_ms" -> ms("queryPlanning"),
          "rows" -> p.numInputRows)
      }
    }
}

object StreamRecorder {
  @volatile var on = false
  val batches = mutable.ArrayBuffer.empty[Map[String, Any]]
  /** Registers the recorder with every streaming query manager of the
    * sessions created after this call.
    */
  def install(): Unit =
    System.setProperty("spark.sql.streaming.streamingQueryListeners",
      classOf[StreamRecorder].getName)
}
