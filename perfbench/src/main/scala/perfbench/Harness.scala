package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Process-level readings taken around a pass. */
object Proc {
  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Clock ticks of all CPUs since boot, from /proc/stat: (busy, stolen).
    * Stolen ticks are those a vCPU wanted to run but the hypervisor ran
    * another guest.
    */
  def cpuTicks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    // user nice system idle iowait irq softirq steal
    (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
  }

  /** Share of the CPU time this guest wanted between two `cpuTicks`
    * readings that the hypervisor gave to other guests.
    */
  def stolenShare(from: (Long, Long), to: (Long, Long)): Double = {
    val (busy, steal) = (to._1 - from._1, to._2 - from._2)
    if (busy + steal > 0) steal.toDouble / (busy + steal) else 0.0
  }

  /** Peak resident set size (VmHWM) in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(sys.error("VmHWM missing from /proc/self/status"))
    finally src.close()
  }

  /** (files, bytes) of the regular files under `dir`, skipping Spark's
    * and Hadoop's bookkeeping (`_spark_metadata`, `_SUCCESS`, `.crc`).
    */
  def dataFiles(dir: java.io.File): Seq[java.io.File] =
    if (!dir.exists) Nil
    else {
      val all = java.nio.file.Files.walk(dir.toPath).iterator().asScala
        .map(_.toFile).filter(_.isFile).toVector
      all.filterNot { f =>
        val p = f.getPath
        p.contains("_spark_metadata") || f.getName.startsWith("_") || f.getName.startsWith(".")
      }
    }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** One measured pass: counts operations attempted and failed, records each
  * call's latency by kind, and tracks the time that counts as measured.
  * A pass ends after `seconds` of measured time, or after `maxRounds`
  * rounds of the workload's loop when it replays another pass's work.
  */
final class Pass(val seconds: Double, val maxRounds: Option[Int], val tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  var rounds = 0
  var items = 0.0
  val latencyMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val failures = mutable.ArrayBuffer.empty[String]
  private var startNs = 0L
  private var pausedNs = 0L
  private var stopNs = 0L
  private var cpu0 = 0L
  private var pausedCpuNs = 0L
  var cpuNs = 0L

  private var ticks0 = (0L, 0L)
  /** Share of the host's CPU demand during the pass that the hypervisor
    * gave to other guests.
    */
  var stolen = 0.0

  def start(): Unit = { startNs = System.nanoTime(); cpu0 = Proc.cpuNs(); ticks0 = Proc.cpuTicks() }
  def stop(): Unit = {
    stopNs = System.nanoTime()
    cpuNs = Proc.cpuNs() - cpu0 - pausedCpuNs
    stolen = Proc.stolenShare(ticks0, Proc.cpuTicks())
  }
  def measuredS: Double =
    ((if (stopNs > 0) stopNs else System.nanoTime()) - startNs - pausedNs) / 1e9
  def done: Boolean = maxRounds.fold(measuredS >= seconds)(rounds >= _)

  /** Time and CPU spent making inputs or checking outputs inside the loop
    * are not measured.
    */
  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    val c0 = Proc.cpuNs()
    try body
    finally {
      pausedNs += System.nanoTime() - t0
      pausedCpuNs += Proc.cpuNs() - c0
    }
  }

  /** One call into graft, in a span named `span`. A throw counts the call
    * as failed and yields None.
    */
  def call[T](kind: String, span: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(span)(body)
      latencyMs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
      Some(r)
    } catch {
      case e: Exception =>
        fail(s"$span threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
  }

  /** Record that an attempted operation returned a wrong result. */
  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
  }

  /** An output check that is an operation of its own. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val good = try tracer.span("check")(ok) catch {
      case e: Exception => fail(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}"); return
    }
    if (!good) fail(what)
  }

  def samples(kinds: String*): Seq[Double] = kinds.flatMap(k => latencyMs.getOrElse(k, Nil)).toSeq
}

/** Spark-side counters for the traced pass. Jobs are attributed to the
  * benchmark span that was open when they started, through a local
  * property set before each call; jobs started by streaming query threads
  * carry no span and count only in the totals.
  */
final class SparkCounters(spark: SparkSession) extends SparkListener {
  import SparkCounters._
  private val sc = spark.sparkContext
  @volatile var recording = false
  @volatile private var sinceMs = Long.MaxValue

  val total = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  val jobsBySpan = mutable.Map.empty[Int, Int].withDefaultValue(0)
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageSubmitted = mutable.Map.empty[(Int, Int), Long]
  private val markerJobs = mutable.Set.empty[Int]
  @volatile private var jobLatch = new CountDownLatch(1)
  @volatile private var planLatch = new CountDownLatch(1)

  /** Data-carrying micro-batches: durationMs of each. */
  val progress = mutable.ArrayBuffer.empty[Map[String, Long]]

  def setSpan(id: Int): Unit =
    sc.setLocalProperty(SpanProp, if (id < 0) null else id.toString)

  private def add(k: String, v: Double): Unit = total(k) = total(k) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    if (props.exists(_.getProperty(MarkerProp) != null)) markerJobs += e.jobId
    else if (recording) {
      val span = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(-1)
      add("spark.jobs", 1)
      jobsBySpan(span) += 1
      e.stageIds.foreach(stageSpan(_) = span)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (markerJobs.remove(e.jobId)) jobLatch.countDown()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    if (stageSpan.contains(si.stageId))
      stageSubmitted((si.stageId, si.attemptNumber())) =
        si.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    if (stageSpan.contains(si.stageId)) {
      add("spark.stages", 1)
      if (si.taskMetrics != null && si.taskMetrics.shuffleWriteMetrics.bytesWritten > 0)
        add("spark.shuffle_stages", 1)
      stageSubmitted.remove((si.stageId, si.attemptNumber()))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageSpan.contains(e.stageId)) {
      add("spark.tasks", 1)
      if (e.reason != org.apache.spark.Success) add("spark.failed_tasks", 1)
      stageSubmitted.get((e.stageId, e.stageAttemptId)).foreach(t =>
        add("spark.task_wait_ms", math.max(0L, e.taskInfo.launchTime - t)))
      val m = e.taskMetrics
      if (m != null) {
        add("spark.executor_run_ms", m.executorRunTime)
        add("spark.executor_cpu_ms", m.executorCpuTime / 1e6)
        add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / MiB)
        add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / MiB)
        add("spark.shuffle_fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add("spark.spill_mb", m.diskBytesSpilled / MiB)
        add("spark.scan_mb", m.inputMetrics.bytesRead / MiB)
        add("spark.scan_rows", m.inputMetrics.recordsRead)
        add("spark.output_mb", m.outputMetrics.bytesWritten / MiB)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def seen(qe: QueryExecution): Unit = {
      if (qe.analyzed.output.exists(_.name == MarkerCol)) planLatch.countDown()
      else if (recording) SparkCounters.this.synchronized {
        val phases = qe.tracker.phases
        add("spark.plan_ms", Seq("analysis", "optimization", "planning")
          .flatMap(phases.get).map(_.durationMs.toDouble).sum)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = seen(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    // a batch counts when its trigger started after recording did, so a
    // late event of an earlier batch is not taken for one of the pass's
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (recording && e.progress.numInputRows > 0 &&
          java.time.Instant.parse(e.progress.timestamp).toEpochMilli >= sinceMs)
        SparkCounters.this.synchronized {
          progress += e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        }
  }

  def install(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  /** Start counting, once the events of earlier work have been delivered. */
  def startRecording(): Unit = {
    flush()
    sinceMs = System.currentTimeMillis()
    recording = true
  }

  /** Wait until the listener buses have delivered every event posted so
    * far: run a marker query and wait for its job and plan to arrive.
    */
  def flush(): Unit = {
    jobLatch = new CountDownLatch(1)
    planLatch = new CountDownLatch(1)
    sc.setLocalProperty(MarkerProp, "1")
    try spark.range(1).toDF(MarkerCol).collect()
    finally sc.setLocalProperty(MarkerProp, null)
    jobLatch.await(30, TimeUnit.SECONDS)
    planLatch.await(30, TimeUnit.SECONDS)
  }

  /** Storage memory plus disk held by cached RDDs and tables, in MiB. */
  def cachedMb(): Double = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / MiB
}

object SparkCounters {
  val SpanProp = "perfbench.span"
  val MarkerProp = "perfbench.flush"
  val MarkerCol = "perfbench_flush"
  val MiB = 1048576.0
}
