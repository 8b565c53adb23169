package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** What a workload sees: the session, its seed and a scratch directory. */
final class Ctx(val spark: SparkSession, val seed: Long, val dir: File) {
  def path(name: String): String = new File(dir, name).getAbsolutePath
}

/** One kind of user traffic. The harness times `prepare` (several times)
  * and `warmUp`, then runs `pass` once untraced and, for a traced run,
  * once more with tracing, replaying the same number of rounds.
  */
trait Workload {
  def name: String

  /** Latency kinds whose median is the workload's `p50_ms`. */
  def requestKinds: Seq[String]

  /** Set-up that makes the inputs: generated documents, logs, stores.
    * Called `setupReps` times; each call replaces the previous state.
    */
  def prepare(ctx: Ctx, rep: Int): Unit
  def setupReps: Int = 3

  /** Runs once after the last `prepare`, before the measured pass. */
  def warmUp(ctx: Ctx): Unit = ()

  /** Runs before each pass, outside its clock and before tracing records. */
  def beforePass(ctx: Ctx, traced: Boolean): Unit = ()

  /** The measured loop. Calls `p.start()` when the clock should start and
    * `p.stop()` when it ends, then checks the final outputs.
    */
  def pass(ctx: Ctx, p: Pass, traced: Boolean): Unit

  /** Workload-specific per-layer metrics of a traced pass. */
  def layers(ctx: Ctx, p: Pass, c: SparkCounters): Map[String, Double]

  def close(): Unit = ()
}

object Main {
  val Workloads: Map[String, () => Workload] = Map(
    "ingest" -> (() => new Ingest),
    "lookup" -> (() => new Lookup),
    "curate" -> (() => new Curate),
    "graph" -> (() => new GraphWorkload))

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: --workload " +
      s"{${Workloads.keys.toSeq.sorted.mkString("|")}} --seed N --seconds S --trace 0|1 --out DIR")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def opt(k: String) = opts.getOrElse(k, usage(s"missing --$k"))
    val wl = Workloads.getOrElse(opt("workload"), usage(s"unknown workload ${opt("workload")}"))()
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") match {
      case "0" => false
      case "1" => true
      case t => usage(s"--trace must be 0 or 1, not $t")
    }
    val out = new File(opt("out")).getAbsoluteFile
    val work = new File(out, s"work-${wl.name}-$seed-${ProcessHandle.current().pid()}")
    work.mkdirs()
    try run(wl, seed, seconds, traced, out, work)
    finally {
      wl.close()
      SparkSession.getActiveSession.foreach(_.stop())
      Proc.deleteTree(work)
    }
  }

  private def session(work: File): SparkSession = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def run(wl: Workload, seed: Long, seconds: Double, traced: Boolean,
                  out: File, work: File): Unit = {
    val t0 = System.nanoTime()
    val ticks0 = Proc.cpuTicks()
    val spark = session(work)
    spark.range(200000).selectExpr("sum(id)").collect()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, seed, work)
    val reps = (0 until wl.setupReps).map { r =>
      val s = System.nanoTime()
      wl.prepare(ctx, r)
      (System.nanoTime() - s) / 1e9
    }
    val w0 = System.nanoTime()
    wl.warmUp(ctx)
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + Stats.median(reps) + warmS
    val setupStolen = Proc.stolenShare(ticks0, Proc.cpuTicks())
    System.err.println(f"[perfbench] ${wl.name} seed $seed: session ${sessionS}%.2f s, " +
      s"set-up reps ${reps.map(r => f"$r%.2f").mkString(" ")} s, warm-up ${f"$warmS%.2f"} s, " +
      f"${setupStolen * 100}%.1f %% stolen")

    val plain = new Pass(seconds, None, new Tracer(false, s"${wl.name}-$seed-plain"))
    wl.beforePass(ctx, traced = false)
    wl.pass(ctx, plain, traced = false)
    report(wl, plain, "untraced")

    var passes = Seq(plain)
    val values: Map[String, Double] =
      if (!traced) {
        // times count only the share of wall time the host let this guest
        // run: steal is other guests' load, not graft's
        val req = plain.samples(wl.requestKinds: _*)
        val ran = 1.0 - plain.stolen
        Map(
          "setup_s" -> setupS * (1.0 - setupStolen),
          "ok_rate" -> (1.0 - plain.failed.toDouble / math.max(plain.attempted, 1L)),
          "items_per_s" -> plain.items / (plain.measuredS * ran),
          "p50_ms" -> (if (req.isEmpty) Double.NaN else Stats.median(req) * ran),
          "cpu_ms_per_item" -> plain.cpuNs / 1e6 / math.max(plain.items, 1e-9),
          "peak_rss_mb" -> Proc.peakRssMb())
      } else {
        val counters = new SparkCounters(spark)
        counters.install()
        val tracer = new Tracer(true, s"${wl.name}-$seed-traced", counters.setSpan)
        var cachedPeak = 0.0
        tracer.afterEachSpan(() => cachedPeak = math.max(cachedPeak, counters.cachedMb()))
        val tp = new Pass(seconds, Some(plain.rounds), tracer)
        passes :+= tp
        wl.beforePass(ctx, traced = true)
        counters.startRecording()
        val gc0 = Proc.gcMs()
        wl.pass(ctx, tp, traced = true)
        counters.flush()
        counters.recording = false
        val gc = Proc.gcMs() - gc0
        report(wl, tp, "traced")
        System.err.println("[perfbench] median self ms by span: " + medianSelfMs(tracer.spans)
          .toSeq.sortBy(-_._2).map { case (n, v) => f"$n=$v%.0f" }.mkString(", "))
        writeSpans(out, wl.name, seed, tracer.spans)

        val req = tp.samples(wl.requestKinds: _*)
        val tailPct = Stats.tailPercentile(req.size).getOrElse(0.0)
        val generic = Map(
          "trace.overhead_s" -> (tp.measuredS - plain.measuredS),
          "error_rate" -> tp.failed.toDouble / math.max(tp.attempted, 1L),
          "tail_pct" -> tailPct,
          "tail_ms" -> (if (tailPct > 0) Stats.percentile(req, tailPct) else 0.0),
          "ops.cached_mb_peak" -> cachedPeak,
          "host.stolen_share" -> tp.stolen,
          "jvm.gc_ms" -> gc.toDouble) ++ counters.total
        generic ++ wl.layers(ctx, tp, counters)
      }

    val defs = if (traced) Metrics.PerLayer else Metrics.EndToEnd
    val metrics = defs.map(m => (m.name, values.getOrElse(m.name, 0.0), m.unit))

    val failed = passes.map(_.failed).sum
    val line = Json.obj(Seq(
      "correct" -> Json.bool(failed == 0),
      "attempted" -> Json.num(passes.map(_.attempted).sum),
      "failed" -> Json.num(failed),
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    println(line)
  }

  private def report(wl: Workload, p: Pass, label: String): Unit = {
    val lat = p.latencyMs.map { case (k, v) =>
      f"$k n=${v.size} p50=${Stats.median(v.toSeq)}%.1fms"
    }.mkString(", ")
    System.err.println(f"[perfbench] ${wl.name} $label pass: ${p.measuredS}%.2f s measured, " +
      f"${p.stolen * 100}%.1f %% stolen, ${p.rounds} rounds, ${p.items} items, ${p.attempted} ops, ${p.failed} failed; $lat")
    p.failures.foreach(f => System.err.println(s"[perfbench]   FAILED: $f"))
  }

  private def writeSpans(out: File, name: String, seed: Long, spans: Seq[Span]): Unit = {
    val f = new File(out, s"spans-$name-seed$seed.jsonl")
    val w = new java.io.PrintWriter(f, "UTF-8")
    try Trace.toJsonLines(spans).foreach(w.println) finally w.close()
  }

  /** Median of a span's self time over its calls, in ms, by span name. */
  def medianSelfMs(spans: Seq[Span]): Map[String, Double] = {
    val self = Trace.selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> Stats.median(ss.map(s => self(s.id) / 1e6)) }
  }

  /** Median number of jobs started inside each call of a span name. */
  def medianJobs(spans: Seq[Span], c: SparkCounters, name: String): Double = {
    val kids = spans.groupBy(_.parent)
    def jobs(s: Span): Int = c.jobsBySpan(s.id) + kids.getOrElse(s.id, Nil).map(jobs).sum
    val calls = spans.filter(_.name == name)
    if (calls.isEmpty) 0.0 else Stats.median(calls.map(s => jobs(s).toDouble))
  }

  /** Data files added under `dirs` since `before`. */
  def newFiles(dirs: Seq[String], before: Set[String]): Int =
    dirs.flatMap(d => Proc.dataFiles(new File(d))).map(_.getPath).count(p => !before(p))

  def filesUnder(dirs: Seq[String]): Set[String] =
    dirs.flatMap(d => Proc.dataFiles(new File(d))).map(_.getPath).toSet
}
