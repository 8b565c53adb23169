package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.api.Graft
import graft.sources.TopicStoreLog
import graft.store.Convert
import graft.streaming.Monitor

/** The write path. A closed-loop producer drops one `.topic_store` log
  * per recorded session into a watched directory, so each micro-batch is
  * one session, and waits until both sinks have committed it:
  * `Monitor.capture` (the session-partitioned parquet store) and
  * `Monitor.maintainEventStats` (the per-topic monitor log). After every
  * `MigrateEvery` batches, `Convert.migrate` copies the new documents into
  * a mirror store. Item: a document. Request: one batch, from the file
  * appearing to both sinks having committed it.
  */
final class Ingest extends Workload {
  val name = "ingest"
  val requestKinds = Seq("commit")

  val MigrateEvery = 4
  val WarmBatches = 3

  /** One running capture: its directories, queries and what was sent. */
  private final class Run(ctx: Ctx, tag: String, seed: Long) {
    val root = new File(ctx.dir, s"ingest-$tag")
    val inbox = new File(root, "inbox"); inbox.mkdirs()
    val staging = new File(root, "staging"); staging.mkdirs()
    val store = new File(root, "store").getAbsolutePath
    val stats = new File(root, "event_stats").getAbsolutePath
    val mirror = new File(root, "mirror").getAbsolutePath
    val sessions = Gen.sessions(seed)
    val sent = mutable.ArrayBuffer.empty[Doc]
    var inputBytes = 0L
    var batches = 0
    var copied = 0L
    val migrations = mutable.ArrayBuffer.empty[(Long, Long)] // (copied, scanned)

    private val stream = DocStream(ctx.spark, inbox.getAbsolutePath)
    val capture: StreamingQuery = Monitor.capture(stream, col("_id"), col("_ts_meta_session"),
      col("ts"), store, new File(root, "chk-capture").getAbsolutePath,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    val monitor: StreamingQuery = Monitor.maintainEventStats(
      stream.withColumnRenamed("topic", "event_type"), stats,
      new File(root, "chk-stats").getAbsolutePath,
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))

    /** Write the next session's log and move it into the watched directory. */
    def drop(): (File, Vector[Doc]) = {
      val batch = sessions.next()
      val bytes = Gen.topicStoreBytes(batch)
      val name = f"batch-$batches%06d.topic_store"
      val tmp = new File(staging, name)
      Files.write(tmp.toPath, bytes)
      val dst = new File(inbox, name)
      Files.move(tmp.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
      inputBytes += bytes.length
      batches += 1
      sent ++= batch
      (dst, batch)
    }

    def awaitCommit(): Unit = { capture.processAllAvailable(); monitor.processAllAvailable() }

    def migrate(ctx: Ctx, tracer: Tracer): Long = {
      val src = tracer.span("api.load")(Graft.load(ctx.spark, store))
      val n = tracer.span("store.migrate")(Convert.migrate(ctx.spark, src, mirror, "_id"))
      copied += n
      migrations += ((n, sent.size.toLong))
      n
    }

    def stop(): Unit = { capture.stop(); monitor.stop() }
  }

  private var current: Option[Run] = None

  /** Starts a capture: directories, the document stream and both sinks. */
  def prepare(ctx: Ctx, rep: Int): Unit = {
    current.foreach(_.stop())
    current = Some(new Run(ctx, s"setup$rep", ctx.seed))
  }

  /** The first batches and a migrate, so both sinks have planned and run. */
  override def warmUp(ctx: Ctx): Unit = warm(ctx, current.get)

  private def warm(ctx: Ctx, run: Run): Unit = {
    (0 until WarmBatches).foreach { _ => run.drop(); run.awaitCommit() }
    run.migrate(ctx, new Tracer(false, "warm-up"))
  }

  /** A pass after the first starts on a fresh, warmed-up capture. */
  override def beforePass(ctx: Ctx, traced: Boolean): Unit =
    if (current.exists(_.batches > WarmBatches)) {
      current.foreach(_.stop())
      current = Some(new Run(ctx, if (traced) "traced" else "plain", ctx.seed))
      warm(ctx, current.get)
    }

  def pass(ctx: Ctx, p: Pass, traced: Boolean): Unit = {
    val run = current.get
    before = Main.filesUnder(Seq(run.store, run.mirror, run.stats))
    decodeSkipped = 0L
    p.start()
    while (!p.done) {
      // a round is MigrateEvery batches and one migrate, so every pass does
      // the same mix of work however many rounds fit
      (0 until MigrateEvery).foreach { _ =>
        val (file, batch) = p.untimed(run.drop())
        // the file is already visible: the request runs until both sinks commit
        p.call("commit", "ingest.commit")(run.awaitCommit())
        p.items += batch.size
        // a traced-only re-read, so it stays out of the measured time
        if (traced) p.untimed(p.call("decode", "sources.decode") {
          val n = TopicStoreLog.read(ctx.spark, file.getAbsolutePath).count()
          decodeSkipped += batch.size - n
        })
      }
      p.call("migrate", "ingest.migrate")(run.migrate(ctx, p.tracer))
      p.rounds += 1
    }
    p.stop()
    lastRun = run
    checkOutputs(ctx, p, run)
  }

  private var lastRun: Run = _
  private var before = Set.empty[String]
  private var decodeSkipped = 0L

  private def idsOnceEach(ctx: Ctx, path: String, n: Long): Boolean = {
    val r = Graft.load(ctx.spark, path)
      .agg(count(lit(1)), countDistinct(col("_id")), min(col("_id")), max(col("_id")))
      .collect()(0)
    r.getLong(0) == n && r.getLong(1) == n && r.getLong(2) == 1L && r.getLong(3) == n
  }

  private def checkOutputs(ctx: Ctx, p: Pass, run: Run): Unit = {
    val n = run.sent.size.toLong
    p.check("store holds every _id exactly once")(idsOnceEach(ctx, run.store, n))
    p.check("mirror holds every _id exactly once")(idsOnceEach(ctx, run.mirror, n))
    p.check(s"migrate counts sum to documents sent ($n)")(run.copied == n)
    p.check("event stats equal the generator's totals") {
      val want = run.sent.groupBy(_.topic).map { case (t, ds) =>
        t -> (ds.size.toLong, ds.map(_.valueMicro).sum, ds.map(_.valueMicro).min, ds.map(_.valueMicro).max)
      }
      val got = Monitor.readEventStats(ctx.spark, run.stats).collect().map { r =>
        r.getAs[String]("event_type") -> (r.getAs[Long]("n"), r.getAs[Long]("total_micro"),
          r.getAs[Long]("lo_micro"), r.getAs[Long]("hi_micro"))
      }.toMap
      got == want
    }
  }

  def layers(ctx: Ctx, p: Pass, c: SparkCounters): Map[String, Double] = {
    val run = lastRun
    // progress events arrive on their own listener bus; wait for the
    // pass's batches, one event per sink each (warm-up batches are not
    // recorded: the pass's run was warmed before recording started)
    val want = 2 * (run.batches - WarmBatches)
    val deadline = System.nanoTime() + 10000000000L
    while (c.synchronized(c.progress.size) < want && System.nanoTime() < deadline) Thread.sleep(20)
    val progress = c.synchronized(c.progress.toVector)
    def phase(k: String) =
      if (progress.isEmpty) 0.0 else Stats.median(progress.map(_.getOrElse(k, 0L).toDouble))
    val self = Main.medianSelfMs(p.tracer.spans)
    val storeFiles = Proc.dataFiles(new File(run.store))
    val storeBytes = storeFiles.map(_.length).sum.toDouble
    val (copied, scanned) = run.migrations.foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
    Map(
      "ingest.commit_p50_ms" -> Stats.median(p.samples("commit")),
      "ingest.migrate_p50_ms" -> Stats.median(p.samples("migrate")),
      "api.load_ms" -> self.getOrElse("api.load", 0.0),
      "sources.decode_ms" -> self.getOrElse("sources.decode", 0.0),
      "sources.records_skipped" -> decodeSkipped.toDouble,
      "streaming.latest_offset_ms" -> phase("latestOffset"),
      "streaming.query_planning_ms" -> phase("queryPlanning"),
      "streaming.add_batch_ms" -> phase("addBatch"),
      "streaming.wal_commit_ms" -> phase("walCommit"),
      "streaming.commit_offsets_ms" -> phase("commitOffsets"),
      "streaming.trigger_ms" -> phase("triggerExecution"),
      "streaming.batches" -> progress.size.toDouble,
      "store.files" -> storeFiles.size.toDouble,
      "store.bytes" -> storeBytes,
      "store.session_partitions" -> Option(new File(run.store).listFiles())
        .map(_.count(_.getName.startsWith("session="))).getOrElse(0).toDouble,
      "store.bytes_per_doc_byte" -> storeBytes / run.inputBytes,
      "store.migrate_rows_copied" -> copied.toDouble,
      "store.migrate_rows_scanned" -> scanned.toDouble,
      "store.migrate_useful_ratio" -> (if (scanned == 0) 0.0 else copied.toDouble / scanned),
      "spark.output_files" -> Main.newFiles(Seq(run.store, run.mirror, run.stats), before).toDouble)
  }

  override def close(): Unit = current.foreach(_.stop())
}
