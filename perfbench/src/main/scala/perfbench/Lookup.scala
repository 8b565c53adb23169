package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.api.Graft
import graft.store.DocumentStore
import graft.streaming.Monitor

/** The read path. Set-up captures hundreds of recorded robot sessions
  * into a session-partitioned parquet store through `Monitor.capture`, in
  * the as-captured file layout: each log holds whole sessions, so each
  * session lands in one parquet file of its own partition. A single
  * closed-loop client then runs sessions: each opens the store with
  * `Graft.load` and issues `OpsPerSession` queries, two point ops to each
  * scan op. `findById` picks ids uniformly; `findBySession` picks sessions
  * by a Zipf law. Item: a query. Request: a query (point or scan).
  */
final class Lookup extends Workload {
  val name = "lookup"
  val requestKinds = Seq("point", "scan")

  val Sessions = 250
  /** Sessions per log: fewer, larger logs keep set-up to a few capture
    * tasks without changing the store's layout.
    */
  val SessionsPerLog = 25
  val OpsPerSession = 12
  /** YCSB's default request skew (its zipfian constant 0.99). */
  val SessionSkew = 0.99

  private var docs: Vector[Doc] = Vector.empty
  private var store: String = _
  private var inputBytes = 0L

  def prepare(ctx: Ctx, rep: Int): Unit = {
    val sessions = Gen.sessions(ctx.seed).take(Sessions).toVector
    docs = sessions.flatten
    val root = new File(ctx.dir, s"lookup-setup$rep")
    val logs = new File(root, "logs"); logs.mkdirs()
    inputBytes = 0L
    sessions.grouped(SessionsPerLog).zipWithIndex.foreach { case (group, i) =>
      val bytes = Gen.topicStoreBytes(group.flatten)
      inputBytes += bytes.length
      Files.write(new File(logs, f"capture-$i%05d.topic_store").toPath, bytes)
    }
    store = new File(root, "store").getAbsolutePath
    val q = Monitor.capture(DocStream(ctx.spark, logs.getAbsolutePath), col("_id"), col("_ts_meta_session"), col("ts"), store,
      new File(root, "chk").getAbsolutePath, Trigger.AvailableNow())
    q.awaitTermination()
    index()
  }

  override def setupReps: Int = 2

  /** Each query type once, so its planning and code generation are warm
    * before the measured sessions start.
    */
  override def warmUp(ctx: Ctx): Unit = {
    val p = new Pass(1.0, None, new Tracer(false, "warm-up"))
    val rng = new Random(ctx.seed ^ 0x77)
    p.call("open", "api.load")(Graft.load(ctx.spark, store)).foreach { df =>
      point(ctx, p, df, rng, byId = true, traced = false)
      point(ctx, p, df, rng, byId = false, traced = false)
      (0 until 6).foreach(scan(p, df, rng, _))
    }
  }

  // ---- expected answers, computed from the generated documents ----------

  private var docById: Map[Long, Doc] = Map.empty
  private var bySession: Map[Long, Vector[Doc]] = Map.empty
  private var sessionIds: Vector[Long] = Vector.empty
  private var zipf: Gen.Zipf = _

  private var summaries: Map[Long, (Long, Long, Long)] = Map.empty
  private var byValue: Vector[Long] = Vector.empty
  private var latest: Map[String, Long] = Map.empty
  private var hourly: Map[(String, Long), (Long, Long)] = Map.empty

  private def index(): Unit = {
    docById = docs.iterator.map(d => d.id -> d).toMap
    bySession = docs.groupBy(_.session)
    sessionIds = bySession.keys.toVector.sorted
    zipf = new Gen.Zipf(sessionIds.size, SessionSkew)
    summaries = bySession.map { case (s, ds) =>
      s -> ((ds.size.toLong, ds.map(_.tsSec).min, ds.map(_.tsSec).max))
    }
    byValue = docs.sortBy(d => (-d.valueMilli, d.id)).take(50).map(_.id)
    latest = docs.groupBy(_.topic).map { case (t, ds) => t -> ds.maxBy(d => (d.tsSec, d.id)).id }
    hourly = docs.groupBy(d => (d.topic, Math.floorDiv(d.tsSec, 3600L) * 3600L)).map {
      case (k, ds) => k -> ((ds.size.toLong, ds.map(_.data.length.toLong).sum))
    }
  }

  // ---- the client ---------------------------------------------------------

  private var rowsReturned = 0L
  /** Scan types take turns in a seeded order, so every pass runs them in
    * equal shares.
    */
  private var scanOrder = Vector.empty[Int]
  private var scans = 0
  private val pointFiles = mutable.ArrayBuffer.empty[Double]

  private def scanFiles(df: DataFrame): Double = {
    def plans(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => plans(a.executedPlan)
      case other => other +: other.children.flatMap(plans)
    }
    plans(df.queryExecution.executedPlan).collect {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value.toDouble).getOrElse(0.0)
    }.sum
  }

  /** A session's queries in seeded order: per scan op, one `findById`
    * and one `findBySession`. Fixed shares keep the request median inside
    * one op type from run to run. Each query and each open is one round,
    * so a pass can end inside a session.
    */
  private def clientSession(ctx: Ctx, p: Pass, rng: Random, traced: Boolean): Unit = {
    val kinds = rng.shuffle(Seq.fill(OpsPerSession / 3)(Seq(0, 1, 2)).flatten)
    val opened = p.call("open", "api.load")(Graft.load(ctx.spark, store))
    p.rounds += 1
    opened.foreach { df =>
      kinds.foreach { k =>
        if (!p.done) {
          if (k == 2) { scan(p, df, rng, scanOrder(scans % 6)); scans += 1 }
          else point(ctx, p, df, rng, byId = k == 0, traced)
          p.items += 1
          p.rounds += 1
        }
      }
    }
  }

  /** One query: its call is measured, its check is not. */
  private def run(p: Pass, kind: String, op: String, df: => DataFrame)
                 (check: Array[Row] => Boolean): Option[DataFrame] = {
    var held: DataFrame = null
    p.call(kind, s"store.$op") {
      held = df
      held.collect()
    }.map { rows => p.untimed {
      rowsReturned += rows.length
      val ok = try check(rows) catch { case e: Exception =>
        p.fail(s"$op result could not be read: $e"); true }
      if (!ok) p.fail(s"$op returned a wrong result")
      held
    }}
  }

  /** Integral column as a long: the store's `session` partition column
    * reads back as an int.
    */
  private def long(r: Row, c: String): Long = r.getAs[Number](c).longValue

  private def point(ctx: Ctx, p: Pass, df: DataFrame, rng: Random, byId: Boolean,
                    traced: Boolean): Unit = {
    val held =
      if (byId) {
        val id = 1L + rng.nextInt(docs.size)
        val d = docById(id)
        run(p, "point", "find_by_id", DocumentStore.findById(df, "_id", id)) { rows =>
          rows.length == 1 && {
            val r = rows(0)
            r.getAs[Long]("_id") == id && long(r, "session") == d.session &&
            r.getAs[String]("topic") == d.topic && r.getAs[Long]("seq") == d.seq &&
            r.getAs[Double]("value") == d.value && r.getAs[String]("data") == d.data
          }
        }
      } else {
        val s = sessionIds(zipf.sample(rng))
        val want = bySession(s)
        run(p, "point", "find_by_session", DocumentStore.findBySession(df, "session", s)) { rows =>
          rows.length == want.size && rows.map(_.getAs[Long]("_id")).sum == want.map(_.id).sum
        }
      }
    if (traced) held.foreach(h => p.untimed(pointFiles += scanFiles(h)))
  }

  private def scan(p: Pass, df: DataFrame, rng: Random, kind: Int): Unit = kind match {
    case 0 =>
      val topic = Gen.Topics(rng.nextInt(Gen.Topics.size)).name
      val lo = rng.nextInt(100000)
      val want = p.untimed(docs.count(d => d.topic == topic && d.valueMilli > lo))
      run(p, "scan", "count", DocumentStore.countDocuments(df,
        Some(col("topic") === topic && col("value") > lo / 1000.0))) { rows =>
        rows.length == 1 && rows(0).getLong(0) == want
      }
    case 1 =>
      run(p, "scan", "unique_sessions", DocumentStore.uniqueSessions(df, "session", "ts")) { rows =>
        rows.map(r => long(r, "session") ->
          ((long(r, "n_docs"), long(r, "first_ts_sec"), long(r, "last_ts_sec"))))
          .toMap == summaries
      }
    case 2 =>
      val a = docs(rng.nextInt(docs.size)).tsSec
      val b = a + 600 + rng.nextInt(3000)
      val want = p.untimed(docs.filter(d => d.tsSec >= a && d.tsSec < b))
      run(p, "scan", "find", DocumentStore.findWithMeta(df,
        col("sys_time_sec") >= a && col("sys_time_sec") < b, Seq("topic", "value"))) { rows =>
        rows.length == want.size && rows.map(_.getAs[Long]("_id")).sum == want.map(_.id).sum
      }
    case 3 =>
      val k = 10 + rng.nextInt(41)
      val want = byValue.take(k)
      run(p, "scan", "sort_limit",
        DocumentStore.sortLimit(df.select("_id", "value"), Seq(col("value").desc, col("_id")), k)) {
        rows => rows.map(_.getLong(0)).toSeq == want
      }
    case 4 =>
      run(p, "scan", "latest_snapshot", DocumentStore.latestSnapshot(
        df, col("topic"), col("sys_time_sec"), col("_id")).select("topic", "_id")) { rows =>
        rows.map(r => r.getString(0) -> r.getLong(1)).toMap == latest
      }
    case _ =>
      run(p, "scan", "monitor_rates", DocumentStore.monitorRates(
        df, col("topic"), col("ts"), col("data"), "hour")) { rows =>
        rows.map(r => (r.getAs[String]("topic"), r.getAs[Long]("window_start_sec")) ->
          ((r.getAs[Long]("n_msgs"), r.getAs[Long]("payload_bytes")))).toMap == hourly
      }
  }

  def pass(ctx: Ctx, p: Pass, traced: Boolean): Unit = {
    val rng = new Random(ctx.seed * 31 + 7)
    scanOrder = rng.shuffle((0 until 6).toVector)
    scans = 0
    rowsReturned = 0L
    pointFiles.clear()
    p.start()
    while (!p.done) clientSession(ctx, p, rng, traced)
    p.stop()
  }

  def layers(ctx: Ctx, p: Pass, c: SparkCounters): Map[String, Double] = {
    val self = Main.medianSelfMs(p.tracer.spans)
    val files = Proc.dataFiles(new File(store))
    val bytes = files.map(_.length).sum.toDouble
    val ops = Seq("find_by_id", "find_by_session", "count", "unique_sessions", "find",
      "sort_limit", "latest_snapshot", "monitor_rates")
    ops.map(o => s"store.${o}_ms" -> self.getOrElse(s"store.$o", 0.0)).toMap ++ Map(
      "lookup.point_p50_ms" -> Stats.median(p.samples("point")),
      "lookup.scan_p50_ms" -> Stats.median(p.samples("scan")),
      "api.load_ms" -> self.getOrElse("api.load", 0.0),
      "store.files" -> files.size.toDouble,
      "store.bytes" -> bytes,
      "store.session_partitions" -> Option(new File(store).listFiles())
        .map(_.count(_.getName.startsWith("session="))).getOrElse(0).toDouble,
      "store.bytes_per_doc_byte" -> bytes / inputBytes,
      "store.rows_examined_per_row_returned" ->
        c.total("spark.scan_rows") / math.max(rowsReturned, 1L),
      "store.files_read_per_point" ->
        (if (pointFiles.isEmpty) 0.0 else Stats.median(pointFiles.toSeq)))
  }
}
