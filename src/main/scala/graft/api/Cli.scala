package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Operational entry points — the Spark twins of the reference's three
  * executables (`scripts/run_scenario.py`, `scripts/run_monitoring.py`,
  * `scripts/convert`), with the reference's parameter names. Each is a
  * thin `main` over machinery that already exists and is spec-tested
  * elsewhere (`api.Scenario`, `streaming.GatedCapture`,
  * `store.DocumentStore`, `store.Convert`, `sources.TopicStoreLog`); the
  * wrappers only parse flags, resolve the scenario, and wire frames.
  *
  * Flags accept `--name value`, `--name=value`, and the ROS private-param
  * spellings `_name:=value` / `~name:=value` the reference's launch files
  * use. The live ROS topic graph has no analog here, so every wrapper
  * takes `--input <path>` (anything [[Graft.load]] opens: parquet,
  * `.topic_store` captures, catalog tables) and drains it batch-style —
  * the operational shape of a capture REPLAY, which is what a Spark
  * cluster actually runs.
  */
object Cli {

  /** A dash-leading token that is a NUMBER, not a flag: `-1`, `-0.5`,
    * `-.5`, `-2e3`. argparse makes the same call for `--stabilise_time
    * -1`; its matcher is `-\d+|-\d*\.\d+`, which this extends in ONE
    * deliberate direction — exponent forms (`-2e3`, `-1.5e-2`) also
    * count as values, because the reference's float flags
    * (stabilise_time etc.) are parsed with float() which accepts them
    * and a scripted caller writing `-2e3` means the number, never a
    * flag bundle.
    */
  private val NegNumber = """-(?:\d+|\d*\.\d+)(?:[eE][-+]?\d+)?""".r

  /** Parse `--k v` / `--k=v` / `_k:=v` / `~k:=v` into a map. */
  private[graft] def parseArgs(args: Array[String]): Map[String, String] = {
    val out = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      def put(k: String, v: String): Unit = out(k.stripPrefix("-")) = v
      // a bare negative number can only be a value; as a flag name it is
      // a silent misparse (`--stabilise_time -1` putting flag "1"), so a
      // digit short flag is rejected below and the value branch admits it
      def isValue(t: String): Boolean =
        !t.startsWith("-") || NegNumber.matches(t)
      if (a.startsWith("--") && a.contains("=")) {
        val Array(k, v) = a.stripPrefix("--").split("=", 2); put(k, v)
      } else if (a.startsWith("--") ||
                 (a.startsWith("-") && a.length == 2 && !a(1).isDigit)) {
        val k = a.dropWhile(_ == '-')
        // any other "-"-leading token is the NEXT flag, never this one's
        // value (a valueless --flag followed by -o must not swallow the -o)
        if (i + 1 < args.length && isValue(args(i + 1))) {
          put(k, args(i + 1)); i += 1
        } else put(k, "true")
      } else if ((a.startsWith("_") || a.startsWith("~")) && a.contains(":=")) {
        val Array(k, v) = a.drop(1).split(":=", 2); put(k, v)
      } else throw new IllegalArgumentException(s"unrecognized argument '$a'")
      i += 1
    }
    out.toMap
  }

  /** First present flag among `names` IN THE GIVEN ORDER (list the long
    * spelling first so `--input` keeps beating `-i` when both appear —
    * the precedence ConvertCli always had), or an argparse-style usage
    * error naming every accepted spelling short-form-first — a missing
    * required flag must read as "convert requires -i/--input", not
    * NoSuchElementException.
    */
  private[graft] def required(flags: Map[String, String], what: String,
                              names: String*): String =
    names.flatMap(flags.get).headOption.getOrElse(
      throw new IllegalArgumentException(s"$what requires " +
        names.sortBy(_.length)
          .map(n => if (n.length == 1) s"-$n" else s"--$n").mkString("/")))

  private[api] def session(appName: String): SparkSession =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
      .getOrCreate()

  /** Run `f` under a session, creating one only if the JVM has none —
    * and stopping it only if this call created it (so specs can invoke
    * the real `main`s without losing their shared test session).
    */
  private[api] def withSession[A](appName: String)(f: SparkSession => A): A = {
    val existing = SparkSession.getDefaultSession
    val spark = existing.getOrElse(session(appName))
    try f(spark) finally if (existing.isEmpty) spark.stop()
  }

  /** TCPROS stream reader from the shared live wire flags: masterless
    * `--endpoints topic=host:port;…`, or `--master http://host:11311`
    * with an explicit topic list (lazily computed — only a master-backed
    * reader needs it). Shared by [[RunScenario.live]] and
    * [[RunMonitoring.live]], whose flag contracts must not drift apart.
    */
  private[api] def rosReader(spark: SparkSession, flags: Map[String, String],
                             what: String, topics: => Seq[String],
                             walDir: String): org.apache.spark.sql.DataFrame = {
    val reader0 = spark.readStream.format("rostcp")
      .option("walDir", walDir)
      .option("callerid", flags.getOrElse("callerid", "/graft"))
    (flags.get("endpoints") match {
      case Some(e) => reader0.option("endpoints", e)
      case None =>
        reader0.option("master", required(flags, what, "master"))
          .option("topics", topics.mkString(","))
    }).load()
  }

  /** Resolve a scenario's write destination: filesystem scenarios write
    * at `storage.location`; database scenarios resolve their MongoDB URI
    * exactly like the reference (validating `storage.config`) and then
    * map it onto a parquet store root (`--store_root`, one subdirectory
    * per context) — there is no MongoDB driver in a Spark analytics
    * cluster, the parquet document store IS the database here.
    */
  private[api] def destination(sc: Scenario, flags: Map[String, String]): String =
    sc.storage("method") match {
      case "filesystem" => sc.storage("location")
      case _ =>
        val uri = sc.databaseUri // validates config like the reference
        val root = flags.getOrElse("store_root", throw new IllegalArgumentException(
          s"scenario stores to '$uri' — pass --store_root <dir> to map the " +
            "database onto a parquet store root"))
        s"$root/${sc.context}"
    }
}

/** `run_scenario` — parameters as `scripts/run_scenario.py:18-25`:
  * `scenario_file`, `stabilise_time`, `verbose`, `queue_size`, `threads`,
  * `threads_auto`, `use_grid_fs`; plus the replay-source `--input` and
  * the column mapping (`--topic_col topic --ts_col ts --id_col _id
  * --session_col session --msg_col payload`, each defaulting to the name
  * after it here). Collection methods map as: `timer` / `action_server`
  * drain everything; `event` keeps the watched topic; `action_server_video`
  * gates the watched topic through the control topic's start/stop
  * messages ([[graft.streaming.GatedCapture]] — scenario.py:101-137).
  * Captured rows are stamped with the reference meta columns and appended
  * session-partitioned.
  */
object RunScenario {
  def run(spark: SparkSession, args: Array[String]): String = {
    val flags = Cli.parseArgs(args)
    val stabilise = flags.getOrElse("stabilise_time", "0").toDouble
    if (stabilise > 0) Thread.sleep((stabilise * 1000).toLong)
    val sc = Scenario.parseFile(Cli.required(flags, "run_scenario", "scenario_file"))
    val dest = Cli.destination(sc, flags)
    val verbose = flags.getOrElse("verbose", "true").toBoolean

    val topicCol = flags.getOrElse("topic_col", "topic")
    val tsCol = flags.getOrElse("ts_col", "ts")
    val idCol = flags.getOrElse("id_col", "_id")
    val sessionCol = flags.getOrElse("session_col", "session")
    val msgCol = flags.getOrElse("msg_col", "payload")

    val input = Graft.load(spark, Cli.required(flags, "run_scenario", "input"))
    def ofTopic(t: String): DataFrame = input.filter(col(topicCol) === t)

    val captured: DataFrame = sc.collection("method") match {
      case "action_server_video" =>
        graft.streaming.GatedCapture.captureGated(
          ofTopic(sc.collection("action_server_name"))
            .select(lit(0L).as("g"), unix_micros(col(tsCol)).as("ts_us"),
              col(msgCol).cast("string").as("msg")),
          ofTopic(sc.collection("watch_topic"))
            .withColumn("g", lit(0L))
            .withColumn("ts_us", unix_micros(col(tsCol))),
          col("g"), col("ts_us"), col("msg"))
          .drop("g", "ts_us")
      case "event" => ofTopic(sc.collection("watch_topic"))
      case _ => input // timer / action_server: every replayed row is a save
    }

    val stamped = graft.model.Documents.stampMeta(captured,
      col(idCol), col(sessionCol), col(tsCol))
    stamped.write.mode("append").partitionBy("session").parquet(dest)
    if (flags.getOrElse("use_grid_fs", "false").toBoolean)
      graft.store.DocumentStore.chunk(stamped, col("_id"),
          col(msgCol).cast("string"), chunkSize = 255 * 1024)
        .write.mode("append").parquet(s"$dest@chunks")
    if (verbose) println(s"[run_scenario] context='${sc.context}' " +
      s"method=${sc.collection("method")} captured -> $dest")
    dest
  }

  /** LIVE collection — the reference's actual operational mode
    * (`run_scenario.py` subscribes to the scenario's topics and saves as
    * it goes): the TCPROS source feeds the scenario's collection method
    * end-to-end, exactly-once into the destination log.
    *
    * Wire flags: `--endpoints topic=host:port;…` (masterless), or
    * `--master http://host:11311` with topics taken from the scenario
    * itself (data tree + watch/control topics — what rospy would
    * subscribe); `--wal_dir` (default `<dest>@wal`), `--checkpoint`
    * (default `<dest>@ckpt`). Methods: `timer` composes the per-tick
    * snapshot tree (`SubscriberTree`, tick = `timer_delay`); `event`
    * captures the watched topic's rows; `action_server_video` gates the
    * watched topic through the control topic's start/stop messages
    * (the streaming gate machine); anything else captures every row.
    * Returns the running query — `main` blocks on it, specs drain it.
    */
  def live(spark: SparkSession, args: Array[String])
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val flags = Cli.parseArgs(args)
    val sc = Scenario.parseFile(Cli.required(flags, "run_scenario", "scenario_file"))
    val dest = Cli.destination(sc, flags)
    implicit val s: SparkSession = spark
    val walDir = flags.getOrElse("wal_dir", s"$dest@wal")
    val checkpoint = flags.getOrElse("checkpoint", s"$dest@ckpt")
    val trigger = org.apache.spark.sql.streaming.Trigger
      .ProcessingTime(flags.getOrElse("trigger_ms", "500").toLong)
    val msgs = Cli.rosReader(spark, flags, "run_scenario live",
      (sc.data.values.toSeq ++
        sc.collection.get("watch_topic") ++
        sc.collection.get("action_server_name")).distinct,
      walDir).select(
      lit(sc.context).as("session"), col("topic"), col("seq"), col("recv_us"),
      (col("recv_us") / lit(1000000L)).cast("long").as("ts_sec"),
      graft.sources.RosTcp.stdStringCol(col("raw")).as("payload"))
    def stamped(df: DataFrame): DataFrame =
      graft.model.Documents.stampMeta(df, col("seq"), col("session"),
        expr("timestamp_micros(recv_us)"))
    sc.collection("method") match {
      case "timer" =>
        val tick = math.max(1L,
          sc.collection.getOrElse("timer_delay", "1").toDouble.toLong)
        val byName = sc.data.map { case (name, topic) =>
          name -> msgs.filter(col("topic") === topic)
            .select("session", "ts_sec", "payload")
        }
        graft.streaming.Monitor.captureExactlyOnce(
          graft.streaming.SubscriberTree.compose(byName, tick).toDF(),
          dest, checkpoint, trigger)
      case "event" =>
        graft.streaming.Monitor.captureExactlyOnce(
          stamped(msgs.filter(col("topic") === sc.collection("watch_topic"))),
          dest, checkpoint, trigger)
      case "action_server_video" =>
        // one global gate, exactly the batch replay path's shape
        val control = msgs
          .filter(col("topic") === sc.collection("action_server_name"))
          .select(lit(0L).as("g"), col("recv_us").as("ts_us"),
            col("payload").as("msg"), col("seq"))
        val data = msgs.filter(col("topic") === sc.collection("watch_topic"))
          .select(lit(0L).as("g"), col("recv_us").as("ts_us"), col("seq"))
        graft.streaming.Monitor.captureGatedToLog(
          graft.streaming.GatedCapture.gatedEvents(
            control, data, col("g"), col("ts_us"), col("msg"), col("seq")),
          dest, checkpoint, trigger)
      case _ => // timer-less action_server etc.: every arrival is a save
        graft.streaming.Monitor.captureExactlyOnce(stamped(msgs), dest,
          checkpoint, trigger)
    }
  }

  def main(args: Array[String]): Unit =
    Cli.withSession("graft_run_scenario") { spark =>
      val flags = Cli.parseArgs(args)
      if (flags.contains("endpoints") || flags.contains("master"))
        live(spark, args).awaitTermination()
      else { run(spark, args); () }
    }
}

/** `run_monitoring` — parameters as `scripts/run_monitoring.py:17-21`:
  * `scenario_file`, `verbose`, `no_log`; plus `--input` and the column
  * mapping of [[RunScenario]]. Computes the per-topic rate/size monitor
  * table (`DocumentStore.monitorRates` — the batch twin of the streaming
  * monitor) over the scenario's watched topics; unless `no_log`, the
  * table is written beside the scenario's destination as
  * `<dest>@monitor`; `verbose` prints it.
  */
object RunMonitoring {
  def run(spark: SparkSession, args: Array[String]): DataFrame = {
    val flags = Cli.parseArgs(args)
    val sc = Scenario.parseFile(Cli.required(flags, "run_monitoring", "scenario_file"))
    val verbose = flags.getOrElse("verbose", "true").toBoolean
    val noLog = flags.getOrElse("no_log", "false").toBoolean

    val topicCol = flags.getOrElse("topic_col", "topic")
    val tsCol = flags.getOrElse("ts_col", "ts")
    val msgCol = flags.getOrElse("msg_col", "payload")

    val input = Graft.load(spark, Cli.required(flags, "run_monitoring", "input"))
    val watched = input.filter(col(topicCol).isin(sc.data.values.toSeq.map(lit): _*))
    val rates = graft.store.DocumentStore.monitorRates(watched,
      col(topicCol), col(tsCol), col(msgCol).cast("string"))
    // one aggregation pass feeds both the log write and the verbose print
    if (!noLog || verbose) rates.persist()
    try {
      if (!noLog)
        rates.write.mode("overwrite").parquet(s"${Cli.destination(sc, flags)}@monitor")
      if (verbose) rates.orderBy(topicCol).collect()
        .foreach(r => println(s"[run_monitoring] $r"))
    } finally if (!noLog || verbose) rates.unpersist()
    rates
  }

  /** LIVE monitoring — the reference's second operational entry point is
    * a live subscriber (`run_monitoring.py:17-21` → `ScenarioMonitor`,
    * `scenario.py:238-274`: subscribe to the scenario's data-tree topics
    * and report per-topic traffic as it arrives). Same wire flags as
    * [[RunScenario.live]] (`--endpoints` masterless, or `--master` with
    * topics from the scenario's data tree — what rospy would subscribe);
    * the windowed per-topic rate/size aggregate is
    * [[graft.streaming.Monitor.rates]] (`--window`/`--watermark` size
    * it). Each micro-batch's UPDATED windows append into
    * `<dest>@monitor` through `Monitor.writeLogBatch`, the maintained
    * logs' exactly-once writer (latest row per (topic, window) is the
    * current figure, and the history is time-travelable like every
    * maintained log) unless `no_log`;
    * `verbose` prints them. Returns the running query — `main` blocks
    * on it, specs drain it.
    */
  def live(spark: SparkSession, args: Array[String])
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val flags = Cli.parseArgs(args)
    val sc = Scenario.parseFile(
      Cli.required(flags, "run_monitoring", "scenario_file"))
    val verbose = flags.getOrElse("verbose", "true").toBoolean
    val noLog = flags.getOrElse("no_log", "false").toBoolean
    val dest = Cli.destination(sc, flags)
    val walDir = flags.getOrElse("wal_dir", s"$dest@monitor_wal")
    val checkpoint = flags.getOrElse("checkpoint", s"$dest@monitor_ckpt")
    val trigger = org.apache.spark.sql.streaming.Trigger
      .ProcessingTime(flags.getOrElse("trigger_ms", "500").toLong)
    val msgs = Cli.rosReader(spark, flags, "run_monitoring live",
        sc.data.values.toSeq.distinct, walDir)
      .select(col("topic"),
        expr("timestamp_micros(recv_us)").as("ts"),
        graft.sources.RosTcp.stdStringCol(col("raw")).as("payload"))
    val rates = graft.streaming.Monitor.rates(msgs,
      col("topic"), col("ts"), col("payload"),
      windowLen = flags.getOrElse("window", "1 hour"),
      watermarkDelay = flags.getOrElse("watermark", "10 minutes"))
    // UPDATE mode: a monitor must report windows while they are still
    // open (append would sit on a window until the watermark closes it)
    rates.writeStream
      .outputMode("update")
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         batchId: Long) =>
          // collect UNCONDITIONALLY: Spark validates that foreachBatch
          // drains every partition (state-store commit check), so the
          // no_log/quiet paths must still process the batch — and the
          // table is O(topics × open windows), driver-sized by design.
          // The log write and the verbose print then share the rows.
          val rows = df.collect()
          if (!noLog) graft.streaming.Monitor.writeLogBatch(
            df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema),
            batchId, s"$dest@monitor")
          if (verbose) rows.sortBy(_.getString(0))
            .foreach(r => println(s"[run_monitoring] $r"))
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }

  def main(args: Array[String]): Unit =
    Cli.withSession("graft_run_monitoring") { spark =>
      val flags = Cli.parseArgs(args)
      if (flags.contains("endpoints") || flags.contains("master"))
        live(spark, args).awaitTermination()
      else { run(spark, args); () }
    }
}

/** `convert` — flags as the reference CLI (`convert.py:262-273`):
  * `-i/--input`, `-o/--output`, `-c/--collection` (subdirectory/table
  * under a store-root input), `-q/--query` (flat JSON equality dict),
  * `-p/--projection` (JSON `{"col": 1}` dict); plus `--key` naming the
  * document-id column the incremental clone dedups on (default `_id`).
  * An `-o` ending in `.topic_store` exports the reference's native log
  * format ([[graft.sources.TopicStoreLog]]); anything else is the
  * incremental parquet migrate (`Convert.migrate` — append only the
  * missing documents).
  */
object ConvertCli {
  private def jsonMap(s: String): Map[String, Object] = {
    val m = new org.yaml.snakeyaml.Yaml()
      .load[java.util.Map[String, Object]](s)
    if (m == null) Map.empty
    else { import scala.jdk.CollectionConverters._; m.asScala.toMap }
  }

  def run(spark: SparkSession, args: Array[String]): Long = {
    val flags = Cli.parseArgs(args)
    val inPath = Cli.required(flags, "convert", "input", "i")
    val outPath = Cli.required(flags, "convert", "output", "o")
    val key = flags.getOrElse("key", "_id")

    val base = flags.get("collection").orElse(flags.get("c")) match {
      case Some(c) => Graft.load(spark, s"$inPath/$c")
      case None => Graft.load(spark, inPath)
    }
    val queried = flags.get("query").orElse(flags.get("q")).map(jsonMap)
      .filter(_.nonEmpty)
      .map(_.map { case (k, v) => col(k) === lit(v) }.reduce(_ && _))
      .map(base.filter).getOrElse(base)
    val projected = flags.get("projection").orElse(flags.get("p")).map(jsonMap)
      .filter(_.nonEmpty)
      .map { p =>
        // Mongo projection semantics: {"col": 1, ...} keeps the named
        // columns (+ the id key); an all-zero dict {"col": 0, ...} keeps
        // everything EXCEPT the named columns (the key always survives —
        // the migrate dedup needs it)
        val inc = p.collect { case (k, v) if String.valueOf(v) != "0" => k }.toSeq
        val keep =
          if (inc.nonEmpty) (inc :+ key).distinct
          else queried.columns.toSeq.filter(c => c == key || !p.contains(c))
        queried.select(keep.map(col): _*)
      }.getOrElse(queried)

    val n =
      if (outPath.endsWith(".topic_store")) {
        // the native log stores one canonical-JSON document per record; a
        // frame already carrying `doc` exports verbatim (a topic_store →
        // topic_store copy), anything else serializes its rows
        val docs =
          if (projected.columns.contains("doc")) projected.select("doc")
          else projected.select(
            to_json(struct(projected.columns.map(col): _*)).as("doc"))
        docs.persist() // write + count off one pipeline execution
        try {
          graft.sources.TopicStoreLog.write(docs, outPath)
          docs.count()
        } finally docs.unpersist()
      } else graft.store.Convert.migrate(spark, projected, outPath, key)
    println(s"[convert] $inPath -> $outPath ($n documents)")
    n
  }

  def main(args: Array[String]): Unit =
    Cli.withSession("graft_convert") { spark => run(spark, args); () }
}
