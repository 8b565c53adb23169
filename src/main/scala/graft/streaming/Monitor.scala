package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** Structured-Streaming twin of the reference's capture loop and monitor.
  *
  * - `ScenarioRunner` (reference src/topic_store/scenario.py:30-236) snapshots
  *   a topic tree on a trigger (timer / event) and appends to storage: here
  *   `capture` = readStream → stamp meta → writeStream, with
  *   `Trigger.ProcessingTime` as the timer and `Trigger.AvailableNow` for
  *   drain-and-stop. The reference's `LoadBalancer` thread pool
  *   (load_balancer.py) is subsumed by partition parallelism.
  * - `ScenarioMonitor` (scenario.py:238-274) reports per-topic rate + size:
  *   here a watermarked tumbling-window aggregation with incremental state,
  *   O(topics × open windows) instead of an unbounded deque.
  */
object Monitor {

  /** One micro-batch's rows into their own `__batch_id=N` partition: the
    * only writer of a maintained log, and so the whole durability
    * contract. Dynamic partition overwrite makes a replayed batch rewrite
    * its partition instead of appending duplicates. A batch whose rows
    * are empty still leaves its (empty) `__batch_id=N` directory, so every
    * committed batch is visible to [[readLogAsOf]] and [[compactLog]];
    * Spark's reader skips the empty directory. `partitionCols` nest below
    * `__batch_id` (the cell index's `cell=`).
    */
  private[graft] def writeLogBatch(df: DataFrame, batchId: Long, path: String,
                                   partitionCols: Seq[String] = Nil): Unit = {
    df.withColumn("__batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__batch_id" +: partitionCols: _*)
      .parquet(path)
    val dir = new org.apache.hadoop.fs.Path(path, s"__batch_id=$batchId")
    dir.getFileSystem(df.sparkSession.sessionState.newHadoopConf()).mkdirs(dir)
  }

  /** The one maintained-log sink: each micro-batch of `stream` folds
    * through `partial` and lands via [[writeLogBatch]], exactly-once — a
    * batch Structured Streaming replays (restart between the sink write
    * and the checkpoint commit) rewrites its own `__batch_id` partition
    * instead of appending duplicates. Partials must be deterministic
    * given the batch (and the checkpointed state), so a replay rewrites
    * the same rows. `outputMode` matters only for a stateful `stream`:
    * `update` for operators that declare it (the gate and journey
    * machines), `append` otherwise.
    */
  private def maintainLog(stream: DataFrame, path: String, checkpoint: String,
                          trigger: Trigger, partitionCols: Seq[String] = Nil,
                          outputMode: String = "append")
                         (partial: DataFrame => DataFrame): StreamingQuery =
    stream.writeStream
      .outputMode(outputMode)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        writeLogBatch(partial(df.toDF()), batchId, path, partitionCols)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Per-topic message rate and payload size per tumbling window.
    * Same aggregation as the batch `DocumentStore.monitorRates`, expressed
    * over an unbounded stream; the watermark bounds state so this runs
    * forever at constant memory.
    */
  def rates(stream: DataFrame, topicCol: Column, tsCol: Column, payloadCol: Column,
            windowLen: String = "1 hour", watermarkDelay: String = "10 minutes"): DataFrame =
    stream
      .withColumn("__ts", tsCol)
      .withWatermark("__ts", watermarkDelay)
      .groupBy(topicCol.as("topic"), window(col("__ts"), windowLen))
      .agg(
        count(lit(1)).as("n_msgs"),
        sum(length(payloadCol)).as("payload_bytes"))
      .select(col("topic"), col("window.start").as("window_start"),
        col("n_msgs"), col("payload_bytes"))

  /** Streaming OHLC downsample — the live twin of
    * `graft.ops.Analytics.resampleOhlc`. Open/close ride a
    * min/max(struct(ts_us, event_id, value)) inside the windowed
    * aggregate (struct comparison is lexicographic, event_id breaks ts
    * ties — deterministic at any parallelism, unlike bare min_by/max_by),
    * so the whole bar is ONE incremental aggregation: O(series × open
    * windows) state, no per-window buffering of events, watermark closes
    * bars for append-mode sinks.
    */
  def ohlc(stream: DataFrame, seriesCol: Column, tsCol: Column, valueCol: Column,
           idCol: Column, windowLen: String = "1 hour",
           watermarkDelay: String = "10 minutes"): DataFrame =
    stream
      .withColumn("__ts", tsCol)
      .withColumn("__us", unix_micros(tsCol))
      .withWatermark("__ts", watermarkDelay)
      .groupBy(seriesCol.as("series"), window(col("__ts"), windowLen))
      .agg(
        min(struct(col("__us"), idCol.as("id"), valueCol.as("v")))
          .getField("v").as("open"),
        max(struct(col("__us"), idCol.as("id"), valueCol.as("v")))
          .getField("v").as("close"),
        min(valueCol).as("lo"),
        max(valueCol).as("hi"),
        count(lit(1)).as("n"))
      .select(col("series"), col("window.start").as("window_start"),
        col("open"), col("close"), col("lo"), col("hi"), col("n"))

  /** Streaming heavy-hitter candidates: the Misra-Gries sketch
    * (`graft_mg_sketch`, a mergeable TypedImperativeAggregate) as the
    * incremental state of a global streaming aggregate. State is O(k)
    * BYTES TOTAL — not O(distinct items) — forever, regardless of stream
    * cardinality; every item with frequency > n/(k+1) of the stream so
    * far is guaranteed present (no false negatives, same bound as the
    * batch op it twins, TextAnalysis.heavyHitters). Run in complete
    * output mode; confirm exact counts batch-side over the candidates,
    * exactly like the batch confirm pass.
    */
  def heavyCandidatesStream(stream: DataFrame, itemCol: Column,
                            k: Int = 4096): DataFrame = {
    graft.functions.FreqFunctions.register(stream.sparkSession)
    stream.select(itemCol.cast("string").as("item"))
      .filter(col("item").isNotNull)
      .groupBy()
      .agg(expr(s"graft_mg_sketch(item, $k)").as("candidates"),
        count(lit(1)).as("n"))
  }

  /** Capture stream → storage: stamp reference-style meta
    * (data.py:28-34) and write partitioned by session so session-scoped
    * reads partition-prune (SURVEY.md §5).
    */
  def capture(stream: DataFrame, idCol: Column, sessionCol: Column, tsCol: Column,
              path: String, checkpoint: String,
              trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream
      .withColumn("_id", idCol)
      .withColumn("session", sessionCol)
      .withColumn("sys_time_sec", tsCol.cast("long"))
      .writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("session")
      .trigger(trigger)
      .start()

  /** Capture with EXACTLY-ONCE file output: the rows as they arrive,
    * through [[maintainLog]]. The plain file sink of [[capture]] has an
    * at-least-once window (restart between sink write and checkpoint
    * commit); this is the idempotent-sink pattern the reference's
    * append-only writers cannot express.
    */
  def captureExactlyOnce(stream: DataFrame, path: String, checkpoint: String,
                         trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    maintainLog(stream, path, checkpoint, trigger)(identity)

  /** Streaming twin of incremental aggregate maintenance
    * (`Analytics.eventStatsPartial/Merge`, §2b 28ah): each micro-batch
    * logs its O(groups) PARTIAL-aggregate rows through [[maintainLog]].
    * The queryable aggregate is merge-on-read via [[readEventStats]];
    * the log compacts with [[compactLog]]. Raw events are never
    * re-scanned — the maintenance cost per batch is the batch itself
    * plus O(groups).
    */
  def maintainEventStats(stream: DataFrame, path: String, checkpoint: String,
                         trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    maintainLog(stream, path, checkpoint, trigger)(graft.ops.Analytics.eventStatsPartial)

  /** Merge-on-read of the [[maintainEventStats]] partial log: the final
    * aggregate, equal (bit-for-bit, exact integer micros) to a
    * single-pass recompute over every event ever streamed.
    */
  def readEventStats(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    graft.ops.Analytics.eventStatsMerge(
      readLog(spark, path))

  /** Maintained hourly bucket log — the ts family's shared sufficient
    * statistic, kept current at the ingest door: each micro-batch folds
    * to its per-(series, hour) partial (sum, count) rows
    * (`Analytics.hourlyPartial` — O(series × hours touched), map-side
    * combined) logged through [[maintainLog]]. [[readHourlyBuckets]]
    * merges on read into the exact-integer bucket-mean table that acf /
    * changepoint / CUSUM / gap fill / seasonal profile all start from —
    * raw events are never re-scanned to refresh a time-series analysis.
    */
  def maintainHourlyBuckets(stream: DataFrame, path: String, checkpoint: String,
                            bucketSec: Long = 3600L,
                            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    maintainLog(stream, path, checkpoint, trigger)(
      graft.ops.Analytics.hourlyPartial(_, bucketSec))

  /** Merge-on-read of the [[maintainHourlyBuckets]] log: (series, h, x)
    * bit-equal to a single-pass bucketing of every event ever streamed.
    */
  def readHourlyBuckets(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    graft.ops.Analytics.hourlyMerge(
      readLog(spark, path))

  /** Streaming vocabulary maintenance — the tokenizer-pipeline twin of
    * [[maintainEventStats]]: each micro-batch's documents fold to their
    * word-frequency PARTIAL counts (one map-side-combined groupBy over
    * the batch — O(batch vocab) rows), logged through [[maintainLog]].
    * [[readWordCounts]] is the merge-on-read view: the same (word, cnt)
    * table `TextAnalysis.bpePairCounts`/`bpeTrain` start from, so BPE
    * merge candidates stay current against an ingest stream without the
    * corpus ever being re-tokenized.
    */
  def maintainWordCounts(stream: DataFrame, textCol: Column,
                         path: String, checkpoint: String,
                         trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    maintainLog(stream, path, checkpoint, trigger)(
      _.select(explode(graft.ops.TextAnalysis.tokens(textCol)).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt")))

  /** Merge-on-read of the [[maintainWordCounts]] partial log: the exact
    * corpus word-frequency table (counts are associative integer sums —
    * equal to a batch recompute over everything ever streamed).
    */
  def readWordCounts(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    readLog(spark, path)
      .groupBy("word").agg(sum("cnt").as("cnt"))

  /** Maintained deterministic weighted sample — the E-S sampler
    * (`TextAnalysis.weightedSample`) kept current at the ingest door.
    * The Efraimidis–Spirakis priority is a pure hash of (id, weight), so
    * top-k-by-priority is MERGEABLE: top-k of a union is the top-k of
    * the parts' top-k's — each micro-batch lands only its own top-k
    * (O(k) rows per batch regardless of batch size), and the
    * merge-on-read view equals the batch sampler over everything ever
    * streamed EXACTLY, not approximately (contrast reservoir sampling,
    * whose state depends on arrival order and an RNG). Ids must be
    * unique across the stream — the standard ingest contract every
    * maintained log here shares. Compact with
    * `compactLog(spark, path, fold = sampleFold(idColName, k))` — the
    * fold re-applies the same top-k, so compaction preserves the sample
    * bit-for-bit.
    */
  def maintainSample(stream: DataFrame, idColName: String, weightCol: Column,
                     k: Int, path: String, checkpoint: String,
                     trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    maintainLog(stream, path, checkpoint, trigger)(
      _.filter(weightCol > 0)
        .withColumn("__es_score", graft.ops.TextAnalysis.esScore(idColName, weightCol))
        .orderBy(col("__es_score").desc, col(idColName))
        .limit(k))

  /** Maintained A/B experiment cells — 28cd's live half: the per-user
    * (convs, cents) cells are ADDITIVE integers, so each micro-batch
    * lands only its own per-user partial aggregate (O(active users per
    * batch) rows, through [[maintainLog]]) and the merge-on-read sum
    * equals the batch `Analytics.abUserCells` over everything ever
    * streamed exactly.
    * The variant split is derived from the id at READ time (one md5
    * expression shared with the batch op), so the log is
    * experiment-epoch-agnostic. The lift and chi-square views run the
    * SAME epilogues as the batch readouts (`abLiftFromCells` /
    * `abChiSquareFromCells`) — definitionally identical, spec-pinned.
    */
  def maintainAbCells(stream: DataFrame, path: String, checkpoint: String,
                      convValue: Double = 150.0,
                      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    maintainLog(stream, path, checkpoint, trigger)(
      graft.ops.Analytics.abUserCells(_, convValue))

  /** Maintained journey-transition log — 28cx's live half: the Markov
    * attribution chain kept current at the ingest door. The
    * `Attribution.transitionsStream` machine emits ADDITIVE (src, dst,
    * n) partials (a conversion's journey exactly once at the
    * conversion, a non-converter's at idle reap), each micro-batch's
    * partial sums are logged through [[maintainLog]] (update mode, as
    * the machine declares), and the merge-on-read sum is the transition
    * matrix. `readMarkovAttribution` then runs the SAME exact-rational
    * solve as the batch readout
    * (`Analytics.markovAttribution` — shared epilogue, integer inputs,
    * bit-equal by construction).
    */
  def maintainJourneyTransitions(stream: org.apache.spark.sql.Dataset[Attribution.JEvent],
                                 path: String, checkpoint: String,
                                 idleTimeoutMs: Long = 30L * 24 * 3600 * 1000,
                                 trigger: Trigger = Trigger.AvailableNow())
                                (implicit spark: org.apache.spark.sql.SparkSession): StreamingQuery =
    maintainLog(Attribution.transitionsStream(stream, idleTimeoutMs = idleTimeoutMs)
      .toDF(), path, checkpoint, trigger, outputMode = "update")(journeyTransFold)

  /** The additive merge shared by [[readJourneyTransitions]] and
    * compaction of a [[maintainJourneyTransitions]] log. */
  def journeyTransFold(df: DataFrame): DataFrame =
    df.groupBy("src", "dst").agg(sum("n").as("n"))

  /** Merged transition matrix of a [[maintainJourneyTransitions]] log. */
  def readJourneyTransitions(spark: org.apache.spark.sql.SparkSession,
                             path: String): DataFrame =
    journeyTransFold(readLog(spark, path))

  /** Markov removal-effect attribution served off the maintained
    * transition log — the exact-rational solve is the shared epilogue,
    * so live and batch can never disagree on the same matrix. */
  def readMarkovAttribution(spark: org.apache.spark.sql.SparkSession,
                            path: String): DataFrame =
    graft.ops.Analytics.markovAttribution(readJourneyTransitions(spark, path))

  /** Merged per-user cells of a [[maintainAbCells]] log — also the
    * compaction fold (`compactLog(spark, path, fold = df =>
    * df.groupBy("user_id").agg(...)` is spelled here once). */
  def readAbCells(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    abCellsFold(readLog(spark, path))

  /** The additive merge shared by [[readAbCells]] and compaction. */
  def abCellsFold(df: DataFrame): DataFrame =
    df.groupBy("user_id")
      .agg(sum("convs").as("convs"), sum("cents").as("cents"))

  /** The experiment readout served off the maintained log. */
  def readAbLift(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    graft.ops.Analytics.abLiftFromCells(readAbCells(spark, path))

  /** The significance stat served off the maintained log. */
  def readAbChiSquare(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    graft.ops.Analytics.abChiSquareFromCells(readAbCells(spark, path))

  /** Welch's t on per-user revenue served off the maintained cells log —
    * the same `abTTestFromCells` expression tree as the batch readout,
    * so live and batch can never disagree (the shared-epilogue law). */
  def readAbTTest(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    graft.ops.Analytics.abTTestFromCells(readAbCells(spark, path))

  /** The tie-corrected Mann–Whitney rank-sum served off the maintained
    * cells log (shared `abMannWhitneyFromCells` epilogue). */
  def readAbMannWhitney(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    graft.ops.Analytics.abMannWhitneyFromCells(readAbCells(spark, path))

  /** The top-k fold shared by [[readSample]] and the compaction of a
    * [[maintainSample]] log. */
  def sampleFold(idColName: String, k: Int): DataFrame => DataFrame =
    df => df.orderBy(col("__es_score").desc, col(idColName)).limit(k)

  /** Merge-on-read of the [[maintainSample]] log: the exact global E-S
    * sample of everything ever streamed (the mergeability law above). */
  def readSample(spark: org.apache.spark.sql.SparkSession, path: String,
                 idColName: String, k: Int): DataFrame =
    sampleFold(idColName, k)(readLog(spark, path)).drop("__es_score")

  /** Maintained skip-gram co-occurrence log — the embedding-trainer twin
    * of [[maintainWordCounts]]: each micro-batch's documents fold to
    * their ±window (center, context) PARTIAL pair counts
    * (`TextAnalysis.skipgramPairs` over the batch — O(batch vocab²)
    * rows at most), logged through [[maintainLog]].
    * With [[readWordCounts]] (the negative-sampling distribution base,
    * `TextAnalysis.negSamplingTable` shape) this keeps BOTH word2vec
    * inputs — positive pairs and negative distribution — current at the
    * ingest door without ever re-tokenizing the corpus.
    */
  def maintainCoocCounts(stream: DataFrame, textCol: Column,
                         path: String, checkpoint: String, window: Int = 2,
                         trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    maintainLog(stream, path, checkpoint, trigger)(
      graft.ops.TextAnalysis.skipgramPairs(_, textCol, window))

  /** Merge-on-read of the [[maintainCoocCounts]] partial log: exact
    * corpus-wide (center, context) counts — associative sums, equal to
    * the batch operator over everything ever streamed.
    */
  def readCoocCounts(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    readLog(spark, path)
      .groupBy("center", "context").agg(sum("n_pairs").as("n_pairs"))

  /** Maintained Gram-matrix log — second-moment statistics for the
    * embedding corpus kept current at the ingest door: each micro-batch
    * folds to its d(d+1)/2-row integer Gram partial
    * (`Similarity.gramMatrix` — the per-partition syrk, already
    * collapsed map-side) logged through [[maintainLog]]. Because the
    * partials are micro-rounded INTEGER sums, merging is associative: the
    * read-time
    * Gram — and everything derived from it (covariance, whitening, the
    * [[graft.ops.Similarity.pcaPowerFromGram]] principal direction) —
    * is bit-equal to a batch recompute over every vector ever streamed,
    * and the corpus is never re-scanned to refresh the statistics.
    */
  def maintainGram(stream: DataFrame, path: String, checkpoint: String,
                   dims: Int = 64,
                   trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    maintainLog(stream, path, checkpoint, trigger)(
      graft.ops.Similarity.gramMatrix(_, dims))

  /** Merge-on-read of the [[maintainGram]] log: (i, j, n, sxy_micro),
    * bit-equal to `Similarity.gramMatrix` over the full streamed corpus.
    */
  def readGram(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    readLog(spark, path)
      .groupBy("i", "j")
      .agg(sum("n").as("n"), sum("sxy_micro").as("sxy_micro"))
      .orderBy("i", "j")

  /** Maintained k-means statistics log — the mini-batch-k-means shape at
    * the ingest door: each micro-batch of embeddings is assigned against
    * the FROZEN milli centroids (the integer objective of
    * `Similarity.kmeansTrain`, broadcast k×d table, one scan) and folds
    * to its (cell, dim, n, sm) Lloyd-update partial — O(k·d) rows per
    * batch regardless of batch size — logged through [[maintainLog]].
    * Partials are associative integer sums, so [[readKmeansStats]] and
    * the `kmeansUpdateFromStats` epilogue yield the EXACT next-round
    * centroids a batch Lloyd update would compute over every vector
    * ever streamed — the corpus is never re-scanned to refresh the
    * quantizer, and re-training is one epilogue + a centroid swap.
    */
  def maintainKmeansStats(stream: DataFrame, centroids: Array[Array[Long]],
                          path: String, checkpoint: String, dims: Int = 64,
                          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    maintainLog(stream, path, checkpoint, trigger)(
      graft.ops.Similarity.kmeansPartialStats(_, centroids, dims))

  /** Merge-on-read of the [[maintainKmeansStats]] log: (cell, dim, n,
    * sm), bit-equal to one `Similarity.kmeansPartialStats` pass over the
    * full streamed corpus against the same frozen centroids.
    */
  def readKmeansStats(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    readLog(spark, path)
      .groupBy("cell", "dim")
      .agg(sum("n").as("n"), sum("sm").as("sm"))
      .orderBy("cell", "dim")

  /** List a maintained log's `__batch_id` partition values from the
    * directory names — a metadata operation, never a data scan.
    */
  private def logBatchIds(spark: org.apache.spark.sql.SparkSession,
                          path: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("__batch_id="))
      .map(_.stripPrefix("__batch_id=").toLong)
  }

  /** Nested `name=value` partition directories under `dir`, in order —
    * how [[compactLog]] discovers a log's sub-partitioning (e.g. the
    * cell index's `cell=`) instead of trusting a caller to restate it.
    */
  private def nestedPartitionCols(fs: org.apache.hadoop.fs.FileSystem,
                                  dir: org.apache.hadoop.fs.Path): Seq[String] = {
    val kids = fs.listStatus(dir).filter(_.isDirectory)
      .map(_.getPath).filter(_.getName.contains("="))
    val names = kids.map(_.getName.takeWhile(_ != '=')).distinct
    if (kids.isEmpty || names.length != 1) Nil
    else names.head +: nestedPartitionCols(fs, kids.head)
  }

  /** Compact a maintained partial log — the small-file answer for every
    * per-`__batch_id` log here (48k/48r/48s/48t/48w/48x/48y/48z/48aa/
    * 48ab): a long-running stream otherwise accumulates one partition
    * per micro-batch forever. All batches BELOW the newest positive id
    * are checkpoint-committed and can never replay (Structured Streaming
    * replays at most the last batch), so they fold into one compacted
    * generation; the newest batch stays un-absorbed and replays keep
    * rewriting only it.
    *
    * Crash-safe by partition-id encoding, no manifest: a compacted
    * generation's id is `-(thru + 1)` where `thru` is the highest batch
    * it absorbed — so [[readLog]] picks the newest (most negative)
    * generation and ignores BOTH older generations and absorbed positive
    * partitions, which makes the delete step pure garbage collection:
    * it can crash halfway or re-run anytime without double counting.
    *
    * Contract: one checkpoint lineage per log. Batch ids are monotone
    * within a lineage, so any partition at an id ≤ the compacted `thru`
    * can only be replayed DUPLICATE content (invisible to readers, GC'd
    * here); restarting a compacted log from a FRESH checkpoint would
    * restart ids at 0 and is not supported — rebuild the log instead.
    * `fold` merges partials while compacting (e.g. the stats logs'
    * groupBy-sum), shrinking the generation to the aggregate's true
    * cardinality; the default keeps rows as-is (postings/index logs).
    * `partitionCols` preserves nested sub-partitioning through the
    * rewrite (the cell-partitioned ANN index keeps its `cell=` layout).
    */
  def compactLog(spark: org.apache.spark.sql.SparkSession, path: String,
                 fold: DataFrame => DataFrame = identity,
                 partitionCols: Seq[String] = Nil,
                 gc: Boolean = true): Unit = {
    val ids = logBatchIds(spark, path)
    val pos = ids.filter(_ >= 0L)
    if (pos.nonEmpty) {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val frontier = pos.max
      val prevGen = ids.filter(_ < 0L).minOption
      val prevThru = prevGen.map(g => -g - 1L).getOrElse(-1L)
      val absorb = pos.filter(id => id > prevThru && id < frontier)
      // the newest batch holding rows shows the layout: an empty batch's
      // directory says nothing, and a log without rows has nothing to fold
      if (absorb.nonEmpty) (Seq(frontier) ++ absorb.sorted.reverse ++ prevGen)
        .map(id => new org.apache.hadoop.fs.Path(p, s"__batch_id=$id"))
        .find(fs.listStatus(_).nonEmpty)
        .foreach { sample =>
          // preserve the log's sub-partitioning through the rewrite —
          // discovered from the layout itself, so a default-args call on a
          // nested log (the cell index) cannot flatten it into a mixed-depth
          // directory tree that breaks partition discovery
          val nested =
            if (partitionCols.nonEmpty) partitionCols else nestedPartitionCols(fs, sample)
          val newGen = -frontier // -(thru + 1), absorbing through frontier - 1
          writeLogBatch(fold(spark.read.parquet(path)
              .filter(col("__batch_id").isin((prevGen.toSeq ++ absorb): _*))
              .drop("__batch_id")),
            newGen, path, nested)
        }
      // garbage collection — everything already invisible to readLog.
      // For logs SERVED CONCURRENTLY, pass gc = false and run [[gcLog]]
      // a grace period past the generation write: a reader that listed
      // files before the write may otherwise lose its snapshot mid-scan
      // (readLog plans from the live listing).
      if (gc) gcLog(spark, path)
    }
  }

  /** Delete log partitions already invisible to [[readLog]]: absorbed
    * positive batches at or below the newest generation's frontier
    * (including any a fresh-checkpoint replay recreated after a previous
    * compaction) and superseded older generations. Decoupled from
    * [[compactLog]] so a concurrently-served log can defer the delete a
    * grace period past the generation write; idempotent and crash-safe —
    * visibility is decided by the partition-id encoding alone, so
    * re-running (or crashing halfway) never double counts.
    */
  def gcLog(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val ids = logBatchIds(spark, path)
    val neg = ids.filter(_ < 0L)
    if (neg.nonEmpty) {
      val gen = neg.min
      val thru = -gen - 1L
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      (neg.filter(_ != gen) ++ ids.filter(id => id >= 0L && id <= thru))
        .distinct.foreach { id =>
          fs.delete(new org.apache.hadoop.fs.Path(p, s"__batch_id=$id"), true)
        }
    }
  }

  /** Read a maintained log, compacted or not: the newest generation (if
    * any) plus every positive batch above its absorbed frontier — stale
    * generations and absorbed partials a crashed compaction left behind
    * are ignored by construction. Every `readXxx` merge-on-read view
    * goes through here, so compaction is transparent to all of them.
    */
  def readLog(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    // mergeSchema: the §3 schema-drift contract's read half — a log whose
    // later batches grew a field must read as the union with NULL
    // backfill, not whichever single footer the reader sampled
    val df = spark.read.option("mergeSchema", "true").parquet(path)
    val neg = logBatchIds(spark, path).filter(_ < 0L)
    if (neg.isEmpty) df.drop("__batch_id")
    else {
      val gen = neg.min
      val thru = -gen - 1L
      df.filter(col("__batch_id") === gen || col("__batch_id") > thru)
        .drop("__batch_id")
    }
  }

  /** Time-travel read of a maintained log: the snapshot as it stood
    * immediately after batch `asOf` committed — what an audit, a
    * reproducible-training-run manifest, or a debugging session wants
    * from a log that has kept moving since. Pure partition selection,
    * same machinery as [[readLog]]: the newest compacted generation
    * whose absorbed frontier is ≤ `asOf` (a generation REWRITES its
    * absorbed batches' content, so using it is exact, not approximate)
    * plus every positive batch in (frontier, asOf]. Snapshots older
    * than the oldest surviving data are gone by definition — compaction
    * run with `gc = false` (see [[compactLog]]/[[gcLog]]) retains past
    * partials precisely so recent as-of reads stay answerable; when a
    * needed batch has been GC'd this fails loudly instead of silently
    * returning a hole.
    */
  def readLogAsOf(spark: org.apache.spark.sql.SparkSession, path: String,
                  asOf: Long): DataFrame = {
    require(asOf >= 0L, s"asOf must be a committed batch id, got $asOf")
    val ids = logBatchIds(spark, path)
    // an asOf beyond the log head means "latest": clamp to what exists
    val head = ids.map(id => if (id < 0L) -id - 1L else id).maxOption.getOrElse(-1L)
    val upTo = math.min(asOf, head)
    val gens = ids.filter(_ < 0L).filter(g => -g - 1L <= upTo)
    val thru = gens.minOption.map(g => -g - 1L).getOrElse(-1L)
    val pos = ids.filter(id => id >= 0L && id > thru && id <= upTo).toSet
    val missing = ((thru + 1L) to upTo).filterNot(pos)
    require(missing.isEmpty,
      s"log $path cannot reconstruct batch $upTo: batches ${missing.mkString(",")} " +
        "were garbage-collected (compact with gc = false to retain as-of history)")
    val df = spark.read.option("mergeSchema", "true").parquet(path)
    val keep = gens.minOption.toSeq ++ pos
    df.filter(col("__batch_id").isin(keep: _*)).drop("__batch_id")
  }

  /** What changed between two log snapshots: multiset row diff of
    * [[readLogAsOf]] views — the audit answer to "what did batches
    * (a, b] contribute?" without replaying the stream. Emits each
    * changed row with a signed `n_delta` (positive = added since `a`,
    * negative = removed — possible when a compaction FOLD collapses
    * rows); exact multiset semantics via two count-aggregates and one
    * full outer join on the row itself, O(changed + distinct) shuffle.
    * The join is NULL-SAFE (`<=>` per column): rows containing NULL
    * columns — the bm25 log's token=NULL doc-stats rows, Hive default
    * partitions — match themselves, so an unchanged row emits nothing
    * instead of a spurious +n/−n pair.
    */
  def logDiff(spark: org.apache.spark.sql.SparkSession, path: String,
              a: Long, b: Long): DataFrame = {
    val av = readLogAsOf(spark, path, a)
    val bv = readLogAsOf(spark, path, b)
    val cols = bv.columns.toSeq
    val ac = av.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__na"))
      .select(cols.map(c => col(c).as(s"__a_$c")) :+ col("__na"): _*)
    val bc = bv.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__nb"))
    val cond = cols.map(c => col(c) <=> col(s"__a_$c")).reduce(_ && _)
    bc.join(ac, cond, "full_outer")
      .select(cols.map(c => coalesce(col(c), col(s"__a_$c")).as(c)) :+
        (coalesce(col("__nb"), lit(0L)) - coalesce(col("__na"), lit(0L)))
          .as("n_delta"): _*)
      .filter(col("n_delta") =!= 0L)
  }

  /** Maintained cell-partitioned ANN index — the IVF layout kept current
    * at the ingest door: each arriving embedding is assigned to its cell
    * against the FROZEN milli centroids (`Similarity.assignToCentroids`,
    * broadcast k×d table, one scan) and lands under
    * `__batch_id=…/cell=…` through [[maintainLog]] (a replayed batch
    * reproduces the same cell set). Probes then read ONLY their
    * cells' directories — `probeCells` plans a partition-pruned scan, so
    * ANN serving cost at 100 TB is `nprobe/k` of the corpus per query
    * batch, enforced by layout instead of a runtime filter.
    */
  def maintainCellIndex(stream: DataFrame, centroids: Array[Array[Long]],
                        path: String, checkpoint: String, dims: Int = 64,
                        trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    maintainLog(stream, path, checkpoint, trigger, partitionCols = Seq("cell"))(
      graft.ops.Similarity.cellIndexRows(_, centroids, dims))

  /** Partition-pruned read of the [[maintainCellIndex]] layout: only the
    * probed cells' directories are scanned (the `cell` predicate is a
    * partition filter, visible as PartitionFilters in the plan).
    */
  def probeCells(spark: org.apache.spark.sql.SparkSession, path: String,
                 cells: Seq[Long]): DataFrame =
    readLog(spark, path).filter(col("cell").isin(cells: _*))

  /** Maintained asset-feature log — multimodal payloads decoded ONCE, at
    * the ingest door: each micro-batch of (asset_id, kind, payload) rows
    * runs the real decoders (`Multimodal.decodeFeatures` — WAV/BMP/
    * JPEG/PNG/GIF for real, stub fold otherwise) and lands its feature
    * rows through [[writeLogBatch]], exactly-once like [[maintainLog]]
    * (it writes two logs per batch, so it keeps its own sink); downstream
    * training readers join features without ever touching the raw bytes
    * again (the decode cost is paid once per asset, not per consumer).
    *
    * VIDEO pays its decode at the same door (round 12): pass
    * `framesPath` and each batch also lands its per-frame feature rows —
    * the in-JVM MJPEG path (`videoFrameFeatures`) unioned with the
    * external-decoder seam (`videoFrameFeaturesExternal`, rows only when
    * a decoder is configured; the two paths are codec-disjoint by
    * construction) — exactly-once into a second maintained log read by
    * [[readVideoFrameFeatures]]. Without a configured seam, inter-coded
    * assets contribute no frame rows (the documented all-or-nothing
    * contract), never half-decoded ones. The batch scans once per
    * decoder family; the video passes filter to parseable MP4 payloads
    * before touching pixel bytes, so a mixed stream pays each decoder
    * only on its own asset class.
    */
  def maintainAssetFeatures(stream: DataFrame, path: String, checkpoint: String,
                            dim: Int = 8,
                            framesPath: Option[String] = None,
                            everyN: Int = 2,
                            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        val assets = df.toDF()
        writeLogBatch(graft.ops.Multimodal.decodeFeatures(assets, dim), batchId, path)
        framesPath.foreach { fp =>
          writeLogBatch(graft.ops.Multimodal.videoFrameFeatures(assets, everyN, dim)
            .unionByName(
              graft.ops.Multimodal.videoFrameFeaturesExternal(assets, everyN, dim)),
            batchId, fp)
        }
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Merge-on-read of the [[maintainAssetFeatures]] frames log — the
    * per-frame feature table for every video asset ever streamed.
    */
  def readVideoFrameFeatures(spark: org.apache.spark.sql.SparkSession,
                             path: String): DataFrame =
    readLog(spark, path)

  /** Merge-on-read of the [[maintainAssetFeatures]] log — assets are
    * append-only, so the union IS the full feature table.
    */
  def readAssetFeatures(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    readLog(spark, path)

  /** Live ANN serving against the [[maintainCellIndex]] layout: each
    * micro-batch of QUERY vectors routes to its top-`nprobe` cells
    * (`Similarity.assignTopCells`, broadcast centroids), reads only
    * those cells' directories from the index (the probe side is a
    * broadcast build, so dynamic partition pruning reuses it to prune
    * the `cell=` listing — no driver-side cell collect on the serving
    * path), scores candidates by EXACT cosine and emits top-`k` per
    * query into `outPath` through [[maintainLog]]. Per batch the work is
    * O(batch · nprobe/k_cells · corpus-per-cell · d): the corpus is
    * touched only through the probed directories, and re-centering the
    * quantizer is a centroid swap, not an index rebuild.
    */
  def serveAnnStream(queries: DataFrame, centroids: Array[Array[Long]],
                     indexPath: String, outPath: String, checkpoint: String,
                     k: Int = 10, nprobe: Int = 2, dims: Int = 64,
                     trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    maintainLog(queries, outPath, checkpoint, trigger) { df =>
      graft.ops.Similarity.probeIndexTopK(
        readLog(df.sparkSession, indexPath), df, centroids, k, nprobe, dims)
    }

  /** Maintained BM25 postings index — full-text retrieval current at the
    * ingest door: each micro-batch of documents tokenizes ONCE and folds
    * to its (doc_id, dl, token, tf) postings rows — O(batch tokens) rows
    * per batch, the per-doc sufficient statistic BM25 needs — through
    * [[maintainLog]]. Documents are append-only (each lands wholly in
    * one batch), so the read-time union IS the full-corpus postings
    * table and
    * `TextAnalysis.bm25TopKFromIndex` off it scores BIT-equal to batch
    * `bm25TopK` over every doc ever streamed — the corpus text is never
    * re-tokenized to serve a query. Each batch also logs one DOC-STATS
    * row per document (`token` NULL, `dl` stated by the text path's own
    * expression), so index-served n_docs/avgdl count EVERY ingested doc
    * — a zero-token or null-text document, indexed nowhere, would
    * otherwise silently shift the corpus stats away from `bm25TopK`'s.
    */
  def maintainBm25Index(stream: DataFrame, path: String, checkpoint: String,
                        trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    maintainLog(stream, path, checkpoint, trigger) { docs =>
      val statsRows = docs.select(col("doc_id"),
          size(graft.ops.TextAnalysis.tokens(col("text"))).cast("long").as("dl"),
          lit(null).cast("string").as("token"), lit(0L).as("tf"))
      graft.ops.TextAnalysis.bm25Postings(docs, col("doc_id"), col("text"))
        .unionByName(statsRows)
    }

  /** Merge-on-read of the [[maintainBm25Index]] log: the full-corpus
    * (doc_id, dl, token, tf) postings table.
    */
  def readBm25Index(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    readLog(spark, path)

  /** Maintained perceptron-gradient log — the quality/domain classifier's
    * next full-batch step kept current at the ingest door: each
    * micro-batch of documents is scored against the FROZEN integer
    * weights (`TextAnalysis.classifierTrain`'s literal-weight margin, one
    * codegen'd scan) and folds to ONE (m, g0..g6) misclassified-gradient
    * row per batch — O(1) rows per batch at any batch size — through
    * [[maintainLog]]. Counts and gradient sums are associative
    * integers, so the merged log equals the full-corpus gradient
    * bit-for-bit and one truncating
    * update step off it IS the batch round over every doc ever streamed;
    * re-training = one step + a weight swap.
    */
  def maintainClassifierGrad(stream: DataFrame, weights: Array[Long],
                             positive: Column, path: String, checkpoint: String,
                             trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    maintainLog(stream, path, checkpoint, trigger) { df =>
      graft.ops.TextAnalysis.classifierGradient(
        graft.ops.TextAnalysis.classifierFeatures(df, col("doc_id"), col("text"), positive),
        weights)
    }

  /** Merge-on-read of the [[maintainClassifierGrad]] log: one
    * (m, g0..g6) row, bit-equal to `TextAnalysis.classifierGradient`
    * over the full streamed corpus against the same frozen weights.
    */
  def readClassifierGrad(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val d = graft.ops.TextAnalysis.ClassifierDims
    readLog(spark, path)
      .agg(sum("m").as("m"),
        (0 until d).map(j => sum(s"g$j").as(s"g$j")): _*)
  }

  /** Maintained Count-Min log — approximate per-item frequencies current
    * at the ingest door, at ONE binary row per micro-batch: each batch
    * folds to its own CM sketch (`graft_cm_sketch` — cell merges are
    * elementwise adds, so the batch sketch is partitioning-exact),
    * logged through [[maintainLog]], and [[readCmSketch]] unions the
    * rows into bytes IDENTICAL to sketching every row ever streamed in
    * one pass. The log is O(batches) rows of
    * O(width·depth) bytes regardless of stream volume — the cheapest
    * maintained statistic here — and serves `graft_cm_est` probes
    * directly (e.g. a hot-key detector feeding the salting/cap knobs).
    */
  def maintainCmSketch(stream: DataFrame, itemCol: Column,
                       path: String, checkpoint: String,
                       width: Int = 1024, depth: Int = 4,
                       trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    maintainLog(stream, path, checkpoint, trigger) { df =>
      graft.functions.CmFunctions.register(df.sparkSession)
      df.select(itemCol.cast("string").as("item"))
        .agg(expr(s"graft_cm_sketch(item, 1L, $width, $depth)").as("sk"))
    }

  /** Merge-on-read of the [[maintainCmSketch]] log: one sketch,
    * byte-equal to a single-pass sketch of the full streamed history.
    */
  def readCmSketch(spark: org.apache.spark.sql.SparkSession, path: String): Array[Byte] = {
    graft.functions.CmFunctions.register(spark)
    readLog(spark, path)
      .agg(expr("graft_cm_union(sk)")).head().getAs[Array[Byte]](0)
  }

  /** Maintained KMV log — per-group distinct-set sketches current at the
    * ingest door, one `graft_kmv_sketch` row per (group, batch): the
    * streaming half of the 28bo set-operation family, so cross-source
    * OVERLAP questions (shared users between sources, contamination
    * between live feeds) are answered from the log without a raw-data
    * rescan. KMV merges are k-smallest folds — associative, commutative,
    * idempotent — so [[readKmvSketch]]'s union row per group is
    * BYTE-equal to single-pass sketching of the full streamed history
    * under any batch split, and pairs of group rows feed
    * `graft_kmv_inter` directly. O(groups) rows of O(k) longs per
    * micro-batch regardless of stream volume, logged through
    * [[maintainLog]].
    */
  def maintainKmvSketch(stream: DataFrame, keyCol: Column, valueCol: Column,
                        path: String, checkpoint: String, k: Int = 1024,
                        trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    maintainLog(stream, path, checkpoint, trigger) { df =>
      graft.functions.KmvFunctions.register(df.sparkSession)
      df.select(keyCol.cast("string").as("grp"), valueCol.as("v"))
        .groupBy("grp")
        .agg(expr(s"graft_kmv_sketch(v, $k)").as("sk"))
    }

  /** Merge-on-read of the [[maintainKmvSketch]] log: one sketch row per
    * group, byte-equal to single-pass sketching of the full history.
    */
  def readKmvSketch(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    graft.functions.KmvFunctions.register(spark)
    readLog(spark, path)
      .groupBy("grp")
      .agg(expr("graft_kmv_union(sk)").as("sk"))
  }

  /** Maintained quantile-sketch log — per-group percentile estimates
    * current at the ingest door at O(groups) rows per micro-batch: each
    * batch folds per group to ONE `graft_qsketch` bottom-k row (the
    * deterministic md5-rank sample — bottom-k of a union equals bottom-k
    * of the parts' bottom-k's, so merges are associative, idempotent and
    * byte-stable under any batch split), logged through
    * [[maintainLog]]. [[readQSketch]]'s union row per group is
    * BYTE-equal to single-pass sketching of the full streamed history,
    * and quantile reads off it equal the batch operator's.
    */
  def maintainQSketch(stream: DataFrame, keyCol: Column, valueCol: Column,
                      idCol: Column, path: String, checkpoint: String,
                      k: Int = 1024,
                      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    maintainLog(stream, path, checkpoint, trigger) { df =>
      graft.functions.QSketchFunctions.register(df.sparkSession)
      df.select(keyCol.as("key"), valueCol.cast("double").as("v"),
          idCol.cast("string").as("id"))
        .filter(col("v").isNotNull)
        .groupBy(col("key"))
        .agg(expr(s"graft_qsketch(v, id, $k)").as("sk"), count(lit(1)).as("cnt"))
    }

  /** Merge-on-read of the [[maintainQSketch]] log: one (key, sketch,
    * count) row per group, the sketch byte-equal to a single-pass
    * bottom-k over the full streamed history.
    */
  def readQSketch(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    graft.functions.QSketchFunctions.register(spark)
    readLog(spark, path)
      .groupBy(col("key"))
      .agg(expr("graft_qsketch_union(sk)").as("sk"),
        sum(col("cnt")).as("cnt"))
  }

  /** Self-maintaining LSH band index: each micro-batch's documents land
    * their MinHash band rows in the parquet index [[nearDupStream]] and
    * `Dedup.lshCandidatesAgainst` join against — the ingest loop that
    * keeps the dedup index current without ever re-banding the corpus.
    * Logged through [[maintainLog]]. Index growth is O(docs · bands)
    * rows regardless of corpus size; readers drop the bookkeeping
    * column.
    */
  def maintainLshIndex(stream: DataFrame, idCol: Column, textCol: Column,
                       path: String, checkpoint: String,
                       numHashes: Int = 16, bands: Int = 4,
                       trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    maintainLog(stream, path, checkpoint, trigger)(
      graft.ops.Dedup.lshBands(_, idCol, textCol, numHashes, bands))

  /** The [[maintainLshIndex]] parquet log as the band table the batch and
    * streaming candidate joins expect.
    */
  def readLshIndex(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    readLog(spark, path)

  /** Maintained first-occurrence gram index — the streaming half of
    * `TextAnalysis.novelty` (§2c 42br): each micro-batch logs one
    * (shingle, first_doc) partial per distinct gram it introduced (min
    * doc_id within the batch), so an increment can be NOVELTY-SCORED
    * against everything ingested before it without re-shingling the
    * corpus ([[readGramIndex]] + `TextAnalysis.noveltyAgainst`); logged
    * through [[maintainLog]]. Min is associative and idempotent:
    * merge-on-read takes the min across batches, ingest order never
    * changes a verdict that was already decided. `compactLog(fold)`
    * with a min-groupBy collapses partials on schedule (48ac).
    */
  def maintainGramIndex(stream: DataFrame, idCol: Column, textCol: Column,
                        path: String, checkpoint: String,
                        trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    maintainLog(stream, path, checkpoint, trigger)(
      graft.ops.Dedup.shingles(_, idCol, textCol, None)
        .groupBy("shingle").agg(min("doc_id").as("first_doc")))

  /** Merge-on-read of the [[maintainGramIndex]] log: one (shingle,
    * first_doc) row per gram ever streamed.
    */
  def readGramIndex(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    readLog(spark, path).groupBy("shingle").agg(min("first_doc").as("first_doc"))

  /** Maintained first-occurrence LINE index — the streaming half of the
    * CCNet boilerplate pass (`TextAnalysis.dedupLines`, §2c 42ci): each
    * micro-batch logs one (line, first_doc, first_idx) partial per
    * distinct line it introduced (min (doc_id, line_idx) within the
    * batch), so an increment can drop corpus-repeated boilerplate
    * ([[readLineIndex]] + `TextAnalysis.dedupLinesAgainst`) without
    * re-exploding anything ingested before it; logged through
    * [[maintainLog]]. Min over the (doc, idx) struct is associative and
    * idempotent: merge-on-read takes the min across batches, ingest
    * order never changes a verdict that was already decided.
    * `compactLog(fold)` with a min-groupBy collapses partials (48ac).
    */
  def maintainLineIndex(stream: DataFrame, idCol: Column, textCol: Column,
                        path: String, checkpoint: String,
                        trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    maintainLog(stream, path, checkpoint, trigger)(
      graft.ops.TextAnalysis.docLines(_, idCol, textCol)
        .groupBy(col("line"))
        .agg(min(struct(col("doc_id"), col("line_idx"))).as("first"))
        .select(col("line"), col("first.doc_id").as("first_doc"),
          col("first.line_idx").as("first_idx")))

  /** Merge-on-read of the [[maintainLineIndex]] log: one (line,
    * first_doc, first_idx) row per line ever streamed.
    */
  def readLineIndex(spark: org.apache.spark.sql.SparkSession,
                    path: String): DataFrame =
    readLog(spark, path)
      .groupBy(col("line"))
      .agg(min(struct(col("first_doc"), col("first_idx"))).as("first"))
      .select(col("line"), col("first.first_doc").as("first_doc"),
        col("first.first_idx").as("first_idx"))

  /** Maintained classifier-score histogram — the quality filter's
    * monitoring loop at the ingest door: production trains once
    * (`TextAnalysis.classifierTrain`) and then watches every
    * increment's score distribution against those FROZEN weights. Each
    * micro-batch logs one (margin, p, q) additive partial per distinct
    * margin it saw (pos/neg label counts) through [[maintainLog]]; sums
    * are associative, so merge-on-read is exact and `compactLog(fold)`
    * collapses partials (48ac). The merged histogram serves the SAME
    * epilogues the batch path states — [[scoreHistAuc]] is bit-equal to
    * `TextAnalysis.classifierAuc` when the frozen weights are the
    * full-corpus trained ones, and the histogram is exactly what a PSI
    * reference window reads.
    */
  def maintainScoreHist(stream: DataFrame, idCol: Column, textCol: Column,
                        positive: Column, weights: Array[Long],
                        path: String, checkpoint: String,
                        trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    maintainLog(stream, path, checkpoint, trigger)(
      graft.ops.TextAnalysis.scoreWithWeights(_, idCol, textCol, positive, weights)
        .groupBy(col("margin"))
        .agg(sum(when(col("y") === 1L, 1L).otherwise(0L)).as("p"),
          sum(when(col("y") === 1L, 0L).otherwise(1L)).as("q")))

  /** Merge-on-read of the [[maintainScoreHist]] log: one (margin, p, q)
    * row per distinct margin ever streamed.
    */
  def readScoreHist(spark: org.apache.spark.sql.SparkSession,
                    path: String): DataFrame =
    readLog(spark, path).groupBy(col("margin"))
      .agg(sum(col("p")).as("p"), sum(col("q")).as("q"))

  /** Exact tie-aware AUC served off the maintained histogram — the same
    * epilogue expression tree as the batch `classifierAuc`.
    */
  def scoreHistAuc(spark: org.apache.spark.sql.SparkSession,
                   path: String): DataFrame =
    graft.ops.TextAnalysis.aucFromMarginCounts(readScoreHist(spark, path))

  /** The full ROC table served off the maintained histogram — ROC is
    * margin-granular by definition, so the served table equals the
    * batch `classifierRoc` bit-for-bit (one shared epilogue).
    */
  def scoreHistRoc(spark: org.apache.spark.sql.SparkSession,
                   path: String): DataFrame =
    graft.ops.TextAnalysis.rocFromMarginCounts(readScoreHist(spark, path))

  /** The precision–recall table served off the maintained histogram —
    * margin-granular like ROC, one shared epilogue with the batch
    * `classifierPr`.
    */
  def scoreHistPr(spark: org.apache.spark.sql.SparkSession,
                  path: String): DataFrame =
    graft.ops.TextAnalysis.prFromMarginCounts(readScoreHist(spark, path))

  /** PSI drift between TWO maintained score-histogram logs (a frozen
    * reference window vs the current window) — the monitoring loop's
    * drift gate, read without ever touching documents: bins from the
    * reference histogram's count-weighted quantiles
    * (`TextAnalysis.psiFromHists`).
    */
  def scoreHistPsi(spark: org.apache.spark.sql.SparkSession,
                   refPath: String, curPath: String,
                   buckets: Int = 10): DataFrame = {
    def hist(p: String) = readScoreHist(spark, p)
      .select(col("margin"), (col("p") + col("q")).as("n"))
    graft.ops.TextAnalysis.psiFromHists(hist(refPath), hist(curPath), buckets)
  }

  /** Maintained engagement log — the DAU/MAU family's live half: each
    * micro-batch logs its DISTINCT (user_id, day, mon) activity triples
    * (`Analytics.userDays` — distinct is idempotent, so replays and any
    * ingest split union to exactly the batch projection) through
    * [[maintainLog]]; merge-on-read is one more distinct,
    * and `compactLog(fold)` with a distinct collapses partials (48ac).
    * [[readStickiness]] serves the SAME epilogue as the batch
    * `events_stickiness` (`Analytics.stickinessFromUserDays` — one
    * definition), so it is bit-equal over everything ever streamed.
    */
  def maintainEngagement(stream: DataFrame, path: String, checkpoint: String,
                         trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    maintainLog(stream, path, checkpoint, trigger)(graft.ops.Analytics.userDays)

  /** Merge-on-read of the [[maintainEngagement]] log: the distinct
    * (user_id, day, mon) projection of everything ever streamed.
    */
  def readEngagement(spark: org.apache.spark.sql.SparkSession,
                     path: String): DataFrame =
    readLog(spark, path).select(col("user_id"), col("day"), col("mon"))
      .distinct()

  /** DAU/MAU stickiness served off the maintained engagement log — the
    * same epilogue as the batch `events_stickiness`.
    */
  def readStickiness(spark: org.apache.spark.sql.SparkSession,
                     path: String): DataFrame =
    graft.ops.Analytics.stickinessFromUserDays(readEngagement(spark, path))

  /** Start/stop-gated capture INTO a maintained log — the reference's
    * `action_server_video` mode end-to-end (scenario.py:101-137: gate the
    * data stream by the control stream's start/stop messages, save every
    * captured row). Composes [[GatedCapture.gatedStream]]'s per-gate
    * boolean state machine with the [[maintainLog]] sink (update mode,
    * as the machine declares): a replayed micro-batch reproduces the same
    * captured rows (the machine is deterministic given per-gate
    * event-time-ordered arrival, and its state store versions with the
    * checkpoint). Read the captured log with [[readLog]];
    * [[compactLog]] applies like every maintained log here.
    *
    * `lateness` bounds cross-GATE event-time disorder: the watermark is
    * GLOBAL, so a gate whose feed lags another gate's event time by more
    * than this is dropped by the stateful operator's late-row filter
    * before the machine sees it — widen it (and `idleTimeoutMs`, the
    * idle-gate reaper horizon) to the deployment's real skew instead of
    * bypassing the API.
    */
  def captureGatedToLog(rows: org.apache.spark.sql.Dataset[GatedCapture.GEvent],
                        path: String, checkpoint: String,
                        trigger: Trigger = Trigger.AvailableNow(),
                        idleTimeoutMs: Long = 30L * 24 * 3600 * 1000,
                        lateness: String = "1 hour"): StreamingQuery = {
    implicit val spark: org.apache.spark.sql.SparkSession = rows.sparkSession
    maintainLog(GatedCapture.gatedStream(rows, idleTimeoutMs, lateness).toDF(),
      path, checkpoint, trigger, outputMode = "update")(identity)
  }

  /** Capture INTO the reference's native format: each micro-batch's `doc`
    * rows (canonical JSON) are written as `.topic_store` pickle logs into a
    * per-batch subdirectory — idempotent under replay (a restarted batch
    * overwrites its own directory, never appends duplicates), and the
    * output is tailable by `readStream.format("topicstore")` and readable
    * by the reference's own file iterator. Closes the loop:
    * live stream → native logs → (batch or streaming) scan.
    */
  def captureToTopicStore(stream: DataFrame, path: String, checkpoint: String,
                          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        val dir = new org.apache.hadoop.fs.Path(path, f"batch_$batchId%08d")
        val fs = dir.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
        if (fs.exists(dir)) fs.delete(dir, true) // replayed batch: rewrite
        graft.sources.TopicStoreLog.write(df.toDF(), dir.toString)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Skip-on-error stream variant (database.py:292-325): drop rows whose
    * payload fails to parse rather than killing the query.
    */
  def skipOnError(stream: DataFrame, parsed: Column, as: String): DataFrame =
    stream.withColumn(as, parsed).filter(col(as).isNotNull)

  /** Ingest-time exact dedup: drop re-deliveries of the same document id
    * while it is inside the watermark horizon — the streaming twin of
    * `TextAnalysis.exactDedup` and the standard at-source guard in a
    * training-data pipeline (upstream capture loops redeliver on retry).
    * State is bounded by the watermark: ids older than the horizon are
    * evicted, so this runs forever at O(ids-per-horizon) memory.
    */
  def dedupStream(stream: DataFrame, idCols: Seq[String], tsCol: String,
                  watermarkDelay: String = "10 minutes"): DataFrame =
    stream
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(idCols)

  /** Streaming sub-document (span) dedup: explode each arriving document
    * into fixed-width word chunks and drop every chunk whose exact text
    * was already seen inside the watermark horizon — the streaming twin
    * of `TextAnalysis.paragraphDedup`'s first-occurrence-wins rule,
    * applied at ingest so boilerplate never lands in storage. Emits one
    * row per SURVIVING chunk (doc id, chunk position, chunk text);
    * downstream reassembly is the batch operator's groupBy. State is the
    * set of chunk hashes inside the horizon — bounded, evicted by the
    * watermark, never corpus-sized.
    */
  def dedupSpansStream(stream: DataFrame, idCol: Column, textCol: Column,
                       tsCol: String, width: Int = 12,
                       watermarkDelay: String = "10 minutes"): DataFrame = {
    val words = split(regexp_replace(lower(textCol), "\\s+", " "), " ")
    stream
      .select(idCol.as("doc_id"), col(tsCol), words.as("words"))
      .select(col("doc_id"), col(tsCol),
        posexplode(expr(s"transform(sequence(0, cast(ceil(size(words)/$width.0) as int)-1)," +
          s" i -> concat_ws(' ', slice(words, i*$width+1, $width)))"))
          .as(Seq("pos", "chunk")))
      .withColumn("chunk_hash", md5(col("chunk")))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(Seq("chunk_hash"))
  }

  /** Ingest-time NEAR-dup detection: flag each arriving document whose
    * MinHash LSH band collides with a persisted corpus index — the
    * streaming twin of `Dedup.lshCandidatesAgainst`, run before a doc
    * ever lands in storage. The index side is a static DataFrame (the
    * parquet band table `Dedup.lshBands` persists), so the join is
    * stream-static: stateless, no watermark needed for the join itself,
    * and the index can be arbitrarily corpus-sized because only the
    * increment streams. Multiple colliding bands for the same pair are
    * collapsed by a watermark-bounded dedup — state O(flagged pairs per
    * horizon), never index-sized. Emits (new_id, indexed_id, ts).
    */
  def nearDupStream(stream: DataFrame, idCol: Column, textCol: Column,
                    tsCol: String, indexedBands: DataFrame,
                    numHashes: Int = 16, bands: Int = 4,
                    watermarkDelay: String = "10 minutes"): DataFrame =
    graft.ops.Dedup.lshBandsKeeping(stream, idCol, textCol, Seq(tsCol),
        numHashes, bands).as("a")
      .join(indexedBands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("indexed_id"),
        col(s"a.$tsCol").as(tsCol))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(Seq("new_id", "indexed_id"))

  /** Ingest-time FUZZY benchmark decontamination — the streaming twin of
    * `Dedup.contaminationFuzzy`: every arriving document's LSH bands
    * probe the benchmark's persisted band table, and band collisions are
    * confirmed by the integer MinHash component-agreement verdict
    * (n_match ≥ minMatches of numHashes) against the bench signature
    * table — a leaked eval doc is flagged BEFORE it lands in training
    * storage. Both bench tables are static (band table from
    * `Dedup.lshBands`, signatures from `Dedup.minhash`, banked once —
    * eval suites are small, the joins broadcast), so the whole pipeline
    * is a stateless stream-static join; the only state is the
    * watermark-bounded replay dedup, O(flags per horizon). Emits
    * (doc_id, bench_id, n_match, ts) with the SAME verdict rows as the
    * batch operator on the same documents (spec-checked).
    */
  def decontaminateStream(stream: DataFrame, idCol: Column, textCol: Column,
                          tsCol: String, benchBands: DataFrame,
                          benchSigs: DataFrame, minMatches: Int = 8,
                          numHashes: Int = 16, bands: Int = 4,
                          watermarkDelay: String = "10 minutes"): DataFrame = {
    graft.functions.GraftFunctions.register(stream.sparkSession)
    val rowsPerBand = numHashes / bands
    val words = graft.ops.TextAnalysis.tokens(textCol)
    // lshBandsKeeping's shape with the signature RETAINED — the verdict
    // needs it after the band join, and recomputing it post-join would
    // shingle every collision twice
    val banded = stream
      .select(idCol.as("doc_id"), col(tsCol), words.as("words"))
      .filter(size(col("words")) >= 3)
      .withColumn("sig", expr(s"graft_minhash(graft_shingles(words, 3), $numHashes)"))
      .select(col("doc_id"), col(tsCol), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("bh",
        md5(concat_ws("|", expr(s"slice(sig, band * $rowsPerBand + 1, $rowsPerBand)"))))
    banded.as("a")
      .join(benchBands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id"), col(s"a.$tsCol").as(tsCol),
        col("a.sig").as("sig"), col("b.doc_id").as("bench_id"))
      .join(broadcast(benchSigs.select(col("doc_id").as("bench_id"), col("sig").as("bsig"))),
        "bench_id")
      .withColumn("n_match",
        expr("cast(size(filter(zip_with(sig, bsig, (x, y) -> x = y), b -> b)) as bigint)"))
      .filter(col("n_match") >= minMatches)
      .select(col("doc_id"), col("bench_id"), col("n_match"), col(tsCol))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(Seq("doc_id", "bench_id"))
  }

  /** Ingest-time SEMANTIC near-dup detection: each arriving embedding's
    * SRP bucket probes a persisted corpus index (`Similarity.srpIndex`),
    * bucket-mates are exact-scored with `graft_dot`, and pairs at rounded
    * cosine ≥ `threshold` are flagged — `Similarity.semanticDedup`'s
    * within-cell compare as a stream-static join, run before the vector
    * ever lands. The corpus-sized index never enters streaming state (the
    * join is stateless); a pair can meet in only ONE bucket (the full
    * signature is the equality key), so the pair dedup exists purely to
    * absorb replays — watermark-bounded, state O(flags per horizon).
    * Emits (new_id, indexed_id, cosine, ts). The same probe columns come
    * from `Similarity.bucketExpr`, so stream and index hash identically
    * by construction.
    */
  def embNearDupStream(stream: DataFrame, idCol: Column, embCol: Column,
                       tsCol: String, index: DataFrame, threshold: Double,
                       planes: Int = 4,
                       watermarkDelay: String = "10 minutes"): DataFrame = {
    graft.functions.VectorFunctions.register(stream.sparkSession)
    val probes = stream
      .select(idCol.as("vec_id"), embCol.as("embedding"), col(tsCol))
      .withColumn("v", expr("transform(embedding, x -> cast(x as double))"))
      .withColumn("norm", expr("sqrt(graft_dot(v, v))"))
      .withColumn("bucket", graft.ops.Similarity.bucketExpr(planes))
    probes.as("a").join(index.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("new_id"), col("b.vec_id").as("indexed_id"),
        round(expr("graft_dot(a.v, b.v)") / (col("a.norm") * col("b.norm")), 6)
          .as("cosine"),
        col(s"a.$tsCol").as(tsCol))
      .filter(col("cosine") >= threshold)
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(Seq("new_id", "indexed_id"))
  }

  /** Self-maintaining SRP probe index — [[maintainLshIndex]] for
    * embeddings: each micro-batch's vectors land their (v, norm, bucket)
    * probe rows in a per-batch partition of the parquet index
    * [[embNearDupStream]] joins against, through [[maintainLog]]. Index
    * work per batch is O(batch · planes) dots; the corpus never
    * re-buckets.
    */
  def maintainSrpIndex(stream: DataFrame, idCol: Column, embCol: Column,
                       path: String, checkpoint: String, planes: Int = 4,
                       trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    maintainLog(stream, path, checkpoint, trigger) { df =>
      graft.functions.VectorFunctions.register(df.sparkSession)
      df.select(idCol.as("vec_id"), embCol.as("embedding"))
        .withColumn("v", expr("transform(embedding, x -> cast(x as double))"))
        .withColumn("norm", expr("sqrt(graft_dot(v, v))"))
        .withColumn("bucket", graft.ops.Similarity.bucketExpr(planes))
        .drop("embedding")
    }

  /** Merge-on-read of the [[maintainSrpIndex]] log as the probe table
    * [[embNearDupStream]] expects.
    */
  def readSrpIndex(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    readLog(spark, path)

  /** Stream-stream interval join: correlate two live streams on a key
    * within a time bound (e.g. purchase within an hour of a click).
    * Both sides watermarked, so the join state expires — the streaming
    * counterpart of `DocumentStore.rangeJoinBinned`.
    */
  def correlate(left: DataFrame, right: DataFrame, key: String,
                leftTs: String, rightTs: String, maxGapSec: Long,
                watermarkDelay: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark(leftTs, watermarkDelay).alias("l")
    val r = right.withWatermark(rightTs, watermarkDelay).alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col(s"l.$leftTs") >= col(s"r.$rightTs") &&
        col(s"l.$leftTs") <= col(s"r.$rightTs") + expr(s"INTERVAL $maxGapSec SECONDS"))
  }

  case class TwapEvent(event_type: String, event_id: Long, t: Long, vm: Long)
  /** lastT == Long.MinValue ⇔ no observation yet. */
  case class TwapState(lastT: Long, lastVm: Long, sdt: Long, svdt: Long)
  case class TwapOut(event_type: String, sdt: Long, twap_micro: Long)

  /** Streaming twin of `Analytics.twap` (§2b 28ap): per-series
    * time-weighted averages maintained live. State per key is four longs
    * — the open observation and the two exact integer sums; each arrival
    * CLOSES the previous observation's holding segment (dt, dt·vm), which
    * is precisely the batch contract (the newest observation holds no
    * duration yet), so after any prefix of the stream the emitted
    * (sdt, twap_micro) equals the batch operator over the same prefix
    * bit-for-bit. Same ordering contract as [[Funnel]]: in-batch events
    * sort by (t, id); across batches per-key arrival must respect event
    * time (true for per-topic ordered capture; the order-free batch
    * recompute recovers anything else).
    */
  def twapUpdate(key: String, events: Iterator[TwapEvent],
                 state: org.apache.spark.sql.streaming.GroupState[TwapState]): Iterator[TwapOut] = {
    val init = state.getOption.getOrElse(TwapState(Long.MinValue, 0L, 0L, 0L))
    var s = init
    events.toSeq.sortBy(e => (e.t, e.event_id)).foreach { e =>
      s = if (s.lastT == Long.MinValue) TwapState(e.t, e.vm, 0L, 0L)
      else TwapState(e.t, e.vm, s.sdt + (e.t - s.lastT),
        s.svdt + (e.t - s.lastT) * s.lastVm)
    }
    if (s == init) Iterator.empty
    else {
      state.update(s)
      if (s.sdt > 0) Iterator.single(TwapOut(key, s.sdt, s.svdt / s.sdt))
      else Iterator.empty
    }
  }

  /** Wire [[twapUpdate]] over a (possibly streaming) event set. */
  def twapStream(events: org.apache.spark.sql.Dataset[TwapEvent])
                (implicit spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.Dataset[TwapOut] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (k: String, it: Iterator[TwapEvent],
         st: org.apache.spark.sql.streaming.GroupState[TwapState]) =>
          twapUpdate(k, it, st))
  }

  case class EwmaEvent(event_type: String, event_id: Long, t: Long, vm: Option[Long])
  /** Ring of the last ≤ taps micro-values, oldest first;
    * Long.MinValue marks a NULL sample (occupies a tap, adds no weight).
    */
  case class EwmaState(ring: Seq[Long])
  case class EwmaOut(event_type: String, event_id: Long, ewma_micro: Long)

  private val EwmaNull = Long.MinValue

  /** Streaming twin of `Analytics.ewma` (§2b 28aw): the 16-tap dyadic
    * EWMA maintained live. State per key is the ring of the last ≤ 16
    * micro-unit samples — O(taps) longs, constant at any stream length —
    * and each arrival emits the smoothed value over the ring with the
    * identical integer weights (2^(15−age)) and the identical truncating
    * division, so after any time-ordered prefix the emitted rows equal
    * the batch operator over that prefix bit-for-bit. NULL samples
    * occupy a tap without weight, exactly like batch lag() over a NULL
    * row. Same per-key ordering contract as [[twapUpdate]].
    */
  def ewmaUpdate(taps: Int)(key: String, events: Iterator[EwmaEvent],
                 state: org.apache.spark.sql.streaming.GroupState[EwmaState]): Iterator[EwmaOut] = {
    var ring = state.getOption.map(_.ring.toVector).getOrElse(Vector.empty[Long])
    val out = Vector.newBuilder[EwmaOut]
    events.toSeq.sortBy(e => (e.t, e.event_id)).foreach { e =>
      ring = (ring :+ e.vm.getOrElse(EwmaNull)).takeRight(taps)
      var num = 0L
      var den = 0L
      var i = 0
      while (i < ring.length) {
        val age = ring.length - 1 - i
        val v = ring(i)
        if (v != EwmaNull) {
          val w = 1L << (taps - 1 - age)
          num += v * w
          den += w
        }
        i += 1
      }
      if (den > 0) out += EwmaOut(key, e.event_id, num / den)
    }
    if (ring.nonEmpty) state.update(EwmaState(ring))
    out.result().iterator
  }

  /** Wire [[ewmaUpdate]] over a (possibly streaming) event set. */
  def ewmaStream(events: org.apache.spark.sql.Dataset[EwmaEvent], taps: Int = 16)
                (implicit spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.Dataset[EwmaOut] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (k: String, it: Iterator[EwmaEvent],
         st: org.apache.spark.sql.streaming.GroupState[EwmaState]) =>
          ewmaUpdate(taps)(k, it, st))
  }

  case class GapEvent(series: String, t: Long, vm: Long)
  /** Open bucket: hour id, running micro sum, sample count. */
  case class GapState(h: Long, sv: Long, cnt: Long)
  case class GapOut(series: String, h: Long, value_micro: Long, observed: Boolean)

  /** Streaming twin of `Analytics.gapFill` (§2b 28ay): regular-grid
    * resample + LOCF maintained live. State is ONE open bucket per
    * series (three longs); an arrival in a later bucket closes the open
    * one — emitting its exact integer mean — and back-fills every skipped
    * grid hour with that mean (`observed = false`), exactly the batch
    * forward-fill. After any time-ordered prefix the emitted rows equal
    * the batch operator over that prefix MINUS the still-open final
    * bucket (a live resampler cannot know the open hour's mean yet) —
    * the spec asserts that by replay. Same per-key arrival-order
    * contract as the funnel/TWAP machines; a contract-violating early
    * row folds into the open bucket rather than silently dropping.
    */
  def gapFillUpdate(bucketSec: Long)(key: String, events: Iterator[GapEvent],
      state: org.apache.spark.sql.streaming.GroupState[GapState]): Iterator[GapOut] = {
    var st = state.getOption.orNull
    val out = Vector.newBuilder[GapOut]
    events.toSeq.sortBy(_.t).foreach { e =>
      val hb = e.t / bucketSec
      if (st == null) st = GapState(hb, e.vm, 1L)
      else if (hb > st.h) {
        val v = st.sv / st.cnt // same truncation as batch `sv div cnt`
        out += GapOut(key, st.h, v, observed = true)
        var g = st.h + 1
        while (g < hb) { out += GapOut(key, g, v, observed = false); g += 1 }
        st = GapState(hb, e.vm, 1L)
      } else st = st.copy(sv = st.sv + e.vm, cnt = st.cnt + 1L)
    }
    if (st != null) state.update(st)
    out.result().iterator
  }

  case class IvEvent(key: Long, start_sec: Long, end_sec: Long)
  /** [[IvEvent]] plus its event-time column (the interval START — the
    * sweep's sort key and the stream's time axis) for the watermark.
    */
  case class IvEventTs(key: Long, start_sec: Long, end_sec: Long,
                       ts: java.sql.Timestamp)
  /** Sweep frontier: max end seen, covered total, interval count, plus
    * the newest interval-start seen — the idle-reaper's anchor.
    */
  case class IvState(maxEnd: Long, covered: Long, n: Long, lastSec: Long = 0L)
  case class IvOut(key: Long, n_intervals: Long, covered_sec: Long)

  /** Streaming interval-union length — the live twin of
    * `Analytics.intervalUnionLength` (§2b 28bf): billable device uptime
    * / concurrent-capture coverage maintained at the ingest door. State
    * is three longs per key (the batch sweep's running max end + the
    * running totals); each arrival contributes
    * `max(0, end − max(start, prev_max_end))` exactly like the batch
    * window pass, with the first interval coalescing the absent
    * frontier to its own start. Arrival-order contract: per key,
    * ordered by interval START (the sweep's sort key) — same per-key
    * event-time discipline as every machine here; within a batch rows
    * sort locally. Emits each touched key's RUNNING (n_intervals,
    * covered_sec) per batch — Update semantics; WHILE a key's state
    * lives, later batches only revise it upward, and after a full
    * in-order replay the last emission per key equals the batch
    * operator row-for-row (spec-asserted).
    *
    * Keys (devices, users) are an unbounded domain, so a key quiet for
    * `idleTimeoutMs` of EVENT time leaves the store — the funnel's
    * watermark-driven idle reaper; its last emitted running totals
    * already stand, and a late return RESTARTS the sweep from an empty
    * frontier, so the first post-reap emission is a fresh (small) total,
    * not a continuation — a last-value-per-key consumer that needs
    * lifetime totals across idle gaps must fold emissions (sum of
    * per-epoch finals) or use the order-free batch recompute, which is
    * exact across any gap.
    */
  def intervalUnionUpdate(key: Long, events: Iterator[IvEventTs],
      state: org.apache.spark.sql.streaming.GroupState[IvState],
      idleTimeoutMs: Long = 30L * 24 * 3600 * 1000): Iterator[IvOut] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    var st = state.getOption.getOrElse(IvState(Long.MinValue, 0L, 0L))
    events.toSeq.sortBy(e => (e.start_sec, e.end_sec)).foreach { e =>
      val frontier = if (st.n == 0L) e.start_sec else st.maxEnd
      val contrib = math.max(0L, e.end_sec - math.max(e.start_sec, frontier))
      st = IvState(math.max(st.maxEnd, e.end_sec), st.covered + contrib,
        st.n + 1L, math.max(st.lastSec, e.start_sec))
    }
    state.update(st)
    // timer strictly beyond the current watermark (store contract)
    state.setTimeoutTimestamp(
      math.max(st.lastSec * 1000L + idleTimeoutMs,
        state.getCurrentWatermarkMs + 1))
    Iterator.single(IvOut(key, st.n, st.covered))
  }

  /** Wire [[intervalUnionUpdate]] over a (possibly streaming) interval
    * set; the watermark rides the interval-start time and drives the
    * idle-expiry timers that bound the state COUNT.
    */
  def intervalUnionStream(intervals: org.apache.spark.sql.Dataset[IvEvent],
                          idleTimeoutMs: Long = 30L * 24 * 3600 * 1000,
                          lateness: String = "1 hour")
                         (implicit spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.Dataset[IvOut] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    intervals.withColumn("ts", expr("timestamp_seconds(start_sec)"))
      .as[IvEventTs]
      .withWatermark("ts", lateness)
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(
        (k: Long, it: Iterator[IvEventTs],
         st: org.apache.spark.sql.streaming.GroupState[IvState]) =>
          intervalUnionUpdate(k, it, st, idleTimeoutMs))
  }

  /** Previous closed anchor (prevH/prevV; prevH = Long.MinValue before
    * the first close) + the open bucket's running mean fold.
    */
  case class LinGapState(prevH: Long, prevV: Long, h: Long, sv: Long, cnt: Long)

  /** Streaming LINEAR-interpolation resample — the linear sibling of
    * [[gapFillUpdate]] (mean+LOCF) and the live counterpart of
    * `Analytics.gapFillLinear` (§2b 28aj''). A gap bucket's value needs
    * the NEXT anchor, so emission is one anchor behind: when an arrival
    * closes the open bucket (exact integer mean — the associative fold
    * a live stream can maintain; the batch op's OHLC-close anchor would
    * need an id tie-break the wire format doesn't carry), every bucket
    * between the PREVIOUS anchor and the closed one emits the straight
    * line `pv + (v−pv)·(g−ph) / (h−ph)` (Long division truncates toward
    * zero like SQL `div`), then the closed bucket emits observed. Rows
    * are final on emission — no revisions — and state is five longs per
    * series. After a time-ordered replay the emitted rows are exactly
    * the mean-anchored linear fill over every bucket up to the LAST
    * CLOSED anchor (the open bucket and the gaps awaiting their closing
    * anchor are pending by construction) — spec-asserted against an
    * inline batch recompute. Same arrival contract as [[gapFillUpdate]]:
    * a contract-violating EARLY row (bucket < the open one) folds into
    * the open bucket rather than silently dropping — and here that
    * additionally skews the open bucket's mean, which is the lerp anchor
    * for every gap bucket emitted against it; late data is recovered by
    * the order-free batch recompute, not by this machine.
    */
  def gapFillLinearUpdate(bucketSec: Long)(key: String, events: Iterator[GapEvent],
      state: org.apache.spark.sql.streaming.GroupState[LinGapState]): Iterator[GapOut] = {
    var st = state.getOption.orNull
    val out = Vector.newBuilder[GapOut]
    events.toSeq.sortBy(_.t).foreach { e =>
      val hb = e.t / bucketSec
      if (st == null) st = LinGapState(Long.MinValue, 0L, hb, e.vm, 1L)
      else if (hb > st.h) {
        val v = st.sv / st.cnt // same truncation as batch `sv div cnt`
        if (st.prevH != Long.MinValue) {
          var g = st.prevH + 1
          while (g < st.h) {
            out += GapOut(key, g,
              st.prevV + (v - st.prevV) * (g - st.prevH) / (st.h - st.prevH),
              observed = false)
            g += 1
          }
        }
        out += GapOut(key, st.h, v, observed = true)
        st = LinGapState(st.h, v, hb, e.vm, 1L)
      } else st = st.copy(sv = st.sv + e.vm, cnt = st.cnt + 1L)
    }
    if (st != null) state.update(st)
    out.result().iterator
  }

  /** Wire [[gapFillLinearUpdate]] over a (possibly streaming) event set. */
  def gapFillLinearStream(events: org.apache.spark.sql.Dataset[GapEvent],
                          bucketSec: Long = 3600L)
                         (implicit spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.Dataset[GapOut] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events.groupByKey(_.series)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (k: String, it: Iterator[GapEvent],
         st: org.apache.spark.sql.streaming.GroupState[LinGapState]) =>
          gapFillLinearUpdate(bucketSec)(k, it, st))
  }

  /** Wire [[gapFillUpdate]] over a (possibly streaming) event set. */
  def gapFillStream(events: org.apache.spark.sql.Dataset[GapEvent],
                    bucketSec: Long = 3600L)
                   (implicit spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.Dataset[GapOut] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events.groupByKey(_.series)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (k: String, it: Iterator[GapEvent],
         st: org.apache.spark.sql.streaming.GroupState[GapState]) =>
          gapFillUpdate(bucketSec)(k, it, st))
  }

  /** Baseline accumulation (nb, sb), frozen μ₀, the open bucket
    * (h, sv, cnt), and the CUSUM pair (p, minp). */
  case class CusumState(nb: Long, sb: Long, mu0: Long, h: Long, sv: Long,
                        cnt: Long, p: Long, minp: Long)
  case class CusumOut(series: String, h: Long, x_micro: Long,
                      mu0_micro: Long, s_micro: Long)

  /** Streaming twin of `Analytics.cusum` (§2b 28bd): the sequential
    * level-shift detector maintained live. Buckets close exactly as in
    * [[gapFillStream]]; the first `refBuckets` closed buckets accumulate
    * the baseline (emitting nothing), μ₀ freezes at the transition, and
    * every later closed bucket updates the textbook recurrence
    * `s = max(0, s + x − μ₀ − k)` carried as the (P, min P) pair — eight
    * longs of state per series, emissions == batch rows over any
    * time-ordered prefix minus the open bucket (spec-asserted by
    * replay). The recurrence here and the batch's two-window closed form
    * are algebraically identical; the spec pins them to each other.
    */
  def cusumUpdate(refBuckets: Int, slackPermille: Long, bucketSec: Long)(
      key: String, events: Iterator[GapEvent],
      state: org.apache.spark.sql.streaming.GroupState[CusumState]): Iterator[CusumOut] = {
    var st = state.getOption.orNull
    val out = Vector.newBuilder[CusumOut]
    def close(s: CusumState): CusumState = {
      val x = s.sv / s.cnt
      if (s.nb < refBuckets) {
        val nb = s.nb + 1
        val sb = s.sb + x
        s.copy(nb = nb, sb = sb,
          mu0 = if (nb == refBuckets) sb / refBuckets else s.mu0)
      } else {
        val d = x - s.mu0 - s.mu0 * slackPermille / 1000L
        val p = s.p + d
        val minp = math.min(s.minp, p)
        out += CusumOut(key, s.h, x, s.mu0, p - math.min(0L, minp))
        s.copy(p = p, minp = minp)
      }
    }
    events.toSeq.sortBy(_.t).foreach { e =>
      val hb = e.t / bucketSec
      if (st == null)
        st = CusumState(0L, 0L, 0L, hb, e.vm, 1L, 0L, Long.MaxValue)
      else if (hb > st.h)
        st = close(st).copy(h = hb, sv = e.vm, cnt = 1L)
      else st = st.copy(sv = st.sv + e.vm, cnt = st.cnt + 1L)
    }
    if (st != null) state.update(st)
    out.result().iterator
  }

  /** Wire [[cusumUpdate]] over a (possibly streaming) event set. */
  def cusumStream(events: org.apache.spark.sql.Dataset[GapEvent],
                  refBuckets: Int = 24, slackPermille: Long = 50L,
                  bucketSec: Long = 3600L)
                 (implicit spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.Dataset[CusumOut] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events.groupByKey(_.series)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (k: String, it: Iterator[GapEvent],
         st: org.apache.spark.sql.streaming.GroupState[CusumState]) =>
          cusumUpdate(refBuckets, slackPermille, bucketSec)(k, it, st))
  }

  /** Closed-bucket count, the open bucket (h, sv, cnt), and the Holt
    * (level, trend) pair — six longs per series. */
  case class HoltState(n: Long, h: Long, sv: Long, cnt: Long, l: Long, b: Long)
  case class HoltOut(series: String, h: Long, v_micro: Long,
                     level_micro: Long, trend_micro: Long)

  /** Streaming twin of `Analytics.holt` (§2b 28bi): the level+trend
    * smoother maintained live — the online slope monitor. Buckets close
    * exactly as in [[gapFillStream]]/[[cusumStream]]; each closed bucket
    * advances the dyadic recurrence (`>>` on Long is the same
    * floor-on-negatives arithmetic shift the batch's `shiftright` and the
    * oracle's `>>` use) and emits its (level, trend) row, so emissions
    * over any time-ordered prefix equal the batch operator minus the open
    * bucket (spec-asserted by replay against `eventHolt`). State is six
    * longs per series — O(series) total, never O(history).
    */
  def holtUpdate(bucketSec: Long)(
      key: String, events: Iterator[GapEvent],
      state: org.apache.spark.sql.streaming.GroupState[HoltState]): Iterator[HoltOut] = {
    var st = state.getOption.orNull
    val out = Vector.newBuilder[HoltOut]
    def close(s: HoltState): HoltState = {
      val v = s.sv / s.cnt
      val (l, b) =
        if (s.n == 0L) (v, 0L)
        else {
          val l2 = (v + s.l + s.b) >> 1
          (l2, (l2 - s.l + 3L * s.b) >> 2)
        }
      out += HoltOut(key, s.h, v, l, b)
      s.copy(n = s.n + 1L, l = l, b = b)
    }
    events.toSeq.sortBy(_.t).foreach { e =>
      val hb = e.t / bucketSec
      if (st == null)
        st = HoltState(0L, hb, e.vm, 1L, 0L, 0L)
      else if (hb > st.h)
        st = close(st).copy(h = hb, sv = e.vm, cnt = 1L)
      else st = st.copy(sv = st.sv + e.vm, cnt = st.cnt + 1L)
    }
    if (st != null) state.update(st)
    out.result().iterator
  }

  /** Wire [[holtUpdate]] over a (possibly streaming) event set. */
  def holtStream(events: org.apache.spark.sql.Dataset[GapEvent],
                 bucketSec: Long = 3600L)
                (implicit spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.Dataset[HoltOut] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events.groupByKey(_.series)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (k: String, it: Iterator[GapEvent],
         st: org.apache.spark.sql.streaming.GroupState[HoltState]) =>
          holtUpdate(bucketSec)(k, it, st))
  }

  /** [[HoltState]] plus the `period` seasonal slots. */
  case class HwState(n: Long, h: Long, sv: Long, cnt: Long, l: Long, b: Long,
                     seas: Seq[Long])
  case class HwOut(series: String, h: Long, v_micro: Long, level_micro: Long,
                   trend_micro: Long, season_micro: Long)

  /** Streaming twin of `Analytics.holtWinters` (§2b 28bk): the
    * diurnal-aware level+trend+seasonal smoother maintained live.
    * Buckets close exactly as [[holtStream]]; each closed bucket
    * advances all three dyadic recurrences and emits its row — state is
    * `6 + period` longs per series, O(series) forever. Emissions over
    * any time-ordered prefix equal the batch operator minus the open
    * bucket (spec-asserted by replay).
    */
  def holtWintersUpdate(period: Int, bucketSec: Long)(
      key: String, events: Iterator[GapEvent],
      state: org.apache.spark.sql.streaming.GroupState[HwState]): Iterator[HwOut] = {
    var st = state.getOption.orNull
    val out = Vector.newBuilder[HwOut]
    def close(s: HwState): HwState = {
      val v = s.sv / s.cnt
      val slot = (s.h % period).toInt
      val sp = s.seas(slot)
      val (l, b) =
        if (s.n == 0L) (v, 0L)
        else {
          val l2 = (v - sp + s.l + s.b) >> 1
          (l2, (l2 - s.l + 3L * s.b) >> 2)
        }
      val snew = (v - l + 3L * sp) >> 2
      out += HwOut(key, s.h, v, l, b, snew)
      s.copy(n = s.n + 1L, l = l, b = b, seas = s.seas.updated(slot, snew))
    }
    events.toSeq.sortBy(_.t).foreach { e =>
      val hb = e.t / bucketSec
      if (st == null)
        st = HwState(0L, hb, e.vm, 1L, 0L, 0L, Vector.fill(period)(0L))
      else if (hb > st.h)
        st = close(st).copy(h = hb, sv = e.vm, cnt = 1L)
      else st = st.copy(sv = st.sv + e.vm, cnt = st.cnt + 1L)
    }
    if (st != null) state.update(st)
    out.result().iterator
  }

  /** Wire [[holtWintersUpdate]] over a (possibly streaming) event set. */
  def holtWintersStream(events: org.apache.spark.sql.Dataset[GapEvent],
                        period: Int = 24, bucketSec: Long = 3600L)
                       (implicit spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.Dataset[HwOut] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events.groupByKey(_.series)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (k: String, it: Iterator[GapEvent],
         st: org.apache.spark.sql.streaming.GroupState[HwState]) =>
          holtWintersUpdate(period, bucketSec)(k, it, st))
  }

  case class DauVote(w_day: Long, user_id: Long)
  /** [[DauVote]] plus its event-time column (the window-end day as a
    * timestamp) — the shape the watermark rides on inside
    * [[slidingDauStream]].
    */
  case class DauVoteTs(w_day: Long, user_id: Long, ts: java.sql.Timestamp)
  /** Fixed-size HLL register file for this window-end (`1 << p` bytes). */
  case class DauState(registers: Array[Byte])
  case class DauOut(w_day: Long, dau7: Long)

  /** Streaming twin of `Analytics.slidingActiveUsers` (§2b 28at): 7-day
    * rolling distinct actives maintained live. The batch reshape is
    * reused verbatim — each (user, active-day) votes into its
    * ≤`windowDays` window-ends via a small explode BEFORE keying — then
    * one state machine per window-end folds the votes into an HLL
    * register file and emits the updated estimate whenever a register
    * grows. State per key is EXACTLY `1 << p` bytes (16 KiB at the
    * default p=14, ±0.8% standard error) no matter how many distinct
    * users the window sees — the 28l sketch-tolerance contract, chosen
    * over the exact user-set state that would hold 10⁸ longs in one
    * state entry at 100× cardinality. The hash/registers/estimator are
    * byte-identical to `graft_hll(user_id, p)` (functions/HllSketch
    * .scala), so the spec pins the stream's final count per window-end
    * to the batch sketch's estimate BIT-EXACTLY, and to the exact batch
    * operator within tolerance. Registers only grow, so estimates are
    * monotone and the LATEST emitted count per window-end is the answer.
    * Chained dropDuplicates→agg is NOT used: that pair of stateful
    * operators is unsupported in update mode, and the single
    * flatMapGroups machine does the same work in one state store.
    * An EVENT-TIME timeout reaps closed window-ends: each key arms a
    * timer at `w_day + horizonDays` (a window-end only collects votes
    * for `windowDays` of event time), and when the watermark passes it
    * the state leaves the store instead of accumulating forever.
    * Event-time — not processing-time — on purpose: timers fire only
    * when the watermark advances (i.e. with data), so the engine never
    * busy-loops empty batches checking wall-clock timers, replays are
    * deterministic, and a paused-then-resumed stream doesn't mass-expire
    * live windows. `w_day` is the epoch-day long (date arithmetic stays
    * integer).
    */
  def dauUpdate(key: Long, votes: Iterator[DauVoteTs],
                state: org.apache.spark.sql.streaming.GroupState[DauState],
                p: Int, horizonDays: Int): Iterator[DauOut] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    // a very late vote can arrive with the watermark already past this
    // window's horizon; the timer must still land strictly beyond the
    // watermark or the state store rejects it
    def arm(): Unit = state.setTimeoutTimestamp(
      math.max((key + horizonDays) * 86400000L, state.getCurrentWatermarkMs + 1))
    val regs = state.getOption.map(_.registers).getOrElse(new Array[Byte](1 << p))
    var changed = false
    votes.foreach { v =>
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(v.user_id, org.apache.spark.sql.types.LongType, 42L)
      val idx = (h >>> (64 - p)).toInt
      val rest = h << p
      val rank = if (rest == 0) (64 - p + 1) else java.lang.Long.numberOfLeadingZeros(rest) + 1
      if (rank > regs(idx)) { regs(idx) = rank.toByte; changed = true }
    }
    if (changed) {
      state.update(DauState(regs))
      arm()
      Iterator.single(DauOut(key, graft.functions.HllImpl.estimate(regs)))
    } else {
      if (state.exists) arm()
      Iterator.empty
    }
  }

  /** Wire [[dauUpdate]] over pre-exploded (w_day, user_id) votes — see
    * the spec for the explode; batch and stream share that projection.
    * The watermark rides the window-end day itself (`lateDays` of
    * allowed lateness), so `horizonDays` must exceed the vote explode's
    * `windowDays` for live windows to outlast their vote stream.
    */
  def slidingDauStream(votes: org.apache.spark.sql.Dataset[DauVote],
                       p: Int = 14, horizonDays: Int = 8, lateDays: Int = 1)
                      (implicit spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.Dataset[DauOut] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    votes.withColumn("ts", (col("w_day") * 86400L).cast("timestamp"))
      .as[DauVoteTs]
      .withWatermark("ts", s"$lateDays days")
      .groupByKey(_.w_day)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(
        (k: Long, it: Iterator[DauVoteTs],
         st: org.apache.spark.sql.streaming.GroupState[DauState]) =>
          dauUpdate(k, it, st, p, horizonDays))
  }

  /** Streaming twin of the MAD anomaly detector's SCORE step
    * (`Analytics.anomalyMad`): flag live rows against BATCH-TRAINED
    * per-key (median, MAD) stats — the train-offline / score-online
    * split. Stateless by construction: a stream-static broadcast join +
    * a codegen'd filter, so it needs no watermark, adds no state store,
    * and keeps up at any input rate; re-training is swapping the stats
    * table between restarts. Batch parity is exact because both sides
    * evaluate the identical expression against the identical stats.
    */
  def anomalyStream(stream: DataFrame, stats: DataFrame, keyCol: String,
                    valueCol: String, cut: Double = 6.0): DataFrame =
    stream.join(broadcast(stats.withColumnRenamed("k", keyCol)), Seq(keyCol))
      .filter(col("mad") > 0 &&
        abs(col(valueCol) - col("med")) > col("mad") * lit(cut))
      .withColumn("mad_score", abs(col(valueCol) - col("med")) / col("mad"))
}
