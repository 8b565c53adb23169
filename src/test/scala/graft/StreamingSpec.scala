package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Monitor

case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, props: String)

case class Doc(doc_id: Long, ts: Timestamp, text: String)

case class DocL(doc_id: Long, text: String, lang: String)

case class EmbDoc(vec_id: Long, ts: Timestamp, embedding: Array[Float])

case class Asset(asset_id: Long, kind: String, payload: Array[Byte])

case class EvV(event_id: Long, event_type: String, value: Double)

case class AbEvent(event_id: Long, user_id: Long, event_type: String, value: Double)

/** Streaming twins driven synchronously with MemoryStream + AvailableNow. */
class StreamingSpec extends AnyFunSuite {
  import TestSession._

  test("topicstore stream offsets compact away files beyond maxFileAge") {
    spark.range(1).count() // force the session up: the stream reads SparkSession.active
    val dir = Files.createTempDirectory("graft_tsage").toString
    val fixture = new java.io.File(getClass.getResource("/sample.topic_store").toURI)
    val oldF = new java.io.File(dir, "old.topic_store")
    val newF = new java.io.File(dir, "new.topic_store")
    java.nio.file.Files.copy(fixture.toPath, oldF.toPath)
    java.nio.file.Files.copy(fixture.toPath, newF.toPath)
    assert(oldF.setLastModified(newF.lastModified() - 3600 * 1000))
    val stream = new graft.sources.TopicStoreMicroBatchStream(
      Seq(dir), graft.sources.TopicStoreSource.Schema, maxFileAgeMs = 60 * 1000)
    val end = stream.latestOffset().asInstanceOf[graft.sources.TopicStoreOffset]
    // the hour-old file is beyond the 1-minute retention window: excluded
    // from the frontier AND from the new-file candidates (exactly-once
    // holds, offset stays bounded)
    assert(end.files.keySet === Set(s"file:$newF"))
    val parts = stream.planInputPartitions(stream.initialOffset(), end)
    assert(parts.length === 1)
  }

  test("topicstore listing equals fs.listFiles: two depths, sidecars, a file root, listed once per scan") {
    spark.range(1).count()
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val fixture = new java.io.File(getClass.getResource("/sample.topic_store").toURI).toPath
    val dir = Files.createTempDirectory("graft_tswalk")
    Files.createDirectories(dir.resolve("s1/s2"))
    Files.createDirectories(dir.resolve("empty"))
    Seq("a.topic_store", "s1/b.topic_store", "s1/s2/c.topic_store")
      .foreach(rel => Files.copy(fixture, dir.resolve(rel)))
    Files.write(dir.resolve("s1/notes.txt"), "not a log".getBytes)
    Files.write(dir.resolve(".a.topic_store.crc"), Array[Byte](1, 2))
    Files.write(dir.resolve("s1/s2/.c.topic_store.crc"), Array[Byte](1, 2))

    def triples(fs: Iterable[org.apache.hadoop.fs.FileStatus]) =
      fs.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSet
    def listed(root: String) = {
      val p = new Path(root)
      val fs = p.getFileSystem(conf)
      val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
      if (fs.exists(p)) {
        val it = fs.listFiles(p, true)
        while (it.hasNext) {
          val f = it.next()
          if (f.isFile && f.getPath.getName.endsWith(".topic_store")) out += f
        }
      }
      triples(out)
    }
    val roots = Seq(dir.toString, s"file:$dir", s"$dir/s1", s"$dir/s1/s2/c.topic_store",
      s"$dir/empty", s"$dir/missing")
    roots.foreach { root =>
      val walked = graft.sources.TopicStoreSource.listLogs(conf, Seq(root))
      assert(triples(walked) === listed(root), root)
      assert(walked.size === triples(walked).size, root)
    }
    assert(listed(dir.toString).size === 3)

    val scan = new graft.sources.TopicStoreScan(Seq(dir.toString), graft.sources.TopicStoreSource.Schema)
    assert(scan.estimateStatistics().sizeInBytes().getAsLong === 3 * Files.size(fixture))
    assert(scan.planInputPartitions() eq scan.planInputPartitions(),
      "statistics and planning share one listing")
  }

  test("captureToTopicStore lands micro-batches as native logs, replay-safe") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tscap").toString
    val ckpt = Files.createTempDirectory("graft_tscap_ckpt").toString
    val in = MemoryStream[String](spark)
    in.addData("""{"_id":1,"x":1.5}""", """{"_id":2,"x":2.5}""")
    val q = Monitor.captureToTopicStore(in.toDF().withColumnRenamed("value", "doc"), dir, ckpt)
    q.awaitTermination()
    // output is the native format: both the V2 source and the decoder read it
    val back = spark.read.format("topicstore").load(dir).select("doc")
      .collect().map(_.getString(0)).sorted
    assert(back.toSeq === Seq("""{"_id":1,"x":1.5}""", """{"_id":2,"x":2.5}"""))
    // replaying the same batch id must rewrite, not duplicate
    val q2 = Monitor.captureToTopicStore(in.toDF().withColumnRenamed("value", "doc"),
      dir, Files.createTempDirectory("graft_tscap_ckpt2").toString)
    q2.awaitTermination()
    assert(spark.read.format("topicstore").load(dir).count() === 2,
      "same batch id from a fresh checkpoint rewrites its directory")
  }

  test("topicstore micro-batch stream tails a capture dir, exactly-once per file") {
    val dir = Files.createTempDirectory("graft_tslog").toString
    val ckpt = Files.createTempDirectory("graft_tslog_ckpt").toString
    val fixture = new java.io.File(getClass.getResource("/sample.topic_store").toURI)
    java.nio.file.Files.copy(fixture.toPath, java.nio.file.Paths.get(dir, "a.topic_store"))

    val out = Files.createTempDirectory("graft_tslog_out").toString
    def drain(): Unit = {
      val q = spark.readStream.format("topicstore").load(dir)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    assert(spark.read.parquet(out).count() === 3, "3 decodable records in the fixture")

    // a new capture file appears; resume from the checkpoint — only the
    // new file is read (the offset carries the ingested-file frontier)
    java.nio.file.Files.copy(fixture.toPath, java.nio.file.Paths.get(dir, "b.topic_store"))
    drain()
    val rows = spark.read.parquet(out).collect()
    assert(rows.length === 6, s"second batch must append exactly the new file, got ${rows.length}")
    assert(rows.map(_.getAs[String]("file")).distinct.sorted.toSeq ===
      Seq(s"file:$dir/a.topic_store", s"file:$dir/b.topic_store"))
  }

  private def sampleEvents: Seq[Ev] = {
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    (0 until 100).map { i =>
      Ev(i.toLong, new Timestamp(base + i * 60000L), (i % 5).toLong,
        if (i % 2 == 0) "click" else "view", s"""{"k": $i}""")
    }
  }

  test("streaming rates match the batch monitor aggregation") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    input.addData(sampleEvents: _*)

    val agg = Monitor.rates(input.toDF(), col("event_type"), col("ts"), col("props"),
      windowLen = "1 hour")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("rates_out").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("rates_out")
      .select(col("topic"), col("window_start").cast("long").as("w"), col("n_msgs"), col("payload_bytes"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    val batch = graft.store.DocumentStore.monitorRates(
        sampleEvents.toDF(), col("event_type"), col("ts"), col("props"), "hour")
      .select(col("topic"), col("window_start_sec"), col("n_msgs"), col("payload_bytes"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    assert(streamed === batch)
  }

  test("capture writes session-partitioned parquet with stamped meta") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    input.addData(sampleEvents: _*)
    val out = Files.createTempDirectory("graft_capture").toString
    val chk = Files.createTempDirectory("graft_chk").toString

    val q = Monitor.capture(input.toDF(), col("event_id"), col("user_id"), col("ts"), out, chk)
    try q.processAllAvailable() finally q.stop()

    val written = spark.read.parquet(out)
    assert(written.count() === 100)
    assert(written.columns.contains("_id") && written.columns.contains("session"))
    // partition pruning works: session dirs exist on disk
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.count(_.startsWith("session=")) === 5)
    // session filter reads only its partition
    assert(written.filter(col("session") === 2).count() === 20)
  }

  /** The sessionizer's processing-time timeout keeps scheduling
    * data-less batches, so neither `AvailableNow` nor `processAllAvailable`
    * ever returns: stop the query once its data batch has committed.
    */
  private def stopAfterDataBatch(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val deadline = System.nanoTime() + 120L * 1000000000L
    try {
      while (q.isActive && !q.recentProgress.exists(_.numInputRows > 0) &&
          System.nanoTime() < deadline) Thread.sleep(20)
      q.exception.foreach(e => throw e)
    } finally q.stop()
  }

  test("stateful sessionizer matches the batch sessionize aggregation") {
    implicit val s = spark
    import spark.implicits._
    import graft.streaming.Sessionizer
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Sessionizer.Event]
    val evs = sampleEvents.map(e => Sessionizer.Event(e.user_id, e.ts.getTime / 1000))
    input.addData(evs: _*)

    val q = Sessionizer.sessions(input.toDS(), gapSec = 600L)
      .writeStream.outputMode("append").format("memory").queryName("sess_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    stopAfterDataBatch(q)

    // every emitted session (closed or open) must agree with the batch op
    val streamed = spark.table("sess_out")
      .select("user_id", "session_idx", "n_events", "start_sec", "end_sec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val batch = graft.store.DocumentStore.sessionize(
        sampleEvents.toDF(), col("user_id"), col("ts").cast("long"), col("event_id"), 600L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(streamed === batch)
  }

  test("streamed LSH index equals batch banding and replay does not duplicate") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val idx = Files.createTempDirectory("graft_lsh").toString + "/index"
    val chk1 = Files.createTempDirectory("graft_lsh_chk").toString
    val t0 = 1700000000000L
    val docsSeq = Seq(
      Doc(10L, new Timestamp(t0), "the quick brown fox jumps over the lazy dog"),
      Doc(11L, new Timestamp(t0 + 1000), "pack my box with five dozen liquor jugs"),
      Doc(12L, new Timestamp(t0 + 2000), "how vexingly quick daft zebras jump"))
    val in1 = MemoryStream[Doc]
    in1.addData(docsSeq: _*)
    val q1 = Monitor.maintainLshIndex(in1.toDF(), col("doc_id"), col("text"),
      idx, chk1)
    try q1.awaitTermination(120000) finally q1.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[Int]("band"), r.getAs[String]("bh"))
    val streamed = Monitor.readLshIndex(spark, idx).collect().map(key).toSet
    val batch = ops.Dedup.lshBands(
        docsSeq.toDF().select(col("doc_id"), col("text")),
        col("doc_id"), col("text"))
      .collect().map(key).toSet
    assert(streamed === batch, "streamed index must equal batch banding")
    // a fresh checkpoint re-delivers batch 0 over the same index path:
    // dynamic overwrite must rewrite the partition, not append a copy
    val chk2 = Files.createTempDirectory("graft_lsh_chk2").toString
    val in2 = MemoryStream[Doc]
    in2.addData(docsSeq: _*)
    val q2 = Monitor.maintainLshIndex(in2.toDF(), col("doc_id"), col("text"),
      idx, chk2)
    try q2.awaitTermination(120000) finally q2.stop()
    assert(Monitor.readLshIndex(spark, idx).collect().map(key).toSet === batch,
      "replayed batch must overwrite its partition, not duplicate the index")
  }

  test("maintained A/B cells serve the exact batch lift and chi-square") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val path = Files.createTempDirectory("graft_ab").toString + "/cells"
    val chk = Files.createTempDirectory("graft_ab_chk").toString
    val batchEv = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val all = batchEv.collect().map(r => AbEvent(r.getLong(0), r.getLong(1),
      r.getString(2), r.getDouble(3)))
    // two runs over one checkpoint lineage → per-user partials must SUM
    // across batch ids (a user's purchases straddle the split)
    val in = MemoryStream[AbEvent]
    in.addData(all.take(all.length / 2).toSeq: _*)
    val q1 = Monitor.maintainAbCells(in.toDF(), path, chk)
    try q1.awaitTermination(120000) finally q1.stop()
    in.addData(all.drop(all.length / 2).toSeq: _*)
    val q2 = Monitor.maintainAbCells(in.toDF(), path, chk)
    try q2.awaitTermination(120000) finally q2.stop()
    def liftRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(liftRows(Monitor.readAbLift(spark, path)) ===
      liftRows(graft.ops.Analytics.abLift(batchEv)))
    val chiStream = Monitor.readAbChiSquare(spark, path).collect()(0)
    val chiBatch = graft.ops.Analytics.abChiSquare(batchEv).collect()(0)
    assert((0 to 4).map(chiStream.get) === (0 to 4).map(chiBatch.get))
    // the continuous-metric stats ride the SAME cells log through the
    // shared epilogues: served == batch bit-for-bit
    val tS = Monitor.readAbTTest(spark, path).collect()(0)
    val tB = graft.ops.Analytics.abTTest(batchEv).collect()(0)
    assert((0 to 5).map(tS.get) === (0 to 5).map(tB.get))
    val mwS = Monitor.readAbMannWhitney(spark, path).collect()(0)
    val mwB = graft.ops.Analytics.abMannWhitney(batchEv).collect()(0)
    assert((0 to 3).map(mwS.get) === (0 to 3).map(mwB.get))
    // compaction with the additive fold preserves the cells exactly
    Monitor.compactLog(spark, path, fold = Monitor.abCellsFold)
    assert(liftRows(Monitor.readAbLift(spark, path)) ===
      liftRows(graft.ops.Analytics.abLift(batchEv)))
  }

  test("maintained weighted sample equals the batch E-S sampler exactly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val path = Files.createTempDirectory("graft_samp").toString + "/sample"
    val chk = Files.createTempDirectory("graft_samp_chk").toString
    val k = 25
    val batchDocs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val all = batchDocs.collect()
      .map(r => Doc(r.getLong(0), new Timestamp(1700000000000L + r.getLong(0)),
        r.getString(1)))
    // two runs over ONE checkpoint lineage → two distinct batch ids in
    // the log, so merge-on-read genuinely exercises the mergeability law
    val in = MemoryStream[Doc]
    in.addData(all.take(all.length / 2).toSeq: _*)
    val q1 = Monitor.maintainSample(in.toDF(), "doc_id", length(col("text")),
      k, path, chk)
    try q1.awaitTermination(120000) finally q1.stop()
    in.addData(all.drop(all.length / 2).toSeq: _*)
    val q2 = Monitor.maintainSample(in.toDF(), "doc_id", length(col("text")),
      k, path, chk)
    try q2.awaitTermination(120000) finally q2.stop()
    val streamed = Monitor.readSample(spark, path, "doc_id", k)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val batch = ops.TextAnalysis.weightedSample(batchDocs, "doc_id",
        length(col("text")), k)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed === batch, "stream sample must EQUAL the batch sample")
    assert(streamed.size === k)
    // compaction with the top-k fold preserves the sample bit-for-bit
    Monitor.compactLog(spark, path, fold = Monitor.sampleFold("doc_id", k))
    val compacted = Monitor.readSample(spark, path, "doc_id", k)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(compacted === batch)
  }

  test("streamed co-occurrence counts equal the batch skip-gram operator") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val path = Files.createTempDirectory("graft_cooc").toString + "/cooc"
    val chk1 = Files.createTempDirectory("graft_cooc_chk").toString
    val t0 = 1700000000000L
    val docsSeq = Seq(
      Doc(10L, new Timestamp(t0), "a b c"),
      Doc(11L, new Timestamp(t0 + 1000), "a a"),
      Doc(12L, new Timestamp(t0 + 2000), "b c b"))
    val in1 = MemoryStream[Doc]
    // two separate runs over ONE checkpoint lineage so the merged log
    // really sums across distinct batch ids (a fresh checkpoint would
    // restart at batch 0 and overwrite — the exactly-once contract)
    in1.addData(docsSeq.take(2): _*)
    val q1 = Monitor.maintainCoocCounts(in1.toDF(), col("text"), path, chk1)
    try q1.awaitTermination(120000) finally q1.stop()
    in1.addData(docsSeq.drop(2): _*)
    val q2 = Monitor.maintainCoocCounts(in1.toDF(), col("text"), path, chk1)
    try q2.awaitTermination(120000) finally q2.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getString(1)) -> r.getLong(2)
    val streamed = Monitor.readCoocCounts(spark, path).collect().map(key).toMap
    val batch = ops.TextAnalysis.skipgramPairs(docsSeq.toDF(), col("text"))
      .collect().map(key).toMap
    assert(streamed === batch)
  }

  test("streamed word counts equal batch tokenization and feed BPE, replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val path = Files.createTempDirectory("graft_wc").toString + "/vocab"
    val chk1 = Files.createTempDirectory("graft_wc_chk").toString
    val t0 = 1700000000000L
    val docsSeq = Seq(
      Doc(10L, new Timestamp(t0), "aaab aaab"),
      Doc(11L, new Timestamp(t0 + 1000), "aaab aaab cd cd"),
      Doc(12L, new Timestamp(t0 + 2000), "cd the the the"))
    val in1 = MemoryStream[Doc]
    in1.addData(docsSeq: _*)
    val q1 = Monitor.maintainWordCounts(in1.toDF(), col("text"), path, chk1)
    try q1.awaitTermination(120000) finally q1.stop()
    val streamed = Monitor.readWordCounts(spark, path).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed === Map("aaab" -> 4L, "cd" -> 3L, "the" -> 3L))
    // the maintained vocab feeds the BPE candidate counter directly and
    // must agree with counting straight off the documents
    val viaVocab = ops.TextAnalysis.bpePairCountsFromVocab(
        Monitor.readWordCounts(spark, path))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val viaDocs = ops.TextAnalysis.bpePairCounts(
        docsSeq.toDF().select(col("text")), col("text"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(viaVocab === viaDocs)
    // replay from a fresh checkpoint: batch 0 must overwrite its own
    // partition, not double every count
    val chk2 = Files.createTempDirectory("graft_wc_chk2").toString
    val in2 = MemoryStream[Doc]
    in2.addData(docsSeq: _*)
    val q2 = Monitor.maintainWordCounts(in2.toDF(), col("text"), path, chk2)
    try q2.awaitTermination(120000) finally q2.stop()
    val replayed = Monitor.readWordCounts(spark, path).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(replayed === streamed, "replayed batch must not duplicate counts")
  }

  test("streaming embedding near-dup flags semantic twins against the SRP index") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def vec(parts: (Int, Float)*): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      parts.foreach { case (i, x) => a(i) = x }
      a
    }
    val corpus = Seq(0L -> vec(0 -> 1.0f), 2L -> vec(1 -> 1.0f))
      .toDF("vec_id", "embedding")
    val idxPath = Files.createTempDirectory("graft_srp").toString + "/index"
    val chk = Files.createTempDirectory("graft_srp_chk").toString
    // build the index BY STREAMING the corpus in — maintained, not batch
    val corpusStream = MemoryStream[EmbDoc]
    val t0 = 1700000000000L
    corpusStream.addData(
      EmbDoc(0L, new Timestamp(t0), vec(0 -> 1.0f)),
      EmbDoc(2L, new Timestamp(t0), vec(1 -> 1.0f)))
    val qi = Monitor.maintainSrpIndex(corpusStream.toDF(), col("vec_id"),
      col("embedding"), idxPath, chk)
    try qi.awaitTermination(120000) finally qi.stop()
    // the maintained log must equal a batch srpIndex build
    val streamedIdx = Monitor.readSrpIndex(spark, idxPath)
      .select("vec_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    val batchIdx = ops.Similarity.srpIndex(corpus)
      .select("vec_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(streamedIdx === batchIdx, "maintained index must equal batch bucketing")
    // arrival 100 is a scaled twin of indexed 0; arrival 101 is novel
    val input = MemoryStream[EmbDoc]
    input.addData(
      EmbDoc(100L, new Timestamp(t0 + 1000), vec(0 -> 0.9f)),
      EmbDoc(101L, new Timestamp(t0 + 2000), vec(5 -> 1.0f)))
    val q = Monitor.embNearDupStream(input.toDF(), col("vec_id"), col("embedding"),
        "ts", Monitor.readSrpIndex(spark, idxPath), threshold = 0.45)
      .writeStream.outputMode("append").format("memory").queryName("embdup_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000) finally q.stop()
    val got = spark.table("embdup_out")
      .select("new_id", "indexed_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(p => (p._1, p._2)).toSet === Set((100L, 0L)),
      s"only the semantic twin may flag: ${got.toSeq}")
    assert(got.head._3 === 1.0, "co-directional twin scores cosine 1.0 exactly")
  }

  test("streaming near-dup flags band collisions against the static index, like batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "pack my box with five dozen liquor jugs"),
      (12L, "how vexingly quick daft zebras jump")).toDF("doc_id", "text")
    val index = ops.Dedup.lshBands(corpus, col("doc_id"), col("text"))
    val t0 = 1700000000000L
    // doc 1 is an exact redelivery of indexed doc 10 (every band collides);
    // doc 2 shares no shingles with the corpus
    val incr = Seq(
      Doc(1L, new Timestamp(t0), "the quick brown fox jumps over the lazy dog"),
      Doc(2L, new Timestamp(t0 + 1000), "sphinx of black quartz judge my vow"))
    val input = MemoryStream[Doc]
    input.addData(incr: _*)
    val q = Monitor.nearDupStream(input.toDF(), col("doc_id"), col("text"),
        "ts", index)
      .writeStream.outputMode("append").format("memory").queryName("neardup_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000) finally q.stop()
    val got = spark.table("neardup_out").select("new_id", "indexed_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = ops.Dedup.lshCandidatesAgainst(
        incr.toDF().select(col("doc_id"), col("text")),
        col("doc_id"), col("text"), index)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected, "stream flags must equal the batch increment join")
    assert(got.contains((1L, 10L)), "the redelivered doc must be flagged")
    assert(!got.exists(_._1 == 2L), "a novel doc must not be flagged")
  }

  test("streaming decontamination flags the paraphrased leak with the batch verdict") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val benchText = (0 until 80).map(i => s"tok$i").mkString(" ")
    val bench = Seq((1L, benchText)).toDF("doc_id", "text")
    val benchBands = ops.Dedup.lshBands(bench, col("doc_id"), col("text"))
    val benchSigs = ops.Dedup.minhash(bench, col("doc_id"), col("text"), 16)
    val t0 = 1700000000000L
    // doc 100 = the paraphrase (every 13th word swapped — the batch
    // fuzzy spec's fixture); doc 101 shares nothing with the bench
    val leak = (0 until 80).map(i => if (i % 13 == 6) s"swap$i" else s"tok$i").mkString(" ")
    val incr = Seq(
      Doc(100L, new Timestamp(t0), leak),
      Doc(101L, new Timestamp(t0 + 1000), (50 until 130).map(i => s"other$i").mkString(" ")))
    val input = MemoryStream[Doc]
    input.addData(incr: _*)
    val q = Monitor.decontaminateStream(input.toDF(), col("doc_id"), col("text"),
        "ts", benchBands, benchSigs)
      .writeStream.outputMode("append").format("memory").queryName("decontam_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000) finally q.stop()
    val got = spark.table("decontam_out").select("doc_id", "bench_id", "n_match")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = ops.Dedup.contaminationFuzzy(
        incr.toDF().select(col("doc_id"), col("text")), col("doc_id"), col("text"),
        bench, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected, "stream verdicts must equal batch contaminationFuzzy")
    assert(got.map(t => (t._1, t._2)) === Set((100L, 1L)),
      s"exactly the planted leak must be flagged: $got")
    ops.Dedup.unpersistShared()
  }

  test("stream-stream interval join correlates within the time bound") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val lIn = MemoryStream[Ev]
    val rIn = MemoryStream[Ev]
    val base = Timestamp.valueOf("2024-02-01 00:00:00").getTime
    // right event at t+0; left events at +30min (in bound) and +90min (out)
    rIn.addData(Ev(100L, new Timestamp(base), 1L, "click", "{}"))
    lIn.addData(
      Ev(200L, new Timestamp(base + 30 * 60000L), 1L, "purchase", "{}"),
      Ev(201L, new Timestamp(base + 90 * 60000L), 1L, "purchase", "{}"),
      Ev(202L, new Timestamp(base + 30 * 60000L), 2L, "purchase", "{}")) // wrong key
    val joined = graft.streaming.Monitor.correlate(
      lIn.toDF().select(col("event_id").as("l_id"), col("user_id"), col("ts")),
      rIn.toDF().select(col("event_id").as("r_id"), col("user_id").as("user_id"),
        col("ts").as("r_ts")),
      "user_id", "ts", "r_ts", 3600L)
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("corr_out").start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("corr_out").select("l_id", "r_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows === Set((200L, 100L)))
  }

  test("stateful sessionizer runs on the RocksDB state store provider") {
    implicit val s = spark
    import spark.implicits._
    import graft.streaming.Sessionizer
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Sessionizer.Event]
      input.addData(sampleEvents.map(e => Sessionizer.Event(e.user_id, e.ts.getTime / 1000)): _*)
      val q = Sessionizer.sessions(input.toDS(), gapSec = 600L)
        .writeStream.outputMode("append").format("memory").queryName("sess_rocks")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      stopAfterDataBatch(q)
      val streamed = spark.table("sess_rocks")
        .select("user_id", "session_idx", "n_events", "start_sec", "end_sec")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      val batch = graft.store.DocumentStore.sessionize(
          sampleEvents.toDF(), col("user_id"), col("ts").cast("long"), col("event_id"), 600L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      assert(streamed === batch, "RocksDB-backed state must agree with the batch op")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("foreachBatch sink is idempotent: a replayed batch does not duplicate") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val out = Files.createTempDirectory("graft_eo").toString + "/data"
    val chk1 = Files.createTempDirectory("graft_eo_chk").toString

    val in1 = MemoryStream[Ev]
    in1.addData(sampleEvents.take(40): _*)
    val q1 = Monitor.captureExactlyOnce(in1.toDF(), out, chk1)
    try q1.awaitTermination(120000) finally q1.stop()
    assert(spark.read.parquet(out).count() === 40)

    // simulate the replay window: a FRESH checkpoint re-delivers the same
    // batch ids over the same sink path — dynamic partition overwrite
    // rewrites __batch_id=0 instead of appending a second copy
    val chk2 = Files.createTempDirectory("graft_eo_chk2").toString
    val in2 = MemoryStream[Ev]
    in2.addData(sampleEvents.take(40): _*)
    val q2 = Monitor.captureExactlyOnce(in2.toDF(), out, chk2)
    try q2.awaitTermination(120000) finally q2.stop()
    val after = spark.read.parquet(out)
    assert(after.count() === 40, "replayed batch must overwrite, not append")
    assert(after.select("event_id").distinct().count() === 40)
  }

  test("streaming dedup drops redelivered ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    // every event delivered twice (retry storm) + one genuine duplicate id
    val evs = sampleEvents.take(30)
    input.addData(evs ++ evs: _*)
    val q = Monitor.dedupStream(input.toDF(), Seq("event_id"), "ts")
      .writeStream.outputMode("append").format("memory").queryName("dedup_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000) finally q.stop()
    val out = spark.table("dedup_out")
    assert(out.count() === 30, "each id must survive exactly once")
    assert(out.select("event_id").distinct().count() === 30)
  }

  test("streaming span dedup keeps first occurrence of a chunk, like batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Doc]
    // width=3 chunks; docs 1-3 share the "a b c" boilerplate header, doc 2
    // additionally repeats doc 1's "d e f" tail — the streaming rule must
    // keep exactly the batch operator's first-occurrence survivors
    val t0 = 1700000000000L
    input.addData(
      Doc(1L, new Timestamp(t0), "a b c d e f"),
      Doc(2L, new Timestamp(t0 + 1000), "a b c d e f"),
      Doc(3L, new Timestamp(t0 + 2000), "a b c x y z"))
    val q = Monitor.dedupSpansStream(input.toDF(), col("doc_id"), col("text"),
        "ts", width = 3)
      .writeStream.outputMode("append").format("memory").queryName("span_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000) finally q.stop()
    val out = spark.table("span_out")
      .select("doc_id", "pos", "chunk").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    // 8 chunks arrive, 4 distinct texts survive once each
    assert(out.map(_._3) === Set("a b c", "d e f", "x y z"))
    assert(out.size === 3)
    // within one micro-batch arrival order isn't observable, so assert
    // each surviving chunk text maps to exactly one (doc, pos) slot that
    // carried that text in the input
    assert(out.forall {
      case (d, p, "a b c") => p == 0 && Set(1L, 2L, 3L).contains(d)
      case (d, p, "d e f") => p == 1 && Set(1L, 2L).contains(d)
      case (d, p, "x y z") => d == 3L && p == 1
      case _ => false
    })
  }

  test("streaming twap equals the batch operator after every prefix") {
    implicit val sqlCtx = spark.sqlContext
    implicit val ss = spark
    import spark.implicits._
    val all = Tables.events(spark, sf)
      .select(col("event_type"), col("event_id"), col("ts").cast("long").as("t"),
        expr("cast(round(value * 1000000.0D) as bigint)").as("vm"))
      .as[Monitor.TwapEvent].collect().sortBy(e => (e.t, e.event_id))
    val input = MemoryStream[Monitor.TwapEvent]
    val q = Monitor.twapStream(input.toDS()).writeStream
      .outputMode("update").format("memory").queryName("twap_stream").start()
    try {
      // three time-ordered micro-batches: per-key arrival stays in order
      all.grouped(math.max(1, all.length / 3 + 1)).foreach { chunk =>
        input.addData(chunk: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // sdt grows monotonically: the max-sdt row per key is the final state
    val streamed = spark.table("twap_stream")
      .groupBy("event_type")
      .agg(max(struct(col("sdt"), col("twap_micro"))).as("f"))
      .select(col("event_type"), col("f.sdt"), col("f.twap_micro"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.ops.Analytics.twap(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)
  }

  test("streaming ewma emits the batch smoother row-for-row") {
    implicit val sqlCtx = spark.sqlContext
    implicit val ss = spark
    import spark.implicits._
    val all = Tables.events(spark, sf)
      .select(col("event_type"), col("event_id"), col("ts").cast("long").as("t"),
        expr("cast(round(value * 1000000.0D) as bigint)").as("vm"))
      .as[Monitor.EwmaEvent].collect().sortBy(e => (e.t, e.event_id))
    val input = MemoryStream[Monitor.EwmaEvent]
    val q = Monitor.ewmaStream(input.toDS()).writeStream
      .outputMode("update").format("memory").queryName("ewma_stream").start()
    try {
      // three time-ordered micro-batches: per-key arrival stays in order
      all.grouped(math.max(1, all.length / 3 + 1)).foreach { chunk =>
        input.addData(chunk: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // every event emits exactly once, so the table IS the full result
    val streamed = spark.table("ewma_stream")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.ops.Analytics.ewma(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)
    assert(streamed.size === all.length)
  }

  test("streaming sliding dau converges to the batch rolling distinct counts") {
    implicit val sqlCtx = spark.sqlContext
    implicit val ss = spark
    import spark.implicits._
    // the batch reshape, shared: user-day dedup + window-end explode
    val votes = Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      .select(explode(sequence(lit(0), lit(6))).as("off"), col("user_id"), col("d"))
      .select(datediff(date_add(col("d"), col("off")), lit("1970-01-01").cast("date"))
        .cast("long").as("w_day"), col("user_id"))
      .as[Monitor.DauVote].collect().sortBy(v => (v.w_day, v.user_id))
    val input = MemoryStream[Monitor.DauVote]
    // event-time timers fire only when the watermark moves, so the plain
    // processAllAvailable drive works (no wall-clock timer polling)
    val q = Monitor.slidingDauStream(input.toDS()).writeStream
      .outputMode("update").format("memory").queryName("dau_stream").start()
    try {
      votes.grouped(math.max(1, votes.length / 3 + 1)).foreach { chunk =>
        input.addData(chunk: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // update-mode estimates only grow: the max per window-end is the final state
    val streamed = spark.table("dau_stream")
      .groupBy("w_day").agg(max(col("dau7")).as("dau7"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // contract 1 (bit-exact): the stream's final estimate per window-end
    // IS graft_hll_sketch(user_id, 14) over the same votes — same hash,
    // same registers, same estimator
    graft.functions.HllFunctions.register(spark)
    val sketch = votes.toSeq.toDF("w_day", "user_id")
      .groupBy("w_day")
      .agg(expr("graft_hll_est(graft_hll_sketch(user_id, 14))").as("dau7"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sketch.foreach { case (day, n) => assert(streamed(day) === n, s"sketch day $day") }
    // contract 2 (tolerance): within the 28l sketch error of the exact
    // batch operator on its domain (batch caps trailing windows at the
    // last seen day); p=14 → ±0.8% standard error, assert 5%
    val batch = graft.ops.Analytics.slidingActiveUsers(spark, sf).collect()
      .map(r => r.getDate(0).toLocalDate.toEpochDay -> r.getLong(1)).toMap
    batch.foreach { case (day, n) =>
      assert(math.abs(streamed(day) - n) <= math.max(1L, (n * 0.05).toLong), s"day $day") }
    assert(batch.nonEmpty)
  }

  test("sliding dau state is fixed-size registers and times out idle window-ends") {
    import org.apache.spark.sql.streaming.TestGroupState
    // fold 10k distinct users into one window-end key: state stays 1<<p bytes
    val p = 12
    var st = TestGroupState.create[Monitor.DauState](
      org.apache.spark.api.java.Optional.empty(), org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout,
      batchProcessingTimeMs = 1000L, eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of(1000L), hasTimedOut = false)
    val ts = new java.sql.Timestamp(100L * 86400000L)
    val votes = (1L to 10000L).iterator.map(u => Monitor.DauVoteTs(100L, u, ts))
    val out = Monitor.dauUpdate(100L, votes, st, p, horizonDays = 8).toSeq
    assert(out.size === 1)
    assert(st.get.registers.length === (1 << p))
    // estimate is within sketch tolerance of the exact 10k
    assert(math.abs(out.head.dau7 - 10000L) <= 10000L * 5 / 100)
    // the expiry timer is armed at the window's event-time horizon
    assert(st.getTimeoutTimestampMs.get() === (100L + 8L) * 86400000L)
    // a timed-out invocation (watermark passed the horizon) reaps the key
    val st2 = TestGroupState.create[Monitor.DauState](
      org.apache.spark.api.java.Optional.of(st.get), org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout,
      batchProcessingTimeMs = 2000L, eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of((109L) * 86400000L), hasTimedOut = true)
    val out2 = Monitor.dauUpdate(100L, Iterator.empty, st2, p, horizonDays = 8).toSeq
    assert(out2.isEmpty)
    assert(st2.isRemoved)
  }

  test("funnel state times out idle users and drops their state") {
    import org.apache.spark.sql.streaming.TestGroupState
    import graft.streaming.Funnel
    val stages = Seq("view", "click", "purchase")
    def fev(id: Long, t: String, us: Long) =
      Funnel.FEventTs(7L, id, t, us, new java.sql.Timestamp(us / 1000L))
    val st = TestGroupState.create[Funnel.FState](
      org.apache.spark.api.java.Optional.empty(), org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout,
      batchProcessingTimeMs = 1000L, eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of(0L), hasTimedOut = false)
    val out = Funnel.updateKey(7L,
      Iterator(fev(1L, "view", 10L), fev(2L, "click", 20L)),
      st, stages, idleTimeoutMs = 60000L).toSeq
    assert(out === Seq(Funnel.FOut(7L, Seq(Some(10L), Some(20L), None))))
    // reaper armed at last event time + idle horizon
    assert(st.getTimeoutTimestampMs.get() === 20L / 1000L + 60000L)
    // the timeout firing removes the stale user's state, emitting nothing
    val st2 = TestGroupState.create[Funnel.FState](
      org.apache.spark.api.java.Optional.of(st.get), org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout,
      batchProcessingTimeMs = 2000L, eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of(100000L), hasTimedOut = true)
    val out2 = Funnel.updateKey(7L, Iterator.empty, st2, stages, idleTimeoutMs = 60000L).toSeq
    assert(out2.isEmpty)
    assert(st2.isRemoved)
  }

  test("native session_window streams with a watermark, equal to batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    input.addData(sampleEvents: _*)
    // the same single-hash-agg sessionization the batch scale path uses
    // (#23 native variant), now incremental: watermark closes a session
    // once event time moves past gap + delay
    val agg = input.toDF().withWatermark("ts", "0 seconds")
      .groupBy(col("user_id"), session_window(col("ts"), "7200 seconds"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).cast("long").as("start_sec"),
        max(col("ts")).cast("long").as("end_sec"))
      .select("user_id", "start_sec", "end_sec", "n_events")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("sess_native_stream").start()
    try {
      q.processAllAvailable()
      // advance the watermark far past every session so all emit
      input.addData(Ev(999999L, new Timestamp(sampleEvents.map(_.ts.getTime).max
        + 10L * 24 * 3600 * 1000), 424242L, "view", "{}"))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("sess_native_stream")
      .filter(col("user_id") =!= 424242L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = graft.store.DocumentStore.sessionizeNative(
        sampleEvents.toDF(), col("user_id"), col("ts"), 7200L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed === batch)
  }

  test("streaming anomaly scorer flags exactly the batch MAD outliers") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // per type: values cycle 0..20 (median 10, MAD 5 → cut at 30) with
    // one planted 500.0 outlier; only the two outliers may flag
    val rows = for { t <- Seq("a", "b"); i <- 0 until 101 } yield
      EvV(t.hashCode.toLong * 1000 + i, t, if (i == 100) 500.0 else (i % 21).toDouble)
    val stats = graft.ops.Analytics.madStats(rows.toDF(), col("event_type"), col("value"))
    val input = MemoryStream[EvV]
    input.addData(rows.take(60): _*)
    val q = Monitor.anomalyStream(input.toDF(), stats, "event_type", "value")
      .writeStream.outputMode("append")
      .format("memory").queryName("anomaly_stream").start()
    try {
      q.processAllAvailable()
      input.addData(rows.drop(60): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("anomaly_stream")
      .collect().map(r => r.getAs[Long]("event_id")).toSet
    val batchExpected = rows.filter(_.value == 500.0).map(_.event_id).toSet
    assert(streamed === batchExpected)
    // scores agree with the batch expression on the same stats
    val s = spark.table("anomaly_stream").collect()
      .map(r => r.getAs[Double]("mad_score")).toSet
    assert(s === Set((500.0 - 10.0) / 5.0))
  }

  test("HLL sketch aggregates incrementally in a stream, equal to batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    graft.functions.HllFunctions.register(spark)
    val input = MemoryStream[Ev]
    // two micro-batches: the sketch state must merge across them
    input.addData(sampleEvents.take(50): _*)
    val agg = input.toDF().groupBy("event_type")
      .agg(expr("graft_hll_est(graft_hll_sketch(user_id, 12))").as("est_users"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("hll_stream").start()
    try {
      q.processAllAvailable()
      input.addData(sampleEvents.drop(50): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("hll_stream")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = sampleEvents.toDF().groupBy("event_type")
      .agg(expr("graft_hll_est(graft_hll_sketch(user_id, 12))").as("est_users"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed === batch,
      "incremental sketch state must equal the one-shot batch sketch")
  }

  test("quantile sketch aggregates incrementally in a stream, equal to batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    graft.functions.QSketchFunctions.register(spark)
    val input = MemoryStream[Ev]
    // two micro-batches: the bottom-k state must merge across them into
    // the same sample (and hence the same quantile) as one batch pass
    input.addData(sampleEvents.take(50): _*)
    val agg = input.toDF()
      .selectExpr("event_type", "cast(user_id as double) as v",
        "cast(event_id as string) as id")
      .groupBy("event_type")
      .agg(expr("graft_qsketch_q(graft_qsketch(v, id, 64), 0.5d)").as("p50"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("qs_stream").start()
    try {
      q.processAllAvailable()
      input.addData(sampleEvents.drop(50): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("qs_stream")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val batch = sampleEvents.toDF()
      .selectExpr("event_type", "cast(user_id as double) as v",
        "cast(event_id as string) as id")
      .groupBy("event_type")
      .agg(expr("graft_qsketch_q(graft_qsketch(v, id, 64), 0.5d)").as("p50"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(streamed === batch,
      "incremental bottom-k state must equal the one-shot batch sketch")
  }

  test("SubscriberTree composes N topic streams into one snapshot per tick") {
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    import spark.implicits._
    import graft.streaming.{SubscriberTree => ST}
    // two topics, one capture session, 10s ticks. camera speaks at 0/5/12,
    // gps at 3/21 — snapshots fire at sec 10 and sec 20 with the tree as
    // it stood at each boundary.
    val camera = MemoryStream[(String, Long, String)]
    val gps = MemoryStream[(String, Long, String)]
    camera.addData(("s1", 0L, "c0"), ("s1", 5L, "c5"), ("s1", 12L, "c12"))
    gps.addData(("s1", 3L, "g3"), ("s1", 21L, "g21"))
    def df(m: MemoryStream[(String, Long, String)]) =
      m.toDF().toDF("session", "ts_sec", "payload")
    val snaps = ST.compose(Map("camera" -> df(camera), "gps" -> df(gps)), tickSec = 10L)
    val q = snaps.toDF().writeStream.outputMode("append")
      .format("memory").queryName("tree_snaps").start()
    try q.processAllAvailable() finally q.stop()

    val rows = spark.table("tree_snaps").orderBy("tick_sec").collect()
    assert(rows.map(_.getLong(1)).toSeq === Seq(10L, 20L), "one snapshot per elapsed tick")
    val t10 = rows(0).getAs[Map[String, String]]("tree")
    val t20 = rows(1).getAs[Map[String, String]]("tree")
    assert(t10 === Map("camera" -> "c5", "gps" -> "g3"),
      "tick-10 tree holds the latest message per topic at the boundary")
    assert(t20 === Map("camera" -> "c12", "gps" -> "g3"),
      "gps had not spoken again by sec 20 — its entry carries forward")

    // batch equivalence: the tick-20 tree equals latestSnapshot over the
    // messages with ts < 20 (same semantics, batch operator)
    val msgs = Seq(("camera", 0L, "c0"), ("camera", 5L, "c5"), ("camera", 12L, "c12"),
      ("gps", 3L, "g3"), ("gps", 21L, "g21")).toDF("topic", "ts_sec", "payload")
    val batch = graft.store.DocumentStore.latestSnapshot(
        msgs.filter(col("ts_sec") < 20), col("topic"), col("ts_sec"), col("payload"))
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(batch === t20, "stream snapshot must equal the batch latest-per-topic operator")
  }

  test("bloom prefilter probes map-side inside a streaming filter") {
    // ingest-time decontamination: the Bloom filter built from a static
    // eval set is a plain column expression, so it drops non-matching
    // stream rows inside the micro-batch with no state store and no
    // shuffle — the streaming twin of contaminationBloom's prefilter
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    graft.functions.BloomFunctions.register(spark)
    val bloom = spark.range(100).select(xxhash64(col("id")).as("h"))
      .agg(expr("graft_bloom_agg(h, 65536, 5)")).head().getAs[Array[Byte]](0)

    val input = MemoryStream[Long]
    input.addData(0L until 1000L: _*)
    val flagged = input.toDF()
      .filter(call_function("graft_bloom_contains", lit(bloom), xxhash64(col("value"))))
    val q = flagged.writeStream.outputMode("append")
      .format("memory").queryName("bloom_stream").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("bloom_stream").collect().map(_.getLong(0)).toSet
    assert((0L until 100L).forall(got.contains), "no member may be dropped")
    assert(got.size < 120, s"false-positive flood: ${got.size}")
  }

  test("streaming skip-on-error drops malformed payloads only") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val bad = Ev(999L, new Timestamp(0), 0L, "click", "not json")
    input.addData(sampleEvents :+ bad: _*)
    val cleaned = Monitor.skipOnError(input.toDF(),
      get_json_object(col("props"), "$.k").cast("long"), "k")
    val q = cleaned.writeStream.outputMode("append")
      .format("memory").queryName("skip_out").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("skip_out").count() === 100)
  }

  test("streaming ohlc bars match the batch resample") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    input.addData(sampleEvents: _*)
    // Ev carries no value column; derive one deterministically from the id
    val withVal = input.toDF().withColumn("value", col("event_id") % 7 + 0.5)
    val q = Monitor.ohlc(withVal, col("event_type"), col("ts"), col("value"),
        col("event_id"), windowLen = "1 hour")
      .writeStream.outputMode("complete").format("memory").queryName("ohlc_out")
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("ohlc_out")
      .select(col("series"), (col("window_start").cast("long") / 3600).cast("long").as("bucket"),
        col("open"), col("close"), col("lo"), col("hi"), col("n"))
      .collect().map(_.toSeq).toSet
    val batch = graft.ops.Analytics.ohlcBars(
        sampleEvents.toDF().withColumn("value", col("event_id") % 7 + 0.5)
          .select(col("event_type"), col("event_id"), col("value"),
            unix_micros(col("ts")).as("ts_us")))
      .select(col("event_type"), col("bucket"), col("open"), col("close"),
        col("lo"), col("hi"), col("n"))
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
  }

  test("streaming MG sketch guarantees recall of heavy items across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // 3 micro-batches, k=9: one genuinely heavy item ("hot", 30 of 75
    // total > n/(k+1) = 7.5) plus a spread of light items; the sketch
    // state may evict light items but must NEVER lose the heavy one,
    // incl. across checkpointed state merges between batches
    val input = MemoryStream[String]
    val q = Monitor.heavyCandidatesStream(input.toDF(), col("value"), k = 9)
      .writeStream.outputMode("complete").format("memory").queryName("mg_out")
      .start()
    try {
      (1 to 3).foreach { b =>
        input.addData(Seq.fill(10)("hot") ++ (1 to 15).map(i => s"b${b}_$i"): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val row = spark.table("mg_out").head()
    val cands = row.getSeq[String](0).toSet
    assert(row.getAs[Long]("n") === 75L)
    assert(cands.contains("hot"), s"heavy item evicted from $cands")
    assert(cands.size <= 9)
    // streamed candidates must also cover everything the BATCH sketch
    // keeps after its exact confirm pass at the same guarantee threshold
    val batchHeavy = graft.ops.TextAnalysis.heavyHitters(
        (Seq.fill(30)("hot") ++ (1 to 3).flatMap(b => (1 to 15).map(i => s"b${b}_$i")))
          .toDF("item"), col("item"), minFraction = 0.2, k = 9)
      .collect().map(_.getString(0)).toSet
    assert(batchHeavy.subsetOf(cands))
  }

  test("streamed partial-log maintenance equals batch recompute, replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_maint").toString
    val ckpt = Files.createTempDirectory("graft_maint_ck").toString
    val all = sampleEvents
    // three AvailableNow maintenance runs over ONE checkpoint: each run
    // drains only the chunk added since the last, landing batches 0,1,2
    val input = MemoryStream[Ev]
    all.grouped(40).foreach { chunk =>
      input.addData(chunk: _*)
      val q = graft.streaming.Monitor.maintainEventStats(
        input.toDF().withColumn("value", col("event_id") % 13 + 0.25),
        s"$dir/log", s"$ckpt/c1")
      try q.awaitTermination(120000) finally q.stop()
    }
    def stats(): Seq[Seq[Any]] =
      graft.streaming.Monitor.readEventStats(spark, s"$dir/log")
        .orderBy("event_type").collect().toSeq.map(_.toSeq)
    val direct = graft.ops.Analytics.eventStatsMerge(
        graft.ops.Analytics.eventStatsPartial(
          all.toDF().withColumn("value", col("event_id") % 13 + 0.25)))
      .orderBy("event_type").collect().toSeq.map(_.toSeq)
    assert(stats() === direct)
    // the at-least-once replay window: a fresh checkpoint redelivers the
    // first chunk as batch 0 again — dynamic overwrite rewrites partition
    // __batch_id=0 with identical partials instead of appending a copy
    val input2 = MemoryStream[Ev]
    input2.addData(all.take(40): _*)
    val q2 = graft.streaming.Monitor.maintainEventStats(
      input2.toDF().withColumn("value", col("event_id") % 13 + 0.25),
      s"$dir/log", s"$ckpt/c2")
    try q2.awaitTermination(120000) finally q2.stop()
    assert(stats() === direct, "replay must not change the merged aggregate")
  }

  test("maintained hourly buckets serve the exact seasonal profile") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_hb").toString
    val ckpt = Files.createTempDirectory("graft_hb_ck").toString
    // spread to 10-minute spacing: ~17 hourly buckets per series, so the
    // motif epilogue below has contiguous windows to census (the 1-minute
    // original spans only 2 buckets — zero width-2 windows)
    val t0 = sampleEvents.head.ts.getTime
    val all = sampleEvents.map(e =>
      e.copy(ts = new Timestamp(t0 + (e.ts.getTime - t0) * 10L)))
    def withValue(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("value", col("event_id") % 13 + 0.25)
    val input = MemoryStream[Ev]
    all.grouped(40).foreach { chunk =>
      input.addData(chunk: _*)
      val q = graft.streaming.Monitor.maintainHourlyBuckets(
        withValue(input.toDF()), s"$dir/log", s"$ckpt/c1")
      try q.awaitTermination(120000) finally q.stop()
    }
    val merged = graft.streaming.Monitor.readHourlyBuckets(spark, s"$dir/log")
      .orderBy("series", "h").collect().toSeq.map(_.toSeq)
    val direct = graft.ops.Analytics.hourlyMerge(
        graft.ops.Analytics.hourlyPartial(withValue(all.toDF())))
      .orderBy("series", "h").collect().toSeq.map(_.toSeq)
    assert(merged === direct && merged.nonEmpty)
    // the downstream epilogues over the log == the batch operators
    val viaLog = graft.ops.Analytics.seasonalFromHourly(
        graft.streaming.Monitor.readHourlyBuckets(spark, s"$dir/log"))
      .collect().toSeq.map(_.toSeq)
    val batch = graft.ops.Analytics.seasonalProfile(withValue(all.toDF()))
      .collect().toSeq.map(_.toSeq)
    assert(viaLog === batch)
    val motifsViaLog = graft.ops.Analytics.motifsFromHourly(
        graft.streaming.Monitor.readHourlyBuckets(spark, s"$dir/log"), width = 2)
      .collect().toSeq.map(_.toSeq)
    val motifsBatch = graft.ops.Analytics.motifs(withValue(all.toDF()), width = 2)
      .collect().toSeq.map(_.toSeq)
    assert(motifsViaLog === motifsBatch && motifsBatch.nonEmpty)
    val holtViaLog = graft.ops.Analytics.holtFromBuckets(
        graft.streaming.Monitor.readHourlyBuckets(spark, s"$dir/log"))
      .collect().toSeq.map(_.toSeq)
    val holtBatch = graft.ops.Analytics.holt(withValue(all.toDF()))
      .collect().toSeq.map(_.toSeq)
    assert(holtViaLog === holtBatch && holtBatch.nonEmpty)
    val olsViaLog = graft.ops.Analytics.olsTrendFromBuckets(
        graft.streaming.Monitor.readHourlyBuckets(spark, s"$dir/log"))
      .collect().toSeq.map(_.toSeq)
    val olsBatch = graft.ops.Analytics.olsTrend(withValue(all.toDF()))
      .collect().toSeq.map(_.toSeq)
    assert(olsViaLog === olsBatch && olsBatch.nonEmpty)
    val ccfViaLog = graft.ops.Analytics.ccfFromBuckets(
        graft.streaming.Monitor.readHourlyBuckets(spark, s"$dir/log"), "view")
      .collect().toSeq.map(_.toSeq)
    val ccfBatch = graft.ops.Analytics.ccf(withValue(all.toDF()), "view")
      .collect().toSeq.map(_.toSeq)
    assert(ccfViaLog === ccfBatch && ccfBatch.nonEmpty)
    // replay with a fresh checkpoint rewrites batch 0 idempotently
    val input2 = MemoryStream[Ev]
    input2.addData(all.take(40): _*)
    val q2 = graft.streaming.Monitor.maintainHourlyBuckets(
      withValue(input2.toDF()), s"$dir/log", s"$ckpt/c2")
    try q2.awaitTermination(120000) finally q2.stop()
    val after = graft.streaming.Monitor.readHourlyBuckets(spark, s"$dir/log")
      .orderBy("series", "h").collect().toSeq.map(_.toSeq)
    assert(after === direct, "replay must not change the merged buckets")
  }

  test("maintained gram log serves the exact matrix and principal direction") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_gram").toString
    val ckpt = Files.createTempDirectory("graft_gram_ck").toString
    val all = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => EmbDoc(r.getLong(0), new Timestamp(0L),
        r.getSeq[Float](1).toArray))
      .toSeq
    val input = MemoryStream[EmbDoc]
    all.grouped(math.max(1, all.size / 3 + 1)).foreach { chunk =>
      input.addData(chunk: _*)
      val q = Monitor.maintainGram(input.toDF().drop("ts"), s"$dir/log", s"$ckpt/c1")
      try q.awaitTermination(120000) finally q.stop()
    }
    def merged() = Monitor.readGram(spark, s"$dir/log")
      .collect().toSeq.map(_.toSeq)
    val direct = graft.ops.Similarity.gramMatrix(
        all.toDF().select(col("vec_id"), col("embedding")))
      .collect().toSeq.map(_.toSeq)
    assert(merged() === direct && direct.nonEmpty)
    // the PCA epilogue off the log is bit-equal to the batch operator
    val viaLog = graft.ops.Similarity.pcaPowerFromGram(
      Monitor.readGram(spark, s"$dir/log"))
    val batch = graft.ops.Similarity.pcaPowerVector(
      all.toDF().select(col("vec_id"), col("embedding")))
    assert(viaLog.toSeq === batch.toSeq)
    // replay with a fresh checkpoint rewrites batch 0 idempotently
    val input2 = MemoryStream[EmbDoc]
    input2.addData(all.take(all.size / 3 + 1): _*)
    val q2 = Monitor.maintainGram(input2.toDF().drop("ts"), s"$dir/log", s"$ckpt/c2")
    try q2.awaitTermination(120000) finally q2.stop()
    assert(merged() === direct, "replay must not change the merged gram")
  }

  test("log compaction folds committed batches, survives crashes, and stays replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("graft_cmp").toString
    val ckpt = Files.createTempDirectory("graft_cmp_ck").toString
    val path = s"$dir/log"
    val docs = Tables.documents(spark, sf)
    val terms = Seq("merge", "batch", "stream")
    val all = docs.select("doc_id", "text").collect()
      .map(r => Doc(r.getLong(0), new Timestamp(0L), r.getString(1))).toSeq
    val input = MemoryStream[Doc]
    all.grouped(math.max(1, all.size / 4 + 1)).foreach { chunk =>
      input.addData(chunk: _*)
      val q = Monitor.maintainBm25Index(input.toDF().drop("ts"), path, s"$ckpt/c1")
      try q.awaitTermination(120000) finally q.stop()
    }
    val batch = graft.ops.TextAnalysis.bm25TopK(docs, col("doc_id"), col("text"),
      terms, k = 20).collect().toSeq.map(_.toSeq)
    def served() = graft.ops.TextAnalysis.bm25TopKFromIndex(
      Monitor.readBm25Index(spark, path), terms, k = 20)
      .collect().toSeq.map(_.toSeq)
    def parts() = {
      val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
      fs.listStatus(new Path(path)).map(_.getPath.getName)
        .filter(_.startsWith("__batch_id=")).map(_.stripPrefix("__batch_id=").toLong)
        .toSet
    }
    assert(parts() === Set(0L, 1L, 2L, 3L))

    // first compaction absorbs batches 0..2 into generation -3; the
    // newest (replayable) batch 3 stays; the served scores don't move
    Monitor.compactLog(spark, path)
    assert(parts() === Set(-3L, 3L), s"got ${parts()}")
    assert(served() === batch)

    // compaction with nothing new to absorb is a no-op
    Monitor.compactLog(spark, path)
    assert(parts() === Set(-3L, 3L))

    // a crashed garbage collection leaves a stale absorbed partial and a
    // stale older generation behind — the reader must ignore both
    Monitor.readLog(spark, path).limit(5)
      .withColumn("__batch_id", lit(1L))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("__batch_id").parquet(path)
    Monitor.readLog(spark, path).limit(7)
      .withColumn("__batch_id", lit(-2L))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("__batch_id").parquet(path)
    assert(parts() === Set(-3L, -2L, 1L, 3L))
    assert(served() === batch, "stale partitions must be invisible to readers")

    // re-running compaction garbage-collects the stale leftovers without
    // writing a new generation (nothing new to absorb)
    Monitor.compactLog(spark, path)
    assert(parts() === Set(-3L, 3L), s"got ${parts()}")
    assert(served() === batch)

    // a later batch on the SAME checkpoint lineage advances the
    // frontier: the next compaction absorbs batch 3 into a NEWER
    // generation (-4, thru 3) and removes the old one
    input.addData(all.take(10): _*)
    val q4 = Monitor.maintainBm25Index(input.toDF().drop("ts"), path, s"$ckpt/c1")
    try q4.awaitTermination(120000) finally q4.stop()
    assert(parts() === Set(-3L, 3L, 4L), s"got ${parts()}")
    Monitor.compactLog(spark, path)
    assert(parts() === Set(-4L, 4L), s"got ${parts()}")

    // deferred GC for a CONCURRENTLY-SERVED log: compactLog(gc = false)
    // writes the new generation but leaves the absorbed partitions on
    // disk, so a reader that listed files before the write keeps a
    // complete snapshot; gcLog sweeps them after the grace period
    input.addData(all.take(5): _*)
    val q5 = Monitor.maintainBm25Index(input.toDF().drop("ts"), path, s"$ckpt/c1")
    try q5.awaitTermination(120000) finally q5.stop()
    assert(parts() === Set(-4L, 4L, 5L), s"got ${parts()}")
    val before = Monitor.readLog(spark, path).count()
    Monitor.compactLog(spark, path, gc = false)
    assert(parts() === Set(-5L, -4L, 4L, 5L), s"got ${parts()}")
    assert(Monitor.readLog(spark, path).count() === before)
    Monitor.gcLog(spark, path)
    assert(parts() === Set(-5L, 5L), s"got ${parts()}")
    assert(Monitor.readLog(spark, path).count() === before)
  }

  test("maintained bm25 index scores bit-equal to batch bm25 over the streamed corpus") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_bm").toString
    val ckpt = Files.createTempDirectory("graft_bm_ck").toString
    // plant a null-text doc: it reaches no posting row, but the text
    // path counts it in n_docs — the doc-stats rows must make the
    // index-served stats count it identically (the bit-equality caveat
    // this fixture exists to pin)
    val planted = Seq((900001L, null.asInstanceOf[String]))
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .unionByName(planted.toDF("doc_id", "text"))
    val terms = Seq("merge", "batch", "stream")
    val all = docs.select("doc_id", "text").collect()
      .map(r => Doc(r.getLong(0), new Timestamp(0L), r.getString(1))).toSeq
    val input = MemoryStream[Doc]
    all.grouped(math.max(1, all.size / 3 + 1)).foreach { chunk =>
      input.addData(chunk: _*)
      val q = Monitor.maintainBm25Index(input.toDF().drop("ts"),
        s"$dir/log", s"$ckpt/c1")
      try q.awaitTermination(120000) finally q.stop()
    }
    def fromIndex() = graft.ops.TextAnalysis.bm25TopKFromIndex(
        Monitor.readBm25Index(spark, s"$dir/log"), terms, k = 20)
      .collect().toSeq.map(_.toSeq)
    val batch = graft.ops.TextAnalysis.bm25TopK(docs, col("doc_id"), col("text"),
      terms, k = 20).collect().toSeq.map(_.toSeq)
    assert(fromIndex() === batch && batch.nonEmpty,
      "index-served scores must equal batch text scoring bit-for-bit")
    // replay with a fresh checkpoint rewrites batch 0 idempotently
    val input2 = MemoryStream[Doc]
    input2.addData(all.take(all.size / 3 + 1): _*)
    val q2 = Monitor.maintainBm25Index(input2.toDF().drop("ts"),
      s"$dir/log", s"$ckpt/c2")
    try q2.awaitTermination(120000) finally q2.stop()
    assert(fromIndex() === batch, "replay must not change index-served scores")
  }

  test("maintained classifier gradient log equals the batch gradient") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_pg").toString
    val ckpt = Files.createTempDirectory("graft_pg_ck").toString
    val docs = Tables.documents(spark, sf)
    val positive = col("text").contains("table")
    // frozen weights = round-1 output of the batch trainer
    val (traj, _) = graft.ops.TextAnalysis.classifierTrajectory(
      docs, col("doc_id"), col("text"), positive, iters = 1)
    val w = traj(1)
    val all = docs.select("doc_id", "text").collect()
      .map(r => Doc(r.getLong(0), new Timestamp(0L), r.getString(1))).toSeq
    val input = MemoryStream[Doc]
    all.grouped(math.max(1, all.size / 3 + 1)).foreach { chunk =>
      input.addData(chunk: _*)
      val q = Monitor.maintainClassifierGrad(input.toDF().drop("ts"), w,
        positive, s"$dir/log", s"$ckpt/c1")
      try q.awaitTermination(120000) finally q.stop()
    }
    def merged() = Monitor.readClassifierGrad(spark, s"$dir/log")
      .collect()(0).toSeq
    val direct = graft.ops.TextAnalysis.classifierGradient(
      graft.ops.TextAnalysis.classifierFeatures(
        docs, col("doc_id"), col("text"), positive), w)
      .collect()(0).toSeq
    assert(merged() === direct,
      "streamed gradient partials must reproduce the batch gradient bit-for-bit")
    assert(direct.head.asInstanceOf[Long] > 0L, "frozen weights misclassify some docs")
    // replay with a fresh checkpoint rewrites batch 0 idempotently
    val input2 = MemoryStream[Doc]
    input2.addData(all.take(all.size / 3 + 1): _*)
    val q2 = Monitor.maintainClassifierGrad(input2.toDF().drop("ts"), w,
      positive, s"$dir/log", s"$ckpt/c2")
    try q2.awaitTermination(120000) finally q2.stop()
    assert(merged() === direct, "replay must not change the merged gradient")

    // compacting with the merge fold collapses committed batches to the
    // aggregate's true cardinality (one partial row) without moving the
    // merged value
    val d = graft.ops.TextAnalysis.ClassifierDims
    Monitor.compactLog(spark, s"$dir/log", df =>
      df.agg(sum("m").as("m"),
        (0 until d).map(j => sum(s"g$j").as(s"g$j")): _*))
    assert(merged() === direct, "fold-compaction must not change the gradient")
    assert(Monitor.readLog(spark, s"$dir/log").count() <= 2,
      "stats log must compact to one folded row plus the newest batch")
  }

  test("maintained asset-feature log decodes once at ingest, equal to batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_af").toString
    val ckpt = Files.createTempDirectory("graft_af_ck").toString
    // payloads: a real decodable WAV header shape is covered by DataOps
    // fixtures; here kind diversity + stub folds suffice for parity
    val all = (0L until 30L).map { i =>
      (i, if (i % 2 == 0) "application/x" else "application/y",
        Array.tabulate(32)(j => ((i * 31 + j) % 251).toByte))
    }
    val batchDf = all.toDF("asset_id", "kind", "payload")
    val input = MemoryStream[Asset]
    all.grouped(10).foreach { chunk =>
      input.addData(chunk.map(Asset.tupled): _*)
      val q = Monitor.maintainAssetFeatures(input.toDF(), s"$dir/log", s"$ckpt/c1")
      try q.awaitTermination(120000) finally q.stop()
    }
    def logged() = Monitor.readAssetFeatures(spark, s"$dir/log")
      .orderBy("asset_id").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getSeq[Float](3).toSeq))
    val direct = graft.ops.Multimodal.decodeFeatures(batchDf)
      .orderBy("asset_id").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getSeq[Float](3).toSeq))
    assert(logged() === direct && direct.size === 30,
      "streamed decode must equal the batch decode row-for-row")
    // replay with a fresh checkpoint rewrites batch 0 idempotently
    val input2 = MemoryStream[Asset]
    input2.addData(all.take(10).map(Asset.tupled): _*)
    val q2 = Monitor.maintainAssetFeatures(input2.toDF(), s"$dir/log", s"$ckpt/c2")
    try q2.awaitTermination(120000) finally q2.stop()
    assert(logged() === direct, "replay must not change the feature log")
  }

  test("maintained asset-feature log pays video decode at the ingest door") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import java.nio.ByteBuffer
    def be32(v: Int): Array[Byte] = ByteBuffer.allocate(4).putInt(v).array()
    def box(tag: String, parts: Array[Byte]*): Array[Byte] = {
      val body = parts.flatten.toArray
      be32(8 + body.length) ++ tag.getBytes("US-ASCII") ++ body
    }
    def jpegOf(rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(8, 6,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 6; x <- 0 until 8) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "jpg", bos))
      bos.toByteArray
    }
    // same sample-table skeleton as the DataOps video fixtures
    def mp4Of(fourcc: String, frames: Seq[Array[Byte]]): Array[Byte] = {
      val n = frames.size
      val mdhd = box("mdhd", be32(0), be32(0), be32(0), be32(1000),
        be32(100 * n), be32(0))
      val stts = box("stts", be32(0), be32(1), be32(n), be32(100))
      val stsz = box("stsz",
        (Seq(be32(0), be32(0), be32(n)) ++ frames.map(f => be32(f.length))): _*)
      val stsd = box("stsd", be32(0), be32(1),
        box(fourcc, Array.fill[Byte](8)(0)))
      val stsc = box("stsc", be32(0), be32(1), be32(1), be32(n), be32(1))
      def whole(stco: Array[Byte]): Array[Byte] =
        box("ftyp", "isom".getBytes, be32(0)) ++
          box("moov", box("trak", box("mdia", mdhd,
            box("minf", box("stbl", stts, stsz, stsd, stsc, stco)))))
      val c1 = whole(box("stco", be32(0), be32(1), be32(0))).length + 8
      whole(box("stco", be32(0), be32(1), be32(c1))) ++
        box("mdat", frames.flatten.toArray)
    }
    val all = Seq(
      Asset(1L, "video", mp4Of("jpeg", Seq(jpegOf(0xff0000), jpegOf(0x00ff00), jpegOf(0x0000ff)))),
      Asset(4L, "application/x", Array.tabulate(32)(j => (j * 7 % 251).toByte)),
      Asset(2L, "video", mp4Of("jpeg", Seq(jpegOf(0x808080), jpegOf(0x123456)))),
      Asset(3L, "video", mp4Of("avc1", Seq(Array.fill[Byte](12)(9)))), // inter-coded, seam OFF
      Asset(5L, "application/y", Array.tabulate(24)(j => (j * 13 % 251).toByte)))
    val dir = Files.createTempDirectory("graft_vf").toString
    val ckpt = Files.createTempDirectory("graft_vf_ck").toString
    val input = MemoryStream[Asset]
    all.grouped(2).foreach { chunk =>
      input.addData(chunk: _*)
      val q = Monitor.maintainAssetFeatures(input.toDF(), s"$dir/log",
        s"$ckpt/c1", framesPath = Some(s"$dir/frames"))
      try q.awaitTermination(120000) finally q.stop()
    }
    val batchDf = all.toDF()
    def frames() = Monitor.readVideoFrameFeatures(spark, s"$dir/frames")
      .orderBy("asset_id", "frame_idx").collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getSeq[Float](4).toSeq))
    // the external seam is OFF in this spec, so streamed frame rows must
    // equal the in-JVM MJPEG batch decode alone — and the avc1 asset
    // contributes no rows (all-or-nothing, never half-decoded)
    val direct = graft.ops.Multimodal.videoFrameFeatures(batchDf)
      .orderBy("asset_id", "frame_idx").collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getSeq[Float](4).toSeq))
    assert(frames() === direct, "streamed video decode must equal batch")
    assert(direct.nonEmpty && direct.map(_._1).toSet === Set(1L, 2L))
    assert(!frames().exists(_._1 == 3L), "seam-off avc1 asset: no frame rows")
    // the asset-level log is unaffected by the video wiring
    val assetRows = Monitor.readAssetFeatures(spark, s"$dir/log")
      .select("asset_id").distinct().collect().map(_.getLong(0)).toSet
    assert(assetRows === Set(1L, 2L, 3L, 4L, 5L))
    // fresh-checkpoint replay of the first chunk rewrites idempotently
    val input2 = MemoryStream[Asset]
    input2.addData(all.take(2): _*)
    val q2 = Monitor.maintainAssetFeatures(input2.toDF(), s"$dir/log",
      s"$ckpt/c2", framesPath = Some(s"$dir/frames"))
    try q2.awaitTermination(120000) finally q2.stop()
    assert(frames() === direct, "replay must not change the frames log")

    // with the external seam CONFIGURED, the same ingest door also pays
    // inter-coded decode once: the avc1 asset now lands stub-decoded
    // frame rows in a fresh frames log
    val script = Files.createTempDirectory("graft_vf_dec").resolve("decoder.sh")
    Files.write(script,
      ("#!/bin/bash\ncat >/dev/null\n" +
        "printf '\\x00\\x00\\x00\\x00\\x00\\x00\\x00\\x02\\x00\\x00\\x00\\x02\\x00\\x00\\x00\\x04'\n" +
        "printf '\\x00\\x40\\x80\\xc0'\n").getBytes("UTF-8"))
    script.toFile.setExecutable(true)
    spark.conf.set("spark.graft.video.decoder", script.toString)
    try {
      val input3 = MemoryStream[Asset]
      input3.addData(all.filter(_.asset_id == 3L): _*)
      val q3 = Monitor.maintainAssetFeatures(input3.toDF(), s"$dir/log2",
        s"$ckpt/c3", framesPath = Some(s"$dir/frames2"))
      try q3.awaitTermination(120000) finally q3.stop()
      val seamRows = Monitor.readVideoFrameFeatures(spark, s"$dir/frames2")
        .collect().map(r => (r.getLong(0), r.getInt(1)))
      assert(seamRows.toSeq === Seq((3L, 0)),
        "configured seam: the inter-coded asset decodes at the ingest door")
    } finally spark.conf.unset("spark.graft.video.decoder")
  }

  test("maintained cell index routes vectors at ingest and probes partition-prune") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_ci").toString
    val ckpt = Files.createTempDirectory("graft_ci_ck").toString
    val path = s"$dir/log"
    val batchEmb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val (cents, _) =
      graft.ops.Similarity.kmeansFixedPointCentroids(batchEmb, 8, iters = 0)
    val all = batchEmb.collect()
      .map(r => EmbDoc(r.getLong(0), new Timestamp(0L),
        r.getSeq[Float](1).toArray)).toSeq
    val input = MemoryStream[EmbDoc]
    all.grouped(math.max(1, all.size / 3 + 1)).foreach { chunk =>
      input.addData(chunk: _*)
      val q = Monitor.maintainCellIndex(input.toDF().drop("ts"), cents,
        path, s"$ckpt/c1")
      try q.awaitTermination(120000) finally q.stop()
    }
    // index content == batch assignment (and embeddings round-trip)
    val direct = graft.ops.Similarity.assignToCentroids(batchEmb, cents)
      .select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    def indexed() = Monitor.readLog(spark, path).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        (r.getAs[Number]("cell").longValue, r.getSeq[Float](r.fieldIndex("embedding")))))
      .toMap
    val idx = indexed()
    assert(idx.size === all.size)
    idx.foreach { case (id, (cell, emb)) =>
      assert(cell === direct(id), s"vec $id routed to $cell, batch says ${direct(id)}")
      assert(emb.length === 64)
    }
    // probes push the cell predicate into the file listing: the scan
    // node carries it as a PartitionFilter (directory-level pruning),
    // never a post-scan Filter over the whole index
    val hot = idx.values.map(_._1).groupBy(identity).maxBy(_._2.size)._1
    val pruned = Monitor.probeCells(spark, path, Seq(hot))
    val plan = pruned.queryExecution.executedPlan.toString
    val partFilter = plan.linesIterator
      .find(_.contains("PartitionFilters: ["))
      .getOrElse(fail(s"no PartitionFilters in probe plan:\n$plan"))
    assert(partFilter.contains("cell"),
      s"cell predicate must be a partition filter, got: $partFilter")
    assert(pruned.collect().map(_.getAs[Long]("vec_id")).toSet ===
      idx.collect { case (id, (c, _)) if c == hot => id }.toSet)
    // compaction preserves the nested cell layout and the index content
    Monitor.compactLog(spark, path, partitionCols = Seq("cell"))
    assert(indexed() === idx, "compaction must not move the index")
    val gens = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
      .listStatus(new org.apache.hadoop.fs.Path(path, "__batch_id=-2"))
      .map(_.getPath.getName).filter(_.startsWith("cell="))
    assert(gens.nonEmpty, "compacted generation must keep cell= subdirectories")
  }

  test("streamed ANN queries are served exactly from the maintained cell index") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_serve").toString
    val ckpt = Files.createTempDirectory("graft_serve_ck").toString
    val indexPath = s"$dir/index"
    val outPath = s"$dir/results"
    val corpus = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val (cents, _) =
      graft.ops.Similarity.kmeansFixedPointCentroids(corpus, 8, iters = 0)
    // build the maintained index in one streamed batch
    val allVecs = corpus.collect()
      .map(r => EmbDoc(r.getLong(0), new Timestamp(0L),
        r.getSeq[Float](1).toArray)).toSeq
    val corpusIn = MemoryStream[EmbDoc]
    corpusIn.addData(allVecs: _*)
    val qi = Monitor.maintainCellIndex(corpusIn.toDF().drop("ts"), cents,
      indexPath, s"$ckpt/idx")
    try qi.awaitTermination(120000) finally qi.stop()

    // two query batches served live
    val queries = allVecs.filter(_.vec_id < 6)
    val qin = MemoryStream[EmbDoc]
    queries.grouped(3).foreach { chunk =>
      qin.addData(chunk: _*)
      val qs = Monitor.serveAnnStream(qin.toDF().drop("ts"), cents,
        indexPath, outPath, s"$ckpt/srv", k = 5, nprobe = 2)
      try qs.awaitTermination(120000) finally qs.stop()
    }
    val served = spark.read.parquet(outPath)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    assert(served.keySet === queries.map(_.vec_id).toSet)

    // hand-computed expectation: per query, candidates = index vectors in
    // its top-2 cells, ranked by exact cosine (sequential-sum doubles,
    // the graft_dot order), ties by neighbor id
    val cellOf = graft.ops.Similarity.assignToCentroids(corpus, cents)
      .select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val probesOf = graft.ops.Similarity.assignTopCells(
        corpus.filter(col("vec_id") < 6), cents, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val vecOf = allVecs.map(e => e.vec_id -> e.embedding.map(_.toDouble)).toMap
    def dot(a: Array[Double], b: Array[Double]) = {
      var s = 0.0; var j = 0
      while (j < a.length) { s += a(j) * b(j); j += 1 }; s
    }
    queries.map(_.vec_id).foreach { qid =>
      val qv = vecOf(qid); val qn = math.sqrt(dot(qv, qv))
      val expected = vecOf.keys.toSeq
        .filter(n => n != qid && probesOf(qid).contains(cellOf(n)))
        .map { n =>
          val nv = vecOf(n)
          (n, dot(qv, nv) / (qn * math.sqrt(dot(nv, nv))))
        }
        .sortBy { case (n, c) => (-c, n) }.take(5).map(_._1)
      assert(served(qid) === expected, s"query $qid served ${served(qid)}, want $expected")
    }

    // replay of the first query batch rewrites its partition idempotently
    val qin2 = MemoryStream[EmbDoc]
    qin2.addData(queries.take(3): _*)
    val q2 = Monitor.serveAnnStream(qin2.toDF().drop("ts"), cents,
      indexPath, outPath, s"$ckpt/srv2", k = 5, nprobe = 2)
    try q2.awaitTermination(120000) finally q2.stop()
    val after = spark.read.parquet(outPath)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    assert(after === served, "replay must not change served results")
  }

  test("maintained kmeans stats log yields the exact batch Lloyd update") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_km").toString
    val ckpt = Files.createTempDirectory("graft_km_ck").toString
    val batchEmb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    // frozen quantizer = the deterministic first-8 init the batch trainer
    // uses; the stream maintains ITS next-round statistics
    val (init, _) =
      graft.ops.Similarity.kmeansFixedPointCentroids(batchEmb, 8, iters = 0)
    val all = batchEmb.collect()
      .map(r => EmbDoc(r.getLong(0), new Timestamp(0L),
        r.getSeq[Float](1).toArray))
      .toSeq
    val input = MemoryStream[EmbDoc]
    all.grouped(math.max(1, all.size / 3 + 1)).foreach { chunk =>
      input.addData(chunk: _*)
      val q = Monitor.maintainKmeansStats(input.toDF().drop("ts"), init,
        s"$dir/log", s"$ckpt/c1")
      try q.awaitTermination(120000) finally q.stop()
    }
    def merged() = Monitor.readKmeansStats(spark, s"$dir/log")
      .collect().toSeq.map(_.toSeq)
    val direct = graft.ops.Similarity.kmeansPartialStats(batchEmb, init)
      .orderBy("cell", "dim").collect().toSeq.map(_.toSeq)
    assert(merged() === direct && direct.nonEmpty)
    // the update epilogue off the log == one batch Lloyd round
    def toStats(rows: Seq[Seq[Any]]) = rows.map(s => (
      s(0).asInstanceOf[Long].toInt, s(1).asInstanceOf[Long].toInt,
      s(2).asInstanceOf[Long], s(3).asInstanceOf[Long])).toArray
    val (viaLog, nLog) =
      graft.ops.Similarity.kmeansUpdateFromStats(toStats(merged()), init)
    val (batch1, nBatch) =
      graft.ops.Similarity.kmeansFixedPointCentroids(batchEmb, 8, iters = 1)
    assert(viaLog.map(_.toSeq).toSeq === batch1.map(_.toSeq).toSeq,
      "streamed statistics must reproduce the batch update bit-for-bit")
    assert(nLog.toSeq === nBatch.toSeq)
    // replay with a fresh checkpoint rewrites batch 0 idempotently
    val input2 = MemoryStream[EmbDoc]
    input2.addData(all.take(all.size / 3 + 1): _*)
    val q2 = Monitor.maintainKmeansStats(input2.toDF().drop("ts"), init,
      s"$dir/log", s"$ckpt/c2")
    try q2.awaitTermination(120000) finally q2.stop()
    assert(merged() === direct, "replay must not change the merged stats")
  }

  test("maintained count-min log unions to the single-pass sketch byte-for-byte") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    graft.functions.CmFunctions.register(spark)
    val dir = Files.createTempDirectory("graft_cm").toString
    val ckpt = Files.createTempDirectory("graft_cm_ck").toString
    val all = sampleEvents
    val input = MemoryStream[Ev]
    all.grouped(40).foreach { chunk =>
      input.addData(chunk: _*)
      val q = Monitor.maintainCmSketch(input.toDF(), col("user_id"),
        s"$dir/log", s"$ckpt/c1", width = 64)
      try q.awaitTermination(120000) finally q.stop()
    }
    val merged = Monitor.readCmSketch(spark, s"$dir/log")
    val direct = all.toDF().select(col("user_id").cast("string").as("item"))
      .agg(expr("graft_cm_sketch(item, 1L, 64, 4)")).head().getAs[Array[Byte]](0)
    assert(merged.toSeq === direct.toSeq)
    // probes off the log never undercount the true per-user frequency
    val exact = all.groupBy(_.user_id).map { case (u, es) => u -> es.size.toLong }
    exact.foreach { case (u, c) =>
      val est = graft.functions.CmImpl.estimate(merged,
        org.apache.spark.unsafe.types.UTF8String.fromString(u.toString))
      assert(est >= c, s"user $u undercounted")
    }
    // replay with a fresh checkpoint rewrites batch 0 idempotently
    val input2 = MemoryStream[Ev]
    input2.addData(all.take(40): _*)
    val q2 = Monitor.maintainCmSketch(input2.toDF(), col("user_id"),
      s"$dir/log", s"$ckpt/c2", width = 64)
    try q2.awaitTermination(120000) finally q2.stop()
    assert(Monitor.readCmSketch(spark, s"$dir/log").toSeq === direct.toSeq,
      "replay must not change the merged sketch")
  }

  test("readLogAsOf reconstructs historical snapshots, fails loudly past GC") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_asof").toString + "/log"
    def put(batch: Long): Unit =
      Seq((batch, s"row$batch")).toDF("v", "tag")
        .withColumn("__batch_id", lit(batch))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("__batch_id").parquet(path)
    def asOf(b: Long) = Monitor.readLogAsOf(spark, path, b)
      .select("v").collect().map(_.getLong(0)).toSet
    (0L to 2L).foreach(put)
    assert(asOf(0L) === Set(0L))
    assert(asOf(1L) === Set(0L, 1L))
    assert(asOf(5L) === Set(0L, 1L, 2L)) // beyond the head = latest
    // deferred-GC compaction keeps every snapshot answerable
    Monitor.compactLog(spark, path, gc = false)
    assert(asOf(0L) === Set(0L)) // generation thru=1 can't serve 0; partial does
    assert(asOf(1L) === Set(0L, 1L)) // exactly the generation
    assert(asOf(2L) === Set(0L, 1L, 2L))
    // GC trims history: pre-frontier snapshots now fail loudly, the
    // generation frontier and the head stay answerable
    Monitor.gcLog(spark, path)
    assert(asOf(1L) === Set(0L, 1L))
    assert(asOf(2L) === Set(0L, 1L, 2L))
    val e = intercept[IllegalArgumentException](asOf(0L))
    assert(e.getMessage.contains("garbage-collected"))
    // the snapshot diff names exactly what batch 2 contributed
    val diff = Monitor.logDiff(spark, path, 1L, 2L).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(diff === Seq((2L, 1L)))
    assert(Monitor.logDiff(spark, path, 2L, 2L).count() === 0L)
  }

  test("logDiff matches NULL-column rows to themselves (bm25 doc-stats shape)") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_nulldiff").toString + "/log"
    def put(batch: Long, rows: Seq[(Option[String], Long)]): Unit =
      rows.toDF("token", "n")
        .withColumn("__batch_id", lit(batch))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("__batch_id").parquet(path)
    // batch 0: a token=NULL doc-stats row (exactly what maintainBm25Index
    // logs) plus a regular row; batch 1 adds one row — the NULL row is
    // UNCHANGED between the snapshots
    put(0L, Seq((None, 7L), (Some("alpha"), 1L)))
    put(1L, Seq((Some("beta"), 2L)))
    val diff = Monitor.logDiff(spark, path, 0L, 1L).collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet
    // pre-fix: the NULL row never matched itself and surfaced as a
    // spurious (+1, −1) pair; it must not appear at all
    assert(diff === Set((Some("beta"), 2L, 1L)),
      s"unchanged NULL-column row leaked into the diff: $diff")
    // a CHANGED null-keyed row surfaces exactly once per side
    put(2L, Seq((None, 9L)))
    val diff2 = Monitor.logDiff(spark, path, 1L, 2L).collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet
    assert(diff2 === Set((None, 9L, 1L)))
  }

  test("an empty micro-batch keeps its log entry: as-of and diff read across it") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_emptybatch").toString
    val path = s"$dir/log"
    val in = MemoryStream[Long]
    // batch 1 holds only a row the filter drops, so its partial is empty
    val q = Monitor.captureExactlyOnce(in.toDF().filter(col("value") =!= 0L), path,
      s"$dir/ckpt", org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try Seq(Seq(1L, 2L), Seq(0L), Seq(3L)).foreach { rows =>
      in.addData(rows: _*)
      q.processAllAvailable()
    } finally q.stop()
    def asOf(b: Long) = Monitor.readLogAsOf(spark, path, b)
      .collect().map(_.getLong(0)).toSet
    assert(asOf(1L) === Set(1L, 2L))
    assert(asOf(2L) === Set(1L, 2L, 3L))
    assert(Monitor.readLog(spark, path).count() === 3L)
    val diff = Monitor.logDiff(spark, path, 0L, 2L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(diff === Set((3L, 1L)))
    assert(Monitor.logDiff(spark, path, 0L, 1L).count() === 0L)
  }

  test("compacting a cell index whose newest batch is empty keeps cell=") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("graft_cellempty").toString
    val path = s"$dir/idx"
    val cents = Array(Array(1000L, 0L), Array(0L, 1000L))
    def emb(id: Long, x: Float, y: Float) = EmbDoc(id, new Timestamp(0L), Array(x, y))
    val in = MemoryStream[EmbDoc]
    // batch 2 holds only vec_id 0, which the filter drops
    val q = Monitor.maintainCellIndex(in.toDF().drop("ts").filter(col("vec_id") > 0L),
      cents, path, s"$dir/ckpt", dims = 2,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try Seq(Seq(emb(1L, 1f, 0f), emb(2L, 0f, 1f)), Seq(emb(3L, 1f, 0.1f)),
        Seq(emb(0L, 1f, 1f))).foreach { rows =>
      in.addData(rows: _*)
      q.processAllAvailable()
    } finally q.stop()
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    def parts() = fs.listStatus(new Path(path)).map(_.getPath.getName)
      .filter(_.startsWith("__batch_id=")).map(_.stripPrefix("__batch_id=").toLong).toSet
    def cells() = Monitor.readLog(spark, path).select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue)).toSet
    val before = cells()
    assert(before === Set((1L, 0L), (2L, 1L), (3L, 0L)))
    Monitor.compactLog(spark, path)
    assert(parts() === Set(-2L, 2L), s"got ${parts()}")
    assert(cells() === before)
    assert(fs.listStatus(new Path(path, "__batch_id=-2")).map(_.getPath.getName)
      .exists(_.startsWith("cell=")), "compacted generation must keep cell= subdirectories")
  }

  test("ingest-door novelty against the gram index equals batch verdicts") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_gram").toString
    val ckpt = Files.createTempDirectory("graft_gram_ck").toString
    val path = s"$dir/log"
    val chosen = Tables.documents(spark, sf).orderBy("doc_id")
      .select("doc_id", "text").limit(6).collect()
      .map(r => Doc(r.getLong(0), new Timestamp(0L), r.getString(1))).toSeq
    val input = MemoryStream[Doc]
    def ingest(d: Doc): Unit = {
      input.addData(d)
      val q = Monitor.maintainGramIndex(input.toDF().drop("ts"),
        col("doc_id"), col("text"), path, s"$ckpt/c1")
      try q.awaitTermination(120000) finally q.stop()
    }
    ingest(chosen.head)
    // score each later doc against everything ingested BEFORE it
    val scored = chosen.tail.map { d =>
      val one = Seq(d).toDF().drop("ts")
      val r = graft.ops.TextAnalysis.noveltyAgainst(
        Monitor.readGramIndex(spark, path), one,
        col("doc_id"), col("text")).collect()
      ingest(d)
      assert(r.length === 1)
      r.head.getLong(0) -> (r.head.getLong(1), r.head.getLong(2), r.head.getLong(3))
    }.toMap
    val batch = graft.ops.TextAnalysis.novelty(
        chosen.toDF().drop("ts"), col("doc_id"), col("text"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    chosen.tail.foreach { d =>
      assert(scored(d.doc_id) === batch(d.doc_id),
        s"doc ${d.doc_id}: incremental ${scored(d.doc_id)} != batch ${batch(d.doc_id)}")
    }
    assert(batch(chosen.head.doc_id)._3 === 1000L) // the seed doc is all-new
  }

  test("ingest-door line dedup against the maintained line index equals batch verdicts") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_lineix").toString
    val ckpt = Files.createTempDirectory("graft_lineix_ck").toString
    val path = s"$dir/log"
    // three increments sharing a boilerplate banner line, arriving in
    // doc order — the corpus-level first-occurrence verdicts are fixed
    val docs = Seq(
      Doc(1L, new Timestamp(0L), "banner line\nunique one\nshared middle"),
      Doc(2L, new Timestamp(0L), "banner line\nunique two"),
      Doc(3L, new Timestamp(0L), "shared middle\nbanner line\nunique three\nunique three"))
    val input = MemoryStream[Doc]
    def ingest(d: Doc): Unit = {
      input.addData(d)
      val q = Monitor.maintainLineIndex(input.toDF().drop("ts"),
        col("doc_id"), col("text"), path, s"$ckpt/c1")
      try q.awaitTermination(120000) finally q.stop()
    }
    ingest(docs.head)
    val incremental = docs.tail.map { d =>
      val one = Seq(d).toDF().drop("ts")
      val r = graft.ops.TextAnalysis.dedupLinesAgainst(one,
        col("doc_id"), col("text"), Monitor.readLineIndex(spark, path))
        .collect()
      ingest(d)
      assert(r.length === 1)
      r.head.getLong(0) -> ((r.head.getLong(1), r.head.getLong(2), r.head.getString(3)))
    }.toMap
    // increments must reproduce the one-shot batch pass exactly
    val batch = graft.ops.TextAnalysis.dedupLines(
        docs.toDF().drop("ts"), col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    docs.tail.foreach { d =>
      assert(incremental(d.doc_id) === batch(d.doc_id),
        s"doc ${d.doc_id}: incremental ${incremental(d.doc_id)} != batch ${batch(d.doc_id)}")
    }
    // doc 3's intra-increment duplicate ("unique three" twice) keeps only
    // its first copy even though the line is new to the corpus
    assert(incremental(3L) === ((4L, 1L, "unique three")))
    // idempotence: re-running an already-indexed increment drops all of it
    val replay = graft.ops.TextAnalysis.dedupLinesAgainst(
        Seq(docs(1)).toDF().drop("ts"), col("doc_id"), col("text"),
        Monitor.readLineIndex(spark, path)).collect()
    assert(replay.length === 1 && replay.head.getLong(2) === 1L &&
      replay.head.getString(3) === "unique two",
      "a re-run increment keeps exactly the lines whose index first IS its own")
  }

  test("maintained kmv log unions byte-equal to the single-pass per-group sketch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    graft.functions.KmvFunctions.register(spark)
    val dir = Files.createTempDirectory("graft_kmvlog").toString
    val ckpt = Files.createTempDirectory("graft_kmvlog_ck").toString
    val all = sampleEvents
    val input = MemoryStream[Ev]
    all.grouped(40).foreach { chunk =>
      input.addData(chunk: _*)
      val q = Monitor.maintainKmvSketch(input.toDF(), col("event_type"),
        col("user_id"), s"$dir/log", s"$ckpt/c1", k = 16)
      try q.awaitTermination(120000) finally q.stop()
    }
    def merged() = Monitor.readKmvSketch(spark, s"$dir/log")
      .orderBy("grp").collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toSeq
    val direct = all.toDF()
      .select(col("event_type").cast("string").as("grp"), col("user_id").as("v"))
      .groupBy("grp").agg(expr("graft_kmv_sketch(v, 16)").as("sk"))
      .orderBy("grp").collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toSeq
    assert(merged() === direct && direct.nonEmpty)
    // the union rows serve overlap probes: a group always fully
    // intersects itself (un-full sketches are exact)
    val skMap = merged().toMap
    val anyGrp = skMap.keys.head
    val selfInter = graft.functions.KmvImpl.intersectSerialized(
      skMap(anyGrp).toArray, skMap(anyGrp).toArray)
    val est = graft.functions.KmvImpl.estimateSerialized(skMap(anyGrp).toArray)
    assert(selfInter === est)
    // replay with a fresh checkpoint rewrites batch 0 idempotently
    val input2 = MemoryStream[Ev]
    input2.addData(all.take(40): _*)
    val q2 = Monitor.maintainKmvSketch(input2.toDF(), col("event_type"),
      col("user_id"), s"$dir/log", s"$ckpt/c2", k = 16)
    try q2.awaitTermination(120000) finally q2.stop()
    assert(merged() === direct, "replay must not change the merged sketches")
  }

  test("maintained qsketch log unions to the single-pass per-group sketch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    graft.functions.QSketchFunctions.register(spark)
    val dir = Files.createTempDirectory("graft_qs").toString
    val ckpt = Files.createTempDirectory("graft_qs_ck").toString
    val all = sampleEvents
    def withValue(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("value", col("event_id") % 13 + 0.25)
    val input = MemoryStream[Ev]
    all.grouped(40).foreach { chunk =>
      input.addData(chunk: _*)
      val q = Monitor.maintainQSketch(withValue(input.toDF()),
        col("event_type"), col("value"), col("event_id"),
        s"$dir/log", s"$ckpt/c1", k = 32)
      try q.awaitTermination(120000) finally q.stop()
    }
    def merged() = Monitor.readQSketch(spark, s"$dir/log")
      .select(col("key"), expr("graft_qsketch_q(sk, 0.5d)").as("p50"),
        col("cnt"))
      .orderBy("key").collect().toSeq.map(_.toSeq)
    val direct = withValue(all.toDF())
      .select(col("event_type").as("key"), col("value").cast("double").as("v"),
        col("event_id").cast("string").as("id"))
      .groupBy("key")
      .agg(expr("graft_qsketch(v, id, 32)").as("sk"), count(lit(1)).as("cnt"))
      .select(col("key"), expr("graft_qsketch_q(sk, 0.5d)").as("p50"), col("cnt"))
      .orderBy("key").collect().toSeq.map(_.toSeq)
    assert(merged() === direct && direct.nonEmpty,
      "streamed sketch quantiles must equal the single-pass batch sketch")
    // replay with a fresh checkpoint rewrites batch 0 idempotently
    val input2 = MemoryStream[Ev]
    input2.addData(all.take(40): _*)
    val q2 = Monitor.maintainQSketch(withValue(input2.toDF()),
      col("event_type"), col("value"), col("event_id"),
      s"$dir/log", s"$ckpt/c2", k = 32)
    try q2.awaitTermination(120000) finally q2.stop()
    assert(merged() === direct, "replay must not change the merged sketch")
  }

  test("streaming funnel stage machine matches the batch window funnel") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.Funnel
    // the real sf0.001 event log, replayed in event-time order across
    // three micro-batches (the ordering contract the machine documents)
    val batchEv = Tables.events(spark, sf).select(
      col("event_id"), col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("ts_us"))
    val all = batchEv.collect().map(r => Funnel.FEvent(
        r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[String]("event_type"), r.getAs[Long]("ts_us")))
      .sortBy(e => (e.ts_us, e.event_id))
    val input = MemoryStream[Funnel.FEvent]
    val q = Funnel.stages(input.toDS())
      .writeStream.outputMode("update").format("memory").queryName("funnel_out")
      .start()
    try {
      all.grouped((all.length + 2) / 3).foreach { chunk =>
        input.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // stage times only decrease across emissions, so the per-user minimum
    // of the update stream IS the final state
    val streamed = spark.table("funnel_out")
      .groupBy("user_id")
      .agg(min(element_at(col("us"), 1)).as("u1"),
        min(element_at(col("us"), 2)).as("u2"),
        min(element_at(col("us"), 3)).as("u3"))
      .collect()
      .map(r => r.getAs[Long]("user_id") ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toMap
    // users who never reached stage 1 have an all-null batch row but no
    // stream emission (the machine only speaks on progress)
    val batch = graft.ops.Analytics.funnelUsers(batchEv)
      .filter(col("u1").isNotNull).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(streamed === batch)
  }

  test("k-stage streaming funnel (5 stages) matches the batch window funnel") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.Funnel
    // all five event types of the real sf0.001 log as a 5-stage funnel —
    // the k-generalization must agree with the batch fold stage-for-stage
    val fiveStages = Seq("signup", "view", "click", "purchase", "error")
    val batchEv = Tables.events(spark, sf).select(
      col("event_id"), col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("ts_us"))
    val all = batchEv.collect().map(r => Funnel.FEvent(
        r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[String]("event_type"), r.getAs[Long]("ts_us")))
      .sortBy(e => (e.ts_us, e.event_id))
    val input = MemoryStream[Funnel.FEvent]
    val q = Funnel.stages(input.toDS(), fiveStages)
      .writeStream.outputMode("update").format("memory")
      .queryName("funnel5_out").start()
    try {
      all.grouped((all.length + 3) / 4).foreach { chunk =>
        input.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("funnel5_out")
      .groupBy("user_id")
      .agg(min(element_at(col("us"), 1)).as("u1"),
        fiveStages.indices.drop(1).map(i =>
          min(element_at(col("us"), i + 1)).as(s"u${i + 1}")): _*)
      .collect()
      .map(r => r.getAs[Long]("user_id") ->
        fiveStages.indices.map(i => Option(r.get(i + 1))).toSeq).toMap
    val batch = graft.ops.Analytics.funnelUsers(batchEv, fiveStages)
      .filter(col("u1").isNotNull).collect()
      .map(r => r.getAs[Long]("user_id") ->
        fiveStages.indices.map(i => Option(r.get(i + 1))).toSeq).toMap
    assert(streamed === batch)
    assert(batch.nonEmpty, "fixture must reach stage 1")
    // deep stages are actually exercised on this fixture
    assert(batch.values.exists(_.apply(3).nonEmpty), "some user reaches stage 4")
  }

  test("streaming attribution machine equals the batch credited pairs") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.Attribution
    val W = 7L * 24 * 3600 * 1000000L
    val batchEv = Tables.events(spark, sf).select(
      col("event_id"), col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("ts_us"))
    val all = batchEv.collect().map(r => Attribution.AEvent(
        r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[String]("event_type"), r.getAs[Long]("ts_us")))
      .sortBy(e => (e.ts_us, e.event_id))
    val input = MemoryStream[Attribution.AEvent]
    val q = Attribution.pairsStream(input.toDS())
      .writeStream.outputMode("update").format("memory")
      .queryName("attr_out").start()
    try {
      all.grouped((all.length + 2) / 3).foreach { chunk =>
        input.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("attr_out")
      .select("conv_id", "touch_id", "channel", "conv_ts", "touch_ts", "w")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // exactly-once per credited pair: a conversion's credits emit at the
    // conversion and are never revised
    assert(streamed.length === streamed.toSet.size)
    val batch = graft.ops.Analytics.attributionPairs(
        batchEv, W, Seq("click", "signup", "view"), "purchase")
      .withColumn("w", lit(W) - (col("conv_ts") - col("touch_ts")) + lit(1L))
      .select("conv_id", "touch_id", "channel", "conv_ts", "touch_ts", "w")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(streamed.toSet === batch.toSet)
    assert(batch.nonEmpty, "fixture must credit some pairs")
  }

  test("streaming journey transitions equal the batch markov matrix; " +
      "non-converters flush at idle and the served solve matches") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.Attribution
    val batchEv = Tables.events(spark, sf).select(
      col("event_id"), col("user_id"), col("event_type"), col("value"),
      unix_micros(col("ts")).as("ts_us"))
    val all = batchEv.collect().map(r => Attribution.JEvent(
        r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[String]("event_type"), r.getAs[Double]("value"),
        r.getAs[Long]("ts_us")))
      .sortBy(e => (e.ts_us, e.event_id))
    val maxTs = all.map(_.ts_us).max
    val input = MemoryStream[Attribution.JEvent]
    // idle horizon BEYOND the corpus span: a mid-stream reap would call
    // a later-converting user a non-converter (that's the documented
    // divergence; parity needs idleness to stand in for the frontier)
    val idleMs = 40L * 24 * 3600 * 1000
    val q = Attribution.transitionsStream(input.toDS(), idleTimeoutMs = idleMs)
      .writeStream.outputMode("update").format("memory")
      .queryName("jt_out").start()
    try {
      all.grouped((all.length + 2) / 3).foreach { chunk =>
        input.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
      // push the watermark far past every idle timer; timers fire on the
      // batch AFTER the watermark moves, hence two rounds. The noop type
      // is neither touch nor conversion, so it leaves no state behind.
      val flush = Attribution.JEvent(-999L, 1L, "noop", 0.0,
        maxTs + 45L * 24 * 3600 * 1000000L)
      input.addData(flush)
      q.processAllAvailable()
      input.addData(flush.copy(event_id = 2L,
        ts_us = flush.ts_us + 3600L * 1000000L))
      q.processAllAvailable()
    } finally q.stop()
    def mat(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("src"), r.getAs[String]("dst")) ->
        r.getAs[Long]("n")).toMap
    val streamedDf = spark.table("jt_out")
      .groupBy("src", "dst").agg(sum("n").as("n"))
    val batchDf = graft.ops.Analytics.markovTransitions(batchEv)
    assert(mat(streamedDf) === mat(batchDf))
    assert(mat(batchDf).keys.exists(_._2 == "NULLS"),
      "fixture must have non-converter journeys or the flush is untested")
    // the exact-rational solve is the shared epilogue: served == batch
    def rows(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Analytics.markovAttribution(df).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSeq
    assert(rows(streamedDf) === rows(batchDf))
  }

  test("maintained journey-transition log serves the batch markov " +
      "attribution exactly") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.Attribution
    val path = Files.createTempDirectory("graft_jt").toString + "/trans"
    val chk = Files.createTempDirectory("graft_jt_chk").toString
    val batchEv = Tables.events(spark, sf).select(
      col("event_id"), col("user_id"), col("event_type"), col("value"),
      unix_micros(col("ts")).as("ts_us"))
    val all = batchEv.collect().map(r => Attribution.JEvent(
        r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[String]("event_type"), r.getAs[Double]("value"),
        r.getAs[Long]("ts_us")))
      .sortBy(e => (e.ts_us, e.event_id))
    val maxTs = all.map(_.ts_us).max
    val idleMs = 40L * 24 * 3600 * 1000
    // two runs over ONE checkpoint lineage, then two flush rounds to
    // fire the idle reapers into the log
    val in = MemoryStream[Attribution.JEvent]
    in.addData(all.take(all.length / 2).toSeq: _*)
    val q1 = Monitor.maintainJourneyTransitions(in.toDS(), path, chk, idleMs)
    try q1.awaitTermination(120000) finally q1.stop()
    in.addData(all.drop(all.length / 2).toSeq: _*)
    val q2 = Monitor.maintainJourneyTransitions(in.toDS(), path, chk, idleMs)
    try q2.awaitTermination(120000) finally q2.stop()
    val flushTs = maxTs + 45L * 24 * 3600 * 1000000L
    in.addData(Attribution.JEvent(-999L, 1L, "noop", 0.0, flushTs))
    val q3 = Monitor.maintainJourneyTransitions(in.toDS(), path, chk, idleMs)
    try q3.awaitTermination(120000) finally q3.stop()
    in.addData(Attribution.JEvent(-999L, 2L, "noop", 0.0,
      flushTs + 3600L * 1000000L))
    val q4 = Monitor.maintainJourneyTransitions(in.toDS(), path, chk, idleMs)
    try q4.awaitTermination(120000) finally q4.stop()
    def mat(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("src"), r.getAs[String]("dst")) ->
        r.getAs[Long]("n")).toMap
    assert(mat(Monitor.readJourneyTransitions(spark, path)) ===
      mat(graft.ops.Analytics.markovTransitions(batchEv)))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(rows(Monitor.readMarkovAttribution(spark, path)) ===
      rows(graft.ops.Analytics.markovAttribution(
        graft.ops.Analytics.markovTransitions(batchEv))))
    // compaction with the additive fold preserves the matrix exactly
    Monitor.compactLog(spark, path, fold = Monitor.journeyTransFold)
    assert(mat(Monitor.readJourneyTransitions(spark, path)) ===
      mat(graft.ops.Analytics.markovTransitions(batchEv)))
  }

  test("journey machine: conversion retires the NULLS half; timeout " +
      "emits the accumulated non-converter journey") {
    import org.apache.spark.sql.streaming.TestGroupState
    import graft.streaming.Attribution
    def e(id: Long, t: String, v: Double, us: Long) =
      Attribution.JEventTs(7L, id, t, v, us, new java.sql.Timestamp(us / 1000L))
    val st = TestGroupState.create[Attribution.JState](
      org.apache.spark.api.java.Optional.empty(),
      org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout,
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of(0L),
      hasTimedOut = false)
    // two touches then a QUALIFYING conversion: journey emitted at the
    // conversion, the non-converter accumulator retired
    val out = Attribution.journeyKey(7L,
      Iterator(e(1, "view", 0.0, 100L), e(2, "click", 0.0, 200L),
        e(3, "purchase", 99.0, 250L),   // below convValue: no journey
        e(4, "purchase", 200.0, 300L)),
      st, windowUs = 1000L, touchTypes = Set("view", "click"),
      convType = "purchase", convValue = 150.0, idleTimeoutMs = 60000L).toSeq
    assert(out.toSet === Set(
      Attribution.Trans("START", "view", 1L),
      Attribution.Trans("view", "click", 1L),
      Attribution.Trans("click", "CONV", 1L)))
    assert(st.get.converted && st.get.acc.isEmpty)
    // a converted user's timeout emits NOTHING
    val st2 = TestGroupState.create[Attribution.JState](
      org.apache.spark.api.java.Optional.of(st.get),
      org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout,
      batchProcessingTimeMs = 2000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of(100000L),
      hasTimedOut = true)
    assert(Attribution.journeyKey(7L, Iterator.empty, st2, 1000L,
      Set("view", "click"), "purchase", 150.0, 60000L).isEmpty
      && st2.isRemoved)
    // a never-converting user: repeated touches accumulate COUNTS (not
    // history), timeout emits them plus the NULLS absorber
    val st3 = TestGroupState.create[Attribution.JState](
      org.apache.spark.api.java.Optional.empty(),
      org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout,
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of(0L),
      hasTimedOut = false)
    assert(Attribution.journeyKey(8L,
      Iterator(e(1, "view", 0.0, 100L), e(2, "view", 0.0, 5000L),
        e(3, "click", 0.0, 9000L)),
      st3, windowUs = 1000L, touchTypes = Set("view", "click"),
      convType = "purchase", convValue = 150.0, idleTimeoutMs = 60000L)
      .isEmpty, "nothing emits before the reaper")
    assert(st3.get.acc.toSet === Set(
      Attribution.Trans("START", "view", 1L),
      Attribution.Trans("view", "view", 1L),
      Attribution.Trans("view", "click", 1L)))
    // the out-of-window touch buffer shrank, the accumulator did not
    assert(st3.get.touches.map(_.touch_id) === Seq(3L))
    val st4 = TestGroupState.create[Attribution.JState](
      org.apache.spark.api.java.Optional.of(st3.get),
      org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout,
      batchProcessingTimeMs = 2000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of(100000L),
      hasTimedOut = true)
    val reaped = Attribution.journeyKey(8L, Iterator.empty, st4, 1000L,
      Set("view", "click"), "purchase", 150.0, 60000L).toSeq
    assert(reaped.toSet === Set(
      Attribution.Trans("START", "view", 1L),
      Attribution.Trans("view", "view", 1L),
      Attribution.Trans("view", "click", 1L),
      Attribution.Trans("click", "NULLS", 1L)))
    assert(st4.isRemoved)
  }

  test("attribution buffer evicts out-of-window touches and reaps idle keys") {
    import org.apache.spark.sql.streaming.TestGroupState
    import graft.streaming.Attribution
    def e(id: Long, t: String, us: Long) =
      Attribution.AEventTs(9L, id, t, us, new java.sql.Timestamp(us / 1000L))
    val st = TestGroupState.create[Attribution.AState](
      org.apache.spark.api.java.Optional.empty(),
      org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout,
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of(0L),
      hasTimedOut = false)
    // window 100 µs: view@10 is evicted by the arrival at 200 (190 > 100),
    // so the conversion @210 credits only click@150
    val out = Attribution.updateKey(9L,
      Iterator(e(1, "view", 10L), e(2, "click", 150L), e(3, "signup", 200L),
        e(4, "purchase", 210L)),
      st, windowUs = 100L, touchTypes = Set("view", "click", "signup"),
      convType = "purchase", idleTimeoutMs = 60000L).toSeq
    assert(out.map(c => (c.touch_id, c.channel, c.w)) ===
      Seq((2L, "click", 41L), (3L, "signup", 91L)))
    assert(st.exists)
    // state holds only in-window touches relative to the newest event
    assert(st.get.touches.map(_.touch_id) === Seq(2L, 3L))
    // idle reaper: a timed-out invocation drops the key
    val st2 = TestGroupState.create[Attribution.AState](
      org.apache.spark.api.java.Optional.of(st.get),
      org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout,
      batchProcessingTimeMs = 2000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of(100000L),
      hasTimedOut = true)
    val out2 = Attribution.updateKey(9L, Iterator.empty, st2,
      windowUs = 100L, touchTypes = Set("view"), convType = "purchase",
      idleTimeoutMs = 60000L).toSeq
    assert(out2.isEmpty && st2.isRemoved)
  }

  test("streaming windowed funnel equals the batch conversion-window fold") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.Funnel
    val W = 24L * 3600 * 1000000L // the oracled 24h window — binding on this fixture
    val batchEv = Tables.events(spark, sf).select(
      col("event_id"), col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("ts_us"))
    val all = batchEv.collect().map(r => Funnel.FEvent(
        r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[String]("event_type"), r.getAs[Long]("ts_us")))
      .sortBy(e => (e.ts_us, e.event_id))
    val input = MemoryStream[Funnel.FEvent]
    val q = Funnel.stagesWindowed(input.toDS(), W)
      .writeStream.outputMode("update").format("memory")
      .queryName("funnelw_out").start()
    try {
      all.grouped((all.length + 2) / 3).foreach { chunk =>
        input.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("funnelw_out")
      .groupBy("user_id")
      .agg(min(element_at(col("us"), 1)).as("u1"),
        min(element_at(col("us"), 2)).as("u2"),
        min(element_at(col("us"), 3)).as("u3"))
      .collect()
      .map(r => r.getAs[Long]("user_id") ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toMap
    val batch = graft.ops.Analytics.funnelUsersWindowed(batchEv, W)
      .filter(col("u1").isNotNull).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(streamed === batch,
      "windowed stream machine must equal the batch running-max fold")
    assert(batch.values.exists(_._3.nonEmpty), "stage 3 conversions exist")
    // the window BINDS on this fixture: the unbounded funnel admits
    // conversions the 24h rule rejects
    val unbounded = graft.ops.Analytics.funnelUsers(batchEv)
      .filter(col("u3").isNotNull).count()
    assert(batch.count(_._2._3.nonEmpty) < unbounded)
  }

  test("streaming gated capture equals the batch interval filter") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.GatedCapture
    // the real sf0.001 event log as the gate fixture: signup opens a
    // user's gate, error closes it, view/click/purchase are the data
    val ev = Tables.events(spark, sf).select(
      col("event_id"), col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("ts_us"))
    val control = ev.filter(col("event_type").isin("signup", "error"))
      .select(col("user_id"), col("ts_us"),
        when(col("event_type") === "signup", lit("start"))
          .otherwise(lit("stop")).as("msg"))
    val data = ev.filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts_us"))
    val expected = GatedCapture.captureGated(control, data,
        col("user_id"), col("ts_us"), col("msg"))
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(expected.nonEmpty, "fixture must actually capture something")
    assert(expected.size < data.count(), "fixture must actually drop something")
    // replay the unioned control+data rows in event-time order across
    // five micro-batches (the documented ordering contract)
    val rows = (control.collect().map(r => GatedCapture.GEvent(
        r.getLong(0), r.getLong(1), 0, r.getString(2) == "start", -1L)) ++
      data.collect().map(r => GatedCapture.GEvent(
        r.getLong(1), r.getLong(3), 1, on = false, r.getLong(0))))
      .sortBy(e => (e.ts_us, e.kind))
    val input = MemoryStream[GatedCapture.GEvent]
    val q = GatedCapture.gatedStream(input.toDS())
      .writeStream.outputMode("update").format("memory").queryName("gated_out")
      .start()
    try {
      rows.grouped((rows.length + 4) / 5).foreach { chunk =>
        input.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("gated_out")
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(streamed === expected,
      s"stream/batch disagree: extra=${streamed -- expected} missing=${expected -- streamed}")
  }

  test("gated capture stream: a stale replayed control never reopens history") {
    import graft.streaming.GatedCapture._
    import org.apache.spark.sql.streaming.TestGroupState
    // batch 1 advanced the gate to (stop @ 200); a replayed/late start
    // @ 100 arriving in batch 2 is older than lastCtl and must be
    // ignored — the gate stays closed and the 250 data row is dropped
    def gev(ts: Long, kind: Int, on: Boolean, id: Long) =
      GEventTs(1L, ts, kind, on, id, new java.sql.Timestamp(ts / 1000L))
    val state = TestGroupState.create[GState](
      org.apache.spark.api.java.Optional.empty(),
      org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout,
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of(0L),
      hasTimedOut = false)
    val b1 = updateGate(1L, Iterator(
      gev(50L, 0, on = true, -1L),
      gev(120L, 1, on = false, 10L), // open: captured
      gev(200L, 0, on = false, -1L)), state, idleTimeoutMs = 60000L).toSeq
    assert(b1.map(_.event_id) === Seq(10L))
    val b2 = updateGate(1L, Iterator(
      gev(100L, 0, on = true, -1L), // stale replay, ts < lastCtl
      gev(250L, 1, on = false, 11L)), state, idleTimeoutMs = 60000L).toSeq
    assert(b2.isEmpty, s"stale control reopened the gate: $b2")
    assert(state.get == GState(open = false, lastCtlUs = 200L, lastUs = 250L))
    // tie AT the frontier across batches: a start@200 arriving after the
    // stop@200 merges start-wins — exactly the batch twin's same-instant
    // rule, not last-arrival-wins
    val b3 = updateGate(1L, Iterator(
      gev(200L, 0, on = true, -1L),
      gev(260L, 1, on = false, 12L)), state, idleTimeoutMs = 60000L).toSeq
    assert(b3.map(_.event_id) === Seq(12L),
      "start@frontier must win the cross-batch tie like the batch fold")
    assert(state.get == GState(open = true, lastCtlUs = 200L, lastUs = 260L))
    // and the mirror order: a stop equal to an already-applied start's
    // frontier must NOT close the gate
    val b4 = updateGate(1L, Iterator(
      gev(200L, 0, on = false, -1L),
      gev(270L, 1, on = false, 13L)), state, idleTimeoutMs = 60000L).toSeq
    assert(b4.map(_.event_id) === Seq(13L),
      "stop@frontier must not undo the tie-winning start")
    // the idle reaper is armed at the newest event time + horizon
    // (event-time micros → ms, clamped beyond the watermark)
    assert(state.getTimeoutTimestampMs.get() === 270L / 1000L + 60000L)
    // the timeout firing drops the quiet gate's state, emitting nothing
    val st2 = TestGroupState.create[GState](
      org.apache.spark.api.java.Optional.of(state.get),
      org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout,
      batchProcessingTimeMs = 2000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of(100000L),
      hasTimedOut = true)
    val reaped = updateGate(1L, Iterator.empty, st2, idleTimeoutMs = 60000L).toSeq
    assert(reaped.isEmpty)
    assert(st2.isRemoved, "quiet gate state must leave the store")
  }

  test("interval union stream: idle keys time out and leave the store") {
    import graft.streaming.Monitor
    import org.apache.spark.sql.streaming.TestGroupState
    def iev(start: Long, end: Long) =
      Monitor.IvEventTs(9L, start, end, new java.sql.Timestamp(start * 1000L))
    val st = TestGroupState.create[Monitor.IvState](
      org.apache.spark.api.java.Optional.empty(),
      org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout,
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of(0L),
      hasTimedOut = false)
    val out = Monitor.intervalUnionUpdate(9L,
      Iterator(iev(100L, 200L), iev(150L, 260L)), st,
      idleTimeoutMs = 60000L).toSeq
    assert(out === Seq(Monitor.IvOut(9L, 2L, 160L)))
    // reaper anchored at the newest interval START (the stream's time
    // axis) + horizon, in ms
    assert(st.getTimeoutTimestampMs.get() === 150L * 1000L + 60000L)
    val st2 = TestGroupState.create[Monitor.IvState](
      org.apache.spark.api.java.Optional.of(st.get),
      org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout,
      batchProcessingTimeMs = 2000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of(300000L),
      hasTimedOut = true)
    val reaped = Monitor.intervalUnionUpdate(9L, Iterator.empty, st2,
      idleTimeoutMs = 60000L).toSeq
    assert(reaped.isEmpty)
    assert(st2.isRemoved, "quiet key state must leave the store")
  }

  test("gated capture into the maintained log: batch parity + replay idempotence") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{GatedCapture, Monitor}
    val dir = Files.createTempDirectory("graft_gatedlog").toString
    val path = s"$dir/log"
    // two gates: gate 1 brackets [100, 300); gate 2 starts at 150, never
    // stops (unclosed interval captures to the end of the stream)
    val rows = Seq(
      GatedCapture.GEvent(1L, 100L, 0, on = true, -1L),
      GatedCapture.GEvent(1L, 120L, 1, on = false, 10L),
      GatedCapture.GEvent(2L, 150L, 0, on = true, -1L),
      GatedCapture.GEvent(2L, 160L, 1, on = false, 20L),
      GatedCapture.GEvent(1L, 300L, 0, on = false, -1L),
      GatedCapture.GEvent(1L, 350L, 1, on = false, 11L), // after stop: dropped
      GatedCapture.GEvent(2L, 400L, 1, on = false, 21L)  // unclosed: captured
    ).sortBy(e => (e.ts_us, e.kind))
    def drain(ckpt: String): Unit = {
      // ONE source per checkpoint lineage (offsets advance across the
      // AvailableNow drains, so batch ids increment per chunk)
      val input = MemoryStream[GatedCapture.GEvent]
      rows.grouped(3).foreach { chunk =>
        input.addData(chunk: _*)
        val q = Monitor.captureGatedToLog(input.toDS(), path, ckpt)
        try q.awaitTermination(120000) finally q.stop()
      }
    }
    drain(s"$dir/c1")
    def captured() = Monitor.readLog(spark, path)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(captured() === Set(10L, 20L, 21L))
    // a fresh-checkpoint replay rewrites the same batches, never duplicates
    drain(s"$dir/c2")
    assert(captured() === Set(10L, 20L, 21L))
    assert(Monitor.readLog(spark, path).count() === 3L)
  }

  test("gated capture: duplicate states collapse into one interval (idempotent gate)") {
    import spark.implicits._
    import graft.streaming.GatedCapture
    // start,start,stop,stop,start → exactly two intervals: [100,300) and
    // [400,∞) — repeated controls extend the same bracket, so the semi
    // join cannot duplicate data rows
    val control = Seq(
      (1L, 100L, "start"), (1L, 200L, "t"), (1L, 300L, "stop"),
      (1L, 350L, "halt"), (1L, 400L, "TRUE")).toDF("g", "ts_us", "msg")
    val iv = GatedCapture.captureIntervals(control, col("g"), col("ts_us"),
        GatedCapture.isStart(col("msg")))
      .orderBy("start_us")
      .collect().map(r => (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long])))
    assert(iv.toSeq === Seq((100L, Some(300L)), (400L, None)))
    // the reference's message predicate: true/t/start open (any case),
    // everything else stops
    val data = Seq((1L, 150L, 1L), (1L, 150L, 2L), (1L, 500L, 3L))
      .toDF("g", "ts_us", "event_id")
    val got = GatedCapture.captureGated(control, data,
        col("g"), col("ts_us"), col("msg"))
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq === Seq(1L, 2L, 3L), "no duplication, no loss")
  }

  test("gated capture: stop-without-start and unclosed intervals") {
    import spark.implicits._
    import graft.streaming.GatedCapture
    // gate 1: stop arrives with no prior start (all rows closed), then an
    // unclosed start captures everything after it; gate 2: never started
    val control = Seq(
      (1L, 100L, "stop"), (1L, 200L, "start"),
      (2L, 50L, "halt")).toDF("g", "ts_us", "msg")
    val data = Seq(
      (1L, 50L, 10L),   // before any control: dropped
      (1L, 100L, 11L),  // at the stop: dropped (stop is its own as-of)
      (1L, 200L, 12L),  // exactly at the start: captured (inclusive)
      (1L, 900L, 13L),  // far beyond, interval unclosed: captured
      (2L, 300L, 14L)   // stop-without-start gate: dropped
    ).toDF("g", "ts_us", "event_id")
    val got = GatedCapture.captureGated(control, data,
        col("g"), col("ts_us"), col("msg"))
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got === Set(12L, 13L))
    // same-instant start+stop leaves the gate open (stop-before-start tie)
    val c2 = Seq((1L, 100L, "stop"), (1L, 100L, "start")).toDF("g", "ts_us", "msg")
    val got2 = GatedCapture.captureGated(c2,
        Seq((1L, 100L, 20L), (1L, 101L, 21L)).toDF("g", "ts_us", "event_id"),
        col("g"), col("ts_us"), col("msg"))
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got2 === Set(20L, 21L))
  }

  test("gated capture: a NULL control message is a STOP, not a hole") {
    import spark.implicits._
    import graft.streaming.GatedCapture
    // The reference stringifies the payload (scenario.py:109 —
    // str(None).lower() == "none" ∉ {"true","t","start"}), so a NULL
    // control must CLOSE the gate. Un-coalesced, isStart(NULL) is NULL:
    // the row vanishes from the transition fold AND poisons the next
    // row's lag — start@100, null@200, stop@400 would leave the gate
    // open forever and drop the genuine restart transition at 300.
    val control = Seq(
      (1L, 100L, Some("start")), (1L, 200L, None: Option[String]),
      (1L, 300L, Some("start")), (1L, 400L, Some("stop")))
      .toDF("g", "ts_us", "msg")
    val data = Seq(
      (1L, 150L, 10L), // inside [100,200): captured
      (1L, 250L, 11L), // the NULL control closed the gate: dropped
      (1L, 350L, 12L), // restart after the NULL: captured
      (1L, 450L, 13L)  // after the stop: dropped
    ).toDF("g", "ts_us", "event_id")
    val got = GatedCapture.captureGated(control, data,
        col("g"), col("ts_us"), col("msg"))
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got === Set(10L, 12L))
    // the STREAMING twin inherits the same NULL rule through the
    // canonical gatedEvents builder (GEvent.on is a primitive Boolean —
    // a hand-rolled conversion of a NULL payload would crash the
    // encoder or invent different semantics): replaying the unioned
    // rows through the state machine captures the same set
    implicit val s = spark
    val evs = GatedCapture.gatedEvents(control, data,
      col("g"), col("ts_us"), col("msg"), col("event_id")).collect()
    assert(evs.filter(_.kind == 0).map(e => e.ts_us -> e.on).toMap ===
      Map(100L -> true, 200L -> false, 300L -> true, 400L -> false),
      "NULL control must fold to on=false in the event union")
    val st = org.apache.spark.sql.streaming.TestGroupState.create[GatedCapture.GState](
      org.apache.spark.api.java.Optional.empty(),
      org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout,
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of(0L),
      hasTimedOut = false)
    val streamed = GatedCapture.updateGate(1L,
        evs.iterator.map(e => GatedCapture.GEventTs(e.gate, e.ts_us, e.kind,
          e.on, e.event_id, new java.sql.Timestamp(e.ts_us / 1000L))), st)
      .map(_.event_id).toSet
    assert(streamed === got, "stream twin must capture the same rows past a NULL control")
  }

  test("streaming holt equals the batch fold minus the open bucket") {
    implicit val sqlCtx = spark.sqlContext
    implicit val ss = spark
    import spark.implicits._
    val all = Tables.events(spark, sf)
      .select(col("event_type").as("series"), col("ts").cast("long").as("t"),
        expr("cast(round(value * 1000000.0D) as bigint)").as("vm"))
      .as[Monitor.GapEvent].collect().sortBy(_.t)
    val input = MemoryStream[Monitor.GapEvent]
    val q = Monitor.holtStream(input.toDS()).writeStream
      .outputMode("update").format("memory").queryName("holt_stream").start()
    try {
      all.grouped((all.length + 2) / 3).foreach { chunk =>
        input.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("holt_stream").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val batch = graft.ops.Analytics.eventHolt(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(batch.nonEmpty)
    val lastBucket = batch.groupBy(_._1).map { case (s, rs) => s -> rs.map(_._2).max }
    val expected = batch.filterNot(r => lastBucket(r._1) == r._2).toSet
    assert(streamed === expected)
  }

  test("streaming holt-winters equals the batch fold minus the open bucket") {
    implicit val sqlCtx = spark.sqlContext
    implicit val ss = spark
    import spark.implicits._
    val all = Tables.events(spark, sf)
      .select(col("event_type").as("series"), col("ts").cast("long").as("t"),
        expr("cast(round(value * 1000000.0D) as bigint)").as("vm"))
      .as[Monitor.GapEvent].collect().sortBy(_.t)
    val input = MemoryStream[Monitor.GapEvent]
    val q = Monitor.holtWintersStream(input.toDS()).writeStream
      .outputMode("update").format("memory").queryName("hw_stream").start()
    try {
      all.grouped((all.length + 2) / 3).foreach { chunk =>
        input.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("hw_stream").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .toSet
    val batch = graft.ops.Analytics.eventHoltWinters(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(batch.nonEmpty)
    val lastBucket = batch.groupBy(_._1).map { case (s, rs) => s -> rs.map(_._2).max }
    val expected = batch.filterNot(r => lastBucket(r._1) == r._2).toSet
    assert(streamed === expected)
  }

  test("streaming cusum equals the batch closed form minus the open bucket") {
    implicit val sqlCtx = spark.sqlContext
    implicit val ss = spark
    import spark.implicits._
    val all = Tables.events(spark, sf)
      .select(col("event_type").as("series"), col("ts").cast("long").as("t"),
        expr("cast(round(value * 1000000.0D) as bigint)").as("vm"))
      .as[Monitor.GapEvent].collect().sortBy(_.t)
    val input = MemoryStream[Monitor.GapEvent]
    val q = Monitor.cusumStream(input.toDS(), refBuckets = 24).writeStream
      .outputMode("update").format("memory").queryName("cusum_stream").start()
    try {
      all.grouped((all.length + 2) / 3).foreach { chunk =>
        input.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("cusum_stream").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val batch = graft.ops.Analytics.eventCusum(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(batch.nonEmpty, "sf0.001 must exercise the post-baseline region")
    val lastBucket = batch.groupBy(_._1).map { case (s, rs) => s -> rs.map(_._2).max }
    val expected = batch.filterNot(r => lastBucket(r._1) == r._2).toSet
    assert(streamed === expected)
  }

  test("streaming gap fill equals batch LOCF minus the open bucket") {
    implicit val sqlCtx = spark.sqlContext
    implicit val ss = spark
    import spark.implicits._
    val all = Tables.events(spark, sf)
      .select(col("event_type").as("series"), col("ts").cast("long").as("t"),
        expr("cast(round(value * 1000000.0D) as bigint)").as("vm"))
      .as[Monitor.GapEvent].collect().sortBy(_.t)
    val input = MemoryStream[Monitor.GapEvent]
    val q = Monitor.gapFillStream(input.toDS()).writeStream
      .outputMode("update").format("memory").queryName("gap_stream").start()
    try {
      all.grouped((all.length + 2) / 3).foreach { chunk =>
        input.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("gap_stream")
      .select("series", "h", "value_micro", "observed").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    // the stream can't close each series' final bucket; batch rows for
    // those open buckets are the expected difference
    val batch = graft.ops.Analytics.eventGapFill(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val lastBucket = batch.groupBy(_._1).map { case (s, rs) => s -> rs.map(_._2).max }
    val expected = batch.filterNot(r => lastBucket(r._1) == r._2).toSet
    assert(streamed === expected)
    // every emitted row is final (no revisions in the update log)
    val emitted = spark.table("gap_stream").groupBy("series", "h")
      .count().filter(col("count") > 1).count()
    assert(emitted === 0L)
  }

  test("streaming interval union equals the batch sweep after in-order replay") {
    implicit val sqlCtx = spark.sqlContext
    implicit val ss = spark
    import spark.implicits._
    // the batch op's exact input: per-event activity windows of `value`
    // minutes, replayed per the arrival contract (ordered by start)
    val iv = Tables.events(spark, sf).select(
        col("user_id").as("key"),
        graft.model.Documents.tsSec(col("ts")).as("start_sec"),
        (graft.model.Documents.tsSec(col("ts")) +
          expr("cast(round(value * 60.0D) as bigint)")).as("end_sec"))
      .as[Monitor.IvEvent].collect().sortBy(e => (e.start_sec, e.end_sec))
    val input = MemoryStream[Monitor.IvEvent]
    val q = Monitor.intervalUnionStream(input.toDS()).writeStream
      .outputMode("update").format("memory").queryName("iv_stream").start()
    try {
      iv.grouped((iv.length + 2) / 3).foreach { chunk =>
        input.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // running totals are monotone: the final state per key is the max
    val streamed = spark.table("iv_stream").groupBy("key")
      .agg(max("n_intervals").as("n"), max("covered_sec").as("c")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val batch = graft.ops.Analytics.eventBusyTime(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed === batch,
      "stream sweep must equal the batch window sweep after full replay")
    assert(streamed.nonEmpty)
  }

  test("streaming linear gap fill equals the mean-anchored batch lerp up to the last closed anchor") {
    implicit val sqlCtx = spark.sqlContext
    implicit val ss = spark
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val all = Tables.events(spark, sf)
      .select(col("event_type").as("series"), col("ts").cast("long").as("t"),
        expr("cast(round(value * 1000000.0D) as bigint)").as("vm"))
      .as[Monitor.GapEvent].collect().sortBy(_.t)
    val input = MemoryStream[Monitor.GapEvent]
    val q = Monitor.gapFillLinearStream(input.toDS()).writeStream
      .outputMode("update").format("memory").queryName("lin_stream").start()
    try {
      all.grouped((all.length + 2) / 3).foreach { chunk =>
        input.addData(chunk.toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("lin_stream")
      .select("series", "h", "value_micro", "observed").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    // batch recompute with the stream's anchor convention (bucket MEAN —
    // the associative fold; the registered ts_gap_fill_linear op anchors
    // on the OHLC close, which needs the id tie-break this wire format
    // doesn't carry): lerp between bracketing mean anchors
    val ev = Tables.events(spark, sf).select(col("event_type").as("series"),
      expr("cast(ts as long) div 3600").as("h"),
      expr("cast(round(value * 1000000.0D) as bigint)").as("vm"))
    val anch = ev.groupBy("series", "h")
      .agg(expr("sum(vm) div count(*)").as("anchor"))
    val grid = anch.groupBy("series").agg(min("h").as("lo"), max("h").as("hi"))
      .select(col("series"), explode(expr("sequence(lo, hi)")).as("h"))
    val wf = Window.partitionBy("series").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wb = Window.partitionBy("series").orderBy("h")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val batch = grid.join(anch, Seq("series", "h"), "left")
      .select(col("series"), col("h"), col("anchor"),
        last(col("anchor"), ignoreNulls = true).over(wf).as("pv"),
        last(when(col("anchor").isNotNull, col("h")), ignoreNulls = true)
          .over(wf).as("pb"),
        first(col("anchor"), ignoreNulls = true).over(wb).as("nv"),
        first(when(col("anchor").isNotNull, col("h")), ignoreNulls = true)
          .over(wb).as("nb"))
      .withColumn("value_micro",
        when(col("anchor").isNotNull, col("anchor"))
          .otherwise(expr("pv + (nv - pv) * (h - pb) div (nb - pb)")))
      .select(col("series"), col("h"), col("value_micro"),
        col("anchor").isNotNull.as("observed"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    // emission runs one anchor behind: everything up to each series'
    // LAST CLOSED anchor (the streamed max bucket) is final and emitted;
    // the open bucket and the gaps awaiting their closing anchor pend
    val lastClosed = streamed.groupBy(_._1).map { case (s, rs) => s -> rs.map(_._2).max }
    val expected = batch.filter(r => lastClosed.get(r._1).exists(r._2 <= _)).toSet
    assert(streamed === expected)
    assert(streamed.nonEmpty && streamed.exists(!_._4),
      "fixture must exercise interpolated (unobserved) rows")
    // every emitted row is final (no revisions in the update log)
    val dup = spark.table("lin_stream").groupBy("series", "h")
      .count().filter(col("count") > 1).count()
    assert(dup === 0L)
  }
  test("maintained score histogram serves the exact batch AUC") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_scorehist").toString
    val ckpt = Files.createTempDirectory("graft_scorehist_ck").toString
    val path = s"$dir/log"
    val sf = TestSession.sf
    val docsDf = Tables.documents(spark, sf)
    // production shape: train ONCE on the corpus, freeze the weights,
    // then monitor every increment's score distribution against them
    val (traj, _) = graft.ops.TextAnalysis.classifierTrajectory(
      docsDf, col("doc_id"), col("text"), col("lang") === "en", 3)
    val w = traj(3)
    val all = docsDf.select(col("doc_id"), col("text"), col("lang"))
      .as[DocL].collect().toSeq
    val input = MemoryStream[DocL]
    all.grouped(math.max(1, all.size / 3)).foreach { chunk =>
      input.addData(chunk: _*)
      val q = Monitor.maintainScoreHist(input.toDF(), col("doc_id"),
        col("text"), col("lang") === "en", w, path, s"$ckpt/c1")
      try q.awaitTermination(120000) finally q.stop()
    }
    // merged histogram == the batch margin histogram, bit for bit
    val hist = Monitor.readScoreHist(spark, path).orderBy("margin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val direct = graft.ops.TextAnalysis.classifierScore(docsDf,
        col("doc_id"), col("text"), col("lang") === "en").groupBy(col("margin"))
      .agg(sum(when(col("y") === 1L, 1L).otherwise(0L)).as("p"),
        sum(when(col("y") === 1L, 0L).otherwise(1L)).as("q"))
      .orderBy("margin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(hist === direct && hist.nonEmpty)
    // the served AUC equals the batch classifierAuc row exactly
    val served = Monitor.scoreHistAuc(spark, path).collect()(0)
    val batch = graft.ops.TextAnalysis.classifierAuc(docsDf,
      col("doc_id"), col("text"), col("lang") === "en").collect()(0)
    assert(served.getLong(0) === batch.getLong(0))
    assert(served.getLong(1) === batch.getLong(1))
    assert(served.getLong(2) === batch.getLong(2))
    assert(served.getAs[Long]("auc_micro") === batch.getAs[Long]("auc_micro"))
    // the served ROC table is also bit-equal (margin-granular epilogue)
    def rocRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("margin"), r.getAs[Long]("tp"),
        r.getAs[Long]("fp"), r.getAs[Long]("tpr_micro"),
        r.getAs[Long]("fpr_micro"))).toSeq
    val servedRoc = rocRows(Monitor.scoreHistRoc(spark, path))
    val batchRoc = rocRows(graft.ops.TextAnalysis.classifierRoc(docsDf,
      col("doc_id"), col("text"), col("lang") === "en"))
    assert(servedRoc === batchRoc && servedRoc.nonEmpty)
  }
  test("maintained engagement log serves the exact batch stickiness") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_engage").toString
    val ckpt = Files.createTempDirectory("graft_engage_ck").toString
    val path = s"$dir/log"
    val all = sampleEvents
    val input = MemoryStream[Ev]
    all.grouped(40).foreach { chunk =>
      input.addData(chunk: _*)
      val q = Monitor.maintainEngagement(input.toDF(), path, s"$ckpt/c1")
      try q.awaitTermination(120000) finally q.stop()
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("month_idx"), r.getAs[Long]("days"),
        r.getAs[Long]("mau"), r.getAs[Long]("dau_sum"),
        r.getAs[Long]("stickiness_permille"))).toSeq
    val served = rows(Monitor.readStickiness(spark, path))
    val batch = rows(graft.ops.Analytics.stickinessFromUserDays(
      graft.ops.Analytics.userDays(all.toDF())))
    assert(served === batch && served.nonEmpty)
    // the merged projection is duplicate-free (distinct is idempotent
    // across batch splits and replays)
    val ud = Monitor.readEngagement(spark, path)
    assert(ud.count() === ud.distinct().count())
  }
}
