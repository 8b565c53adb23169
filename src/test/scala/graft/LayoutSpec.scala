package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Graft
import graft.store.Layout
import graft.streaming.Monitor

/** Physical-layout checks: bucketed joins avoid shuffles, partitioned
  * writes prune, salted joins preserve results while spreading hot keys.
  */
class LayoutSpec extends AnyFunSuite {
  import TestSession._

  test("bucketed tables join without a shuffle exchange") {
    val ev = Tables.events(spark, sf).select("event_id", "user_id", "value")
    spark.sql("DROP TABLE IF EXISTS ev_bucketed_a")
    spark.sql("DROP TABLE IF EXISTS ev_bucketed_b")
    Layout.writeBucketed(ev, "ev_bucketed_a", "event_id", 4)
    Layout.writeBucketed(ev.withColumnRenamed("value", "value2"), "ev_bucketed_b", "event_id", 4)
    val joined = spark.table("ev_bucketed_a").join(spark.table("ev_bucketed_b"), "event_id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n$plan")
    assert(joined.count() === ev.count())
  }

  test("partitioned write prunes scoped reads to one directory") {
    val out = Files.createTempDirectory("graft_part").toString
    Layout.writePartitioned(
      Tables.events(spark, sf).select(col("event_id"), col("user_id"), col("event_type")),
      out, "user_id")
    val scoped = spark.read.parquet(out).filter(col("user_id") === 7)
    val scan = scoped.queryExecution.executedPlan.toString
    assert(scoped.count() > 0)
    // the filter must become a partition (directory) filter, not a data filter
    assert(scan.contains("PartitionFilters") && scan.contains("(user_id#") &&
      scan.contains("= 7)"), s"expected partition pruning in plan:\n$scan")
  }

  test("retention expiry drops only pre-cutoff partitions, idempotently") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_ttl").toString
    val rows = Seq(("2024-01-01", 1L), ("2024-01-02", 2L),
      ("2024-02-10", 3L), ("2024-03-05", 4L)).toDF("day", "v")
    Layout.writePartitioned(rows, out, "day")
    val dropped = Layout.expirePartitions(spark, out, "day", "2024-02-01")
    assert(dropped === Seq("2024-01-01", "2024-01-02"))
    val left = spark.read.parquet(out).select("v").collect().map(_.getLong(0)).toSet
    assert(left === Set(3L, 4L))
    // idempotent: nothing left below the cutoff
    assert(Layout.expirePartitions(spark, out, "day", "2024-02-01") === Seq.empty)
    // the boundary partition itself is KEPT (strictly-below semantics)
    assert(Layout.expirePartitions(spark, out, "day", "2024-02-10") === Seq.empty)
    assert(Layout.expirePartitions(spark, out, "day", "2024-02-11") === Seq("2024-02-10"))
  }

  /** Per-row-group [min, max] span of an INT64 column across all parquet
    * files under `dir` — read straight from the footers.
    */
  private def rowGroupSpans(dir: String, column: String): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
    files.toSeq.flatMap { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath),
        new org.apache.hadoop.conf.Configuration())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getFooter.getBlocks.asScala.toSeq.map { b =>
        val c = b.getColumns.asScala.find(_.getPath.toDotString == column).get
        val st = c.getStatistics
        st.genericGetMax.asInstanceOf[Long] - st.genericGetMin.asInstanceOf[Long]
      } finally r.close()
    }
  }

  test("z-order rows groups bound BOTH clustered columns; linear sort only one") {
    import graft.model.Documents
    val base = Tables.events(spark, "/root/testdata/sf0.01")
      .select(col("user_id"), Documents.tsSec(col("ts")).as("ts_sec"), col("value"))
    val tmp = Files.createTempDirectory("graft_z").toString
    val small = Map("parquet.block.size" -> "16384") // more row groups → finer skipping
    Layout.writeZOrdered(base, s"$tmp/z", Seq("user_id", "ts_sec"), bits = 16, options = small)
    base.repartitionByRange(4, col("ts_sec")).sortWithinPartitions("ts_sec")
      .write.options(small).mode("overwrite").parquet(s"$tmp/linear")

    // identical content
    assert(spark.read.parquet(s"$tmp/z").count() === base.count())

    def avg(xs: Seq[Long]): Double = xs.sum.toDouble / xs.size
    val zUser = rowGroupSpans(s"$tmp/z", "user_id")
    val lUser = rowGroupSpans(s"$tmp/linear", "user_id")
    assert(zUser.size > 4, s"expected several row groups, got ${zUser.size}")
    // the ts-sorted layout leaves user_id unclustered: every row group
    // spans ~the whole user domain. Z-order must tighten it sharply.
    assert(avg(zUser) < avg(lUser) * 0.5,
      s"z-order user_id span ${avg(zUser)} vs linear ${avg(lUser)}")

    // and the time dimension stays useful for skipping too: row groups
    // cover a fraction of the whole span, not all of it
    val zTs = rowGroupSpans(s"$tmp/z", "ts_sec")
    val fullTs = base.agg(max("ts_sec").cast("long") - min("ts_sec").cast("long"))
      .collect()(0).getLong(0)
    assert(avg(zTs) < fullTs * 0.75, s"z-order ts span ${avg(zTs)} vs full $fullTs")
  }

  test("z-order survives nanosecond-wide spans (no long overflow under ANSI)") {
    // span ≈ 30 days in nanos (2.6e15) — the exact-long scaling path would
    // overflow (span * 65535 >> Long.Max) and ANSI mode fails the write.
    val dayNs = 86400L * 1000000000L
    val base = spark.range(0, 20000).selectExpr(
      s"id * ${30 * dayNs / 20000} + 1500000000000000000 as ts_ns",
      "cast(id % 97 as long) as user_id",
      "id as v")
    val tmp = Files.createTempDirectory("graft_znano").toString
    val small = Map("parquet.block.size" -> "16384")
    Layout.writeZOrdered(base, s"$tmp/z", Seq("ts_ns", "user_id"), bits = 16, options = small)
    assert(spark.read.parquet(s"$tmp/z").count() === 20000)
    // still clustered on the wide dimension: row groups span a fraction
    val zTs = rowGroupSpans(s"$tmp/z", "ts_ns")
    assert(zTs.size > 4, s"expected several row groups, got ${zTs.size}")
    assert(zTs.max < 30 * dayNs, "row groups must not each span the whole ts domain")
  }

  test("compact merges small files within partitions, preserving rows") {
    val out = Files.createTempDirectory("graft_compact").toString
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("user_id"), col("event_type"))
      .withColumn("bucket", (col("user_id") % 2).cast("int"))
    // 40 tiny files spread over 2 partition directories
    ev.repartition(20).write.partitionBy("bucket").mode("overwrite").parquet(out)
    def dataFiles() = graft.store.FooterStats.listDataFiles(spark, out)
    val before = dataFiles().size
    assert(before >= 30, s"expected many small files, got $before")
    val stats = Layout.compact(spark, out, targetBytes = 512L << 20)
    assert(stats.groups === 2 && stats.filesIn === before)
    val after = dataFiles()
    assert(after.size === stats.filesOut && after.size <= 2,
      s"expected one file per partition dir, got ${after.size}")
    // partition directories intact, content identical
    val back = spark.read.parquet(out)
    assert(back.count() === ev.count())
    assert(back.select("bucket").distinct().count() === 2)
    assert(back.agg(sum("event_id")).collect()(0).getLong(0) ===
      ev.agg(sum("event_id")).collect()(0).getLong(0))
    // idempotent: a second run finds nothing to do
    val again = Layout.compact(spark, out, targetBytes = 512L << 20)
    assert(again.filesIn === 0 && again.filesOut === 0)
  }

  /** A `Monitor.capture` store of `batches` micro-batches, each writing
    * two files into each of two session directories.
    */
  private def captureStore(batches: Int): String = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = Files.createTempDirectory("graft_compact_sink").toString
    val input = MemoryStream[(Long, Long)]
    (0 until batches).foreach { b =>
      // two blocks are two input partitions: one file per block per session
      input.addData((0 until 4).map(i => (b * 100L + i, i % 2L)))
      input.addData((4 until 8).map(i => (b * 100L + i, i % 2L)))
      Monitor.capture(input.toDF(), col("_1"), col("_2"), col("_1"),
        s"$root/store", s"$root/chk").awaitTermination()
    }
    s"$root/store"
  }

  private def refusesCaptureStore(batches: Int): Unit = {
    val store = captureStore(batches)
    def allFiles(): Set[(String, Long, Long)] = {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(java.nio.file.Paths.get(store))
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => (f.toString, Files.size(f), Files.getLastModifiedTime(f).toMillis)).toSet
      finally walk.close()
    }
    val before = allFiles()
    assert(before.count(f => f._1.contains("session=0") && f._1.endsWith(".parquet")) === 2 * batches)
    assert(before.count(_._1.contains("_spark_metadata")) >= batches)
    assert(Graft.load(spark, store).count() === 8 * batches)
    val e = intercept[IllegalArgumentException](Layout.compact(spark, store, targetBytes = 512L << 20))
    assert(e.getMessage.contains("_spark_metadata"))
    assert(allFiles() === before)
    assert(Graft.load(spark, store).count() === 8 * batches)
    assert(spark.read.parquet(store).count() === 8 * batches)
  }

  test("compact refuses a one-batch capture store, whose sink log would name deleted files") {
    refusesCaptureStore(1)
  }

  test("compact refuses a three-batch capture store before touching a file") {
    refusesCaptureStore(3)
  }

  test("bloom-filter write: footers carry filters that answer membership") {
    import scala.jdk.CollectionConverters._
    val out = Files.createTempDirectory("graft_bloom").toString + "/t"
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("user_id"), col("value"))
    Layout.writeWithBloom(ev, out, Seq("event_id"), ndv = 10000L)
    val files = new java.io.File(out).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
    assert(files.nonEmpty)
    val present = ev.agg(min("event_id")).collect()(0).getLong(0)
    var checkedPresent = false
    files.foreach { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath),
        new org.apache.hadoop.conf.Configuration())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getFooter.getBlocks.asScala.foreach { block =>
        val cd = block.getColumns.asScala.find(_.getPath.toDotString == "event_id").get
        val bloom = r.getBloomFilterDataReader(block).readBloomFilter(cd)
        assert(bloom != null, "event_id must carry a bloom filter")
        // a value present in SOME file must be claimed by THAT file's filter;
        // an absent probe must (overwhelmingly) be rejected
        if (bloom.findHash(bloom.hash(Long.box(present)))) checkedPresent = true
        assert(!bloom.findHash(bloom.hash(Long.box(-987654321098765L))),
          "absent key should not hit the filter")
      } finally r.close()
    }
    assert(checkedPresent, "the present key must hit at least one file's filter")
  }

  test("shard write lays one directory per shard and the disk manifest matches") {
    val docs = Tables.documents(spark, sf)
    val dir = Files.createTempDirectory("graft_shards").toString
    val manifest = Layout.writeShards(docs, dir, "doc_id",
      ceil(col("n_chars") / 4.0), 2048L, 4)
      .collect().map(_.toSeq).toSeq
    // the directory layout is the claim unit: one partition dir per shard
    val dirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("shard_id=")).map(_.getName).sorted
    assert(dirs.toSeq === (0 until 4).map(s => s"shard_id=$s"))
    // the from-disk audit equals the direct manifest computation
    val direct = graft.ops.TextAnalysis.shardManifest(docs, "doc_id",
        ceil(col("n_chars") / 4.0), 2048L, 4)
      .collect().map(_.toSeq).toSeq
    assert(manifest === direct && manifest.nonEmpty)
    // every document landed exactly once across the shard dirs
    assert(spark.read.parquet(dir).count() === docs.count())
  }

  test("bulk cell-index build routes every vector once and probes prune") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val (cents, _) =
      graft.ops.Similarity.kmeansFixedPointCentroids(emb, 8, iters = 0)
    val dir = Files.createTempDirectory("graft_cellidx").toString
    Layout.writeCellIndex(emb, cents, s"$dir/idx")
    // content == the batch assignment, every vector exactly once
    val idx = graft.streaming.Monitor.readLog(spark, s"$dir/idx")
      .select(col("vec_id"), col("cell")).collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue)).toMap
    val direct = graft.ops.Similarity.assignToCentroids(emb, cents)
      .select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(idx === direct && idx.nonEmpty)
    // probes off the bulk layout partition-prune exactly like the
    // stream-maintained one
    val hot = idx.values.groupBy(identity).maxBy(_._2.size)._1
    val probe = graft.streaming.Monitor.probeCells(spark, s"$dir/idx", Seq(hot))
    val pf = probe.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("PartitionFilters: ["))
    assert(pf.exists(_.contains("cell")), s"no cell partition filter: $pf")
    assert(probe.collect().map(_.getAs[Long]("vec_id")).toSet ===
      idx.collect { case (id, c) if c == hot => id }.toSet)
  }

  test("salted join equals the plain join") {
    val ev = Tables.events(spark, sf).select("event_id", "user_id", "event_type")
    val dim = Tables.customer(spark, sf).select(col("c_custkey").as("user_id"), col("c_name"))
    val plain = ev.join(dim, "user_id")
    val salted = Layout.saltedJoin(ev, dim, "user_id", "event_id", 8)
    assert(salted.count() === plain.count())
    val a = plain.select("event_id", "c_name").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val b = salted.select("event_id", "c_name").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a === b)
  }
}
