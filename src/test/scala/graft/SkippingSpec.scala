package graft

import java.nio.file.{Files, Paths}
import java.sql.{Date, Timestamp}

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Graft
import graft.ops.OpCache
import graft.store.{ByteLru, CachedParquetFileFormat, DocumentStore, FooterStats, SkippingFileIndex}

case class SkipDoc(id: Long, session: Long, ts: Timestamp, topic: String)
case class CacheDoc(id: Long, session: Long, ts: Timestamp, topic: String, value: Double,
                    data: Option[String])

/** File skipping from parquet footer min/max (store.SkippingFileIndex):
  * pruned scans return exactly what unpruned scans return, and skip
  * files only on integral comparisons. A loaded store within the driver
  * budget reads through the decoded-file cache
  * (store.CachedParquetFileFormat), which returns exactly what Spark's
  * uncached reader returns.
  */
class SkippingSpec extends AnyFunSuite {
  import TestSession._

  /** Every node of `df`'s physical plan, top down, through adaptive plans. */
  private def nodes(df: DataFrame): Seq[SparkPlan] = {
    def plans(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => plans(a.executedPlan)
      case other => other +: other.children.flatMap(plans)
    }
    plans(df.queryExecution.executedPlan)
  }

  /** Runs `df` and returns how many files its scans read. */
  private def filesScanned(df: DataFrame): Long = {
    df.collect()
    nodes(df).collect { case s: FileSourceScanExec => s.metrics("numFiles").value }.sum
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).toSeq.sorted

  // ---- a multi-file store with nulls, an all-null column and a file that
  // lacks a column; timestamps written as INT64 micros so they can prune

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("k", IntegerType), StructField("n", LongType),
    StructField("d", DateType), StructField("t", TimestampType),
    StructField("x", DoubleType), StructField("s", StringType)))

  /** Rows `lo until hi` as one file of `dir`: `k` null on every fifth row,
    * `n` all null unless `withN`, no `k` column at all unless `withK`.
    */
  private def writeFile(dir: String, lo: Long, hi: Long, withK: Boolean, withN: Boolean): Unit = {
    val writer = spark.newSession()
    writer.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val df = writer.range(lo, hi).toDF("id")
      .withColumn("k", when(col("id") % 5 =!= 0, (col("id") / 3).cast("int")))
      .withColumn("n", if (withN) col("id") else lit(null).cast("long"))
      .withColumn("d", date_add(lit(Date.valueOf("2024-01-01")), col("id").cast("int")))
      .withColumn("t", timestamp_seconds(lit(1700000000L) + col("id") * 60))
      .withColumn("x", col("id") * 0.5)
      .withColumn("s", concat(lit("s"), col("id").cast("string")))
    (if (withK) df else df.drop("k")).coalesce(1).write.mode("append").parquet(dir)
  }

  /** Three files: ids 0-49 with `n` all null, 50-99 without `k`, 100-149. */
  private lazy val multi: String = {
    val dir = Files.createTempDirectory("graft_skip").toString + "/store"
    writeFile(dir, 0, 50, withK = true, withN = false)
    writeFile(dir, 50, 100, withK = false, withN = true)
    writeFile(dir, 100, 150, withK = true, withN = true)
    dir
  }

  private def raw = spark.read.schema(schema).parquet(multi)

  private def randomPredicate(r: Random, depth: Int): Column =
    if (depth == 0 || r.nextInt(3) == 0) {
      // half the literals sit on or next to a file's first or last id
      val v =
        if (r.nextBoolean()) r.nextInt(220) - 10
        else Seq(0, 49, 50, 99, 100, 149, 150, 199)(r.nextInt(8)) + r.nextInt(3) - 1
      val (c, x, y) = r.nextInt(5) match {
        case 0 => (col("id"), lit(v.toLong), lit(v + 40))
        case 1 => (col("k"), lit(v / 3), lit(v.toLong / 3 + 9))
        case 2 => (col("n"), lit(v.toLong), lit(v + 70L))
        case 3 => (col("d"), lit(Date.valueOf("2024-01-01").toLocalDate.plusDays(v)),
          lit(Date.valueOf("2024-01-01").toLocalDate.plusDays(v + 30)))
        case _ => (col("t"), lit(new Timestamp((1700000000L + v * 60L) * 1000)),
          lit(new Timestamp((1700000000L + (v + 50) * 60L) * 1000)))
      }
      r.nextInt(6) match {
        case 0 => c === x
        case 1 => c < x
        case 2 => c <= x
        case 3 => c > x
        case 4 => c >= x
        case _ => c.isin(x, y)
      }
    } else if (r.nextBoolean()) randomPredicate(r, depth - 1) && randomPredicate(r, depth - 1)
    else randomPredicate(r, depth - 1) || randomPredicate(r, depth - 1)

  test("random integral predicates return the same rows pruned as unpruned") {
    val r = new Random(20261017)
    var scannedRaw, scannedPruned = 0L
    def check(n: Int): Unit = (0 until n).foreach { i =>
      val p = randomPredicate(r, 2)
      val pruned = SkippingFileIndex.wrap(raw).filter(p)
      assert(ids(pruned) === ids(raw.filter(p)), s"predicate #$i: $p")
      scannedRaw += filesScanned(raw.filter(p))
      scannedPruned += filesScanned(pruned)
    }
    check(20)
    // a file appended once the cache is warm is read and judged too
    writeFile(multi, 150, 200, withK = true, withN = true)
    check(16)
    assert(filesScanned(SkippingFileIndex.wrap(raw).filter(col("id") === 170L)) === 1)
    assert(scannedPruned < scannedRaw, s"$scannedPruned files vs $scannedRaw unpruned")
  }

  test("float and string predicates prune nothing") {
    val all = filesScanned(raw)
    Seq(col("x") > 1e12, col("x") === 3.0, col("x").isNaN, col("s") === "nope",
        col("s") < "a").foreach { p =>
      val pruned = SkippingFileIndex.wrap(raw).filter(p)
      assert(filesScanned(pruned) === all, s"$p")
      assert(ids(pruned) === ids(raw.filter(p)), s"$p")
    }
  }

  // ---- a Monitor.capture store: 20 sessions of 10 documents, one file each

  private lazy val captured: String = {
    val base = 1700000000000L
    capture((0 until 200).map(i =>
      SkipDoc(i.toLong, i / 10L, new Timestamp(base + i * 1000L), if (i % 2 == 0) "imu" else "scan")))
  }

  /** `docs` captured by `Monitor.capture` into a new store, one file per session. */
  private def capture[T <: Product : scala.reflect.runtime.universe.TypeTag](docs: Seq[T]): String = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[T]
    input.addData(docs: _*)
    val root = Files.createTempDirectory("graft_skip_capture").toString
    val q = graft.streaming.Monitor.capture(input.toDF(), col("id"), col("session"), col("ts"),
      s"$root/store", s"$root/chk")
    try q.processAllAvailable() finally q.stop()
    s"$root/store"
  }

  test("findById on a 20-session capture store scans 1 file") {
    val docs = Graft.load(spark, captured)
    assert(filesScanned(docs) === 20)
    val hit = DocumentStore.findById(docs, "_id", 137L)
    assert(filesScanned(hit) === 1)
    assert(hit.collect().map(r => (r.getAs[Long]("_id"), r.getAs[Int]("session"))).toSeq ===
      Seq((137L, 13)))
    assert(DocumentStore.findById(docs, "_id", 999L).count() === 0)
  }

  test("countEstimate counts only the files a capture store's sink log committed") {
    val dir = Paths.get(captured, "session=3")
    val data = Files.list(dir).filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
    // a file a failed batch could leave behind: present, but not in the log
    Files.copy(data, dir.resolve("part-99999-orphan.c000.snappy.parquet"))
    assert(DocumentStore.countEstimate(spark, captured) === 200)
    assert(Graft.load(spark, captured).count() === 200)
    assert(DocumentStore.countEstimate(spark, captured + "-missing") === 0)
  }

  test("a load with no comparison filter starts no footer job") {
    val dir = Files.createTempDirectory("graft_skip_jobs").toString + "/t"
    spark.range(0, 40, 1, 4).withColumn("v", col("id") * 0.5)
      .withColumn("s", col("id").cast("string")).write.parquet(dir)
    val jobs = FooterStats.jobs.get
    val df = Graft.load(spark, dir)
    df.count()
    df.filter(col("id").isNotNull).count()
    df.filter(col("v") > 3.0 && col("s") === "7").count()
    df.filter(col("id") > 3L || col("v") < 1.0).count()
    assert(FooterStats.jobs.get === jobs, "no integral comparison, no footer read")
    assert(filesScanned(df.filter(col("id") === 5L)) === 1)
    assert(FooterStats.jobs.get === jobs + 1, "one job reads every footer")
    assert(filesScanned(Graft.load(spark, dir).filter(col("id") >= 30L)) === 1)
    assert(FooterStats.jobs.get === jobs + 1, "a later load reuses the cached footers")
  }

  test("ByteLru stays inside its byte bound, dropping the least recently used first") {
    val lru = new ByteLru[Int, String](100, (_, v) => v.length.toLong)
    (0 until 5).foreach(i => lru.put(i, "x" * 20))
    assert((lru.size, lru.bytes) === ((5, 100L)))
    assert(lru.get(0).isDefined) // 0 is now the most recently used
    lru.put(5, "y" * 30)
    assert((1 to 2).map(lru.get) === Seq(None, None), "the two least recently used go")
    assert(Seq(0, 3, 4, 5).forall(lru.get(_).isDefined))
    assert(lru.bytes === 90L)
    lru.put(6, "z" * 101)
    assert(lru.get(6).isEmpty && lru.bytes === 90L, "an entry heavier than the budget is never kept")
    // a share of the keys may take the whole budget, never more
    assert(!lru.putWithin(7, "w" * 60, k => k == 0 || k == 5))
    assert(lru.get(7).isEmpty && lru.bytes === 90L)
    assert(lru.putWithin(7, "w" * 50, k => k == 0 || k == 5))
    assert(lru.bytes <= 100L && lru.get(7).isDefined)
    assert(lru.weighed(k => k == 0 || k == 5 || k == 7) === 100L, "only the other entries made room")
  }

  test("the footer cache prunes each of many stores exactly, within its byte bound") {
    def store(i: Int): String = {
      val dir = Files.createTempDirectory("graft_skip_lru").toString + "/t"
      spark.range(i * 1000L, i * 1000L + 30, 1, 3).write.parquet(dir)
      dir
    }
    def prunes(dir: String, i: Int): Boolean = {
      val hit = Graft.load(spark, dir).filter(col("id") === i * 1000L + 17)
      filesScanned(hit) == 1 && ids(hit) == Seq(i * 1000L + 17)
    }
    (0 until 9).foreach { i =>
      val dir = store(i)
      val jobs = FooterStats.jobs.get
      assert(prunes(dir, i), s"store $i")
      assert(FooterStats.jobs.get === jobs + 1, s"store $i: one job reads its footers")
      assert(prunes(dir, i))
      assert(FooterStats.jobs.get === jobs + 1, s"store $i: its footers are cached")
      assert(SkippingFileIndex.footers.bytes <= OpCache.DriverBytes)
    }
  }

  // ---- the decoded-file cache of a loaded store

  /** 12 sessions of 40 documents, one file per session; some payloads null. */
  private lazy val docStore: String = {
    val topics = Seq("imu", "scan", "odom")
    capture((0 until 480).map { i =>
      CacheDoc(i.toLong, i / 40L, new Timestamp(1700000000000L + i * 37000L), topics(i % 3),
        (i * 7919 % 1000) / 10.0, if (i % 11 == 0) None else Some("x" * (i % 50)))
    })
  }

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** The file formats `df` scans with, and a `ColumnarToRow` where Spark reads batches. */
  private def uses(df: DataFrame): Seq[String] = nodes(df).collect {
    case s: FileSourceScanExec => s.relation.fileFormat.getClass.getSimpleName
    case _: ColumnarToRowExec => "ColumnarToRow"
  }

  test("a loaded store's split is read from disk twice, then from the cache") {
    // a new frame per scan: re-collecting one frame would reuse its shuffle
    def load() = Graft.load(spark, docStore)
    def scan() = load().agg(sum("value"), count(col("data")), max("ts")).collect().toSeq
    def counts = (CachedParquetFileFormat.hits.get, CachedParquetFileFormat.misses.get)
    assert(uses(load()) === Seq("ColumnarToRow", "CachedParquetFileFormat"),
      "a store the cache knows nothing of is read as Spark reads it")
    val (h0, m0) = counts
    val bytes = CachedParquetFileFormat.cachedBytes
    val first = scan()
    assert(counts === ((h0, m0 + 12)), "the first scan reads each of the 12 files")
    assert(CachedParquetFileFormat.cachedBytes - bytes < 12 * 1024, "a file read once keeps only a marker")
    assert(uses(load()) === Seq("CachedParquetFileFormat"), "a later load reads rows through the cache")
    assert(scan() === first)
    assert(counts === ((h0, m0 + 24)), "the second scan reads each file again, into the cache")
    assert(CachedParquetFileFormat.cachedBytes - bytes > 12 * 1024)
    assert(scan() === first)
    assert(load().select("topic", "session").distinct().count() === 36)
    assert(counts === ((h0 + 24, m0 + 24)), "a cached split was read from disk again")
  }

  test("a store above the budget plans Spark's columnar uncached scan") {
    // the gate reads only the listed size: a sparse file just over the
    // budget makes a store above it without writing 32 MB
    val dir = Files.createTempDirectory("graft_skip_big").toString
    val f = new java.io.RandomAccessFile(s"$dir/part-00000.parquet", "rw")
    try f.setLength(OpCache.DriverBytes + 1) finally f.close()
    val big = SkippingFileIndex.wrap(spark.read.schema("id LONG, v DOUBLE").parquet(dir))
    assert(uses(big.filter(col("v") > 1.0)) === Seq("ColumnarToRow", "ParquetFileFormat"))
    Graft.load(spark, docStore).count() // read once: later loads read rows through the cache
    assert(uses(Graft.load(spark, docStore).filter(col("value") > 1.0)) === Seq("CachedParquetFileFormat"))
  }

  test("cached reads equal spark.read.parquet for the store ops, projections and partition filters") {
    val raw = spark.read.parquet(docStore)
    // first read, fill, cached read
    def both(name: String)(op: DataFrame => DataFrame): Unit = (1 to 3).foreach { pass =>
      assert(sorted(op(Graft.load(spark, docStore))) === sorted(op(raw)), s"$name, pass $pass")
    }
    both("findById")(DocumentStore.findById(_, "_id", 123L))
    both("findBySession")(DocumentStore.findBySession(_, "session", 7L))
    both("countDocuments")(DocumentStore.countDocuments(_, Some(col("topic") === "imu" && col("value") > 40.0)))
    both("uniqueSessions")(DocumentStore.uniqueSessions(_, "session", "ts"))
    both("findWithMeta")(DocumentStore.findWithMeta(_,
      col("sys_time_sec") >= 1700003000L && col("sys_time_sec") < 1700009000L, Seq("topic", "value")))
    both("sortLimit")(df => DocumentStore.sortLimit(df.select("_id", "value"), Seq(col("value").desc, col("_id")), 17))
    both("latestSnapshot")(DocumentStore.latestSnapshot(_, col("topic"), col("sys_time_sec"), col("_id"))
      .select("topic", "_id"))
    both("monitorRates")(DocumentStore.monitorRates(_, col("topic"), col("ts"), col("data"), "hour"))
    val r = new Random(20261019)
    val columns = raw.columns.toSeq
    (0 until 12).foreach { i =>
      val picked = r.shuffle(columns).take(1 + r.nextInt(columns.size))
      val s = r.nextInt(12).toLong
      val partFilter = r.nextInt(3) match {
        case 0 => col("session") === s
        case 1 => col("session") < s
        case _ => col("session").isin(s, (s + 5) % 12)
      }
      val dataFilter = if (r.nextBoolean()) col("data").isNull || col("value") < r.nextInt(100) else lit(true)
      both(s"projection #$i ${picked.mkString(",")}")(_.filter(partFilter && dataFilter).select(picked.map(col): _*))
    }
  }

  test("file metadata columns read the same through the cached format") {
    val raw = spark.read.parquet(docStore)
    Seq(Seq("_id", "_metadata.file_path", "_metadata.file_size"),
        Seq("_id", "session", "_metadata.row_index")).foreach { cs =>
      (1 to 3).foreach { _ =>
        assert(sorted(Graft.load(spark, docStore).select(cs.map(col): _*)) ===
          sorted(raw.select(cs.map(col): _*)), cs.mkString(","))
      }
    }
  }

  test("a LIMIT that stops mid-file caches nothing") {
    val dir = Files.createTempDirectory("graft_skip_limit").toString + "/t"
    spark.range(0, 5000, 1, 1).withColumn("s", col("id").cast("string")).write.parquet(dir)
    def total() = Graft.load(spark, dir).agg(sum("id")).head().getLong(0)
    assert(total() === 4999L * 5000 / 2)
    // the file's second read: it would fill the cache if it ran to the end
    assert(sorted(Graft.load(spark, dir).limit(10)) === sorted(spark.read.parquet(dir).limit(10)))
    val misses = CachedParquetFileFormat.misses.get
    assert(total() === 4999L * 5000 / 2)
    assert(CachedParquetFileFormat.misses.get === misses + 1, "the partly read file was cached")
    assert(total() === 4999L * 5000 / 2)
    assert(CachedParquetFileFormat.misses.get === misses + 1, "the wholly read file was not cached")
  }

  test("a file rewritten at the same path is read fresh") {
    val store = Files.createTempDirectory("graft_skip_rewrite")
    /** Rows `lo until lo + n` as one new parquet file. */
    def part(lo: Long, n: Long): java.nio.file.Path = {
      val at = Files.createTempDirectory("graft_skip_part").toString + "/t"
      spark.range(lo, lo + n, 1, 1).withColumn("s", col("id").cast("string")).write.parquet(at)
      Files.list(Paths.get(at)).filter(_.toString.endsWith(".parquet")).findFirst().get
    }
    Files.copy(part(0, 100), store.resolve("a.parquet"))
    val target = store.resolve("b.parquet")
    Files.copy(part(100, 100), target)
    def check(): Unit = (1 to 3).foreach { _ =>
      assert(sorted(Graft.load(spark, store.toString)) === sorted(spark.read.parquet(store.toString)))
    }
    check()
    val mtime = Files.getLastModifiedTime(target).toMillis
    // same row count, other values: a new mtime, likely the same length
    Files.copy(part(500, 100), target, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    target.toFile.setLastModified(mtime + 5000)
    check()
    // more rows: a new length
    Files.copy(part(900, 300), target, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    target.toFile.setLastModified(mtime + 5000)
    check()
    assert(Graft.load(spark, store.toString).count() === 400)
  }

  test("a corrupt file under ignoreCorruptFiles reads as uncached and is not cached") {
    val dir = Files.createTempDirectory("graft_skip_corrupt").toString + "/t"
    spark.range(0, 60, 1, 3).withColumn("s", col("id").cast("string")).write.parquet(dir)
    Files.write(Paths.get(dir, "part-99999-corrupt.parquet"), Array.fill[Byte](300)(7))
    OpCache.withConf(spark, "spark.sql.files.ignoreCorruptFiles", "true") {
      val (hits, misses, bytes) = (CachedParquetFileFormat.hits.get, CachedParquetFileFormat.misses.get,
        CachedParquetFileFormat.cachedBytes)
      (1 to 2).foreach { _ =>
        assert(sorted(Graft.load(spark, dir)) === sorted(spark.read.parquet(dir)))
        assert(Graft.load(spark, dir).count() === 60)
      }
      assert((CachedParquetFileFormat.hits.get, CachedParquetFileFormat.misses.get) === ((hits, misses)))
      assert(CachedParquetFileFormat.cachedBytes === bytes)
    }
  }

  test("a store whose decoded rows outgrow the cache never evicts its own splits") {
    // 8 files of 75 000 rows: ~5 MB each decoded (a 40-character string a
    // row), ~41 MB in all, but well under the budget on disk
    val dir = Files.createTempDirectory("graft_skip_outgrow").toString + "/t"
    spark.range(0, 600000, 1, 8).withColumn("s", lit("x" * 40)).write.parquet(dir)
    val want = 599999L * 600000 / 2
    def scan(df: DataFrame): Long = df.agg(sum("id")).head().getLong(0)
    assert(scan(Graft.load(spark, dir)) === want)
    val df = Graft.load(spark, dir)
    assert(uses(df) === Seq("CachedParquetFileFormat"))
    assert(scan(df) === want)
    assert(CachedParquetFileFormat.cachedBytes <= OpCache.DriverBytes)
    // the splits that fitted stay; the others are read from disk, unfilled
    (1 to 2).foreach { _ =>
      val (h, m) = (CachedParquetFileFormat.hits.get, CachedParquetFileFormat.misses.get)
      assert(scan(df) === want)
      val (hits, misses) = (CachedParquetFileFormat.hits.get - h, CachedParquetFileFormat.misses.get - m)
      assert(hits + misses === 8 && hits >= 4 && misses >= 1, s"$hits hits, $misses misses")
    }
    assert(uses(Graft.load(spark, dir)) === Seq("ColumnarToRow", "ParquetFileFormat"),
      "a later load of the outgrown store keeps Spark's columnar scan")
  }
}
