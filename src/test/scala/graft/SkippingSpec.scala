package graft

import java.nio.file.{Files, Paths}
import java.sql.{Date, Timestamp}

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Graft
import graft.store.{DocumentStore, FooterStats, SkippingFileIndex}

case class SkipDoc(id: Long, session: Long, ts: Timestamp, topic: String)

/** File skipping from parquet footer min/max (store.SkippingFileIndex):
  * pruned scans return exactly what unpruned scans return, and skip
  * files only on integral comparisons.
  */
class SkippingSpec extends AnyFunSuite {
  import TestSession._

  /** Runs `df` and returns how many files its scans read. */
  private def filesScanned(df: DataFrame): Long = {
    df.collect()
    def plans(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => plans(a.executedPlan)
      case other => other +: other.children.flatMap(plans)
    }
    plans(df.queryExecution.executedPlan).collect {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }.sum
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
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = 1700000000000L
    val input = MemoryStream[SkipDoc]
    input.addData((0 until 200).map(i =>
      SkipDoc(i.toLong, i / 10L, new Timestamp(base + i * 1000L), if (i % 2 == 0) "imu" else "scan")): _*)
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
}
