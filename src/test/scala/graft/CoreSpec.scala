package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Run `f` with broadcasting off — Spark's switch, which also keeps
    * connected components, PageRank and k-core on their distributed
    * rounds — and restore the session's setting exactly afterwards.
    */
  def distributed[A](f: => A): A =
    ops.OpCache.withConf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1")(f)
}

/** Smoke + semantics checks for every SparkEntry query at sf0.001.
  * Exact value parity with DuckDB is checked by the driver (and locally by
  * tools/check_oracle.py); here we assert shape and a few known values.
  */
class CoreSpec extends AnyFunSuite {
  import TestSession._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has an oracle") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty, s"queries missing oracle: $noOracle")
  }

  for ((name, q) <- SparkEntry.queries) {
    test(s"$name runs and returns rows at sf0.001") {
      val df = q(spark, sf)
      assert(df.count() > 0, s"$name returned no rows")
    }
  }

  test("q1 aggregates are internally consistent") {
    val rows = SparkEntry.queries("q1_pricing_summary")(spark, sf).collect()
    assert(rows.map(_.getLong(rows.head.fieldIndex("count_order"))).sum > 0)
    rows.foreach { r =>
      val sumQty = r.getDouble(r.fieldIndex("sum_qty"))
      val avgQty = r.getDouble(r.fieldIndex("avg_qty"))
      val n = r.getLong(r.fieldIndex("count_order"))
      assert(math.abs(sumQty / n - avgQty) < 1e-9)
    }
  }

  test("chunk/reassemble round-trips") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 5)
      .select(col("doc_id"), col("text"))
    val chunks = graft.store.DocumentStore.chunk(docs, col("doc_id"), col("text"), 64)
    val back = graft.store.DocumentStore.reassemble(chunks)
      .withColumnRenamed("files_id", "doc_id")
    val joined = docs.join(back, "doc_id")
      .filter(col("text") =!= col("payload"))
    assert(joined.count() === 0, "reassembled payload differs from original")
  }

  test("cloneMissing copies exactly the missing ids") {
    import org.apache.spark.sql.functions._
    val evs = Tables.events(spark, sf).select("event_id")
    val half = evs.filter(col("event_id") % 2 === 0)
    val missing = graft.store.DocumentStore.cloneMissing(evs, half, "event_id")
    assert(missing.count() === evs.count() - half.count())
    assert(missing.filter(col("event_id") % 2 === 0).count() === 0)
  }

  test("asofJoin equals the naive greatest-preceding-row lookup") {
    import org.apache.spark.sql.functions._
    val e = Tables.events(spark, sf).select(col("event_id"), col("user_id"),
      col("event_type"), col("ts").cast("long").as("ts_sec"))
    val left = e.filter(col("event_type") === "purchase")
      .select("user_id", "ts_sec", "event_id")
    val right = e.filter(col("event_type") === "click")
      .groupBy("user_id", "ts_sec").agg(max("event_id").as("mark_id"))
    val composed = graft.store.DocumentStore
      .asofJoin(left, right, "user_id", "ts_sec", Seq("mark_id"))
      .select("event_id", "asof_mark_id")
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toMap
    // naive: inequality join + per-left-row argmax over right time
    val naive = left.as("l").join(right.as("r"),
        col("l.user_id") === col("r.user_id") && col("l.ts_sec") >= col("r.ts_sec"), "left")
      .groupBy(col("l.event_id").as("event_id"))
      .agg(max_by(col("r.mark_id"), col("r.ts_sec")).as("mark"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toMap
    assert(composed === naive)
  }

  test("rangeJoinBinned equals the naive BETWEEN join") {
    import org.apache.spark.sql.functions._
    val e = Tables.events(spark, sf)
    val sessions = graft.store.DocumentStore.sessionize(
      e, col("user_id"), col("ts").cast("long"), col("event_id"), 7200L)
    val pts = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").cast("long").as("ts_sec"))
    val binned = graft.store.DocumentStore.rangeJoinBinned(
        pts, sessions, "user_id", "ts_sec", "start_sec", "end_sec", 86400L)
      .select("event_id", "session_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = pts.join(sessions, Seq("user_id"))
      .filter(col("ts_sec") >= col("start_sec") && col("ts_sec") <= col("end_sec"))
      .select("event_id", "session_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(binned === naive && binned.nonEmpty)
  }

  test("mapLeaves applies a function to every nested leaf, preserving shape") {
    import org.apache.spark.sql.functions._
    val df = Tables.events(spark, sf).limit(5).select(
      col("event_id"),
      struct(col("user_id"), struct(col("value")).as("inner")).as("doc"))
    val doubled = graft.model.Documents.mapLeaves(df,
      c => when(c.cast("string").rlike("^[0-9.]+$"), c).otherwise(c))
    assert(doubled.schema === df.schema)
    val negated = graft.model.Documents.mapLeaves(
      df.select(struct(col("doc.user_id").as("u")).as("d")), c => -c)
    val r = negated.select("d.u").collect().map(_.getLong(0))
    assert(r.forall(_ <= 0))
  }

  test("flatten produces dotted-underscore leaf columns only") {
    import org.apache.spark.sql.functions._
    val df = Tables.events(spark, sf).select(
      col("event_id"),
      struct(struct(col("user_id").as("session")).as("meta")).as("doc"))
    val flat = graft.model.Documents.flatten(df)
    assert(flat.columns.toSeq === Seq("event_id", "doc_meta_session"))
    assert(!flat.schema.exists(_.dataType.typeName == "struct"))
  }
}
