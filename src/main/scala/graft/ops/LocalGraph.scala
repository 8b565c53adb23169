package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The driver-side rounds of [[Dedup.connectedComponents]],
  * [[Graph.pageRank]] and [[Graph.kCore]], taken when
  * [[OpCache.collectLongs]] finds the edge list inside the driver budget.
  * Below that size one thread beats the scheduler (McSherry et al.,
  * "Scalability! But at what COST?", HotOS 2015): a ~300-edge pair graph
  * cost 10–22 Spark jobs per operator, each 30–110 ms of fixed latency.
  *
  * Each pass runs the SAME synchronous rounds as its distributed loop —
  * same round count, same convergence test, same `maxIter` failure, same
  * integer arithmetic — so both paths return identical rows. Edges arrive
  * packed row-major as (x, y) long pairs; nodes become dense int indices
  * into their sorted distinct ids, and all state is primitive arrays
  * (2 M edges ≈ 32 MB of adjacency), never per-edge objects. A result
  * holds one row per node, up to 4 M at the top of the budget; it is a
  * local relation while it is small enough for Spark to broadcast, and
  * column slices (16 bytes a node) past that ([[frame]]).
  */
private[ops] object LocalGraph {

  /** Sorted distinct ids of the packed endpoints, and each endpoint's
    * index into them (slot 2i / 2i+1 = edge i's x / y).
    */
  private def dense(packed: Array[Long]): (Array[Long], Array[Int]) = {
    val sorted = packed.clone()
    java.util.Arrays.sort(sorted)
    var n = 0
    for (v <- sorted) if (n == 0 || sorted(n - 1) != v) { sorted(n) = v; n += 1 }
    val ids = java.util.Arrays.copyOf(sorted, n)
    (ids, packed.map(v => java.util.Arrays.binarySearch(ids, v)))
  }

  /** Equal-length long columns as a DataFrame; building it starts no
    * Spark job. A result within Spark's broadcast size (by the estimate
    * Spark makes of a local relation: 8 bytes a row plus 8 a column) is a
    * local relation, as Spark plans one: broadcast into downstream joins
    * and collected without a job. A larger one is parallelized as column
    * slices, since Spark copies a local relation's rows into the tasks of
    * every query over it: a count of 4 M two-long rows took 19 s that
    * way and 0.7 s from slices (local[4], 4 vCPUs).
    */
  private def frame(spark: SparkSession, names: Seq[String], cols: Array[Long]*): DataFrame = {
    val schema = StructType(names.map(StructField(_, LongType)))
    val n = cols.head.length
    if (n.toLong * (8 + 8 * cols.length) <= spark.sessionState.conf.autoBroadcastJoinThreshold) {
      val rows = new java.util.ArrayList[Row](n)
      for (i <- 0 until n) rows.add(Row.fromSeq(cols.map(_(i))))
      spark.createDataFrame(rows, schema)
    } else {
      val k = spark.sparkContext.defaultParallelism
      val slices = (0 until k).map { s =>
        cols.map(java.util.Arrays.copyOfRange(_, (n.toLong * s / k).toInt, (n.toLong * (s + 1) / k).toInt))
      }
      spark.createDataFrame(spark.sparkContext.parallelize(slices, k).flatMap { c =>
        Iterator.range(0, c.head.length).map(i => Row.fromSeq(c.map(_(i))))
      }, schema)
    }
  }

  /** Min-label rounds: each node takes the least label among itself and
    * its neighbours. Round 1 never counts as converged, as in the
    * distributed loop, which skips that round's change scan.
    */
  def components(spark: SparkSession, packed: Array[Long], maxIter: Int): DataFrame = {
    val (ids, ends) = dense(packed)
    var label = ids
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val next = label.clone()
      for (e <- 0 until ends.length by 2) {
        val a = ends(e)
        val b = ends(e + 1)
        next(b) = math.min(next(b), label(a))
        next(a) = math.min(next(a), label(b))
      }
      converged = iter > 0 && java.util.Arrays.equals(next, label)
      label = next
      iter += 1
    }
    require(converged, s"connected components did not converge within $maxIter rounds")
    frame(spark, Seq("doc_id", "cluster_id"), ids, label)
  }

  /** PageRank's fixed-point rounds over both directions of every pair
    * (duplicates and self-loops counted as the distributed explode
    * counts them). Overflow throws under ANSI mode and wraps without it,
    * as Spark's long `*`, `+` and `sum` do.
    */
  def pageRank(spark: SparkSession, packed: Array[Long], iters: Int, scale: Long,
               base: Long, dampPermille: Long): DataFrame = {
    val (ids, ends) = dense(packed)
    val exact = spark.sessionState.conf.ansiEnabled
    def mul(a: Long, b: Long): Long = if (exact) Math.multiplyExact(a, b) else a * b
    def add(a: Long, b: Long): Long = if (exact) Math.addExact(a, b) else a + b
    val deg = new Array[Long](ids.length)
    for (v <- ends) deg(v) += 1
    var pr = Array.fill(ids.length)(scale)
    for (_ <- 1 to iters) {
      val c = Array.tabulate(ids.length)(v => mul(pr(v), dampPermille) / mul(1000L, deg(v)))
      val s = new Array[Long](ids.length)
      for (e <- 0 until ends.length by 2) {
        val a = ends(e)
        val b = ends(e + 1)
        s(b) = add(s(b), c(a))
        s(a) = add(s(a), c(b))
      }
      pr = s.map(add(base, _))
    }
    frame(spark, Seq("node", "pr"), ids, pr)
  }

  /** Peeling rounds over canonical edges (a < b, distinct): every round
    * removes, at once, each node whose live degree is below `k`. Rows
    * come out in node order.
    */
  def kCore(spark: SparkSession, packed: Array[Long], k: Int, maxIter: Int): DataFrame = {
    val (ids, ends) = dense(packed)
    val deg = new Array[Int](ids.length)
    for (v <- ends) deg(v) += 1
    // incident edges per node, CSR: edge e's endpoints are ends(2e), ends(2e + 1)
    val start = deg.scanLeft(0)(_ + _)
    val fill = start.clone()
    val incident = new Array[Int](ends.length)
    for (slot <- ends.indices) {
      incident(fill(ends(slot))) = slot / 2
      fill(ends(slot)) += 1
    }
    val live = Array.fill(ends.length / 2)(true)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val removed = Array.range(0, deg.length).filter(v => deg(v) > 0 && deg(v) < k)
      if (removed.isEmpty) converged = true
      else for (v <- removed; j <- start(v) until start(v + 1)) {
        val e = incident(j)
        if (live(e)) {
          live(e) = false
          deg(ends(2 * e)) -= 1
          deg(ends(2 * e + 1)) -= 1
        }
      }
      it += 1
    }
    require(converged, s"k-core did not converge within $maxIter rounds")
    val kept = Array.range(0, deg.length).filter(deg(_) > 0)
    frame(spark, Seq("node", "core_deg"), kept.map(ids), kept.map(deg(_).toLong))
  }
}
