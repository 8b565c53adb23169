package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Iterative graph analytics over entity-relation graphs the store's
  * tables induce (reference analogue: the aggregate pipelines users run
  * over `topic_store` collections stop at joins — ranking entities by
  * transitive influence needs iteration, which Spark expresses as a
  * fixed-point of DataFrame transforms; the CC family in [[Dedup]] is
  * the clustering half, this is the centrality half).
  *
  * All rank math is EXACT fixed-point integer arithmetic (floor
  * division, damping in permille), so results are independent of
  * partitioning, summation order, and engine — the oracle unrolls the
  * same iterations in SQL and hash-matches bit-for-bit, which a
  * floating-point PageRank can never promise under Spark's
  * partial-aggregation reordering.
  */
object Graph {

  /** Eagerly localCheckpoint `df` AND return its row count from the SAME
    * materialization job: the `checkpoint-then-count` spelling the loops
    * here used to use pays a second job launch per round — pure fixed
    * scheduling latency (round 10 measured it as most of graph_bfs's
    * wall at toy scale), and at cluster scale a second round-trip
    * through the scheduler per round. Counting rides a longAccumulator
    * inside the checkpoint's own pass.
    *
    * Contract: the count is only used for CONVERGENCE (`== 0`) and
    * broadcast-threshold decisions. A speculative/retried task can
    * over-count into the accumulator, but never under-count: an inflated
    * count keeps a loop running one extra (empty → exact 0 next round)
    * or demotes a broadcast to a shuffle join — both safe directions.
    * The mapPartitions hop erases the frame's outputPartitioning, so use
    * this on the SMALL per-round state (frontiers, removal sets), never
    * on a spine whose hash-partitioning downstream joins rely on.
    */
  private def checkpointCounted(df: DataFrame): (DataFrame, Long) = {
    val acc = df.sparkSession.sparkContext.longAccumulator("graft.ckptRows")
    val counted = df.mapPartitions { it =>
      it.map { r => acc.add(1L); r }
    }(org.apache.spark.sql.Encoders.row(df.schema))
    val ck = counted.localCheckpoint() // eager: one job materializes + counts
    (ck.toDF(df.columns: _*), acc.value)
  }

  /** The canonical undirected edge list: one (a < b) row per distinct
    * edge, self-loops dropped. ONE spelling on purpose — CacheManager
    * matches cached plans by analyzed plan, so [[triangles]],
    * [[kCore]], [[kTruss]], [[bfs]], [[modularity]] and
    * [[assortativity]] over the same pairs share one materialization
    * only while they build this frame identically. `cache` shares it
    * through [[OpCache]] (releasable via Dedup.unpersistShared()).
    */
  private[graft] def canonicalEdges(pairs: DataFrame, cache: Boolean): DataFrame =
    OpCache.share(
      pairs.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b")).distinct(),
      cache)

  /** Both directions (u, v) of every canonical edge, hash-partitioned on
    * `u` and checkpointed with that partitioning kept — the spine that
    * makes every round's join and groupBy on `u` exchange-free.
    */
  private def partitionedAdjacency(e: DataFrame): DataFrame =
    e.select(explode(array(
        struct(col("a").as("u"), col("b").as("v")),
        struct(col("b").as("u"), col("a").as("v")))).as("x"))
      .select(col("x.u").as("u"), col("x.v").as("v"))
      .repartition(e.sparkSession.sessionState.conf.numShufflePartitions, col("u"))
      .transform(OpCache.ckptPartitioned)

  /** Both directions (a, b) of every (src, dst) pair, spelled as one
    * explode (never a swapped-alias self-union, which scans twice).
    */
  private def bothDirections(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(
        struct(col("src").as("a"), col("dst").as("b")),
        struct(col("dst").as("a"), col("src").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))

  /** [[bothDirections]] with the source's degree on every row,
    * hash-partitioned on `a` and checkpointed once — the edge spine of
    * [[pageRank]] and [[personalizedPageRank]].
    */
  private def degreeEdges(pairs: DataFrame): DataFrame = {
    val n = pairs.sparkSession.sessionState.conf.numShufflePartitions
    val edges = bothDirections(pairs)
    val deg = edges.groupBy(col("a")).agg(count(lit(1)).as("deg"))
    OpCache.ckptPartitioned(edges.join(deg, "a").repartition(n, col("a")))
  }

  /** The trading-node codec: customer k ↦ 2k, supplier k ↦ 2k+1, so
    * every iteration hashes 8-byte keys; [[tradingLabel]] decodes a
    * node back to "c<k>" / "s<k>" in the final O(V) projection.
    */
  private def customerNode(key: Column): Column = key * 2L
  private def supplierNode(key: Column): Column = key * 2L + 1L
  private def tradingLabel(name: String): Column =
    when(col(name) % 2L === 0L,
      concat(lit("c"), expr(s"$name div 2").cast("string")))
      .otherwise(concat(lit("s"), expr(s"$name div 2").cast("string")))

  /** The customer–supplier trading graph induced by order lines — the
    * shared fixture of every transaction* query: one edge per distinct
    * trading relationship (per distinct (src, dst, `keep`…) row when
    * line columns are kept), nodes in the trading-node codec above —
    * the only place the encoding is spelled, so the consumers and their
    * oracles cannot diverge.
    */
  private def tradingPairs(spark: SparkSession, dir: String,
                           keep: Column*): DataFrame =
    Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(Seq(customerNode(col("o_custkey")).as("src"),
        supplierNode(col("l_suppkey")).as("dst")) ++ keep: _*)
      .distinct()

  /** Undirected PageRank, `iters` synchronous rounds from a uniform
    * `scale` start: `pr'(v) = floor(scale·(1000−damp)/1000) +
    * Σ_{u∼v} floor(pr(u)·damp / (1000·deg(u)))`.
    *
    * Scale shape (the CC playbook, Dedup.connectedComponents): symmetric
    * edges spell as explode (never a swapped-alias self-union); the
    * degree-annotated edge list is hash-partitioned on the source ONCE
    * and localCheckpoint'd — every round's edges⋈ranks join is then
    * exchange-free on the big side, so one O(E) groupBy shuffle per
    * round is the entire per-iteration cost. Hub skew is absorbed by
    * map-side partial aggregation (integer sums combine associatively);
    * rank state is O(V) and re-checkpointed per round to cut lineage.
    * Undirected graphs have no dangling-mass term: every node has
    * deg ≥ 1, so total rank is conserved up to floor loss (< E per
    * round) — a cheap global invariant to monitor at 100 TB.
    *
    * `pairs` needs (src, dst) columns; isolated nodes (no edges) are not
    * ranked. A pair list inside the driver budget
    * ([[OpCache.collectLongs]]) runs the same rounds on the driver
    * ([[LocalGraph.pageRank]]).
    */
  def pageRank(pairs: DataFrame, iters: Int = 3,
               scale: Long = 1000000000L, dampPermille: Long = 850L): DataFrame = {
    require(iters >= 1 && dampPermille > 0 && dampPermille < 1000)
    val base = scale * (1000L - dampPermille) / 1000L
    OpCache.collectLongs(pairs.select(col("src"), col("dst"))) match {
      case Right(ends) =>
        LocalGraph.pageRank(pairs.sparkSession, ends, iters, scale, base, dampPermille)
      case Left(shared) => distributedPageRank(shared, iters, scale, base, dampPermille)
    }
  }

  private def distributedPageRank(pairs: DataFrame, iters: Int, scale: Long,
                                  base: Long, dampPermille: Long): DataFrame = {
    val ed = degreeEdges(pairs)
    var pr = ed.select(col("a").as("node")).distinct()
      .withColumn("pr", lit(scale))
      .localCheckpoint()
    for (i <- 1 to iters) {
      pr = ed.join(pr, ed("a") === pr("node"))
        .select(col("b"), expr(s"pr * ${dampPermille}L div (1000L * deg)").as("c"))
        .groupBy(col("b"))
        .agg(sum(col("c")).as("s"))
        .select(col("b").as("node"), (lit(base) + col("s")).as("pr"))
      // rank state is consumed once per round, so a handful of rounds can
      // stay lazy (one job executes the chained shuffles); checkpoint
      // periodically only to bound lineage/plan growth on long runs
      if (i % 4 == 0 && i < iters) pr = pr.localCheckpoint()
    }
    pr
  }

  /** Exact triangle count by degree-ordered orientation (the classic
    * O(m^1.5) bound): canonicalize undirected edges, orient every edge
    * from its (degree, id)-smaller endpoint to the larger, enumerate
    * wedges as a self-join on the source, close them against the
    * oriented edge list. Orientation caps every node's OUT-degree at
    * O(√m) — the wedge join fans out Σ outdeg² ≤ m^1.5 rows TOTAL no
    * matter how skewed the raw degree distribution is (a 10⁸-degree hub
    * contributes nothing as a source: all its edges point INTO it), and
    * each triangle is produced exactly once (its endpoints are totally
    * ordered). All three joins are plain equality shuffles AQE can
    * skew-split; nothing driver-side.
    *
    * `pairs` needs (src, dst); self-loops and duplicate/reversed edges
    * are cleaned here. Returns one row: (n_nodes, n_edges, n_triangles).
    */
  /** Canonical edges, degrees, and the degree-oriented edge-iterator
    * closure — the shared core of [[triangles]] and [[localClustering]]:
    * per oriented base edge (u, v), `ws` is N⁺(u) ∩ N⁺(v), so each
    * triangle appears EXACTLY once, as (u, v, its apex ∈ ws).
    */
  /** `array_intersect(nu, nv)` over the sorted distinct adjacency
    * arrays, through the merge kernel when the node type is long (every
    * registered graph query — the kernel skips ArrayIntersect's per-row
    * hash set, measured 341→25 CPU-s on the ktruss closure stage) and
    * through the built-in for any other orderable node type (the
    * operator API is generic; specs drive it with strings).
    */
  private def intersectSorted(df: DataFrame): Column =
    df.schema("nu").dataType match {
      case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, _) =>
        expr("graft_sorted_intersect(nu, nv)")
      case _ => array_intersect(col("nu"), col("nv"))
    }

  private def orientedClosure(pairs: DataFrame, cache: Boolean)
      : (DataFrame, DataFrame, DataFrame) = {
    graft.functions.SortedArrayFunctions.register(pairs.sparkSession)
    // the canonical edge list feeds FOUR consumers (degree, orientation,
    // wedge closure, edge count) whose projections differ — exchange
    // reuse can't cover them, so an uncached `e` would re-run the
    // upstream pair expansion each time. Shared-cache like every dedup
    // intermediate; releasable via Dedup.unpersistShared().
    val e = canonicalEdges(pairs, cache)
    val deg = e.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val fwd = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    // oriented edges feed ONLY the adjacency build since the nu side of
    // the closure derives from adj by explode — no cache, one pipeline
    val ed = e.join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(
        when(fwd, col("a")).otherwise(col("b")).as("u"),
        when(fwd, col("b")).otherwise(col("a")).as("v"))
    // Edge-iterator over oriented ADJACENCY ARRAYS instead of a wedge
    // self-join: a triangle u→v, u→w, v→w is counted exactly once, at
    // its base edge (u,v), as |N⁺(u) ∩ N⁺(v)|. The Σ outdeg² wedge work
    // still happens, but INSIDE map tasks as array intersections over
    // ~outdeg-sized arrays — nothing ever shuffles the wedge rows
    // themselves (on a dense co-purchase graph that's ~75M rows through
    // two exchanges, the whole cost of the join formulation). The nu
    // side attaches by EXPLODING adj itself — (u, nu, v ∈ nu) IS the
    // oriented edge list with N⁺(u) already in the row, so the old
    // ed⋈adj first join (a full exchange of the array payloads, ~150 MB
    // measured at sf0.1) disappears; the one remaining join ships each
    // nv to its in-edges. Shuffled rows: O(V) for the adjacency build +
    // O(E) array-payload rows into the v join; the orientation's √m
    // outdeg cap bounds every array, so no row is ever hub-sized.
    // BOTH closure sides read adj (the exploded nu side and the nv
    // side), so the oriented-adjacency build is the table to cache —
    // replacing the old ed cache, which explode-from-adj obsoleted
    val adj = OpCache.share(
      ed.groupBy(col("u")).agg(sort_array(collect_list(col("v"))).as("nbrs")),
      cache)
    val joined = adj
      .select(col("u"), col("nbrs").as("nu"), explode(col("nbrs")).as("v"))
      .join(adj.select(col("u").as("v"), col("nbrs").as("nv")), Seq("v"))
    // merge-intersect kernel ([[intersectSorted]]): nu/nv are sorted and
    // distinct by construction, so this is bit-identical to
    // array_intersect minus its per-row hash set — the closure stage
    // measured 341 CPU-s of graph_ktruss's 300-CPU-s isolated bench run
    // before the swap
    val closure = joined.select(col("u"), col("v"), intersectSorted(joined).as("ws"))
    (e, deg, closure)
  }

  def triangles(pairs: DataFrame, cache: Boolean = true): DataFrame = {
    val (e, deg, closure) = orientedClosure(pairs, cache)
    val triPerEdge = closure.select(size(col("ws")).cast("long").as("n_tri"))
    // one tagged union + one aggregate for the three counts: a literal-key
    // join of single-row aggs would constant-fold into the BNLJ the
    // cross-join audit forbids; this shape is three map-side-combined
    // partial counts and a single-partition merge
    deg.select(lit(1L).as("is_node"), lit(0L).as("is_edge"), lit(0L).as("is_tri"))
      .unionByName(e.select(lit(0L).as("is_node"), lit(1L).as("is_edge"), lit(0L).as("is_tri")))
      .unionByName(triPerEdge.select(lit(0L).as("is_node"), lit(0L).as("is_edge"), col("n_tri").as("is_tri")))
      .agg(sum(col("is_node")).as("n_nodes"), sum(col("is_edge")).as("n_edges"),
        sum(col("is_tri")).as("n_triangles"))
  }

  /** Per-node LOCAL clustering coefficient (Watts–Strogatz) — how
    * clique-like each node's neighborhood is: cc(v) = 2·t(v) /
    * (deg(v)·(deg(v)−1)), exact integer permille. Each triangle from the
    * [[orientedClosure]] credits its three nodes once: the base
    * endpoints u, v take the intersection size map-side, each apex w
    * takes 1 — so the shuffle after the closure is O(triangles + edges)
    * narrow rows into one node groupBy, and the √m orientation bound
    * still caps all wedge work. The permille divides in decimal (deg²
    * overflows int64 at ~3e9-degree hubs); deg < 2 reports 0.
    */
  def localClustering(pairs: DataFrame, cache: Boolean = true): DataFrame = {
    val (_, deg, closure) = orientedClosure(pairs, cache)
    // endpoint and apex credits emit from ONE pass over the closure (the
    // kTruss single-explode shape) — the two-branch union re-executed
    // the intersect join per branch
    val counts = closure.filter(size(col("ws")) > 0)
      .select(explode(concat(
        array(struct(col("u").as("node"), size(col("ws")).cast("long").as("t")),
          struct(col("v").as("node"), size(col("ws")).cast("long").as("t"))),
        transform(col("ws"), w => struct(w.as("node"), lit(1L).as("t"))))).as("c"))
      .groupBy(col("c.node").as("node")).agg(sum(col("c.t")).as("n_tri"))
    deg.join(counts, Seq("node"), "left").na.fill(0L, Seq("n_tri"))
      .select(col("node"), col("deg"), col("n_tri"),
        when(col("deg") >= 2L,
          expr("cast(n_tri as decimal(19,0)) * 2000" +
            " div (cast(deg as decimal(19,0)) * cast(deg - 1 as decimal(19,0)))"))
          .otherwise(0L).as("cc_permille"))
      .orderBy(col("node"))
  }

  /** The part co-purchase graph: an edge links two parts bought in the
    * same order (lineitem is the hyperedge list; per-order fan-out is
    * bounded by order width, so the pair expansion is
    * O(orders · width²), never quadratic in parts).
    */
  private def coPurchasePairs(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    li.as("x").join(li.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .select(col("x.pk").as("src"), col("y.pk").as("dst"))
  }

  /** [[triangles]] over the part co-purchase graph. Triangle density
    * is the standard clustering-coefficient signal on co-occurrence
    * graphs — the "bought-together" structure a pairwise count can't see.
    */
  def partTriangles(spark: SparkSession, dir: String): DataFrame =
    triangles(coPurchasePairs(spark, dir))

  /** [[localClustering]] over the part co-purchase graph. */
  def partClustering(spark: SparkSession, dir: String): DataFrame =
    localClustering(coPurchasePairs(spark, dir))

  /** k-core decomposition by iterative peeling: drop every node with
    * degree < k, repeat to the (unique, order-independent) fixpoint.
    * The standard "dense cohesive subgraph" extractor — what survives is
    * the part of the graph no sequence of low-degree removals can
    * unravel.
    *
    * Scale shape per round: the adjacency is hash-partitioned on `u` and
    * checkpointed, so the degree groupBy AND the keep-join on `u` are
    * exchange-free; only the keep-join on `v` re-shuffles the (strictly
    * shrinking) edge list — one O(E) shuffle per round, the CC playbook.
    * Convergence is read off the per-round edge count the round already
    * computes; lineage resets every round via localCheckpoint. Rounds
    * are data-bounded (a path graph peels O(n) times — cap with
    * `maxIter` and fail loudly rather than silently return a non-core).
    * A canonical edge list inside the driver budget
    * ([[OpCache.collectLongs]]) peels in the same rounds on the driver
    * ([[LocalGraph.kCore]]).
    */
  def kCore(pairs: DataFrame, k: Int, maxIter: Int = 50,
            cache: Boolean = true): DataFrame = {
    require(k >= 1)
    // The canonical edge list is the expensive input (a pair-expansion
    // join upstream dwarfs the peeling itself — profiled 8s build vs 2s
    // of peeling on the co-purchase graph); cache-share it so a repeated
    // run, and [[triangles]] over the same pairs, reuse it.
    // rows in node order on both paths; the driver path's result
    // is built sorted, since a Sort over it would plan a range exchange
    // (three jobs) for rows that are already in order
    OpCache.collectLongs(canonicalEdges(pairs, cache), cache) match {
      case Right(ends) => LocalGraph.kCore(pairs.sparkSession, ends, k, maxIter)
      case Left(e) => distributedKCore(e, k, maxIter).orderBy(col("node"))
    }
  }

  private def distributedKCore(e: DataFrame, k: Int, maxIter: Int): DataFrame = {
    val spark = e.sparkSession
    val n = spark.sessionState.conf.numShufflePartitions
    var adj = partitionedAdjacency(e)
    // Peeling driven by the REMOVED-node set, not the surviving edge
    // list: per round, the degree groupBy is exchange-free (adj is
    // hash-partitioned on `u` and every round preserves that), the
    // removed set is materialized small (it only holds this round's
    // casualties), and convergence is its count hitting zero — so the
    // only per-round actions touch O(removed) rows, not O(E). When the
    // removed set fits the broadcast budget (always, after the first
    // round or two — peeling has a long small-round tail) both
    // keep-filters are broadcast anti-joins: zero exchange for the whole
    // round. A bulk round (one [[OpCache.fitsDriver]] refuses) falls back
    // to the shuffle anti-join on `v` — the 100 TB-safe path where
    // a billion-node round-1 cull can't be broadcast — and re-partitions
    // to restore the `u` hashing the next round's groupBy relies on.
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val (removed, nRemoved) = checkpointCounted(
        adj.groupBy(col("u")).agg(count(lit(1)).as("d"))
          .filter(col("d") < k).select(col("u")))
      if (nRemoved == 0L) converged = true
      else {
        val next =
          if (OpCache.fitsDriver(spark, nRemoved))
            adj.join(broadcast(removed), Seq("u"), "left_anti")
              .join(broadcast(removed.withColumnRenamed("u", "v")), Seq("v"), "left_anti")
          else
            adj.join(removed, Seq("u"), "left_anti")
              .join(removed.withColumnRenamed("u", "v"), Seq("v"), "left_anti")
              .repartition(n, col("u"))
        adj = OpCache.ckptPartitioned(next.select(col("u"), col("v")))
      }
      it += 1
    }
    require(converged, s"k-core did not converge within $maxIter rounds")
    adj.groupBy(col("u").as("node")).agg(count(lit(1)).as("core_deg"))
  }

  /** [[kCore]] of the part co-purchase graph (see [[partTriangles]] for
    * the edge construction): the stable dense subgraph of parts that
    * keep being bought together.
    */
  def partKCore(spark: SparkSession, dir: String, k: Int = 65): DataFrame =
    kCore(coPurchasePairs(spark, dir), k)

  /** k-truss decomposition by iterative edge peeling — the EDGE-cohesion
    * sibling of [[kCore]] (a k-core survives on raw degree; a k-truss
    * edge must sit in ≥ k−2 triangles among SURVIVORS, so bridges and
    * hub spokes that k-core keeps are stripped — the standard "strong
    * ties only" community scaffold, Cohen 2008). Returns the surviving
    * canonical edges with their final support.
    *
    * Scale shape per round: support is the [[triangles]] edge-iterator
    * re-run on the (strictly shrinking) survivor set — degree
    * orientation, √m-capped oriented adjacency arrays, one
    * `array_intersect` per base edge, so wedge work stays inside map
    * tasks and the shuffled rows are O(E) for the adjacency build plus
    * O(triangles) exploded apex credits into one canonical-edge groupBy.
    * Dropping an edge can only LOWER other edges' support, so recompute-
    * from-survivors is monotone and the fixpoint unique; convergence is
    * the kept-count equalling the previous round's edge count, read off
    * the same accumulator-backed materialization every round already
    * pays ([[checkpointCounted]] — no extra action). Rounds are
    * data-bounded; `maxIter` fails loudly rather than returning a
    * non-truss. Edges in no triangle carry no credit row, and k ≥ 3
    * makes the threshold ≥ 1, so the inner support join drops them
    * correctly.
    */
  def kTruss(pairs: DataFrame, k: Int, maxIter: Int = 30,
             cache: Boolean = true): DataFrame = {
    require(k >= 3)
    graft.functions.SortedArrayFunctions.register(pairs.sparkSession)
    val e0 = canonicalEdges(pairs, cache)
    def supportOf(cur: DataFrame): DataFrame = {
      val deg = cur.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val fwd = col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b"))
      val ed = cur
        .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
        .select(when(fwd, col("a")).otherwise(col("b")).as("u"),
          when(fwd, col("b")).otherwise(col("a")).as("v"))
      // per-round adjacency is read by both closure sides, but NOT
      // cached: its plan hangs off the round's localCheckpoint RDD, so a
      // cache entry can never hit again (each bench run checkpoints
      // fresh) and 3 runs × rounds of dead 40 MB entries measured as
      // pure eviction churn (19.2 s vs 6.9 s for the identical query).
      // The two consumers share the groupBy's exchange via
      // ReusedExchange; only the ≤O(V) array re-aggregation repeats.
      val adj = ed.groupBy(col("u"))
        .agg(sort_array(collect_list(col("v"))).as("nbrs"))
      // nu attaches by exploding adj itself; merge-intersect kernel —
      // see orientedClosure (one exchange of array payloads, not two)
      val joined = adj
        .select(col("u"), col("nbrs").as("nu"), explode(col("nbrs")).as("v"))
        .join(adj.select(col("u").as("v"), col("nbrs").as("nv")), Seq("v"))
      val closure = joined
        .select(col("u"), col("v"), intersectSorted(joined).as("ws"))
        .filter(size(col("ws")) > 0)
      // each triangle (u, v, w) credits all THREE of its edges once: the
      // base takes |ws| map-side, the two apex edges one exploded row.
      // All three credit kinds emit from ONE pass over the closure (a
      // per-row struct array + one explode) — the union-of-three-branches
      // spelling re-executed the intersect join per branch (exchange
      // reuse covers exchanges, not the post-join compute).
      closure.select(explode(concat(
          array(struct(
            least(col("u"), col("v")).as("a"),
            greatest(col("u"), col("v")).as("b"),
            size(col("ws")).cast("long").as("s"))),
          transform(col("ws"), w => struct(
            least(col("u"), w).as("a"), greatest(col("u"), w).as("b"),
            lit(1L).as("s"))),
          transform(col("ws"), w => struct(
            least(col("v"), w).as("a"), greatest(col("v"), w).as("b"),
            lit(1L).as("s"))))).as("c"))
        .groupBy(col("c.a").as("a"), col("c.b").as("b"))
        .agg(sum(col("c.s")).as("support"))
    }
    var (cur, nCur) = checkpointCounted(e0)
    var converged = false
    var it = 0
    var lastSup: DataFrame = null
    while (!converged && it < maxIter) {
      val sup = supportOf(cur)
      // every credit key IS a canonical edge of cur (w ∈ ws certifies
      // both apex edges exist), so sup's key set ⊆ cur and the old
      // cur⋈sup inner join — a full extra shuffle of the edge list per
      // round — was only dropping no-credit edges, which the threshold
      // filter (k ≥ 3 ⇒ ≥ 1) already does. Filter alone, join removed.
      val (kept, nKept) = checkpointCounted(
        sup.filter(col("support") >= (k - 2).toLong))
      if (nKept == nCur) converged = true
      else { cur = kept.select(col("a"), col("b")); nCur = nKept }
      lastSup = kept
      it += 1
    }
    require(converged, s"k-truss did not converge within $maxIter rounds")
    lastSup.orderBy(col("a"), col("b"))
  }

  /** [[kTruss]] of the part co-purchase graph (see [[partTriangles]]):
    * the strong-tie co-purchase scaffold — parts that keep being bought
    * together WITH many shared companions. */
  def partKTruss(spark: SparkSession, dir: String, k: Int = 12): DataFrame =
    kTruss(coPurchasePairs(spark, dir), k)

  /** Multi-source breadth-first search: exact hop distance from the
    * nearest source to every reachable node — the reachability/radius
    * probe entity-graph curation runs (how far does contamination spread
    * from a flagged seed set; which records sit within k relationship
    * hops of a known entity). Distances are INTEGERS decided by frontier
    * arrival order, so results are partitioning/engine-exact by
    * construction — the oracle replays the same expansion as a recursive
    * CTE with UNION-dedup and takes min(depth).
    *
    * Scale shape per round (the kCore playbook): the adjacency is
    * hash-partitioned on `u` and checkpointed ONCE, so every round's
    * frontier join is exchange-free on the big side; the frontier and
    * the visited set are each broadcast into their join while their
    * measured size fits ([[OpCache.fitsDriver]]), shuffled past that — the
    * 100 TB path where a billion-node frontier can't broadcast. Rounds =
    * eccentricity of the source set (bounded by `maxDepth`, loud
    * failure beyond), each O(frontier-edges) work — never
    * corpus-quadratic, never a driver-side traversal.
    */
  def bfs(pairs: DataFrame, sources: Seq[Long], maxDepth: Int = 30,
          cache: Boolean = true): DataFrame = {
    require(sources.nonEmpty)
    val spark = pairs.sparkSession
    val adj = partitionedAdjacency(canonicalEdges(pairs, cache))
    import spark.implicits._
    var visited = sources.distinct.sorted.toDF("node")
      .select(col("node").cast("long").as("node"), lit(0).as("depth"))
      .localCheckpoint()
    var frontier = visited.select(col("node"))
    var depth = 0
    var frontierSize = sources.size.toLong
    // visited = the distinct sources + every measured frontier (each
    // frontier is distinct and disjoint from what was visited before)
    var visitedSize = sources.distinct.size.toLong
    while (frontierSize > 0L && depth < maxDepth) {
      depth += 1
      val f = if (OpCache.fitsDriver(spark, frontierSize)) broadcast(frontier) else frontier
      val reached = adj.join(f.withColumnRenamed("node", "u"), Seq("u"))
        .select(col("v").as("node")).distinct()
      val seen = visited.select(col("node"))
      val next = reached.join(
        if (OpCache.fitsDriver(spark, visitedSize)) broadcast(seen) else seen,
        Seq("node"), "left_anti")
      val (f2, size2) = checkpointCounted(next)
      frontier = f2
      frontierSize = size2
      if (frontierSize > 0L) {
        visitedSize += frontierSize
        visited = visited
          .unionByName(frontier.select(col("node"), lit(depth).as("depth")))
        // the union's leaves are all checkpointed frontiers, so lineage
        // is a flat cheap-to-replay tree — checkpoint every 4th round
        // only, to bound plan-analysis growth without paying a
        // materialization job per round
        if (depth % 4 == 0) visited = visited.localCheckpoint()
      }
    }
    visited.orderBy(col("node"))
  }

  /** [[bfs]] over the part co-purchase graph from the smallest part key
    * (see [[partTriangles]] for the edge construction): hop-distance
    * strata of the "bought-together" neighborhood.
    */
  def partBfs(spark: SparkSession, dir: String): DataFrame =
    bfs(coPurchasePairs(spark, dir), sources = Seq(0L))

  /** Synchronous label propagation — `rounds` deterministic LPA sweeps:
    * every node starts as its own label, and each round adopts the label
    * most frequent among its neighbors' current labels (ties → smallest
    * label). Classic LPA is run-order random; pinning synchronous
    * updates + the min tie-break makes the whole trajectory a fixture an
    * SQL oracle replays exactly, oscillations and all (bipartite graphs
    * legitimately flip label sides between rounds — the round count is
    * part of the operator's contract, like pageRank's).
    *
    * Scale shape, per round: one exchange-free edges⋈labels join (edges
    * hash-partitioned on the source once, checkpointed), then TWO
    * map-side-partial groupBys — (node, label) counts, then the
    * per-node argmax as `min(struct(-count, label))`. Hub skew lands on
    * the first groupBy where partial aggregation absorbs it; a window
    * rank would sort-shuffle the same rows without the combine. Label
    * state is O(V), re-checkpointed per round to truncate lineage.
    */
  def labelPropagation(pairs: DataFrame, rounds: Int = 4): DataFrame = {
    require(rounds >= 1)
    val n = pairs.sparkSession.sessionState.conf.numShufflePartitions
    val ed = OpCache.ckptPartitioned(bothDirections(pairs).repartition(n, col("a")))
    var lab = ed.select(col("a").as("node")).distinct()
      .withColumn("lbl", col("node"))
      .localCheckpoint()
    for (i <- 1 to rounds) {
      lab = ed.join(lab, ed("a") === lab("node"))
        .groupBy(col("b"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy(col("b"))
        .agg(min(struct((col("c") * -1L).as("nc"), col("lbl").as("l"))).as("m"))
        .select(col("b").as("node"), col("m.l").as("lbl"))
      // label state is consumed once per round, so a handful of rounds
      // can stay lazy (one job executes the chained shuffles — the
      // pageRank trick); checkpoint periodically only to bound
      // lineage/plan growth on long runs
      if (i % 4 == 0 && i < rounds) lab = lab.localCheckpoint()
    }
    lab
  }

  /** [[labelPropagation]] over the customer–supplier trading graph (the
    * transactionRank topology): which community a trading entity settles
    * in after 4 sweeps. Packed-long iteration, readable final labels.
    */
  def transactionCommunities(spark: SparkSession, dir: String,
                             rounds: Int = 4): DataFrame = {
    val pairs = tradingPairs(spark, dir)
    labelPropagation(pairs, rounds)
      .select(tradingLabel("node").as("node"), tradingLabel("lbl").as("label"))
      .orderBy("node")
  }

  /** Personalized PageRank — random walk with restart to a SOURCE set:
    * the "entities related to X" primitive (recommendations, fraud-ring
    * expansion, related-document panels) that global [[pageRank]]
    * cannot answer because its teleport flattens locality. Same exact
    * fixed-point integer arithmetic: per round
    * `pr'(v) = Σ_{u∼v} floor(pr(u)·damp / (1000·deg(u))) +
    * (v ∈ S ? floor(scale·(1000−damp)/1000) : 0)`, rank mass enters
    * ONLY at the sources, so scores decay with distance from S and
    * unreached nodes simply never appear (sparse state — the frontier
    * grows like BFS instead of materializing O(V) rows up front).
    *
    * Scale shape: [[pageRank]]'s spine verbatim — source-partitioned
    * checkpointed edge list, one O(frontier-edges) groupBy shuffle per
    * round, map-side combine absorbing hubs; state is O(reached), which
    * for a handful of sources and 3 rounds is the 3-hop ball, not the
    * graph.
    */
  def personalizedPageRank(pairs: DataFrame, sources: Seq[Long],
                           iters: Int = 3, scale: Long = 1000000000L,
                           dampPermille: Long = 850L): DataFrame = {
    require(iters >= 1 && sources.nonEmpty &&
      dampPermille > 0 && dampPermille < 1000)
    val spark = pairs.sparkSession
    import spark.implicits._
    val ed = degreeEdges(pairs)
    val base = scale * (1000L - dampPermille) / 1000L
    val srcBase = sources.toDF("node").withColumn("c", lit(base))
    var pr = sources.toDF("node").withColumn("pr", lit(scale))
    for (i <- 1 to iters) {
      pr = ed.join(pr, ed("a") === pr("node"))
        .select(col("b").as("node"),
          expr(s"pr * ${dampPermille}L div (1000L * deg)").as("c"))
        .unionByName(srcBase)
        .groupBy(col("node"))
        .agg(sum(col("c")).as("pr"))
      if (i % 4 == 0 && i < iters) pr = pr.localCheckpoint()
    }
    pr
  }

  /** [[personalizedPageRank]] over the trading graph from customer 1:
    * the suppliers/customers most related to that account.
    */
  def transactionPpr(spark: SparkSession, dir: String,
                     iters: Int = 3): DataFrame = {
    val pairs = tradingPairs(spark, dir)
    personalizedPageRank(pairs, Seq(2L), iters)
      .select(tradingLabel("node").as("node"), col("pr"))
      .orderBy(col("pr").desc, col("node"))
  }

  /** Bounded-hop shortest paths by min-plus iteration (the Bellman-Ford
    * step as a DataFrame fixed point): exact integer distances from a
    * source set through at most `iters` hops — the routing/cost
    * primitive beside [[bfs]]'s unweighted hop counts (a close, heavily
    * traded relationship should beat a chain of one-off transactions,
    * which hop counting can't express). Per round
    * `d'(v) = min(d(v), min_{(u,v)} d(u) + w(u,v))` — min is
    * associative/idempotent, so map-side combine absorbs hub fan-in and
    * replays can't change a settled distance. Unreached nodes never
    * materialize (the BFS/PPR sparse-frontier contract).
    *
    * Scale shape: the weighted symmetric edge list partitions on the
    * source once and checkpoints; each round is one frontier⋈edges join
    * + one min groupBy — O(frontier-edges) rows, state O(reached).
    *
    * `wpairs` needs (src, dst, w) with non-negative integer weights.
    */
  def minPlusDistances(wpairs: DataFrame, sources: Seq[Long],
                       iters: Int = 3): DataFrame = {
    require(iters >= 1 && sources.nonEmpty)
    val spark = wpairs.sparkSession
    import spark.implicits._
    val n = spark.sessionState.conf.numShufflePartitions
    val edges = wpairs.select(explode(array(
        struct(col("src").as("a"), col("dst").as("b"), col("w")),
        struct(col("dst").as("a"), col("src").as("b"), col("w")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"), col("e.w").as("w"))
    val ed = OpCache.ckptPartitioned(edges.repartition(n, col("a")))
    var d = sources.toDF("node").withColumn("dist", lit(0L))
    for (i <- 1 to iters) {
      d = ed.join(d, ed("a") === d("node"))
        .select(col("b").as("node"), (col("dist") + col("w")).as("dist"))
        .unionByName(d.select(col("node"), col("dist")))
        .groupBy(col("node"))
        .agg(min(col("dist")).as("dist"))
      if (i % 4 == 0 && i < iters) d = d.localCheckpoint()
    }
    d
  }

  /** [[minPlusDistances]] over the trading graph from customer 1, edge
    * length `1e6 div n_orders` (a heavily traded relationship is a
    * SHORT hop): which entities are commercially closest within 3 hops.
    */
  def transactionDistances(spark: SparkSession, dir: String,
                           iters: Int = 3): DataFrame = {
    val wpairs = tradingPairs(spark, dir, col("l_orderkey"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("src"), col("dst"), expr("1000000L div cnt").as("w"))
    minPlusDistances(wpairs, Seq(2L), iters)
      .select(tradingLabel("node").as("node"), col("dist"))
      .orderBy(col("dist"), col("node"))
  }

  /** Link prediction scores for non-adjacent node pairs: common-neighbor
    * count and the resource-allocation index (Zhou et al. 2009 —
    * `Σ_z 1/deg(z)` over shared neighbors z, the published index that
    * stays RATIONAL where Adamic-Adar's `1/log deg` would drag in
    * cross-engine libm): RA in exact integer micro (`1e6 div deg`),
    * summed associatively — bit-replayable anywhere. The
    * recommendation/completion primitive over co-occurrence graphs:
    * "parts bought with the same parts, never yet together".
    *
    * Scale shape: wedges enumerate through each shared neighbor z — a
    * self-join of z's adjacency, O(Σ deg(z)²) pairs — so hubs are THE
    * scale hazard and `maxDeg` caps wedge centers (default 256; a
    * boilerplate hub that co-occurs with everything predicts nothing —
    * the [[Dedup]] hot-shingle-cap argument, applied to graphs; capped
    * centers are dropped BEFORE the join, the remaining fan-out is
    * ≤ maxDeg per row and AQE-splittable). Known edges leave via one
    * anti-join; `minCommon` prunes the long tail before it shuffles to
    * the final aggregate.
    *
    * `pairs` needs (src, dst); emits (u, v, common, ra_micro), u < v.
    */
  def linkPrediction(pairs: DataFrame, maxDeg: Int = 256,
                     minCommon: Long = 2L): DataFrame = {
    require(maxDeg >= 2 && minCommon >= 1)
    val canon = canonicalEdges(pairs, cache = false)
    val adj = canon.select(explode(array(
        struct(col("a").as("z"), col("b").as("n")),
        struct(col("b").as("z"), col("a").as("n")))).as("e"))
      .select(col("e.z").as("z"), col("e.n").as("n"))
    val deg = adj.groupBy(col("z")).agg(count(lit(1)).as("deg"))
    val keep = adj.join(deg.filter(col("deg") <= maxDeg), "z")
      .localCheckpoint()
    val wedges = keep.as("x").join(keep.as("y"),
        col("x.z") === col("y.z") && col("x.n") < col("y.n"))
      .select(col("x.n").as("u"), col("y.n").as("v"),
        expr("1000000L div x.deg").as("ra"))
    val scored = wedges.groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("common"), sum(col("ra")).as("ra_micro"))
      .filter(col("common") >= minCommon)
    scored.join(canon,
        scored("u") === canon("a") && scored("v") === canon("b"),
        "left_anti")
  }

  /** [[linkPrediction]] over the part co-purchase graph: the top
    * "never co-bought, strongly co-neighbored" part pairs.
    */
  def partLinkPrediction(spark: SparkSession, dir: String): DataFrame = {
    // the co-purchase graph is dense (avg degree ~50 and growing with
    // sf), so the headline query trades the cap down to 64: wedge
    // volume is Σ min(deg, cap)² and the informative centers are the
    // LOW-degree ones anyway — a part co-bought with everything predicts
    // nothing, the hot-shingle argument applied twice as hard
    linkPrediction(coPurchasePairs(spark, dir), maxDeg = 64)
      .orderBy(col("ra_micro").desc, col("u"), col("v")).limit(100)
  }

  /** Deterministic uniform random walks — the DeepWalk/node2vec corpus
    * generator (Perozzi et al. 2014): `walksPerNode` walks of `length`
    * steps from every node, each step choosing uniformly among the
    * current node's neighbors. "Random" is hash-derived, not RNG: step
    * i of walk w picks neighbor INDEX `md5₅₂(walk:i) mod deg(cur)` from
    * the b-sorted, row-numbered adjacency — uniform under the hash, yet
    * the whole corpus replays bit-for-bit on any engine/partitioning
    * (md5 hex is cross-engine identical, the index join has exactly one
    * match), so the oracle replays the same picks in SQL and the walks
    * hash-match.
    *
    * Scale shape — the alias-table idea relationalized: the INDEXED
    * adjacency (a, idx, b) and degree table are built once (a
    * per-source row_number window — hub partitions sort only their own
    * edges) and checkpointed; each step is then TWO equality joins per
    * walk — frontier⋈deg on cur for the modulus, frontier⋈adjacency on
    * (cur, idx) for the hop — O(walks) rows per step, NEVER
    * O(Σ deg(frontier)): a walk sitting on a 10⁸-degree hub costs one
    * row, where a candidates-then-argmin join would fan out the hub's
    * whole neighbor list under every visiting walk (the ScaleSmoke hub
    * stratum pins this shape). Walk state is one row per walk, steps
    * emit as they happen; at 100 TB you start walks from a node
    * sample — the frontier is an argument-shaped knob, not a rewrite.
    *
    * `pairs` needs numeric (src, dst); emits (start, w, step, node)
    * rows, step 0 = the start node itself.
    */
  def randomWalks(pairs: DataFrame, length: Int = 4,
                  walksPerNode: Int = 2): DataFrame = {
    require(length >= 1 && walksPerNode >= 1)
    import org.apache.spark.sql.expressions.Window
    val n = pairs.sparkSession.sessionState.conf.numShufflePartitions
    val adj = bothDirections(pairs)
      .withColumn("idx",
        row_number().over(Window.partitionBy(col("a")).orderBy(col("b"))) - 1)
      .repartition(n, col("a")).transform(OpCache.ckptPartitioned)
    // node count measured off the degree table's own materialization
    // (checkpointCounted — no extra job); walk count is nodes ×
    // walksPerNode and CONSTANT across steps (a walk moves, never dies),
    // so one measurement gates every step's broadcasts.
    val (deg, nNodes) = checkpointCounted(
      adj.groupBy(col("a")).agg(count(lit(1)).as("deg")))
    // frontier/degree tables are walk-/node-sized; the static planner
    // can't see that through the checkpoints (guide §3.1: broadcast where
    // stats are invisible), and without the hint each step SHUFFLED the
    // whole O(E) indexed adjacency on (a, idx) — the dominant per-step
    // cost measured at round 16. Past the budget the joins keep the old
    // co-partitioned shuffles — the 100 TB path where a billion walks
    // can't broadcast.
    // (the walk frontier is the larger side: walksPerNode rows per node)
    val small = OpCache.fitsDriver(pairs.sparkSession, nNodes, walksPerNode)
    var frontier = deg.select(col("a"))
      .select(explode(sequence(lit(0), lit(walksPerNode - 1))).as("w"), col("a"))
      .select((col("a") * walksPerNode + col("w")).as("walk"), col("a").as("cur"))
      .localCheckpoint()
    var out = frontier.select(col("walk"), lit(0).as("step"), col("cur").as("node"))
    for (step <- 1 to length) {
      val k = expr("cast(conv(substr(md5(concat_ws(':', walk, " +
        s"$step)), 1, 13), 16, 10) as bigint)")
      val fk = frontier
        .join(if (small) broadcast(deg) else deg, frontier("cur") === deg("a"))
        .select(col("walk"), col("cur"), (k % col("deg")).as("k"))
      frontier =
        if (small)
          // walk-sized side broadcasts INTO the u-partitioned adjacency:
          // the O(E) table streams from its checkpoint, zero exchanges
          adj.join(broadcast(fk),
              col("cur") === adj("a") && col("k") === adj("idx"))
            .select(col("walk"), col("b").as("cur"))
        else
          fk.join(adj, col("cur") === adj("a") && col("k") === adj("idx"))
            .select(col("walk"), col("b").as("cur"))
      out = out.unionByName(
        frontier.select(col("walk"), lit(step).as("step"), col("cur").as("node")))
      if (step % 4 == 0 && step < length) frontier = frontier.localCheckpoint()
    }
    out.select(expr(s"walk div $walksPerNode").as("start"),
        (col("walk") % walksPerNode).cast("int").as("w"),
        col("step"), col("node"))
  }

  /** [[randomWalks]] over the customer–supplier trading graph, readable
    * labels — the embedding-corpus twin of [[transactionRank]]'s
    * topology: these walks are what a skip-gram pass (§2c 42bj) turns
    * into graph-embedding training pairs.
    */
  def transactionWalks(spark: SparkSession, dir: String,
                       length: Int = 4, walksPerNode: Int = 2): DataFrame = {
    val pairs = tradingPairs(spark, dir)
    randomWalks(pairs, length, walksPerNode)
      .select(tradingLabel("start").as("start"), col("w"), col("step"),
        tradingLabel("node").as("node"))
      .orderBy(col("start"), col("w"), col("step"))
  }

  /** Rank customers and suppliers by transitive transaction influence:
    * PageRank over the bipartite customer–supplier graph induced by
    * order lines (an edge per distinct trading relationship). A supplier
    * ranks high for serving many well-connected customers, not merely
    * many lines — the iterative signal a join+count can't produce.
    */
  def transactionRank(spark: SparkSession, dir: String, iters: Int = 3): DataFrame = {
    // Nodes iterate as PACKED LONGS (the trading-node codec): the dedup,
    // every per-round join, and the rank groupBy all hash 8-byte keys
    // instead of strings; the human-readable label is a final O(V)
    // projection, after the iteration is done.
    val pairs = tradingPairs(spark, dir)
    pageRank(pairs, iters)
      .select(tradingLabel("node").as("node"), col("pr"))
      .orderBy(col("pr").desc, col("node"))
  }

  /** Newman modularity of a node→community assignment — the quality
    * audit every community detection (28bb) should be read with:
    * Q = Σ_c [ e_c/m − (d_c/2m)² ]. Emits one row per community with its
    * EXACT integer evidence (node count, internal edge count, degree
    * sum) plus the term in micro under one fixed double tree (the exact
    * integer spelling 4·m·e_c − d_c² overflows int64 at corpus edge
    * counts).
    *
    * Scale shape: three O(E) equality shuffles (two label joins on the
    * edge endpoints, one degree groupBy) + community-sized rollups —
    * map-side partial agg absorbs hub skew everywhere; `m` rides a
    * broadcast 1-row cross join, never a driver round-trip.
    * `communities` needs (node, lbl); `pairs` needs (src, dst).
    */
  def modularity(pairs: DataFrame, communities: DataFrame): DataFrame = {
    val e = canonicalEdges(pairs, cache = true)
    val m = e.groupBy().agg(count(lit(1)).as("m"))
    val lab = communities.select(col("node"), col("lbl"))
    val internal = e
      .join(lab.select(col("node").as("a"), col("lbl").as("la")), "a")
      .join(lab.select(col("node").as("b"), col("lbl").as("lb")), "b")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("lbl")).agg(count(lit(1)).as("internal_edges"))
    val deg = e.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val byComm = lab.join(deg, "node")
      .groupBy(col("lbl"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("degree_sum"))
    byComm.join(internal, Seq("lbl"), "left")
      .na.fill(0L, Seq("internal_edges"))
      .crossJoin(broadcast(m))
      .select(col("lbl"), col("n_nodes"), col("internal_edges"),
        col("degree_sum"),
        expr("""cast(round((cast(internal_edges as double) / cast(m as double)
          - (cast(degree_sum as double) / (2.0D * cast(m as double)))
            * (cast(degree_sum as double) / (2.0D * cast(m as double))))
          * 1000000.0D) as bigint)""").as("q_micro"))
  }

  /** [[modularity]] of the trading graph under NATION communities — the
    * attribute-homophily audit (Newman's assortative mixing by a
    * categorical attribute): do customers trade with same-nation
    * suppliers more than a degree-preserving null model predicts? The
    * attribute assignment keeps the fixture meaningful where structural
    * communities degenerate (the graph is bipartite, so label prop
    * splits it by side with ZERO internal edges — Q is then trivially
    * −Σ(d_c/2m)²); the operator itself takes any (node, lbl) table, so
    * detected communities plug in where the topology supports them.
    */
  def transactionModularity(spark: SparkSession, dir: String): DataFrame = {
    val pairs = tradingPairs(spark, dir)
    val lab = Tables.customer(spark, dir)
      .select(customerNode(col("c_custkey")).as("node"),
        col("c_nationkey").cast("long").as("lbl"))
      .unionByName(Tables.supplier(spark, dir)
        .select(supplierNode(col("s_suppkey")).as("node"),
          col("s_nationkey").cast("long").as("lbl")))
    modularity(pairs, lab)
      .select(concat(lit("n"), col("lbl").cast("string")).as("label"),
        col("n_nodes"), col("internal_edges"), col("degree_sum"), col("q_micro"))
      .orderBy(col("label"))
  }

  /** Degree assortativity (Newman 2002) — does the graph wire hubs to
    * hubs (r > 0) or hubs to leaves (r < 0)? The one-number topology
    * audit that decides whether hub-aware plans (orientation, salting)
    * matter on a given corpus. Over the symmetric directed edge entries
    * (x, y) = (deg(src), deg(dst)), symmetry makes the two marginals
    * equal, so r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²) — no square roots.
    * Products AND sums fold in exact decimal (factors widened to
    * decimal(18,0) before the multiply — x·y itself overflows int64 at
    * degrees past ~3e9; DuckDB's HUGEINT matches), converted to double once
    * from the same exact integers on both engines; NULL on the
    * zero-variance (regular-graph) denominator rather than an
    * engine-divergent inf cast. One degree groupBy + two broadcast-able
    * joins of the degree table onto the edges + a single global agg.
    */
  def assortativity(pairs: DataFrame): DataFrame = {
    val e = canonicalEdges(pairs, cache = true)
    val sym = e.select(explode(array(
        struct(col("a").as("u"), col("b").as("v")),
        struct(col("b").as("u"), col("a").as("v")))).as("s"))
      .select(col("s.u").as("u"), col("s.v").as("v"))
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    sym
      .join(deg.select(col("u"), col("deg").as("x")), "u")
      .join(deg.select(col("u").as("v"), col("deg").as("y")), "v")
      .groupBy()
      .agg(count(lit(1)).as("m2"),
        sum(col("x").cast("decimal(38,0)")).as("s_sum"),
        // factors cast to decimal BEFORE the multiply: degree products
        // overflow int64 past ~3e9, and a post-hoc cast would only bless
        // the already-wrapped value — decimal(18,0)² is exact to 1e36
        sum(col("x").cast("decimal(18,0)") * col("x").cast("decimal(18,0)"))
          .as("sq_sum"),
        sum(col("x").cast("decimal(18,0)") * col("y").cast("decimal(18,0)"))
          .as("p_sum"))
      .select(col("m2"),
        col("s_sum").cast("double").as("s_sum"),
        col("sq_sum").cast("double").as("sq_sum"),
        col("p_sum").cast("double").as("p_sum"),
        expr("""case when cast(m2 as double) * cast(sq_sum as double)
            - cast(s_sum as double) * cast(s_sum as double) <> 0.0D then
          cast(round((cast(m2 as double) * cast(p_sum as double)
              - cast(s_sum as double) * cast(s_sum as double))
            / (cast(m2 as double) * cast(sq_sum as double)
              - cast(s_sum as double) * cast(s_sum as double))
            * 1000000.0D) as bigint) end""").as("r_micro"))
  }

  /** Source-sampled Brandes betweenness centrality (Brandes 2001) — the
    * classic "who brokers the traffic" score: for each sampled source s,
    * a forward BFS counts shortest paths (σ, exact long sums), then a
    * backward per-level sweep accumulates the dependency
    * δ_s(v) = Σ_{w : d(w)=d(v)+1, v∼w} σ(v)·(1 + δ_s(w))/σ(w); the
    * emitted score is Σ_s δ_s(v) over the sample (exact betweenness
    * needs all |V| sources — the standard estimator samples them).
    * δ folds in fixed-point micro with truncating integer division
    * (order-free long sums), so the whole computation is engine-exact
    * and the oracle unrolls the same levels forward and backward.
    *
    * Scale shape: SOURCE-BATCHED — the per-source σ/δ ride as fixed-
    * width array payloads on node-keyed rows (the standard multi-source
    * Brandes batching), so the forward pass is one O(frontier-edges)
    * groupBy per level on the pre-partitioned checkpointed adjacency
    * (σ merging map-side as k unrolled codegen'd sums), and the backward
    * pass one join-per-level between adjacent node-keyed level tables
    * (each O(level size)) — row counts independent of the sample size,
    * never O(sources × edges) and never a global iteration over V.
    * Levels are data-bounded by the sample's eccentricity and capped at
    * `maxDepth`.
    * σ stays in int64 — ~10¹⁸ shortest paths per node is beyond any
    * real co-occurrence graph at this diameter; corpora past that bound
    * should sample more sources, not wider counts. The backward sweep's
    * σ·(1e6+δ) product is computed in decimal(38,0) (not int64): δ grows
    * with the reachable-node count, so the COMBINED product can pass
    * 9.2e18 long before σ alone does — decimal keeps it exact to 1e38,
    * matching DuckDB's int128 arithmetic instead of wrapping.
    */
  /** Source-batched undirected BFS — the shared forward machine of
    * [[betweenness]] and [[harmonic]]: level l's table is (node,
    * sig: array<long>) with sig[i] = σ_i(node) where d_i(node) = l and
    * 0 otherwise (sig[i] > 0 IS per-source level membership). Returns
    * the u-partitioned checkpointed adjacency and the level tables
    * (level 0 = the sources themselves). Row counts are O(frontier),
    * independent of the sample size — see [[betweenness]]'s scale notes.
    */
  private def bfsLevelsBatched(pairs: DataFrame, srcs: Seq[Long], maxDepth: Int)
      : (DataFrame, Seq[DataFrame], Seq[Long]) = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val k = srcs.size
    // broadcast sides are (node, k-long array) rows: k + 1 longs wide
    def fits(rows: Long) = OpCache.fitsDriver(spark, rows, k + 1)
    val adj = partitionedAdjacency(canonicalEdges(pairs, cache = false))
    // level0: one row per source node; sig[i] = 1 where this node IS
    // source i. A LocalRelation — checkpointing a k-row table would
    // burn an eager job for nothing, and these queries are
    // job-count-bound at bench scale (~17 driver-synchronized jobs
    // measured ≈ the wall).
    val level0 = srcs.map(s => (s, srcs.map(x => if (x == s) 1L else 0L)))
      .toDF("node", "sig")
    val levels = scala.collection.mutable.ArrayBuffer(level0)
    val counts = scala.collection.mutable.ArrayBuffer(k.toLong)
    // the per-source visited set, derived LAZILY per level as the
    // element-wise OR over the (already checkpointed) level tables —
    // an incremental merged table would need either an eager job per
    // level or an O(depth²) re-executed join chain
    def seen: DataFrame = levels
      .map(_.select(col("node"), col("sig")))
      .reduce(_ unionByName _)
      .groupBy(col("node"))
      .agg(array((0 until k).map(i =>
        max(when(col("sig")(i) > 0L, 1).otherwise(0))): _*).as("seen"))
    var frontierSize = k.toLong
    var visited = k.toLong
    var depth = 0
    while (frontierSize > 0L && depth < maxDepth) {
      depth += 1
      val cur = levels.last
      // frontier and visited sets are measured (accumulator counts), so
      // gate EXPLICIT broadcasts on them — AQE would only discover the
      // same thing after materializing a shuffle of the adjacency first
      // (each level's join re-exchanged the full O(E) edge list, the
      // single biggest per-level cost measured at round 15), and the
      // checkpointed frontier's stats are unknown to the static planner.
      // Past the budget the joins fall back to co-partitioned shuffles
      // against the hash-partitioning-preserving adjacency checkpoint —
      // the 100 TB path.
      val fr = cur.withColumnRenamed("node", "u")
      // propagate σ along edges, merge per node (k map-combined sums),
      // then zero the components whose source already visited the node —
      // the element-wise mask IS the per-source anti-join
      val contrib = adj
        .join(if (fits(frontierSize)) broadcast(fr) else fr, Seq("u"))
        .groupBy(col("v").as("node"))
        .agg(array((0 until k).map(i => sum(col("sig")(i))): _*).as("sig"))
      val sn = seen
      val next = contrib
        .join(if (fits(visited)) broadcast(sn) else sn, Seq("node"), "left")
        .select(col("node"), array((0 until k).map(i =>
          when(col("seen").isNull || col("seen")(i) === 0,
            col("sig")(i)).otherwise(0L)): _*).as("sig"))
        .filter(expr("exists(sig, x -> x > 0)"))
      val (ck, cnt) = checkpointCounted(next)
      frontierSize = cnt
      visited += cnt
      if (cnt > 0L) { levels += ck; counts += cnt }
    }
    (adj, levels.toSeq, counts.toSeq)
  }

  def betweenness(pairs: DataFrame, sources: Seq[Long],
                  maxDepth: Int = 8): DataFrame = {
    require(sources.nonEmpty && maxDepth >= 1)
    val spark = pairs.sparkSession
    import spark.implicits._
    val n = spark.sessionState.conf.numShufflePartitions
    // SOURCE-BATCHED: the per-source σ/δ ride as fixed-width array
    // payloads on node-keyed rows instead of (src, node) rows — the
    // standard multi-source Brandes batching. Every join and shuffle is
    // O(edges touched), not O(sources × edges): the round-12 row-keyed
    // shape measured ~6× this shuffle volume on the 6-source sample,
    // and at a 1000-executor scale the source sample GROWS, so the
    // array packing is the difference between per-source cost and
    // amortized cost. k per-element sums unroll at plan-build time
    // (k is a driver constant), staying inside whole-stage codegen.
    val srcs = sources.distinct.sorted
    val k = srcs.size
    def esum(arr: String) = // element-wise array sum as k codegen'd aggs
      array((0 until k).map(i => sum(col(arr)(i))): _*)
    val (adj, levels, lvlCounts) = bfsLevelsBatched(pairs, srcs, maxDepth)
    if (levels.size == 1)
      return spark.emptyDataset[(Long, Long)].toDF("node", "bc_micro")
    // the backward sweep joins the adjacency on its OTHER end every
    // level. When every level fits the broadcast budget the level tables
    // broadcast INTO the u-partitioned adjacency (zero edge-list
    // shuffles: the adjacency streams, and even the δ groupBy on u is
    // exchange-free on the preserved hash partitioning), so the
    // v-partitioned copy is never built. It materializes LAZILY, once,
    // only when some level is too big to broadcast — the 100 TB path,
    // where one v-repartition replaces a per-level re-shuffle.
    lazy val adjR = OpCache.ckptPartitioned(adj.repartition(n, col("v")))
    val zeros = array((0 until k).map(_ => lit(0L)): _*)
    var acc: DataFrame = null
    var deltaNext: DataFrame = null // δ of level l+1 (null ⇒ all-zero)
    for (l <- levels.size - 2 to 0 by -1) {
      // level tables are (node, k-array) rows, as in bfsLevelsBatched
      val small = OpCache.fitsDriver(spark, math.max(lvlCounts(l + 1), lvlCounts(l)), k + 1)
      val down0 = levels(l + 1)
        .select(col("node").as("v"), col("sig").as("sw"))
      val down =
        if (deltaNext == null) down0.withColumn("dw", zeros)
        else down0.join(
            // δ(l+1) is level-sized — same budget as its level table
            { val d = deltaNext.select(col("node").as("v"), col("delta").as("dw"))
              if (small) broadcast(d) else d },
            Seq("v"), "left")
          .select(col("v"), col("sw"), coalesce(col("dw"), zeros).as("dw"))
      val up = levels(l)
        .select(col("node").as("u"), col("sig").as("su"))
      // plain lineage, not checkpointed: each δ-level is consumed twice
      // (next level's join + the final union); both consumers see the
      // SAME subplan, so its shuffle is computed once per action via
      // exchange reuse, and the forward `levels` are already
      // checkpointed — the deepest lineage is the δ-chain itself.
      // sw[i] > 0 marks "w is at level l+1 for source i" and su[i] > 0
      // "u at level l" — the element-wise guards ARE the per-source
      // consecutive-level edge filter (0·x and x/0 components drop out).
      deltaNext = (if (small)
          adj.join(broadcast(down), Seq("v")).join(broadcast(up), Seq("u"))
        else adjR.join(down, Seq("v")).join(up, Seq("u")))
        .select(col("u").as("node"), array((0 until k).map { i =>
          // σ·(1e6+δ) in decimal(19,0)² = decimal(38,0): int64 wraps
          // silently (non-ANSI) once σ·δ passes 9.2e18 while DuckDB
          // errors — decimal keeps the product exact to 1e38; the
          // QUOTIENT is ≤ 1e6·(subtree size) and fits long by miles
          when(col("sw")(i) > 0L && col("su")(i) > 0L,
            expr(s"cast(su[$i] as decimal(19,0))" +
              s" * cast(1000000 + dw[$i] as decimal(19,0)) div sw[$i]"))
            .otherwise(0L)
        }: _*).as("part"),
          // existence mask: component i had ≥1 consecutive-level edge —
          // the row-keyed shape emitted a (src, node) δ-row exactly then,
          // and the output row set (incl. legitimate δ=0 rows) must match
          array((0 until k).map { i =>
            when(col("sw")(i) > 0L && col("su")(i) > 0L, 1).otherwise(0)
          }: _*).as("ex"))
        .groupBy(col("node"))
        .agg(esum("part").as("delta"),
          array((0 until k).map(i => max(col("ex")(i))): _*).as("ex"))
        // eagerly materialized per level: δ(l) is consumed by BOTH the
        // next level's join and the final union, and leaving the chain
        // lazy measured ~1.5× the CPU — AQE plans each union branch
        // independently, so exchange reuse does NOT dedupe the shared
        // δ-subplans and the chain recomputes O(depth²). With node-keyed
        // array rows a level is small; one job per level is the cheaper
        // side of the trade (measured both ways at bench scale).
        .transform(OpCache.ckptPartitioned)
      acc = if (acc == null) deltaNext else acc.unionByName(deltaNext)
    }
    // a source's own δ-components are excluded (Brandes sums δ_s(v) over
    // v ≠ s): with array payloads that is an element mask. A node stays
    // in the output iff some NON-OWN component existed at some level —
    // matching the row-keyed shape's (src, node) row set exactly, zero-δ
    // rows included, own-source-only nodes excluded.
    acc.select(col("node"),
        (0 until k).map(i =>
          when(col("node") === lit(srcs(i)), 0L).otherwise(col("delta")(i)))
          .reduce(_ + _).as("part"),
        (0 until k).map(i =>
          when(col("node") === lit(srcs(i)), 0).otherwise(col("ex")(i)))
          .reduce(_ + _).as("exn"))
      .groupBy(col("node"))
      .agg(sum(col("part")).as("bc_micro"), max(col("exn")).as("exn"))
      .filter(col("exn") > 0)
      .select(col("node"), col("bc_micro"))
  }

  /** [[betweenness]] of the trading graph from a fixed six-entity source
    * sample (customers 1–3, suppliers 1–3 — deterministic, engine-
    * portable; sources outside the graph contribute nothing on both
    * sides), readable labels, brokers first.
    */
  def transactionBetweenness(spark: SparkSession, dir: String): DataFrame = {
    val pairs = tradingPairs(spark, dir)
    betweenness(pairs, Seq(2L, 4L, 6L, 3L, 5L, 7L))
      .select(tradingLabel("node").as("node"), col("bc_micro"))
      .orderBy(col("bc_micro").desc, col("node"))
  }

  /** [[assortativity]] of the trading graph. */
  def transactionAssortativity(spark: SparkSession, dir: String): DataFrame = {
    val pairs = tradingPairs(spark, dir)
    assortativity(pairs)
  }

  /** Sampled harmonic centrality (Marchiori–Latora 2000; Boldi–Vigna's
    * axiomatic pick among the closeness family BECAUSE it handles
    * disconnected graphs — unreachable pairs contribute 0, no ∞):
    * H(v) = Σ_s 1/d(s, v) over the source sample, in exact micro fixed
    * point (`1e6 div d` — order-free long sums, engine-exact). Reuses
    * the source-batched BFS ([[bfsLevelsBatched]]): a node at level l
    * for m sources contributes m·(1e6 div l), so the whole score is one
    * projection per level table + a node groupBy — no per-source rows,
    * no backward sweep. Sources score each other; a source's own 0-level
    * self term is excluded by construction (it is never re-reached).
    */
  def harmonic(pairs: DataFrame, sources: Seq[Long],
               maxDepth: Int = 8): DataFrame = {
    require(sources.nonEmpty && maxDepth >= 1)
    val spark = pairs.sparkSession
    import spark.implicits._
    val srcs = sources.distinct.sorted
    val k = srcs.size
    val (_, levels, _) = bfsLevelsBatched(pairs, srcs, maxDepth)
    if (levels.size == 1)
      return spark.emptyDataset[(Long, Long)].toDF("node", "h_micro")
    (1 until levels.size).map { l =>
      levels(l).select(col("node"),
        ((0 until k).map(i => when(col("sig")(i) > 0L, 1L).otherwise(0L))
          .reduce(_ + _) * lit(1000000L / l)).as("h"))
    }.reduce(_ unionByName _)
      .groupBy(col("node"))
      .agg(sum(col("h")).as("h_micro"))
  }

  /** Neighborhood function / hop plot over the source sample (Palmer et
    * al.'s ANF diagnostic — "how much of the graph is within h hops",
    * whose knee is the effective diameter; also the number that says
    * whether a BFS-shaped workload converges in 3 rounds or 30): per hop
    * h, `n_new` = Σ_s |{v : d_s(v) = h}| and `n_cum` its running total.
    * Reuses the source-batched BFS ([[bfsLevelsBatched]]): each level
    * table contributes one map-combined count projection, and the
    * cumulative rides the range-partitioned running sum — no per-source
    * rows, no single-task window, nothing beyond the BFS itself.
    */
  def hopPlot(pairs: DataFrame, sources: Seq[Long],
              maxDepth: Int = 8): DataFrame = {
    require(sources.nonEmpty && maxDepth >= 1)
    val srcs = sources.distinct.sorted
    val k = srcs.size
    val (_, levels, _) = bfsLevelsBatched(pairs, srcs, maxDepth)
    val per = levels.zipWithIndex.map { case (lv, h) =>
      lv.select(lit(h.toLong).as("h"),
        (0 until k).map(i => when(col("sig")(i) > 0L, 1L).otherwise(0L))
          .reduce(_ + _).as("m"))
    }.reduce(_ unionByName _)
      .groupBy(col("h")).agg(sum(col("m")).as("n_new"))
    Rank.withRunningSum(per, Seq(col("h")), "n_new", "n_cum")
      .orderBy(col("h"))
  }

  /** [[hopPlot]] of the trading graph from the fixed six-entity sample. */
  def transactionHopPlot(spark: SparkSession, dir: String): DataFrame =
    hopPlot(tradingPairs(spark, dir), Seq(2L, 4L, 6L, 3L, 5L, 7L))

  /** Effective diameter off the [[hopPlot]] table (Palmer et al.'s ANF
    * readout: the hop count at which the neighborhood function covers
    * `permille` of everything it ever reaches — the single number that
    * says whether a BFS-shaped workload converges in 3 rounds or 30):
    * the SMALLEST h with 1000·cum(h) ≥ permille·total, plus the exact
    * coverage evidence. Integer end-to-end; the 1-row total is a
    * measured broadcast.
    */
  def effectiveDiameter(pairs: DataFrame, sources: Seq[Long],
                        permille: Int = 900, maxDepth: Int = 8): DataFrame = {
    require(permille >= 1 && permille <= 1000)
    val hp = hopPlot(pairs, sources, maxDepth)
    val tot = hp.agg(max(col("n_cum")).as("total"))
    hp.crossJoin(broadcast(tot))
      .filter(col("n_cum") * 1000 >= col("total") * permille)
      .orderBy(col("h"))
      .limit(1)
      .select(col("h").as("eff_diameter"), col("n_cum"), col("total"),
        expr("(1000 * n_cum) div total").as("coverage_permille"))
  }

  /** [[effectiveDiameter]] of the trading graph from the fixed sample. */
  def transactionEffDiameter(spark: SparkSession, dir: String): DataFrame =
    effectiveDiameter(tradingPairs(spark, dir), Seq(2L, 4L, 6L, 3L, 5L, 7L))

  /** [[harmonic]] of the trading graph from the fixed six-entity sample
    * (the [[transactionBetweenness]] sources), readable labels, most
    * central first.
    */
  def transactionHarmonic(spark: SparkSession, dir: String): DataFrame = {
    val pairs = tradingPairs(spark, dir)
    harmonic(pairs, Seq(2L, 4L, 6L, 3L, 5L, 7L))
      .select(tradingLabel("node").as("node"), col("h_micro"))
      .orderBy(col("h_micro").desc, col("node"))
  }
}
