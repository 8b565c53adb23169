package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.Row

import graft.api.Graft
import graft.ops.{Dedup, Graph}

/** A written graph: the parquet path, its edges, the BFS sources and the
  * k-core order used (the graph's degeneracy, so the core is the innermost
  * non-empty one and peeling takes several rounds).
  */
final case class GraphInput(path: String, edges: Vector[(Long, Long)], sources: Seq[Long], coreK: Int)

private final case class GraphResults(pr: Array[Row], h: Array[Row], bc: Array[Row],
                                      core: Array[Row], truss: Array[Row])

/** Graph analytics on a degree-skewed Holme-Kim graph: PageRank,
  * harmonic centrality, betweenness, k-core and k-truss, in that order,
  * each result collected. Operator caches are released at the end of each
  * round. There is no warm-up: like a user's one-shot analysis job, the
  * first round runs in a fresh JVM. Item: an edge processed by one
  * operator. Request: one round of all five operators.
  */
final class GraphWorkload extends Workload {
  val name = "graph"
  val requestKinds = Seq("round")

  val Nodes = 400
  val EdgesPerNode = 3
  val TriadProb = 0.6
  val Sources = 6
  val PageRankIters = 3
  val TrussK = 4
  val Scale = 1000000000L

  private var input: GraphInput = _

  private def write(ctx: Ctx, dir: File, seed: Long, nodes: Int): GraphInput = {
    val edges = Gen.graph(seed, nodes, EdgesPerNode, TriadProb)
    val spark = ctx.spark
    import spark.implicits._
    edges.toDF("src", "dst").coalesce(1).write.mode("overwrite").parquet(dir.getAbsolutePath)
    val rng = new Random(seed ^ 0xbeef)
    val nodeIds = edges.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
    GraphInput(dir.getAbsolutePath, edges, rng.shuffle(nodeIds).take(Sources).sorted,
      Gen.degeneracy(edges))
  }

  def prepare(ctx: Ctx, rep: Int): Unit = {
    val root = new File(ctx.dir, s"graph-setup$rep")
    input = write(ctx, new File(root, "edges"), ctx.seed, Nodes)
  }

  private def round(ctx: Ctx, p: Pass, in: GraphInput): Unit = {
    val t = p.tracer
    val ran = p.call("round", "graph.round") {
      val pairs = t.span("api.load")(Graft.load(ctx.spark, in.path))
      val r = GraphResults(
        t.span("ops.pagerank")(Graph.pageRank(pairs, PageRankIters, Scale).collect()),
        t.span("ops.harmonic")(Graph.harmonic(pairs, in.sources).collect()),
        t.span("ops.betweenness")(Graph.betweenness(pairs, in.sources).collect()),
        t.span("ops.kcore")(Graph.kCore(pairs, in.coreK).collect()),
        t.span("ops.ktruss")(Graph.kTruss(pairs, TrussK).collect()))
      Dedup.unpersistShared()
      r
    }
    p.items += in.edges.size * 5.0
    ran.foreach(r => p.untimed(check(p, in, r)))
  }

  private def check(p: Pass, in: GraphInput, r: GraphResults): Unit = {
    import GraphChecks._
    val adj = adjacency(in.edges)
    p.check("PageRank mass is conserved up to per-edge floor loss") {
      pageRankConserved(r.pr, in.edges, PageRankIters, Scale)
    }
    p.check(s"every ${in.coreK}-core survivor keeps degree >= ${in.coreK} among survivors") {
      r.core.nonEmpty && coreIsExact(r.core, in.edges, in.coreK)
    }
    p.check(s"every $TrussK-truss edge keeps support >= ${TrussK - 2} among survivors") {
      val kept = r.truss.map(x => (x.getAs[Long]("a"), x.getAs[Long]("b")))
      val sub = adjacency(kept)
      kept.nonEmpty && kept.forall { case (a, b) => (sub(a) intersect sub(b)).size >= TrussK - 2 }
    }
    p.check("harmonic centrality equals a breadth-first recount from the sources") {
      val want = mutable.Map.empty[Long, Long].withDefaultValue(0L)
      in.sources.foreach { s =>
        val dist = mutable.Map(s -> 0)
        var frontier = Seq(s)
        var d = 0
        while (frontier.nonEmpty && d < 8) {
          d += 1
          frontier = frontier.flatMap(adj(_)).distinct.filterNot(dist.contains)
          frontier.foreach { v => dist(v) = d; want(v) += 1000000L / d }
        }
      }
      r.h.map(x => x.getAs[Long]("node") -> x.getAs[Long]("h_micro")).toMap == want.toMap
    }
    p.check("betweenness is non-negative on known nodes") {
      r.bc.forall(x => x.getAs[Long]("bc_micro") >= 0 && adj.contains(x.getAs[Long]("node")))
    }
  }

  def pass(ctx: Ctx, p: Pass, traced: Boolean): Unit = {
    p.start()
    while (!p.done) {
      round(ctx, p, input)
      p.rounds += 1
    }
    p.stop()
  }

  def layers(ctx: Ctx, p: Pass, c: SparkCounters): Map[String, Double] = {
    // harmonic, betweenness and kTruss have no per-layer metric: their
    // self times are in the spans file
    val self = Main.medianSelfMs(p.tracer.spans)
    Map(
      "ops.pagerank_ms" -> self.getOrElse("ops.pagerank", 0.0),
      "ops.kcore_ms" -> self.getOrElse("ops.kcore", 0.0),
      "api.load_ms" -> self.getOrElse("api.load", 0.0),
      "ops.kcore_jobs" -> Main.medianJobs(p.tracer.spans, c, "ops.kcore"))
  }
}

/** Checks of graph results against the edge list they were computed from. */
object GraphChecks {
  def adjacency(edges: Iterable[(Long, Long)]): Map[Long, Set[Long]] =
    edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }

  /** The k-core by local peeling: node -> degree among survivors. */
  def kCore(edges: Iterable[(Long, Long)], k: Int): Map[Long, Int] = {
    var adj = adjacency(edges)
    var low = adj.filter(_._2.size < k).keySet
    while (low.nonEmpty) {
      adj = adj.removedAll(low).map { case (v, ns) => v -> (ns -- low) }
      low = adj.filter(_._2.size < k).keySet
    }
    adj.map { case (v, ns) => v -> ns.size }
  }

  /** `Graph.kCore` rows (node, core_deg) equal the local peel. */
  def coreIsExact(rows: Array[Row], edges: Iterable[(Long, Long)], k: Int): Boolean =
    rows.map(r => r.getAs[Long]("node") -> r.getAs[Long]("core_deg").toInt).toMap == kCore(edges, k)

  /** `Graph.pageRank` rows rank every node, and the total rank is the
    * starting mass less at most one unit of floor loss per directed edge
    * and iteration.
    */
  def pageRankConserved(rows: Array[Row], edges: Iterable[(Long, Long)], iters: Int,
                        scale: Long): Boolean = {
    val nodes = adjacency(edges).size
    val total = rows.map(_.getAs[Long]("pr")).foldLeft(BigInt(0))(_ + _)
    val loss = BigInt(nodes) * scale - total
    rows.length == nodes && loss >= 0 && loss <= BigInt(2L * edges.size * iters)
  }
}
