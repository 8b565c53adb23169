package perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.Graft
import graft.ops.{Dedup, Graph, TextAnalysis}

/** The training-data path: exact dedup, near-duplicate pairs, connected
  * components, dropping non-canonical documents, a report on the
  * near-duplicate graph (PageRank centrality and its 2-core), a
  * duplicate-span report, the quality gate, the split and sequence
  * packing, written to parquet.
  * Each stage's output is checkpointed, as a staged pipeline would be.
  * Every round curates a different seeded corpus of the same shape, and
  * operator caches are released at the end of each round. There is no
  * warm-up: like a user's one-shot curation job, the first round runs in a
  * fresh JVM, and the corpus is sized so one round outlasts the run length.
  * Item: an input document. Request: one whole pipeline run.
  */
final class Curate extends Workload {
  val name = "curate"
  val requestKinds = Seq("pipeline")

  val BaseDocs = 1200
  val ExactGroups = 60
  val Chains = 36
  val ChainLen = 6
  val Corpora = 2
  val Threshold = 0.7
  val PackTokens = 2048L
  val PageRankIters = 3
  val CoreK = 2
  val Scale = 1000000000L

  private var corpora: Vector[(String, Vector[TextDoc])] = Vector.empty

  private def write(ctx: Ctx, dir: File, seed: Long, base: Int, exact: Int, chains: Int): (String, Vector[TextDoc]) = {
    val docs = Gen.corpus(seed, base, exact, chains, ChainLen)
    val spark = ctx.spark
    import spark.implicits._
    val path = dir.getAbsolutePath
    docs.map(d => (d.id, d.text)).toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(path)
    (path, docs)
  }

  def prepare(ctx: Ctx, rep: Int): Unit = {
    val root = new File(ctx.dir, s"curate-setup$rep")
    corpora = (0 until Corpora).map(i =>
      write(ctx, new File(root, s"corpus-$i"), ctx.seed * 1000 + i, BaseDocs, ExactGroups, Chains)).toVector
  }

  private var pairs = Vector.empty[Double]

  /** One pipeline run, then the checks of its outputs. */
  private def pipeline(ctx: Ctx, p: Pass, corpus: (String, Vector[TextDoc]), out: String): Unit = {
    val t = p.tracer
    val (path, docs) = corpus
    val ran = p.call("pipeline", "curate.pipeline") {
      val input = t.span("api.load")(Graft.load(ctx.spark, path))
      val keep = t.span("ops.exact_dedup") {
        TextAnalysis.exactDedup(input, col("doc_id"), col("text"))
          .select(col("keep_id").as("doc_id")).localCheckpoint()
      }
      val afterExact = input.join(keep, "doc_id")
      val nearPairs = t.span("ops.near_dup_pairs") {
        val ps = Dedup.ngramJaccardPairs(afterExact, col("doc_id"), col("text"), Threshold)
          .select("id1", "id2").localCheckpoint()
        pairs :+= ps.count().toDouble
        ps
      }
      val deduped = t.span("ops.components") {
        val clusters = Dedup.connectedComponents(nearPairs)
        val drop = clusters.filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
        afterExact.join(drop, Seq("doc_id"), "left_anti").localCheckpoint()
      }
      // which near-duplicates are central, and which form cycles rather
      // than chains: the graph operators on the pair graph
      val pairGraph = nearPairs.select(col("id1").as("src"), col("id2").as("dst"))
      val ranks = t.span("ops.pagerank")(Graph.pageRank(pairGraph, PageRankIters, Scale).collect())
      val core = t.span("ops.kcore")(Graph.kCore(pairGraph, CoreK).collect())
      t.span("ops.dup_spans") {
        TextAnalysis.dupSpans(deduped, col("doc_id"), col("text"))
          .agg(count(lit(1)), coalesce(sum(col("span_len")), lit(0L))).collect()
      }
      val kept = t.span("ops.quality_gate") {
        TextAnalysis.qualityGate(deduped, col("doc_id"), col("text"))
          .filter(col("keep")).select("doc_id")
          .join(deduped, "doc_id").localCheckpoint()
      }
      t.span("ops.pack") {
        TextAnalysis.packSequences(TextAnalysis.assignSplit(kept, "doc_id"), "doc_id",
          ceil(length(col("text")) / 4.0), PackTokens)
          .write.mode("overwrite").parquet(out)
      }
      Dedup.unpersistShared()
      (deduped, kept, nearPairs, ranks, core)
    }
    p.items += docs.size
    ran.foreach { case (deduped, kept, nearPairs, ranks, core) => p.untimed {
      val survivors = deduped.select("doc_id").collect().map(_.getLong(0)).toSet
      val keptIds = kept.select("doc_id").collect().map(_.getLong(0))
      val edges = nearPairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      p.check("PageRank mass over the near-duplicate graph is conserved") {
        GraphChecks.pageRankConserved(ranks, edges, PageRankIters, Scale)
      }
      p.check(s"the $CoreK-core of the near-duplicate graph equals a local peel") {
        GraphChecks.coreIsExact(core, edges, CoreK)
      }
      p.check("each planted duplicate group keeps exactly one member") {
        docs.filter(_.group >= 0).groupBy(_.group).values
          .forall(g => g.count(d => survivors(d.id)) == 1)
      }
      p.check("every kept doc lands in exactly one packed row") {
        val packed = ctx.spark.read.parquet(out).select("doc_id", "seq_id").collect()
        val ids = packed.map(_.getLong(0))
        ids.length == keptIds.length && ids.toSet == keptIds.toSet
      }
    }}
  }

  def pass(ctx: Ctx, p: Pass, traced: Boolean): Unit = {
    pairs = Vector.empty
    val out = new File(ctx.dir, s"curate-out-${if (traced) "traced" else "plain"}").getAbsolutePath
    p.start()
    while (!p.done) {
      pipeline(ctx, p, corpora(p.rounds % corpora.size), s"$out/round-${p.rounds}")
      p.rounds += 1
    }
    p.stop()
  }

  def layers(ctx: Ctx, p: Pass, c: SparkCounters): Map[String, Double] = {
    val self = Main.medianSelfMs(p.tracer.spans)
    val stages = Seq("exact_dedup", "near_dup_pairs", "components", "pagerank", "kcore",
      "dup_spans", "quality_gate", "pack")
    val out = new File(ctx.dir, "curate-out-traced").getAbsolutePath
    stages.map(s => s"ops.${s}_ms" -> self.getOrElse(s"ops.$s", 0.0)).toMap ++ Map(
      "api.load_ms" -> self.getOrElse("api.load", 0.0),
      "ops.near_dup_pairs" -> (if (pairs.isEmpty) 0.0 else Stats.median(pairs)),
      "ops.components_jobs" -> Main.medianJobs(p.tracer.spans, c, "ops.components"),
      "ops.kcore_jobs" -> Main.medianJobs(p.tracer.spans, c, "ops.kcore"),
      "spark.output_files" -> Main.newFiles(Seq(out), Set.empty).toDouble)
  }
}
