package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  test("nearest-rank percentile and median") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.9) == 90.0)
    assert(Stats.percentile(xs, 1.0) == 100.0)
    assert(Stats.percentile(Seq(5.0), 0.5) == 5.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("a percentile is reported only with at least ten samples beyond it") {
    assert(Stats.beyond(100, 0.9) == 10)
    assert(Stats.supported(100, 0.9))
    assert(!Stats.supported(99, 0.9))
    assert(Stats.supported(20, 0.5) && !Stats.supported(19, 0.5))
    assert(Stats.tailPercentile(9).isEmpty)
    assert(Stats.tailPercentile(20).contains(0.5))
    assert(Stats.tailPercentile(40).contains(0.75))
    assert(Stats.tailPercentile(150).contains(0.9))
    assert(Stats.tailPercentile(1000).contains(0.99))
    for (n <- 1 to 2000; p <- Stats.tailPercentile(n))
      assert(Stats.beyond(n, p) >= 10, s"n=$n p=$p")
  }

  test("self time subtracts the union of overlapping children, clipped to the parent") {
    val spans = Seq(
      Span(0, "root", -1, "r", 0, 100),
      Span(1, "a", 0, "r", 10, 40),
      Span(2, "b", 0, "r", 30, 60), // overlaps a: [10, 60] counts once
      Span(3, "c", 0, "r", 90, 120), // runs past the parent: only [90, 100]
      Span(4, "d", 1, "r", 15, 20)) // grandchild: a's time, not root's
    val self = Trace.selfTimes(spans)
    assert(self(0) == 100 - 50 - 10)
    assert(self(1) == 30 - 5)
    assert(self(2) == 30 && self(3) == 30 && self(4) == 5)
    assert(Trace.covered(Seq((0L, 10L), (5L, 15L), (20L, 25L), (3L, 3L))) == 20)
  }

  test("the tracer nests spans and reports open-span changes") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    val t = new Tracer(true, "run", seen += _)
    t.span("outer")(t.span("inner")(()))
    val Seq(outer, inner) = t.spans
    assert(outer.name == "outer" && outer.parent == -1)
    assert(inner.name == "inner" && inner.parent == outer.id)
    assert(seen.toSeq == Seq(0, 1, 0, -1))
    val off = new Tracer(false, "run")
    assert(off.span("x")(42) == 42 && off.spans.isEmpty)
  }

  test("generators: the same seed gives identical inputs, another seed different ones") {
    def sessions(seed: Long) = Gen.sessions(seed).take(40).toVector
    assert(sessions(7) == sessions(7))
    assert(sessions(7) != sessions(8))
    assert(Gen.topicStoreBytes(sessions(7)(0)).sameElements(Gen.topicStoreBytes(sessions(7)(0))))
    assert(Gen.corpus(7, 100, 5, 4, 6) == Gen.corpus(7, 100, 5, 4, 6))
    assert(Gen.corpus(7, 100, 5, 4, 6) != Gen.corpus(8, 100, 5, 4, 6))
    assert(Gen.graph(7, 200, 3, 0.6) == Gen.graph(7, 200, 3, 0.6))
    assert(Gen.graph(7, 200, 3, 0.6) != Gen.graph(8, 200, 3, 0.6))
  }

  test("generated inputs have the planted properties") {
    val sessions = Gen.sessions(3).take(1500).toVector
    val docs = sessions.flatten
    assert(docs.map(_.id) == (1L to docs.size.toLong))
    assert(sessions.forall(s => s.map(_.session).distinct.size == 1))
    assert(math.abs(docs.size / 1500.0 - Gen.SessionMean) < 1.0)
    val sizes = sessions.map(_.size.toDouble)
    val sd = math.sqrt(sizes.map(n => (n - Gen.SessionMean) * (n - Gen.SessionMean)).sum / sizes.size)
    assert(sd > 7.0 && sd < 9.5, s"session size sd $sd")
    val byTopic = docs.groupBy(_.topic)
    assert(byTopic.keySet == Gen.Topics.map(_.name).toSet)
    assert(byTopic.values.forall(ds => math.abs(ds.size.toDouble / docs.size - 0.2) < 0.01))
    Gen.Topics.foreach { t =>
      val lens = byTopic(t.name).map(_.data.length).toSet
      assert(lens == (0 to t.maxRepeat).map(t.payload + t.extra * _).toSet, t.name)
    }
    assert(docs.forall(d => d.sysTimeMs >= Gen.WindowStartMs && d.sysTimeMs < Gen.WindowStartMs + Gen.WindowMs))
    assert(sessions.forall(s => s.map(_.sysTimeMs) == s.map(_.sysTimeMs).sorted))
    val gaps = sessions.flatMap(s => s.zip(s.tail).map { case (a, b) => (b.sysTimeMs - a.sysTimeMs).toDouble })
    val meanGap = Gen.WindowMs / (Gen.SessionMean + 1)
    assert(math.abs(gaps.sum / gaps.size / meanGap - 1.0) < 0.03)
    val corpus = Gen.corpus(3, 200, 10, 6, 6)
    val groups = corpus.filter(_.group >= 0).groupBy(_.group)
    assert(groups.size == 16 && groups.values.forall(_.size >= 2))
    assert(corpus.map(_.id).distinct.size == corpus.size)
    val edges = Gen.graph(3, 300, 3, 0.6)
    assert(edges.forall { case (a, b) => a < b } && edges.distinct.size == edges.size)
    assert(Gen.degeneracy(edges) >= 3)
    assert(Gen.degeneracy(Seq((1L, 2L), (2L, 3L), (1L, 3L))) == 2)
  }

  test("the local k-core peel keeps exactly the nodes of degree >= k among survivors") {
    // a triangle with a tail: the tail peels in two rounds
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    assert(GraphChecks.kCore(edges, 2) == Map(1L -> 2, 2L -> 2, 3L -> 2))
    assert(GraphChecks.kCore(edges, 3).isEmpty)
    assert(GraphChecks.kCore(edges, 1).keySet == (1L to 5L).toSet)
  }

  test("metric names and units follow the result format") {
    val all = Metrics.EndToEnd ++ Metrics.PerLayer
    all.foreach { m =>
      assert(Metrics.validName(m.name), m.name)
      assert(Metrics.validUnit(m.unit), m.unit)
      assert(Set("lower", "higher")(m.better), m.name)
    }
    assert(all.map(_.name).distinct.size == all.size)
    assert(Main.Workloads.keys.forall(Metrics.validName))
    assert(!Metrics.validName("_x") && !Metrics.validName("a b") && !Metrics.validName("x" * 65))
  }

  test("BENCHMARK.json lists exactly the metrics the benchmark prints") {
    val f = Seq(new File("../BENCHMARK.json"), new File("BENCHMARK.json")).find(_.isFile)
    assume(f.isDefined, "BENCHMARK.json not found")
    val json = new ObjectMapper().readTree(f.get)
    def defs(key: String) = json.get(key).elements().asScala.map { m =>
      MetricDef(m.get("name").asText, m.get("unit").asText, m.get("better").asText)
    }.toSeq
    assert(defs("end_to_end") == Metrics.EndToEnd)
    assert(defs("per_layer") == Metrics.PerLayer)
    val workloads = json.get("workloads").elements().asScala.map(_.get("name").asText).toSeq
    assert(workloads.forall(Main.Workloads.contains))
  }
}
