package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Similarity, TextAnalysis, Multimodal}

/** Semantic checks for the training-data operators at sf0.001. */
class DataOpsSpec extends AnyFunSuite {
  import TestSession._

  private def docs = Tables.documents(spark, sf)
  private def emb = Tables.embeddings(spark, sf)

  test("ngram jaccard pairs are all above threshold and symmetric-free") {
    val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 0.5).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getAs[Double]("jaccard") >= 0.5)
      assert(r.getAs[Long]("id1") < r.getAs[Long]("id2"))
    }
  }

  test("classifier lift concentrates positives in top deciles on real data") {
    val lift = TextAnalysis.classifierLift(docs, col("doc_id"), col("text"),
      col("lang") === "en").collect()
    assert(lift.length === 10)
    val n = lift.map(_.getLong(1)).sum
    assert(n === docs.count())
    // deciles partition the corpus near-evenly (ntile contract)
    assert(lift.map(_.getLong(1)).max - lift.map(_.getLong(1)).min <= 1)
    // margins are non-increasing across deciles (rank order respected)
    lift.sliding(2).foreach {
      case Array(a, b) => assert(a.getLong(6) >= b.getLong(6))
      case _ =>
    }
    // rate/lift arithmetic is internally consistent: Σ n_pos of the
    // deciles is the corpus positive count, and a decile at exactly
    // base rate reads lift 1000‰ by construction
    val posTot = lift.map(_.getLong(2)).sum
    val basePermille = 1000L * posTot / n
    lift.foreach { r =>
      assert(r.getLong(3) === 1000L * r.getLong(2) / r.getLong(1))
      if (r.getLong(3) == basePermille && basePermille > 0)
        assert(r.getLong(4) === 1000L * r.getLong(3) / basePermille)
    }
  }

  test("novelty: a verbatim copy scores 0, fresh text scores 1000") {
    import spark.implicits._
    val tiny = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // exact copy
      (3L, "completely different words about nothing at all here"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.novelty(tiny, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out(1L) === 1000L) // everything is first in corpus order
    assert(out(2L) === 0L) // every gram already seen in doc 1
    assert(out(3L) === 1000L)
  }

  test("feature hashing: fixed width, exact signed counts, deterministic") {
    import spark.implicits._
    val tiny = Seq((1L, "alpha alpha alpha", "s"), (2L, "alpha beta", "s"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.featureHash(tiny, col("doc_id"), col("text"), dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // doc 1 is one token tripled: exactly one bucket, |val| = 3
    val d1 = out.filter(_._1._1 == 1L)
    assert(d1.size === 1 && math.abs(d1.head._2) === 3L)
    // the shared token lands in the same bucket with the same sign per doc
    val alphaIdx = d1.head._1._2
    assert(out((2L, alphaIdx)) * d1.head._2 > 0)
    // width bound and determinism over the real corpus
    val feats = TextAnalysis.featureHash(docs, col("doc_id"), col("text"))
    assert(feats.filter(col("idx") < 0 || col("idx") >= 1024).count() === 0)
    assert(feats.exceptAll(
      TextAnalysis.featureHash(docs, col("doc_id"), col("text"))).count() === 0)
  }

  test("ks matrix: zero for identical strata, one for disjoint, pairwise parity") {
    import spark.implicits._
    val tiny = Seq(("s0", 1L), ("s0", 2L), ("s1", 1L), ("s1", 2L),
      ("s2", 10L), ("s2", 20L)).toDF("source", "n_chars")
    val out = TextAnalysis.ksDriftMatrix(tiny, col("source"), col("n_chars"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(4), r.getLong(5), r.getDouble(6))).toMap
    assert(out(("s0", "s1")) === ((1L, 0L, 0.0))) // identical: sup 0 at min x
    assert(out(("s0", "s2")) === ((2L, 4L, 1.0))) // disjoint: full separation
    assert(out(("s1", "s2")) === ((2L, 4L, 1.0)))
    // the matrix row for (src0, src1) equals the dedicated pairwise op
    val m = TextAnalysis.ksDriftMatrix(docs, col("source"), col("n_chars"))
      .filter(col("source_a") === "src0" && col("source_b") === "src1")
      .select("na", "nb", "x_at", "ks_num", "ks").collect().map(_.toSeq)
    val p = TextAnalysis.ksDrift(docs, col("source"), col("n_chars"),
        "src0", "src1")
      .select("na", "nb", "x_at", "ks_num", "ks").collect().map(_.toSeq)
    assert(m.toSeq === p.toSeq && m.nonEmpty)
  }

  test("doc embeddings: 16 integer dims, composition of hash and signs") {
    import spark.implicits._
    val tiny = Seq((1L, "alpha alpha alpha"), (2L, "alpha alpha alpha"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.docEmbed(tiny, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // one tripled token → every coordinate is ±3; identical docs get
    // identical vectors
    (0 until 16).foreach { j =>
      assert(math.abs(out((1L, j))) === 3L)
      assert(out((1L, j)) === out((2L, j)))
    }
    // full width on the real corpus, deterministic across runs
    val e1 = TextAnalysis.docEmbed(docs, col("doc_id"), col("text"))
    assert(e1.groupBy("doc_id").count().filter(col("count") =!= 16).count() === 0)
    assert(e1.exceptAll(
      TextAnalysis.docEmbed(docs, col("doc_id"), col("text"))).count() === 0)
  }

  test("prefix filtering equals uncapped brute Jaccard — the exactness contract") {
    // the whole point of the op: identical answer to the all-candidate
    // uncapped join, with only prefix shingles ever used as block keys
    val brute = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 0.5,
        maxDocFreq = None, cache = false)
      .select("id1", "id2", "shared").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val pref = Dedup.prefixJaccardPairs(docs, col("doc_id"), col("text"), 500,
        cache = false)
      .select("id1", "id2", "shared").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pref === brute)
    assert(pref.nonEmpty)
  }

  test("minhash LSH candidates recall all high-jaccard pairs") {
    val exact = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 0.8)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.lshCandidates(docs, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = exact -- lsh
    assert(missed.isEmpty, s"LSH missed high-similarity pairs: $missed")
  }

  test("simhash is deterministic and near-dups have small hamming") {
    val sh = Dedup.simhash(docs, col("doc_id"), col("text"))
    val sh2 = Dedup.simhash(docs, col("doc_id"), col("text"))
    assert(sh.join(sh2.withColumnRenamed("simhash", "s2"), "doc_id")
      .filter(col("simhash") =!= col("s2")).count() === 0)
    // identical text => identical simhash
    val dup = docs.limit(1).select(lit(1L).as("doc_id"), col("text"))
      .union(docs.limit(1).select(lit(2L).as("doc_id"), col("text")))
    val hashes = Dedup.simhash(dup, col("doc_id"), col("text"))
      .select("simhash").collect().map(_.getLong(0))
    assert(hashes(0) === hashes(1))
  }

  test("simhash block-join pairs match the brute-force hamming filter") {
    val sh = Dedup.simhash(docs, col("doc_id"), col("text"))
    val brute = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("h"))
      .filter(col("h") <= 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = Dedup.simhashPairs(docs, col("doc_id"), col("text"), 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked === brute, "pigeonhole block join lost or invented pairs")
  }

  test("simhashPairs rejects block widths that degenerate at scale") {
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs, col("doc_id"), col("text"), 2, numBlocks = 10)
    }
    intercept[IllegalArgumentException] { // numBlocks <= maxHamming: no recall guarantee
      Dedup.simhashPairs(docs, col("doc_id"), col("text"), 3, numBlocks = 3)
    }
  }

  test("simhashPairs hot-bucket cap bounds degenerate corpora") {
    import spark.implicits._
    // 50 near-empty docs share one simhash (one hot bucket per block);
    // 2 healthy near-dup docs must still pair up after the cap drops it.
    val healthy = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val degen = ((1L to 50L).map(i => (i, "x")) ++
      Seq((100L, healthy), (101L, healthy))).toDF("doc_id", "text")
    val capped = Dedup.simhashPairs(degen, col("doc_id"), col("text"), 2,
        maxBucketDocs = Some(10))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((100L, 101L)),
      "cap should drop only the degenerate bucket, keeping healthy pairs")
  }

  test("connected components propagate labels transitively") {
    import spark.implicits._
    // chain 1-2, 2-3, plus isolated pair 10-11 → clusters {1,2,3} and {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("star-contraction CC matches min-label CC and converges on deep chains") {
    import spark.implicits._
    // same shape as the min-label test...
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val cc = Dedup.connectedComponentsStars(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))

    // ...plus the case min-label propagation can't do in bounded rounds: a
    // path of length 64 needs 64 label hops, but star contraction halves
    // tree heights per alternation and lands well inside maxIter
    val chain = (0L until 64L).map(i => (i, i + 1)).toDF("id1", "id2")
    val deep = Dedup.connectedComponentsStars(chain, maxIter = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(deep.length === 65)
    assert(deep.forall(_._2 === 0L), "every chain vertex labels to the min (0)")

    // hub graph (one vertex adjacent to everything) — the skew case the
    // star variant exists for — plus a random sprinkle of extra edges
    val hub = ((1L to 200L).map(i => (0L, i)) ++
      (1L to 50L).map(i => (i * 3 % 200 + 1, i * 7 % 200 + 1)).filter(p => p._1 != p._2))
      .toDF("id1", "id2")
    val hubCc = Dedup.connectedComponentsStars(hub).collect()
    assert(hubCc.length === 201)
    assert(hubCc.forall(_.getLong(1) === 0L))
  }

  test("both CC variants accept union-shaped inputs with literal-column children") {
    // regression: symmetric edge expansion via swapped-alias self-union
    // tripped UnionBase.rewriteConstraints ("key not found") when the
    // pair input was itself a union carrying a literal column — the shape
    // any programmatically-assembled edge list (benchmark generators,
    // multi-source pair unions) naturally has
    val hubEdges = spark.range(1, 501).select(lit(0L).as("id1"), col("id").as("id2"))
    val pathEdges = spark.range(100).select(
      (lit(1000L) + col("id")).as("id1"), (lit(1000L) + col("id") + 1).as("id2"))
    val randEdges = spark.range(400).select(
      (lit(2000L) + pmod(hash(col("id")), lit(200))).as("id1"),
      (lit(2000L) + pmod(hash(col("id"), lit(1)), lit(200))).as("id2"))
      .filter(col("id1") =!= col("id2"))
    val graph = hubEdges.unionByName(pathEdges).unionByName(randEdges)
    val stars = Dedup.connectedComponentsStars(graph)
    assert(stars.filter(col("doc_id") <= 500L && col("cluster_id") =!= 0L).count() === 0)
    // the 101-node path needs 101 min-label rounds (100 hops + the check)
    val minLabel = Dedup.connectedComponents(graph, maxIter = 120)
    assert(minLabel.filter(col("doc_id") <= 500L && col("cluster_id") =!= 0L).count() === 0)
    // the distributed rounds plan the explode over the union shape too;
    // without the path they converge inside the default maxIter
    val shortGraph = hubEdges.unionByName(randEdges)
    val minLabelDist = distributed(Dedup.connectedComponents(shortGraph).collect())
    assert(minLabelDist.count(r => r.getLong(0) <= 500L && r.getLong(1) != 0L) === 0)
  }

  test("both connected-components paths fail instead of returning unconverged labels") {
    import spark.implicits._
    // a 25-node path needs 25 min-label rounds; 20 must not be enough
    val path = (0L until 24L).map(i => (i, i + 1)).toDF("id1", "id2")
    for ((name, run) <- Seq[(String, (=> Unit) => Unit)](
        "driver" -> (f => f), "distributed" -> (f => distributed(f)))) {
      val e = intercept[IllegalArgumentException](
        run(Dedup.connectedComponents(path, maxIter = 20).collect()))
      assert(e.getMessage.contains("did not converge within 20 rounds"), name)
    }
    // the star variant's cap fails the same way
    intercept[IllegalArgumentException](
      Dedup.connectedComponentsStars(path, maxIter = 1).collect())
  }

  test("heavy hitters are exact, never miss above the MG bound, and reject unsafe k") {
    import spark.implicits._
    // one true heavy item among 100 light ones, k=8 forces real
    // Misra-Gries compression (101 distinct items >> 8 counters)
    val data = (Seq.fill(500)("h") ++ (1 to 100).flatMap(i => Seq.fill(5)(s"t$i")))
      .toDF("item").repartition(8)
    val hh = TextAnalysis.heavyHitters(data, col("item"), 0.3, k = 8).collect()
    assert(hh.map(r => (r.getString(0), r.getLong(1))).toSeq === Seq(("h", 500L)),
      "the heavy item must survive sketching with its EXACT count")

    // minFraction below 1/(k+1): recall can't be guaranteed — must refuse
    intercept[IllegalArgumentException] {
      TextAnalysis.heavyHitters(data, col("item"), 0.05, k = 8)
    }
  }

  test("heavy tokens equal the exact full group-by on the corpus") {
    val toks = docs.select(explode(TextAnalysis.tokens(col("text"))).as("token"))
    val total = toks.count()
    val minCount = math.ceil(total * 0.01).toLong
    val exact = toks.groupBy("token").agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") >= minCount)
      .orderBy("token").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val sketched = TextAnalysis.heavyTokens(docs, col("text"), 0.01)
      .orderBy("token").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(exact.nonEmpty)
    assert(sketched === exact)
  }

  test("sequence packing equals the naive global window and survives partition changes") {
    val docs = Tables.documents(spark, sf)
    def packed(): Seq[(Long, Long, Long)] =
      TextAnalysis.packSequences(docs, "doc_id", ceil(col("n_chars") / 4.0), 2048L)
        .select("doc_id", "seq_id", "seq_tokens").orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

    // ground truth: the single global window (fine at test scale)
    val u = (expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 13), 16, 10) as double)")
      + lit(0.5)) / lit(4503599627370496.0)
    val w = org.apache.spark.sql.expressions.Window.orderBy("__u", "doc_id")
    val naive = docs.withColumn("__u", u)
      .withColumn("__tok", ceil(col("n_chars") / 4.0).cast("long"))
      .withColumn("__start", sum("__tok").over(w) - col("__tok"))
      .select(col("doc_id"), floor(col("__start") / 2048L).as("seq_id"),
        col("__tok").as("seq_tokens"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

    val dist = packed()
    assert(dist === naive, "distributed prefix sum must equal the global window")
    assert(dist.map(_._2).distinct.length > 1, "fixture should span multiple sequences")

    // the packing must not depend on the partition count
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      assert(packed() === naive, "packing changed with the partition count")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("sequence packing stays exact at 1e5 rows across 32 buckets") {
    // regression: the first implementation derived offsets from physical
    // partition ids after repartitionByRange — whose SAMPLED bounds differ
    // between the sums job and the final job (sampler seeded per RDD
    // instantiation), silently misplacing almost every row at real scale
    // while a 500-doc spec passed. Bucketing on the uniform order key is
    // job-invariant by construction; this guards it at a size where >1
    // bucket is actually populated per the 32-way layout.
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      val data = spark.range(100000).select(col("id"),
        (pmod(col("id"), lit(900)) + 100).as("tok"))
      val dist = TextAnalysis.packSequences(data, "id", col("tok"), 65536L)
        .select("id", "seq_id").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val u = (expr("cast(conv(substr(md5(cast(`id` as string)), 1, 13), 16, 10) as double)")
        + lit(0.5)) / lit(4503599627370496.0)
      val w = org.apache.spark.sql.expressions.Window.orderBy("__u", "id")
      val naive = data.withColumn("__u", u)
        .withColumn("__start", sum(col("tok").cast("long")).over(w) - col("tok"))
        .select(col("id"), floor(col("__start") / 65536L).as("seq_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(dist === naive)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("source mixing keeps nested hash samples at the target fractions") {
    val docs = Tables.documents(spark, sf)
    val half = TextAnalysis.mixSources(docs, "doc_id", col("source"), Map("src0" -> 0.5))
    val tenth = TextAnalysis.mixSources(docs, "doc_id", col("source"), Map("src0" -> 0.1))
    val halfIds = half.filter(col("source") === "src0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val tenthIds = tenth.filter(col("source") === "src0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(tenthIds.subsetOf(halfIds),
      "re-weighting down must only REMOVE docs, never churn the selection")
    // unnamed strata pass through untouched
    val others = half.filter(col("source") =!= "src0").count()
    assert(others === docs.filter(col("source") =!= "src0").count())
    // 25 docs per source: a 0.5 cut should land in a plausible band
    assert(halfIds.size >= 5 && halfIds.size <= 20, s"src0 kept ${halfIds.size}/25")
  }

  test("source report rolls the quality gate up per source with exact permille shares") {
    val docs = Tables.documents(spark, sf)
    val rep = TextAnalysis.sourceReport(docs, col("doc_id"), col("source"), col("text"))
      .collect()
    val gate = TextAnalysis.qualityGate(docs, col("doc_id"), col("text"))
      .select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val toks = docs.select(col("doc_id"), col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("tok"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val bySrc = toks.groupBy(_._2)
    val tot = toks.map(_._3).sum
    assert(rep.length === bySrc.size)
    rep.foreach { r =>
      val s = r.getAs[String]("source")
      val g = bySrc(s)
      val kept = g.filter(d => gate(d._1))
      val nTok = g.map(_._3).sum
      assert(r.getAs[Long]("n_docs") === g.size.toLong)
      assert(r.getAs[Long]("n_tokens") === nTok)
      assert(r.getAs[Long]("n_kept") === kept.size.toLong)
      assert(r.getAs[Long]("kept_tokens") === kept.map(_._3).sum)
      assert(r.getAs[Long]("token_share_permille") === nTok * 1000L / tot)
      assert(r.getAs[Long]("kept_permille") === kept.size.toLong * 1000L / g.size)
    }
  }

  test("token-budget mixing equals a naive per-source window and nests under budget increases") {
    val docs = Tables.documents(spark, sf)
    def mixed(budget: Long): Seq[(Long, String, Long, Long)] =
      TextAnalysis.mixBudget(docs, "doc_id", col("source"),
          ceil(col("n_chars") / 4.0), budget)
        .select("doc_id", "source", "tok", "start_tok").orderBy("doc_id")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq

    // ground truth: per-source global window + driver-side sqrt budgets
    val tokDf = docs.select(col("doc_id"), col("source"),
      ceil(col("n_chars") / 4.0).cast("long").as("tok"))
    val totals = tokDf.groupBy("source").agg(sum("tok").as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val weights = totals.map { case (s, t) =>
      s -> math.floor(math.sqrt(t.toDouble)).toLong
    }
    val wSum = weights.values.sum
    val budget = 20000L
    val budgets = weights.map { case (s, w) => s -> budget * w / wSum }
    val u = (expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 13), 16, 10) as double)")
      + lit(0.5)) / lit(4503599627370496.0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("__u", "doc_id")
    val naive = tokDf.withColumn("__u", u)
      .withColumn("start_tok", sum("tok").over(w) - col("tok"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("tok"), r.getAs[Long]("start_tok")))
      .filter { case (_, s, _, st) => st < budgets(s) }
      .sortBy(_._1).toSeq
    val dist = mixed(budget)
    assert(dist === naive, "bucketed prefix sum must equal the per-source window")
    assert(dist.nonEmpty && dist.size < docs.count(),
      s"budget should cut a strict subset, kept ${dist.size}")
    // spending more budget only ADDS docs — mixture tuning never churns
    val bigger = mixed(budget * 2).map(_._1).toSet
    assert(dist.map(_._1).toSet.subsetOf(bigger),
      "a larger budget must keep every previously selected doc")
    // every source gets a slice (sqrt flattening guarantees small ones do)
    assert(dist.map(_._2).distinct.size === totals.size)
  }

  test("weighted sample is partition-invariant and weight-biased") {
    // 900 light items (w=1) vs 100 heavy (w=100): heavy mass is ~92% of
    // total weight, so a 50-sample should be dominated by heavy ids
    val data = spark.range(1000).select(col("id"),
      when(col("id") >= 900, 100.0).otherwise(1.0).as("w"))
    val s1 = TextAnalysis.weightedSample(data, "id", col("w"), 50)
      .select("id").collect().map(_.getLong(0)).toSet
    val s2 = TextAnalysis.weightedSample(data.repartition(13), "id", col("w"), 50)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(s1 === s2, "hash-derived scores must make the sample partition-invariant")
    assert(s1.size === 50)
    assert(s1.count(_ >= 900) > 30, s"heavy items underrepresented: $s1")

    // non-positive weights are never sampled
    val withZero = spark.range(1000).select(col("id"),
      when(col("id") < 990, 0.0).otherwise(1.0).as("w"))
    val s3 = TextAnalysis.weightedSample(withZero, "id", col("w"), 50)
      .select("id").collect().map(_.getLong(0))
    assert(s3.length === 10 && s3.forall(_ >= 990))
  }

  test("brute-force ANN ranks are dense per query") {
    val res = Similarity.bruteTopK(emb, emb.filter(col("vec_id") < 3), 5).collect()
    val byQuery = res.groupBy(_.getLong(0))
    assert(byQuery.size === 3)
    byQuery.values.foreach { rows =>
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq === (1 to 5))
    }
  }

  test("fixed-point kmeans is partition-invariant and recovers planted clusters") {
    import spark.implicits._
    // 8 well-separated clusters in 16 dims, INTERLEAVED by id so the
    // deterministic first-k init (vec_id < 8) seeds one centroid per
    // cluster — the geometry Lloyd provably tightens.
    val n = 400
    val vecs = (0L until n).map { id =>
      val c = (id % 8).toInt
      val v = Array.tabulate(16) { d =>
        val jitter = ((id * 31 + d * 7) % 97).toFloat / 97f * 0.1f
        (if (d == 2 * c) 1f else 0f) + jitter
      }
      (id, v.toSeq)
    }.toDF("vec_id", "embedding")

    val (c1, n1) = Similarity.kmeansFixedPointCentroids(vecs, 8, iters = 4, dims = 16)
    val (c2, n2) =
      Similarity.kmeansFixedPointCentroids(vecs.repartition(7), 8, iters = 4, dims = 16)
    assert(c1.map(_.toSeq).toSeq === c2.map(_.toSeq).toSeq,
      "fixed-point centroids must be bit-identical under any partitioning")
    assert(n1.toSeq === n2.toSeq)
    assert(n1.sum === n, "every vector is assigned in every round")

    // purity: each planted cluster lands in exactly one trained cell and
    // the 8 cells are distinct (the planted structure is recovered)
    val assign = Similarity.kmeansAssign(vecs, 8, iters = 4, dims = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val cellsPerTruth = assign.groupBy { case (id, _) => id % 8 }
      .view.mapValues(_.map(_._2).distinct.toSeq).toMap
    cellsPerTruth.foreach { case (truth, cells) =>
      assert(cells.size === 1, s"planted cluster $truth split across cells $cells")
    }
    assert(cellsPerTruth.values.flatten.toSet.size === 8,
      "two planted clusters merged into one cell")
  }

  test("fixed-point kmeans keeps empty-cell centroids and reports zero members") {
    import spark.implicits._
    // ids 1..7 duplicate id 0's vector: every round, all rows land in ONE
    // cell (the lowest-objective tie-winner — cell 0 in round 1; the
    // round-1 truncating update may nudge c0 off the half-away init, so
    // round 2's winner is whichever of {updated c0, init c1} scores
    // lower). The other 7 cells never host a member: they must keep the
    // init quantization and report n_members = 0.
    val v0 = Array.tabulate(16)(d => (d + 1).toFloat / 16f).toSeq
    val vecs = (0L until 8L).map(id => (id, v0)).toDF("vec_id", "embedding")
    val rows = Similarity.kmeansTrain(vecs, 8, iters = 2, dims = 16)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byCell = rows.groupBy(_._1)
    val counts = byCell.view.mapValues(_.head._4).toMap
    assert(counts.values.toSeq.sorted.reverse === (8L +: Seq.fill(7)(0L)),
      s"exactly one cell hosts all duplicates, got $counts")
    val winner = counts.collectFirst { case (c, 8L) => c }.get
    assert(winner <= 1L, "the winner can only be cell 0 or the lowest init cell 1")
    // empty cells that were NEVER updated keep the init quantization
    (2L to 7L).foreach { c =>
      assert(counts(c) === 0L)
      byCell(c).sortBy(_._2).zipWithIndex.foreach { case ((_, _, cm, _), d) =>
        assert(cm === math.round(v0(d).toDouble * 1000.0))
      }
    }
  }

  test("ivfpq rerank orders the ADC shortlist by exact cosine") {
    val q = emb.filter(col("vec_id") < 3)
    val shortlist = Similarity.ivfPqTopK(emb, q, 50).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    // exact cosine order over the whole corpus (rank-ordered, superset)
    val exact = Similarity.bruteTopK(emb, q, 100000).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    val rer = Similarity.ivfPqRerankTopK(emb, q, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    assert(rer.nonEmpty)
    rer.foreach { case (qid, neighbors) =>
      val expected = exact(qid).filter(shortlist(qid)).take(neighbors.length)
      assert(neighbors === expected,
        s"query $qid: rerank must equal exact-cosine order of its shortlist")
    }
  }

  test("fixed-point perceptron learns a separable corpus and is partition-invariant") {
    import spark.implicits._
    // planted separable signal: positive docs are vowel-heavy, negatives
    // vowel-free — the f4 (vowel-ratio) feature alone separates them
    val texts = (0L until 200L).map { id =>
      val pos = id % 2 == 0
      val word = if (pos) "aeiou" else "xyzrt"
      (id, (Seq.fill(6 + (id % 5).toInt)(word) :+ s"d$id").mkString(" "), pos)
    }.toDF("doc_id", "text", "pos")

    val (traj, nMis) =
      TextAnalysis.classifierTrajectory(texts, col("doc_id"), col("text"),
        col("pos"), iters = 7)
    assert(nMis(0) === 200L, "zero weights misclassify everything")
    assert(nMis(7) === 0L, s"separable corpus must converge, got ${nMis.toSeq}")

    // full-batch updates are order- and partitioning-invariant
    val (traj2, nMis2) =
      TextAnalysis.classifierTrajectory(texts.repartition(7), col("doc_id"),
        col("text"), col("pos"), iters = 7)
    assert(traj.map(_.toSeq).toSeq === traj2.map(_.toSeq).toSeq)
    assert(nMis.toSeq === nMis2.toSeq)

    // scoring against the trained weights separates perfectly, and the
    // margin evidence agrees with the prediction
    val scored = TextAnalysis.classifierScore(texts, col("doc_id"),
      col("text"), col("pos"), iters = 7).collect()
    assert(scored.length === 200)
    scored.foreach { r =>
      assert(r.getAs[Long]("pred") === r.getAs[Long]("y"),
        s"doc ${r.getLong(0)} misclassified after convergence")
      assert((r.getAs[Long]("margin") > 0) === (r.getAs[Long]("pred") === 1L))
    }
  }

  test("trained IVF centroids are deterministic and beat first-k recall on clustered data") {
    import spark.implicits._
    // 8 well-separated clusters in 16 dims, laid out in id blocks so the
    // first-k quantizer's centroids (vec_id < 8) ALL land in cluster 0 —
    // the pathological case trained centroids exist for.
    val n = 400
    val vecs = (0L until n).map { id =>
      val c = (id * 8 / n).toInt
      val v = Array.tabulate(16) { d =>
        val jitter = ((id * 31 + d * 7) % 97).toFloat / 97f * 0.1f
        (if (d == 2 * (c % 8)) 1f else 0f) + jitter
      }
      (id, v.toSeq)
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") % 50 === 25) // one per cluster

    val c1 = Similarity.kmeansCentroids(vecs, 8, iters = 5)
    val c2 = Similarity.kmeansCentroids(vecs, 8, iters = 5)
    assert(c1.map(_.toSeq).toSeq === c2.map(_.toSeq).toSeq, "training must be deterministic")

    val truth = Similarity.bruteTopK(vecs, queries, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (truth & got).size.toDouble / truth.size
    }
    val untrained = recall(Similarity.ivfTopK(vecs, queries, 10, kCells = 8, nprobe = 1))
    val trained = recall(Similarity.ivfTopK(vecs, queries, 10, kCells = 8, nprobe = 1,
      centroids = Some(c1)))
    assert(trained > untrained,
      s"trained recall $trained must beat first-k recall $untrained on clustered data")
    assert(trained >= 0.9, s"trained quantizer should recover same-cluster neighbors, got $trained")
  }

  test("incremental LSH dedup against a persisted band index matches the full self-join") {
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_bands").toString + "/bands"
    // job 1: index the corpus — bands persisted as an ordinary table
    Dedup.lshBands(docs.filter(col("doc_id") < 250), col("doc_id"), col("text"))
      .write.parquet(dir)
    // job 2: a new batch checks itself against the stored index only
    val viaIndex = Dedup.lshCandidatesAgainst(
        docs.filter(col("doc_id") >= 250), col("doc_id"), col("text"),
        spark.read.parquet(dir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ...and must find exactly the cross-set slice of the full self-join
    val full = Dedup.lshCandidates(docs, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val crossSet = full.collect { case (a, b) if a < 250 && b >= 250 => (b, a) }
    assert(viaIndex === crossSet)
    assert(viaIndex.nonEmpty, "fixture should contain cross-set near-dups")
  }

  test("semantic dedup drops exactly the in-cell smaller-id twins") {
    // independent in-memory reimplementation: assign each vector to its
    // max-cosine cell among the first 8, drop any vector with an in-cell
    // smaller-id twin at rounded cosine >= threshold
    val vecs = emb.orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def dot(a: Array[Double], b: Array[Double]) = a.zip(b).map(t => t._1 * t._2).sum
    def cos(a: Array[Double], b: Array[Double]) =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val cents = vecs.filter(_._1 < 8)
    val cell = vecs.map { case (id, v) =>
      id -> cents.map(c => (cos(v, c._2), -c._1)).zipWithIndex.maxBy(_._1)._2
    }.toMap
    val byId = vecs.toMap
    val expectedDropped = vecs.map(_._1).filter { id =>
      vecs.exists { case (o, ov) =>
        o < id && cell(o) == cell(id) &&
          BigDecimal(cos(ov, byId(id))).setScale(6, BigDecimal.RoundingMode.HALF_UP) >= 0.45
      }
    }.toSet
    val kept = Similarity.semanticDedup(emb, 0.45).collect().map(_.getLong(0)).toSet
    assert(kept === vecs.map(_._1).toSet -- expectedDropped)
    assert(expectedDropped.nonEmpty, "fixture should contain semantic twins")
  }

  test("LSH ANN results are a subset of same-bucket candidates with sane ranks") {
    val res = Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5), 5, 4)
    val rows = res.collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).values.foreach { rs =>
      val ranks = rs.map(_.getAs[Int]("rank")).sorted.toSeq
      assert(ranks === (1 to ranks.length))
    }
  }

  test("language id covers all docs with a valid label") {
    val langs = TextAnalysis.Markers.map(_._1).toSet
    val out = TextAnalysis.langId(docs, col("doc_id"), col("text")).collect()
    assert(out.length === docs.count())
    out.foreach(r => assert(langs.contains(r.getAs[String]("pred_lang"))))
  }

  test("quality score is bounded and token counts are consistent") {
    val q = TextAnalysis.qualityScore(docs, col("doc_id"), col("text")).collect()
    q.foreach { r =>
      assert(r.getAs[Double]("stop_ratio") >= 0 && r.getAs[Double]("stop_ratio") <= 1)
      assert(r.getAs[Long]("n_tokens") > 0)
    }
    val t = TextAnalysis.tokenCount(docs, col("doc_id"), col("text")).collect()
    t.foreach { r =>
      assert(r.getAs[Long]("n_ws_tokens") === r.getAs[Long]("n_alpha_runs"),
        "word-bag corpus: whitespace tokens should all be alpha runs")
    }
  }

  test("multimodal decode stub preserves rows, schema and consumes real bytes") {
    val assets = Multimodal.toAsset(Tables.events(spark, sf),
      col("event_id"), col("event_type"), col("props"))
    val feats = Multimodal.decodeFeatures(assets)
    assert(feats.schema === Multimodal.FeatureSchema)
    assert(feats.count() === assets.count())
    val r = feats.filter(col("n_bytes") > 0).limit(1).collect()(0)
    val f = r.getSeq[Float](r.fieldIndex("features"))
    assert(f.exists(_ > 0f), "features should reflect payload bytes")
  }

  /** A 1-second 8 kHz mono PCM16 WAV of a constant-amplitude square wave
    * (|sample| = 16384 everywhere → RMS exactly 0.5).
    */
  private def squareWav(rate: Int = 8000): Array[Byte] = {
    val n = rate
    val out = new java.io.ByteArrayOutputStream()
    def le2(v: Int) = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def le4(v: Int) = { le2(v & 0xffff); le2((v >> 16) & 0xffff) }
    out.write("RIFF".getBytes); le4(36 + 2 * n); out.write("WAVE".getBytes)
    out.write("fmt ".getBytes); le4(16); le2(1); le2(1); le4(rate)
    le4(rate * 2); le2(2); le2(16)
    out.write("data".getBytes); le4(2 * n)
    (0 until n).foreach(i => le2(if ((i / 4) % 2 == 0) 16384 else -16384 & 0xffff))
    out.toByteArray
  }

  /** A w×h 24-bit BMP filled with one color (b, g, r byte order, bottom-up
    * rows padded to 4 bytes).
    */
  private def solidBmp(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val rowBytes = (w * 3 + 3) & ~3
    val data = rowBytes * h
    val out = new java.io.ByteArrayOutputStream()
    def le2(v: Int) = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def le4(v: Int) = { le2(v & 0xffff); le2((v >> 16) & 0xffff) }
    out.write('B'); out.write('M'); le4(54 + data); le4(0); le4(54)
    le4(40); le4(w); le4(h); le2(1); le2(24); le4(0); le4(data)
    le4(2835); le4(2835); le4(0); le4(0)
    (0 until h).foreach { _ =>
      (0 until w).foreach { _ =>
        out.write(rgb & 0xff); out.write((rgb >> 8) & 0xff); out.write((rgb >> 16) & 0xff)
      }
      (w * 3 until rowBytes).foreach(_ => out.write(0))
    }
    out.toByteArray
  }

  test("real image resize: exact area-average per channel, skip on junk") {
    import spark.implicits._
    // left half red, right half blue, 8x4 → resized 2x2: each target
    // pixel covers a single-color 4x2 region — exact channel values
    val rowBytes = (8 * 3 + 3) & ~3
    val out = new java.io.ByteArrayOutputStream()
    def le2(v: Int) = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def le4(v: Int) = { le2(v & 0xffff); le2((v >> 16) & 0xffff) }
    out.write('B'); out.write('M'); le4(54 + rowBytes * 4); le4(0); le4(54)
    le4(40); le4(8); le4(4); le2(1); le2(24); le4(0); le4(rowBytes * 4)
    le4(2835); le4(2835); le4(0); le4(0)
    (0 until 4).foreach { _ =>
      (0 until 8).foreach { x =>
        if (x < 4) { out.write(0); out.write(0); out.write(0xCC) } // red (b,g,r)
        else { out.write(0xCC); out.write(0); out.write(0) }       // blue
      }
      (8 * 3 until rowBytes).foreach(_ => out.write(0))
    }
    val bmp = out.toByteArray
    val df = Seq((1L, "image/bmp", bmp), (2L, "junk", Array[Byte](9, 9)))
      .toDF("asset_id", "kind", "payload")
    val assets = Multimodal.toAsset(df, col("asset_id"), col("kind"), col("payload"))
    val resized = Multimodal.resizeImages(assets, targetW = 2, targetH = 2).collect()
    assert(resized.length === 1, "junk contributes no rows")
    val r = resized(0)
    assert(r.getInt(2) === 2 && r.getInt(3) === 2)
    val rgb = r.getAs[Array[Byte]](4)
    assert(rgb.length === 12)
    // row-major: both rows are [red, blue]
    Seq(0, 6).foreach { o =>
      assert((rgb(o) & 0xff, rgb(o + 1) & 0xff, rgb(o + 2) & 0xff) === ((0xCC, 0, 0)),
        s"left pixel at $o must be pure red")
      assert((rgb(o + 3) & 0xff, rgb(o + 4) & 0xff, rgb(o + 5) & 0xff) === ((0, 0, 0xCC)),
        s"right pixel at $o must be pure blue")
    }
    // downsizing to 1x1 mixes the halves exactly 50/50
    val one = Multimodal.resizeImages(assets, targetW = 1, targetH = 1).collect()(0)
      .getAs[Array[Byte]](4)
    assert((one(0) & 0xff) === 0x66 && (one(2) & 0xff) === 0x66,
      "1x1 resize must average the halves (0xCC/2 = 0x66)")
  }

  test("real audio resample: exact window means, round-trips through decodeWav") {
    import spark.implicits._
    // 8 kHz square wave (period 8: 4 high / 4 low at ±16384) → 2 kHz:
    // each output sample averages a 4-sample all-high or all-low window
    // exactly, so the output alternates ±16384 with period 2
    val df = Seq((1L, "audio/wav", squareWav()), (2L, "junk", Array[Byte](1)))
      .toDF("asset_id", "kind", "payload")
    val assets = Multimodal.toAsset(df, col("asset_id"), col("kind"), col("payload"))
    val out = Multimodal.resampleAudio(assets, targetRate = 2000).collect()
    assert(out.length === 1, "junk contributes no rows")
    val wav = out(0).getAs[Array[Byte]](3)
    val Some((rate, ch, samples)) = graft.ops.Multimodal.decodeWav(wav)
    assert(rate === 2000 && ch === 1 && samples.length === 2000,
      "resampled container must decode to 1s of mono 2 kHz")
    samples.zipWithIndex.foreach { case (v, i) =>
      val want = if (i % 2 == 0) 16384 else -16384
      assert(v === want.toShort, s"sample $i: $v != $want")
    }
  }

  test("audio windows: exact integer energy, peak and zero-crossings per slice") {
    import spark.implicits._
    // square wave period 8 (4 high / 4 low at ±16384), 8000 samples:
    // with 2000-sample windows every window is identical by symmetry —
    // energy 2000·16384², peak 16384, and a sign flip at every in-window
    // index divisible by 4 (499 of them in each window)
    val df = Seq((1L, "audio/wav", squareWav()), (2L, "junk", Array[Byte](1, 2)))
      .toDF("asset_id", "kind", "payload")
    val assets = Multimodal.toAsset(df, col("asset_id"), col("kind"), col("payload"))
    val out = Multimodal.audioWindows(assets, windowSamples = 2000).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getInt(4), r.getLong(5))).sortBy(_._2)
    assert(out.length === 4, "junk payloads contribute no rows")
    out.zipWithIndex.foreach { case ((id, win, n, energy, peak, zc), i) =>
      assert(id === 1L && win === i && n === 2000)
      assert(energy === 2000L * 16384L * 16384L, s"window $win energy $energy")
      assert(peak === 16384)
      assert(zc === 499L, s"window $win zc $zc")
    }
    // a trailing partial window keeps exact counts
    val partial = Multimodal.audioWindows(assets, windowSamples = 3000).collect()
      .map(r => (r.getInt(1), r.getInt(2))).sortBy(_._1)
    assert(partial.toSeq === Seq((0, 3000), (1, 3000), (2, 2000)))
  }

  test("image sharpness: flat images score zero, an edge scores by hand") {
    import spark.implicits._
    // 4x4 black with one white pixel at (1,1): interior laps are
    // 1020000, -255000, -255000, 0 → n 4, sum 510000, mean 127500,
    // dev² sum 1105425000000, var = that div 4
    val flat = solidBmp(6, 5, 0x808080)
    val spot = patternBmp(4, 4)((x, y) => if (x == 1 && y == 1) 0xFFFFFF else 0)
    val df = Seq((1L, "image/bmp", flat), (2L, "image/bmp", spot),
      (3L, "junk", Array[Byte](9))).toDF("asset_id", "kind", "payload")
    val assets = Multimodal.toAsset(df, col("asset_id"), col("kind"), col("payload"))
    val out = Multimodal.imageSharpness(assets).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    assert(out.keySet === Set(1L, 2L), "junk contributes no rows")
    assert(out(1L) === ((12L, 0L, 0L, 0L))) // 4x3 interior, all-flat
    assert(out(2L) === ((4L, 510000L, 1105425000000L, 276356250000L)))
  }

  test("image sharpness: exact variance past the single-long overflow bound") {
    import spark.implicits._
    // 3200x2800-interior max-contrast checkerboard: every interior |lap|
    // is 1020000 and the laplacian mean is exactly 0 (even parity split),
    // so the squared-deviation total is 8,960,000 * 1.0404e12 = 9.322e18
    // > Long.MaxValue — the pre-hi/lo single-long accumulator wrapped
    // negative exactly here. The variance must be exact; the raw sum
    // column saturates by contract.
    val board = patternBmp(3202, 2802)((x, y) =>
      if (((x + y) & 1) == 0) 0xFFFFFF else 0)
    val df = Seq((1L, "image/bmp", board)).toDF("asset_id", "kind", "payload")
    val assets = Multimodal.toAsset(df, col("asset_id"), col("kind"), col("payload"))
    val r = Multimodal.imageSharpness(assets).collect().head
    assert(r.getLong(3) === 3200L * 2800L)
    assert(r.getLong(4) === 0L, "laplacian sum must balance on the checkerboard")
    assert(r.getLong(5) === Long.MaxValue, "raw dev-sq column saturates past 2^63")
    assert(r.getLong(6) === 1040400000000L, "variance stays exact past the bound")
  }

  test("VAD fuses consecutive loud windows and skips silence") {
    import spark.implicits._
    // 10000 samples at 2000/window: wins 0-1 loud square wave, 2-3
    // digital silence, 4 loud again → two segments [0,1] and [4,4]
    val pcm = (0 until 10000).map { i =>
      if (i < 4000 || i >= 8000) { if ((i / 4) % 2 == 0) 16384 else -16384 }
      else 0
    }
    val out = new java.io.ByteArrayOutputStream()
    def le2(v: Int) = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def le4(v: Int) = { le2(v & 0xffff); le2((v >> 16) & 0xffff) }
    out.write("RIFF".getBytes); le4(36 + 2 * pcm.size); out.write("WAVE".getBytes)
    out.write("fmt ".getBytes); le4(16); le2(1); le2(1); le4(8000)
    le4(16000); le2(2); le2(16)
    out.write("data".getBytes); le4(2 * pcm.size)
    pcm.foreach(v => le2(v & 0xffff))
    val df = Seq((7L, "audio/wav", out.toByteArray)).toDF("asset_id", "kind", "payload")
    val assets = Multimodal.toAsset(df, col("asset_id"), col("kind"), col("payload"))
    val segs = Multimodal.vadSegments(assets, windowSamples = 2000)
      .collect().map(r => (r.getInt(2), r.getInt(3), r.getLong(4), r.getLong(5)))
    assert(segs.toSeq === Seq(
      (0, 1, 2L, 2L * 2000L * 16384L * 16384L),
      (4, 4, 1L, 2000L * 16384L * 16384L)))
    // a higher bar than the square wave's mean energy keeps nothing
    assert(Multimodal.vadSegments(assets, windowSamples = 2000,
      thrPerSample = 16384L * 16384L + 1).count() === 0L)
  }

  test("WAV and BMP payloads decode for real; other kinds fall back to the stub") {
    import spark.implicits._
    val wav = squareWav()
    val bmp = solidBmp(8, 4, 0x3366CC) // R=0x33 G=0x66 B=0xCC
    val other = Array[Byte](1, 2, 3, 4)
    val df = Seq((1L, "audio/wav", wav), (2L, "image/bmp", bmp), (3L, "application/opaque", other))
      .toDF("asset_id", "kind", "payload")
    val assets = Multimodal.toAsset(df, col("asset_id"), col("kind"), col("payload"))
    val out = Multimodal.decodeFeatures(assets).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](r.fieldIndex("features"))).toMap

    val a = out(1L) // [rate/48k, channels, duration, rms, band RMS...]
    assert(math.abs(a(0) - 8000f / 48000f) < 1e-6)
    assert(a(1) === 1.0f)
    assert(math.abs(a(2) - 1.0f) < 1e-6, s"duration ${a(2)}")
    assert(math.abs(a(3) - 0.5f) < 1e-6, s"square-wave RMS must be 0.5, got ${a(3)}")

    val i = out(2L) // [w/4096, h/4096, meanR, meanG, meanB, luma hist...]
    assert(math.abs(i(2) - 0x33 / 255f) < 1e-6)
    assert(math.abs(i(3) - 0x66 / 255f) < 1e-6)
    assert(math.abs(i(4) - 0xCC / 255f) < 1e-6)
    assert(math.abs(i.drop(5).sum - 1.0f) < 1e-6, "luma histogram mass must be 1")

    assert(out(3L).sum > 0f, "opaque kinds still flow through the stub fold")
  }

  /** A w×h image encoded with the JDK's own codec ("jpg"/"png"/"gif") —
    * a genuine compressed fixture, not hand-rolled bytes.
    */
  private def encodedImage(fmt: String, w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until h).foreach(y => (0 until w).foreach(x => img.setRGB(x, y, rgb)))
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, out), s"no JDK encoder for $fmt")
    out.toByteArray
  }

  test("JPEG and PNG payloads decode for real via javax.imageio") {
    import spark.implicits._
    val jpeg = encodedImage("jpg", 16, 8, 0x406080)
    val png = encodedImage("png", 8, 8, 0x3366CC)
    assert(jpeg.take(2).map(_ & 0xff).toSeq === Seq(0xff, 0xd8), "real JFIF magic")
    assert(png.take(4).map(_ & 0xff).toSeq === Seq(0x89, 'P', 'N', 'G'), "real PNG magic")
    val df = Seq((1L, "image/jpeg", jpeg), (2L, "image/png", png))
      .toDF("asset_id", "kind", "payload")
    val assets = Multimodal.toAsset(df, col("asset_id"), col("kind"), col("payload"))
    val out = Multimodal.decodeFeatures(assets).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](r.fieldIndex("features"))).toMap

    val j = out(1L) // [w/4096, h/4096, meanR, meanG, meanB, luma hist...]
    assert(math.abs(j(0) - 16f / 4096f) < 1e-6 && math.abs(j(1) - 8f / 4096f) < 1e-6,
      "dimensions must come from the decoded bitstream")
    // JPEG is lossy: a solid color survives to within a couple of levels
    assert(math.abs(j(2) - 0x40 / 255f) < 0.02, s"meanR ${j(2)}")
    assert(math.abs(j(3) - 0x60 / 255f) < 0.02, s"meanG ${j(3)}")
    assert(math.abs(j(4) - 0x80 / 255f) < 0.02, s"meanB ${j(4)}")

    val p = out(2L) // PNG is lossless: exact channel means
    assert(math.abs(p(2) - 0x33 / 255f) < 1e-6)
    assert(math.abs(p(3) - 0x66 / 255f) < 1e-6)
    assert(math.abs(p(4) - 0xCC / 255f) < 1e-6)
    assert(math.abs(p.drop(5).sum - 1.0f) < 1e-6, "luma histogram mass must be 1")
  }

  test("corrupt WAV/BMP headers fall back to the stub instead of failing the task") {
    import spark.implicits._
    // RIFF/WAVE magic followed by a hostile chunk length (0xFFFFFFFF) and
    // a BM magic with nonsense geometry — both must decode to None and
    // take the byte-fold path, never hang or throw
    val badWav = "RIFF    WAVE".getBytes("ISO-8859-1") ++
      "fmt ".getBytes ++ Array[Byte](-1, -1, -1, -1) ++ new Array[Byte](40)
    val badBmp = "BM".getBytes ++ Array.fill[Byte](60)(-1)
    val df = Seq((1L, "audio/wav", badWav), (2L, "image/bmp", badBmp))
      .toDF("asset_id", "kind", "payload")
    val assets = Multimodal.toAsset(df, col("asset_id"), col("kind"), col("payload"))
    val out = Multimodal.decodeFeatures(assets).collect()
    assert(out.length === 2)
    out.foreach(r => assert(r.getSeq[Float](r.fieldIndex("features")).nonEmpty))
  }

  test("multimodal resize and frame-sample keep real plumbing over the stub codec") {
    val assets = Multimodal.toAsset(Tables.events(spark, sf),
      col("event_id"), col("event_type"), col("props"))
    // resize: every output payload is exactly the target size, meta follows
    val resized = Multimodal.resizeStub(assets, targetBytes = 64)
    assert(resized.count() === assets.count())
    assert(resized.filter(col("meta.n_bytes") =!= 64).count() === 0)
    // deterministic: same input → same digest set
    val d1 = resized.select("meta.digest").collect().map(_.getString(0)).sorted.toSeq
    val d2 = Multimodal.resizeStub(assets, 64).select("meta.digest")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(d1 === d2)

    // frame-sample: bounded row amplification, frame indices stride by everyN
    val frames = Multimodal.frameSample(assets, frameBytes = 16, everyN = 2)
    assert(frames.count() >= assets.count(), "every asset yields at least one frame")
    val byAsset = frames.groupBy("asset_id").agg(max("frame_idx").as("mx"),
      count(lit(1)).as("n")).collect()
    byAsset.foreach { r =>
      assert(r.getInt(r.fieldIndex("mx")) % 2 === 0, "sampled indices stride by everyN")
    }
    // 1 video of b bytes → ceil(ceil(b/16)/2) frames
    val one = assets.limit(1)
    val b = one.select("meta.n_bytes").collect()(0).getInt(0)
    val expect = (((b + 15) / 16) + 1) / 2
    assert(Multimodal.frameSample(one, 16, 2).count() === expect)
  }

  test("videoIndex parses a real MP4 sample table, skips non-MP4 bytes") {
    import spark.implicits._
    import java.nio.ByteBuffer
    def be32(v: Int): Array[Byte] = ByteBuffer.allocate(4).putInt(v).array()
    def box(tag: String, parts: Array[Byte]*): Array[Byte] = {
      val body = parts.flatten.toArray
      be32(8 + body.length) ++ tag.getBytes("US-ASCII") ++ body
    }
    // timescale 1000; stts [(3 samples, 100 ticks), (2 samples, 50)] →
    // decode ts 0,100,200,300,350, duration 400; stsz [10,20,30,40,50]
    val mdhd = box("mdhd", be32(0), be32(0), be32(0), be32(1000), be32(400),
      be32(0))
    val stts = box("stts", be32(0), be32(2),
      be32(3), be32(100), be32(2), be32(50))
    val stsz = box("stsz", be32(0), be32(0), be32(5),
      be32(10), be32(20), be32(30), be32(40), be32(50))
    val mp4 = box("ftyp", "isom".getBytes, be32(0)) ++
      box("moov", box("trak", box("mdia", mdhd,
        box("minf", box("stbl", stts, stsz)))))
    val df = Seq((1L, "video", mp4), (2L, "video", Array[Byte](1, 2, 3, 4)))
      .toDF("asset_id", "kind", "payload")
    val assets = Multimodal.toAsset(df, col("asset_id"), col("kind"), col("payload"))
    val rows = Multimodal.videoIndex(assets, everyN = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getInt(5), r.getLong(6), r.getInt(7))).sortBy(_._6)
    // malformed asset 2 skipped; asset 1: frames 0,2,4 at ts 0,200,350
    assert(rows.toSeq === Seq(
      (1L, 1000, 5, 400L, 150L, 0, 0L, 10),
      (1L, 1000, 5, 400L, 150L, 2, 200L, 30),
      (1L, 1000, 5, 400L, 150L, 4, 350L, 50)))

    // with stco/stsc present, videoSamples cuts the REAL encoded sample
    // bytes out of mdat: chunk 1 holds 3 samples, chunk 2 the remaining 2
    val head = box("ftyp", "isom".getBytes, be32(0))
    val mdatBody = Array.tabulate(150)(i => (i % 251).toByte)
    val stsc = box("stsc", be32(0), be32(2),
      be32(1), be32(3), be32(1), be32(2), be32(2), be32(1))
    def withChunks(stcoPlaceholder: Array[Byte]) =
      head ++ box("moov", box("trak", box("mdia", mdhd,
        box("minf", box("stbl", stts, stsz, stsc, stcoPlaceholder))))) // then mdat
    val mdatAt = withChunks(box("stco", be32(0), be32(2), be32(0), be32(0))).length
    // chunk 1 at mdat body start; chunk 2 right after its 10+20+30 bytes
    val c1 = mdatAt + 8
    val stco = box("stco", be32(0), be32(2), be32(c1), be32(c1 + 60))
    val full = withChunks(stco) ++ box("mdat", mdatBody)
    val a2 = Multimodal.toAsset(
      Seq((7L, "video", full)).toDF("asset_id", "kind", "payload"),
      col("asset_id"), col("kind"), col("payload"))
    val frames = Multimodal.videoSamples(a2, everyN = 2).collect()
      .map(r => (r.getInt(1), r.getAs[Array[Byte]](2))).sortBy(_._1)
    assert(frames.map(_._1).toSeq === Seq(0, 2, 4))
    // sizes 10,20,30,40,50; offsets: s0=c1, s1=c1+10, s2=c1+30, s3=c1+60, s4=c1+100
    val expectBytes = Map(0 -> (0, 10), 2 -> (30, 30), 4 -> (100, 50))
    frames.foreach { case (k, bytes) =>
      val (rel, sz) = expectBytes(k)
      assert(bytes.toSeq === mdatBody.slice(rel, rel + sz).toSeq,
        s"frame $k must carry its exact mdat sample bytes")
    }
    // no rows when the offset tables are absent (the index-only fixture)
    assert(Multimodal.videoSamples(assets).count() === 0)
    // a truncated mdat skips the WHOLE asset — all-or-nothing, never a
    // silently partial frame table
    val truncated = Multimodal.toAsset(
      Seq((8L, "video", full.dropRight(20))).toDF("asset_id", "kind", "payload"),
      col("asset_id"), col("kind"), col("payload"))
    assert(Multimodal.videoSamples(truncated, everyN = 2).count() === 0)
  }

  test("videoFrameFeatures decodes MJPEG-in-MP4 samples to exact pixel features") {
    import spark.implicits._
    import java.nio.ByteBuffer
    def be32(v: Int): Array[Byte] = ByteBuffer.allocate(4).putInt(v).array()
    def box(tag: String, parts: Array[Byte]*): Array[Byte] = {
      val body = parts.flatten.toArray
      be32(8 + body.length) ++ tag.getBytes("US-ASCII") ++ body
    }
    // three real JPEG frames (solid red / green / blue 8×6 images)
    def jpegOf(rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(8, 6,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 6; x <- 0 until 8) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "jpg", bos))
      bos.toByteArray
    }
    val frames = Seq(jpegOf(0xff0000), jpegOf(0x00ff00), jpegOf(0x0000ff))
    val sizes = frames.map(_.length)
    val mdhd = box("mdhd", be32(0), be32(0), be32(0), be32(1000),
      be32(300), be32(0))
    val stts = box("stts", be32(0), be32(1), be32(3), be32(100))
    val stsz = box("stsz", be32(0), be32(0), be32(3),
      be32(sizes(0)), be32(sizes(1)), be32(sizes(2)))
    // stsd declares the Motion-JPEG fourcc for the trak
    val stsd = box("stsd", be32(0), be32(1),
      box("jpeg", Array.fill[Byte](8)(0)))
    val stsc = box("stsc", be32(0), be32(1), be32(1), be32(3), be32(1))
    // compute the mdat body offset with a placeholder stco of final size
    val placeholder = box("stco", be32(0), be32(1), be32(0))
    val probe = box("ftyp", "isom".getBytes, be32(0)) ++
      box("moov", box("trak", box("mdia", mdhd,
        box("minf", box("stbl", stts, stsz, stsd, stsc, placeholder)))))
    val c1 = probe.length + 8
    val stco = box("stco", be32(0), be32(1), be32(c1))
    val full = box("ftyp", "isom".getBytes, be32(0)) ++
      box("moov", box("trak", box("mdia", mdhd,
        box("minf", box("stbl", stts, stsz, stsd, stsc, stco))))) ++
      box("mdat", frames.flatten.toArray)
    val assets = Multimodal.toAsset(
      Seq((11L, "video", full)).toDF("asset_id", "kind", "payload"),
      col("asset_id"), col("kind"), col("payload"))
    val out = Multimodal.videoFrameFeatures(assets, everyN = 2).collect()
      .map(r => (r.getInt(1), r.getInt(2), r.getInt(3),
        r.getSeq[Float](4))).sortBy(_._1)
    assert(out.map(_._1).toSeq === Seq(0, 2), "frames stride by everyN")
    out.foreach { case (_, w, h, f) => assert(w === 8 && h === 6 && f.nonEmpty) }
    // bit-parity with the still-image path: decoding the SAME jpeg bytes
    // through the asset image decoder yields the same features
    val still = Multimodal.decodeFeatures(Multimodal.toAsset(
      Seq((0L, "image", frames(0)), (2L, "image", frames(2)))
        .toDF("asset_id", "kind", "payload"),
      col("asset_id"), col("kind"), col("payload")))
      .select("asset_id", "features").collect()
      .map(r => r.getLong(0).toInt -> r.getSeq[Float](1)).toMap
    out.foreach { case (k, _, _, f) => assert(f === still(k), s"frame $k") }
    // a non-MJPEG fourcc gates the decoder off: same container, avc1 stsd
    val stsdAvc = box("stsd", be32(0), be32(1),
      box("avc1", Array.fill[Byte](8)(0)))
    val fullAvc = box("ftyp", "isom".getBytes, be32(0)) ++
      box("moov", box("trak", box("mdia", mdhd,
        box("minf", box("stbl", stts, stsz, stsdAvc, stsc, stco))))) ++
      box("mdat", frames.flatten.toArray)
    val avcAssets = Multimodal.toAsset(
      Seq((12L, "video", fullAvc)).toDF("asset_id", "kind", "payload"),
      col("asset_id"), col("kind"), col("payload"))
    assert(Multimodal.videoFrameFeatures(avcAssets, everyN = 1).count() === 0)
    // ...while the codec-free sample EXTRACTION still works on it
    assert(Multimodal.videoSamples(avcAssets, everyN = 1).count() === 3)
  }

  test("external video decoder seam: real process plumbing behind the codec gap") {
    import spark.implicits._
    import java.nio.ByteBuffer
    def be32(v: Int): Array[Byte] = ByteBuffer.allocate(4).putInt(v).array()
    def box(tag: String, parts: Array[Byte]*): Array[Byte] = {
      val body = parts.flatten.toArray
      be32(8 + body.length) ++ tag.getBytes("US-ASCII") ++ body
    }
    // an avc1 (inter-coded) container the JVM path must NOT decode and
    // the external seam MUST pipe out: same sample-table skeleton as the
    // MJPEG fixture, avc1 stsd fourcc
    val mdhd = box("mdhd", be32(0), be32(0), be32(0), be32(1000), be32(300), be32(0))
    val stts = box("stts", be32(0), be32(1), be32(3), be32(100))
    val stsz = box("stsz", be32(0), be32(0), be32(3), be32(4), be32(4), be32(4))
    val stsd = box("stsd", be32(0), be32(1), box("avc1", Array.fill[Byte](8)(0)))
    val avc = box("ftyp", "isom".getBytes, be32(0)) ++
      box("moov", box("trak", box("mdia", mdhd,
        box("minf", box("stbl", stts, stsz, stsd))))) ++
      box("mdat", Array.fill[Byte](12)(9))
    val assets = Multimodal.toAsset(
      Seq((21L, "video", avc)).toDF("asset_id", "kind", "payload"),
      col("asset_id"), col("kind"), col("payload"))

    // stub decoder: an external EXECUTABLE speaking the documented
    // protocol — drains stdin, emits two 2×2 grayscale frames (the
    // deployment shim wraps ffmpeg the same way; only the bytes differ)
    val dir = Files.createTempDirectory("graft_vdec")
    val script = dir.resolve("decoder.sh")
    Files.write(script,
      ("#!/bin/bash\ncat >/dev/null\n" +
        "printf '\\x00\\x00\\x00\\x00\\x00\\x00\\x00\\x02\\x00\\x00\\x00\\x02\\x00\\x00\\x00\\x04'\n" +
        "printf '\\x00\\x40\\x80\\xc0'\n" +
        "printf '\\x00\\x00\\x00\\x01\\x00\\x00\\x00\\x02\\x00\\x00\\x00\\x02\\x00\\x00\\x00\\x04'\n" +
        "printf '\\x10\\x50\\x90\\xd0'\n").getBytes("UTF-8"))
    script.toFile.setExecutable(true)

    // everyN=2 keeps only the shim's frame 0; gray (0,64,128,192) folds
    // to the image-path feature convention exactly (luma of gray g is g)
    val out = Multimodal.videoFrameFeaturesExternal(assets, everyN = 2,
      decoderCmd = Some(Seq(script.toString))).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getLong(0) === 21L && r.getInt(1) === 0)
    assert(r.getInt(2) === 2 && r.getInt(3) === 2)
    val f = r.getSeq[Float](4)
    // mean gray of (0, 64, 128, 192) is 96
    assert(math.abs(f(2) - 96f / 255f) < 1e-6f)
    assert(f(2) === f(3) && f(3) === f(4), "gray frame: identical channel means")

    // everyN=1 returns both frames
    assert(Multimodal.videoFrameFeaturesExternal(assets, everyN = 1,
      decoderCmd = Some(Seq(script.toString))).count() === 2)
    // conf-resolved decoder works the same as the explicit parameter
    spark.conf.set("spark.graft.video.decoder", script.toString)
    try assert(Multimodal.videoFrameFeaturesExternal(assets, everyN = 1).count() === 2)
    finally spark.conf.unset("spark.graft.video.decoder")
    // seam OFF (no decoder anywhere): empty, never half-decoded
    assert(Multimodal.videoFrameFeaturesExternal(assets, everyN = 1).count() === 0)
    // a FAILING decoder skips the asset (all-or-nothing), never throws
    val bad = dir.resolve("bad.sh")
    Files.write(bad, "#!/bin/bash\ncat >/dev/null\nexit 3\n".getBytes("UTF-8"))
    bad.toFile.setExecutable(true)
    assert(Multimodal.videoFrameFeaturesExternal(assets, everyN = 1,
      decoderCmd = Some(Seq(bad.toString))).count() === 0)
    // a decoder emitting garbage framing skips the asset too
    val junk = dir.resolve("junk.sh")
    Files.write(junk, "#!/bin/bash\ncat >/dev/null\nprintf 'not-a-frame'\n".getBytes("UTF-8"))
    junk.toFile.setExecutable(true)
    assert(Multimodal.videoFrameFeaturesExternal(assets, everyN = 1,
      decoderCmd = Some(Seq(junk.toString))).count() === 0)
    // an OVERFLOWING header (w=h=65536 → 32-bit w*h wraps to 0, len=0)
    // faults the asset — long-arithmetic validation, not a bogus frame
    val ovf = dir.resolve("ovf.sh")
    Files.write(ovf, ("#!/bin/bash\ncat >/dev/null\n" +
      "printf '\\x00\\x00\\x00\\x00\\x00\\x01\\x00\\x00\\x00\\x01\\x00\\x00\\x00\\x00\\x00\\x00'\n")
      .getBytes("UTF-8"))
    ovf.toFile.setExecutable(true)
    assert(Multimodal.videoFrameFeaturesExternal(assets, everyN = 1,
      decoderCmd = Some(Seq(ovf.toString))).count() === 0)
    // the watchdog deadline is conf-tunable and a timed-out asset is
    // COUNTED via the skipped accumulator, not silently vanished
    val slow = dir.resolve("slow.sh")
    Files.write(slow, "#!/bin/bash\ncat >/dev/null\nsleep 60\n".getBytes("UTF-8"))
    slow.toFile.setExecutable(true)
    val skipped = spark.sparkContext.longAccumulator("video_skipped")
    spark.conf.set("spark.graft.video.deadline.ms", "500")
    try assert(Multimodal.videoFrameFeaturesExternal(assets, everyN = 1,
      decoderCmd = Some(Seq(slow.toString)),
      skippedAssets = Some(skipped)).count() === 0)
    finally spark.conf.unset("spark.graft.video.deadline.ms")
    assert(skipped.value === 1L, "timeout skip is counted")
    // MJPEG payloads never reach the external decoder (disjoint paths):
    // reuse the in-JVM fixture shape — jpeg fourcc, decoder would emit
    // frames if called, but the gate filters the asset out
    val stsdJpeg = box("stsd", be32(0), be32(1), box("jpeg", Array.fill[Byte](8)(0)))
    val mjpeg = box("ftyp", "isom".getBytes, be32(0)) ++
      box("moov", box("trak", box("mdia", mdhd,
        box("minf", box("stbl", stts, stsz, stsdJpeg))))) ++
      box("mdat", Array.fill[Byte](12)(9))
    val mjAssets = Multimodal.toAsset(
      Seq((22L, "video", mjpeg)).toDF("asset_id", "kind", "payload"),
      col("asset_id"), col("kind"), col("payload"))
    assert(Multimodal.videoFrameFeaturesExternal(mjAssets, everyN = 1,
      decoderCmd = Some(Seq(script.toString))).count() === 0)
  }

  test("GraftExtensions exposes native functions to plain SQL sessions") {
    import org.apache.spark.sql.SparkSession
    // materialize the shared lazy session BEFORE clearing: run in
    // isolation, a not-yet-created TestSession.spark would otherwise be
    // created inside the finally and alias s2
    spark.sparkContext
    // force a genuinely new session: getOrCreate would return the shared
    // test session (where other specs registered the same names)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = try SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .appName("ext_test")
      .getOrCreate()
    finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
    assert(s2 ne spark, "extensions test must run on its own session")
    val r = s2.sql(
      """SELECT graft_simhash60(array('a', 'b')) AS sh,
        |       graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dp,
        |       graft_minhash(array('x'), 2) AS mh""".stripMargin).collect()(0)
    assert(r.getDouble(1) === 11.0)
    assert(r.getSeq[String](2).length === 2)
    // same value as the per-session registered path
    graft.functions.GraftFunctions.register(spark)
    val viaRegistry = spark.sql("SELECT graft_simhash60(array('a', 'b'))").collect()(0).getLong(0)
    assert(r.getLong(0) === viaRegistry)

    // the sketch aggregates are injected too
    val bloomRow = s2.sql(
      """SELECT graft_bloom_contains(f, xxhash64(CAST(7 AS BIGINT))) AS hit,
        |       graft_bloom_contains(f, xxhash64(CAST(99999 AS BIGINT))) AS miss
        |FROM (SELECT graft_bloom_agg(xxhash64(id), 65536, 5) AS f FROM range(10))""".stripMargin)
      .collect()(0)
    assert(bloomRow.getBoolean(0) && !bloomRow.getBoolean(1))
    val mg = s2.sql(
      "SELECT graft_mg_sketch(CAST(id % 3 AS STRING), 8) AS c FROM range(30)")
      .collect()(0).getSeq[String](0)
    assert(mg.toSet === Set("0", "1", "2"))

    // the vector kernels and shingles are injected too
    val vec = s2.sql(
      """SELECT graft_l2sq(array(1.0D, 2.0D), array(3.0D, 5.0D)) AS d2,
        |       graft_shingles(array('a', 'b', 'c'), 2) AS sh,
        |       graft_jlproject(array(CAST(1.0 AS FLOAT)), 2) AS jl""".stripMargin)
      .collect()(0)
    assert(vec.getDouble(0) === 13.0)
    assert(vec.getSeq[String](1) === Seq("a b", "b c"))
    assert(vec.getSeq[Long](2).length === 2)
  }

  test("contamination flags exactly the docs sharing an n-gram with the benchmark") {
    import spark.implicits._
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "a completely different sentence with no overlap at all"),
      (12L, "something else entirely but quick brown fox jumps too")).toDF("doc_id", "text")
    val bench = Seq((1L, "watch the quick brown fox jumps across")).toDF("doc_id", "text")
    val hits = Dedup.contamination(corpus, col("doc_id"), col("text"),
        bench, col("doc_id"), col("text"), nGram = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // "quick brown fox jumps" is the shared 4-gram; doc 10 also shares
    // "the quick brown fox" + "quick brown fox jumps"
    assert(hits.keySet === Set(10L, 12L))
    assert(hits(10L) === 2L && hits(12L) === 1L)
    // anti-join yields the clean corpus
    val clean = corpus.join(
      Dedup.contamination(corpus, col("doc_id"), col("text"),
        bench, col("doc_id"), col("text"), nGram = 4).select("doc_id"),
      Seq("doc_id"), "left_anti")
    assert(clean.collect().map(_.getLong(0)).toSeq === Seq(11L))
  }

  test("exact dedup keeps the minimum id per hash group") {
    val d = TextAnalysis.exactDedup(docs, col("doc_id"), col("text"))
    assert(d.count() > 0)
    assert(d.filter(col("n_dups") < 1).count() === 0)
  }

  test("paragraph dedup removes the repeated span, keeps first occurrence") {
    import spark.implicits._
    // width=3 chunks: doc 1 = [a b c][d e f], doc 2 = [a b c][x y z],
    // doc 3 = [a b c] — the shared "a b c" chunk survives only in doc 1
    val corpus = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c x y z"),
      (3L, "a b c")).toDF("doc_id", "text")
    val out = TextAnalysis.paragraphDedup(corpus, col("doc_id"), col("text"), width = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) === ((2L, 2L, "a b c d e f")))
    assert(out(2L) === ((2L, 1L, "x y z")))
    assert(out(3L) === ((1L, 0L, "")))
  }

  test("paragraph dedup reassembles chunks in document order") {
    import spark.implicits._
    // 30 distinct words → 3 chunks of 12/12/6; nothing duplicated, so the
    // reassembled text must equal the normalized input exactly
    val text = (1 to 30).map(i => s"w$i").mkString(" ")
    val one = Seq((7L, text)).toDF("doc_id", "text")
    val r = TextAnalysis.paragraphDedup(one, col("doc_id"), col("text")).head()
    assert(r.getLong(1) === 3L && r.getLong(2) === 3L)
    assert(r.getString(3) === text)
  }

  test("tfidf ranks rare-but-frequent-in-doc tokens first") {
    import spark.implicits._
    // "zebra" appears 3× in doc 1 and nowhere else (tf=3, df=1 → 3e6);
    // "the" is in every doc (df=3) — zebra must outrank it
    val corpus = Seq(
      (1L, "the zebra zebra zebra runs"),
      (2L, "the dog runs"),
      (3L, "the cat sits")).toDF("doc_id", "text")
    val top = TextAnalysis.tfidfTopK(corpus, col("doc_id"), col("text"), k = 1)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(top(1L) === "zebra")
    assert(top(2L) === "dog") // tf=1,df=1 beats "runs" (df=2) and "the" (df=3)
    assert(top(3L) === "cat") // alphabetical tiebreak vs "sits" at equal score
  }

  test("lexical diversity counts types and hapaxes exactly") {
    import spark.implicits._
    val one = Seq((1L, "a a b b b c")).toDF("doc_id", "text")
    val r = TextAnalysis.lexicalDiversity(one, col("doc_id"), col("text")).head()
    assert(r.getLong(r.fieldIndex("n_tokens")) === 6L)
    assert(r.getLong(r.fieldIndex("n_types")) === 3L)
    assert(r.getLong(r.fieldIndex("n_hapax")) === 1L) // only "c"
    assert(r.getLong(r.fieldIndex("ttr_permille")) === 500L)
    assert(r.getLong(r.fieldIndex("hapax_permille")) === 333L)
  }

  test("inverted index postings are exact, sorted, and stop-capped") {
    import spark.implicits._
    val corpus = Seq(
      (3L, "apple banana apple"),   // within-doc dup must not double-post
      (1L, "banana cherry"),
      (2L, "apple stopper"),
      (4L, "stopper"),
      (5L, "stopper")).toDF("doc_id", "text")
    val idx = TextAnalysis.invertedIndex(corpus, col("doc_id"), col("text"),
        maxDf = 2, maxPostings = 10)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getSeq[Long](2).toList))).toMap
    assert(idx("apple") === ((2L, List(2L, 3L))))
    assert(idx("banana") === ((2L, List(1L, 3L))))
    assert(idx("cherry") === ((1L, List(1L))))
    assert(!idx.contains("stopper"), "df=3 > maxDf=2 must be dropped")
    graft.ops.Dedup.unpersistShared()
  }

  test("bm25 favors rare terms and saturates repeated ones") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "zebra common common common"),
      (2L, "common common common common"),
      (3L, "zebra zebra common common")).toDF("doc_id", "text")
    val top = TextAnalysis.bm25TopK(corpus, col("doc_id"), col("text"),
      Seq("zebra", "common"), k = 3).collect()
    // rare 'zebra' (df=2, idf 0.6) dominates 'common' (df=3, idf ~0.14):
    // two zebras > one zebra + three commons > four commons
    assert(top.map(_.getLong(0)).toSeq === Seq(3L, 1L, 2L))
    assert(top.map(r => r.getLong(r.fieldIndex("n_terms"))).toSeq === Seq(2L, 2L, 1L))
  }

  test("q13 distribution masses add up to the corpus totals") {
    val rows = ops.Analytics.orderCountDistribution(spark, sf).collect()
    val nCust = Tables.customer(spark, sf).count()
    val nOrd = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") =!= "5-LOW").count()
    assert(rows.map(_.getLong(1)).sum === nCust)
    assert(rows.map(r => r.getLong(0) * r.getLong(1)).sum === nOrd)
  }

  test("q16 variety counts only non-deficit suppliers") {
    val total = ops.Analytics.supplierVariety(spark, sf)
      .agg(sum(col("supplier_cnt"))).head().getLong(0)
    assert(total > 0)
    // no (brand,type,size_mod) group may count more suppliers than exist
    val nSupp = Tables.supplier(spark, sf).filter(col("s_acctbal") >= 0).count()
    assert(ops.Analytics.supplierVariety(spark, sf)
      .filter(col("supplier_cnt") > nSupp).count() === 0)
  }

  test("funnel stage counts equal an independent per-user fold") {
    // differential oracle: collect each user's (ts_us, event_id, type)
    // stream and replay the stage machine sequentially in Scala
    val rows = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .collect()
    val stages = Seq("view", "click", "purchase")
    var r1, r2, r3 = 0L
    rows.groupBy(_.getAs[Long]("user_id")).foreach { case (_, evs) =>
      val ordered = evs.sortBy(r => (r.getAs[Long]("ts_us"), r.getAs[Long]("event_id")))
      var s1, s2, s3 = Long.MaxValue
      ordered.foreach { r =>
        val t = r.getAs[Long]("ts_us")
        r.getAs[String]("event_type") match {
          case et if et == stages(0) => s1 = math.min(s1, t)
          case et if et == stages(1) && t > s1 => s2 = math.min(s2, t)
          case et if et == stages(2) && t > s2 => s3 = math.min(s3, t)
          case _ =>
        }
      }
      if (s1 < Long.MaxValue) r1 += 1
      if (s2 < Long.MaxValue) r2 += 1
      if (s3 < Long.MaxValue) r3 += 1
    }
    val out = ops.Analytics.funnelStages(spark, sf).head()
    assert(out.getAs[Long]("users_total") ===
      rows.map(_.getAs[Long]("user_id")).distinct.length.toLong)
    assert(out.getAs[Long]("reached_stage1") === r1)
    assert(out.getAs[Long]("reached_stage2") === r2)
    assert(out.getAs[Long]("reached_stage3") === r3)
    assert(r1 >= r2 && r2 >= r3, "funnel must be monotone")
  }

  test("cohort retention: week-0 cell equals the cohort census") {
    val rows = ops.Analytics.cohortRetention(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Long]("week_offset") >= 0))
    // every user is active in their own first week, so the offset-0 cell
    // must count the cohort exactly
    val firstTouch = Tables.events(spark, sf)
      .select(col("user_id"), datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).as("day"))
      .groupBy("user_id").agg(min("day").as("first_day"))
      .select(floor(col("first_day") / 7).as("cohort_week"))
      .groupBy("cohort_week").count().collect()
      .map(r => r.getAs[Long]("cohort_week") -> r.getAs[Long]("count")).toMap
    val week0 = rows.filter(_.getAs[Long]("week_offset") == 0L)
      .map(r => r.getAs[Long]("cohort_week") -> r.getAs[Long]("active_users")).toMap
    assert(week0 === firstTouch)
  }

  test("bigram LM score matches hand arithmetic on a tiny corpus") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "x y")).toDF("doc_id", "text")
    // c12: (a,b)=3, (b,a)=1, (x,y)=1; c1: a=3, b=1, x=1; V=4
    // p(a,b) = 4_000_000/7 = 571428; p(b,a) = p(x,y) = 2_000_000/5 = 400000
    val out = TextAnalysis.lmScore(docs, col("doc_id"), col("text"), cache = false)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) === ((3L, (571428L + 400000L + 571428L) / 3)))
    assert(out(2L) === ((1L, 571428L)))
    assert(out(3L) === ((1L, 400000L)))
  }

  test("lm score ranks in-distribution text above shuffled gibberish") {
    // corpus dominated by one phrasing; the doc that breaks every bigram
    // must score strictly lower than the docs that repeat the pattern
    import spark.implicits._
    val docs = (1L to 20L).map(i => (i, "the quick brown fox jumps"))
      .toDF("doc_id", "text")
      .union(Seq((99L, "fox the jumps brown quick")).toDF("doc_id", "text"))
    val scores = TextAnalysis.lmScore(docs, col("doc_id"), col("text"), cache = false)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(scores(1L) > scores(99L))
  }

  test("int8 quantization is analytic on unit-interval vectors (raw MIPS)") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(1.0f, 1.0f)),
      (2L, Array(1.0f, 0.0f)), (3L, Array(0.5f, 0.5f))).toDF("vec_id", "embedding")
    val stats = Similarity.dimStats(emb, normalize = false)
    val codes = Similarity.quantizeInt8(emb, stats, normalize = false).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(codes(0L) === Seq(-127.0, -127.0))
    assert(codes(1L) === Seq(127.0, 127.0))
    assert(codes(2L) === Seq(127.0, -127.0))
    assert(codes(3L) === Seq(0.0, 0.0)) // floor(0.5*254)-127 = 0
    val top = Similarity.int8TopK(emb, emb.filter(col("vec_id") === 1), 3,
        normalize = false).collect()
      .sortBy(_.getAs[Int]("rank"))
    assert(top.map(_.getAs[Long]("neighbor_id")).toSeq === Seq(2L, 3L, 0L))
    assert(top.map(_.getAs[Long]("idot")).toSeq === Seq(0L, 0L, -32258L))
  }

  test("normalized int8 ranking follows direction, not magnitude") {
    import spark.implicits._
    // vec 3 points exactly where vec 1 does (half the length); raw MIPS
    // would rank the long orthogonal-ish vec 2 above it — after L2
    // normalization the identical-direction vector must win
    val emb = Seq(
      (0L, Array(0.1f, 0.0f)), (1L, Array(1.0f, 1.0f)),
      (2L, Array(1.0f, 0.0f)), (3L, Array(0.5f, 0.5f))).toDF("vec_id", "embedding")
    val top = Similarity.int8TopK(emb, emb.filter(col("vec_id") === 1), 3).collect()
      .sortBy(_.getAs[Int]("rank"))
    assert(top.head.getAs[Long]("neighbor_id") === 3L)
  }

  test("histogram bins partition the corpus exactly") {
    val rows = ops.Analytics.histogram(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n")).sum === Tables.events(spark, sf).count())
    rows.foreach { r =>
      val b = r.getAs[Long]("bin"); assert(b >= 0 && b <= 9)
    }
  }

  test("ohlc bars bound their open/close and count the bucket") {
    val rows = ops.Analytics.resampleOhlc(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (open, close) = (r.getAs[Double]("open"), r.getAs[Double]("close"))
      val (lo, hi) = (r.getAs[Double]("lo"), r.getAs[Double]("hi"))
      assert(lo <= open && open <= hi)
      assert(lo <= close && close <= hi)
      assert(r.getAs[Long]("n") >= 1)
    }
    assert(rows.map(_.getAs[Long]("n")).sum === Tables.events(spark, sf).count())
  }

  test("pagerank matches hand arithmetic on a star graph") {
    import spark.implicits._
    // star a-{b,c}: deg(a)=2, deg(b)=deg(c)=1; scale 1e9, damp 0.85
    val edges = Seq(("a", "b"), ("a", "c")).toDF("src", "dst")
    val p2 = ops.Graph.pageRank(edges, iters = 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // p1: a = 150e6 + 2*floor(1e9*850/1000) = 1_850_000_000
    //     b = c = 150e6 + floor(1e9*850/2000) = 575_000_000
    // p2: a = 150e6 + 2*floor(575e6*850/1000) = 1_127_500_000
    //     b = c = 150e6 + floor(1.85e9*850/2000) = 936_250_000
    assert(p2 === Map("a" -> 1127500000L, "b" -> 936250000L, "c" -> 936250000L))
  }

  test("uniform sample is stable and merges from per-shard samples") {
    val k = 20
    val s1 = TextAnalysis.uniformSample(docs, "doc_id", k)
      .collect().map(_.getLong(0)).toSet
    assert(s1.size === k)
    // repartition-invariant
    val s2 = TextAnalysis.uniformSample(docs.repartition(7), "doc_id", k)
      .collect().map(_.getLong(0)).toSet
    assert(s2 === s1)
    // bottom-k of per-shard bottom-k's == corpus bottom-k (merge law)
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    val merged = TextAnalysis.uniformSample(
      TextAnalysis.uniformSample(half1, "doc_id", k)
        .unionByName(TextAnalysis.uniformSample(half2, "doc_id", k)),
      "doc_id", k).collect().map(_.getLong(0)).toSet
    assert(merged === s1)
  }

  test("mmr reranks a redundant twin below a diverse candidate") {
    import spark.implicits._
    // candidate 2 is nearly a copy of candidate 1; candidate 3 is
    // orthogonal but less relevant. Pure relevance keeps [1,2,3];
    // λ=0.5 demotes the twin: [1,3,2]
    val corpus = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.05)), (3L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val shortlist = Seq((100L, 1L, 1.0), (100L, 2L, 0.995), (100L, 3L, 0.3))
      .toDF("query_id", "neighbor_id", "cosine")
    def order(lp: Int) = Similarity.mmrRerank(corpus, shortlist, k = 3, lp)
      .orderBy("mmr_rank").collect().map(_.getLong(1)).toSeq
    assert(order(1000) === Seq(1L, 2L, 3L))
    assert(order(500) === Seq(1L, 3L, 2L))
    // k truncates and ranks are 1..k
    val top2 = Similarity.mmrRerank(corpus, shortlist, k = 2, 500)
      .collect().map(r => r.getInt(3) -> r.getLong(1)).toMap
    assert(top2 === Map(1 -> 1L, 2 -> 3L))
  }

  test("min-plus distances prefer the short 2-hop over the long direct edge") {
    import spark.implicits._
    // 1→2 weight 100 but 1→3→2 weights 10+10: after 2+ rounds the
    // 2-hop path (20) must beat the direct edge
    val wp = Seq((1L, 2L, 100L), (1L, 3L, 10L), (3L, 2L, 10L))
      .toDF("src", "dst", "w")
    val d = ops.Graph.minPlusDistances(wp, Seq(1L), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d === Map(1L -> 0L, 2L -> 20L, 3L -> 10L))
    // hop bound respected: a path 1-2-3-4-5 at 1 iter reaches only 2
    val chain = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (4L, 5L, 1L))
      .toDF("src", "dst", "w")
    val d1 = ops.Graph.minPlusDistances(chain, Seq(1L), iters = 1)
      .collect().map(_.getLong(0)).toSet
    assert(d1 === Set(1L, 2L))
  }

  test("pagerank overflow throws on the driver and distributed paths alike") {
    import spark.implicits._
    // pr * 850 overflows a long in round 1: ANSI arithmetic must fail, on
    // the driver-side rounds as in Spark's own multiply
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val big = Long.MaxValue / 100
    intercept[ArithmeticException](ops.Graph.pageRank(edges, scale = big).collect())
    intercept[ArithmeticException](distributed(ops.Graph.pageRank(edges, scale = big).collect()))
    // without ANSI mode both paths wrap, to the same rows
    ops.OpCache.withConf(spark, "spark.sql.ansi.enabled", "false") {
      val local = ops.Graph.pageRank(edges, scale = big).collect().map(_.toSeq).toSet
      assert(local === distributed(ops.Graph.pageRank(edges, scale = big).collect()).map(_.toSeq).toSet)
    }
  }

  test("personalized pagerank matches hand arithmetic, stays source-local") {
    import spark.implicits._
    // star 1-{2,3}, source {1}: round 1 pushes 425e6 to each leaf and
    // restarts 1 at 150e6; round 2 returns 361.25e6 from each leaf to 1
    // (+150e6 base) and the leaves hold 63.75e6 from the restarted hub
    val edges = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    val p2 = ops.Graph.personalizedPageRank(edges, Seq(1L), iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(p2 === Map(1L -> 872500000L, 2L -> 63750000L, 3L -> 63750000L))
    // a node beyond the iteration horizon never materializes: path
    // 1-2-3-4-5, 2 rounds from {1} reaches at most node 3
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val reached = ops.Graph.personalizedPageRank(path, Seq(1L), iters = 2)
      .collect().map(_.getLong(0)).toSet
    assert(reached === Set(1L, 2L, 3L))
  }

  test("link prediction scores diagonals of a square, caps hubs") {
    import spark.implicits._
    // 4-cycle 1-2-3-4-1: the two diagonals each share BOTH deg-2
    // corners → common 2, ra = 2 · (1e6 div 2); the edges themselves
    // must not appear
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val out = ops.Graph.linkPrediction(square).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out === Map((1L, 3L) -> (2L, 1000000L), (2L, 4L) -> (2L, 1000000L)))
    // a hub above maxDeg is dropped as a wedge center: no predictions
    val star = (2L to 9L).map(h => (1L, h)).toDF("src", "dst")
    assert(ops.Graph.linkPrediction(star, maxDeg = 4).count() === 0L)
    // with the cap lifted the leaves all pair through the hub (deg 8)
    val lifted = ops.Graph.linkPrediction(star, maxDeg = 8, minCommon = 1L)
    assert(lifted.count() === 8L * 7 / 2)
    assert(lifted.collect().forall(r => r.getLong(3) === 1000000L / 8))
  }

  test("random walks follow edges, alternate on forced topologies") {
    import spark.implicits._
    // single edge 1-2: every step has exactly one neighbor, so both
    // walks from each endpoint alternate deterministically — no hash
    // freedom at all
    val one = Seq((1L, 2L)).toDF("src", "dst")
    val w1 = ops.Graph.randomWalks(one, length = 4, walksPerNode = 1)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(3)).toMap
    assert((0 to 4).map(s => w1((1L, s))) === Seq(1L, 2L, 1L, 2L, 1L))
    assert((0 to 4).map(s => w1((2L, s))) === Seq(2L, 1L, 2L, 1L, 2L))
    // star 0-{2,4,6,8}: a walk from the hub hits SOME leaf on odd steps
    // and is forced back to the hub on even ones; every consecutive
    // (node, next) pair must be a real edge
    val star = Seq((0L, 2L), (0L, 4L), (0L, 6L), (0L, 8L)).toDF("src", "dst")
    val rows = ops.Graph.randomWalks(star, length = 4, walksPerNode = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    val hub = rows.filter(r => r._1 == 0L && r._2 == 0).sortBy(_._3).map(_._4)
    assert(hub(0) === 0L && hub(2) === 0L && hub(4) === 0L)
    assert(Seq(hub(1), hub(3)).forall(Set(2L, 4L, 6L, 8L)))
    val edgeSet = Set((0L, 2L), (0L, 4L), (0L, 6L), (0L, 8L))
      .flatMap { case (a, b) => Set((a, b), (b, a)) }
    rows.groupBy(r => (r._1, r._2)).values.foreach { walk =>
      walk.sortBy(_._3).map(_._4).sliding(2).foreach {
        case Array(u, v) => assert(edgeSet((u, v)), s"non-edge step $u->$v")
        case _ =>
      }
    }
    // both walks per start are present
    assert(rows.map(r => (r._1, r._2)).distinct.length === 5 * 2)
  }

  test("label propagation separates two cliques joined by one bridge") {
    import spark.implicits._
    // two 4-cliques {1..4} and {11..14} plus a single bridge 4-11: the
    // intra-clique majority must beat the one cross label, so each side
    // converges to its own min label
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(11L, 12L, 13L, 14L)) :+ (4L, 11L)).toDF("src", "dst")
    val lab = ops.Graph.labelPropagation(edges, rounds = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Seq(1L, 2L, 3L).foreach(v => assert(lab(v) === 1L, s"node $v"))
    Seq(12L, 13L, 14L).foreach(v => assert(lab(v) === 11L, s"node $v"))
    // every node is labeled, labels come from the node universe
    assert(lab.size === 8 && lab.values.toSet.subsetOf(lab.keySet))
  }

  test("label propagation round equals a driver-side synchronous sweep") {
    import spark.implicits._
    // random-ish small graph, 1 round: compare against a brute neighbor
    // majority with the (count desc, label asc) tie rule
    val pairs = (0 until 40).map(i => ((i % 13).toLong, ((i * 7 + 3) % 13).toLong))
      .filter { case (a, b) => a != b }
    val edges = pairs.toDF("src", "dst")
    val got = ops.Graph.labelPropagation(edges, rounds = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val adj = (pairs ++ pairs.map(_.swap)).groupBy(_._1)
      .map { case (v, es) => v -> es.map(_._2) }
    adj.foreach { case (v, nbrs) =>
      val best = nbrs.groupBy(identity).map { case (l, xs) => (l, xs.size) }
        .toSeq.sortBy { case (l, c) => (-c, l) }.head._1
      assert(got(v) === best, s"node $v nbrs $nbrs")
    }
  }

  test("shard manifest totals reconcile with the packing") {
    val docs = Tables.documents(spark, sf)
    val man = TextAnalysis.shardManifest(docs, "doc_id",
      ceil(col("n_chars") / 4.0), 2048L, 8).collect()
    val packed = TextAnalysis.packSequences(docs, "doc_id",
      ceil(col("n_chars") / 4.0), 2048L)
      .select(col("doc_id"), col("seq_id"), col("seq_tokens")).collect()
    assert(man.map(_.getLong(3)).sum === packed.map(_.getLong(2)).sum)
    assert(man.map(_.getLong(2)).sum === packed.length.toLong)
    assert(man.map(_.getLong(1)).sum ===
      packed.map(_.getLong(1)).distinct.length.toLong)
    // shard ids are the round-robin residues, each sequence in exactly one
    val byShard = packed.map(r => r.getLong(1) % 8).distinct.sorted
    assert(man.map(_.getLong(0)).sorted.toSeq === byShard.toSeq)
  }

  test("pagerank conserves total mass up to floor loss") {
    val ranked = ops.Graph.transactionRank(spark, sf)
    val total = ranked.agg(sum("pr")).head().getLong(0)
    val v = ranked.count()
    val e = 2L * Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .select("o_custkey", "l_suppkey").distinct().count()
    // undirected graph: no dangling mass; each directed contribution
    // floors away < 1 unit per round (3 rounds)
    assert(total <= v * 1000000000L)
    assert(total > v * 1000000000L - 3 * e)
  }

  test("source overlap counts exactly the planted shared shingles") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta", "srcA"),
      (2L, "alpha beta gamma epsilon", "srcB"),  // shares 2 shingles with A? no: 1
      (3L, "zeta eta theta iota", "srcC")).toDF("doc_id", "text", "source")
    val m = TextAnalysis.sourceOverlap(docs, col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // srcA shingles: {alpha beta gamma, beta gamma delta};
    // srcB: {alpha beta gamma, beta gamma epsilon} -> exactly 1 shared
    assert(m === Map(("srcA", "srcB") -> 1L))
  }

  test("upsert batch replaces, appends, and passes through") {
    import spark.implicits._
    val store = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("event_id", "event_type", "value")
    val batch = Seq((2L, "b", 20.0), (9L, "z", 9.0))
      .toDF("event_id", "event_type", "value")
    val out = graft.store.DocumentStore.upsertBatch(store, batch, "event_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out === Map(1L -> 1.0, 2L -> 20.0, 3L -> 3.0, 9L -> 9.0))
  }

  test("quality gate raises exactly the planted reason bits") {
    import spark.implicits._
    // interleave uniques with stopwords so every 3-gram stays distinct
    val good = (1 to 30).flatMap(i =>
      Seq(s"unique$i", Seq("the", "of", "a")(i % 3))).mkString(" ")
    val docs = Seq(
      (1L, good),
      (2L, "too short the of"),                                  // bit0 only
      (3L, ("spam ham jam " * 30) + "the of a the of a end"),    // bit1: repeated 3-grams
      (4L, (1 to 40).map(i => s"w$i").mkString(" "))             // bit2: zero stopwords
    ).toDF("doc_id", "text")
    val out = TextAnalysis.qualityGate(docs, col("doc_id"), col("text"),
        minLmMicro = 0L, cache = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) === 0L)
    assert(out(2L) === 1L)
    assert((out(3L) & 2L) === 2L, s"doc 3 reasons=${out(3L)} must flag repetition")
    assert(out(4L) === 4L)
    val keep = TextAnalysis.qualityGate(docs, col("doc_id"), col("text"),
        minLmMicro = 0L, cache = false)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(keep === Map(1L -> true, 2L -> false, 3L -> false, 4L -> false))
  }

  test("C4 line cleaning applies every rule and reassembles in line order") {
    import spark.implicits._
    val page1 = Seq(                       // 4 lines, 3 survive
      "one two three four five.",         // keep
      "no terminal punctuation here",     // drop: no [.!?\"] ending
      "alpha beta gamma delta epsilon!",  // keep
      "short line.",                      // drop: < 5 words
      "is this a question mark?"          // keep
    ).mkString("\n")
    val page2 = Seq(                       // boilerplate rules
      "this has a brace { in it period.",           // drop: {
      "enable JavaScript to view this content.",    // drop: javascript (ci)
      "Lorem Ipsum dolor sit amet consectetur.",    // drop: lorem ipsum (ci)
      "a quoted line of five words\"",              // keep: closing quote
      "only two good lines survive here today."     // keep
    ).mkString("\n")
    val docs = Seq((1L, page1), (2L, page2)).toDF("doc_id", "text")
    val out = TextAnalysis.cleanLines(docs, col("doc_id"), col("text"),
      minWords = 5, minLines = 3).collect()
    // page2 keeps only 2 lines — below the floor, so the DOC drops
    assert(out.map(_.getLong(0)).toSeq === Seq(1L))
    val r = out.head
    assert(r.getLong(1) === 5L && r.getLong(2) === 3L)
    assert(r.getString(3) === Seq("one two three four five.",
      "alpha beta gamma delta epsilon!",
      "is this a question mark?").mkString("\n"))
  }

  test("quality gate structural bit: C4 line floor lands as bit4, off by default") {
    import spark.implicits._
    // long + stopworded + non-repetitive enough to pass bits 0-3; doc 1
    // has 3 clean lines, doc 2 none (no terminal punctuation anywhere)
    def words(seed: Int) = (1 to 24).flatMap(i =>
      Seq(s"tok${seed}x$i", Seq("the", "of", "a")(i % 3))).mkString(" ")
    val structured = (1 to 3).map(i => words(i) + ".").mkString("\n")
    val docs = Seq((1L, structured), (2L, words(9))).toDF("doc_id", "text")
    val off = TextAnalysis.qualityGate(docs, col("doc_id"), col("text"),
        minLmMicro = 0L, cache = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(off === Map(1L -> 0L, 2L -> 0L), "default gate must not change")
    val on = TextAnalysis.qualityGate(docs, col("doc_id"), col("text"),
        minLmMicro = 0L, cache = false, minCleanLines = 3L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(on === Map(1L -> 0L, 2L -> 16L),
      "structurally-broken doc must raise exactly bit4")
  }

  test("pq encoding maps codebook vectors to their own code") {
    val cb = Similarity.pqCodebook(emb)
    val codes = Similarity.pqEncode(emb, cb)
    // vector 0's sub-vectors ARE codebook entries j=0: distance 0 and the
    // smallest tiebreak, so all m codes must be 0
    val v0 = codes.filter(col("vec_id") === 0).collect().map(_.getAs[Int]("code"))
    assert(v0.length === 4 && v0.forall(_ === 0))
    val bad = codes.filter(col("code") < 0 || col("code") >= 256).count()
    assert(bad === 0)
    assert(codes.count() === emb.count() * 4)
  }

  test("pq adc ranks are dense and distance-monotone per query") {
    val top = Similarity.pqTopK(emb, emb.filter(col("vec_id") < 3), 10).collect()
    val byQ = top.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.keySet === Set(0L, 1L, 2L))
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq === (1 to 10))
      val d = sorted.map(_.getAs[Long]("adc_micro")).toSeq
      assert(d === d.sorted, "adc must be non-decreasing in rank")
    }
  }

  test("int8 codes are bounded and partition-invariant on real embeddings") {
    val stats = Similarity.dimStats(emb)
    val q = Similarity.quantizeInt8(emb, stats)
    assert(q.select(explode(col("cv")).as("c"))
      .filter(col("c") < -127 || col("c") > 127).count() === 0)
    val re = Similarity.quantizeInt8(emb.repartition(13), stats)
    assert(q.as("a").join(re.as("b"), "vec_id")
      .filter(col("a.cv") =!= col("b.cv")).count() === 0)
  }

  test("stratified sample caps every stratum and ignores partitioning") {
    val k = 7
    val s1 = TextAnalysis.stratifiedSample(docs, "doc_id", col("source"), k)
    val sizes = s1.groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes.keySet === full.keySet)
    sizes.foreach { case (src, n) => assert(n === math.min(k.toLong, full(src))) }
    val s2 = TextAnalysis.stratifiedSample(docs.repartition(17), "doc_id",
      col("source"), k)
    assert(s1.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ===
      s2.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("cdc span dedup kills a duplicated span at a SHIFTED offset") {
    import spark.implicits._
    // the same 24-word span pasted into doc 2 after a 5-word prefix: every
    // 12-word grid chunk of the span differs between the docs (offset 5),
    // so fixed-width chunking finds no duplicate — content-defined
    // boundaries resynchronize inside the span and must find some
    val span = (1 to 24).map(i => s"w$i").mkString(" ")
    val docs2 = Seq(
      (1L, s"alpha beta $span gamma delta"),
      (2L, s"p1 p2 p3 p4 p5 $span q1 q2 q3")).toDF("doc_id", "text")
    val fixed = TextAnalysis.paragraphDedup(docs2, col("doc_id"), col("text"))
    val cdc = TextAnalysis.cdcSpanDedup(docs2, col("doc_id"), col("text"))
    def dropped(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum(col("n_chunks") - col("n_kept"))).head().getLong(0)
    assert(dropped(fixed) === 0L, "grid chunking should miss the shifted span")
    assert(dropped(cdc) > 0L, "content-defined chunks must resynchronize")
    // doc 1 (smaller id) keeps all its chunks; only doc 2 loses content
    val kept1 = cdc.filter(col("doc_id") === 1L).head()
    assert(kept1.getAs[Long]("n_chunks") === kept1.getAs[Long]("n_kept"))
  }

  test("cdc span dedup reassembles surviving text in document order") {
    val out = TextAnalysis.cdcSpanDedup(docs, col("doc_id"), col("text")).collect()
    assert(out.length === docs.count())
    // a doc with nothing dropped reassembles to its normalized text
    val norm = docs.select(col("doc_id"),
        regexp_replace(lower(col("text")), "\\s+", " ").as("norm"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val untouched = out.filter(r => r.getAs[Long]("n_chunks") == r.getAs[Long]("n_kept"))
    assert(untouched.nonEmpty)
    untouched.foreach { r =>
      assert(r.getAs[String]("new_text") === norm(r.getAs[Long]("doc_id")))
    }
  }

  test("containment flags a quoted subset that jaccard misses") {
    import spark.implicits._
    // doc 1 is quoted verbatim inside the much longer doc 2: containment
    // of the smaller side is 1.0 while jaccard stays far below 0.5
    val quote = (1 to 15).map(i => s"q$i").mkString(" ")
    val filler = (1 to 120).map(i => s"f$i").mkString(" ")
    val docs2 = Seq((1L, quote), (2L, s"$filler $quote")).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs2, col("doc_id"), col("text"), 0.9,
      maxDocFreq = None, cache = false).collect()
    assert(cont.length === 1)
    assert(cont.head.getAs[Double]("containment") === 1.0)
    val jac = Dedup.ngramJaccardPairs(docs2, col("doc_id"), col("text"), 0.5,
      maxDocFreq = None, cache = false).count()
    assert(jac === 0L, "symmetric jaccard must miss the quoted subset")
  }

  test("gap fill densifies every series span and conserves event counts") {
    val out = ops.Analytics.gapFillResample(spark, sf).cache()
    try {
      // dense: rows == sum over series of (hi - lo + 1)
      val spans = out.groupBy("event_type")
        .agg(min("bucket").as("lo"), max("bucket").as("hi"), count(lit(1)).as("rows"))
        .collect()
      spans.foreach { r =>
        assert(r.getAs[Long]("rows") === r.getAs[Long]("hi") - r.getAs[Long]("lo") + 1L)
      }
      // conservation: n sums to the raw event count; fill never NULL
      // (each series' first bucket is observed by construction)
      assert(out.agg(sum("n")).head().getLong(0) === Tables.events(spark, sf).count())
      assert(out.filter(col("value_ff").isNull).count() === 0L)
      // a gap row carries its predecessor's value
      val gap = out.filter(col("n") === 0L).orderBy("event_type", "bucket").head()
      val prev = out.filter(col("event_type") === gap.getString(0) &&
          col("bucket") === gap.getAs[Long]("bucket") - 1L).head()
      assert(gap.getAs[Double]("value_ff") === prev.getAs[Double]("value_ff"))
    } finally out.unpersist()
  }

  test("incremental stats merge equals a single-pass recompute") {
    val merged = ops.Analytics.incrementalEventStats(spark, sf).collect()
    val direct = ops.Analytics.eventStatsMerge(
        ops.Analytics.eventStatsPartial(Tables.events(spark, sf)))
      .orderBy("event_type").collect()
    assert(merged.map(_.toSeq).toSeq === direct.map(_.toSeq).toSeq)
    assert(merged.nonEmpty)
  }

  test("triangle count matches hand arithmetic on K4 plus a pendant") {
    import spark.implicits._
    // K4 has C(4,3)=4 triangles; a pendant edge adds none. Duplicate and
    // reversed edges must be cleaned, self-loops dropped.
    val edges = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
      ("c", "d"), ("d", "c"), ("a", "a"), ("d", "e")).toDF("src", "dst")
    val r = ops.Graph.triangles(edges).head()
    assert(r.getAs[Long]("n_nodes") === 5L)
    assert(r.getAs[Long]("n_edges") === 7L)
    assert(r.getAs[Long]("n_triangles") === 4L)
  }

  test("kcore peels a tail in cascades and keeps exactly the clique") {
    import spark.implicits._
    // K4 {a,b,c,d} with a path d-e-f hanging off: the 3-core is exactly
    // the K4 — e (deg 2) and f (deg 1) peel in cascading rounds, and d
    // keeps core_deg 3 after losing the tail
    val edges = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
      ("c", "d"), ("d", "e"), ("e", "f")).toDF("src", "dst")
    val core = ops.Graph.kCore(edges, k = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(core === Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
    // k above the max degree → empty core, converges without error
    assert(ops.Graph.kCore(edges, k = 10).count() === 0L)
  }

  test("bfs assigns exact hop depths and omits unreachable nodes") {
    import spark.implicits._
    // path 1-2-3-4 with branch 1-5; {6,7} is a separate component
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 5L), (6L, 7L))
      .toDF("src", "dst")
    val out = ops.Graph.bfs(edges, Seq(1L)).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out === Map(1L -> 0, 2L -> 1, 5L -> 1, 3L -> 2, 4L -> 3))
    // multi-source: nearest source wins
    val multi = ops.Graph.bfs(edges, Seq(4L, 5L)).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(multi === Map(4L -> 0, 5L -> 0, 3L -> 1, 1L -> 1, 2L -> 2))
  }

  test("bfs matches an independent driver-side traversal at sf0.001") {
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val edges = li.as("x").join(li.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .select(col("x.pk").as("src"), col("y.pk").as("dst"))
    val fast = ops.Graph.bfs(edges, Seq(0L)).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
    edges.collect().foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      if (a != b) {
        adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
        adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
      }
    }
    val dist = scala.collection.mutable.Map(0L -> 0)
    var frontier = Set(0L)
    var d = 0
    while (frontier.nonEmpty) {
      d += 1
      frontier = frontier.flatMap(n => adj.getOrElse(n, Set.empty))
        .filterNot(dist.contains)
      frontier.foreach(n => dist(n) = d)
    }
    assert(fast === dist.toMap)
    assert(fast.size > 1, "co-purchase graph should reach beyond the source")
  }

  test("importance weights reproduce the hand pipeline on a toy corpus") {
    import spark.implicits._
    val docs = Seq((1L, "x x", "en"), (2L, "x", "de"), (3L, "y y z", "de"))
      .toDF("doc_id", "text", "lang")
    val out = ops.TextAnalysis.importanceWeights(
        docs, col("doc_id"), col("text"), col("lang") === "en", buckets = 1024)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // replicate: md5-slice bucket per token, add-one target/raw ratio
    def bucket(tok: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(13), 16) % 1024L
    }
    val toks = Seq((1L, "x", true), (1L, "x", true), (2L, "x", false),
      (3L, "y", false), (3L, "y", false), (3L, "z", false))
    val byB = toks.groupBy(t => bucket(t._2))
    val ratio = byB.map { case (b, ts) =>
      b -> ((ts.count(_._3) + 1L) * 1000000L / (ts.size + 1L))
    }
    val expected = toks.groupBy(_._1).map { case (d, ts) =>
      val s = ts.map(t => ratio(bucket(t._2))).sum
      (d, ts.size.toLong, s, s / ts.size)
    }.toSet
    assert(out.toSet === expected)
  }

  test("kcore fixpoint matches an independent driver-side peel") {
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val edges = li.as("x").join(li.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .select(col("x.pk").as("src"), col("y.pk").as("dst"))
    val k = 65
    val fast = ops.Graph.kCore(edges, k).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute peel on collected edges (8.9k edges at sf0.001); 65-core
    // is 188 of 200 nodes here — non-trivial on BOTH sides
    val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
    edges.distinct().collect().foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      if (a != b) {
        adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
        adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
      }
    }
    var changed = true
    while (changed) {
      val drop = adj.collect { case (n, s) if s.size < k => n }.toSet
      changed = drop.nonEmpty
      drop.foreach { n => adj.remove(n).foreach(_.foreach(m => adj.get(m).foreach(_ -= n))) }
    }
    assert(fast === adj.map { case (n, s) => n -> s.size.toLong }.toMap)
  }

  test("q21 decorrelated plan equals the classic EXISTS/NOT-EXISTS spelling") {
    Tables.lineitem(spark, sf).createOrReplaceTempView("q21_li")
    Tables.orders(spark, sf).createOrReplaceTempView("q21_ord")
    Tables.supplier(spark, sf).createOrReplaceTempView("q21_sup")
    val classic = spark.sql(
      """WITH li AS (SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
        |  FROM q21_li JOIN q21_ord ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'),
        |late AS (SELECT * FROM li WHERE l_shipdate > o_orderdate + INTERVAL 90 DAYS)
        |SELECT s_name, count(*) AS numwait
        |FROM late l1 JOIN q21_sup ON l1.l_suppkey = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM li l2 WHERE l2.l_orderkey = l1.l_orderkey
        |              AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3 WHERE l3.l_orderkey = l1.l_orderkey
        |                  AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val decorr = ops.Analytics.waitingSuppliers(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(decorr.nonEmpty && decorr === classic)
  }

  test("MAD anomalies equal an independent driver-side median computation") {
    val byType = Tables.events(spark, sf)
      .select(col("event_type"), col("event_id"), col("value"))
      .collect().filter(!_.isNullAt(2))
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    // interpolated median, same definition as percentile(x, 0.5)
    def med(xs: Array[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    // NB: .toSeq first — flatMap on the Map would re-key by event_type
    // and silently keep one anomaly per group
    val expected = byType.toSeq.flatMap { case (et, rows) =>
      val m = med(rows.map(_._3))
      val d = med(rows.map(r => math.abs(r._3 - m)))
      if (d <= 0) Seq.empty[(String, Long)]
      else rows.collect { case (_, id, v) if math.abs(v - m) > d * 6.0 => (et, id) }.toSeq
    }.toSet
    val got = ops.Analytics.anomalyMad(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === expected)
    assert(got.nonEmpty || expected.isEmpty)
  }

  test("collocations rank a planted phrase first with the analytic lift") {
    import spark.implicits._
    // 40 docs of shuffled filler + the pair "aa bb" in every doc exactly
    // once: c12("aa","bb") = 40 while filler pairs are spread thin
    val filler = Seq("x1", "x2", "x3", "x4", "x5", "x6", "x7", "x8")
    val corpus = (0 until 40).map { i =>
      val rot = filler.drop(i % filler.size) ++ filler.take(i % filler.size)
      (i.toLong, (rot.take(4) ++ Seq("aa", "bb") ++ rot.drop(4)).mkString(" "))
    }.toDF("doc_id", "text")
    val top = TextAnalysis.collocations(corpus, col("doc_id"), col("text"),
      minCount = 5, k = 10, cache = false).collect()
    assert(top.head.getString(0) === "aa" && top.head.getString(1) === "bb")
    assert(top.head.getAs[Long]("c12") === 40L)
    // analytic lift: Nt = 40*10 tokens, Nb = 40*9 bigrams, c1 = c2 = 40
    val nt = 400.0; val nb = 360.0
    val lift = ((40.0 * nt) * nt) / ((nb * 40.0) * 40.0)
    assert(top.head.getAs[Long]("lift_micro") === math.round(lift * 1e6))
  }

  test("scd2 collapses repeats, chains validity, and resolves same-ts races") {
    import spark.implicits._
    val log = Seq(
      (1L, 10L, 100L, "a"), (1L, 20L, 101L, "a"), // repeat collapses
      (1L, 30L, 102L, "b"), (1L, 40L, 103L, "a"), // a again = NEW version
      (2L, 10L, 200L, "x"), (2L, 10L, 201L, "y")  // same-ts race: max tie wins
    ).toDF("k", "t", "id", "s")
    val v = ops.Analytics.scd2Versions(log, col("k"), col("t"), col("id"), col("s"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).sortBy(r => (r._1, r._3))
    assert(v.toSeq === Seq(
      (1L, "a", 10L, 30L), (1L, "b", 30L, 40L), (1L, "a", 40L, -1L),
      (2L, "y", 10L, -1L)))
  }

  test("pit attribution matches a brute per-purchase version scan") {
    val dim = ops.Analytics.userSegmentsScd2(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) Long.MaxValue else r.getLong(3)))
      .groupBy(_._1)
    val got = ops.Analytics.pitAttribution(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val purchases = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").cast("long"),
        expr("cast(round(value * 1000000.0D) as bigint)"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = purchases.map { case (u, t, v) =>
      val seg = dim.getOrElse(u, Array.empty).collectFirst {
        case (_, s, from, to) if t >= from && t < to => s
      }.getOrElse("none")
      (seg, v)
    }.groupBy(_._1).map { case (s, xs) => (s, xs.length.toLong, xs.map(_._2).sum) }
      .toSeq.sorted
    assert(got === brute)
  }

  test("gram matrix equals hand-computed micro sums on a tiny corpus") {
    import spark.implicits._
    val rows = Seq(
      (0L, Array(1.0f, 2.0f) ++ Array.fill(62)(0.0f)),
      (1L, Array(0.5f, -1.0f) ++ Array.fill(62)(0.0f)))
      .toDF("vec_id", "embedding")
    val g = Similarity.gramMatrix(rows).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(g((0, 0)) === (2L, math.round(1.0 * 1e6) + math.round(0.25 * 1e6)))
    assert(g((0, 1)) === (2L, math.round(2.0 * 1e6) + math.round(-0.5 * 1e6)))
    assert(g((1, 1)) === (2L, math.round(4.0 * 1e6) + math.round(1.0 * 1e6)))
    assert(g((5, 9)) === (2L, 0L))
    assert(g.size === 64 * 65 / 2)
  }

  test("fuzzy prefix dedup catches typo-dups inside a block, not across") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fax jumps ovr the lazy dog tonite"), // typos, same block
      (3L, "the quick brown completely different tail of words here"),
      (4L, "an entirely different opening so another block entirely")
    ).toDF("doc_id", "text")
    val pairs = Dedup.fuzzyPrefixPairs(docs, col("doc_id"), col("text"),
        maxDist = 8, prefixLen = 80, blockWords = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((1L, 2L)))
    assert(pairs.head._3 > 0 && pairs.head._3 <= 8)
    // the caught pair shares almost no word-3-grams — token-set Jaccard
    // at any useful threshold structurally misses it
    val j = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!j.contains((1L, 2L)))
  }

  test("skyline keeps exactly the non-dominated set, duplicates included") {
    import spark.implicits._
    val pts = Seq(
      (1L, 1.0, 10L), (2L, 2.0, 20L), (3L, 3.0, 15L), // 3 dominated by 2
      (4L, 2.0, 20L),  // exact duplicate of 2: both survive
      (5L, 0.5, 5L),   // cheapest: survives
      (6L, 1.0, 9L),   // same price as 1, lower y: dominated
      (7L, 4.0, 20L)   // same y as 2, pricier: dominated
    ).toDF("id", "x", "y").repartition(3) // force multi-partition phase 1
    val got = ops.Analytics.skyline2D(pts).collect().map(_.getLong(0)).toSet
    assert(got === Set(1L, 2L, 4L, 5L))
    // cross-check against brute dominance on the part table
    val parts = Tables.part(spark, sf)
      .select(col("p_partkey"), col("p_retailprice"), col("p_size").cast("long"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val brute = parts.filter { case (a, ax, ay) =>
      !parts.exists { case (b, bx, by) =>
        b != a && bx <= ax && by >= ay && (bx < ax || by > ay)
      }
    }.map(_._1).toSet
    val sky = ops.Analytics.partSkyline(spark, sf).collect().map(_.getLong(0)).toSet
    assert(sky === brute)
  }

  test("pca recovers a planted dominant direction and orders variance") {
    import spark.implicits._
    // vectors = t·u + s·w with |t| ~ 10·|s|: u must come out as PC1
    val d = 64
    val u = Array.tabulate(d)(i => if (i % 2 == 0) 1.0f else 0.0f)
      .map(x => x / math.sqrt(32.0).toFloat)
    val w = Array.tabulate(d)(i => if (i % 2 == 1) 1.0f else 0.0f)
      .map(x => x / math.sqrt(32.0).toFloat)
    val rows = (0 until 200).map { r =>
      val t = (r % 21 - 10).toFloat          // spread -10..10 along u
      val s = ((r * 7) % 5 - 2).toFloat / 2  // spread -1..1 along w
      (r.toLong, Array.tabulate(d)(i => t * u(i) + s * w(i)))
    }.toDF("vec_id", "embedding")
    val pcs = Similarity.pcaProject(rows, k = 2).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    // projection onto u reproduces t (up to float ingest rounding)
    rows.collect().map(_.getLong(0)).zip(pcs).foreach { case (_, (id, pc1, _)) =>
      val t = (id % 21 - 10).toDouble
      assert(math.abs(math.abs(pc1) - math.abs(t)) < 1e-3 ||
        math.abs(pc1 - t) < 1e-3 || math.abs(pc1 + t) < 1e-3)
    }
    // variance along pc1 strictly dominates pc2
    def variance(xs: Seq[Double]): Double = {
      val m = xs.sum / xs.size
      xs.map(x => (x - m) * (x - m)).sum / xs.size
    }
    val v1 = variance(pcs.map(_._2).toSeq)
    val v2 = variance(pcs.map(_._3).toSeq)
    assert(v1 > 10 * v2, s"pc1 variance $v1 must dominate pc2 $v2")
    // deterministic: a second run is bit-identical
    val again = Similarity.pcaProject(rows, k = 2).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(pcs.toSeq === again.toSeq)
  }

  test("jl projection signs reproduce the srp buckets away from the boundary") {
    val emb = Tables.embeddings(spark, sf)
    val proj = Similarity.jlProject(emb, planes = 4).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val bkt = Similarity.buckets(emb, planes = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // per-term micro rounding can flip a sign only within ±32 micro of
    // zero; everywhere else the JL sign IS the SRP bit
    var checked = 0
    bkt.foreach { case (id, b) =>
      (0 until 4).foreach { p =>
        val pm = proj((id, p))
        if (math.abs(pm) > 100) {
          checked += 1
          assert(((b >> p) & 1L) === (if (pm >= 0) 1L else 0L), s"vec $id plane $p")
        }
      }
    }
    assert(checked > bkt.size * 3, "nearly all projections must be checkable")
  }

  test("trained pq codebook cuts reconstruction error vs first-k and keeps the encode contract") {
    import spark.implicits._
    // 8 tight clusters whose centers are NOT the first rows: first-k
    // centroids all fall in cluster 0's neighborhood, trained centroids
    // must spread across clusters and win on reconstruction error
    val dims = 8; val m = 2; val k = 8; val sub = dims / m
    val centers = Array.tabulate(8, dims)((c, d) => ((c * 7 + d * 3) % 11 - 5).toDouble)
    val raw = (0 until 240).map { i =>
      val c = (i / 30) % 8
      (i.toLong, Array.tabulate(dims)(d =>
        (centers(c)(d) + ((i * 13 + d) % 3 - 1) * 0.05).toFloat))
    }
    val emb = raw.toDF("vec_id", "embedding")
    def err(cb: org.apache.spark.sql.DataFrame): Double = {
      val cents = cb.collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray).toMap
      val codes = Similarity.pqEncode(emb, cb, m, dims).collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
      raw.map { case (id, v) =>
        (0 until m).map { s =>
          val cv = cents((s, codes((id, s))))
          (0 until sub).map { p =>
            val t = v(s * sub + p).toDouble - cv(p); t * t
          }.sum
        }.sum
      }.sum
    }
    val firstK = Similarity.pqCodebook(emb, m, k, dims)
    val trained = Similarity.pqKmeansCodebook(emb, m, k, dims, sampleCap = 240)
    // contract: same shape, codes in range, deterministic training
    assert(trained.collect().length === m * k)
    val again = Similarity.pqKmeansCodebook(emb, m, k, dims, sampleCap = 240)
      .collect().map(_.toSeq).toSet
    assert(again === trained.collect().map(_.toSeq).toSet)
    val e0 = err(firstK); val e1 = err(trained)
    assert(e1 < e0 / 2, s"trained error $e1 must beat first-k $e0 decisively")
  }

  test("ivf+pq scores equal pq on the probed candidates; probes use the corpus quantizer") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 5)
    // every (query, neighbor) the composition returns must be a probed
    // candidate with EXACTLY the adc score the pure-PQ path computes
    val pq = Similarity.pqTopK(emb, queries, k = 1000000).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val cells = Similarity.ivfAssign(emb, 8).filter(col("cell_rank") === 1)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val probes = Similarity.ivfAssign(queries, 8, centroidSource = Some(emb))
      .filter(col("cell_rank") <= 2).select("vec_id", "cell").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val got = Similarity.ivfPqTopK(emb, queries, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    got.foreach { case (q, nb, adc) =>
      assert(probes(q).contains(cells(nb)), s"($q, $nb) not in a probed cell")
      assert(pq((q, nb)) === adc, s"adc mismatch for ($q, $nb)")
    }
    // regression: a query frame with NO overlap with the corpus' first-k
    // ids must still probe (the quantizer comes from the corpus, not the
    // query frame — deriving it from the queries left 0 centroids here)
    val far = Similarity.ivfPqTopK(emb, emb.filter(col("vec_id").between(100, 104)), k = 3)
      .collect()
    assert(far.map(_.getLong(0)).distinct.length === 5, "every far query must score")
  }

  test("cluster sample keeps at most perCell ids per cell, disjoint and deterministic") {
    val emb = Tables.embeddings(spark, sf)
    val got = Similarity.clusterSample(emb, kCells = 4, perCell = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // per-cell caps and dense rank
    got.groupBy(_._1).foreach { case (cell, rows) =>
      assert(rows.length <= 5, s"cell $cell overfull")
      assert(rows.map(_._3).sorted.toSeq === (1 to rows.length), s"cell $cell ranks")
    }
    // a vector is sampled for exactly one cell
    val ids = got.map(_._2)
    assert(ids.distinct.length === ids.length)
    // membership agrees with the nearest-cell assignment
    val cells = Similarity.ivfAssign(emb, 4)
      .filter(col("cell_rank") === 1)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (cell, id, _) => assert(cells(id) === cell, s"vec $id") }
    // deterministic across runs
    val again = Similarity.clusterSample(emb, kCells = 4, perCell = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSeq === again.toSeq)
  }

  test("integer power iteration finds the planted direction and scores match a brute fold") {
    import spark.implicits._
    val d = 64
    val u = Array.tabulate(d)(i => if (i % 2 == 0) 1.0f else 0.0f)
      .map(x => x / math.sqrt(32.0).toFloat)
    val w = Array.tabulate(d)(i => if (i % 2 == 1) 1.0f else 0.0f)
      .map(x => x / math.sqrt(32.0).toFloat)
    val raw = (0 until 200).map { r =>
      val t = (r % 21 - 10).toFloat
      val s = ((r * 7) % 5 - 2).toFloat / 2
      (r.toLong, Array.tabulate(d)(i => t * u(i) + s * w(i)))
    }
    val rows = raw.toDF("vec_id", "embedding")
    val v = Similarity.pcaPowerVector(rows, d)
    // milli vector aligns with the planted u (cosine, not equality — the
    // fixture quantizes to milli units)
    val dot = v.indices.map(i => v(i) * u(i).toDouble).sum
    val nv = math.sqrt(v.map(x => x.toDouble * x).sum)
    assert(math.abs(dot) / nv > 0.999, s"cos(v, u) = ${dot / nv}")
    // sign convention: the largest-|component| entry is positive
    val mx = v.map(math.abs).max
    assert(v(v.indexWhere(x => math.abs(x) == mx)) > 0)
    // pcaScores equals the per-term-rounded fold computed independently
    val scores = Similarity.pcaScores(rows, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    raw.foreach { case (id, emb) =>
      val brute = emb.indices.map { i =>
        val x = emb(i).toDouble * v(i) * 1000.0
        (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toLong
      }.sum
      assert(scores(id) === brute, s"vec $id")
    }
    // the DataFrame face carries the same vector
    val dfv = Similarity.pcaPower(rows, d).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(v.indices.forall(i => dfv(i) == v(i)))
  }

  test("triangle count is orientation-exact on the part graph") {
    // cross-check the oriented join against an independent brute count
    // over canonical edges (a<b<c closure), feasible at sf0.001
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val e = li.as("x").join(li.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .select(col("x.pk").as("a"), col("y.pk").as("b")).distinct().cache()
    val brute = e.as("e1").join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"),
        col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
      .count()
    val fast = ops.Graph.partTriangles(spark, sf).head().getAs[Long]("n_triangles")
    e.unpersist()
    assert(fast === brute)
  }

  test("q2 decorrelated min-cost join equals the correlated SQL spelling") {
    Tables.lineitem(spark, sf).createOrReplaceTempView("q2_li")
    Tables.part(spark, sf).createOrReplaceTempView("q2_part")
    Tables.supplier(spark, sf).createOrReplaceTempView("q2_sup")
    Tables.nation(spark, sf).createOrReplaceTempView("q2_nat")
    Tables.region(spark, sf).createOrReplaceTempView("q2_reg")
    val classic = spark.sql(
      """WITH sup AS (SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM q2_sup JOIN q2_nat ON s_nationkey = n_nationkey
        |  JOIN q2_reg ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'),
        |offers AS (SELECT l_partkey, l_suppkey,
        |    min(l_extendedprice / l_quantity) AS unit_cost
        |  FROM q2_li
        |  WHERE l_quantity > 0
        |    AND l_suppkey IN (SELECT s_suppkey FROM sup)
        |    AND l_partkey IN (SELECT p_partkey FROM q2_part
        |                      WHERE p_type = 'STANDARD' AND p_size <= 10)
        |  GROUP BY 1, 2)
        |SELECT s_acctbal, s_name, n_name, l_partkey AS p_partkey, unit_cost
        |FROM offers o JOIN sup ON l_suppkey = s_suppkey
        |WHERE unit_cost = (SELECT min(o2.unit_cost) FROM offers o2
        |                   WHERE o2.l_partkey = o.l_partkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin)
      .collect().map(_.toSeq).toSeq
    val decorr = ops.Analytics.minCostSupplier(spark, sf).collect().map(_.toSeq).toSeq
    assert(decorr.nonEmpty && decorr === classic)
  }

  test("q20 one-pass conditional agg equals the nested correlated spelling") {
    Tables.lineitem(spark, sf).createOrReplaceTempView("q20_li")
    Tables.part(spark, sf).createOrReplaceTempView("q20_part")
    Tables.supplier(spark, sf).createOrReplaceTempView("q20_sup")
    Tables.nation(spark, sf).createOrReplaceTempView("q20_nat")
    Tables.region(spark, sf).createOrReplaceTempView("q20_reg")
    // the literal Q20 nesting: the year aggregate correlates into a
    // threshold over the all-time aggregate, per (supplier, part)
    val classic = spark.sql(
      """SELECT s_name, s_acctbal
        |FROM q20_sup JOIN q20_nat ON s_nationkey = n_nationkey
        |JOIN q20_reg ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE' AND s_suppkey IN (
        |  SELECT t.l_suppkey FROM (
        |    SELECT l_suppkey, l_partkey,
        |      SUM(CAST(CASE WHEN year(l_shipdate) = 1997 THEN l_quantity
        |               ELSE 0 END AS DECIMAL(28,8))) AS qty_yr,
        |      SUM(CAST(l_quantity AS DECIMAL(28,8))) AS qty_all
        |    FROM q20_li
        |    WHERE l_partkey IN (SELECT p_partkey FROM q20_part
        |                        WHERE p_name LIKE 'red %')
        |    GROUP BY 1, 2) t
        |  WHERE t.qty_yr * 2 > t.qty_all)
        |ORDER BY s_name""".stripMargin)
      .collect().map(_.toSeq).toSeq
    val got = ops.Analytics.concentratedShippers(spark, sf).collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got === classic)
  }

  test("sliding dau equals a driver-side window fold over user-days") {
    val ud = Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val maxD = ud.map(_._2).max
    val expected = ud.flatMap { case (u, d) =>
      (0 until 7).map(k => (d.plusDays(k.toLong), u))
    }.filter(!_._1.isAfter(maxD)).groupBy(_._1)
      .map { case (day, us) => day -> us.map(_._2).distinct.length }
    val got = ops.Analytics.slidingActiveUsers(spark, sf).collect()
      .map(r => r.getDate(0).toLocalDate -> r.getLong(1).toInt).toMap
    assert(got === expected)
    // every window must cover at least the single-day actives
    val daily = ud.groupBy(_._2).map { case (day, us) => day -> us.length }
    daily.foreach { case (day, n) => assert(got(day) >= n) }
  }

  test("transition matrix rows are probability distributions over real pairs") {
    val rows = ops.Analytics.transitionMatrix(spark, sf).collect()
    assert(rows.nonEmpty)
    // per-prev probabilities sum to 1 (integer-normalized, so exact sums
    // only up to double addition — tolerance covers the fold order)
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      assert(math.abs(rs.map(_.getDouble(3)).sum - 1.0) < 1e-9)
    }
    // total transition count = events minus one per user with >=1 event
    val ev = Tables.events(spark, sf).select("user_id").collect().map(_.getLong(0))
    val expectedPairs = ev.length - ev.distinct.length
    assert(rows.map(_.getLong(2)).sum === expectedPairs)
  }

  test("ewma matches a driver-side integer fold and tracks constants exactly") {
    val rows = ops.Analytics.ewma(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    // independent fold: same dyadic weights over the collected series
    val series = Tables.events(spark, sf)
      .select(col("event_type"), col("ts").cast("long"), col("event_id"),
        expr("cast(round(value * 1000000.0D) as bigint)"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .groupBy(_._1)
    val expected = series.toSeq.flatMap { case (et, rs) =>
      val ordered = rs.sortBy(r => (r._2, r._3)).map(r => (r._3, r._4))
      ordered.indices.flatMap { i =>
        val lags = (0 until 16).map(k => if (i - k >= 0) ordered(i - k)._2 else None)
        val num = lags.zipWithIndex.map { case (v, k) => v.getOrElse(0L) * (1L << (15 - k)) }.sum
        val den = lags.zipWithIndex.map { case (v, k) => if (v.isDefined) 1L << (15 - k) else 0L }.sum
        if (den > 0) Some((et, ordered(i)._1, num / den)) else None
      }
    }.toSet
    assert(rows.toSet === expected)
    // a constant series must report the constant itself at every tap count
    import spark.implicits._
    val const = Seq.tabulate(20)(i => ("c", i.toLong, 42.5)).toDF("k", "i", "v")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("k")).orderBy(col("i"))
    val n16 = (0 until 16).map(k =>
      coalesce(lag(col("vm"), k).over(w) * lit(1L << (15 - k)), lit(0L))).reduce(_ + _)
    val d16 = (0 until 16).map(k =>
      when(lag(col("vm"), k).over(w).isNotNull, lit(1L << (15 - k))).otherwise(lit(0L))).reduce(_ + _)
    val got = const.withColumn("vm", expr("cast(round(v * 1000000.0D) as bigint)"))
      .withColumn("e", n16).withColumn("d", d16)
      .selectExpr("e div d as ew").collect().map(_.getLong(0))
    assert(got.forall(_ === 42500000L))
  }

  test("basket lift agrees with driver-side exact counts on every pair") {
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val baskets = li.groupBy(_._1).map { case (ok, rs) => ok -> rs.map(_._2).toSet }
    val n = baskets.size.toLong
    val itemCnt = li.groupBy(_._2).map { case (pk, rs) => pk -> rs.length.toLong }
    val pairCnt = baskets.values.flatMap { ps =>
      val s = ps.toSeq.sorted
      for (i <- s.indices; j <- (i + 1) until s.length) yield (s(i), s(j))
    }.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    val got = ops.Analytics.basketLift(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (p1, p2, n12) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(pairCnt((p1, p2)) === n12 && n12 >= 3)
      assert(r.getDouble(3) === n12.toDouble / n.toDouble)
      assert(r.getDouble(4) === n12.toDouble / itemCnt(p1).toDouble)
      assert(r.getDouble(5) === (n12 * n).toDouble / (itemCnt(p1) * itemCnt(p2)).toDouble)
    }
    // top-50 by lift: every returned lift >= the best excluded one
    val allLifts = pairCnt.collect { case ((a, b), c) if c >= 3 =>
      (c * n).toDouble / (itemCnt(a) * itemCnt(b)).toDouble }.toSeq.sorted.reverse
    val cut = allLifts.take(50).lastOption.getOrElse(0.0)
    assert(got.map(_.getDouble(5)).forall(_ >= cut))
  }

  test("dim stats recover analytic moments on a constructed corpus") {
    import spark.implicits._
    // dim 0: constant 0.5 -> std 0; dim 1: alternating ±0.5 -> mean 0, std 0.5
    val vecs = Seq.tabulate(100)(i =>
      (i.toLong, Array(0.5f, if (i % 2 == 0) 0.5f else -0.5f)))
      .toDF("vec_id", "embedding")
    val st = ops.Similarity.dimProfile(vecs).collect()
    assert(st.length === 2)
    val d0 = st(0); val d1 = st(1)
    assert(d0.getLong(1) === 100L && d0.getAs[Double]("mean") === 0.5)
    assert(d0.getAs[Double]("std") === 0.0)
    assert(d1.getAs[Double]("mean") === 0.0 && d1.getAs[Double]("std") === 0.5)
    // real corpus: every dim present, n equals corpus size, std >= 0
    val real = ops.Similarity.dimProfile(emb).collect()
    val nVec = emb.count()
    assert(real.length === 64)
    assert(real.forall(r => r.getLong(1) === nVec && r.getAs[Double]("std") >= 0.0))
  }

  test("ks drift equals a driver-side ECDF supremum and is 0 on identity") {
    import spark.implicits._
    // identical strata -> supremum 0
    val same = (1 to 50).flatMap(i => Seq(("a", i.toLong), ("b", i.toLong)))
      .toDF("g", "x")
    val id = TextAnalysis.ksDrift(same, col("g"), col("x"), "a", "b").head()
    assert(id.getAs[Long]("ks_num") === 0L && id.getAs[Double]("ks") === 0.0)
    // planted shift: b = a + 100 with disjoint supports -> KS = 1
    val shift = ((1 to 50).map(i => ("a", i.toLong)) ++
      (1 to 50).map(i => ("b", i.toLong + 100L))).toDF("g", "x")
    val sh = TextAnalysis.ksDrift(shift, col("g"), col("x"), "a", "b").head()
    assert(sh.getAs[Double]("ks") === 1.0)
    // real corpus vs an independent driver-side fold
    val vals = docs.filter(col("source").isin("src0", "src1"))
      .select(col("source"), col("n_chars"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val xa = vals.filter(_._1 == "src0").map(_._2).sorted
    val xb = vals.filter(_._1 == "src1").map(_._2).sorted
    val expected = (xa ++ xb).distinct.map { t =>
      math.abs(xa.count(_ <= t).toLong * xb.length - xb.count(_ <= t).toLong * xa.length)
    }.max
    val got = TextAnalysis.ksDrift(docs, col("source"), col("n_chars"), "src0", "src1").head()
    assert(got.getAs[Long]("ks_num") === expected)
    assert(got.getAs[Double]("ks") ===
      expected.toDouble / (xa.length.toLong * xb.length).toDouble)
  }

  test("equi-depth histogram balances counts and tiles the value range") {
    val rows = ops.Analytics.equidepthHistogram(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.nonEmpty && rows.map(_._1).distinct.length === rows.length)
    val total = Tables.events(spark, sf).filter(col("value").isNotNull).count()
    assert(rows.map(_._2).sum === total)
    // buckets are ordered and non-overlapping: hi(k) <= lo(k+1)
    rows.sortBy(_._1).toSeq.sliding(2).foreach {
      case Seq((_, _, _, hi1), (_, lo2, _, _)) => assert(hi1 <= lo2)
      case _ =>
    }
    // equal-frequency contract: each bucket within ±1 of n/8 unless edges
    // collapsed (ties); on this continuous-valued corpus they shouldn't
    assert(rows.length === 8)
    val ideal = total / 8.0
    rows.foreach { case (_, n, _, _) =>
      assert(math.abs(n - ideal) <= math.ceil(ideal / 8) + 1,
        s"bucket count $n far from ideal $ideal")
    }
  }

  /** A w×h 24-bit BMP with per-pixel colors from `f(x, y)` (top-left
    * origin; handles the bottom-up row order internally).
    */
  private def patternBmp(w: Int, h: Int)(f: (Int, Int) => Int): Array[Byte] = {
    val rowBytes = (w * 3 + 3) & ~3
    val data = rowBytes * h
    val out = new java.io.ByteArrayOutputStream()
    def le2(v: Int) = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def le4(v: Int) = { le2(v & 0xffff); le2((v >> 16) & 0xffff) }
    out.write('B'); out.write('M'); le4(54 + data); le4(0); le4(54)
    le4(40); le4(w); le4(h); le2(1); le2(24); le4(0); le4(data)
    le4(2835); le4(2835); le4(0); le4(0)
    // BMP rows are stored bottom-up
    (h - 1 to 0 by -1).foreach { y =>
      (0 until w).foreach { x =>
        val rgb = f(x, y)
        out.write(rgb & 0xff); out.write((rgb >> 8) & 0xff); out.write((rgb >> 16) & 0xff)
      }
      (w * 3 until rowBytes).foreach(_ => out.write(0))
    }
    out.toByteArray
  }

  test("perceptual hash pairs re-encoded and noisy dups, not distinct images") {
    import spark.implicits._
    // a horizontal gradient: strong dhash signal
    def grad(x: Int, y: Int): Int = { val v = x * 255 / 31; (v << 16) | (v << 8) | v }
    val original = patternBmp(32, 16)(grad)
    // same image at a different size (re-encode analogue): same hash
    val resized = patternBmp(64, 32)((x, y) => grad(x / 2, y / 2))
    // one flipped pixel pair: tiny luma perturbation, small hamming
    val noisy = patternBmp(32, 16)((x, y) =>
      if (x == 5 && y == 3) 0xffffff else grad(x, y))
    // the reverse gradient: a genuinely different image
    val reversed = patternBmp(32, 16)((x, y) => grad(31 - x, y))
    val assets = ops.Multimodal.toAsset(
      Seq((1L, "image/bmp", original), (2L, "image/bmp", resized),
        (3L, "image/bmp", noisy), (4L, "image/bmp", reversed),
        (5L, "application/opaque", Array[Byte](1, 2, 3)))
        .toDF("id", "kind", "payload"),
      col("id"), col("kind"), col("payload"))
    val hashes = ops.Multimodal.perceptualHash(assets).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(hashes(1L).isDefined && hashes(5L).isEmpty)
    assert(hashes(1L) === hashes(2L), "scale-invariant: resized dup must hash equal")
    val pairs = ops.Multimodal.phashPairs(assets).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong))
    val ids = pairs.map(p => (p._1, p._2)).toSet
    assert(ids.contains((1L, 2L)), "resized dup not paired")
    assert(ids.contains((1L, 3L)), "noisy dup not paired")
    assert(!ids.exists(p => p._1 == 4L || p._2 == 4L),
      s"reverse gradient must not pair: $pairs")
    // hamming values are exact: identical images at 0
    assert(pairs.find(p => (p._1, p._2) == ((1L, 2L))).get._3 === 0L)
  }

  test("running distinct ends at the per-user distinct-type census") {
    val got = ops.Analytics.runningDistinct(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val census = Tables.events(spark, sf)
      .groupBy("user_id").agg(countDistinct("event_type").as("k"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the max per user equals the census; counts start at 1
    got.groupBy(_._2).foreach { case (u, rs) =>
      assert(rs.map(_._3).max === census(u))
      assert(rs.map(_._3).min === 1L)
    }
    assert(got.length === Tables.events(spark, sf).count())
  }

  test("bpe pair counts weight pairs by word frequency") {
    import spark.implicits._
    val corpus = Seq((1L, "aaab aaab"), (2L, "aaab aaab cd cd"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bpePairCounts(corpus, col("text"), k = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    // "aaab"x4 contributes aa,aa,ab per word; "cd"x2 contributes cd
    assert(got.toMap === Map("aa" -> 8L, "ab" -> 4L, "cd" -> 2L))
    assert(got.head === ("aa" -> 8L), "ranked by weighted count")
  }

  test("bpe training replays the hand-computed greedy merge sequence") {
    import spark.implicits._
    val corpus = Seq((1L, "aaab aaab"), (2L, "aaab aaab cd cd"))
      .toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(corpus, col("text"), rounds = 6)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // round 1: (a,a)x8 wins; rewrite makes aaab -> [aa,a,b] (greedy
    // left-to-right, no overlap). round 2: (aa,a) and (a,b) tie at 4 —
    // lexicographic tiebreak picks (a,b). round 3 joins the halves;
    // round 4 finally merges the rare word; then the vocab is exhausted.
    assert(merges.toSeq === Seq(
      (1, "a", "a", 8L),
      (2, "a", "b", 4L),
      (3, "aa", "ab", 4L),
      (4, "c", "d", 2L)))
  }

  test("bpe encode applies the trained merges and counts real tokens") {
    import spark.implicits._
    val corpus = Seq((1L, "aaab aaab"), (2L, "aaab aaab cd cd"))
      .toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(corpus, col("text"), rounds = 6)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val full = TextAnalysis.bpeEncode(corpus, col("doc_id"), col("text"), merges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // all four merges collapse every word to a single token
    assert(full.toSeq === Seq((1L, 2L, 2L), (2L, 4L, 4L)))
    // a 2-merge prefix leaves aaab as [aa, ab] and cd as [c, d]
    val partial = TextAnalysis.bpeEncode(corpus, col("doc_id"), col("text"),
        merges.take(2))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(partial.toSeq === Seq((1L, 4L, 2L), (2L, 8L, 4L)))
  }

  test("margin mining keeps the planted mutual pair and drops hub pairings") {
    import spark.implicits._
    def vec(parts: (Int, Float)*): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      parts.foreach { case (i, x) => a(i) = x }
      a
    }
    // B-side id 9 is a HUB: moderately close to every A vector. Raw
    // cosine would still rank 9 second for each A vector; the margin
    // normalizer discounts its crowded neighborhood (every margin with 9
    // lands under the 1.0 bar) so only the genuine one-to-one matches
    // (0<->1, 2<->3) survive the mutual-argmax + threshold filter.
    val a = Seq(
      0L -> vec(0 -> 1.0f),
      2L -> vec(1 -> 1.0f)).toDF("vec_id", "embedding")
    val b = Seq(
      1L -> vec(0 -> 0.95f, 3 -> 0.3f),
      3L -> vec(1 -> 0.95f, 3 -> 0.3f),
      9L -> vec(0 -> 0.5f, 1 -> 0.5f, 2 -> 0.5f)).toDF("vec_id", "embedding")
    val got = Similarity.marginPairs(a, b, k = 2, minMarginPpm = 1000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((0L, 1L)), "planted pair 0<->1 must be mined")
    assert(got.contains((2L, 3L)), "planted pair 2<->3 must be mined")
    assert(!got.exists(_._2 == 9L), s"hub must not win a mutual pairing: $got")
    ops.Dedup.unpersistShared()
  }

  test("LSH margin mining recovers co-directional pairs from bucket candidates") {
    import spark.implicits._
    def vec(parts: (Int, Float)*): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      parts.foreach { case (i, x) => a(i) = x }
      a
    }
    // planted pairs are SAME-DIRECTION (scaled) vectors, so every SRP
    // hyperplane gives both endpoints the same sign — bucket collision
    // is guaranteed, not probabilistic, and the epilogue must mine them
    val a = Seq(
      0L -> vec(0 -> 1.0f),
      2L -> vec(1 -> 1.0f)).toDF("vec_id", "embedding")
    val b = Seq(
      1L -> vec(0 -> 0.9f),
      3L -> vec(1 -> 0.9f),
      9L -> vec(0 -> 0.5f, 1 -> 0.5f, 2 -> 0.5f)).toDF("vec_id", "embedding")
    val got = Similarity.marginPairsLsh(a, b, k = 2, minMarginPpm = 1000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((0L, 1L)), s"planted pair 0<->1 must be mined: $got")
    assert(got.contains((2L, 3L)), s"planted pair 2<->3 must be mined: $got")
    assert(!got.exists(_._2 == 9L), s"hub must not win a mutual pairing: $got")
    ops.Dedup.unpersistShared()
  }

  test("fuzzy decontamination flags the paraphrased leak the exact rule misses") {
    import spark.implicits._
    val benchText = (0 until 80).map(i => s"tok$i").mkString(" ")
    // paraphrase: swap every 13th word so no clean 13-word run survives
    // (max run = 12), but ~78% of 3-word shingles still match
    val leakText = (0 until 80)
      .map(i => if (i % 13 == 6) s"swap$i" else s"tok$i").mkString(" ")
    val bench = Seq((1L, benchText)).toDF("doc_id", "text")
    val train = Seq((100L, leakText), (101L, (50 until 130).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val exact = Dedup.contamination(train, col("doc_id"), col("text"),
      bench, col("doc_id"), col("text"), nGram = 13)
    assert(!exact.collect().map(_.getLong(0)).contains(100L),
      "the paraphrase must evade the exact 13-gram rule for this test to bite")
    val fuzzy = Dedup.contaminationFuzzy(train, col("doc_id"), col("text"),
      bench, col("doc_id"), col("text")).collect()
    assert(fuzzy.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((100L, 1L)),
      s"fuzzy must flag exactly the planted leak: ${fuzzy.mkString(",")}")
    assert(fuzzy.head.getAs[Long]("n_match") >= 8L)
    Dedup.unpersistShared()
  }

  test("cell outliers flag the planted off-manifold vector, per cell, bottom decile") {
    import spark.implicits._
    // 2 tight clusters in 8 dims (ids laid out so first-2 = one centroid
    // each) + one planted junk vector near the equidistant diagonal
    val n = 40
    val vecs = ((0L until n).map { id =>
      val c = (id % 2).toInt
      val v = Array.tabulate(8) { d =>
        val jitter = ((id * 13 + d * 5) % 89).toFloat / 89f * 0.05f
        (if (d == c) 1f else 0f) + jitter
      }
      (id, v.toSeq)
    } :+ (99L, Array.tabulate(8)(d => if (d >= 6) 1f else 0.1f).toSeq))
      .toDF("vec_id", "embedding")
    val out = Similarity.cellOutliers(vecs, kCells = 2, permille = 100).collect()
    // the junk vector must be flagged and hold its cell's WORST rank (r=1)
    val junk = out.filter(_.getAs[Long]("vec_id") == 99L)
    assert(junk.length === 1, s"planted outlier must be flagged: ${out.mkString(",")}")
    assert(junk.head.getAs[Long]("r") === 1L)
    // decile bound: ≤ 10% of each cell may be flagged
    val assigned = Similarity.ivfAssign(vecs, 2).filter(col("cell_rank") === 1)
      .groupBy("cell").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.groupBy(_.getAs[Long]("cell")).foreach { case (cell, rows) =>
      assert(rows.length * 1000 <= assigned(cell) * 100 + 1000, s"cell $cell over-flagged")
    }
  }

  test("chunk overlap tiles every doc: strided starts, exact windows, tail runs short") {
    // hand-checkable shape first: 7 tokens, window 4, stride 2
    val tiny = spark.createDataFrame(Seq((1L, "a b c d e f g"))).toDF("doc_id", "text")
    val ch = TextAnalysis.chunkOverlap(tiny, col("doc_id"), col("text"), window = 4, stride = 2)
      .orderBy("chunk_id").collect()
    assert(ch.map(_.getAs[Long]("start")).toSeq === Seq(0L, 2L, 4L))
    assert(ch.map(_.getAs[String]("chunk_text")).toSeq ===
      Seq("a b c d", "c d e f", "e f g"))
    assert(ch.map(_.getAs[Long]("chunk_tokens")).toSeq === Seq(4L, 4L, 3L))

    // corpus-level invariants at the default 64/32 geometry
    val out = TextAnalysis.chunkOverlap(docs, col("doc_id"), col("text"))
    val perDoc = out.groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"), max("n_tok").as("n_tok"),
        min("start").as("s0"), max("start").as("sMax"))
      .collect()
    assert(perDoc.nonEmpty)
    perDoc.foreach { r =>
      val n = r.getAs[Long]("n_tok")
      val expected = math.ceil(math.max(n - 64L, 0L) / 32.0).toLong + 1L
      assert(r.getAs[Long]("n_chunks") === expected, s"doc ${r.get(0)}")
      assert(r.getAs[Long]("s0") === 0L)
      assert(r.getAs[Long]("sMax") === (expected - 1L) * 32L)
    }
    // stride == window means zero overlap: chunks partition the tokens
    val flat = TextAnalysis.chunkOverlap(docs, col("doc_id"), col("text"),
        window = 32, stride = 32)
      .groupBy("doc_id").agg(sum("chunk_tokens").as("tok_sum"), max("n_tok").as("n_tok"))
    assert(flat.filter(col("tok_sum") =!= col("n_tok")).count() === 0)
  }

  test("distributed curriculum phases equal the single-window ntile definition") {
    import org.apache.spark.sql.expressions.Window
    val got = TextAnalysis.curriculum(docs, col("doc_id"), col("text"), nPhases = 4)
    val want = docs
      .select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("phase", ntile(4).over(Window.orderBy("n_tok", "doc_id")))
    assert(got.join(want.withColumnRenamed("phase", "want_phase"), Seq("doc_id", "n_tok"))
      .filter(col("phase") =!= col("want_phase")).count() === 0)
    // equal-count stages: phase sizes differ by at most one
    val sizes = got.groupBy("phase").count().collect().map(_.getAs[Long]("count"))
    assert(sizes.length === 4 && sizes.max - sizes.min <= 1)
    // monotone: every doc in a later phase is at least as long
    val bounds = got.groupBy("phase")
      .agg(min("n_tok").as("lo"), max("n_tok").as("hi"))
      .orderBy("phase").collect()
    bounds.sliding(2).foreach {
      case Array(a, b) => assert(a.getAs[Long]("hi") <= b.getAs[Long]("lo"))
      case _ =>
    }
  }

  /** In-memory reference for [[TextAnalysis.dupSpans]] over UTF-8 bytes:
    * count every char k-gram corpus-wide, keep positions whose gram
    * repeats, merge consecutive positions into maximal spans. A char is
    * its lead byte's UTF-8 length (RFC 3629: C2-DF 2, E0-EF 3, F0-F4 4),
    * anything else one byte, and a truncated sequence at the end stops at
    * the last byte. Rows come back ordered like dupSpans' output.
    */
  private def dupSpansBrute(rows: Seq[(Long, String)],
                            k: Int): Seq[(Long, Long, Long, Long)] =
    dupSpansBruteBytes(rows.map { case (id, t) => (id, t.getBytes("UTF-8")) }, k)

  private def dupSpansBruteBytes(rows: Seq[(Long, Array[Byte])],
                                 k: Int): Seq[(Long, Long, Long, Long)] = {
    def width(b: Byte): Int = b & 0xFF match {
      case x if x >= 0xC2 && x <= 0xDF => 2
      case x if x >= 0xE0 && x <= 0xEF => 3
      case x if x >= 0xF0 && x <= 0xF4 => 4
      case _ => 1
    }
    val grams = rows.flatMap { case (id, b) =>
      val starts = Iterator.iterate(0)(i => i + width(b(i))).takeWhile(_ < b.length)
        .toIndexedSeq :+ b.length
      (0 to starts.length - 1 - k).map(i =>
        (id, i + 1L, b.slice(starts(i), starts(i + k)).toSeq))
    }
    val cnt = grams.groupBy(_._3).view.mapValues(_.size).toMap
    grams.filter(g => cnt(g._3) > 1).groupBy(_._1).toSeq.flatMap { case (id, gs) =>
      val ps = gs.map(_._2).sorted
      // islands: split where the position step exceeds 1
      val islands = ps.foldLeft(List.empty[List[Long]]) {
        case (acc @ (cur :: rest), p) if p == cur.head + 1 => (p :: cur) :: rest
        case (acc, p) => List(p) :: acc
      }
      islands.map(isl => (id, isl.min, isl.max + (k - 1), isl.max + k - isl.min))
    }.sorted
  }

  private def spanRows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

  test("dupSpans: crafted cross-doc duplicate, exact span bounds") {
    import spark.implicits._
    // docs 1/2 share a 15-char block; with k=10 the seeds are starts 6..11
    // (doc 1) and 3..8 (doc 2) → spans [6,20] and [3,17], both len 15
    val rows = Seq(
      (1L, "xxwqzABCDEFGHIJKLMNOyyprk"),
      (2L, "ztABCDEFGHIJKLMNOqhnvjduw"),
      (3L, "completely unrelated text"))
    val out = spanRows(TextAnalysis.dupSpans(rows.toDF("doc_id", "text"),
      col("doc_id"), col("text"), k = 10))
    assert(out === Seq((1L, 6L, 20L, 15L), (2L, 3L, 17L, 15L)))
    assert(out === dupSpansBrute(rows, 10))
  }

  test("dupSpans matches the brute k-gram count on the real corpus") {
    val rows = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val got = spanRows(TextAnalysis.dupSpans(docs, col("doc_id"), col("text")))
    assert(got === dupSpansBrute(rows, 30))
    assert(got.nonEmpty, "fixture must contain duplicated substrings")
  }

  test("dupSpans on multi-byte text: straddling grams, k-1/k/k+1 chars, invalid and truncated UTF-8") {
    import spark.implicits._
    val k = 5
    // é 2 bytes, € 3, 😀 4: the shared block puts each width at a gram edge
    val block = "é€😀aé€😀b"
    val u = (s: String) => s.getBytes("UTF-8")
    val truncEuro = u("€").take(2)          // E2 82: a 3-byte lead cut short
    val crafted = Seq(
      1L -> u(s"x$block€y"),
      2L -> u(s"😀😀$block"),
      3L -> u("é€😀a"),                     // k-1 chars
      4L -> u("é€😀aé"),                    // k chars: its one gram repeats in 1/2
      5L -> u("z€😀aé€"),                   // k+1 chars
      6L -> (u("qq€😀a") ++ truncEuro),     // ends in a truncated sequence
      7L -> (u("rq€😀a") ++ truncEuro),     // same truncated last gram as 6
      // a stray continuation byte and two invalid lead bytes, one char each
      8L -> (u("a") ++ Array(0x80, 0xFF, 0xC0).map(_.toByte) ++ u("é€😀aé€😀")))
    // and a seeded random corpus over a mixed-width alphabet, where short
    // grams repeat often
    val rnd = new scala.util.Random(7L)
    val alphabet = Seq(u("a"), u("é"), u("€"), u("😀"), Array(0x80.toByte), truncEuro)
    val random = (20L until 60L).map(id =>
      id -> Array.fill(rnd.nextInt(14))(alphabet(rnd.nextInt(alphabet.length))).flatten)
    for ((rows, kk) <- Seq(crafted -> k, random -> 3, random -> 2)) {
      val df = rows.toDF("doc_id", "b").select(col("doc_id"), col("b").cast("string").as("text"))
      val got = spanRows(TextAnalysis.dupSpans(df, col("doc_id"), col("text"), kk))
      assert(got === dupSpansBruteBytes(rows, kk), s"k=$kk")
      assert(got.nonEmpty, s"k=$kk")
    }
  }

  /** In-memory reference for [[TextAnalysis.textRank]]: the same integer
    * fixed-point weighted PageRank, folded naively per document.
    */
  private def textRankBrute(rows: Seq[(Long, String)], iters: Int,
                            topK: Int): Set[(Long, Long, String, Long)] = {
    rows.flatMap { case (id, text) =>
      val words = text.toLowerCase.replaceAll("\\s+", " ").split(" ", -1).toSeq
      val w = words.sliding(2).collect {
        case Seq(a, b) if a != b =>
          (if (a < b) a else b, if (a < b) b else a)
      }.toSeq.groupBy(identity).view.mapValues(_.size.toLong).toMap
      if (w.isEmpty) Seq.empty
      else {
        val ed = w.toSeq.flatMap { case ((x, y), c) => Seq((x, y, c), (y, x, c)) }
        val sw = ed.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
        var pr = sw.keys.map(_ -> 1000000L).toMap
        for (_ <- 1 to iters)
          pr = ed.groupBy(_._2).view.mapValues { in =>
            150000L + in.map { case (a, _, c) => pr(a) * 850L * c / (1000L * sw(a)) }.sum
          }.toMap
        pr.toSeq.sortBy { case (n, p) => (-p, n) }.take(topK).zipWithIndex
          .map { case ((n, p), i) => (id, i + 1L, n, p) }
      }
    }.toSet
  }

  test("textRank: bridge word outranks leaves on a crafted doc") {
    import spark.implicits._
    // "a b a b c": b carries weight-2 edges to a and the only path to c
    val out = TextAnalysis.textRank(Seq((1L, "a b a b c")).toDF("doc_id", "text"),
      col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(out.head._3 === "b")
    assert(out.toSet === textRankBrute(Seq((1L, "a b a b c")), 3, 3))
  }

  test("textRank matches the brute per-doc fold on the real corpus") {
    val rows = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val got = TextAnalysis.textRank(docs, col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    assert(got === textRankBrute(rows, 3, 3))
    assert(got.nonEmpty)
  }

  test("isotonic calibration matches a brute PAV stack on the real corpus") {
    val out = TextAnalysis.classifierCalibration(docs, col("doc_id"), col("text"),
      col("lang") === "en").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.length === 10)
    // fitted rates are monotone non-decreasing (the isotonic contract)
    out.map(_._5).sliding(2).foreach {
      case Array(a, b) => assert(a <= b)
      case _ =>
    }
    // brute reference: same ntile bins, classic pool-adjacent-violators
    // with exact rational pooling, floored to micro at the end
    val scored = TextAnalysis.classifierScore(docs, col("doc_id"), col("text"),
      col("lang") === "en").select("doc_id", "margin", "y").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._2, t._1))
    val nrows = scored.length
    val big = nrows % 10
    val base = nrows / 10
    val sizes = (0 until 10).map(g => if (g < big) base + 1 else base)
    val bins = sizes.scanLeft(0)(_ + _).zip(sizes).map { case (off, sz) =>
      val slice = scored.slice(off, off + sz)
      (slice.length.toLong, slice.count(_._3 == 1L).toLong)
    }
    // PAV: pool adjacent blocks while the average decreases
    val stack = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)] // (n, p, bins)
    bins.foreach { case (n, p) =>
      var (cn, cp, cb) = (n, p, 1)
      while (stack.nonEmpty && {
        val (sn, sp, _) = stack.last
        // sp/sn > cp/cn  ⟺  sp·cn > cp·sn (exact)
        sp * cn > cp * sn
      }) {
        val (sn, sp, sb) = stack.remove(stack.length - 1)
        cn += sn; cp += sp; cb += sb
      }
      stack += ((cn, cp, cb))
    }
    val fittedBrute = stack.flatMap { case (n, p, b) =>
      Seq.fill(b)(1000000L * p / n)
    }
    assert(out.map(_._5).toSeq === fittedBrute.toSeq)
    // raw rates agree with the bin cells
    out.zip(bins).foreach { case ((_, n, p, raw, _), (bn, bp)) =>
      assert(n === bn && p === bp && raw === 1000000L * bp / bn)
    }
  }

  test("unigram-lm tokenizer: dominant family learned, coverage total") {
    import spark.implicits._
    val corpus = (0 until 20).map(i => (i.toLong, "river rider ride riding rides"))
      .toDF("doc_id", "text")
    // vocabSize must clear the always-kept alphabet (8 distinct chars
    // here) or the multi-char budget is zero by construction
    val vocab = TextAnalysis.unigramTrain(corpus, col("text"), vocabSize = 16)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // the 'rid'/'ri' substring family dominates the learned multi-char vocab
    assert(vocab.exists(r => r._1.length > 1 && r._1.startsWith("ri")),
      vocab.map(_._1).mkString(","))
    // all corpus characters survive pruning → every word stays segmentable
    val charSet = "riverd ings".replace(" ", "").toSet
    assert(charSet.forall(c => vocab.exists(_._1 == c.toString)))
    // viterbi reconstructs every distinct word exactly from vocab pieces
    val v = vocab.map(r => r._1 -> r._2).toMap
    val logN = StrictMath.log(v.values.map(_.toDouble).sum)
    Seq("river", "rider", "ride", "riding", "rides").foreach { w =>
      assert(TextAnalysis.viterbi(w, v, logN, 4).mkString === w, w)
    }
    // p_micro is the truncating share of the final counts
    val total = vocab.map(_._2).sum
    vocab.foreach(r => assert(r._3 === 1000000L * r._2 / total))
    // training is deterministic end-to-end
    val again = TextAnalysis.unigramTrain(corpus, col("text"), vocabSize = 16)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq === vocab.toSeq)
  }

  test("unigram encode: conservation and real compression on the corpus") {
    import spark.implicits._
    val vocab = TextAnalysis.unigramTrain(docs, col("text"))
      .select("piece", "cnt").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val enc = TextAnalysis.unigramEncode(docs, col("doc_id"), col("text"), vocab)
    val stats = enc.join(
        docs.select(col("doc_id"),
          expr("aggregate(transform(split(regexp_replace(lower(text), '\\\\s+', ' '), ' '), w -> length(w)), 0L, (a, x) -> a + x)")
            .as("word_chars")),
        "doc_id")
      .agg(sum("n_unigram_tokens").as("toks"), sum("n_words").as("words"),
        sum("word_chars").as("chars"))
      .collect()(0)
    val (toks, words, chars) = (stats.getLong(0), stats.getLong(1), stats.getLong(2))
    // every word is >= 1 piece and pieces never exceed characters
    assert(words <= toks && toks <= chars)
    // multi-char pieces actually fire: real compression vs char fallback
    assert(toks < chars)
  }

  test("lsh planted recall: twins surface via the corpus band index") {
    val out = Dedup.lshPlantedRecall(docs, col("doc_id"), col("text")).collect()
    assert(out.nonEmpty)
    // md5 hashing makes the whole audit a deterministic fixture. The
    // observed recall must sit on the LSH S-curve: a pair at exact
    // jaccard j collides in a 4-row band with prob j^4, in any of the 4
    // bands with 1-(1-j^4)^4 — the drop-every-10th perturbation lands
    // pairs near j~0.6 where 16/4 banding catches only ~40%, which is
    // precisely the tuning fact this audit exists to surface
    val above = out.filter(_.getLong(5) == 1L)
    assert(above.nonEmpty)
    val recall = above.count(_.getLong(6) == 1L).toDouble / above.length
    val predicted = above.map { r =>
      val j = r.getLong(4).toDouble / 1000.0
      1.0 - math.pow(1.0 - math.pow(j, 4), 4)
    }.sum / above.length
    assert(math.abs(recall - predicted) < 0.25,
      s"recall $recall vs S-curve prediction $predicted")
    // per-pair bookkeeping is internally consistent
    out.foreach { r =>
      val (n1, n2, sh) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(sh <= math.min(n1, n2))
      assert(r.getLong(4) === 1000L * sh / (n1 + n2 - sh))
      assert((r.getLong(5) == 1L) === (sh * 1000L >= 500L * (n1 + n2 - sh)))
    }
  }

  test("srp planted recall: noise-swept twins sit on the analytic collision curve") {
    val emb = Tables.embeddings(spark, sf)
    val out = Similarity
      .srpPlantedRecall(emb, planes = 4, samplePermille = 1000).collect()
    assert(out.length.toLong === emb.count(), "full-sample audit covers every vector")
    // zero-noise twins (vec_id % 10 == 0) are the identity: cosine 1,
    // bucket equal — the audit's self-consistency anchor
    out.filter(_.getLong(0) % 10 == 0).foreach { r =>
      assert(r.getLong(1) === 1000000L && r.getLong(2) === 1L,
        s"identity twin must always hit: $r")
    }
    // observed hits vs the analytic SRP curve: a pair at angle θ keeps
    // one sign bit with prob 1 − θ/π, all `planes` with (1 − θ/π)^planes.
    // Binomial 4σ band over the per-pair expectations — the embedding
    // twin of the 42cc jaccard S-curve pin.
    val ps = out.map { r =>
      val cos = math.min(1.0, math.max(-1.0, r.getLong(1) / 1e6))
      math.pow(1.0 - math.acos(cos) / math.Pi, 4)
    }
    val expected = ps.sum
    val sigma = math.sqrt(ps.map(p => p * (1 - p)).sum)
    val observed = out.map(_.getLong(2)).sum.toDouble
    assert(math.abs(observed - expected) <= 4 * sigma + 2,
      s"observed $observed hits vs analytic $expected (sigma $sigma)")
    // the noise sweep really spans the curve: high-noise deciles must
    // sit at materially lower cosine than low-noise ones
    val lo = out.filter(r => r.getLong(0) % 10 >= 8).map(_.getLong(1))
    val hi = out.filter(r => r.getLong(0) % 10 == 1).map(_.getLong(1))
    assert(lo.nonEmpty && hi.nonEmpty && lo.max < hi.min,
      "noise magnitude must order the planted angles")
  }

  test("sessionize: gap breaks, running index, and per-session stats by hand") {
    import spark.implicits._
    // user 1: events at 0s, 10s, |gap| 1000s, 1010s → two sessions;
    // user 2: one event → one singleton session
    val ev = Seq(
      (1L, 1L, "view", 0L), (2L, 1L, "click", 10000000L),
      (3L, 1L, "view", 1000000000L), (4L, 1L, "view", 1010000000L),
      (5L, 2L, "purchase", 50000000L)
    ).toDF("event_id", "user_id", "event_type", "ts_us")
    val out = ops.Analytics.sessionize(ev, gapUs = 100000000L).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(5), r.getLong(6))).toMap
    assert(out === Map(
      (1L, 1L) -> ((2L, 10000000L, 2L)),   // 2 events, 10s span, 2 types
      (1L, 2L) -> ((2L, 10000000L, 1L)),   // second session after the gap
      (2L, 1L) -> ((1L, 0L, 1L))))         // singleton
  }

  test("corpus line dedup keeps exactly the first occurrence, in doc order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "banner line\nunique one\nshared middle"),
      (2L, "banner line\nunique two"),
      (3L, "shared middle\nbanner line\nunique three")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.dedupLines(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) === ((3L, 3L, "banner line\nunique one\nshared middle")),
      "doc 1 owns every first occurrence")
    assert(out(2L) === ((2L, 1L, "unique two")),
      "doc 2's banner copy drops, its unique line survives")
    assert(out(3L) === ((3L, 1L, "unique three")),
      "doc 3 loses both earlier-seen lines, order preserved")
  }

  test("gini: uniform is 0, one-user concentration hits (n-1)/n, exact micro") {
    import spark.implicits._
    val uniform = Seq((1L, 5L), (2L, 5L), (3L, 5L), (4L, 5L)).toDF("u", "x")
    val g0 = ops.Analytics.gini(uniform, col("x"), col("u")).collect().head
    // total is the decimal's string rendering (>int64-safe evidence)
    assert((g0.getLong(0), g0.getString(1)) === ((4L, "20")))
    assert(g0.getLong(2) === 0L)
    // all activity on one user: G = (n-1)/n = 0.75 exactly
    val conc = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 8L)).toDF("u", "x")
    val g1 = ops.Analytics.gini(conc, col("x"), col("u")).collect().head
    assert(g1.getLong(2) === 750000L)
    // an all-zero total reports NULL, not a division artifact
    val zero = Seq((1L, 0L), (2L, 0L)).toDF("u", "x")
    assert(ops.Analytics.gini(zero, col("x"), col("u")).collect().head.isNullAt(2))
  }

  test("k-truss: K5 survives at k=4, a pendant triangle and a bridge peel") {
    import spark.implicits._
    val k5 = for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)
    // pendant triangle sharing only node 5, plus a support-0 bridge
    val extra = Seq((5L, 6L), (5L, 7L), (6L, 7L), (7L, 8L))
    val edges = (k5 ++ extra).toDF("src", "dst")
    val out = ops.Graph.kTruss(edges, k = 4, cache = false).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.keySet === k5.toSet, "exactly the K5 edges survive")
    assert(out.values.forall(_ === 3L), "every K5 edge sits in 3 triangles")
    // k beyond the densest truss -> empty, and convergence still holds
    assert(ops.Graph.kTruss(edges, k = 6, cache = false).count() === 0L)
    // duplicate/reversed/self edges are canonicalized before peeling
    val messy = Seq((2L, 1L), (1L, 2L), (3L, 3L), (1L, 3L), (2L, 3L))
      .toDF("src", "dst")
    assert(ops.Graph.kTruss(messy, k = 3, cache = false).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ===
      Set((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L)))
  }

  test("local clustering: triangle-plus-pendant coefficients by hand") {
    import spark.implicits._
    // triangle 1-2-3 with pendant 4 off node 3
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val out = ops.Graph.localClustering(edges, cache = false).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out === Map(
      1L -> ((2L, 1L, 1000L)),   // its one possible wedge is closed
      2L -> ((2L, 1L, 1000L)),
      3L -> ((3L, 1L, 333L)),    // 2000*1 div (3*2)
      4L -> ((1L, 0L, 0L))))     // pendant: deg < 2 reports 0
  }

  test("lorenz: exact cumulative permille shares of ntile bins by hand") {
    import spark.implicits._
    // 4 users in 2 bins: bottom half holds 2/10 of activity, top the rest
    val c = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 7L)).toDF("u", "x")
    val out = ops.Analytics.lorenz(c, col("x"), col("u"), buckets = 2)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out === Map(1 -> ((2L, 2L, 200L)), 2 -> ((2L, 8L, 1000L))))
  }

  test("hop plot: path-graph frontier counts and cumulative by hand") {
    import spark.implicits._
    // path 1–2–3–4, sources {1, 4}: every hop 1..3 discovers exactly one
    // node per source (symmetric), cumulative 2,4,6,8
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val out = ops.Graph.hopPlot(edges, Seq(1L, 4L)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out === Seq((0L, 2L, 2L), (1L, 2L, 4L), (2L, 2L, 6L), (3L, 2L, 8L)))
  }

  test("harmonic centrality: path-graph reciprocals by hand") {
    import spark.implicits._
    // path 1–2–3–4, sources {1, 4}: H(2) = 1/1 + 1/2, H(1) = 1/3 (from
    // source 4 only — its own 0-distance term is excluded), symmetric
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val h = ops.Graph.harmonic(edges, Seq(1L, 4L)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h === Map(
      1L -> 333333L, 4L -> 333333L,          // 1e6 div 3
      2L -> 1500000L, 3L -> 1500000L))       // 1e6 + 1e6 div 2
  }

  test("modularity: two bridged cliques score the textbook Q by hand") {
    import spark.implicits._
    // two 4-cliques + 1 bridge: m = 13; each community has 6 internal
    // edges and degree sum 13 → term = 6/13 − (13/26)² = 0.2115384…
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(11L, 12L, 13L, 14L)) :+ (4L, 11L)).toDF("src", "dst")
    val comm = ops.Graph.labelPropagation(edges, rounds = 4)
    val out = ops.Graph.modularity(edges, comm).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(out === Map(
      1L -> (4L, 6L, 13L, 211538L),
      11L -> (4L, 6L, 13L, 211538L)))
    // good communities: total Q well above 0
    assert(out.values.map(_._4).sum > 400000L)
  }

  test("betweenness: path chain and diamond dependencies by hand") {
    import spark.implicits._
    // chain 1-2-3-4-5 from source 1: delta(4)=1, delta(3)=2, delta(2)=3
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val out = ops.Graph.betweenness(path, Seq(1L)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(2L -> 3000000L, 3L -> 2000000L, 4L -> 1000000L))
    // diamond 1-{2,3}-4: two shortest paths split the unit dependency;
    // the sink accumulates nothing
    val diamond = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val d1 = ops.Graph.betweenness(diamond, Seq(1L)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d1 === Map(2L -> 500000L, 3L -> 500000L))
    // sources sum: the symmetric source doubles both brokers
    val d2 = ops.Graph.betweenness(diamond, Seq(1L, 4L)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d2 === Map(2L -> 1000000L, 3L -> 1000000L))
  }

  test("assortativity: star is exactly -1, regular cycle is undefined") {
    import spark.implicits._
    val star = (1L to 4L).map(i => (0L, i)).toDF("src", "dst")
    val r = ops.Graph.assortativity(star).collect()(0)
    // M=8, Σx=20, Σx²=68, Σxy=32 → r = (256−400)/(544−400) = −1
    assert(r.getLong(0) === 8L && r.getDouble(1) === 20.0 &&
      r.getDouble(2) === 68.0 && r.getDouble(3) === 32.0)
    assert(r.getLong(4) === -1000000L)
    // 4-cycle: every degree 2 → zero variance → NULL, not an inf cast
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    assert(ops.Graph.assortativity(cycle).collect()(0).isNullAt(4))
  }
  test("classifier AUC matches an exact in-memory Mann-Whitney replay") {
    val scored = TextAnalysis.classifierScore(docs, col("doc_id"), col("text"),
      col("lang") === "en").collect()
      .map(r => (r.getAs[Long]("margin"), r.getAs[Long]("y")))
    val pos = scored.filter(_._2 == 1L).map(_._1).sorted
    val neg = scored.filter(_._2 != 1L).map(_._1).sorted
    // doubled numerator: 2*(strictly-below) + ties, folded in BigInt
    var num2 = BigInt(0)
    pos.foreach { s =>
      val lo = neg.count(_ < s); val eq = neg.count(_ == s)
      num2 += 2L * lo + eq
    }
    val expect = (BigInt(1000000) * num2) / (BigInt(2) * pos.length * neg.length)
    val out = TextAnalysis.classifierAuc(docs, col("doc_id"), col("text"),
      col("lang") === "en").collect()(0)
    assert(out.getAs[Long]("n") === scored.length.toLong)
    assert(out.getAs[Long]("n_pos") === pos.length.toLong)
    assert(out.getAs[Long]("n_neg") === neg.length.toLong)
    assert(BigInt(out.getAs[Long]("auc_micro")) === expect)
    // a perfect separator on a planted fixture reads exactly 1e6
    import spark.implicits._
    val perfect = Seq((1L, "aaaa eeee iiii oooo uuuu", "en"),
      (2L, "zzzz qqqq wwww xxxx kkkk", "fr"),
      (3L, "aeio ueai oeiu aiea ueoi", "en"),
      (4L, "zzqq wwxx kkzz qqww xxkk", "fr")).toDF("doc_id", "text", "lang")
    val p = TextAnalysis.classifierAuc(perfect, col("doc_id"), col("text"),
      col("lang") === "en").collect()(0)
    assert(p.getAs[Long]("auc_micro") === 1000000L)
  }

  test("classifier PSI matches an exact in-memory binned replay") {
    val scored = TextAnalysis.classifierScore(docs, col("doc_id"), col("text"),
      col("lang") === "en").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("margin")))
    val ref = scored.filter(_._1 % 2 == 0).map { case (d, m) => (m, d) }.sorted
    val buckets = 10
    // SQL-ntile boundaries over the reference (margin, doc_id) order
    val n = ref.length; val base = n / buckets; val rem = n % buckets
    val sizes = (1 to buckets).map(b => if (b <= rem) base + 1 else base)
    val bounds = sizes.init.scanLeft(0)(_ + _).tail.map(i => ref(i - 1))
    def bin(m: Long, d: Long): Int =
      1 + bounds.count(b => b._1 < m || (b._1 == m && b._2 < d))
    val cnt = Array.fill(buckets)((0L, 0L))
    scored.foreach { case (d, m) =>
      val k = bin(m, d) - 1
      cnt(k) = if (d % 2 == 0) (cnt(k)._1 + 1, cnt(k)._2)
               else (cnt(k)._1, cnt(k)._2 + 1)
    }
    val tr = cnt.map(_._1).sum; val tc = cnt.map(_._2).sum
    val terms = cnt.map { case (nr, nc) =>
      val p = (nr + 1).toDouble / (tr + buckets).toDouble
      val q = (nc + 1).toDouble / (tc + buckets).toDouble
      math.round(1000000.0 * ((p - q) * math.log(p / q)))
    }
    val out = TextAnalysis.classifierPsi(docs, col("doc_id"), col("text"),
      col("lang") === "en", refPred = col("doc_id") % 2 === 0).collect()
    assert(out.length === buckets)
    out.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("bin") === (i + 1).toLong)
      assert(r.getAs[Long]("nref") === cnt(i)._1)
      assert(r.getAs[Long]("ncur") === cnt(i)._2)
      assert(r.getAs[Long]("term_micro") === terms(i))
      assert(r.getAs[Long]("psi_micro") === terms.sum)
    }
    // every term is non-negative ((p-q) and ln(p/q) share sign)
    out.foreach(r => assert(r.getAs[Long]("term_micro") >= 0L))
  }

  test("zipf fit matches an exact in-memory OLS replay and slopes down") {
    val counts = docs.select(explode(TextAnalysis.tokens(col("text"))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c")).collect()
      .map(r => (r.getAs[String]("t"), r.getAs[Long]("c")))
      .sortBy { case (t, c) => (-c, t) }.take(1000)
    val xy = counts.zipWithIndex.map { case ((_, c), i) =>
      (math.round(1000000.0 * math.log((i + 1).toDouble)),
        math.round(1000000.0 * math.log(c.toDouble)))
    }
    val nt = BigInt(xy.length)
    val sx = xy.map(t => BigInt(t._1)).sum; val sy = xy.map(t => BigInt(t._2)).sum
    val sxy = xy.map(t => BigInt(t._1) * t._2).sum
    val sxx = xy.map(t => BigInt(t._1) * t._1).sum
    val num = nt * sxy - sx * sy; val den = nt * sxx - sx * sx
    def truncDiv(a: BigInt, b: BigInt): BigInt = a / b // BigInt / truncates
    val out = TextAnalysis.zipfFit(docs, col("text")).collect()(0)
    assert(out.getAs[Long]("n_terms") === xy.length.toLong)
    assert(BigInt(out.getAs[Long]("slope_micro"))
      === truncDiv(BigInt(1000000) * num, den))
    assert(BigInt(out.getAs[Long]("intercept_micro"))
      === truncDiv(sy * den - num * sx, nt * den))
    // a natural-ish corpus slopes DOWN
    assert(out.getAs[Long]("slope_micro") < 0L)
  }

  test("ndcg matches an exact in-memory replay and is bounded") {
    val terms = Seq("merge", "batch", "stream")
    val k = 10
    def w(pos: Int): Long =
      math.round(1000000.0 / (math.log((pos + 1).toDouble) / math.log(2.0)))
    val gains = docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("t"))
      .filter(col("t").isin(terms.map(lit): _*))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("tf")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((1L << math.min(r.getAs[Long]("tf"), 3L).toInt) - 1L)).toMap
    val top = TextAnalysis.bm25TopK(docs, col("doc_id"), col("text"), terms, k)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score_micro")))
      .sortBy { case (d, s) => (-s, d) }
    val dcg = top.zipWithIndex.map { case ((d, _), i) =>
      gains.getOrElse(d, 0L) * w(i + 1) }.sum
    val idcg = gains.toSeq.sortBy { case (d, g) => (-g, d) }.take(k)
      .zipWithIndex.map { case ((_, g), i) => g * w(i + 1) }.sum
    val out = TextAnalysis.ndcgAtK(docs, col("doc_id"), col("text"), terms, k)
      .collect()(0)
    assert(out.getAs[Long]("k") === k.toLong)
    assert(out.getAs[Long]("dcg_micro") === dcg)
    assert(out.getAs[Long]("idcg_micro") === idcg)
    assert(out.getAs[Long]("ndcg_micro") === 1000000L * dcg / idcg)
    assert(out.getAs[Long]("ndcg_micro") >= 0L &&
      out.getAs[Long]("ndcg_micro") <= 1000000L)
  }

  test("silhouette matches an exact in-memory centroid replay") {
    val (cents, _) = Similarity.kmeansFixedPointCentroids(emb, 8, 3, 64)
    def rha(x: Double): Long =
      if (x >= 0) math.floor(x + 0.5).toLong else math.ceil(x - 0.5).toLong
    val rows = emb.select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val byCell = scala.collection.mutable.Map.empty[Long, (Long, BigInt)]
    rows.foreach { case (_, v) =>
      val d2 = cents.map { c =>
        var s = 0L; var j = 0
        while (j < 64) { val t = 1000.0 * v(j) - c(j); s += rha(t * t); j += 1 }
        s
      }
      val obj = cents.zipWithIndex.map { case (c, ci) =>
        var dot = 0L; var nsq = 0L; var j = 0
        while (j < 64) { dot += rha(v(j) * c(j)); nsq += c(j) * c(j); j += 1 }
        (nsq - 2000L * dot, ci)
      }
      val best = obj.minBy { case (o, ci) => (o, ci) }._2
      val a2 = d2(best)
      val b2 = d2.zipWithIndex.filter(_._2 != best).map(_._1).min
      val s = if (math.max(a2, b2) == 0L) 0L
        else rha(1000000.0 * ((math.sqrt(b2.toDouble) - math.sqrt(a2.toDouble)) /
          math.sqrt(math.max(a2, b2).toDouble)))
      val (n0, s0) = byCell.getOrElse(best.toLong, (0L, BigInt(0)))
      byCell(best.toLong) = (n0 + 1, s0 + s)
    }
    val out = Similarity.kmeansSilhouette(emb).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val cell = r.getAs[Long]("cell")
      val (n0, s0) = byCell(cell)
      assert(r.getAs[Long]("n") === n0)
      // BigInt / truncates toward zero, matching Spark div and DuckDB //
      val mean = BigInt(r.getAs[Long]("mean_s_micro"))
      assert(mean === s0 / n0, s"cell $cell")
      assert(mean >= -1000000L && mean <= 1000000L)
    }
    assert(out.map(_.getAs[Long]("n")).sum === rows.length.toLong)
  }

  test("stickiness matches an exact in-memory replay and is a valid ratio") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).as("d")).collect()
      .map(r => (r.getLong(0), r.getAs[java.sql.Date](1).toLocalDate))
    val ud = ev.map { case (u, d) =>
      (u, d.toEpochDay - java.time.LocalDate.parse("2024-01-01").toEpochDay,
        (d.getYear - 2024) * 12 + d.getMonthValue - 1) }.distinct
    val byMon = ud.groupBy(_._3)
    val expect = byMon.map { case (mon, rows) =>
      val days = rows.map(_._2).distinct.size.toLong
      val mau = rows.map(_._1).distinct.size.toLong
      val dauSum = rows.size.toLong
      mon.toLong -> (days, mau, dauSum, 1000L * dauSum / (days * mau))
    }
    val out = ops.Analytics.dauMauStickiness(spark, sf).collect()
    assert(out.length === expect.size)
    out.foreach { r =>
      val (days, mau, dauSum, stick) = expect(r.getAs[Long]("month_idx"))
      assert(r.getAs[Long]("days") === days)
      assert(r.getAs[Long]("mau") === mau)
      assert(r.getAs[Long]("dau_sum") === dauSum)
      assert(r.getAs[Long]("stickiness_permille") === stick)
      // DAU <= MAU per day, so the ratio can't exceed 1000 permille
      assert(stick >= 0L && stick <= 1000L)
    }
  }

  test("dtw pairs: hand-pinned DP and the identical-profile zero") {
    import spark.implicits._
    val vecs = Seq(("a", Seq(0L, 3L)), ("b", Seq(3L, 0L)),
      ("c", Seq(0L, 0L, 3L)), ("d", Seq(0L, 3L))).toDF("series", "v")
    val out = ops.Analytics.dtwPairs(vecs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("dtw_micro"))
      .toMap
    // a=[0,3] vs b=[3,0]: grid costs [[3,0],[0,3]] -> D=3, then 3, 3, 6
    assert(out(("a", "b")) === 6L)
    // a=[0,3] vs c=[0,0,3]: the repeat aligns for free
    assert(out(("a", "c")) === 0L)
    // identical profiles are distance 0 regardless of length
    assert(out(("a", "d")) === 0L)
    // symmetry of the pairing: only series_a < series_b rows exist
    assert(out.keySet.forall { case (x, y) => x < y })
    assert(out.size === 6)
  }

  test("dtw profiles match an exact in-memory DP replay on real data") {
    val prof = ops.Analytics.seasonalProfile(Tables.events(spark, sf), 8,
        bucketSec = 86400L / 8)
      .select(col("series"), col("slot"), col("slot_mean_micro")).collect()
      .groupBy(_.getString(0))
      .map { case (s, rs) =>
        s -> rs.sortBy(_.getAs[Long]("slot")).map(_.getAs[Long]("slot_mean_micro")).toSeq }
    def dtw(a: Seq[Long], b: Seq[Long]): Long = {
      val inf = Long.MaxValue / 4
      val prev = Array.fill(b.length + 1)(inf); prev(0) = 0L
      val cur = new Array[Long](b.length + 1)
      for (i <- 1 to a.length) {
        java.util.Arrays.fill(cur, inf)
        for (j <- 1 to b.length)
          cur(j) = math.abs(a(i - 1) - b(j - 1)) +
            math.min(prev(j), math.min(prev(j - 1), cur(j - 1)))
        System.arraycopy(cur, 0, prev, 0, b.length + 1)
      }
      prev(b.length)
    }
    val out = ops.Analytics.dtwProfiles(spark, sf, 8).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (sa, sb) = (r.getString(0), r.getString(1))
      assert(r.getAs[Long]("n_a") === prof(sa).length.toLong)
      assert(r.getAs[Long]("n_b") === prof(sb).length.toLong)
      assert(r.getAs[Long]("dtw_micro") === dtw(prof(sa), prof(sb)))
    }
  }
  test("brier + ece match an exact in-memory replay of the calibration table") {
    val cal = TextAnalysis.classifierCalibration(docs, col("doc_id"),
      col("text"), col("lang") === "en").collect()
      .map(r => (r.getAs[Long]("n"), r.getAs[Long]("n_pos"),
        r.getAs[Long]("raw_micro"), r.getAs[Long]("fitted_micro")))
    val nt = cal.map(_._1).sum
    val ss = cal.map { case (n, p, _, f) =>
      BigInt(p) * (1000000L - f) * (1000000L - f) + BigInt(n - p) * f * f }.sum
    val es = cal.map { case (n, _, raw, f) => BigInt(n) * (raw - f).abs }.sum
    val out = TextAnalysis.classifierCalibrationError(docs, col("doc_id"),
      col("text"), col("lang") === "en").collect()(0)
    assert(out.getAs[Long]("n") === nt)
    assert(BigInt(out.getAs[Long]("brier_micro")) === ss / (BigInt(nt) * 1000000L))
    assert(BigInt(out.getAs[Long]("ece_micro")) === es / nt)
    // Brier of a probability in [0,1] is bounded by 1e6 micro
    assert(out.getAs[Long]("brier_micro") >= 0L &&
      out.getAs[Long]("brier_micro") <= 1000000L)
  }

  test("cell purity matches an exact in-memory replay and covers every vector") {
    val (cents, _) = Similarity.kmeansFixedPointCentroids(emb, 8, 3, 64)
    val assigned = Similarity.assignToCentroids(emb, cents, 64)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val labels = emb.select(col("vec_id"), col("label").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byCell = assigned.toSeq.groupBy(_._2).map { case (cell, vs) =>
      val cnt = vs.map(v => labels(v._1)).groupBy(identity)
        .map { case (l, xs) => (l, xs.size.toLong) }.toSeq
      val (topLabel, topCnt) = cnt.minBy { case (l, c) => (-c, l) }
      cell -> (vs.size.toLong, topLabel, topCnt)
    }
    val out = Similarity.cellPurity(emb).collect()
    assert(out.map(_.getAs[Long]("n")).sum === labels.size.toLong)
    out.foreach { r =>
      val (n, tl, tc) = byCell(r.getAs[Long]("cell"))
      assert(r.getAs[Long]("n") === n)
      assert(r.getAs[Long]("top_label") === tl)
      assert(r.getAs[Long]("top_cnt") === tc)
      assert(r.getAs[Long]("purity_permille") === 1000L * tc / n)
    }
  }

  test("user type entropy matches an exact in-memory replay; single-type is 0") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expect = ev.groupBy(_._1).map { case (u, rows) =>
      val cnt = rows.groupBy(_._2).map { case (_, xs) => xs.size.toLong }.toSeq
      val n = cnt.sum
      val h = cnt.map(c => math.round(1000000.0 * (c.toDouble / n.toDouble)
        * math.log(n.toDouble / c.toDouble))).sum
      u -> (n, cnt.size.toLong, h)
    }
    val out = ops.Analytics.userTypeEntropy(spark, sf).collect()
    assert(out.length === expect.size)
    out.foreach { r =>
      val (n, k, h) = expect(r.getAs[Long]("user_id"))
      assert(r.getAs[Long]("n_events") === n)
      assert(r.getAs[Long]("n_types") === k)
      assert(r.getAs[Long]("entropy_micro") === h, s"user ${r.getLong(0)}")
      if (k == 1) assert(r.getAs[Long]("entropy_micro") === 0L)
    }
    // entropy is bounded by ln(n_types), in micro
    out.foreach { r =>
      val cap = math.round(1000000.0 * math.log(r.getAs[Long]("n_types").toDouble))
      assert(r.getAs[Long]("entropy_micro") <= cap + r.getAs[Long]("n_types"))
    }
  }
  test("roc table matches an exact in-memory replay and is monotone") {
    val scored = TextAnalysis.classifierScore(docs, col("doc_id"), col("text"),
      col("lang") === "en").collect()
      .map(r => (r.getAs[Long]("margin"), r.getAs[Long]("y")))
    val byM = scored.groupBy(_._1).map { case (m, rs) =>
      (m, rs.count(_._2 == 1L).toLong, rs.count(_._2 != 1L).toLong) }
      .toSeq.sortBy(-_._1)
    val pp = byM.map(_._2).sum; val nn = byM.map(_._3).sum
    var tp = 0L; var fp = 0L
    val expect = byM.map { case (m, p, q) =>
      tp += p; fp += q
      m -> (tp, fp, 1000000L * tp / pp, 1000000L * fp / nn)
    }.toMap
    val out = TextAnalysis.classifierRoc(docs, col("doc_id"), col("text"),
      col("lang") === "en").collect()
    assert(out.length === byM.length)
    out.foreach { r =>
      val (etp, efp, etpr, efpr) = expect(r.getAs[Long]("margin"))
      assert(r.getAs[Long]("tp") === etp)
      assert(r.getAs[Long]("fp") === efp)
      assert(r.getAs[Long]("tpr_micro") === etpr)
      assert(r.getAs[Long]("fpr_micro") === efpr)
    }
    // output is margin-ascending; cumulative counts fall as margin rises
    out.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("margin") < b.getAs[Long]("margin"))
        assert(a.getAs[Long]("tp") >= b.getAs[Long]("tp"))
        assert(a.getAs[Long]("fp") >= b.getAs[Long]("fp"))
      case _ =>
    }
    // the lowest threshold accepts everything
    assert(out.head.getAs[Long]("tp") === pp && out.head.getAs[Long]("fp") === nn)
  }

  test("knn LOO accuracy matches an exact in-memory cell-restricted replay") {
    val (cents, _) = Similarity.kmeansFixedPointCentroids(emb, 8, 3, 64)
    val cells = Similarity.assignToCentroids(emb, cents, 64)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = emb.select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"),
        col("label").cast("long")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getLong(2)))
    val norm = vecs.map { case (id, v, _) =>
      id -> math.sqrt(v.map(x => x * x).sum) }.toMap
    def cos(a: Seq[Double], b: Seq[Double], na: Double, nb: Double): Double =
      BigDecimal(a.zip(b).map { case (x, y) => x * y }.sum / (na * nb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val byLabel = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    vecs.foreach { case (id, v, lab) =>
      val cands = vecs.filter(o => o._1 != id && cells(o._1) == cells(id))
      if (cands.nonEmpty) {
        val nn = cands.map { case (oid, ov, olab) =>
          (cos(v, ov, norm(id), norm(oid)), oid, olab) }
          .minBy { case (c, oid, _) => (-c, oid) }
        val (n0, c0) = byLabel.getOrElse(lab, (0L, 0L))
        byLabel(lab) = (n0 + 1, c0 + (if (nn._3 == lab) 1L else 0L))
      }
    }
    val out = Similarity.knnLooCellAccuracy(emb).collect()
    assert(out.nonEmpty)
    assert(out.map(_.getAs[Long]("n")).sum === byLabel.values.map(_._1).sum)
    out.foreach { r =>
      val (n0, c0) = byLabel(r.getAs[Long]("label"))
      assert(r.getAs[Long]("n") === n0)
      assert(r.getAs[Long]("correct") === c0, s"label ${r.getLong(0)}")
      assert(r.getAs[Long]("accuracy_permille") === 1000L * c0 / n0)
    }
  }
  test("ivf recall audit matches the set intersection of its two rankings") {
    val q = emb.filter(col("vec_id") < 32)
    val brute = Similarity.bruteTopK(emb, q, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, q, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val out = Similarity.ivfRecallAudit(emb).collect()
    assert(out.length === brute.map(_._1).size)
    out.foreach { r =>
      val qid = r.getAs[Long]("query_id")
      val nTrue = brute.count(_._1 == qid).toLong
      val nHits = (brute & ivf).count(_._1 == qid).toLong
      assert(r.getAs[Long]("n_true") === nTrue)
      assert(r.getAs[Long]("n_hits") === nHits, s"query $qid")
      assert(r.getAs[Long]("recall_permille") === 1000L * nHits / nTrue)
    }
    // probing every cell must reach perfect recall (sanity on the audit)
    val full = Similarity.ivfRecallAudit(emb, nprobe = 8).collect()
    assert(full.forall(_.getAs[Long]("recall_permille") === 1000L))
  }
  test("seasonal strength matches an exact in-memory variance-ratio replay") {
    val hourly = ops.Analytics.hourlyMerge(ops.Analytics.hourlyPartial(
      Tables.events(spark, sf))).collect()
      .map(r => (r.getString(0), r.getAs[Long]("h"), r.getAs[Long]("x")))
    val bySeries = hourly.groupBy(_._1)
    val expect = bySeries.map { case (s, rows) =>
      val slotMean = rows.groupBy(_._2 % 24).map { case (sl, rs) =>
        sl -> rs.map(r => BigInt(r._3)).sum / rs.size }
      val xs = rows.map(_._3).map(BigInt(_))
      val rsd = rows.map(r => BigInt(r._3) - slotMean(r._2 % 24))
      val n = BigInt(rows.length)
      val ssdx = n * xs.map(x => x * x).sum - xs.sum * xs.sum
      val ssdr = n * rsd.map(x => x * x).sum - rsd.sum * rsd.sum
      val strength = if (ssdx > 0)
        Some((BigInt(1000000) - (BigInt(1000000) * ssdr) / ssdx) max BigInt(0))
      else None
      s -> (n.toLong, ssdx.toString, ssdr.toString, strength)
    }
    val out = ops.Analytics.seasonalStrength(spark, sf).collect()
    assert(out.length === expect.size)
    out.foreach { r =>
      val (n, sx, sr, st) = expect(r.getString(0))
      assert(r.getAs[Long]("n") === n)
      assert(r.getAs[String]("ssd_x") === sx)
      assert(r.getAs[String]("ssd_r") === sr)
      st match {
        case Some(v) =>
          assert(BigInt(r.getAs[Long]("strength_micro")) === v, r.getString(0))
          assert(r.getAs[Long]("strength_micro") >= 0L &&
            r.getAs[Long]("strength_micro") <= 1000000L)
        case None => assert(r.isNullAt(r.fieldIndex("strength_micro")))
      }
    }
  }
  test("pr table matches an exact in-memory replay; precision starts perfect-or-null") {
    val scored = TextAnalysis.classifierScore(docs, col("doc_id"), col("text"),
      col("lang") === "en").collect()
      .map(r => (r.getAs[Long]("margin"), r.getAs[Long]("y")))
    val byM = scored.groupBy(_._1).map { case (m, rs) =>
      (m, rs.count(_._2 == 1L).toLong, rs.count(_._2 != 1L).toLong) }
      .toSeq.sortBy(-_._1)
    val pp = byM.map(_._2).sum
    var tp = 0L; var fp = 0L
    val expect = byM.map { case (m, p, q) =>
      tp += p; fp += q
      m -> (tp, fp, 1000000L * tp / (tp + fp), 1000000L * tp / pp)
    }.toMap
    val out = TextAnalysis.classifierPr(docs, col("doc_id"), col("text"),
      col("lang") === "en").collect()
    assert(out.length === byM.length)
    out.foreach { r =>
      val (etp, efp, eprec, erec) = expect(r.getAs[Long]("margin"))
      assert(r.getAs[Long]("tp") === etp && r.getAs[Long]("fp") === efp)
      assert(r.getAs[Long]("precision_micro") === eprec)
      assert(r.getAs[Long]("recall_micro") === erec)
    }
    // the lowest threshold's recall is total
    assert(out.head.getAs[Long]("recall_micro") === 1000000L)
  }

  test("effective diameter: hand path graph and the hop-plot replay") {
    import spark.implicits._
    // path 1-2-...-11 from source 1: hop 0 is the source, hop h reaches
    // node h+1, total reach 11; 900 permille first holds at cum 10 = hop 9
    val path = (1L to 10L).map(i => (i, i + 1)).toDF("src", "dst")
    val r = ops.Graph.effectiveDiameter(path, Seq(1L), permille = 900,
      maxDepth = 12).collect()(0)
    assert(r.getAs[Long]("eff_diameter") === 9L)
    assert(r.getAs[Long]("n_cum") === 10L && r.getAs[Long]("total") === 11L)
    assert(r.getAs[Long]("coverage_permille") === 909L)
    // replay on the real trading sample from its own hop plot
    val hp = ops.Graph.transactionHopPlot(spark, sf).collect()
      .map(x => (x.getAs[Long]("h"), x.getAs[Long]("n_cum")))
    val total = hp.map(_._2).max
    val expectH = hp.filter { case (_, c) => c * 1000 >= total * 900 }
      .map(_._1).min
    val out = ops.Graph.transactionEffDiameter(spark, sf).collect()(0)
    assert(out.getAs[Long]("eff_diameter") === expectH)
    assert(out.getAs[Long]("total") === total)
  }

  test("histogram PSI: identical windows read 0, a planted shift is caught") {
    import spark.implicits._
    def hist(ms: Seq[Long]): org.apache.spark.sql.DataFrame =
      ms.groupBy(identity).map { case (m, xs) => (m, xs.size.toLong) }
        .toSeq.toDF("margin", "n")
    val ref = hist(1L to 100L)
    val same = TextAnalysis.psiFromHists(ref, hist(1L to 100L)).collect()
    assert(same.length === 10)
    same.foreach { r =>
      assert(r.getAs[Long]("nref") === 10L && r.getAs[Long]("ncur") === 10L)
      assert(r.getAs[Long]("term_micro") === 0L)
      assert(r.getAs[Long]("psi_micro") === 0L)
    }
    // a hard distribution shift reads clearly above the 0.25 rule of thumb
    val shifted = TextAnalysis.psiFromHists(ref, hist(91L to 190L)).collect()
    assert(shifted.head.getAs[Long]("psi_micro") > 250000L)
    // exact in-memory replay of the shifted case
    val bounds = (1 to 9).map(k => k * 10L) // ntile cuts of 100 uniform rows
    def bin(m: Long) = 1 + bounds.count(_ < m)
    val nref = (1 to 10).map(b => (1L to 100L).count(m => bin(m) == b).toLong)
    val ncur = (1 to 10).map(b => (91L to 190L).count(m => bin(m) == b).toLong)
    val terms = nref.zip(ncur).map { case (a, b) =>
      val p = (a + 1).toDouble / 110.0; val q = (b + 1).toDouble / 110.0
      math.round(1000000.0 * ((p - q) * math.log(p / q)))
    }
    shifted.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("nref") === nref(i))
      assert(r.getAs[Long]("ncur") === ncur(i))
      assert(r.getAs[Long]("term_micro") === terms(i))
      assert(r.getAs[Long]("psi_micro") === terms.sum)
    }
  }

  test("histogram PSI: bins empty in both windows still carry their " +
      "smoothed term (degenerate reference < buckets distinct rows)") {
    import spark.implicits._
    // 3 distinct margins → ntile cuts collapse, bins 4..10 receive no
    // rows; with unequal totals the smoothed shares differ, so dropping
    // the empty bins would understate PSI
    val ref = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("margin", "n")
    val cur = Seq((1L, 2L), (2L, 2L), (3L, 2L)).toDF("margin", "n")
    val out = TextAnalysis.psiFromHists(ref, cur).collect()
    assert(out.length === 10, "all 10 bins emitted")
    val tr = 3L; val tc = 6L
    def term(nr: Long, nc: Long): Long = {
      val p = (nr + 1).toDouble / (tr + 10).toDouble
      val q = (nc + 1).toDouble / (tc + 10).toDouble
      math.round(1000000.0 * ((p - q) * math.log(p / q)))
    }
    val empty = term(0L, 0L)
    assert(empty > 0L, "an empty bin's smoothed term is nonzero here")
    val expected = (1 to 10).map {
      case b if b <= 3 => term(1L, 2L)
      case _           => empty
    }
    out.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("bin") === (i + 1).toLong)
      assert(r.getAs[Long]("nref") === (if (i < 3) 1L else 0L))
      assert(r.getAs[Long]("ncur") === (if (i < 3) 2L else 0L))
      assert(r.getAs[Long]("term_micro") === expected(i))
      assert(r.getAs[Long]("psi_micro") === expected.sum)
    }
  }

  test("classifier PSI: a reference stratum smaller than the bucket " +
      "count still emits every bin") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", true),
      (2L, "zzz qqq xxx vvv kkk", false),
      (3L, "a plain english sentence with common words", true),
      (4L, "jjj www yyy hhh bbb", false),
      (5L, "another ordinary english line of text", true))
      .toDF("doc_id", "text", "pos")
    val out = TextAnalysis.classifierPsi(docs, col("doc_id"), col("text"),
      col("pos"), refPred = col("doc_id") % 2 === 0).collect()
    // 2 reference docs, 10 buckets: 8 bins are structurally empty but
    // all 10 rows appear, counts zero-backfilled, one shared psi_micro
    assert(out.length === 10)
    assert(out.map(_.getAs[Long]("bin")).toSeq === (1L to 10L))
    assert(out.map(_.getAs[Long]("nref")).sum === 2L)
    assert(out.map(_.getAs[Long]("ncur")).sum === 3L)
    val psi = out.head.getAs[Long]("psi_micro")
    assert(out.forall(_.getAs[Long]("psi_micro") == psi))
    assert(psi === out.map(_.getAs[Long]("term_micro")).sum)
  }
}
