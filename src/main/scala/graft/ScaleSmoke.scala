package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale smoke: generate ~100× the sf0.1 data volume synthetically (no
  * dependence on the read-only testdata) and time the operators whose
  * complexity could degrade nonlinearly — the local stand-in for the
  * 100 TB question "does the shuffle/candidate volume stay bounded?".
  *
  * Usage: runMain graft.ScaleSmoke [events=10000000] [docs=100000]
  * SPARK_GRAFT_ONLY=name,name limits the run to named strata (same
  * convention as Verify/Bench) for local iteration on one operator.
  */
object ScaleSmoke {
  private val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)

  def time[A](name: String)(f: => A): Unit =
    if (only.forall(_.contains(name))) timed(name)(f)

  private def timed[A](label: String)(f: => A): Unit = {
    val t0 = System.nanoTime()
    f
    println(f"[scale] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
  }

  /** Time a graph stratum as the session runs it (`<name>_driver`), then
    * on the distributed rounds (`<name>`). Connected components, PageRank
    * and k-core run on the driver when the edge list fits the driver
    * budget (graft.ops.OpCache), and these strata's graphs do; so the
    * distributed run turns broadcasting off — Spark's switch, which the
    * gate obeys — and restores the setting afterwards. Each pass starts
    * with the operators' shared caches released, so it pays for its own
    * inputs (k-core's canonical edge list) instead of reading the other's.
    */
  def timeBothPaths(spark: SparkSession, name: String)(f: => Unit): Unit =
    if (only.forall(_.contains(name))) {
      graft.ops.OpCache.unpersistAll()
      timed(s"${name}_driver")(f)
      graft.ops.OpCache.unpersistAll()
      graft.ops.OpCache.withConf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1")(timed(name)(f))
    }

  def main(args: Array[String]): Unit = {
    val nEvents = args.headOption.map(_.toLong).getOrElse(10000000L)
    val nDocs = args.drop(1).headOption.map(_.toLong).getOrElse(100000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.store.DocumentStore

    // synthetic events: ~nEvents rows, 10k sessions, 30-day span
    val events = spark.range(nEvents).select(
      col("id").as("event_id"),
      pmod(hash(col("id")), lit(10000)).as("user_id"),
      (lit(1704067200L) + pmod(hash(col("id"), lit(1)), lit(2592000))).as("ts_sec"),
      concat(lit("{\"k\": "), pmod(col("id"), lit(100)), lit("}")).as("props"),
      element_at(array(lit("click"), lit("view"), lit("purchase"), lit("signup"), lit("error")),
        (pmod(hash(col("id"), lit(2)), lit(5)) + 1).cast("int")).as("event_type"))
    println(s"[scale] events=$nEvents docs=$nDocs cpus=$cpus")

    time("monitor_rates") {
      DocumentStore.monitorRates(events.withColumn("ts", timestamp_seconds(col("ts_sec"))),
        col("event_type"), col("ts"), col("props"), "hour").count()
    }
    time("sessionize") {
      DocumentStore.sessionize(events, col("user_id"), col("ts_sec"), col("event_id"), 7200L).count()
    }
    time("latest_snapshot") {
      DocumentStore.latestSnapshot(events, col("event_type"), col("ts_sec"), col("event_id")).count()
    }
    time("asof_join") {
      val l = events.filter(col("event_type") === "purchase")
        .select("user_id", "ts_sec", "event_id")
      val r = events.filter(col("event_type") === "click")
        .groupBy("user_id", "ts_sec").agg(max("event_id").as("mark_id"))
      DocumentStore.asofJoin(l, r, "user_id", "ts_sec", Seq("mark_id")).count()
    }
    time("asof_join_exec") {
      val l = events.filter(col("event_type") === "purchase")
        .select("user_id", "ts_sec", "event_id")
      val r = events.filter(col("event_type") === "click")
        .groupBy("user_id", "ts_sec").agg(max("event_id").as("mark_id"))
      DocumentStore.asofJoinExec(l, r, "user_id", "ts_sec", Seq("mark_id")).count()
    }
    time("clone_anti_join") {
      DocumentStore.cloneMissing(
        events.select("event_id", "props"),
        events.filter(col("event_id") % 2 === 0).select("event_id"), "event_id").count()
    }

    // synthetic docs: ~60-word texts from a 2k-word vocab (no degenerate
    // hot shingles), nDocs rows
    val docs = spark.range(nDocs).select(
      col("id").as("doc_id"),
      concat_ws(" ", (0 until 60).map(i =>
        concat(lit("w"), pmod(hash(col("id"), lit(i)), lit(2000)))): _*).as("text"))
    time("dedup_exact") {
      graft.ops.TextAnalysis.exactDedup(docs, col("doc_id"), col("text")).count()
    }
    time("minhash_lsh") {
      graft.ops.Dedup.lshCandidates(docs, col("doc_id"), col("text")).count()
    }
    time("simhash_values") {
      graft.ops.Dedup.simhash(docs, col("doc_id"), col("text")).count()
    }
    time("token_quality_langid") {
      graft.ops.TextAnalysis.qualityScore(docs, col("doc_id"), col("text")).count()
    }

    // skewed corpus: 20% of docs open with the same 14-word boilerplate
    // header. Uncapped, those shingles alone create ~(0.2·nDocs)²/2
    // candidate pairs (10^8 at nDocs=100k — the hot-key blowup); the
    // default-on doc-frequency cap drops them before the self-join, so
    // candidate volume stays bounded by genuine content overlap.
    val boiler = "terms of service apply to all content in this document please read the notice carefully"
    val skewed = spark.range(nDocs).select(
      col("id").as("doc_id"),
      when(pmod(col("id"), lit(5)) === 0,
        concat(lit(boiler + " "), concat_ws(" ", (0 until 46).map(i =>
          concat(lit("w"), pmod(hash(col("id"), lit(i)), lit(2000)))): _*)))
        .otherwise(concat_ws(" ", (0 until 60).map(i =>
          concat(lit("w"), pmod(hash(col("id"), lit(i)), lit(2000)))): _*)).as("text"))
    time("ngram_jaccard_hot_shingles") {
      val n = graft.ops.Dedup.ngramJaccardPairs(skewed, col("doc_id"), col("text"), 0.5).count()
      println(s"[scale]   surviving capped near-dup pairs: $n")
    }

    // degenerate corpus: 10^4 near-empty docs all simhash to the same
    // value, forming ONE hot (blk, blkval) bucket per block. Uncapped,
    // the pigeonhole join emits ~(10^4)²/2 · blocks candidates (~1.5·10^8)
    // from that bucket alone; the default maxBucketDocs cap anti-joins the
    // bucket away first, so candidate volume is bounded by the healthy
    // strata. (The dropped docs are identical-signature — exact dedup's
    // md5 groupBy is the operator that handles true duplicates.)
    val degen = spark.range(nDocs).select(
      col("id").as("doc_id"),
      when(col("id") < 10000, lit("ok"))
        .otherwise(concat_ws(" ", (0 until 60).map(i =>
          concat(lit("w"), pmod(hash(col("id"), lit(i)), lit(2000)))): _*)).as("text"))
    time("simhash_pairs_degenerate") {
      val n = graft.ops.Dedup.simhashPairs(degen, col("doc_id"), col("text"),
        maxHamming = 2, maxBucketDocs = Some(1000)).count()
      println(s"[scale]   surviving capped simhash pairs: $n")
    }
    graft.ops.Dedup.unpersistShared()

    // pathological pair graph, ~10⁶ edges in three strata: one hub vertex
    // owning half the edges (the straggler case that breaks per-vertex
    // pre-partitioning), one path of length 10⁵ (diameter case — min-label
    // propagation would need 10⁵ rounds), and a random-pair cloud. The
    // star-contraction CC must label all three correctly in O(log²) rounds
    // with AQE free to split the hub's skewed join partitions.
    val pathBase = 1000000L
    val pathLen = 100000L
    val hubEdges = spark.range(1, 500001)
      .select(lit(0L).as("id1"), col("id").as("id2"))
    val pathEdges = spark.range(pathLen).select(
      (lit(pathBase) + col("id")).as("id1"),
      (lit(pathBase) + col("id") + 1).as("id2"))
    val randEdges = spark.range(400000).select(
      (lit(2000000L) + pmod(hash(col("id")), lit(200000))).as("id1"),
      (lit(2000000L) + pmod(hash(col("id"), lit(1)), lit(200000))).as("id2"))
      .filter(col("id1") =!= col("id2"))
    val graph = hubEdges.unionByName(pathEdges).unionByName(randEdges)
    time("cc_stars_giant_component") {
      val labels = graft.ops.Dedup.connectedComponentsStars(graph).cache()
      val comps = labels.agg(countDistinct("cluster_id")).head().getLong(0)
      val hubMislabels = labels
        .filter(col("doc_id") <= 500000L && col("cluster_id") =!= 0L).count()
      val pathMislabels = labels
        .filter(col("doc_id") >= pathBase && col("doc_id") <= pathBase + pathLen)
        .filter(col("cluster_id") =!= pathBase).count()
      labels.unpersist()
      println(s"[scale]   components: $comps, hub mislabels: $hubMislabels, " +
        s"path mislabels: $pathMislabels (both must be 0)")
    }

    // PageRank on the same pathological graph: the 5·10⁵-degree hub means
    // one groupBy key receives half of all contributions per round —
    // map-side partial aggregation must absorb it (integer sums combine),
    // and the hub's rank must dominate. Mass is conserved up to floor
    // loss: |Σpr − V·scale| < rounds·E.
    timeBothPaths(spark, "pagerank_hub_graph") {
      val pr = graft.ops.Graph.pageRank(
        graph.select(col("id1").as("src"), col("id2").as("dst")), iters = 3).cache()
      val top = pr.orderBy(col("pr").desc).head()
      val total = pr.agg(sum("pr")).head().getLong(0)
      val v = pr.count()
      pr.unpersist()
      val drift = v * 1000000000L - total
      println(s"[scale]   top node ${top.get(0)} (must be 0 = the hub); " +
        s"floor-loss drift $drift of ${v}e9 total")
    }

    // Bloom-prefiltered decontamination at corpus scale: the eval set is
    // 1k docs, the corpus nDocs. 1% of corpus docs are planted copies of
    // eval texts, so the stratum proves both sides: ~99% of corpus grams
    // die at the map-side probe, and every planted doc IS flagged.
    val planted = docs.withColumn("text",
      when(pmod(col("doc_id"), lit(100)) === 47 && col("doc_id") >= 1000,
        concat_ws(" ", (0 until 60).map(i =>
          concat(lit("w"), pmod(hash(pmod(col("doc_id"), lit(1000)), lit(i)), lit(2000)))): _*))
        .otherwise(col("text")))
    time("decontaminate_bloom") {
      val n = graft.ops.Dedup.contaminationBloom(
        planted.filter(col("doc_id") >= 1000), col("doc_id"), col("text"),
        planted.filter(col("doc_id") < 1000), col("doc_id"), col("text"),
        nGram = 5).count()
      println(s"[scale]   contaminated docs flagged: $n (expect ≈ ${nDocs / 100})")
      graft.ops.Dedup.unpersistShared()
    }

    // Zipf-ish item stream (log-uniform over a 100k vocabulary): ~90
    // items exceed the 0.1% support threshold. The MG sketch holds 4096
    // counters against the 100k-distinct stream — memory O(k), and the
    // confirm join only ever sees the candidate set.
    time("heavy_hitters_zipf") {
      val u = (pmod(hash(col("id")), lit(1000000)).cast("double") + 0.5) / 1000000.0
      val items = spark.range(nEvents).select(
        concat(lit("item"), floor(exp(u * math.log(100000.0)))).as("item"))
      val hh = graft.ops.TextAnalysis.heavyHitters(items, col("item"), 0.001)
        .count()
      println(s"[scale]   heavy items above 0.1% support: $hh (of ~100k distinct)")
    }

    // weighted sample at 10⁷ items: the hash-derived scores must make the
    // sample identical under any repartitioning (the cluster-layout
    // invariance claim), with the top-k never globally sorting.
    time("weighted_sample_invariance") {
      val base = spark.range(nEvents).select(col("id"),
        (pmod(col("id"), lit(1000)) + 1).cast("double").as("w"))
      val s1 = graft.ops.TextAnalysis.weightedSample(base, "id", col("w"), 1000)
        .select("id").collect().map(_.getLong(0)).toSet
      val s2 = graft.ops.TextAnalysis.weightedSample(base.repartition(97), "id", col("w"), 1000)
        .select("id").collect().map(_.getLong(0)).toSet
      println(s"[scale]   sample stable under repartition: ${s1 == s2} (size ${s1.size})")
    }

    // sequence packing over the full event volume: the distributed prefix
    // sum must stay two-scans-plus-broadcast at any size — no global
    // window. Invariant checked: per-sequence token sums (except the
    // last) reach the capacity.
    time("pack_sequences") {
      val packed = graft.ops.TextAnalysis.packSequences(
        events.select(col("event_id"), (pmod(col("event_id"), lit(900)) + 100).as("tok")),
        "event_id", col("tok"), 65536L)
      val seqs = packed.groupBy("seq_id").agg(sum("seq_tokens").as("t"))
      // a boundary-straddling doc (≤ 999 tokens here) may shortfall the
      // NEXT sequence by its size; only the final sequence may be shorter
      val short = seqs.filter(col("t") < 65536L - 999L).count()
      val total = seqs.count()
      println(s"[scale]   sequences: $total, under-filled: $short (only the last may be)")
    }

    // C4-style span dedup over the full doc corpus with a planted
    // boilerplate header on 20% of docs: the header chunk occurs nDocs/5
    // times and exactly ONE copy may survive corpus-wide. Shuffle volume
    // is O(chunks) — the degenerate hot chunk lands in one window
    // partition but carries only (doc_id, pos) pairs, never pair joins.
    time("paragraph_dedup") {
      val header = (0 until 12).map(i => s"hdr$i").mkString(" ")
      val boiler = docs.select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat_ws(" ", lit(header), col("text")))
          .otherwise(col("text")).as("text"))
      val s = graft.ops.TextAnalysis.paragraphDedup(boiler, col("doc_id"), col("text"))
        .agg(sum("n_chunks").as("c"), sum("n_kept").as("k")).head()
      val removed = s.getLong(0) - s.getLong(1)
      println(s"[scale]   chunks: ${s.getLong(0)}, removed: $removed " +
        s"(expect ≈ ${nDocs / 5 - 1} planted header dups)")
    }

    // tf-idf keywords over the full corpus: tf ≈ docs × distinct-tokens
    // rows materialized once (cached intermediate), df rollup + join on
    // the 2k-token vocabulary, per-doc top-3 via WindowGroupLimit.
    time("tfidf_topk") {
      val n = graft.ops.TextAnalysis.tfidfTopK(docs, col("doc_id"), col("text")).count()
      graft.ops.Dedup.unpersistShared()
      println(s"[scale]   keyword rows: $n (3 per doc)")
    }

    time("lexical_diversity") {
      graft.ops.TextAnalysis.lexicalDiversity(docs, col("doc_id"), col("text")).count()
    }

    // inverted index under a hot vocabulary: every one of the 2k common
    // tokens has df ≈ nDocs/34 ≫ cap and must be dropped BEFORE posting
    // collection; only the planted rare terms (df=1 each) survive. An
    // uncapped build would buffer nDocs-sized stopword lists per
    // aggregation group.
    time("inverted_index") {
      val rare = docs.select(col("doc_id"),
        when(col("doc_id") % 50 === 0,
          concat(col("text"), lit(" rare"), (col("doc_id") / 50).cast("long")))
          .otherwise(col("text")).as("text"))
      val n = graft.ops.TextAnalysis.invertedIndex(rare, col("doc_id"), col("text"),
        maxDf = 1000).count()
      graft.ops.Dedup.unpersistShared()
      println(s"[scale]   surviving index terms: $n " +
        s"(expect ${nDocs / 50} rare terms; hot vocabulary capped out)")
    }

    // quantile sketch at the full event volume: one pass builds per-type
    // sketches (constant memory per partial); the estimates must be
    // IDENTICAL under repartitioning (the md5-rank bottom-k claim), and
    // the sampled median must land inside the exact p45-p55 bracket.
    time("qsketch_quantiles") {
      graft.functions.QSketchFunctions.register(spark)
      val base = events.select(
        (pmod(hash(col("event_id"), lit(9)), lit(100000)).cast("double") / 1000.0).as("v"),
        col("event_id").cast("string").as("id"))
      def medians(df: org.apache.spark.sql.DataFrame): Double =
        df.agg(expr("graft_qsketch_q(graft_qsketch(v, id, 1024), 0.5d)"))
          .head().getDouble(0)
      val m1 = medians(base)
      val m2 = medians(base.repartition(41))
      val exact = base.stat.approxQuantile("v", Array(0.45, 0.55), 0.001)
      println(f"[scale]   p50 est $m1%.3f (partition-invariant: ${m1 == m2}, " +
        f"exact p45-p55 bracket [${exact(0)}%.3f, ${exact(1)}%.3f])")
    }

    // clustered embedding corpus: 32 well-separated clusters in id blocks,
    // so the first-k quantizer's centroids all come from cluster 0. The
    // trained spherical-k-means quantizer must recover near-brute recall
    // while probing nprobe/kCells of the corpus per query.
    val nVecs = math.min(nDocs, 50000L)
    val embs = spark.range(nVecs).select(
      col("id").as("vec_id"),
      expr(s"""transform(sequence(0, 63), d -> cast(
        (case when d = 2 * ((id * 32 div $nVecs) % 32) then 1.0 else 0.0 end)
        + pmod(id * 31 + d * 7, 97) / 970.0 as float))""").as("embedding"))
    val qs = embs.filter(pmod(col("vec_id"), lit(nVecs / 20)) === 7)
    val truth = graft.ops.Similarity.bruteTopK(embs, qs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (truth & got).size.toDouble / truth.size
    }
    time("ivf_trained_recall") {
      val cents = graft.ops.Similarity.kmeansCentroids(embs, 32, iters = 5)
      val r0 = recall(graft.ops.Similarity.ivfTopK(embs, qs, 10, kCells = 32, nprobe = 2))
      val r1 = recall(graft.ops.Similarity.ivfTopK(embs, qs, 10, kCells = 32, nprobe = 2,
        centroids = Some(cents)))
      println(f"[scale]   IVF recall@10: first-k $r0%.3f -> trained $r1%.3f")
    }

    // distributed fixed-point Lloyd at 10^6 x 64: per round one broadcast
    // -centroid scan plus an exchange of O(partitions·k·d) partial rows
    // (never the corpus) — 16 interleaved planted clusters so the
    // deterministic first-k init seeds one centroid per cluster, and the
    // trained cells must recover them exactly.
    time("kmeans_fixed_point_1m") {
      val n = 1000000L
      val emb = spark.range(n).select(
        col("id").as("vec_id"),
        expr("""transform(sequence(0, 63), d -> cast(
          (case when d = 2 * (id % 16) then 1.0 else 0.0 end)
          + pmod(id * 31 + d * 7, 97) / 970.0 as float))""").as("embedding"))
      val (cents, counts) =
        graft.ops.Similarity.kmeansFixedPointCentroids(emb, kCells = 16, iters = 3)
      val empty = counts.count(_ == 0L)
      // every planted cluster keeps its own cell; membership is balanced
      assert(empty == 0, s"$empty empty cells on a 16-cluster corpus")
      assert(counts.min > n / 32, s"unbalanced cells: ${counts.toSeq}")
      // each trained centroid's dominant dim is its cluster's planted dim
      val misplaced = cents.zipWithIndex.count { case (c, cell) =>
        c.indexOf(c.max) != 2 * cell
      }
      println(s"[scale]   kmeans 1m x 64, k=16: counts min ${counts.min} " +
        s"max ${counts.max}, misplaced centroids $misplaced")
      assert(misplaced == 0, "trained centroids must recover the planted directions")
    }

    // maintained-log compaction at 500 micro-batches × 2k partial rows:
    // the small-file shape a week of 20-minute triggers leaves behind.
    // One generation write + GC must collapse 500 partitions to 2 and
    // keep the merge-on-read aggregate bit-identical.
    time("log_compaction_500_batches") {
      val dir = java.nio.file.Files.createTempDirectory("graft_smoke_log").toString
      val path = s"$dir/log"
      spark.range(500L * 2000L).select(
          (col("id") / 2000L).cast("long").as("__batch_id"),
          (col("id") % 2000L).as("key"),
          lit(1L).as("cnt"),
          (col("id") % 97L).as("sm"))
        .write.partitionBy("__batch_id").parquet(path)
      def merged() = graft.streaming.Monitor.readLog(spark, path)
        .groupBy("key").agg(sum("cnt").as("cnt"), sum("sm").as("sm"))
        .agg(sum("cnt"), sum("sm")).collect()(0).toSeq
      val before = merged()
      graft.streaming.Monitor.compactLog(spark, path, df =>
        df.groupBy("key").agg(sum("cnt").as("cnt"), sum("sm").as("sm")))
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val partsLeft = fs.listStatus(new org.apache.hadoop.fs.Path(path))
        .map(_.getPath.getName).count(_.startsWith("__batch_id="))
      assert(partsLeft == 2, s"expected generation + newest batch, got $partsLeft")
      assert(merged() == before, "compaction must not move the aggregate")
      println(s"[scale]   compacted 500 batch partitions -> $partsLeft, aggregate unchanged")
    }

    // full-batch fixed-point perceptron at 10^6 docs: each round is one
    // codegen'd scan of the cached integer features reduced to a SINGLE
    // (m, g0..g6) row — the exchange never carries the corpus — and the
    // geometric step decay must still bisect to a zero-mistake separator
    // on the planted vowel/consonant signal at this scale.
    time("perceptron_fixed_point_1m") {
      val docs = spark.range(1000000L).select(
        col("id").as("doc_id"),
        expr("""concat(repeat(case when id % 2 = 0 then 'aeiou ' else 'xyzrt ' end,
          6 + cast(id % 5 as int)), 'd', id)""").as("text"),
        expr("id % 2 = 0").as("pos"))
      // the bisection depth grows with log(corpus): the initial overshoot
      // is corpus-scale, the planted margin is O(feature) — 10 rounds
      // cover 10^6 docs (9 suffice at 10^5, 8 at 200)
      val (traj, nMis) = graft.ops.TextAnalysis.classifierTrajectory(
        docs, col("doc_id"), col("text"), col("pos"), iters = 10)
      println(s"[scale]   perceptron 1m docs, 10 rounds: n_mis ${nMis.toSeq}")
      assert(nMis(0) == 1000000L && nMis(10) == 0L,
        s"planted separable corpus must converge, got ${nMis.toSeq}")
      assert(traj(10).exists(_ != 0L))
    }

    // funnel at the full event volume: one window sort per user carries
    // all three chained stage minimums (O(1) state per row — a power user
    // with 10^6 events costs sort time, never aggregation-buffer memory).
    time("funnel_full_volume") {
      val r = graft.ops.Analytics.funnel(events.select(
        col("event_id"), col("user_id"), col("event_type"),
        (col("ts_sec") * 1000000L).as("ts_us"))).head()
      println(s"[scale]   users ${r.getLong(0)} -> ${r.getLong(1)} -> " +
        s"${r.getLong(2)} -> ${r.getLong(3)}")
    }

    // the k-stage generalization at the same volume: FIVE chained stage
    // minimums must still plan over ONE exchange+sort on user_id (k
    // dependent Window operators, k longs of per-row state) — the cost
    // of widening the funnel is expression work, not another shuffle.
    time("funnel_5stage_full_volume") {
      val ev5 = events.select(
        col("event_id"), col("user_id"),
        expr("element_at(array('signup','view','click','purchase','error'), " +
          "cast(event_id % 5 as int) + 1)").as("event_type"),
        (col("ts_sec") * 1000000L).as("ts_us"))
      val plan = graft.ops.Analytics.funnelUsers(ev5,
        Seq("signup", "view", "click", "purchase", "error"))
        .queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges <= 1,
        s"5-stage funnel must ride one user_id exchange, saw $exchanges")
      val r = graft.ops.Analytics.funnel(ev5,
        Seq("signup", "view", "click", "purchase", "error")).head()
      println(s"[scale]   5-stage users ${r.getLong(0)} -> " +
        (1 to 5).map(i => r.getLong(i)).mkString(" -> ") +
        s" (window exchanges: $exchanges)")
    }

    time("retention_cohorts") {
      val n = graft.ops.Analytics.retention(events.select(
        col("user_id"), (col("ts_sec") / 86400L).cast("long").as("day"))).count()
      println(s"[scale]   cohort x offset cells: $n")
    }

    // bigram LM over the full corpus: three O(tokens) aggregations + two
    // key joins; the 2k-word vocabulary means bigram keys are hot (each
    // ~nDocs*59/4M occurrences) — exactly the skew AQE splits, while the
    // count tables stay one row per distinct bigram.
    time("lm_score") {
      val scored = graft.ops.TextAnalysis.lmScore(docs, col("doc_id"), col("text"))
      val n = scored.count()
      graft.ops.Dedup.unpersistShared()
      println(s"[scale]   scored docs: $n")
    }

    // source-overlap matrix: 20 synthetic sources over the full corpus —
    // shuffle is O(distinct (source, shingle)), and even the hottest
    // shingle fans out to at most 20·19/2 pairs
    time("overlap_matrix") {
      val sourced = docs.withColumn("source",
        concat(lit("src"), pmod(col("doc_id"), lit(20))))
      val n = graft.ops.TextAnalysis.sourceOverlap(
        sourced, col("source"), col("text")).count()
      println(s"[scale]   source pairs with shared shingles: $n (of 190)")
    }

    // composite gate over the full corpus: three signals in one scan +
    // the LM join; the reason histogram is the per-source audit a drop
    // step must produce
    time("quality_gate") {
      // the stopword bit is vacuous on this stopword-free synthetic vocab
      // (every doc would fail it); zero its threshold so the stratum
      // exercises the length/repetition/LM bits instead
      val gated = graft.ops.TextAnalysis.qualityGate(
        docs, col("doc_id"), col("text"), minStopPermille = 0L, minLmMicro = 1L)
      val hist = gated.groupBy("reasons").count().orderBy("reasons")
        .collect().map(r => s"${r.getLong(0)}->${r.getLong(1)}").mkString(" ")
      val kept = gated.filter(col("keep")).count()
      graft.ops.Dedup.unpersistShared()
      println(s"[scale]   kept $kept of $nDocs; reason histogram: $hist")
    }

    // PQ encode at the embedding volume: the compressed corpus must be
    // byte-identical under repartitioning (broadcast codebook, argmin is
    // a deterministic min(struct))
    time("pq_encode_invariance") {
      val cb = graft.ops.Similarity.pqCodebook(embs)
      val c1 = graft.ops.Similarity.pqEncode(embs, cb)
      val c2 = graft.ops.Similarity.pqEncode(embs.repartition(29), cb)
      val drift = c1.as("a").join(c2.as("b"), Seq("vec_id", "s"))
        .filter(col("a.code") =!= col("b.code")).count()
      println(s"[scale]   code drift under repartition: $drift rows " +
        s"(${4 * nVecs} codes)")
    }

    // int8 quantization at the embedding volume: codes must be identical
    // under repartitioning (affine grid from corpus stats, no RNG), and
    // quantized MIPS ranking should approximate float ranking on the
    // clustered corpus (exactness is restored by a brute re-rank of the
    // shortlist at 1/4 the scan cost).
    time("int8_quantize_rank") {
      val stats = graft.ops.Similarity.dimStats(embs)
      val c1 = graft.ops.Similarity.quantizeInt8(embs, stats)
      val c2 = graft.ops.Similarity.quantizeInt8(embs.repartition(37), stats)
      val diff = c1.as("a").join(c2.as("b"), "vec_id")
        .filter(col("a.cv") =!= col("b.cv")).count()
      val r10 = recall(graft.ops.Similarity.int8TopK(embs, qs, 10))
      // the production shape: a quantized SHORTLIST (5x over-fetch at 1/4
      // the scan IO) handed to an exact re-rank — shortlist recall is
      // what determines end recall
      val r50 = recall(graft.ops.Similarity.int8TopK(embs, qs, 50))
      println(f"[scale]   code drift under repartition: $diff rows; " +
        f"recall@10 direct $r10%.3f, via top-50 shortlist $r50%.3f")
    }

    // CDC span dedup under planted SHIFTED boilerplate: 20% of docs carry
    // the same 24-word header behind a variable-length (doc_id % 7 words)
    // prefix, so no two copies align on any fixed grid — grid chunking
    // (42q) is structurally blind here; content-defined boundaries must
    // still collapse the copies. Chunking is map-side; the only shuffles
    // are O(chunks).
    time("cdc_dedup_shifted_boilerplate") {
      val header = (0 until 24).map(i => s"hdr$i").mkString(" ")
      val shifted = docs.select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat_ws(" ",
            expr("concat_ws(' ', transform(sequence(1, cast(pmod(doc_id, 7) + 1 as int)), i -> concat('pre', doc_id, '_', i)))"),
            lit(header), col("text")))
          .otherwise(col("text")).as("text"))
      val s = graft.ops.TextAnalysis.cdcSpanDedup(shifted, col("doc_id"), col("text"))
        .agg(sum("n_chunks").as("c"), sum("n_kept").as("k")).head()
      println(s"[scale]   chunks: ${s.getLong(0)}, removed: ${s.getLong(0) - s.getLong(1)} " +
        s"(~${nDocs / 5} shifted header copies planted)")
    }

    // containment at corpus volume: same capped-shingle candidate join as
    // the jaccard stratum — the asymmetric measure adds only the least()
    // arithmetic, so candidate volume (and the hot-shingle cap) is the
    // entire scale story.
    time("containment_pairs") {
      val n = graft.ops.Dedup.containmentPairs(docs, col("doc_id"), col("text"), 0.9)
        .count()
      graft.ops.Dedup.unpersistShared()
      println(s"[scale]   containment pairs >= 0.9: $n")
    }

    // triangle count on a 10^6-node adversarial graph: a ring (no hub
    // triangles), one planted triangle per i % 4 == 0 skip edge, and a
    // 10^5-degree hub. Orientation makes the hub a pure SINK — its
    // out-adjacency is EMPTY, so every (u, hub) edge drops at the
    // adjacency join and contributes zero intersection work, instead of
    // the O(hub_deg^2) = 10^10 pairs a naive wedge enumeration would
    // emit; no adjacency array ever exceeds the √m orientation cap.
    time("triangles_hub_graph") {
      val n = 1000000L
      val ring = spark.range(n - 1).select(col("id").as("src"), (col("id") + 1).as("dst"))
      val skips = spark.range(n - 2).filter(col("id") % 4 === 0)
        .select(col("id").as("src"), (col("id") + 2).as("dst"))
      val hub = spark.range(n / 10).select(lit(n).as("src"), (col("id") * 10).as("dst"))
      val r = graft.ops.Graph.triangles(ring.union(skips).union(hub)).head()
      val expect = (0L until n - 2 by 4).size
      println(s"[scale]   nodes ${r.getLong(0)} edges ${r.getLong(1)} " +
        s"triangles ${r.getLong(2)} (expect $expect planted)")
      require(r.getLong(2) == expect, s"triangle count ${r.getLong(2)} != $expect")
    }

    // k-core peeling on an adversarial composite: a 10^5-node circulant
    // core (offsets ±1,±2 → degree 4, survives k=3 intact), 100 complete
    // binary trees of depth 11 hanging off it (leaves peel round 1, then
    // one layer per round — a CASCADE of ~11 data-dependent rounds, the
    // iteration-count hazard), and a 10^5-degree hub wired to tree leaves
    // (its degree row must die in map-side partial agg, and it must peel
    // the moment its leaves do). Survivors must be EXACTLY the circulant
    // nodes, every one at core_deg 4.
    timeBothPaths(spark, "kcore_cascade_graph") {
      val coreN = 100000L
      val treeDepth = 11 // heap indices 2 .. 2^12-1, leaves 2^11 .. 2^12-1
      val treeSz = (1L << (treeDepth + 1)) - 1
      val nTrees = 100L
      val core = spark.range(coreN).select(col("id").as("src"),
          ((col("id") + 1) % coreN).as("dst"))
        .union(spark.range(coreN).select(col("id").as("src"),
          ((col("id") + 2) % coreN).as("dst")))
      val tree = spark.range(nTrees * (treeSz - 1)).select(
        expr(s"$coreN + (id div ${treeSz - 1}) * ${treeSz + 1}" +
          s" + (id % ${treeSz - 1} + 2)").as("src"),
        expr(s"$coreN + (id div ${treeSz - 1}) * ${treeSz + 1}" +
          s" + (id % ${treeSz - 1} + 2) div 2").as("dst"))
      val roots = spark.range(nTrees).select(
        (lit(coreN) + col("id") * (treeSz + 1) + 1).as("src"),
        ((col("id") * 997) % coreN).as("dst"))
      val hubId = coreN + nTrees * (treeSz + 1) + 7
      val leafLo = 1L << treeDepth
      val hub = spark.range(nTrees / 2 * leafLo).select(lit(hubId).as("src"),
        expr(s"$coreN + (id div $leafLo) * ${treeSz + 1}" +
          s" + (id % $leafLo + $leafLo)").as("dst"))
      val out = graft.ops.Graph.kCore(
        core.union(tree).union(roots).union(hub), k = 3).cache()
      val n = out.count()
      val offCore = out.filter(col("node") >= coreN || col("core_deg") =!= 4).count()
      out.unpersist()
      println(s"[scale]   kcore survivors $n (expect $coreN), " +
        s"non-circulant or wrong-degree $offCore (must be 0)")
      require(n == coreN && offCore == 0L, "kcore peel wrong")
    }

    // the driver budget's edge (graft.ops.OpCache: 4 M budget rows, two
    // per edge). Connected components, PageRank and k-core over exactly
    // 2 M edges run on the driver; one edge more sends them to the
    // distributed rounds after the gate has cached the list and read
    // budget + 1 rows of it, the price a list above the budget pays for
    // the gate. Disjoint pairs give the most nodes a list can have
    // (V = 2E), so the driver side also returns its largest result, one
    // row per node. Each call is timed together with the checks that
    // read its result.
    time("budget_edge_graph") {
      for (nEdges <- Seq(2000000L, 2000001L)) {
        val pairs = spark.range(nEdges)
          .select((col("id") * 2).as("id1"), (col("id") * 2 + 1).as("id2"))
        val edges = pairs.select(col("id1").as("src"), col("id2").as("dst"))
        val v = 2 * nEdges
        def run(op: String)(ok: => Boolean): Unit = {
          graft.ops.OpCache.unpersistAll()
          val t0 = System.nanoTime()
          require(ok, s"$op wrong on $nEdges disjoint pairs")
          println(f"[scale]   $op%-10s $nEdges%8d edges ${(System.nanoTime() - t0) / 1e9}%7.2f s")
        }
        run("cc") {
          val cc = graft.ops.Dedup.connectedComponents(pairs)
          cc.count() == v &&
            cc.filter(col("cluster_id") =!= col("doc_id") - pmod(col("doc_id"), lit(2))).isEmpty
        }
        run("pagerank") {
          val r = graft.ops.Graph.pageRank(edges)
            .agg(count(lit(1)), min("pr"), max("pr")).head()
          r.getLong(0) == v && r.getLong(1) == r.getLong(2)
        }
        run("kcore") {
          val kc = graft.ops.Graph.kCore(edges, k = 1)
          kc.count() == v && kc.filter(col("core_deg") =!= 1L).isEmpty
        }
      }
      graft.ops.OpCache.unpersistAll()
    }

    // the store cache's edge (graft.store.CachedParquetFileFormat): a
    // loaded store whose files fit the driver budget on disk reads through
    // the decoded-file cache; one just over it keeps Spark's columnar,
    // uncached scan, and so does a store under it on disk whose decoded
    // rows turned out larger than the cache. Capture stores of random hex
    // payloads, sized from a probe store: "fits" decodes to 90 % of the
    // budget, "under" sits 5 % under it on disk (and decodes past it),
    // "over" 5 % over it on disk. Each is scanned by a full-scan aggregate
    // three times, each through a new load: cold (every split's first
    // read), fill (the second read, which fills the cache) and warm; then
    // once more through spark.read.parquet, for reference.
    time("store_scan_budget") {
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
      import graft.store.CachedParquetFileFormat
      val budget = graft.ops.OpCache.DriverBytes
      val root = java.nio.file.Files.createTempDirectory("graft_scale_store").toString
      val schema = "id BIGINT, session BIGINT, ts TIMESTAMP, topic STRING, data STRING"
      def capture(name: String, n: Long): (String, Long) = {
        spark.range(n).select(col("id"), expr("id div 2000").as("session"),
            timestamp_seconds(lit(1700000000L) + col("id")).as("ts"),
            element_at(array(lit("imu"), lit("scan"), lit("odom")),
              (pmod(col("id"), lit(3)) + 1).cast("int")).as("topic"),
            concat(sha2(col("id").cast("string"), 256), sha2((-col("id")).cast("string"), 256)).as("data"))
          .write.parquet(s"$root/$name-in")
        graft.streaming.Monitor.capture(spark.readStream.schema(schema).parquet(s"$root/$name-in"),
          col("id"), col("session"), col("ts"), s"$root/$name", s"$root/$name-chk").awaitTermination()
        val store = new org.apache.hadoop.fs.Path(s"$root/$name")
        val files = graft.sources.FileWalk.dataFiles(
          store.getFileSystem(spark.sparkContext.hadoopConfiguration), store)
        (store.toString, files.map(_.getLen).sum)
      }
      def scan(df: DataFrame) = df.agg(count(lit(1)), sum(length(col("data"))), max("ts")).head()
      // bytes a row on disk, and in the cache once decoded
      val probeRows = 20000L
      val (probe, probeBytes) = capture("probe", probeRows)
      val cached0 = CachedParquetFileFormat.cachedBytes
      (1 to 2).foreach(_ => scan(graft.api.Graft.load(spark, probe)))
      val decodedPerRow = (CachedParquetFileFormat.cachedBytes - cached0).toDouble / probeRows
      val diskPerRow = probeBytes.toDouble / probeRows
      println(f"[scale]   probe: $diskPerRow%.1f B a row on disk, $decodedPerRow%.1f B decoded")
      for ((side, rows) <- Seq(("fits", budget * 0.90 / decodedPerRow), ("under", budget * 0.95 / diskPerRow),
                               ("over", budget * 1.05 / diskPerRow))) {
        val (store, bytes) = capture(side, rows.toLong)
        println(f"[scale]   $side%-5s store ${bytes / 1e6}%6.1f MB on disk (budget ${budget / 1e6}%.1f MB)")
        require((bytes <= budget) == (side != "over"), s"the $side store landed on the wrong side")
        // "spark": the same aggregate through spark.read.parquet, uncached
        val results = Seq("cold", "fill", "warm", "spark").map { pass =>
          val df = if (pass == "spark") spark.read.parquet(store) else graft.api.Graft.load(spark, store)
          val format = df.queryExecution.analyzed.collectFirst {
            case l: LogicalRelation => l.relation match {
              case h: HadoopFsRelation => h.fileFormat.getClass.getSimpleName
              case other => other.toString
            }
          }.getOrElse("?")
          val (hits, misses) = (CachedParquetFileFormat.hits.get, CachedParquetFileFormat.misses.get)
          val t0 = System.nanoTime()
          val r = scan(df)
          println(f"[scale]   $side%-5s $pass scan ${(System.nanoTime() - t0) / 1e9}%7.2f s via $format%-23s " +
            f"${CachedParquetFileFormat.misses.get - misses}%4d splits from disk, " +
            f"${CachedParquetFileFormat.hits.get - hits}%4d from the cache, " +
            f"cache ${CachedParquetFileFormat.cachedBytes / 1e6}%.1f MB")
          r
        }
        require(results.distinct.size == 1, s"$side store: the scans differ")
      }
    }

    // label propagation on 10^5 disjoint 10-cliques (10^6 nodes) plus a
    // 10^5-degree hub touching one node per clique: every clique node has
    // 9 intra-community edges against at most 1 hub edge, so NO non-hub
    // node may end outside its clique's label range — the hub's fan-out
    // must not leak its label, and the hub's own (node,label) count rows
    // must collapse in map-side partial agg instead of skewing a reducer.
    time("label_prop_hub_graph") {
      val nCliques = 100000L
      val intra = spark.range(nCliques * 45).select(
        expr("(id div 45) * 10 + " +
          "cast(floor((sqrt(8.0D * cast(id % 45 as double) + 1.0D) - 1.0D) / 2.0D) as bigint) + 1")
          .as("dst"),
        expr("(id div 45) * 10 + (id % 45) - " +
          "cast(floor((sqrt(8.0D * cast(id % 45 as double) + 1.0D) - 1.0D) / 2.0D) as bigint) * " +
          "(cast(floor((sqrt(8.0D * cast(id % 45 as double) + 1.0D) - 1.0D) / 2.0D) as bigint) + 1) div 2")
          .as("src"))
      val hubId = nCliques * 10 + 1
      val hub = spark.range(nCliques).select(lit(hubId).as("src"),
        (col("id") * 10).as("dst"))
      val lab = graft.ops.Graph.labelPropagation(intra.union(hub), rounds = 4)
      val leaked = lab.filter(col("node") =!= hubId &&
        expr("lbl div 10") =!= expr("node div 10")).count()
      println(s"[scale]   nodes ${1 + nCliques * 10}, hub degree $nCliques, " +
        s"non-hub nodes outside their clique: $leaked (must be 0)")
      require(leaked == 0L, s"label propagation leaked $leaked labels")
    }

    // integer power iteration at 10^6 x 64: vectors planted as t·u + s·w
    // with |t| ~ 10|s| — the syrk Gram pass is the only distributed work
    // (shuffle = partitions x 2080 partial rows regardless of n) and the
    // milli eigenvector must align with the planted direction.
    time("pca_power_1m") {
      val c = 1.0 / math.sqrt(32.0)
      val emb = spark.range(1000000L).select(col("id").as("vec_id"),
        expr(s"""transform(sequence(0, 63), i -> cast(CASE WHEN i % 2 = 0
                |  THEN (id % 21 - 10) * ${c}D
                |  ELSE ((id * 7) % 5 - 2) / 2.0D * ${c}D END as float))""".stripMargin)
          .as("embedding"))
      val v = graft.ops.Similarity.pcaPowerVector(emb)
      val dot = v.indices.filter(_ % 2 == 0).map(i => v(i).toDouble * c).sum
      val nv = math.sqrt(v.map(x => x.toDouble * x).sum)
      println(f"[scale]   cos(v, planted) = ${math.abs(dot) / nv}%.6f")
      require(math.abs(dot) / nv > 0.999, "power iteration missed the planted direction")
    }

    // market-basket pairs under a mega-basket: 10^6 normal 5-item baskets
    // plus ONE 10^5-item basket. Uncapped, the hot basket alone emits
    // ~5·10^9 pairs and owns the entire shuffle; the maxBasket cap drops
    // it before the self-join, so candidate volume stays O(baskets·k²).
    // Lift scores must come exclusively from the planted co-occurrence
    // pattern (items 8i..8i+4 share basket i), never the mega-basket.
    time("basket_lift_mega_basket") {
      val nB = 1000000L
      val normal = spark.range(nB * 5).select(
        (col("id") / 5).cast("long").as("ok"),
        ((col("id") / 5) * 8 + pmod(col("id"), lit(5))).as("pk"))
      val mega = spark.range(100000L).select(
        lit(nB + 7).as("ok"), (col("id") * 3).as("pk"))
      val li = normal.union(mega)
        .select(col("ok").as("l_orderkey"), col("pk").as("l_partkey"))
      // same pipeline as Analytics.basketLift, minBasket cap active
      val dedup = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      val sizes = dedup.groupBy(col("ok")).agg(count(lit(1)).as("bsz"))
        .filter(col("bsz") <= 1000)
      val keep = dedup.join(sizes.select("ok"), "ok")
      val pairs = keep.as("a").join(keep.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("pk1"), col("b.pk").as("pk2"))
        .agg(count(lit(1)).as("n12"))
      val n = pairs.count()
      val expect = nB * 10 // C(5,2) pairs per planted basket
      println(s"[scale]   pair rows $n (expect $expect), mega-basket dropped")
      require(n == expect, s"pair count $n != $expect — cap failed")
    }

    // exact KS at event volume over a BOUNDED value domain: 10^7 samples,
    // 10^4 distinct values, stratum b shifted by half the range. The
    // grouped ECDF means only 1.5·10^4 rows reach the single ordered
    // window (never the corpus), and the planted shift gives KS = 0.5
    // EXACTLY (uniform strata, disjoint by construction above 10^4).
    time("ks_bounded_domain") {
      val a = spark.range(nEvents / 2).select(lit("a").as("g"),
        pmod(col("id"), lit(10000)).as("x"))
      val b = spark.range(nEvents / 2).select(lit("b").as("g"),
        (pmod(col("id"), lit(10000)) + 5000).as("x"))
      val r = graft.ops.TextAnalysis.ksDrift(a.union(b), col("g"), col("x"), "a", "b")
        .head()
      val ks = r.getAs[Double]("ks")
      println(s"[scale]   ks = $ks at x = ${r.getAs[Long]("x_at")} " +
        s"(na ${r.getAs[Long]("na")}, nb ${r.getAs[Long]("nb")})")
      require(ks == 0.5, s"planted half-range shift must give KS 0.5, got $ks")
    }

    // incremental maintenance at event volume: a 10^7-row "base" partial
    // merged with an increment partial must equal the single-pass answer
    // bit-for-bit (exact integer micros — no float fold-order slack).
    time("incremental_merge_parity") {
      val ev = events.select(col("event_type"), col("ts_sec"),
        (pmod(col("event_id"), lit(1000)) / lit(100.0)).as("value"))
      val cut = col("ts_sec") < lit(1704067200L + 15 * 86400L)
      val merged = graft.ops.Analytics.eventStatsMerge(
          graft.ops.Analytics.eventStatsPartial(ev.filter(cut))
            .unionByName(graft.ops.Analytics.eventStatsPartial(ev.filter(!cut))))
        .orderBy("event_type").collect().map(_.toSeq)
      val direct = graft.ops.Analytics.eventStatsMerge(
          graft.ops.Analytics.eventStatsPartial(ev))
        .orderBy("event_type").collect().map(_.toSeq)
      require(merged.toSeq == direct.toSeq, "merge != recompute")
      println(s"[scale]   ${merged.length} groups, merge == recompute exactly")
    }
    // token-budget mixing under source skew: one mega-source holding 91%
    // of 10^6 docs vs 100 tiny sources. The per-source cumsum must run
    // as the BUCKETED prefix sum (a partitionBy(source) window would
    // drag 910k docs through one task — the skew this op exists to
    // avoid), sqrt flattening must hand every tiny source a non-zero
    // slice, and the mega-source's kept token count must respect its
    // integer budget exactly: kept ≤ budget, and the next doc in hash
    // order would overflow it (greedy fill is tight, not just bounded).
    time("mix_budget_mega_source") {
      val n = 1000000L
      val docs = spark.range(n).select(col("id"),
        when(pmod(col("id"), lit(11)) < 10, lit("mega"))
          .otherwise(concat(lit("tiny"), pmod(col("id"), lit(100)))).as("source"),
        (pmod(col("id"), lit(900)) + 100).as("tok"))
      val budget = 20000000L
      val out = graft.ops.TextAnalysis.mixBudget(
          docs, "id", col("source"), col("tok"), budget)
        .select(col("source"), col("tok").as("kept_tok"), col("start_tok")).cache()
      val per = out.groupBy("source")
        .agg(count(lit(1)).as("n"), sum("kept_tok").as("tok"),
          max(expr("start_tok + kept_tok")).as("fill"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      out.unpersist()
      val totals = docs.groupBy("source").agg(sum("tok").as("t")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val weights = totals.map { case (s, t) => s -> math.floor(math.sqrt(t.toDouble)).toLong }
      val wSum = weights.values.map(BigInt(_)).sum
      val budgets = weights.map { case (s, w) => s -> (BigInt(budget) * w / wSum).toLong }
      val nTiny = per.count(_._1 != "mega")
      require(nTiny == 100, s"only $nTiny tiny sources got a slice (expect all 100)")
      per.foreach { case (s, (_, _, fill)) =>
        val b = budgets(s)
        require(fill >= b || fill == totals(s),
          s"source $s under-filled: $fill of budget $b")
      }
      per.foreach { case (s, (_, tokSum, fill)) =>
        require(tokSum == fill, s"source $s cumsum mismatch: $tokSum != $fill")
      }
      println(s"[scale]   mega kept ${per("mega")._2} tok of budget ${budgets("mega")}" +
        s" (corpus share ${totals("mega") * 100 / totals.values.sum}%," +
        s" budget share ${budgets("mega") * 100 / budget}%); 100/100 tiny sources filled")
    }
    // margin mining under hub skew: side B contains a 5%-of-corpus HUB
    // CLUSTER (one shared direction + noise — every hub lands in the
    // same SRP bucket, the worst candidate-join cell) plus one planted
    // co-directional partner per sampled A vector. The audit requires
    // (a) planted-pair recall 1.0 through the LSH path, (b) the output
    // is a MATCHING (mutual argmax structurally forbids a hub from
    // winning more than one A vector), and (c) the candidate join stays
    // O(bucket cells), not |A|·|B| — the hub cell is the irreducible
    // skew quadratic, an equality key AQE can split.
    time("margin_mining_hub_skew") {
      val nA = 20000L
      // CENTERED dense pseudo-random vectors: non-twin cosines stay small
      // (|cos| ~ 1/sqrt(64)-ish), so a genuine twin's margin is sharp.
      // (An uncentered [0,1) corpus makes EVERYTHING moderately similar
      // and margins legitimately collapse toward 1.0 — the criterion
      // reporting real ambiguity, not an audit of skew.)
      val a = spark.range(nA).select(col("id").as("vec_id"), expr(
        s"""transform(sequence(0, 63), d -> cast(
           (pmod(xxhash64(id, d), 1001) - 500) / 500.0 as float))""").as("embedding"))
      // b side: planted partner = the SAME expression scaled (identical
      // direction -> identical SRP signs), hub cluster = direction 63
      val planted = a.select((col("vec_id") + 1000000L).as("vec_id"),
        expr("transform(embedding, x -> cast(x * 0.9 as float))").as("embedding"))
      val hubs = spark.range(nA / 20).select((col("id") + 2000000L).as("vec_id"), expr(
        s"""transform(sequence(0, 63), d -> cast(
           (case when d = 63 then 5.0 else 0.0 end)
           + (pmod(xxhash64(id, d, 7), 1001) - 500) / 50000.0 as float))""").as("embedding"))
      val b = planted.unionByName(hubs)
      val got = graft.ops.Similarity
        .marginPairsLsh(a, b, k = 4, minMarginPpm = 1050000L, planes = 6)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      graft.ops.Dedup.unpersistShared()
      val planted_hits = got.count { case (ai, bi) => bi == ai + 1000000L }
      // >= 99.9%, not 100%: margin mining is approximate by design — a
      // chance hash near-duplicate can create a legitimate crossing or
      // an honestly ambiguous (sub-bar) margin for isolated vectors
      require(planted_hits * 1000L >= nA * 999L,
        s"planted-pair recall ${planted_hits}/$nA through the LSH margin path")
      println(s"[scale]   planted recall $planted_hits/$nA, " +
        s"pairs out ${got.length}, hub cluster ${nA / 20} vectors")
      require(got.map(_._1).distinct.length == got.length &&
        got.map(_._2).distinct.length == got.length,
        "margin output must be a matching (no endpoint repeats)")
    }

    // BPE training must be partition-invariant: the greedy merge
    // sequence is a corpus-global argmax per round, so ANY layout of the
    // same corpus must replay the identical merges (the tiebreak is
    // total). Runs on a 1M-word corpus with a Zipf-ish word mix.
    time("bpe_partition_invariance") {
      val words = spark.range(1000000L).select(
        concat_ws(" ",
          expr("repeat(concat('w', conv(pmod(id, 251), 10, 36)), 1)"),
          expr("substring('abcdefghijklmnop', cast(pmod(id, 13) as int) + 1, 4)"))
          .as("text"))
      def merges(parts: Int) = graft.ops.TextAnalysis
        .bpeTrain(words.repartition(parts), col("text"), rounds = 6)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      val m4 = merges(4)
      val m32 = merges(32)
      require(m4 == m32, s"merge sequence differs across layouts:\n$m4\n$m32")
      require(m4.size == 6, s"expected 6 merges, got ${m4.size}")
    }

    // BFS under hub skew: a 10⁵-degree star hub + a pendant path. The
    // audit question is round-structure, not volume — the frontier that
    // contains the hub explodes to all its neighbors in ONE round
    // (broadcast anti-join keeps it an equality join), and total rounds
    // equal the eccentricity, not the node count.
    time("bfs_hub_skew") {
      val hubDeg = 100000L
      val star = spark.range(1, hubDeg + 1)
        .select(lit(0L).as("src"), col("id").as("dst"))
      val path = spark.range(0, 10).select(
        (col("id") + hubDeg + 1).as("src"), (col("id") + hubDeg + 2).as("dst"))
      val bridge = spark.range(1).select(lit(1L).as("src"), (lit(hubDeg + 1)).as("dst"))
      val d = graft.ops.Graph
        .bfs(star.unionByName(path).unionByName(bridge), Seq(5L))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      graft.ops.Dedup.unpersistShared()
      require(d(5L) == 0 && d(0L) == 1 && d(99999L) == 2,
        s"star depths wrong: ${d(5L)}, ${d(0L)}, ${d(99999L)}")
      require(d(hubDeg + 11) == 13, s"path tail depth ${d(hubDeg + 11)} != 13")
      require(d.size == hubDeg.toInt + 12, s"reached ${d.size} nodes")
    }

    // Gap-fill's cost model is span-linear PER SERIES (spine rows =
    // span/bucket), independent of event count — the 100 TB hazard is a
    // stale series whose span dwarfs its data. 100 series × 10-year
    // hourly span = 8.8M spine rows from only 200k events: the audit
    // proves the spine explode + fill window stay span-bounded and the
    // LOCF output is dense.
    time("gap_fill_span_bound") {
      val tenYearsSec = 315360000L
      val ev = spark.range(200000L).select(
        concat(lit("s"), pmod(col("id"), lit(100))).cast("string").as("event_type"),
        timestamp_seconds(lit(1500000000L) +
          pmod(hash(col("id")), lit(tenYearsSec))).as("ts"),
        (pmod(hash(col("id"), lit(3)), lit(1000)) / 10.0).as("value"))
      val out = graft.ops.Analytics.gapFill(ev)
      val n = out.count()
      val perSeries = out.groupBy(col("series"))
        .agg((max(col("h")) - min(col("h")) + 1).as("span"), count(lit(1)).as("rows"))
        .filter(col("span") =!= col("rows")).count()
      require(perSeries == 0L, "spine must be dense per series")
      require(n > 8000000L, s"expected ~8.8M spine rows, got $n")
    }

    // Nearest as-of at event volume: two key-partitioned window passes
    // (backward + forward composition) — the audit is that it stays a
    // constant factor over the one-directional as-of on the same 10M
    // events, with no inequality-join blowup.
    time("asof_nearest") {
      val l = events.filter(col("event_type") === "purchase")
        .select("user_id", "ts_sec", "event_id")
      val r = events.filter(col("event_type") === "click")
        .groupBy("user_id", "ts_sec").agg(max("event_id").as("mark_id"))
      val out = DocumentStore.asofJoinNearest(l, r, "user_id", "ts_sec", Seq("mark_id"))
      require(out.filter(col("asof_dt") < 0).count() == 0L,
        "asof_dt must be an unsigned distance")
      out.count()
    }

    // DSIR scoring is two token-scale passes with an O(buckets)
    // broadcast between them — throughput-linear by construction; the
    // audit runs 1M docs and checks every doc scores exactly once.
    // fuzzy decontamination at 100k train docs vs a 1k bench set with
    // 500 planted paraphrases (every 26th of 80 words swapped → J ≈ 0.79,
    // invisible to the exact rule): the bench side banks bands+signatures
    // once and broadcasts. Banding is probabilistic BY CONTENT — at the
    // default 4 bands × 4 rows a J=0.79 pair collides with P ≈ 0.84, so
    // the smoke runs 8 bands × 2 rows (P_miss = (1−J²)⁸ ≈ 4·10⁻⁴; the
    // knob every banded-LSH deployment tunes to its target J). Expect
    // ≥ 498/500 leaks flagged and zero non-leak collisions.
    time("fuzzy_decontam_100k_vs_1k") {
      def text(seedSql: String, paraphrase: Boolean) = {
        val tok =
          if (paraphrase) "if(i % 26 = 6, concat('s', pmod(xxhash64(id, i), 50000))," +
            s" concat('b', pmod(xxhash64($seedSql, i), 50000)))"
          else s"concat('b', pmod(xxhash64($seedSql, i), 50000))"
        expr(s"array_join(transform(sequence(0, 79), i -> $tok), ' ')")
      }
      val bench = spark.range(1000L).select(col("id").as("doc_id"),
        text("id", paraphrase = false).as("text"))
      val train = spark.range(100000L).select((col("id") + 1000L).as("doc_id"),
        when(col("id") < 500L, text("pmod(id, 1000)", paraphrase = true))
          .otherwise(expr("array_join(transform(sequence(0, 79), i ->" +
            " concat('c', pmod(xxhash64(id + 7, i), 50000))), ' ')")).as("text"))
      val flagged = graft.ops.Dedup.contaminationFuzzy(
        train, col("doc_id"), col("text"), bench, col("doc_id"), col("text"),
        minMatches = 8, numHashes = 16, bands = 8)
      val leaks = flagged.filter(col("doc_id") < 1500L).select("doc_id").distinct().count()
      val noise = flagged.filter(col("doc_id") >= 1500L).count()
      graft.ops.Dedup.unpersistShared()
      require(leaks >= 498L, s"paraphrase recall collapsed: $leaks/500 flagged")
      require(noise == 0L, s"non-leak corpus must not be flagged, got $noise")
      println(s"[scale]   leaks flagged: $leaks/500, non-leak collisions: $noise")
    }

    // Holt at the two adversarial extremes: (a) ONE series spanning 100k
    // buckets — the per-series fold must be LINEAR (the array-append
    // spelling is quadratic: ~10^10 element copies here, minutes not
    // seconds); (b) 10k series × 1k buckets — series as the parallelism
    // unit. Level must track a pure linear ramp to within the dyadic
    // smoothing lag (trend converges to the true slope).
    time("holt_1_series_100k_buckets") {
      val ev = spark.range(100000L).select(
        lit("s0").as("series"), col("id").as("h"), (col("id") * 1000L).as("x"))
      val out = graft.ops.Analytics.holtFromBuckets(ev)
      val last = out.orderBy(col("h").desc).limit(1).collect()(0)
      require(out.count() == 100000L, "one row per bucket")
      // on a ramp of slope 1000 micro/bucket the trend converges to the
      // slope minus the ≤1-micro floor-truncation bias of the shifts
      require(last.getLong(4) >= 999L && last.getLong(4) <= 1000L,
        s"trend must converge to the ramp slope, got ${last.getLong(4)}")
    }
    time("holt_10k_series_1k_buckets") {
      val ev = spark.range(10000000L).select(
        concat(lit("s"), pmod(col("id"), lit(10000))).as("series"),
        (col("id") / 10000L).cast("long").as("h"),
        (col("id") % 97L * 1000L).as("x"))
      val n = graft.ops.Analytics.holtFromBuckets(ev).count()
      require(n == 10000000L, s"one row per (series, bucket), got $n")
    }

    // skip-gram pairs at 1M docs × 50 tokens over a 5k vocab: pair volume
    // is 4× token volume (±2 window), the groupBy lands at ≤ vocab² rows
    // — map-side combine must collapse the fan-out before the exchange
    time("skipgram_1m_docs") {
      val wide = spark.range(1000000L).select(
        col("id").as("doc_id"),
        concat_ws(" ", expr("transform(sequence(0, 49), i ->" +
          " concat('t', pmod(xxhash64(id, i), 5000)))")).as("text"))
      val out = graft.ops.TextAnalysis.skipgramPairs(wide, col("text"))
      val s = out.agg(count(lit(1)).as("n"), sum("n_pairs").as("tot")).head()
      // 50 tokens → 49+48 forward pairs × 2 orientations = 194 per doc
      require(s.getLong(1) == 194000000L,
        s"pair volume drifted: ${s.getLong(1)} (expect 194M)")
      println(s"[scale]   distinct pairs: ${s.getLong(0)} (≤ 25M vocab²)")
    }

    // chunking at 1M docs × ~200 tokens: output is the only cost
    // (window/stride ≈ 2× token volume); zero shuffles regardless of
    // corpus size, so throughput must track the scan, not the doc count
    time("chunk_overlap_1m_docs") {
      val wide = spark.range(1000000L).select(
        col("id").as("doc_id"),
        concat_ws(" ", expr("transform(sequence(0, 199), i ->" +
          " concat('t', pmod(xxhash64(id, i), 5000)))")).as("text"))
      val out = graft.ops.TextAnalysis.chunkOverlap(wide, col("doc_id"), col("text"))
      val stats = out.agg(count(lit(1)).as("n"), sum("chunk_tokens").as("tok")).head()
      // 200 tokens, window 64 / stride 32 → ceil(136/32)+1 = 6 chunks/doc
      require(stats.getLong(0) == 6000000L,
        s"chunk fan-out drifted: ${stats.getLong(0)} (expect 6M)")
    }

    // curriculum at 1M docs with a DEGENERATE length domain (every doc
    // one of 8 lengths — 125k docs share each length class): the
    // histogram window sees 8 rows; the per-length row_number windows
    // carry 125k-row partitions. The phase census must still be exact.
    time("curriculum_1m_docs_8_lengths") {
      val wide = spark.range(1000000L).select(
        col("id").as("doc_id"),
        concat_ws(" ", expr("transform(sequence(0, cast(pmod(id, 8) as int) + 4), i ->" +
          " concat('t', pmod(xxhash64(id, i), 500)))")).as("text"))
      val phases = graft.ops.TextAnalysis.curriculum(wide, col("doc_id"), col("text"))
        .groupBy("phase").count().orderBy("phase").collect()
      require(phases.length == 4 && phases.forall(_.getLong(1) == 250000L),
        s"phases must split 1M docs 250k each: ${phases.mkString(",")}")
    }

    time("dsir_weights_1m_docs") {
      val docs = spark.range(1000000L).select(
        col("id").as("doc_id"),
        concat_ws(" ", expr("transform(sequence(0, 19), i ->" +
          " concat('t', pmod(xxhash64(id, i), 5000)))")).as("text"),
        (pmod(col("id"), lit(4)) === 0).as("is_en"))
      val out = graft.ops.TextAnalysis.importanceWeights(
        docs, col("doc_id"), col("text"), col("is_en"))
      val n = out.count()
      graft.ops.Dedup.unpersistShared()
      require(n == 1000000L, s"every doc must score once, got $n")
    }

    // the prefix-filter exactness path under the SAME boilerplate skew
    // that motivates the capped join: 100k docs, 20% opening with one
    // universal 14-word header. The boilerplate shingles have df≈20k —
    // they sit at the very END of every doc's df-ascending order, so no
    // prefix ever exposes them as a block key and candidate volume is
    // bounded by genuine rare-shingle overlap, with NO cap and NO
    // missed pair by construction.
    time("prefix_jaccard_boilerplate") {
      val n = graft.ops.Dedup.prefixJaccardPairs(skewed, col("doc_id"),
        col("text"), 500, cache = false).count()
      println(s"[scale]   exact prefix-filtered pairs: $n")
    }

    // the prefix filter's COST contract on the corpus that used to hurt
    // it: low-similarity docs over a TINY vocabulary (40 tokens → ≤64k
    // distinct 3-shingles, so every prefix shingle collides across
    // thousands of docs) with skewed lengths (7 classes, ×2.1 apart). At
    // θ=500‰ the prefix alone admits ~half of each doc's shingles and
    // candidates trend O(n²); the round-11 length filter kills every
    // cross-class pair (adjacent classes are >2× apart) and the
    // positional filter prunes within-class matches past the first
    // third — candidates must stay ≪ the 200M doc pairs. The answer
    // itself stays exact (DataOpsSpec pins equality with the brute join).
    time("prefix_jaccard_skewed_lengths") {
      val nD = 20000L
      val lowsim = spark.range(nD).select(
        col("id").as("doc_id"),
        concat_ws(" ", expr(
          "transform(sequence(0, cast(round(6 * pow(2.1, pmod(id, 7))) as int) - 1)," +
            " i -> concat('w', pmod(xxhash64(id, i), 40)))")).as("text"))
      val sh = graft.ops.Dedup.shingles(lowsim, col("doc_id"), col("text"), None)
      val cand = graft.ops.Dedup.prefixCandidates(sh, 500, cache = false).count()
      graft.ops.Dedup.unpersistShared()
      val allPairs = nD * (nD - 1) / 2
      println(s"[scale]   pruned candidates: $cand of $allPairs doc pairs")
      // deterministic corpus → deterministic count: measured 3.87M of
      // 200M (1.93%); the bound carries 2x headroom and still fails on
      // any real prune loss (dropping the length filter alone readmits
      // the 6/7 cross-class pair volume)
      require(cand < allPairs / 25,
        s"length+positional filters lost their prune: $cand candidates " +
          s"(≥4% of $allPairs pairs) — the PPJoin cost contract regressed")
    }

    // fuzzy-prefix blocking recall under planted typos at 10^5 docs:
    // nDocs/2 pair groups, each an (even, odd) near-verbatim duplicate.
    // 90% of groups put the typo INSIDE the prefix but past the 3-word
    // block key — the in-block class the operator MUST catch (banded
    // levenshtein confirms, dist 1); 10% put the typo in the FIRST word —
    // the blocker's documented miss class (ER contract: recall is bounded
    // by the blocking key), asserted MISSED so a silent blocker change
    // shows up as a failed contract either way. A planted 1000-doc hot
    // block (identical prefixes) exercises the |block|² confirm path the
    // doc names as the AQE-skew-split hot spot.
    time("fuzzy_prefix_typos") {
      val groups = nDocs / 2
      val pairDocs = spark.range(2L * groups).select(col("id"),
        expr("""case
          when id % 2 = 0 then concat('blk', id DIV 2,
            ' alpha beta gamma delta epsilon zeta eta theta iota kappa tail', id DIV 2)
          when (id DIV 2) % 10 = 0 then concat('xlk', id DIV 2,
            ' alpha beta gamma delta epsilon zeta eta theta iota kappa tail', id DIV 2)
          else concat('blk', id DIV 2,
            ' alpha beta gamma delta epsilon zeta eta thetaX iota kappa tail', id DIV 2)
          end""").as("text"))
      val hot = spark.range(1000L).select((col("id") + 2L * groups).as("id"),
        concat(lit("hotblock alpha beta gamma delta epsilon zeta common tail"),
          pmod(col("id"), lit(3))).as("text"))
      val pairs = graft.ops.Dedup
        .fuzzyPrefixPairs(pairDocs.union(hot), col("id"), col("text"))
        .cache()
      try {
        val planted = pairs.filter(col("id1") % 2 === 0 &&
          col("id2") === col("id1") + 1 && col("id1") < 2L * groups)
        val caught = planted.filter(expr("(id1 DIV 2) % 10 != 0")).count()
        val leaked = planted.filter(expr("(id1 DIV 2) % 10 = 0")).count()
        val expect = groups - (groups + 9) / 10
        require(caught == expect,
          s"in-block typo recall must be total: caught $caught of $expect")
        require(leaked == 0L,
          s"first-word typos are the blocker's contract miss class, caught $leaked")
        val hotPairs = pairs.filter(col("id1") >= 2L * groups).count()
        require(hotPairs == 1000L * 999L / 2,
          s"hot block must confirm all its pairs, got $hotPairs")
      } finally pairs.unpersist()
    }

    // the distributed rank machinery at 10^7 rows: exactly SQL ntile —
    // bucket sizes differ by at most one, ranks are a permutation — with
    // no partition-less window anywhere (the wall-clock here is the range
    // exchange + one partitioned window pass; the old single-task ntile
    // serializes the full 10^7-row sort through one core).
    time("ranged_ntile_10m") {
      val rows = spark.range(10000000L).select(col("id"),
        pmod(xxhash64(col("id")), lit(1000000)).as("v"))
      val nt = graft.ops.Rank.rangedNtile(rows, 100,
        Seq(col("v"), col("id")), "bucket")
      val sizes = nt.groupBy("bucket").count().agg(
        min("count").as("lo"), max("count").as("hi"),
        sum("count").as("n"), countDistinct("bucket").as("k")).head()
      graft.ops.OpCache.unpersistAll()
      require(sizes.getLong(2) == 10000000L && sizes.getLong(3) == 100L &&
        sizes.getLong(1) - sizes.getLong(0) <= 1L,
        s"ntile bucket contract broken: $sizes")
    }

    // link prediction vs the hub hazard: a 100k-leaf star plus 10k
    // 4-cliques. Uncapped, the star alone wedges (10^5)²/2 ≈ 5·10^9
    // pairs; the default deg-256 cap drops the hub as a wedge center
    // BEFORE the self-join, so only the clique wedges (bounded) remain
    // — and every clique's two diagonal non-edges score.
    time("link_pred_hub") {
      val star = spark.range(100000L).select(lit(0L).as("src"),
        (col("id") * 10 + 1000000L).as("dst"))
      // per clique of nodes {4k+1..4k+4}: a 4-cycle plus one chord —
      // the (2,4)-diagonal shares two neighbors and must score
      val cliques = Seq((1, 2), (1, 3), (1, 4), (2, 3), (3, 4)).map {
        case (a, b) =>
          spark.range(10000L).select((col("id") * 4 + a).as("src"),
            (col("id") * 4 + b).as("dst"))
      }.reduce(_ union _)
      val preds = graft.ops.Graph.linkPrediction(star.union(cliques)).count()
      println(s"[scale]   predictions: $preds (hub contributes none)")
      require(preds == 10000L,
        s"exactly one diagonal per clique and nothing from the hub, got $preds")
    }

    // deterministic walks over the same hub shape: the hub's 100k-way
    // neighbor fan-out per step collapses in the map-side min(struct)
    // combine — the shuffle carries one row per walk, never the fan-out.
    time("walks_hub_graph") {
      val star = spark.range(100000L).select(lit(0L).as("src"),
        (col("id") + 1L).as("dst"))
      val walks = graft.ops.Graph.randomWalks(star, length = 4, walksPerNode = 1)
      val rows = walks.count()
      require(rows == (100000L + 1L) * 5L, s"every node walks 5 steps, got $rows")
    }

    // personalized PageRank stays source-local: one source on a 10⁶-node
    // path-of-cliques graph reaches only its 3-hop ball — state is
    // O(reached), never O(V).
    time("ppr_frontier_bound") {
      val chain = spark.range(1000000L).select(col("id").as("src"),
        (col("id") + 1L).as("dst"))
      val reached = graft.ops.Graph.personalizedPageRank(chain, Seq(500000L),
        iters = 3).count()
      println(s"[scale]   reached nodes: $reached of 10^6")
      require(reached <= 7L, s"3 rounds on a path reach <= 7 nodes, got $reached")
    }

    // gated capture at 10M data rows through 1k gates: the op's 100 TB
    // contract is that the control fold touches only control rows and
    // the data side rides a broadcast LEFT SEMI probe — so the interval
    // path must agree row-for-row with the direct range predicate the
    // intervals encode (an independent spelling: plain filter, no join),
    // and cost must track the scan. Ties are planted at both bracket
    // edges (data exactly at start and at stop) so the <=/< as-of rule
    // is exercised at volume, not just in the unit spec.
    time("gated_capture_10m") {
      val data = spark.range(10000000L).select(
        pmod(col("id"), lit(1000)).as("g"),
        pmod(col("id") * 7919L, lit(1000000)).as("ts_us"),
        col("id").as("event_id"))
      // per gate: open [g*500, 500000 + g*300) — staggered brackets so
      // every gate captures a different slice; plus one reopened bracket
      // [900000, ∞) for gates divisible by 10 (unclosed tail)
      val control = spark.range(1000L).select(col("id").as("g"))
        .select(col("g"), explode(array(
          struct((col("g") * 500L).as("ts_us"), lit("start").as("msg")),
          struct((lit(500000L) + col("g") * 300L).as("ts_us"), lit("stop").as("msg")),
          struct(lit(900000L).as("ts_us"),
            when(col("g") % 10L === 0L, lit("start")).otherwise(lit("halt")).as("msg"))
        )).as("c"))
        .select(col("g"), col("c.ts_us").as("ts_us"), col("c.msg").as("msg"))
      val gated = graft.streaming.GatedCapture.captureGated(
        control, data, col("g"), col("ts_us"), col("msg")).count()
      val direct = data.filter(
        (col("ts_us") >= col("g") * 500L &&
          col("ts_us") < lit(500000L) + col("g") * 300L) ||
          (col("g") % 10L === 0L && col("ts_us") >= 900000L)).count()
      println(s"[scale]   captured $gated of 10^7 (direct predicate: $direct)")
      require(gated == direct,
        s"interval path disagrees with the direct predicate: $gated != $direct")
    }

    // attribution under a power user: 10^7 events over 10^5 users PLUS
    // one user owning 0.1% of the stream (10^4 events). The credited-pair
    // join is output-bound — pairs per user = conversions × touches
    // inside the lookback — so the power user contributes a fat but
    // FINITE slice (his conversions × his windowed touches), and the
    // user_id equality join is AQE skew-splittable. The check: the pair
    // count equals an INDEPENDENT algorithm's answer — a per-user sorted
    // two-pointer sweep (no join, no window predicate re-spelling), so a
    // semantic bug in the operator's join/window logic actually fails it.
    time("attribution_power_user") {
      import spark.implicits._
      val W = 7L * 24 * 3600 * 1000000L
      val ev = spark.range(10000000L).select(
        col("id").as("event_id"),
        when(pmod(col("id"), lit(1000)) === 0L, lit(0L))
          .otherwise(pmod(hash(col("id")), lit(100000))).as("user_id"),
        (col("id") * 259200L).as("ts_us"), // 10^7 events over 30 days
        element_at(array(lit("click"), lit("view"), lit("purchase"),
          lit("signup"), lit("error")),
          (pmod(hash(col("id"), lit(2)), lit(5)) + 1).cast("int")).as("event_type"))
      val pairs = graft.ops.Analytics.attributionPairs(
        ev, W, Seq("click", "signup", "view"), "purchase")
      val n = pairs.count()
      val twoPointer = ev
        .select(col("user_id"), col("ts_us"),
          when(col("event_type") === "purchase", lit(1))
            .when(col("event_type").isin("click", "signup", "view"), lit(0))
            .as("kind"))
        .filter(col("kind").isNotNull)
        .as[(Long, Long, Int)]
        .groupByKey(_._1)
        .mapGroups { (_, it) =>
          val evs = it.toArray.sortBy(_._2)
          val touches = evs.collect { case (_, ts, 0) => ts }
          var lo = 0
          var hi = 0
          var total = 0L
          evs.foreach {
            case (_, cts, 1) =>
              while (hi < touches.length && touches(hi) < cts) hi += 1
              while (lo < hi && cts - touches(lo) > W) lo += 1
              total += hi - lo
            case _ =>
          }
          total
        }
        .reduce(_ + _)
      println(s"[scale]   credited pairs: $n (two-pointer sweep: $twoPointer)")
      require(n == twoPointer,
        s"attribution join disagrees with the sweep: $n != $twoPointer")
    }

    // char-level duplicated-substring spans at 100×: every 10th doc
    // carries the same 60-char boilerplate block, the rest are unique
    // hash soup. Positions explode to O(corpus chars) map-side; the only
    // wide exchange keys the 30-char gram. Span count must equal the
    // planted-block count exactly (one maximal island per planted block,
    // no spans from the unique strata). The corpus is built and
    // checkpointed before the timer starts, so the time is dupSpans'.
    def plantedDupSpans(name: String, n: Long, plantedWords: Int, otherWords: Int): Unit =
      if (only.forall(_.contains(name))) {
        val block = "all rights reserved contact legal department before redistribution"
        def soup(words: Int, salt: Int) = concat_ws(" ", transform(
          sequence(lit(salt), lit(salt + words - 1)),
          i => concat(lit("u"), abs(hash(col("id"), i)).cast("long"))))
        val docs = spark.range(n).select(
          col("id").as("doc_id"),
          when(pmod(col("id"), lit(10)) === 0L,
            concat(lit(block + " "), soup(plantedWords, 0)))
            .otherwise(soup(otherWords, 99))
            .as("text"))
          .localCheckpoint()
        val planted = docs.filter(pmod(col("doc_id"), lit(10)) === 0L).count()
        val chars = docs.agg(sum(length(col("text")))).head.getLong(0)
        timed(name) {
          val found = graft.ops.TextAnalysis.dupSpans(docs, col("doc_id"), col("text")).count()
          println(s"[scale]   spans: $found (planted blocks: $planted, corpus chars: $chars)")
          require(found == planted,
            s"span count must equal the planted-block count exactly: $found != $planted")
        }
      }
    plantedDupSpans("dup_spans_planted", nDocs, 20, 28)
    // one corpus size (~0.8 M chars), two document lengths: 1500 docs of
    // ~550 chars against 150 of ~5.5 k. Per-position substring made the
    // long shape cost O(L) more per char; the one-pass gram kernel keeps
    // both linear in corpus chars.
    plantedDupSpans("dup_spans_short_docs", 1500, 42, 48)
    plantedDupSpans("dup_spans_long_docs", 150, 474, 480)

    // textRank at 100×: per-doc graphs are independent components, so
    // every exchange is (doc_id, word)-keyed micro-groups; 3 rounds over
    // nDocs docs must stay O(corpus bigrams) per round.
    time("textrank_100x") {
      val docs = spark.range(nDocs).select(
        col("id").as("doc_id"),
        concat_ws(" ", (0 until 40).map(i =>
          concat(lit("w"), pmod(hash(col("id"), lit(i)), lit(50)))): _*).as("text"))
      val n = graft.ops.TextAnalysis.textRank(docs, col("doc_id"), col("text")).count()
      println(s"[scale]   keyword rows: $n")
      require(n == 3 * nDocs, s"3 keywords per doc expected: $n != ${3 * nDocs}")
    }

    // round 14: the AUC/ROC running-sum epilogue at 10M DISTINCT margins
    // — the range-partitioned prefix sum is the only corpus-shaped stage,
    // so wall must stay linear (a single-task window here would hang)
    time("auc_10m_margins") {
      val hist = spark.range(10000000L).select(
        col("id").as("margin"),
        (pmod(hash(col("id")), lit(3)) + 1).as("p"),
        (pmod(hash(col("id"), lit(1)), lit(3)) + 1).as("q"))
      val r = graft.ops.TextAnalysis.aucFromMarginCounts(hist).collect()(0)
      require(r.getAs[Long]("auc_micro") > 0L, "degenerate AUC")
    }

    // round 14: DTW pair fan-out at 256 series × 64 slots — 32640 pairs
    // × 4096-cell DPs, embarrassingly parallel; wall must stay flat
    time("dtw_256_series") {
      import spark.implicits._
      val vecs = spark.range(256).select(
          concat(lit("s"), col("id")).as("series"),
          expr("transform(sequence(0, 63), j -> hash(id, j) % 1000000)")
            .as("v"))
      val n = graft.ops.Analytics.dtwPairs(vecs).count()
      require(n == 256L * 255 / 2, s"pair count: $n")
    }

    // round 14: cell-restricted 1-NN label accuracy on the synthetic
    // embedding corpus — pair work must stay Σ|cell|², not n²
    time("knn_loo_cells") {
      val lab = embs.withColumn("label",
        pmod(hash(col("vec_id")), lit(10)).cast("int"))
      // kCells scales with the corpus (the IVF contract): 32 cells keep
      // per-cell pair work ~(n/32)² here, as a real deployment would
      val out = graft.ops.Similarity.knnLooCellAccuracy(lab, kCells = 32).collect()
      require(out.map(_.getAs[Long]("n")).sum > 0L, "no scored vectors")
    }

    spark.stop()
  }
}
