package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Near-duplicate detection: n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design (SURVEY.md §5): never all-pairs. Candidates come from
  * equality joins (shared shingle / LSH band bucket / simhash block), so
  * shuffle volume is O(candidate pairs) not O(n²); `id1 < id2` halves the
  * pair space; a doc-frequency cap drops degenerate hot shingles.
  */
object Dedup {

  /** Operator-internal caches land in the shared [[OpCache]] registry —
    * see its doc. [[unpersistShared]] is kept as the public release hook.
    */
  private def shareCache(df: DataFrame, enabled: Boolean): DataFrame =
    OpCache.share(df, enabled)

  /** Release every cache taken by graft operators in this JVM. Safe to
    * call mid-pipeline: Spark recomputes any plan that is still needed.
    */
  def unpersistShared(): Unit = OpCache.unpersistAll()

  /** Spread a small-file scan across all cores before compute-dense
    * per-row work (shingling, hashing, pair generation). A 5k-row parquet
    * file arrives as ONE partition; without this every md5 below runs on a
    * single thread. Guarded: a scan already at-or-above cluster parallelism
    * (the normal case on a real cluster, where maxPartitionBytes splits the
    * input) passes through untouched — no round-robin shuffle of the corpus
    * in front of every dedup/ANN op at scale.
    */
  private[graft] def spread(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    // Width is derived from the LOGICAL plan, never from `df.rdd`: under
    // AQE, materializing the RDD executes any upstream shuffle stages and
    // the result is then discarded when `repartition` replans — double
    // execution for a guard check.
    val plan = df.queryExecution.optimizedPlan
    val hasShuffle = plan.collectFirst {
      case _: Join => (); case _: Aggregate => (); case _: Window => ()
      case _: Sort => (); case _: RepartitionByExpression => ()
      case r: Repartition if r.shuffle => () // coalesce stays narrow
    }.isDefined
    if (hasShuffle) df // already `spark.sql.shuffle.partitions` wide
    else {
      // Narrow plan over a scan: estimate how many input splits the scan
      // yields (plan-stats bytes / maxPartitionBytes) and only widen when
      // that is below cluster parallelism — the small-file case. A real
      // cluster scan (TBs, maxPartitionBytes splits) passes through.
      val maxPart = math.max(1L, spark.sessionState.conf.filesMaxPartitionBytes)
      val estParts = (plan.stats.sizeInBytes + maxPart - 1) / maxPart
      if (estParts < target) df.repartition(target) else df
    }
  }

  /** Distinct word-3-gram shingles per document: (doc_id, shingle).
    * `maxDocFreq` drops shingles appearing in more than that many docs —
    * stopword-shingle removal, the standard guard against hot-key blowup
    * (a shingle in 1M docs would otherwise create 10^12 candidate pairs).
    */
  def shingles(df: DataFrame, idCol: Column, textCol: Column,
               maxDocFreq: Option[Int] = None): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val words = TextAnalysis.tokens(textCol)
    val sh = spread(df)
      .select(idCol.as("doc_id"), words.as("words"))
      .filter(size(col("words")) >= 3)
      .select(col("doc_id"), explode(expr("graft_shingles(words, 3)")).as("shingle"))
    maxDocFreq match {
      case None => sh
      case Some(k) =>
        // No broadcast hint: hot shingles are few on healthy corpora but
        // the aggregate is unbounded on pathological ones — AQE broadcasts
        // the anti-join build side when it is actually small and falls
        // back to a shuffle join when it isn't.
        val hot = sh.groupBy("shingle").agg(count(lit(1)).as("df")).filter(col("df") > k)
        sh.join(hot.select("shingle"), Seq("shingle"), "left_anti")
    }
  }

  /** n-gram Jaccard near-dup pairs. Candidates = docs sharing ≥1 shingle
    * (equality shuffle join on shingle), exact Jaccard from shared /
    * distinct counts, threshold filter.
    *
    * `maxDocFreq` is DEFAULT-ON: a single shingle present in 1M docs
    * otherwise creates ~5·10^11 candidate pairs in the self-join — the one
    * plan-shape that melts the shuffle at 100 TB. Jaccard is then computed
    * over the capped ("informative") shingle sets on both sides, so the
    * measure stays internally consistent. Pass None for the uncapped exact
    * form on corpora known to be boilerplate-free.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: Column, textCol: Column,
                        threshold: Double, maxDocFreq: Option[Int] = Some(500),
                        cache: Boolean = true): DataFrame = {
    // The self-join key is the 64-bit hash of the shingle, not the ~25-byte
    // string: the candidate join is the largest shuffle in the op and the
    // hash shrinks it ~3× (and compares/sorts faster). Two distinct
    // shingles of one doc pair colliding would off-by-one `shared` —
    // P ≈ pairs·shingles²/2^64, vanishing even at corpus scale.
    // `cache = false` turns off both internal persists for one-shot runs;
    // either way the handles are releasable via unpersistShared().
    val sh = shareCache(
      shingles(df, idCol, textCol, maxDocFreq)
        .select(col("doc_id"), xxhash64(col("shingle")).as("shingle")),
      cache)
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val cand = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("shared"))
    // O(near-dup pairs) rows — tiny next to the corpus. Caching lets the
    // downstream consumers (clustering, keep-canonical, reporting) and
    // repeated runs share one candidate-join execution: Spark's cache
    // manager keys on the logical plan, so an identical pairs subplan in
    // another query hits this entry instead of redoing the join.
    shareCache(
      cand
        .join(counts.withColumnRenamed("doc_id", "id1").withColumnRenamed("n", "n1"), "id1")
        .join(counts.withColumnRenamed("doc_id", "id2").withColumnRenamed("n", "n2"), "id2")
        .withColumn("jaccard", col("shared") / (col("n1") + col("n2") - col("shared")))
        .filter(col("jaccard") >= threshold)
        .select("id1", "id2", "shared", "n1", "n2", "jaccard"),
      cache)
  }

  /** Asymmetric containment pairs: detects when one document's shingle
    * set is (nearly) a SUBSET of another's — quotes, excerpt pages,
    * doc-in-doc mirrors — which symmetric Jaccard misses by construction
    * (a 100-word doc quoted inside a 10k-word doc has Jaccard ≈ 0.01 but
    * containment ≈ 1.0). Containment of the smaller side =
    * shared / min(n1, n2); candidates, hot-shingle cap, hashed join keys
    * and the cache policy are exactly [[ngramJaccardPairs]]'s — the same
    * O(shared-shingle pairs) equality-join shape, so every scale
    * guarantee there carries over verbatim.
    */
  def containmentPairs(df: DataFrame, idCol: Column, textCol: Column,
                       threshold: Double, maxDocFreq: Option[Int] = Some(500),
                       cache: Boolean = true): DataFrame = {
    val sh = shareCache(
      shingles(df, idCol, textCol, maxDocFreq)
        .select(col("doc_id"), xxhash64(col("shingle")).as("shingle")),
      cache)
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val cand = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("shared"))
    cand
      .join(counts.withColumnRenamed("doc_id", "id1").withColumnRenamed("n", "n1"), "id1")
      .join(counts.withColumnRenamed("doc_id", "id2").withColumnRenamed("n", "n2"), "id2")
      .withColumn("containment", col("shared") / least(col("n1"), col("n2")))
      .filter(col("containment") >= threshold)
      .select("id1", "id2", "shared", "n1", "n2", "containment")
  }

  /** EXACT Jaccard near-dup pairs by prefix filtering (the PPJoin family,
    * Xiao et al. 2008 / Chaudhuri et al. 2006) — the scale path that
    * keeps [[ngramJaccardPairs]]'s answer EXACT instead of approximating
    * it: the hot-shingle cap can MISS pairs whose overlap rides a capped
    * shingle and MinHash is probabilistic, but prefix filtering is a
    * guarantee. Order every doc's shingles by ascending global document
    * frequency (rarest first, shingle string tie-break); a doc with n
    * shingles exposes only its first `n − ceil(θ·n) + 1` as blocking
    * keys. Any pair with Jaccard ≥ θ shares ≥ 1 prefix shingle (two sets
    * that miss each other's prefixes already disagree on too many
    * elements), so the candidate set provably contains every qualifying
    * pair — and the keys are the RAREST shingles by construction, so
    * buckets are small without any cap: boilerplate lives at the END of
    * the df order and never blocks.
    *
    * Candidates are pruned by the two companion filters published with
    * the prefix filter (Xiao et al. 2008) BEFORE the verify join — both
    * integer-exact, both removing only pairs that provably cannot reach
    * θ, so the answer stays EXACT:
    *
    *  - LENGTH filter, in the join condition: J ≥ θ forces
    *    θ·n₁ ≤ 1000·n₂ and θ·n₂ ≤ 1000·n₁ (|A∩B| ≤ min, |A∪B| ≥ max), so
    *    length-mismatched pairs die inside the join, never reaching
    *    `distinct()`. On real corpora (long-tailed lengths) this alone
    *    kills most spurious candidates.
    *  - POSITIONAL filter, per matched prefix shingle: both docs list
    *    shingles in the SAME global (df, shingle) order, so the first
    *    shared shingle sits at the minimal matched position in BOTH docs
    *    and overlap ≤ 1 + min(n₁−rk₁, n₂−rk₂). Keep a match iff that
    *    upper bound reaches the required overlap
    *    α = ⌈θ·(n₁+n₂)/(1000+θ)⌉ — spelled integer as
    *    `(1 + min(n₁−rk₁, n₂−rk₂))·(1000+θ) ≥ θ·(n₁+n₂)`. A qualifying
    *    pair always survives through its FIRST shared prefix shingle
    *    (later matches may fail the bound; `distinct()` is an OR over
    *    matches, so that is safe).
    *
    * Verification joins each surviving pair against the two docs'
    * sorted shingle ARRAYS (doc-bounded payloads, codegen'd
    * `array_intersect`) — O(candidates · set size) work, the published
    * PPJoin verify cost — and keeps pairs by the INTEGER test
    * `1000·shared ≥ θ_permille·(n1+n2−shared)` before emitting the
    * one-division jaccard.
    *
    * θ comes in permille so the threshold test stays integer-exact.
    */
  def prefixJaccardPairs(df: DataFrame, idCol: Column, textCol: Column,
                         thresholdPermille: Int = 500,
                         cache: Boolean = true): DataFrame = {
    require(thresholdPermille >= 1 && thresholdPermille <= 1000)
    val sh = shareCache(shingles(df, idCol, textCol, None), cache)
    val cand = prefixCandidates(sh, thresholdPermille, cache)
    val sets = sh.groupBy("doc_id")
      .agg(sort_array(collect_list(col("shingle"))).as("set"),
        count(lit(1)).as("n"))
    cand
      .join(sets.select(col("doc_id").as("id1"), col("set").as("set1"),
        col("n").as("n1")), "id1")
      .join(sets.select(col("doc_id").as("id2"), col("set").as("set2"),
        col("n").as("n2")), "id2")
      .withColumn("shared",
        size(array_intersect(col("set1"), col("set2"))).cast("long"))
      .filter(col("shared") * 1000 >=
        lit(thresholdPermille) * (col("n1") + col("n2") - col("shared")))
      .withColumn("jaccard", col("shared") / (col("n1") + col("n2") - col("shared")))
      .select("id1", "id2", "shared", "n1", "n2", "jaccard")
  }

  /** The pruned candidate pairs `(id1, id2)` [[prefixJaccardPairs]]'s
    * verify step examines, from a pre-built (doc_id, shingle) table —
    * factored out so the scale specs can pin the op's COST contract
    * (candidates ≪ n² on low-similarity corpora; the length + positional
    * filters' whole job) separately from its answer.
    */
  private[graft] def prefixCandidates(sh: DataFrame, thresholdPermille: Int,
                                      cache: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val ranked = sh.join(dfreq, "shingle")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("shingle"))))
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // cached: BOTH sides of the candidate self-join read the prefix
    // table — uncached, each side would re-run the df join + per-doc
    // rank window (the two most expensive stages here)
    val pre = shareCache(
      ranked.join(counts, "doc_id")
        .filter(col("rk") <=
          col("n") - expr(s"($thresholdPermille * n + 999) div 1000") + 1)
        .select(col("doc_id"), col("shingle"), col("rk"), col("n")),
      cache)
    val t = lit(thresholdPermille.toLong)
    pre.as("a").join(pre.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id") &&
          // length filter: θ·n₁ ≤ 1000·n₂ in both directions
          t * col("a.n") <= lit(1000L) * col("b.n") &&
          t * col("b.n") <= lit(1000L) * col("a.n") &&
          // positional filter: best-case overlap from this matched
          // position must reach the required α (see Scaladoc)
          (lit(1L) + least(col("a.n") - col("a.rk"), col("b.n") - col("b.rk"))) *
            lit(1000L + thresholdPermille) >= t * (col("a.n") + col("b.n")))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
  }

  /** Distinct word n-grams per document for arbitrary n: (doc_id, gram). */
  def ngramSet(df: DataFrame, idCol: Column, textCol: Column, n: Int): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val words = TextAnalysis.tokens(textCol)
    spread(df)
      .select(idCol.as("doc_id"), words.as("words"))
      .filter(size(col("words")) >= n)
      .select(col("doc_id"), explode(expr(s"graft_shingles(words, $n)")).as("gram"))
  }

  /** Benchmark decontamination — the guard every LLM data pipeline runs
    * before training: flag corpus documents sharing ANY word n-gram with
    * an evaluation/benchmark set (the standard rule uses n=13). Returns
    * (doc_id, n_hits) for contaminated documents; anti-join the result to
    * get the clean corpus.
    *
    * Scale shape: equality join on the gram — shuffle is O(matches), and
    * the benchmark side (eval sets are thousands of docs, the corpus is
    * billions) reduces to DISTINCT grams first; AQE broadcasts it when it
    * fits. Never an all-pairs comparison.
    */
  def contamination(df: DataFrame, idCol: Column, textCol: Column,
                    bench: DataFrame, benchIdCol: Column, benchTextCol: Column,
                    nGram: Int = 13): DataFrame = {
    // Join on the 64-bit gram hash: a 13-gram string is ~100 bytes and the
    // corpus gram table is the largest intermediate in the whole pipeline —
    // hashing cuts its shuffle ~10×. A collision would flag one extra doc
    // (P ≈ grams²/2^64); decontamination over-flagging is the safe side.
    val corpusGrams = ngramSet(df, idCol, textCol, nGram)
      .select(col("doc_id"), xxhash64(col("gram")).as("gram"))
    val benchGrams = ngramSet(bench, benchIdCol, benchTextCol, nGram)
      .select(xxhash64(col("gram")).as("gram")).distinct()
    corpusGrams.join(benchGrams, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))
  }

  /** [[contamination]] with a Bloom-filter prefilter — the 100 TB shape.
    *
    * The exact version shuffles EVERY corpus gram into the equality join
    * (~10¹² rows for a billion-doc corpus) even though almost none match.
    * Here the eval set's distinct gram hashes — small by definition:
    * benchmark suites are 10⁴–10⁶ docs — are folded into one portable
    * Bloom filter ([[graft.functions.BloomImpl]]; ~1.8 MB per million
    * grams at fpp 1e-3), shipped to every task as a literal, and corpus
    * grams are probed MAP-SIDE inside whole-stage codegen before any
    * exchange: only true matches plus the fpp-sliver of false positives
    * ever shuffle. The confirm join against the real gram set then
    * removes the false positives, so the output is byte-identical to
    * [[contamination]] — same oracle, ~1/fpp less shuffle volume.
    *
    * The filter is built by one driver-side scalar aggregate (same
    * pattern as Layout's min/max row): legitimate because the SMALL side
    * is aggregated — the corpus never touches the driver.
    */
  def contaminationBloom(df: DataFrame, idCol: Column, textCol: Column,
                         bench: DataFrame, benchIdCol: Column, benchTextCol: Column,
                         nGram: Int = 13, fpp: Double = 0.001): DataFrame = {
    import graft.functions.{BloomFunctions, BloomImpl}
    BloomFunctions.register(df.sparkSession)
    // cached (releasable via unpersistShared): read three times — the
    // sizing count, the filter build, and the confirm join
    val benchGrams = shareCache(
      ngramSet(bench, benchIdCol, benchTextCol, nGram)
        .select(xxhash64(col("gram")).as("gram")).distinct(),
      enabled = true)
    val n = math.max(benchGrams.count(), 1L)
    val bits = BloomImpl.optimalNumBits(n, fpp)
    val hashes = BloomImpl.optimalNumHashes(n, bits)
    val bloom = benchGrams
      .agg(expr(s"graft_bloom_agg(gram, $bits, $hashes)").as("f"))
      .head().getAs[Array[Byte]](0)
    val candidates = ngramSet(df, idCol, textCol, nGram)
      .select(col("doc_id"), xxhash64(col("gram")).as("gram"))
      .filter(call_function("graft_bloom_contains", lit(bloom), col("gram")))
    candidates.join(benchGrams, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))
  }

  /** FUZZY benchmark decontamination — [[contamination]]'s exact n-gram
    * rule misses paraphrased or lightly-edited eval leakage; this flags
    * training docs whose MinHash signature agrees with any benchmark doc
    * on ≥ `minMatches` of `numHashes` components (est. Jaccard ≥
    * minMatches/numHashes). Candidates come from the cross-frame LSH
    * band join ([[lshCandidatesAgainst]]) — never an all-pairs scan —
    * and the verdict is an INTEGER component count, engine-exact.
    *
    * Scale shape: the benchmark side (eval suites: 10⁴–10⁶ docs) banks
    * its bands and signatures once; the corpus pays one signature pass
    * and a band equality join shuffling O(corpus bands + collisions).
    * The bench signature join-back broadcasts. Returns (doc_id,
    * bench_id, n_match) for flagged pairs; anti-join on doc_id for the
    * clean corpus.
    */
  def contaminationFuzzy(df: DataFrame, idCol: Column, textCol: Column,
                         bench: DataFrame, benchIdCol: Column, benchTextCol: Column,
                         minMatches: Int = 8, numHashes: Int = 16,
                         bands: Int = 4): DataFrame = {
    require(minMatches >= 1 && minMatches <= numHashes)
    val benchBands = lshBands(bench, benchIdCol, benchTextCol, numHashes, bands)
    val cands = lshCandidatesAgainst(df, idCol, textCol, benchBands, numHashes, bands)
      .select(col("new_id").as("doc_id"), col("indexed_id").as("bench_id"))
    val sig1 = minhash(df, idCol, textCol, numHashes)
      .select(col("doc_id"), col("sig").as("sig1"))
    val sig2 = minhash(bench, benchIdCol, benchTextCol, numHashes)
      .select(col("doc_id").as("bench_id"), col("sig").as("sig2"))
    cands.join(sig1, "doc_id").join(broadcast(sig2), "bench_id")
      .select(col("doc_id"), col("bench_id"),
        expr("cast(size(filter(zip_with(sig1, sig2, (x, y) -> x = y), b -> b)) as bigint)")
          .as("n_match"))
      .filter(col("n_match") >= minMatches)
  }

  /** Distinct shingles per doc as one array row (input to MinHash). */
  def shingleArrays(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val words = TextAnalysis.tokens(textCol)
    spread(df).select(idCol.as("doc_id"), words.as("words"))
      .filter(size(col("words")) >= 3)
      .select(col("doc_id"), expr("graft_shingles(words, 3)").as("shingles"))
  }

  /** MinHash signatures: numHashes independent permutations simulated by
    * h_j = min(md5(j || '|' || shingle)) — md5 hex min is a lexicographic
    * min, identical across engines. One native pass per document
    * (graft.functions.MinHashSig): no 16× explode, no signature shuffle.
    * Returns (doc_id, sig: array<string>[numHashes]).
    */
  def minhash(df: DataFrame, idCol: Column, textCol: Column, numHashes: Int): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    shingleArrays(df, idCol, textCol)
      .select(col("doc_id"), expr(s"graft_minhash(shingles, $numHashes)").as("sig"))
  }

  /** LSH band table: (doc_id, band, bh) with band hash = md5 of the
    * band's minhashes joined in j order. Factored out of
    * [[lshCandidates]] so an indexed corpus can compute its bands ONCE,
    * persist them as an ordinary parquet table (strings — engine- and
    * job-portable like the HLL sketch tables), and let every ingest
    * increment join against them ([[lshCandidatesAgainst]]).
    */
  def lshBands(df: DataFrame, idCol: Column, textCol: Column,
               numHashes: Int = 16, bands: Int = 4): DataFrame = {
    val rowsPerBand = numHashes / bands
    minhash(df, idCol, textCol, numHashes)
      .select(col("doc_id"), explode(sequence(lit(0), lit(bands - 1))).as("band"), col("sig"))
      .select(col("doc_id"), col("band"),
        md5(concat_ws("|", expr(s"slice(sig, band * $rowsPerBand + 1, $rowsPerBand)"))).as("bh"))
  }

  /** [[lshBands]] with caller columns carried alongside the band rows —
    * the streaming twin needs the event-time column to survive to its
    * watermark, and a streaming input must not pass through [[spread]]'s
    * batch repartition, so this variant projects directly.
    */
  def lshBandsKeeping(df: DataFrame, idCol: Column, textCol: Column,
                      keep: Seq[String], numHashes: Int = 16,
                      bands: Int = 4): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val rowsPerBand = numHashes / bands
    val words = TextAnalysis.tokens(textCol)
    df.select(idCol.as("doc_id") +: keep.map(col) :+ words.as("words"): _*)
      .filter(size(col("words")) >= 3)
      .withColumn("sig", expr(s"graft_minhash(graft_shingles(words, 3), $numHashes)"))
      .select(col("doc_id") +: keep.map(col) :+
        explode(sequence(lit(0), lit(bands - 1))).as("band") :+ col("sig"): _*)
      .select(col("doc_id") +: keep.map(col) :+ col("band") :+
        md5(concat_ws("|", expr(s"slice(sig, band * $rowsPerBand + 1, $rowsPerBand)"))).as("bh"): _*)
  }

  /** LSH banding: docs colliding on any (band, hash) bucket are
    * candidates — a pure equality join, no pairwise scan.
    */
  def lshCandidates(df: DataFrame, idCol: Column, textCol: Column,
                    numHashes: Int = 16, bands: Int = 4): DataFrame = {
    val banded = lshBands(df, idCol, textCol, numHashes, bands)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
  }

  /** Incremental ingest dedup: near-dup candidates of a NEW batch against
    * an already-INDEXED corpus, via the corpus's persisted band table —
    * the production shape. Re-pairing the whole corpus per ingest is
    * O(corpus²) forever; here the corpus is touched only through its
    * (bucketable, incrementally-appendable) band table, and the join
    * shuffles O(new-batch bands + collisions): a 10⁶-doc increment
    * against a 10¹⁰-doc index is a broadcast of the increment's bands.
    * `indexedBands` must come from [[lshBands]] with the SAME numHashes/
    * bands parameters — band hashes are only comparable like-for-like.
    * Returns (new_id, indexed_id) candidate pairs.
    */
  def lshCandidatesAgainst(newDf: DataFrame, idCol: Column, textCol: Column,
                           indexedBands: DataFrame,
                           numHashes: Int = 16, bands: Int = 4): DataFrame = {
    lshBands(newDf, idCol, textCol, numHashes, bands).as("a")
      .join(indexedBands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("indexed_id"))
      .distinct()
  }

  /** LSH recall audit with PLANTED duplicates — the tuning methodology
    * for band/row parameters (how many real near-dups does this banding
    * actually catch at threshold θ?). A deterministic md5 sample of docs
    * is perturbed into twins (every `dropEvery`-th word removed — the
    * shifted-boilerplate perturbation), the twins probe the corpus band
    * index exactly like an ingest increment ([[lshCandidatesAgainst]] —
    * the production shape, so at 10¹⁰ docs the probe side stays
    * O(sample)), and each planted pair reports its EXACT shingle Jaccard
    * (permille, integer cross-multiplied threshold test — no float
    * compare) next to whether LSH surfaced it. Recall at θ = hits among
    * pairs with `above_threshold` = 1; pairs the perturbation pushed
    * below θ document the measurement's own frontier. Naive pair-recall
    * on a doc sample is quadratically blind (an independent p-sample
    * keeps only p² of the true pairs); planting sidesteps that — it is
    * the published LSH-evaluation practice.
    */
  def lshPlantedRecall(df: DataFrame, idCol: Column, textCol: Column,
                       samplePermille: Int = 100, dropEvery: Int = 10,
                       thresholdPermille: Int = 500,
                       numHashes: Int = 16, bands: Int = 4): DataFrame = {
    require(samplePermille > 0 && samplePermille <= 1000)
    require(dropEvery >= 2)
    val base = df.select(idCol.as("doc_id"), textCol.as("text"))
    val sampled = base.filter(
      expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 13), 16, 10) as bigint)" +
        s" % 1000 < $samplePermille"))
    // twin = the doc with every dropEvery-th word (1-based) removed,
    // rebuilt over the SAME normalization the shingler applies
    val twins = sampled.select(col("doc_id"),
      array_join(filter(TextAnalysis.tokens(col("text")),
        (_, i) => (i + 1) % dropEvery =!= 0), " ").as("text"))
    val corpusBands = lshBands(base, col("doc_id"), col("text"), numHashes, bands)
    // twin ids are the two's-complement mirror -doc_id - 1: a bijection
    // from the non-negative id space onto the negatives, so a twin can
    // never collide with a real doc_id at ANY corpus size (a fixed
    // additive offset collides as soon as ids reach it) — requires
    // non-negative corpus ids, which every graft table satisfies
    val cand = lshCandidatesAgainst(
      twins.select((-col("doc_id") - 1L).as("doc_id"), col("text")),
      col("doc_id"), col("text"), corpusBands, numHashes, bands)
    val hits = cand.filter(col("indexed_id") === -col("new_id") - 1L)
      .select((-col("new_id") - 1L).as("doc_id"), lit(1L).as("lsh_hit"))
    val shO = shingles(sampled, col("doc_id"), col("text"))
    val shT = shingles(twins, col("doc_id"), col("text"))
    val nO = shO.groupBy("doc_id").agg(count(lit(1)).as("n1"))
    val nT = shT.groupBy("doc_id").agg(count(lit(1)).as("n2"))
    val shared = shO.join(shT, Seq("doc_id", "shingle"))
      .groupBy("doc_id").agg(count(lit(1)).as("shared"))
    nO.join(nT, "doc_id")
      .join(shared, Seq("doc_id"), "left").na.fill(0L, Seq("shared"))
      .join(hits, Seq("doc_id"), "left").na.fill(0L, Seq("lsh_hit"))
      .select(col("doc_id"), col("n1"), col("n2"), col("shared"),
        expr("(1000L * shared) div (n1 + n2 - shared)").as("jaccard_permille"),
        when(col("shared") * 1000L >=
          lit(thresholdPermille.toLong) * (col("n1") + col("n2") - col("shared")),
          1L).otherwise(0L).as("above_threshold"),
        col("lsh_hit"))
      .orderBy(col("doc_id"))
  }

  /** MinHash Jaccard estimate for LSH candidate pairs: the fraction of
    * equal signature components. Join is on already-bucketed candidates —
    * the estimate itself is a 16-element compare, no shuffle beyond the
    * candidate join.
    */
  def minhashEstimate(df: DataFrame, idCol: Column, textCol: Column,
                      numHashes: Int = 16, bands: Int = 4): DataFrame = {
    val sigs = minhash(df, idCol, textCol, numHashes)
    lshCandidates(df, idCol, textCol, numHashes, bands)
      .join(sigs.select(col("doc_id").as("id1"), col("sig").as("sig1")), "id1")
      .join(sigs.select(col("doc_id").as("id2"), col("sig").as("sig2")), "id2")
      .select(col("id1"), col("id2"),
        (expr("size(filter(zip_with(sig1, sig2, (x, y) -> x = y), b -> b))") /
          lit(numHashes.toDouble)).as("est_jaccard"))
  }

  /** Per-document 60-bit SimHash via the native codegen'd expression
    * (graft.functions.SimHash60).
    */
  def simhash(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    df.select(idCol.as("doc_id"), TextAnalysis.tokens(textCol).as("toks"))
      .select(col("doc_id"), expr("graft_simhash60(toks)").as("simhash"))
  }

  /** SimHash near-dup pairs at scale: split the 60 bits into equal blocks;
    * any pair within hamming distance ≤ numBlocks-1 shares at least one
    * block (pigeonhole), so candidates come from an equality join on
    * (block index, block value) — never an all-pairs scan.
    *
    * `numBlocks = 0` (default) auto-derives the smallest divisor of 60
    * that exceeds `maxHamming` — the widest blocks that still guarantee
    * pigeonhole recall. Narrow blocks are a scale footgun: b blocks give
    * 60/b-bit values, i.e. only 2^(60/b) distinct keys per block, and the
    * candidate self-join degenerates toward n²/2^(60/b) as the corpus
    * grows — so widths below 15 bits are rejected outright. That bounds
    * `maxHamming` at 3 here; for higher-distance near-dup search use
    * MinHash LSH ([[lshCandidates]]), whose band/row tuning scales.
    *
    * `maxBucketDocs` drops any (block, value) bucket holding more docs —
    * the analogue of the shingle `maxDocFreq` cap. Degenerate corpora
    * concentrate mass in one bucket (every near-empty doc simhashes to
    * the same value), turning the bucket join into that bucket's n².
    * Docs dropped this way are hamming-0 IDENTICAL signatures — exact
    * dedup ([[TextAnalysis]] md5 groupBy) already catches true duplicates
    * among them, so the recall cost is confined to degenerate mass.
    */
  def simhashPairs(df: DataFrame, idCol: Column, textCol: Column,
                   maxHamming: Int, numBlocks: Int = 0,
                   maxBucketDocs: Option[Int] = Some(100000)): DataFrame = {
    val nb = if (numBlocks > 0) numBlocks
             else (1 to 60).find(b => 60 % b == 0 && b > maxHamming).get
    require(60 % nb == 0, "numBlocks must divide 60")
    require(nb > maxHamming,
      s"pigeonhole recall needs numBlocks > maxHamming ($nb <= $maxHamming)")
    val width = 60 / nb
    require(width >= 15,
      s"$nb blocks -> $width-bit block values (2^$width distinct keys): the " +
        "candidate join degenerates toward all-pairs at corpus scale. Keep " +
        "maxHamming <= 3 (numBlocks <= 4), or use MinHash LSH for larger distances.")
    val mask = (1L << width) - 1
    val sh = simhash(df, idCol, textCol)
    val blocks = sh.select(col("doc_id"), col("simhash"),
      explode(sequence(lit(0), lit(nb - 1))).as("blk"))
      .withColumn("blkval", expr(s"shiftright(simhash, cast(blk * $width as int)) & ${mask}L"))
    val capped = maxBucketDocs match {
      case None => blocks
      case Some(k) =>
        // AQE decides broadcast-vs-shuffle for the anti-join; hot buckets
        // are few on healthy corpora but unbounded on degenerate ones.
        val hot = blocks.groupBy("blk", "blkval")
          .agg(count(lit(1)).as("n")).filter(col("n") > k)
          .select("blk", "blkval")
        blocks.join(hot, Seq("blk", "blkval"), "left_anti")
    }
    capped.as("a").join(capped.as("b"),
        col("a.blk") === col("b.blk") && col("a.blkval") === col("b.blkval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming) // filter BEFORE distinct: shrink the shuffle
      .distinct()
  }

  /** Connected components over a near-dup pair graph → canonical cluster
    * id (min doc id) per clustered document. This is the step that turns
    * pairwise similarity into actual dedup decisions (keep one doc per
    * cluster). Iterative min-label propagation, the standard distributed
    * CC: each round is one join + partial-aggregated groupBy; rounds ≤
    * graph diameter (near-dup clusters are tiny, so a handful).
    * `localCheckpoint` truncates lineage each round — without it the plan
    * doubles per iteration. An edge list inside the driver budget
    * ([[OpCache.collectLongs]]) runs the same rounds on the driver
    * ([[LocalGraph.components]]). Either path fails rather than return
    * labels that have not converged within `maxIter` rounds.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame =
    OpCache.collectLongs(pairs.select(col("id1"), col("id2"))) match {
      case Right(ids) => LocalGraph.components(pairs.sparkSession, ids, maxIter)
      case Left(shared) => distributedComponents(shared, maxIter)
    }

  private def distributedComponents(pairs: DataFrame, maxIter: Int): DataFrame = {
    // Both sides of every per-round join are hash-partitioned on the join
    // key BEFORE their localCheckpoint: LogicalRDD preserves the physical
    // outputPartitioning, so each round's edges⋈labels and labels⋈pushed
    // joins plan with NO exchange — the only shuffle left per round is the
    // min-label groupBy. (At 100 TB the per-round exchanges, not the
    // label math, are the cost of distributed CC.)
    // numShufflePartitions, not defaultParallelism: the per-round groupBy
    // lands on shuffle.partitions-many partitions, and the follow-up join
    // is exchange-free only when labels' count matches it.
    val n = pairs.sparkSession.sessionState.conf.numShufflePartitions
    // symmetric expansion via explode, not a swapped-alias self-union —
    // see connectedComponentsStars for why the union form breaks the
    // optimizer's Union constraint rewriting on some inputs
    val edges = pairs.select(explode(array(
        struct(col("id1").as("a"), col("id2").as("b")),
        struct(col("id2").as("a"), col("id1").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .repartition(n, col("a"))
      .transform(OpCache.ckptPartitioned)
    var labels = OpCache.ckptPartitioned(
      edges.select(col("a").as("doc_id")).distinct()
        .withColumn("cluster_id", col("doc_id")))
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val pushed = edges
        .join(labels, edges("a") === labels("doc_id"))
        .groupBy(col("b").as("doc_id2"))
        .agg(min("cluster_id").as("pushed_id"))
      // carry a change flag through the propagation join so convergence
      // detection reads the (already materialized) checkpoint instead of
      // running its own join+shuffle per round
      val newLabel = least(col("cluster_id"), coalesce(col("pushed_id"), col("cluster_id")))
      val next = OpCache.ckptPartitioned(
        labels.join(pushed, labels("doc_id") === pushed("doc_id2"), "left")
          .select(col("doc_id"), newLabel.as("cluster_id"),
            (newLabel =!= col("cluster_id")).as("__changed")))
      // round 1 always changes labels on any non-trivial graph — skip the
      // convergence scan and spend it on the next propagation instead
      converged = iter > 0 && next.filter(col("__changed")).isEmpty
      labels = next.drop("__changed")
      iter += 1
    }
    require(converged, s"connected components did not converge within $maxIter rounds")
    labels
  }

  /** Connected components via alternating large-star / small-star rounds
    * (Kiveris et al. 2014, "Connected Components in MapReduce and Beyond"
    * — public algorithm). Same (doc_id, cluster_id) contract as
    * [[connectedComponents]], different scale profile:
    *
    *  - **Rounds ~ O(log² n), not O(diameter).** Min-label propagation
    *    moves a label one hop per round, so a path-shaped component of
    *    length d needs d rounds; star contraction halves tree heights
    *    every alternation. Use this variant when clusters can chain
    *    (transitive near-dup graphs), the min-label one when clusters are
    *    tiny cliques (typical near-dup output).
    *  - **Skew-tolerant by construction.** [[connectedComponents]] pins
    *    each vertex's full adjacency into one partition (repartition by
    *    source) to make its per-round joins exchange-free — optimal until
    *    one hub vertex owns 10⁸ edges and its partition straggles. Here
    *    every round is a plain shuffle join on the vertex id, left free
    *    for AQE's skew-join split (`spark.sql.adaptive` is on by
    *    default), and the per-vertex min is a partially-aggregated
    *    groupBy — a hub contributes one row per map partition, never a
    *    hot reducer. Star rounds also shrink hubs themselves: large-star
    *    rewires a hub's larger neighbors to its min neighbor, so the
    *    degenerate degree disperses within a couple of rounds.
    *
    * Each round materializes O(E) star edges via `localCheckpoint` (same
    * lineage-truncation rationale as the min-label loop) and converges
    * when the edge set is a fixpoint: every edge then points directly at
    * its component's min vertex. It fails rather than return labels
    * when that takes more than `maxIter` rounds.
    */
  def connectedComponentsStars(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    // Symmetric/vertex expansions use explode(array(...)), NOT a
    // self-unionByName with swapped aliases: a Project that renames a
    // relation's columns crosswise carries alias-equality constraints
    // referencing the base attributes, and Union's constraint rewriting
    // resolves constraints only against each child's own output —
    // "key not found" in UnionBase.rewriteConstraints on inputs whose
    // children propagate constraints (e.g. a union with a literal
    // column). One generate operator is also cheaper than a union.
    val verts = pairs
      .select(explode(array(col("id1"), col("id2"))).as("doc_id"))
      .distinct()

    def symmetric(e: DataFrame): DataFrame = e.select(explode(array(
        struct(col("u").as("u"), col("v").as("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))

    // large-star: every node links its STRICTLY LARGER neighbors to the
    // min of its closed neighborhood. Adjacency is both directions.
    def largeStar(e: DataFrame): DataFrame = {
      val adj = symmetric(e)
      val mins = adj.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      adj.filter(col("v") > col("u"))
        .join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }

    // small-star: orient each edge high→low, then every node links its
    // smaller neighbors (and itself) to the min of those neighbors.
    // Per-row emission of both (v → m) and (u → m) through one explode;
    // m < u always (m is the min of neighbors strictly below u), and the
    // filter drops the v = m self-loop.
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(
        greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val mins = oriented.groupBy("u").agg(min("v").as("m"))
      oriented.join(mins, "u")
        .select(explode(array(
          struct(col("v").as("a"), col("m").as("b")),
          struct(col("u").as("a"), col("m").as("b")))).as("e"))
        .select(col("e.a").as("u"), col("e.b").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    var edges = pairs.filter(col("id1") =!= col("id2"))
      .select(col("id1").as("u"), col("id2").as("v"))
      .distinct()
      .localCheckpoint()
    var iter = 0
    var converged = edges.isEmpty
    while (iter < maxIter && !converged) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      // fixpoint test on the materialized O(V)-row checkpoints: equal
      // counts + empty multiset difference ⇒ identical edge sets. Round 1
      // rewires any non-star input, so skip its two test jobs (same
      // rationale as the min-label loop's round-1 skip); a round-1-stable
      // input just converges one idempotent round later.
      converged = iter > 0 &&
        next.count() == edges.count() && next.exceptAll(edges).isEmpty
      edges = next
      iter += 1
    }
    require(converged, s"star connected components did not converge within $maxIter rounds")
    // converged edge set is (child → component-min) stars; roots appear
    // only on the right side and label themselves
    verts.join(edges.select(col("u").as("doc_id"), col("v").as("lbl")),
        Seq("doc_id"), "left")
      .groupBy("doc_id")
      .agg(min(coalesce(col("lbl"), col("doc_id"))).as("cluster_id"))
  }

  /** The actual dedup decision: keep one document per near-dup cluster
    * (the min-id representative), pass every unclustered document through.
    * One anti-join against the non-representative cluster members — the
    * output is the deduplicated corpus, ready to replace the input.
    */
  def keepCanonical(df: DataFrame, idCol: Column, pairs: DataFrame): DataFrame = {
    val dupes = connectedComponents(pairs)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("__dup_id"))
    df.join(dupes, idCol === col("__dup_id"), "left_anti")
  }

  /** Embedding cosine near-dup pairs, brute force within `id1 < id2`.
    * Doubles end-to-end with a deterministic per-pair fold; output rounded
    * to 6 dp (SURVEY.md §6). The scale path is Similarity.lshTopK —
    * this exact variant is the correctness baseline.
    */
  def embeddingCosinePairs(emb: DataFrame, threshold: Double): DataFrame = {
    graft.functions.VectorFunctions.register(emb.sparkSession)
    val e = spread(emb).select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("norm", expr("sqrt(graft_dot(v, v))"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
        expr("graft_dot(a.v, b.v)").as("dot"),
        (col("a.norm") * col("b.norm")).as("nn"))
      .withColumn("cosine", round(col("dot") / col("nn"), 6))
      .filter(col("cosine") >= threshold)
      .select("id1", "id2", "cosine")
  }

  /** Embedding cosine threshold-pairs at scale: sign-random-projection LSH
    * buckets generate candidates — a pair is a candidate iff it collides in
    * ANY of `tables` independent hash tables (OR-amplification for recall)
    * — then the exact codegen'd cosine post-filters at `threshold`.
    * Shuffle is O(bucket collisions), never `embeddingCosinePairs`'s n²
    * cross join (which stays as the documented exact baseline).
    *
    * Table t uses hyperplanes [t·planes, (t+1)·planes) of the same
    * deterministic md5 weight stream as Similarity.buckets, so results are
    * cluster-reproducible with no weights file. Candidate (id1, id2) pairs
    * are dedup'd BEFORE vectors join back for scoring: the wide columns
    * never ride through the bucket self-join.
    *
    * Tuning: `planes` sets bucket granularity (2^planes buckets/table) —
    * scale it with corpus size (≈ log2(n/target-bucket-size)); `tables`
    * buys recall (miss prob = (1 − p^planes)^tables, p = 1 − θ/π). The
    * defaults suit ~1M-vector corpora hunting cosine ≥ 0.9 near-dups;
    * small or low-threshold corpora want fewer planes / more tables (see
    * the shipped `dedup_embedding_cosine_lsh` query).
    */
  def embeddingCosinePairsBucketed(emb: DataFrame, threshold: Double,
                                   planes: Int = 8, tables: Int = 16): DataFrame = {
    graft.functions.VectorFunctions.register(emb.sparkSession)
    val e = Similarity.prep(emb)
    val w = Similarity.planeWeights(planes * tables, 64)
    def wLit(p: Int): String =
      w(p).map(x => s"cast($x as double)").mkString("array(", ",", ")")
    val tblBuckets = (0 until tables).map { t =>
      (0 until planes)
        .map(i => when(expr(s"graft_dot(v, ${wLit(t * planes + i)})") >= 0,
          lit(1L << i)).otherwise(lit(0L)))
        .reduce(_ + _)
    }
    val b = e.select(col("vec_id"),
      posexplode(array(tblBuckets: _*)).as(Seq("tbl", "bucket")))
    val cand = b.as("a").join(b.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("id1"), col("v").as("v1"), col("norm").as("n1")), "id1")
      .join(e.select(col("vec_id").as("id2"), col("v").as("v2"), col("norm").as("n2")), "id2")
      .withColumn("cosine", round(expr("graft_dot(v1, v2)") / (col("n1") * col("n2")), 6))
      .filter(col("cosine") >= threshold)
      .select("id1", "id2", "cosine")
  }

  /** Entity-resolution-style fuzzy dedup: BLOCKING KEY + edit-distance
    * confirm. Documents sharing a deterministic blocking key (their
    * opening `blockWords` words, normalized) pair up in an equality
    * join; survivors are pairs whose `prefixLen`-char prefixes are
    * within Levenshtein distance `maxDist` (codegen'd builtin — O(len²)
    * per candidate pair, never per corpus pair). The blocking key is
    * PART OF THE CONTRACT (standard ER practice — recall is bounded by
    * the blocker), which is what makes the operator exact, oracle-able,
    * and scale-shaped: the shuffle is the equality join on the key, a
    * hot block contributes |block|² candidates (the ER hot spot — an
    * equality key AQE can skew-split), and the quadratic confirm runs
    * only inside blocks. Catches the typo/near-verbatim duplicates that
    * token-set measures (Jaccard) miss because every shingle differs.
    */
  def fuzzyPrefixPairs(df: DataFrame, idCol: Column, textCol: Column,
                       maxDist: Int = 20, prefixLen: Int = 80,
                       blockWords: Int = 3): DataFrame = {
    val base = df.select(idCol.as("id"),
        substring(graft.ops.TextAnalysis.normalize(textCol), 1, prefixLen).as("pfx"))
      .withColumn("blk", expr(s"substring_index(pfx, ' ', $blockWords)"))
    // |len(a) − len(b)| is a Levenshtein lower bound — a free join-side
    // prune before any DP; the surviving pairs run the THRESHOLDED
    // levenshtein (banded O(maxDist·len) instead of the full len² table,
    // −1 past the band — same distances for every emitted pair).
    base.as("a").join(base.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id") &&
          abs(length(col("a.pfx")) - length(col("b.pfx"))) <= maxDist)
      .withColumn("dist", levenshtein(col("a.pfx"), col("b.pfx"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("a.id").as("id1"), col("b.id").as("id2"), col("dist"))
  }
}
