package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextKernels

/** Text-analysis operators for training-data pipelines: normalization,
  * language ID, quality scoring, token counting, fingerprinting, exact
  * dedup. All pure expressions (whole-stage codegen, no UDFs); one scan,
  * no shuffle except the dedup groupBy.
  *
  * Parity notes (SURVEY.md §6): md5 hex is identical across engines; no
  * transcendental functions (libm vs JDK differ by ulps) in any RANKING
  * or selection — scores are rational arithmetic only. Two metrics whose
  * textbook definition requires ln ([[classifierPsi]], [[zipfFit]])
  * round every ln-bearing term to integer micro immediately: measured
  * over 290k domain points, JDK Math.log and DuckDB ln differ on 64
  * inputs by exactly 1 ulp (~1e-16 relative), so a micro-rounded term
  * flips only within a ~1e-9 window around a rounding boundary — per-run
  * mismatch odds ~1e-8..1e-6, and a flip surfaces loudly as a hash
  * mismatch, never silently.
  */
object TextAnalysis {

  /** lower + collapse whitespace — shared normalization for all ops.
    * [[TextKernels.lower]] is Spark's `lower` without its ICU title-case
    * table, the first-use cost of every cold run.
    */
  def normalize(c: Column): Column = regexp_replace(TextKernels.lower(c), "\\s+", " ")

  def tokens(c: Column): Column = split(normalize(c), " ")

  /** Exact dedup: hash-groupBy on content fingerprint, keep the smallest
    * id. Map-side partial agg → shuffle carries one row per distinct hash.
    */
  def exactDedup(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    df.select(idCol.as("doc_id"), md5(normalize(textCol)).as("hash"))
      .groupBy("hash")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))

  /** Exact two-sample Kolmogorov–Smirnov drift between two strata of a
    * corpus (did source B's length distribution shift away from source
    * A's? — the distribution-drift gate a refreshed training corpus runs
    * before mixing). The KS statistic sup|F_a − F_b| is computed EXACTLY
    * in integers: per distinct value, stratum counts; running sums give
    * the un-normalized ECDFs; the supremum of |fa·nb − fb·na| is an
    * integer max, and the single division by na·nb happens once on the
    * one surviving row — no fp comparisons anywhere, so any engine
    * agrees on the argmax bit-for-bit. Scale shape: the per-value
    * groupBy shuffles O(distinct values) (value domains like lengths,
    * scores, bucketed metrics are bounded — documented contract); only
    * those grouped rows enter the single ordered window, never the
    * corpus. Ties are handled exactly: grouping first means the ECDF
    * steps AFTER all equal values, the textbook two-sample definition.
    */
  def ksDrift(df: DataFrame, stratum: Column, value: Column,
              a: String, b: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // grid_v = the common ECDF value grid (O(distinct values), the
    // bounded-domain contract above) — named like ksDriftMatrix's grid
    // so the plan audit recognizes the windows as grid-bounded
    val perX = df.select(value.cast("long").as("grid_v"), stratum.as("g"))
      .filter(col("g").isin(a, b) && col("grid_v").isNotNull)
      .groupBy(col("grid_v"))
      .agg(sum(when(col("g") === a, 1L).otherwise(0L)).as("ca"),
        sum(when(col("g") === b, 1L).otherwise(0L)).as("cb"))
    // lit(0) partition = same single partition over the bounded grid,
    // minus the per-execution WindowExec "No Partition Defined" warning
    val run = Window.partitionBy(lit(0)).orderBy(col("grid_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(lit(0)).orderBy(col("grid_v"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    perX
      .withColumn("fa", sum(col("ca")).over(run))
      .withColumn("fb", sum(col("cb")).over(run))
      .withColumn("na", sum(col("ca")).over(all))
      .withColumn("nb", sum(col("cb")).over(all))
      .withColumn("ks_num", abs(col("fa") * col("nb") - col("fb") * col("na")))
      .orderBy(col("ks_num").desc, col("grid_v"))
      .limit(1)
      .select(col("grid_v").as("x_at"), col("na"), col("nb"), col("ks_num"),
        (col("ks_num").cast("double") / (col("na") * col("nb")).cast("double")).as("ks"))
  }

  /** [[ksDrift]] generalized to EVERY stratum pair — the full drift
    * matrix a mixing-governance pass reads beside the 42y content-
    * overlap matrix: which sources' length (or any numeric) profiles
    * disagree, and by how much, in one statement. All cdfs evaluate on
    * one COMMON value grid (strata × distinct values, the strata side a
    * tiny broadcast — the whitelisted kmv-overlap shape), so every pair
    * compares directly: per (a, b) the KS statistic is the max over the
    * grid of the exact integer |F_a·n_b − F_b·n_a|, tie broken at the
    * smallest value. After the first groupBy the work is
    * O(strata² × distinct values) — corpus-size-free.
    */
  def ksDriftMatrix(df: DataFrame, stratum: Column, value: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(stratum.as("g"), value.cast("long").as("x"))
      .filter(col("g").isNotNull && col("x").isNotNull)
    val vals = base.select(col("x")).distinct()
    val gs = base.select(col("g")).distinct()
    val c = base.groupBy(col("g"), col("x")).agg(count(lit(1)).as("c"))
    val grid = vals.crossJoin(broadcast(gs))
      .join(c, Seq("g", "x"), "left_outer")
      .select(col("g"), col("x"), coalesce(col("c"), lit(0L)).as("c"))
    val f = grid
      .withColumn("fcum", sum(col("c")).over(Window.partitionBy(col("g"))
        .orderBy(col("x"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("g"))))
    val pairs = f.as("a").join(f.as("b"),
        col("a.x") === col("b.x") && col("a.g") < col("b.g"))
      .select(col("a.g").as("source_a"), col("b.g").as("source_b"),
        col("a.x").as("x"), col("a.n").as("na"), col("b.n").as("nb"),
        abs(col("a.fcum") * col("b.n") - col("b.fcum") * col("a.n")).as("ks_num"))
    pairs
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source_a"), col("source_b"))
          .orderBy(col("ks_num").desc, col("x"))))
      .filter(col("rk") === 1)
      .select(col("source_a"), col("source_b"), col("na"), col("nb"),
        col("x").as("x_at"), col("ks_num"),
        (col("ks_num").cast("double") / (col("na") * col("nb")).cast("double")).as("ks"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Cross-source content-overlap matrix — the governance view a 100 TB
    * curation run needs before mixing sources: how many distinct word-
    * 3-gram shingles each source pair shares (mirror sites, double-
    * scraped dumps, and shared boilerplate all surface here long before
    * whole documents collide). One distinct pass to (source, shingle),
    * then a self-join ON THE SHINGLE — shuffle is O(distinct shingles),
    * and a shingle present in k sources contributes k·(k−1)/2 pairs with
    * k bounded by the SOURCE count (not the corpus), so no shingle can
    * explode the join the way document-level pairing would.
    */
  def sourceOverlap(df: DataFrame, sourceCol: Column, textCol: Column,
                    cache: Boolean = true): DataFrame = {
    // both self-join sides read the distinct (source, shingle) table —
    // persisted so the corpus shingling + distinct shuffle run once
    val sh = OpCache.share(
      Dedup.shingles(df, sourceCol, textCol)
        .withColumnRenamed("doc_id", "source").distinct(),
      cache)
    sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("shared_shingles"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Marker-word language ID. Real deployments plug in per-language marker
    * lexicons; the scoring/argmax machinery is what matters here. Tie
    * break: alphabetically first language.
    */
  val Markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("table", "agg"),
    "en" -> Seq("the", "a"),
    "es" -> Seq("data", "row"),
    "fr" -> Seq("query", "order"),
    "zh" -> Seq("window", "merge"))

  def langId(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val toks = tokens(textCol)
    val scored = df.select(
      idCol.as("doc_id") +:
        Markers.map { case (lang, words) =>
          size(filter(toks, t => t.isin(words.map(lit): _*)))
            .cast("long").as(s"s_$lang")
        }: _*)
    // argmax with alphabetical tiebreak: first lang whose score >= all others
    val pred = Markers.map(_._1).foldRight(lit(Markers.last._1)) { case (lang, rest) =>
      val ge = Markers.map(_._1).filter(_ != lang)
        .map(o => col(s"s_$lang") >= col(s"s_$o"))
        .reduce(_ && _)
      when(ge, lit(lang)).otherwise(rest)
    }
    scored.withColumn("pred_lang", pred)
  }

  /** Quality score: composite of stopword ratio, length saturation and
    * word-length centering. Rational arithmetic only (oracle parity).
    */
  val Stopwords: Seq[String] = Seq("the", "a", "of")

  def qualityScore(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val toks = tokens(textCol)
    df.select(
        idCol.as("doc_id"),
        length(normalize(textCol)).cast("long").as("n_chars"),
        size(toks).cast("long").as("n_tokens"),
        size(filter(toks, t => t.isin(Stopwords.map(lit): _*))).cast("long").as("n_stop"))
      .withColumn("stop_ratio", col("n_stop") / col("n_tokens"))
      .withColumn("avg_wlen", (col("n_chars") - col("n_tokens") + 1) / col("n_tokens"))
      // NO rounding: this is per-row scalar math in fixed order, so the
      // raw doubles are bit-identical across engines — round(x, 6) would
      // re-introduce divergence at half boundaries (observed at sf0.1)
      .withColumn("score",
        lit(0.3) * col("stop_ratio")
          + lit(0.5) * least(col("n_tokens") / lit(100.0), lit(1.0))
          + lit(0.2) * (lit(1.0) - abs(col("avg_wlen") - 5) / 10))
  }

  /** Token counting: whitespace tokens, alpha runs (BPE-ish regex), and a
    * chars/4 BPE estimate.
    */
  def tokenCount(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    df.select(
      idCol.as("doc_id"),
      size(tokens(textCol)).cast("long").as("n_ws_tokens"),
      size(regexp_extract_all(normalize(textCol), lit("[a-z]+"), lit(0))).cast("long").as("n_alpha_runs"),
      ceil(length(textCol) / lit(4.0)).cast("long").as("n_bpe_est"))

  /** PII / noise scrubbing: replace pattern matches with a redaction
    * marker — the pre-training cleanup pass (emails, phone numbers, ids).
    * Pure regexp_replace: codegen'd, one scan, no shuffle.
    */
  def scrub(df: DataFrame, idCol: Column, textCol: Column,
            patterns: Seq[(String, String)]): DataFrame = {
    val scrubbed = patterns.foldLeft(textCol) { case (c, (pat, repl)) =>
      regexp_replace(c, pat, repl)
    }
    df.select(idCol.as("doc_id"), scrubbed.as("scrubbed"))
  }

  /** Repetition signal (Gopher-style quality filter): fraction of
    * duplicated word n-grams within the document. High ratio → boilerplate
    * or degenerate repetition. Pure array expressions, one scan.
    */
  def repetitionScore(df: DataFrame, idCol: Column, textCol: Column, n: Int = 3): DataFrame = {
    // n_grams is pure arithmetic (size − n + 1) and n_distinct is the
    // native one-pass graft_shingles — value-identical to the
    // transform+array_distinct spelling, minus its interpreted lambdas
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(idCol.as("doc_id"), tokens(textCol).as("words"))
      .filter(size(col("words")) >= n)
      .select(col("doc_id"),
        (size(col("words")) - (n - 1)).cast("long").as("n_grams"),
        expr(s"cast(size(graft_shingles(words, $n)) as bigint)").as("n_distinct"))
      .withColumn("rep_ratio",
        (col("n_grams") - col("n_distinct")) / col("n_grams"))
  }

  /** C4-style line-level structural cleaning (Raffel et al. 2020 §2.2 —
    * the line rules behind the C4 corpus): a line survives iff it ends
    * in terminal punctuation (`.`/`!`/`?`/`"`), carries at least
    * `minWords` whitespace words, and contains no `{`, no "javascript",
    * and no "lorem ipsum" (case-insensitive) — the boilerplate/code
    * tells; a document survives iff at least `minLines` of its lines do,
    * and is re-emitted with the dropped lines removed IN ORIGINAL LINE
    * ORDER. Returns (doc_id, n_lines, n_kept, clean_text) for surviving
    * docs.
    *
    * Scale shape: one posexplode + one doc_id groupBy — every predicate
    * is a built-in string expression inside whole-stage codegen, the
    * reassembly a sort of each doc's own kept lines (array_sort on
    * (line_idx, line) structs: order restored per doc, no window, no
    * global sort). O(corpus lines) with map-side partial aggregation.
    */
  def cleanLines(df: DataFrame, idCol: Column, textCol: Column,
                 minWords: Int = 5, minLines: Int = 3): DataFrame =
    lineJudgments(df, idCol, textCol, minWords)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("line_idx"), col("line"))))),
          x => x.getField("line")), "\n").as("clean_text"))
      .filter(col("n_kept") >= minLines)
      .orderBy(col("doc_id"))

  /** Corpus-wide LINE deduplication (the CCNet/FineWeb pass: boilerplate
    * lines — nav bars, cookie banners, footers — repeat across millions
    * of pages; keep each distinct line's FIRST occurrence in corpus
    * (doc_id, line_idx) order, drop every later copy, re-emit documents
    * with survivors in original line order). Exact-match on the raw
    * line; compose upstream normalization if fuzzier identity is wanted.
    *
    * Scale shape: first-occurrence is ONE groupBy(line) with a
    * min(struct(doc_id, line_idx)) — map-side combinable, so a
    * billion-fold hot banner line partially aggregates before the
    * shuffle (a row_number-over-line window would sort every copy of
    * the hot key on one partition); then one equality join back and the
    * per-doc reassembly groupBy. O(corpus lines), two shuffles, no
    * windows.
    */
  def dedupLines(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val lines = docLines(df, idCol, textCol)
    keepFirstLineOccurrences(lines, lines.groupBy(col("line"))
      .agg(min(struct(col("doc_id"), col("line_idx"))).as("first")))
  }

  /** [[dedupLines]] for an INCREMENT against a persisted first-occurrence
    * line index ([[graft.streaming.Monitor.maintainLineIndex]] /
    * `readLineIndex` — columns (line, first_doc, first_idx)): a line the
    * corpus has already seen drops everywhere in the increment; a line
    * NEW to this increment keeps exactly its first intra-increment
    * occurrence (so re-running the same increment is idempotent against
    * the index it produced). The increment never re-pairs the corpus —
    * one join of its own distinct lines against the index.
    */
  def dedupLinesAgainst(df: DataFrame, idCol: Column, textCol: Column,
                        index: DataFrame): DataFrame = {
    val lines = docLines(df, idCol, textCol)
    val incFirsts = lines.groupBy(col("line"))
      .agg(min(struct(col("doc_id"), col("line_idx"))).as("inc_first"))
    val firsts = incFirsts.join(
        index.select(col("line"),
          struct(col("first_doc").as("doc_id"),
            col("first_idx").as("line_idx")).as("ix_first")),
        Seq("line"), "left")
      .select(col("line"),
        when(col("ix_first").isNotNull && col("ix_first") < col("inc_first"),
          col("ix_first")).otherwise(col("inc_first")).as("first"))
    keepFirstLineOccurrences(lines, firsts)
  }

  /** (doc_id, line_idx, line) rows of a document frame. */
  private[graft] def docLines(df: DataFrame, idCol: Column,
                              textCol: Column): DataFrame =
    df.select(idCol.as("doc_id"),
      posexplode(split(textCol, "\n")).as(Seq("line_idx", "line")))

  /** Shared tail of the line-dedup family: keep each line occurrence that
    * IS its line's first (per `firsts`: (line, first struct)), then the
    * per-doc ordered reassembly.
    */
  private def keepFirstLineOccurrences(lines: DataFrame,
                                       firsts: DataFrame): DataFrame =
    lines.join(firsts, Seq("line"))
      .withColumn("keep",
        col("doc_id") === col("first.doc_id") &&
          col("line_idx") === col("first.line_idx"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("line_idx"), col("line"))))),
          x => x.getField("line")), "\n").as("clean_text"))
      .orderBy(col("doc_id"))

  /** Per-line C4 keep/drop judgments — shared by [[cleanLines]] and the
    * [[qualityGate]] structural bit (which needs counts for ALL docs,
    * not just survivors).
    */
  private def lineJudgments(df: DataFrame, idCol: Column, textCol: Column,
                            minWords: Int): DataFrame =
    df.select(idCol.as("doc_id"),
        posexplode(split(textCol, "\n")).as(Seq("line_idx", "line")))
      .withColumn("keep",
        col("line").rlike("[.!?\"]\\s*$") &&
          size(split(trim(col("line")), "\\s+")) >= minWords &&
          !col("line").contains("{") &&
          !TextKernels.lower(col("line")).contains("javascript") &&
          !TextKernels.lower(col("line")).contains("lorem ipsum"))

  /** Composite quality gate — the keep/drop decision that ends a curation
    * pipeline, with an auditable reason bitmask per document (bit0 too
    * short, bit1 repetitive, bit2 stopword-poor, bit3 language-model
    * low, bit4 structurally-broken — fewer than `minCleanLines` lines
    * surviving the [[cleanLines]] C4 rules; off by default so corpora
    * without line structure gate exactly as before): at 100 TB you
    * don't just drop documents, you account for WHY
    * each left, per source, or the corpus mix silently skews. The length/
    * repetition/stopword signals compute in ONE scan (pure array
    * expressions, no joins); the LM signal joins [[lmScore]] on doc_id
    * (its own O(tokens) pipeline). Every flag is an INTEGER comparison
    * (permille cross-multiplication, no float thresholds), so the gate is
    * engine- and partitioning-exact.
    */
  def qualityGate(df: DataFrame, idCol: Column, textCol: Column,
                  minTokens: Long = 20L, maxRepPermille: Long = 200L,
                  minStopPermille: Long = 30L, minLmMicro: Long = 32000L,
                  cache: Boolean = true, minCleanLines: Long = 0L): DataFrame = {
    val n = 3
    graft.functions.GraftFunctions.register(df.sparkSession)
    // structural signal only when requested: every doc has ≥1 line, so
    // the counts cover the full corpus and the left join never invents
    // a failure for a doc the judgment scan missed
    val structBit =
      if (minCleanLines <= 0L) lit(0L)
      else when(coalesce(col("n_clean"), lit(0L)) < minCleanLines, 16L)
        .otherwise(0L)
    val cleanCounts =
      if (minCleanLines <= 0L) None
      else Some(lineJudgments(df, idCol, textCol, 5)
        .groupBy(col("doc_id"))
        .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("n_clean")))
    val base = df.select(idCol.as("doc_id"), tokens(textCol).as("words"))
      .select(col("doc_id"),
        size(col("words")).cast("long").as("n_tokens"),
        size(filter(col("words"), t => t.isin(Stopwords.map(lit): _*)))
          .cast("long").as("n_stop"),
        // arithmetic gram count + native distinct count (see
        // [[repetitionScore]]) — graft_shingles is empty below n tokens,
        // matching the CASE WHEN ... ELSE array() spelling
        greatest(size(col("words")) - (n - 1), lit(0)).cast("long").as("n_grams"),
        expr(s"cast(size(graft_shingles(words, $n)) as bigint)").as("n_distinct"))
    val joined = base.join(
      lmScore(df, idCol, textCol, cache).select("doc_id", "lm_micro"),
      Seq("doc_id"), "left")
    cleanCounts.fold(joined)(c => joined.join(c, Seq("doc_id"), "left"))
      .select(col("doc_id"),
        (when(col("n_tokens") < minTokens, 1L).otherwise(0L) +
          when((col("n_grams") - col("n_distinct")) * 1000L >
            lit(maxRepPermille) * col("n_grams"), 2L).otherwise(0L) +
          when(col("n_stop") * 1000L < lit(minStopPermille) * col("n_tokens"), 4L)
            .otherwise(0L) +
          when(coalesce(col("lm_micro"), lit(0L)) < minLmMicro, 8L).otherwise(0L) +
          structBit
          ).as("reasons"))
      .withColumn("keep", col("reasons") === 0L)
      .orderBy(col("doc_id"))
  }

  /** Per-source curation report — the "data card" a training run ships
    * with: how many documents and whitespace tokens each source
    * contributes, how many survive the [[qualityGate]], and each
    * source's integer-exact token share and keep rate in permille. This
    * is the accounting view the gate's per-doc reason bitmask rolls up
    * to: mixture decisions (and debugging a source that silently
    * collapses) start here. One groupBy(source) over the gate join —
    * output is |sources| rows, the total-token denominator is a single
    * broadcast scalar, and every ratio is integer `div` arithmetic
    * (engine-portable, no float thresholds).
    */
  def sourceReport(df: DataFrame, idCol: Column, sourceCol: Column,
                   textCol: Column): DataFrame = {
    val gate = qualityGate(df, idCol, textCol)
    val tok = df.select(idCol.as("doc_id"), sourceCol.as("source"),
      size(tokens(textCol)).cast("long").as("tok"))
    val agg = tok.join(gate.select("doc_id", "keep"), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok")).as("n_tokens"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("tok")).otherwise(0L)).as("kept_tokens"))
    val tot = agg.agg(sum(col("n_tokens")).as("tot_tokens"))
    agg.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_kept"), col("kept_tokens"),
        expr("n_tokens * 1000 div tot_tokens").as("token_share_permille"),
        expr("n_kept * 1000 div n_docs").as("kept_permille"))
      .orderBy(col("source"))
  }

  /** Percentile-based corpus pruning: drop length outliers per source
    * stratum. `percent_rank` is rank arithmetic (engine-portable, unlike
    * value interpolation) — one window per stratum, no second scan.
    */
  def pruneByLength(df: DataFrame, idCol: Column, strataCol: Column, lenCol: Column,
                    lo: Double, hi: Double): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("stratum")).orderBy(col("len"), col("doc_id"))
    df.select(idCol.as("doc_id"), strataCol.as("stratum"), lenCol.as("len"))
      .withColumn("pr", percent_rank().over(w))
      .filter(col("pr") >= lo && col("pr") <= hi)
  }

  /** Deterministic train/val/test split by content-independent hash of the
    * id — reproducible on any cluster, no shuffling, no state.
    */
  def assignSplit(df: DataFrame, idColName: String,
            trainSixteenths: Int = 13, valSixteenths: Int = 2): DataFrame = {
    val nibble =
      expr(s"instr('0123456789abcdef', substr(md5(cast(`$idColName` as string)), 1, 1)) - 1")
    df.withColumn("split",
      when(nibble < trainSixteenths, "train")
        .when(nibble < trainSixteenths + valSixteenths, "val")
        .otherwise("test"))
  }

  /** Deterministic source mixing — the "data mixture weights" step of
    * corpus curation: each stratum (source/domain/language) is
    * independently subsampled to its target fraction by keeping the docs
    * whose 52-bit md5 slice falls below the stratum's threshold. Pure
    * map-side filter: no shuffle, no count pass, no RNG state — the SAME
    * docs survive on any cluster size or engine, and nudging one
    * stratum's fraction upward strictly ADDS docs (nested samples: the
    * hash keeps lower-fraction samples subsets of higher-fraction ones —
    * mixture re-weighting never churns previously selected data).
    * Strata not named in `fractions` keep `default` (1.0 = pass through).
    */
  def mixSources(df: DataFrame, idColName: String, sourceCol: Column,
                 fractions: Map[String, Double], default: Double = 1.0): DataFrame = {
    val u = (expr(s"cast(conv(substr(md5(cast(`$idColName` as string)), 1, 13), 16, 10) as double)")
      + lit(0.5)) / lit(4503599627370496.0) // 2^52
    val frac = fractions.foldLeft(lit(default)) {
      case (acc, (s, f)) => when(sourceCol === s, lit(f)).otherwise(acc)
    }
    df.filter(u < frac)
  }

  /** Token-BUDGET source mixing at temperature ½ — the other half of the
    * mixture-weights step [[mixSources]] covers: instead of per-source
    * keep fractions, the caller gives one total token budget and each
    * source s receives `budget_s = totalBudget · √T_s / Σ_t √T_t` (T_s =
    * source token count). Square-root temperature is the standard
    * multilingual/multi-domain flattening: big sources are tapered, small
    * sources over-represented relative to raw share. Within a source,
    * docs are ranked by the same 52-bit md5 slice as [[weightedSample]]
    * (deterministic, engine-portable, nested under budget increases) and
    * kept while their START offset lies inside the budget — doc-granular
    * greedy fill, the same straddle rule as [[packSequences]].
    *
    * Determinism across engines: T_s and all cumsums are exact BIGINTs;
    * the only float op is `floor(sqrt(T_s))` — IEEE sqrt is
    * correctly-rounded by spec, so any engine computes the identical
    * integer weight, and the budget split `totalBudget·w_s div Σw` is
    * integer division (driver-side BigInt — no overflow at any scale).
    *
    * Scale shape: one tiny groupBy((source, bucket)) feeds BOTH the
    * per-source totals and the per-bucket exclusive prefix offsets to
    * the driver (|sources|·nBuckets rows — config-sized, not
    * data-sized), broadcast back; the per-doc cumsum is a WITHIN-BUCKET
    * window, so no source ever funnels through one partition (the
    * single-partition-per-source window a naive `partitionBy(source)`
    * would plan is exactly the skew this avoids).
    */
  def mixBudget(df: DataFrame, idColName: String, sourceCol: Column,
                tokenCol: Column, totalBudget: Long,
                nBuckets: Int = 0): DataFrame = {
    require(totalBudget > 0, "totalBudget must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val n = if (nBuckets > 0) nBuckets
            else spark.sessionState.conf.numShufflePartitions
    val u = (expr(s"cast(conv(substr(md5(cast(`$idColName` as string)), 1, 13), 16, 10) as double)")
      + lit(0.5)) / lit(4503599627370496.0) // 2^52
    val keyed = df
      .withColumn("__src", sourceCol)
      .withColumn("__u", u)
      .withColumn("__tok", tokenCol.cast("long"))
      .withColumn("__b", floor(col("__u") * n).cast("int"))
    val cells = keyed.groupBy("__src", "__b").agg(sum("__tok").as("__s"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .sortBy(c => (c._1, c._2))
    val totals = cells.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val weights = totals.map { case (s, t) =>
      s -> math.floor(math.sqrt(t.toDouble)).toLong
    }
    val wSum = weights.values.map(BigInt(_)).sum
    val budgets = weights.map { case (s, w) =>
      s -> (BigInt(totalBudget) * w / wSum).toLong
    }
    // exclusive prefix offset of each (source, bucket) cell within its source
    val offsets = cells.groupBy(_._1).toSeq.flatMap { case (s, cs) =>
      cs.sortBy(_._2).scanLeft((s, -1, 0L, 0L)) {
        case ((_, _, acc, prev), (_, b, t)) => (s, b, acc + prev, t)
      }.tail.map { case (src, b, off, t) => (src, b, off) }
    }
    val offDf = broadcast(offsets.toDF("__src", "__b", "__off"))
    val budDf = broadcast(budgets.toSeq.toDF("__src", "__budget"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__src", "__b").orderBy("__u", idColName)
    keyed.join(offDf, Seq("__src", "__b"))
      .join(budDf, Seq("__src"))
      .withColumn("__start", col("__off") + sum("__tok").over(w) - col("__tok"))
      .filter(col("__start") < col("__budget"))
      .withColumn("source", col("__src"))
      .withColumn("tok", col("__tok"))
      .withColumn("start_tok", col("__start"))
      .drop("__src", "__u", "__tok", "__b", "__off", "__budget", "__start")
  }

  /** Sequence packing — assign every document to a fixed-token-budget
    * training sequence: documents are laid out in a deterministic
    * hash-shuffled order (same 52-bit md5 slice as [[weightedSample]] —
    * no RNG, so the packing is identical on any cluster size or engine),
    * and a document joins sequence floor(start_offset / capacity), where
    * start_offset is the running token count of everything before it.
    * Integer arithmetic end-to-end.
    *
    * The running total is a DISTRIBUTED prefix sum, not a global window:
    * a single `Window.orderBy` would drag the whole corpus through one
    * partition. The ordering key u is uniform in [0,1) BY CONSTRUCTION,
    * so `floor(u·n)` gives n balanced, contiguous, DATA-DERIVED buckets —
    * no RangePartitioner (whose sampled bounds differ between jobs: the
    * sampler is seeded per RDD instantiation, so physical partition ids
    * must never carry semantics across actions). Each bucket's token sum
    * — one tiny row per bucket — comes to the driver, the exclusive
    * prefix offsets go back via a broadcast join, and the per-document
    * cumsum is a within-bucket window. Two scans plus one n-row
    * broadcast; identical output for ANY bucket count because the global
    * order (u, id) is total — n only sets parallelism.
    *
    * Output: the input columns plus `seq_id` (the training sequence) and
    * `seq_tokens` (this doc's token count). Sequences fill to at least
    * `capacity − maxDocTokens` before closing; a document straddling the
    * boundary joins the sequence its start offset falls in (doc-granular
    * greedy packing — the concat-then-chunk layout used for LLM
    * pretraining).
    */
  def packSequences(df: DataFrame, idColName: String, tokenCol: Column,
                    capacity: Long): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val spark = df.sparkSession
    val n = spark.sessionState.conf.numShufflePartitions
    val u = (expr(s"cast(conv(substr(md5(cast(`$idColName` as string)), 1, 13), 16, 10) as double)")
      + lit(0.5)) / lit(4503599627370496.0)
    val keyed = df
      .withColumn("__u", u)
      .withColumn("__tok", tokenCol.cast("long"))
      .withColumn("__b", floor(col("__u") * n).cast("int"))
    val bucketSums = keyed.groupBy("__b").agg(sum("__tok").as("__bsum"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = bucketSums.scanLeft(0 -> 0L) {
      case ((_, acc), (b, s)) => b -> (acc + s)
    }.init.zip(bucketSums).map { case ((_, off), (b, _)) => (b, off) }
    import spark.implicits._
    val offDf = offsets.toSeq.toDF("__b", "__off")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__b").orderBy("__u", idColName)
    keyed.join(broadcast(offDf), "__b")
      .withColumn("__start", col("__off") + sum("__tok").over(w) - col("__tok"))
      .withColumn("seq_id", floor(col("__start") / capacity))
      .withColumn("seq_tokens", col("__tok"))
      .drop("__u", "__tok", "__b", "__off", "__start")
  }

  /** Length-bucketed training batches (dynamic batching — the padding
    * killer between curriculum assignment and the collator): within
    * each `groupCol` stratum (a BOUNDED domain — source, shard,
    * language), sequences sort by (token length, id) and chop into
    * fixed-count batches of `batchSize`; each batch pads to its own
    * longest member, so sorting by length first drives the padding
    * overhead to near zero everywhere except length-regime boundaries.
    * Emits one audit row per batch — n_seqs, min/max/sum length, and
    * `pad_tokens` (what pad-to-longest wastes) — the number a training
    * job reads to price its collation before touching any text.
    * Deterministic: (length, id) is a total order, so batch membership
    * is reproducible across runs and engines. Scale shape: ONE window
    * pass keyed by the bounded group column (the same exchange every
    * per-group op pays — never a global sort) plus a map-side-combined
    * rollup; the trailing partial batch keeps n_seqs < batchSize rather
    * than inventing filler rows.
    */
  def lengthBatches(df: DataFrame, groupCol: Column, idCol: Column,
                    tokenCol: Column, batchSize: Int): DataFrame = {
    require(batchSize > 0, "batchSize must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("grp")).orderBy(col("__len"), col("__id"))
    df.select(groupCol.as("grp"), idCol.as("__id"),
        tokenCol.cast("long").as("__len"))
      .withColumn("__rn", row_number().over(w))
      .withColumn("batch_id", expr(s"cast((__rn - 1) div $batchSize as bigint)"))
      .groupBy(col("grp"), col("batch_id"))
      .agg(count(lit(1)).as("n_seqs"),
        min(col("__len")).as("min_len"),
        max(col("__len")).as("max_len"),
        sum(col("__len")).as("sum_len"))
      .withColumn("pad_tokens",
        col("max_len") * col("n_seqs") - col("sum_len"))
  }

  /** Training-delivery shard manifest: the packed sequences dealt
    * round-robin over `numShards` output shards (`seq_id % numShards` —
    * [[packSequences]] already hash-shuffled documents, so consecutive
    * sequences are content-independent and round-robin yields
    * token-balanced shards without a bin-packing pass), rolled up to one
    * row per shard: sequence/document counts, token total, and the
    * shard's sequence-id range. This is the writer's work order — the
    * physical write is `df.write.partitionBy("shard_id")` (or
    * Layout.partitioned) against the SAME assignment expression, and the
    * manifest is the audit row a training job checks before reading.
    * Scale shape: one numShards-key rollup after the pack's two scans;
    * partial aggregation collapses it map-side.
    */
  def shardManifest(df: DataFrame, idColName: String, tokenCol: Column,
                    capacity: Long, numShards: Int): DataFrame =
    shardRollup(packSequences(df, idColName, tokenCol, capacity), numShards)

  /** The manifest rollup over an already-packed table (seq_id,
    * seq_tokens — e.g. the shard directories as written by
    * `Layout.writeShards`, re-audited from disk).
    */
  def shardRollup(packed: DataFrame, numShards: Int): DataFrame = {
    require(numShards > 0, "numShards must be positive")
    packed
      .withColumn("shard_id", col("seq_id") % numShards)
      .groupBy("shard_id")
      .agg(countDistinct("seq_id").as("n_seqs"),
        count(lit(1)).as("n_docs"),
        sum("seq_tokens").as("tokens"),
        min("seq_id").as("seq_min"), max("seq_id").as("seq_max"))
      .orderBy("shard_id")
  }

  /** Sliding-window chunking — the retrieval/pretraining step between
    * cleaning and packing: each document becomes fixed-size windows of
    * `window` whitespace tokens advancing by `stride` (overlap =
    * window − stride keeps boundary-spanning context retrievable, the
    * standard RAG indexing layout). Chunk starts are `0, stride,
    * 2·stride, …` up to the last start that still begins inside the
    * document; the final window may run short (no padding — the
    * consumer pads or merges tails).
    *
    * Scale shape: one scan, no shuffle — tokenize, compute the start
    * list per row (`sequence`), explode, slice. Output size is the only
    * cost: ≈ window/stride × corpus tokens; chunk ids are derivable
    * (`doc_id`, `start`), so downstream joins never need a global
    * sequence. All integer arithmetic — both engines agree exactly.
    */
  def chunkOverlap(df: DataFrame, idCol: Column, textCol: Column,
                   window: Int = 64, stride: Int = 32): DataFrame = {
    require(window >= 1 && stride >= 1 && stride <= window,
      "need 1 <= stride <= window")
    df.select(idCol.as("doc_id"), tokens(textCol).as("__toks"))
      .withColumn("n_tok", size(col("__toks")).cast("long"))
      .withColumn("start", explode(sequence(
        lit(0L),
        greatest(ceil((col("n_tok") - window).cast("double") / stride),
          lit(0.0)).cast("long") * stride,
        lit(stride.toLong))))
      .select(
        col("doc_id"),
        (col("start") / stride).cast("long").as("chunk_id"),
        col("start"), col("n_tok"),
        least(lit(window.toLong), col("n_tok") - col("start")).as("chunk_tokens"),
        array_join(slice(col("__toks"), (col("start") + 1).cast("int"), lit(window)), " ")
          .as("chunk_text"))
  }

  /** Curriculum phase assignment — order the corpus easy→hard (here:
    * short→long, the classic length curriculum) and cut it into
    * `nPhases` equal-count stages, first phases taking the remainder —
    * exactly SQL `ntile(nPhases) OVER (ORDER BY n_tok, doc_id)`, but
    * computed WITHOUT a single-partition global window:
    *
    *   rank(doc) = (#docs with smaller n_tok)  — per-length counts +
    *               one cumsum over the O(distinct lengths) histogram —
    *             + (row_number among equal lengths, doc_id order),
    *   phase     = the closed-form ntile of that rank.
    *
    * Scale shape: the histogram window touches O(distinct lengths)
    * rows (lengths are a bounded domain — documented contract, same as
    * [[ksDrift]]); the only per-doc window partitions BY length, so its
    * shuffle is the corpus hashed on `n_tok`. If one length class
    * dominates at extreme scale, pre-salt that partition with the
    * [[packSequences]] bucket-offset machinery; the rank definition is
    * unchanged. Pure integer arithmetic — engine-exact.
    */
  def curriculum(df: DataFrame, idCol: Column, textCol: Column,
                 nPhases: Int = 4): DataFrame = {
    require(nPhases >= 1, "nPhases must be positive")
    import org.apache.spark.sql.expressions.Window
    val docs = df.select(idCol.as("doc_id"),
      size(tokens(textCol)).cast("long").as("n_tok"))
    val hist = docs.groupBy("n_tok").agg(count(lit(1)).as("__c"))
    // lit(0) partition over the bounded length histogram — same single
    // partition, no WindowExec "No Partition Defined" warning
    val run = Window.partitionBy(lit(0)).orderBy("n_tok")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(lit(0)).orderBy("n_tok")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets = hist
      .withColumn("__below", sum(col("__c")).over(run) - col("__c"))
      .withColumn("__total", sum(col("__c")).over(all))
      .select(col("n_tok"), col("__below"), col("__total"))
    val wInLen = Window.partitionBy("n_tok").orderBy("doc_id")
    val ranked = docs
      .withColumn("__r", row_number().over(wInLen).cast("long"))
      .join(offsets, Seq("n_tok"))
      .withColumn("__rank", col("__below") + col("__r"))
    // ntile closed form: base = N div k docs per phase, the first N mod k
    // phases hold one extra — identical to SQL ntile over the same total
    // order. All `div` (integer) — `/` on longs would be double division.
    // When k > N, base = 0 and every rank lands in the `cut` branch; the
    // greatest() keeps the dead branch free of a div-by-zero under ANSI.
    val base = expr(s"__total DIV $nPhases")
    val rem = col("__total") % nPhases
    val cut = rem * (base + 1) // docs living in the base+1-sized phases
    ranked
      .withColumn("__base", base)
      .withColumn("__cut", cut)
      .select(
        col("doc_id"), col("n_tok"),
        (when(col("__rank") <= col("__cut"),
            expr("(__rank - 1) DIV (__base + 1)"))
          .otherwise(rem +
            expr("(__rank - 1 - __cut) DIV greatest(__base, 1L)")) + 1)
          .cast("int").as("phase"))
  }

  /** Content fingerprint: md5 of normalized text + 8-hex prefix for
    * cheap prefix-bucketing.
    */
  def fingerprint(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    df.select(
      idCol.as("doc_id"),
      md5(normalize(textCol)).as("fp"),
      substring(md5(normalize(textCol)), 1, 8).as("fp_prefix"))

  /** Vocabulary growth curve (the Heaps'-law census — how fast does the
    * corpus stop teaching the tokenizer new words?): cumulative token
    * volume vs cumulative DISTINCT vocabulary at each doc-count decile
    * in corpus (doc_id) order. The flattening point is the data-driven
    * answer to "is more of this source still worth ingesting" and the
    * sanity check before fixing a vocab size. Exact and order-free:
    * a token's first appearance is min(doc_id) (associative), deciles
    * are ntile over the doc_id total order, and both curves are
    * running sums over the 10-row decile table.
    *
    * Scale shape: one token pass with two map-combined groupBys
    * (per-token min+count, per-doc count), a DISTRIBUTED ntile over the
    * O(docs) per-doc table ([[Rank.rangedNtile]] — range-partitioned
    * rank + broadcast offsets, exactly SQL `ntile(k) OVER (ORDER BY
    * doc_id)` rank-for-rank with no single-task window), and window
    * sums over 10 rows — the exact-dedup cost envelope.
    */
  def vocabGrowth(df: DataFrame, idCol: Column, textCol: Column,
                  buckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets >= 2 && buckets <= 1000)
    val toks = graft.ops.Dedup.spread(df)
      .select(idCol.as("doc_id"), explode(tokens(textCol)).as("tok"))
    val perTok = toks.groupBy(col("tok"))
      .agg(min(col("doc_id")).as("first_doc"), count(lit(1)).as("occ"))
    val perDoc = Rank.rangedNtile(
      toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_toks")),
      buckets, Seq(col("doc_id")), "decile")
    val docDecile = perDoc.select(col("doc_id"), col("decile"))
    val newVocab = perTok.join(docDecile,
        perTok("first_doc") === docDecile("doc_id"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("new_types"))
    val volume = perDoc.groupBy(col("decile"))
      .agg(sum(col("n_toks")).as("toks"), count(lit(1)).as("docs"))
    // lit(0) partition over the ≤buckets-row rollup — same single
    // partition, no WindowExec "No Partition Defined" warning
    val w = Window.partitionBy(lit(0)).orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    volume.join(newVocab, Seq("decile"), "left_outer")
      .select(col("decile"), col("docs"), col("toks"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .withColumn("cum_tokens", sum(col("toks")).over(w))
      .withColumn("cum_vocab", sum(col("new_types")).over(w))
      .select(col("decile").cast("long").as("decile"), col("docs"),
        col("cum_tokens"), col("new_types"), col("cum_vocab"))
      .orderBy("decile")
  }

  /** Feature hashing (the "hashing trick", Weinberger et al. 2009):
    * project each document's token bag into a fixed `dim`-dimensional
    * sparse vector with NO vocabulary pass — bucket = 52-bit md5 slice
    * mod dim, a second independent md5 nibble supplies the ±1 sign that
    * keeps collision noise zero-mean. The vectorizer that feeds linear
    * text models (the [[classifierTrain]] perceptron, DSIR-style
    * selectors) when handcrafted ratios aren't enough: unbounded
    * vocabulary in, fixed width out, no dictionary to ship or keep
    * consistent across increments.
    *
    * Emits sparse (doc_id, idx, val) triples — exact signed integer
    * counts, zero-sum buckets dropped. One token explode + one
    * map-side-combined groupBy; everything is md5 arithmetic both
    * engines share, so the oracle replays it exactly. At 100 TB the
    * shuffle carries ≤ min(tokens, docs·dim) rows — bounded per doc by
    * `dim` regardless of document length.
    */
  def featureHash(df: DataFrame, idCol: Column, textCol: Column,
                  dim: Int = 1024): DataFrame = {
    require(dim >= 2 && dim <= (1 << 20), s"dim in [2, 2^20], got $dim")
    graft.ops.Dedup.spread(df)
      .select(idCol.as("doc_id"), explode(tokens(textCol)).as("tok"))
      .select(col("doc_id"),
        (expr("cast(conv(substr(md5(tok), 1, 13), 16, 10) as bigint)") % dim)
          .as("idx"),
        expr("case when instr('01234567', substr(md5(tok), 14, 1)) > 0" +
          " then 1L else -1L end").as("sgn"))
      .groupBy(col("doc_id"), col("idx"))
      .agg(sum(col("sgn")).as("val"))
      .filter(col("val") =!= 0)
  }

  /** Hashed document embeddings — [[featureHash]] composed with a signed
    * random projection (the Achlioptas ±1 construction the 42at JL op
    * uses, seeded off md5 so both engines derive the same matrix): every
    * document becomes an `outDims`-dimensional INTEGER vector with no
    * model, no vocabulary, and no training pass. The poor-man's
    * semantic signature: token-overlapping documents land near each
    * other, so the vectors feed the ANN/near-dup stack (SRP-LSH, IVF
    * cells, cosine re-rank) as a bootstrap long before a learned
    * embedding model exists — and deterministically, so dedup verdicts
    * made with them replay.
    *
    * Scale shape: the sparse (doc, idx, val) triples expand ×`outDims`
    * through ONE map-side-combined groupBy — shuffle O(docs · outDims)
    * rows of integers; the projection matrix is derived per row from
    * md5(idx:j), never materialized or shipped.
    */
  def docEmbed(df: DataFrame, idCol: Column, textCol: Column,
               dim: Int = 1024, outDims: Int = 16): DataFrame = {
    require(outDims >= 2 && outDims <= 256, s"outDims in [2,256], got $outDims")
    featureHash(df, idCol, textCol, dim)
      .select(col("doc_id"), col("val"),
        explode(sequence(lit(0), lit(outDims - 1))).as("j"),
        col("idx"))
      .select(col("doc_id"), col("j"),
        (col("val") * expr("case when instr('01234567'," +
          " substr(md5(concat_ws(':', idx, j)), 1, 1)) > 0" +
          " then 1L else -1L end")).as("term"))
      .groupBy(col("doc_id"), col("j"))
      .agg(sum(col("term")).as("e"))
  }

  /** EXACT heavy hitters — every item occurring in at least `minFraction`
    * of the N item instances, with exact counts — without ever shuffling
    * the full item-frequency table.
    *
    * Two passes, both scale-safe:
    *   1. one Misra-Gries sketch pass ([[graft.functions.MgSketchAgg]]):
    *      O(k) memory per partial, candidates collected to the driver
    *      (≤ k strings). The MG bound — no item with count > N/(k+1) is
    *      ever dropped, merges included — plus the `require` below makes
    *      false negatives impossible.
    *   2. one exact counting pass restricted to the candidates via a
    *      broadcast semi-join: shuffle O(k) groups, not O(vocabulary).
    *
    * A plain groupBy-count at 100 TB shuffles one row per DISTINCT item
    * (web-scale token/URL vocabularies: billions); this shuffles k rows.
    * k trades driver memory for threshold headroom: the guarantee needs
    * minFraction > 1/(k+1).
    */
  def heavyHitters(df: DataFrame, itemCol: Column, minFraction: Double,
                   k: Int = 4096): DataFrame = {
    graft.functions.FreqFunctions.register(df.sparkSession)
    val items = df.select(itemCol.cast("string").as("item"))
      .filter(col("item").isNotNull)
    val row = items
      .agg(expr(s"graft_mg_sketch(item, $k)").as("cand"), count(lit(1)).as("n"))
      .head()
    val n = row.getLong(1)
    val minCount = math.max(1L, math.ceil(n * minFraction).toLong)
    require(minCount > n / (k + 1),
      s"k=$k cannot guarantee recall at minFraction=$minFraction over n=$n " +
        s"items (need minCount > n/(k+1) = ${n / (k + 1)}); raise k or the threshold")
    val spark = df.sparkSession
    import spark.implicits._
    val cands = row.getSeq[String](0).toDF("item")
    items.join(broadcast(cands), "item")
      .groupBy("item")
      .agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") >= minCount)
  }

  /** [[heavyHitters]] over a corpus's token stream: the vocabulary-scale
    * frequency profile every tokenizer/filtering decision starts from.
    */
  def heavyTokens(df: DataFrame, textCol: Column, minFraction: Double,
                  k: Int = 4096): DataFrame =
    heavyHitters(
      df.select(explode(tokens(textCol)).as("token")), col("token"),
      minFraction, k)
      .withColumnRenamed("item", "token")

  /** Deterministic stratified sampling: exactly `k` rows per stratum
    * (fewer if the stratum is smaller), chosen by the hash order
    * row_number over (md5-slice(id), id) — the per-source cap every
    * mixing recipe needs ("at most k docs from each source"). Like 42l
    * the randomness is hash-derived: the same corpus yields the same
    * sample on any cluster size, partitioning, or engine.
    *
    * Scale shape: Spark plans the rank-≤-k filter as WindowGroupLimit —
    * per-partition top-k heaps BEFORE the exchange, so the shuffle
    * carries ≤ k·partitions rows per stratum, not the stratum. One
    * exchange on the stratum key total.
    */
  def stratifiedSample(df: DataFrame, idColName: String, strataCol: Column,
                       k: Int): DataFrame = {
    // the hex digest IS the sort key: fixed-width lowercase hex compares
    // identically as a string in every engine (no numeric conversion)
    val u = expr(s"md5(cast(`$idColName` as string))")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCol).orderBy(u, col(idColName))
    df.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .withColumn("stratum", strataCol)
  }

  /** Deterministic weighted sampling without replacement (Efraimidis &
    * Spirakis 2006): item i draws u_i = uniform(0,1) from a 52-bit md5
    * slice of its id and scores u_i^(1/w_i); the global top-k by score is
    * exactly a weighted sample without replacement with p ∝ weight. The
    * corpus-curation subsampling primitive (weight = quality score,
    * length, cluster mass...).
    *
    * Scale/reproducibility shape: the "randomness" is hash-derived — no
    * RNG state, no seed plumbing — so the same corpus yields the SAME
    * sample on any cluster size, any partitioning, any engine (the md5
    * slice is plain SQL; see the corpus_weighted_sample oracle). The
    * top-k plans as TakeOrderedAndProject: per-partition heaps of k, one
    * k·partitions merge — never a global sort shuffle. Items with
    * non-positive weight are excluded (they have probability 0 anyway).
    *
    * Sizing note: TakeOrderedAndProject merges k rows per partition at a
    * single point, so this shape is for k up to ~10⁶. For giant samples
    * (k beyond driver-merge scale) run the same score column through an
    * approximate-quantile threshold (score ≥ q_{1−k/n}) plus an exact
    * top-k trim of the boundary — same determinism, no k-row merge.
    */
  /** Deterministic UNIFORM sample of exactly `k` rows: the bottom-k by
    * the 52-bit md5 rank of the id — the equal-weights degenerate of
    * [[weightedSample]], named because it is the primitive everything
    * quotes ("eyeball a sample", "pilot on 1%", "hold out a fixed
    * audit set"): the same corpus always yields the same sample, any
    * engine reproduces it, and bottom-k of a union is the bottom-k of
    * the parts' bottom-k's — so per-shard samples merge into the
    * corpus sample without a second pass (the qsketch merge law).
    * Cost: one TakeOrdered, O(k) rows to the driver side of the plan.
    */
  def uniformSample(df: DataFrame, idColName: String, k: Int): DataFrame =
    df.withColumn("__r",
        expr(s"conv(substr(md5(cast(`$idColName` as string)), 1, 13), 16, 10)")
          .cast("long"))
      .orderBy(col("__r"), col(idColName))
      .limit(k)
      .drop("__r")

  /** The Efraimidis–Spirakis priority u^(1/w) with u drawn from a 52-bit
    * md5 slice of the id (13 hex chars — the largest slice a double
    * holds exactly, so u agrees bit-for-bit across engines). ONE
    * definition: the batch sampler and the maintained sample log
    * ([[graft.streaming.Monitor.maintainSample]]) must score identically
    * or the stream's sample silently diverges from the batch recompute.
    *
    * Determinism boundary, stated precisely: the power runs through
    * libm `pow`, whose last ulp can differ across platforms (the 42bh
    * caveat — which is why the negative-sampling table spells ^(3/4) as
    * two sqrts). Within one platform the score is a pure function of
    * (id, weight) — any cluster size, any partitioning — and the
    * DuckDB oracle pins cross-engine agreement on this corpus. The
    * maintained log PERSISTS the scores it ranked by, so the log stays
    * self-consistent across platform migrations; only a from-scratch
    * recompute on a different platform could flip a 1-ulp near-tie at
    * the k-th place. An exact-integer spelling does not exist for
    * arbitrary real exponents 1/w — robust deployments should treat the
    * persisted score as the artifact, exactly as the log does.
    */
  def esScore(idColName: String, weightCol: Column): Column =
    pow((expr(s"cast(conv(substr(md5(cast(`$idColName` as string)), 1, 13), 16, 10) as double)")
      + lit(0.5)) / lit(4503599627370496.0), // 2^52
      lit(1.0) / weightCol.cast("double"))

  def weightedSample(df: DataFrame, idColName: String, weightCol: Column,
                     k: Int): DataFrame =
    df.filter(weightCol > 0)
      .withColumn("__es_score", esScore(idColName, weightCol))
      .orderBy(col("__es_score").desc, col(idColName))
      .limit(k)
      .drop("__es_score")

  /** C4-style duplicated-span removal: cut every document into fixed
    * `width`-word chunks, drop every chunk whose exact text occurs
    * earlier in the corpus (min (doc_id, pos) occurrence survives),
    * reassemble the survivors in order. This is the span-level complement
    * of document-level dedup — boilerplate shared across otherwise
    * distinct documents (headers, license blocks) dies here.
    *
    * Scale shape: the only shuffle is the window over md5(chunk) —
    * O(chunks) rows, each a fixed-width span, never a pair join. The
    * reassembly groupBy shuffles the SURVIVING chunks on doc_id. Both are
    * linear in corpus size. (Natural corpora would chunk on sentence or
    * paragraph boundaries; this corpus has no punctuation, so the chunker
    * uses fixed word windows — the hash/dedup/reassemble machinery is
    * identical either way.)
    */
  def paragraphDedup(df: DataFrame, idCol: Column, textCol: Column,
                     width: Int = 12): DataFrame = {
    val chunked = df.select(idCol.as("doc_id"), tokens(textCol).as("words"))
      .select(col("doc_id"),
        posexplode(expr(s"transform(sequence(0, cast(ceil(size(words)/$width.0) as int)-1)," +
          s" i -> concat_ws(' ', slice(words, i*$width+1, $width)))"))
          .as(Seq("pos", "chunk")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("chunk"))).orderBy(col("doc_id"), col("pos"))
    chunked.withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        // collect_list drops the NULLs the `when` leaves for dropped
        // chunks; struct sort orders by pos → in-document order restored
        array_join(
          transform(
            array_sort(collect_list(when(col("rn") === 1, struct(col("pos"), col("chunk"))))),
            x => x("chunk")), " ").as("new_text"))
      .orderBy(col("doc_id"))
  }

  /** Content-defined-chunking span dedup — the alignment-robust upgrade
    * of [[paragraphDedup]]. Fixed-width chunks (42q) miss a duplicated
    * paragraph the moment an insertion shifts it off the 12-word grid;
    * here chunk BOUNDARIES are chosen by content (the rsync/LBFS/
    * winnowing trick): a new chunk starts wherever the md5 of the local
    * word bigram ≡ 0 (mod `p`), so identical spans chunk identically at
    * ANY offset in any document. Expected chunk length is `p` words;
    * dedup/reassembly downstream is the same first-occurrence-wins
    * window as 42q.
    *
    * Scale shape: chunking is 100% map-side — boundary positions and
    * chunk splitting are per-row array expressions (no per-word explode,
    * no window over word positions), strictly better than the oracle's
    * formulation. The only shuffles are the O(chunks) first-occurrence
    * window on md5(chunk) and the O(surviving chunks) reassembly
    * groupBy — identical to 42q. The boundary hash is the engine-portable
    * 52-bit md5 slice (no RNG, no seed), so the same corpus chunks
    * identically on any cluster, partitioning, or engine.
    */
  def cdcSpanDedup(df: DataFrame, idCol: Column, textCol: Column,
                   p: Int = 8): DataFrame = {
    require(p >= 2, s"mean chunk length p must be >= 2, got $p")
    // bp = [0] ++ {i in 1..n-1 : h(words[i-1], words[i]) % p == 0} ++ [n]
    // (0-based chunk-start positions; words[] is 0-based in Spark SQL)
    val chunked = df.select(idCol.as("doc_id"), tokens(textCol).as("words"))
      .withColumn("bp", expr(
        "concat(array(0), " +
          "IF(size(words) < 2, array()," +
          " filter(transform(sequence(1, size(words)-1)," +
          "   i -> IF(cast(conv(substring(md5(concat(words[i-1], ' ', words[i])), 1, 13), 16, 10) as bigint)" +
          s"      % $p = 0, i, cast(null as int)))," +
          "  x -> x is not null)), array(size(words)))"))
      .select(col("doc_id"),
        posexplode(expr(
          "transform(sequence(0, size(bp)-2)," +
            " j -> concat_ws(' ', slice(words, bp[j]+1, bp[j+1]-bp[j])))"))
          .as(Seq("pos", "chunk")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("chunk"))).orderBy(col("doc_id"), col("pos"))
    chunked.withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("rn") === 1, struct(col("pos"), col("chunk"))))),
            x => x("chunk")), " ").as("new_text"))
      .orderBy(col("doc_id"))
  }

  /** Exact duplicated-substring spans, character-level (the substring-
    * dedup question of Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better": find every maximal span whose every
    * length-`k` substring occurs at least twice in the corpus). Seed =
    * a character k-gram starting position whose gram text appears at ≥ 2
    * positions corpus-wide (same or other doc); consecutive seed
    * positions merge into maximal spans (gaps-and-islands), so a span
    * [s, e] certifies every k-window inside it is duplicated — the
    * char-exact analogue of the word-grid (42q) and CDC (42aa) span ops,
    * catching duplicates those miss when boilerplate shifts by
    * sub-token offsets.
    *
    * Scale shape: positions explode to O(corpus chars) rows — linear,
    * map-side, never a pair join — and the only wide exchange is the
    * seed-count window keyed by the fixed-width k-char gram (unbounded
    * key domain, hash-distributed; map-side nothing to combine but each
    * group is tiny). The islands merge shuffles only the SEED rows on
    * doc_id. This is the exact baseline by design: char-exact substring
    * dedup is inherently Ω(corpus chars) without a distributed suffix
    * array (Lee et al. build theirs single-node); the in-tree sampled
    * scale paths for shifted boilerplate are 42aa's content-defined
    * chunks and the first-occurrence gram index (48al).
    */
  def dupSpans(df: DataFrame, idCol: Column, textCol: Column,
               k: Int = 30): DataFrame = {
    require(k >= 2)
    // every position's k-gram as a byte slice of one walk per document;
    // substring(text, p, k) per position would walk from byte 0: O(L²)
    val grams = df.select(idCol.as("doc_id"),
        posexplode(TextKernels.charGrams(textCol, k)).as(Seq("p0", "g")))
      .select(col("doc_id"), (col("p0") + 1L).as("p"), col("g"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p"))
    // duplicated-gram seeds via a grouped count + equi-join instead of a
    // count window: the window shuffled AND sorted every corpus char
    // position by its 30-char gram (the op's dominant stage — a corpus-
    // sized string sort); the groupBy ships the same bytes but only
    // hash-aggregates, and the surviving duplicate-gram keys (tiny on
    // real corpora) come back as a join AQE turns broadcast at runtime —
    // the seed rows never pay a gram-ordered sort (guide §2.4).
    val dup = grams.groupBy(col("g")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
      .select(col("g"))
    grams.join(dup, Seq("g"))
      .withColumn("isl", col("p") - row_number().over(byDoc))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("p")).as("span_start"),
        (max(col("p")) + lit(k - 1L)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_len"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): per document,
    * build the adjacent-word co-occurrence graph (undirected, weight =
    * co-occurrence count, self-pairs dropped), run `iters` rounds of
    * weighted PageRank, emit each document's top-`topK` words. The
    * graph-based complement of tf-idf keywords (42r): TextRank promotes
    * words CENTRAL to the document's own phrase structure rather than
    * words rare in the corpus, needing no corpus statistics at all.
    *
    * Arithmetic is the in-tree PageRank discipline (Graph.pageRank):
    * rank in fixed-point 1e6, per-round contribution
    * `pr·850·w div (1000·Σw(u))` — exact int64 (pr ≤ 1e6·V_doc, ×850·w
    * stays far under 2⁶³ for any real document), so the result is
    * engine-portable and the oracle unrolls the same rounds in CTEs.
    *
    * Scale shape: the per-document graphs are independent components
    * bounded by one document's vocabulary, so the iteration runs as a
    * per-doc typed fold — ONE exchange groups each doc's weighted edges
    * (O(corpus bigrams), map-side combined), then all `iters` rounds run
    * in-memory inside the group (the Holt/KM discipline: per-group state
    * is O(doc vocab), documents are the parallelism unit). The
    * corpus-wide join-per-round spelling (Graph.pageRank's, correct for
    * ONE global graph) would pay iters x (join + groupBy) exchanges and
    * per-round scheduler latency for graphs that individually fit in a
    * few KB — measured ~8x the CPU of the fold on the bench corpus. The
    * integer arithmetic is identical either way (long sums are
    * order-free), so the oracle's unrolled CTE rounds replay both
    * spellings bit-for-bit.
    */
  def textRank(df: DataFrame, idCol: Column, textCol: Column,
               iters: Int = 3, topK: Int = 3,
               dampPermille: Long = 850L): DataFrame = {
    require(iters >= 1 && topK >= 1 && dampPermille > 0 && dampPermille < 1000)
    val spark = df.sparkSession
    import spark.implicits._
    // the typed fold keys on a long doc id; a silent cast of a string id
    // would null every key and merge the corpus into ONE group
    val idType = df.select(idCol.as("doc_id")).schema.head.dataType
    require(Seq("long", "integer", "short", "byte").contains(idType.typeName),
      s"textRank needs an integral doc id column, got $idType")
    val scale = 1000000L
    val base = scale * (1000L - dampPermille) / 1000L
    val pairs = df.select(idCol.as("doc_id"), tokens(textCol).as("words"))
      .select(col("doc_id"), explode(expr(
        "filter(transform(sequence(1, size(words)-1)," +
          " i -> struct(words[i-1] as x, words[i] as y)), p -> p.x <> p.y)")).as("pr"))
      .select(col("doc_id"),
        least(col("pr.x"), col("pr.y")).as("x"),
        greatest(col("pr.x"), col("pr.y")).as("y"))
      .groupBy(col("doc_id"), col("x"), col("y"))
      .agg(count(lit(1)).as("w"))
    pairs.select(col("doc_id").cast("long"), col("x"), col("y"),
        col("w").cast("long"))
      .as[(Long, String, String, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (docId: Long, it: Iterator[(Long, String, String, Long)]) =>
        val ed = it.toArray.flatMap { case (_, x, y, w) =>
          Seq((x, y, w), (y, x, w)) // symmetric directed entries
        }
        val sw = scala.collection.mutable.HashMap.empty[String, Long]
        ed.foreach { case (a, _, w) => sw.update(a, sw.getOrElse(a, 0L) + w) }
        var pr: Map[String, Long] = sw.keysIterator.map(_ -> scale).toMap
        for (_ <- 1 to iters) {
          val next = scala.collection.mutable.HashMap.empty[String, Long]
          ed.foreach { case (a, b, w) =>
            next.update(b,
              next.getOrElse(b, 0L) + pr(a) * dampPermille * w / (1000L * sw(a)))
          }
          pr = next.iterator.map { case (n, c) => n -> (base + c) }.toMap
        }
        pr.toSeq.sortBy { case (n, p) => (-p, n) }.take(topK).zipWithIndex
          .iterator.map { case ((n, p), i) => (docId, i + 1L, n, p) }
      }
      .toDF("doc_id", "rank", "keyword", "pr_micro")
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Per-document top-k keywords by a tf-idf–shaped score. The idf is the
    * RATIONAL surrogate 1/df (ranking by tf/df, fixed-point ×10⁶ integer
    * division) — no log, so the score is exact integer arithmetic and
    * engine-portable; for keyword RANKING the monotone-in-tf,
    * anti-monotone-in-df shape is what matters, not the log's damping.
    *
    * Two shuffles, both O(distinct (doc, token) pairs): the tf groupBy
    * and the df join on token (map-side partial agg on both). The corpus
    * token count N never enters the score (constant factors don't change
    * per-document ranking) — no global count pass, no overflow at corpus
    * scale.
    *
    * The tf table feeds BOTH the per-doc side and the df rollup. Catalyst
    * prunes the two branches differently (the df side drops the count),
    * so exchange reuse can never fire and an uncached tf would scan the
    * corpus and pay the O(doc·token) shuffle twice — tf is persisted
    * (spillable, releasable via [[graft.ops.Dedup.unpersistShared]]),
    * exactly what a pipeline does with this intermediate at scale.
    */
  def tfidfTopK(df: DataFrame, idCol: Column, textCol: Column,
                k: Int = 3, cache: Boolean = true): DataFrame = {
    val tf = OpCache.share(
      df.select(idCol.as("doc_id"), explode(tokens(textCol)).as("token"))
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf")),
      cache)
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token"))
    tf.join(dfreq, "token")
      .withColumn("score", expr("tf * 1000000L div df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("token"), col("tf"), col("df"), col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Inverted index: token → (document frequency, bounded posting list) —
    * the retrieval-side primitive (keyword search, BM25 candidates,
    * contamination lookups) built corpus-side.
    *
    * Scale shape: distinct (doc, token) pairs materialize ONCE (cached —
    * the df rollup and the posting collection are differently-pruned
    * branches, same situation as [[tfidfTopK]]); tokens whose df exceeds
    * `maxDf` are dropped BEFORE any posting list is collected (the
    * stop-token analogue of the dedup family's hot-shingle cap — without
    * it a stopword's posting list is the whole corpus in one aggregation
    * buffer); surviving lists are sorted and truncated to `maxPostings`.
    * Shuffles: the pair dedup, the df rollup, the token join, the final
    * collect — all O(pairs), never O(corpus²).
    */
  def invertedIndex(df: DataFrame, idCol: Column, textCol: Column,
                    maxDf: Int = 1000, maxPostings: Int = 100,
                    cache: Boolean = true): DataFrame = {
    val pairs = OpCache.share(
      df.select(idCol.as("doc_id"),
        explode(array_distinct(tokens(textCol))).as("token")),
      cache)
    val keep = pairs.groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    pairs.join(keep, "token")
      .groupBy(col("token"), col("df"))
      .agg(slice(array_sort(collect_list(col("doc_id"))), 1, maxPostings)
        .as("postings"))
      .select(col("token"), col("df"), col("postings"))
      .orderBy(col("token"))
  }

  /** BM25 retrieval: score every document against a fixed term set with
    * the Okapi weighting — tf saturation `tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))`
    * and the rational idf surrogate `(N−df+0.5)/(df+0.5)` (the exp of the
    * textbook log-idf; per-term monotone, so single-term ranking is
    * identical and multi-term ranking weights rare terms more strongly —
    * and it keeps the score free of transcendentals).
    *
    * Engine parity: each term's contribution is IEEE-754 double
    * arithmetic with a fixed expression tree (bit-identical across
    * engines), rounded to integer MICRO-UNITS before the per-document
    * sum — so the only order-sensitive step (the sum) is exact integer
    * addition and the oracle reproduces scores exactly.
    *
    * Scale shape: tokens are filtered to the query terms AT THE SCAN
    * (isin pushes down; the explode output is O(term occurrences), not
    * O(corpus tokens)); corpus stats (N, avgdl) are one scalar aggregate
    * broadcast into the scoring join; df is a |terms|-row rollup. Global
    * top-k plans as TakeOrderedAndProject.
    */
  def bm25TopK(df: DataFrame, idCol: Column, textCol: Column,
               terms: Seq[String], k: Int = 20,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val toks = df.select(idCol.as("doc_id"), tokens(textCol).as("words"))
      .select(col("doc_id"), size(col("words")).cast("long").as("dl"),
        explode(col("words")).as("token"))
      .filter(col("token").isin(terms.map(lit): _*))
    val tf = toks.groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val stats = df.select(size(tokens(textCol)).cast("long").as("adl"))
      .agg(count(lit(1)).cast("double").as("n_docs"),
        (sum(col("adl")) / count(lit(1))).as("avgdl"))
    bm25Score(tf, stats, k, k1, b)
  }

  /** The Okapi scoring epilogue over a (doc_id, dl, token, tf) postings
    * table already restricted to the query terms plus the corpus stats
    * row — shared by [[bm25TopK]] (which builds postings from text) and
    * [[bm25TopKFromIndex]] (which reads the maintained index), so both
    * paths state the identical expression tree and score bit-for-bit
    * equally.
    */
  private def bm25Score(tf: DataFrame, stats: DataFrame, k: Int,
                        k1: Double, b: Double): DataFrame = {
    val dft = tf.groupBy(col("token")).agg(count(lit(1)).as("dft"))
    val idf = (col("n_docs") - col("dft") + lit(0.5)) / (col("dft") + lit(0.5))
    val sat = (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    tf.join(broadcast(dft), "token")
      .crossJoin(broadcast(stats))
      .withColumn("contrib_micro",
        round(idf * sat * lit(1000000.0)).cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib_micro")).as("score_micro"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(k)
  }

  /** Full-corpus tf postings — one (doc_id, dl, token, tf) row per
    * distinct token per document, the sufficient statistic BM25 scoring
    * needs (and the tf-carrying sibling of [[invertedIndex]]'s posting
    * lists). O(corpus tokens) rows total, built in one explode +
    * map-side-combined groupBy; this is the table the streaming ingest
    * loop maintains incrementally (`Monitor.maintainBm25Index`).
    */
  def bm25Postings(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    df.select(idCol.as("doc_id"), tokens(textCol).as("words"))
      .select(col("doc_id"), size(col("words")).cast("long").as("dl"),
        explode(col("words")).as("token"))
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))

  /** BM25 top-k off a maintained postings index instead of raw text:
    * scoring touches only the query terms' index rows (an equality
    * filter a partitioned/bucketed index turns into a pruned scan) plus
    * one pass for the corpus stats — the corpus text is never
    * re-tokenized. Corpus stats prefer the per-doc DOC-STATS rows the
    * maintained index logs (`token` NULL, one per ingested document —
    * `Monitor.maintainBm25Index`), which count zero-token and null-text
    * documents exactly as [[bm25TopK]]'s text path does, so index-served
    * scores are bit-equal unconditionally. An index WITHOUT stats rows
    * (a bulk [[bm25Postings]] build) contributes the same per-doc `dl`
    * through its posting rows — bit-equal PROVIDED unique doc ids and
    * non-null text, the precondition the stats rows exist to remove.
    * One LAZY plan: the per-doc table is a single `groupBy(doc_id)`
    * (dl is functionally dependent on doc_id in BOTH row kinds, so
    * `max(dl)` is exact whether stats rows are present, absent, or
    * mixed) — no eager `isEmpty` probe scanning the index per
    * invocation, no branch to mis-predict.
    */
  def bm25TopKFromIndex(index: DataFrame, terms: Seq[String], k: Int = 20,
                        k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val tf = index.filter(col("token").isin(terms.map(lit): _*))
      .select("doc_id", "dl", "token", "tf")
    val docs = index.select(col("doc_id"), col("dl"))
      .groupBy(col("doc_id")).agg(max(col("dl")).as("dl"))
    val stats = docs
      .agg(count(lit(1)).cast("double").as("n_docs"),
        (sum(col("dl")) / count(lit(1))).as("avgdl"))
    bm25Score(tf, stats, k, k1, b)
  }

  /** Hybrid retrieval by reciprocal-rank fusion (Cormack et al. 2009):
    * fuse the lexical BM25 shortlist ([[bm25TopK]]) with a dense
    * embedding shortlist (cosine vs one query vector — the
    * `Similarity.bruteTopK` contract) into one ranking. RRF is the
    * standard RAG/retrieval fusion because it needs only RANKS — no
    * score normalization across incomparable scales — and ranks are
    * integers, so the fused score `Σ 10⁹ div (60 + rank)` is EXACT
    * integer arithmetic any engine reproduces bit-for-bit (the
    * float-free twin of the usual `Σ 1/(60+rank)`; 10⁹ keeps distinct
    * ranks ≤ shortlist at distinct contributions). A doc missing from
    * one list contributes 0 from it (rank reported as 0 — never NULL, so
    * the result hashes stably).
    *
    * Scale shape: both inputs are ALREADY top-`shortlist` lists (each
    * plans as TakeOrderedAndProject on its own side); the fusion join
    * and final top-k touch ≤ 2·shortlist rows no matter the corpus size.
    * The corpus-scale work lives inside the two retrievers, which keep
    * their own scale contracts.
    */
  def rrfFusion(lexical: DataFrame, dense: DataFrame, k: Int = 20,
                rrfK: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the lexical input is already a ≤shortlist-row top-k (plans as
    // TakeOrderedAndProject); lit(0) spells the same bounded single
    // partition without the WindowExec "No Partition Defined" warning
    val lexRank = lexical
      .withColumn("lex_rank", row_number().over(
        Window.partitionBy(lit(0))
          .orderBy(col("score_micro").desc, col("doc_id"))).cast("int"))
      .select(col("doc_id"), col("lex_rank"))
    val denseRank = dense
      .select(col("neighbor_id").as("doc_id"), col("rank").cast("int").as("dense_rank"))
    lexRank.join(denseRank, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("lex_rank"), lit(0)).as("lex_rank"),
        coalesce(col("dense_rank"), lit(0)).as("dense_rank"))
      .withColumn("rrf_score",
        when(col("lex_rank") > 0,
          expr(s"1000000000L div (${rrfK}L + lex_rank)")).otherwise(lit(0L)) +
        when(col("dense_rank") > 0,
          expr(s"1000000000L div (${rrfK}L + dense_rank)")).otherwise(lit(0L)))
      .orderBy(col("rrf_score").desc, col("doc_id"))
      .limit(k)
  }

  /** Character-distribution Gini impurity per document — the log-free
    * twin of character entropy (`1 − Σ p_c²`): near 0 for repeated-char
    * junk ("aaaa…", padding, ascii art), high for natural prose — the
    * diversity axis the length/stopword quality signals can't see.
    * Exact rational arithmetic: `gini_micro = (n² − Σ n_c²)·10⁶ div n²`
    * over integer char counts — no log, no float, engine-exact. Long
    * headroom to ~3·10⁶ chars per doc (n²·10⁶ < 2⁶³), far beyond any
    * sane document after normalization.
    *
    * Scale shape: 100% map-side, and O(n log n) per doc: sort the char
    * array once, then ONE run-length fold accumulates Σ n_c²
    * incrementally (extending a run r→r+1 adds 2r+1) — no per-distinct
    * rescan (the O(alphabet × n) filter variant measured 2–4× the cost
    * of every other corpus query), no shuffle added to the scan.
    */
  def charGini(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(idCol.as("doc_id"), normalize(textCol).as("t"))
      // empty docs emit nothing (0-char Gini is undefined)
      .filter(length(col("t")) > 0)
      // Σ count(c)² in ONE codegen'd pass per document (no per-char
      // explode, no shuffle — the whole score is row-local; the earlier
      // split→sort→fold composition allocated a string per character and
      // was the bench's slowest query). length() counts code points on
      // both engines, matching the expression's histogram domain.
      // Overflow: (n² − ssq)·10⁶ needs n < ~1.7·10⁶ chars/doc — beyond
      // that, pre-chunk documents (corpus docs are capped far below).
      .select(col("doc_id"), length(col("t")).cast("long").as("n"),
        expr("graft_char_ssq(t)").as("ssq"))
      .withColumn("gini_micro", expr("(n * n - ssq) * 1000000L div (n * n)"))
  }

  /** Hashed-feature importance scoring for data selection (the DSIR
    * shape, Xie et al. 2023: score raw documents by how much their
    * feature distribution resembles a TARGET stratum, then keep the
    * high-scorers). Features are hashed token buckets (the same 52-bit
    * md5 slice every sampling op uses — engine-portable, no RNG); the
    * per-bucket evidence is the add-one-smoothed target/raw count ratio
    * in exact integer micro-units, and a document scores the SUM of its
    * tokens' bucket ratios (an additive surrogate for the product-of-
    * ratios likelihood — monotone per token, exact in integers, where
    * the log-likelihood original would hit cross-engine libm). Emits the
    * raw sum and the per-token mean (length-normalized, the selection
    * key).
    *
    * Scale shape: the bucket table is ≤ `buckets` rows — broadcast — so
    * scoring is a map-side join over one token pass; the only shuffles
    * are the bucket groupBy (map-side combined, O(buckets) out) and the
    * per-doc sum (O(docs) out). The token projection feeds both passes
    * through the shared cache (releasable via [[Dedup.unpersistShared]]).
    */
  def importanceWeights(df: DataFrame, idCol: Column, textCol: Column,
                        isTarget: Column, buckets: Int = 1024,
                        cache: Boolean = true): DataFrame = {
    require(buckets >= 2)
    val toks = OpCache.share(
      df.select(idCol.as("doc_id"), isTarget.as("is_target"),
          explode(tokens(textCol)).as("token"))
        .withColumn("b",
          expr(s"cast(conv(substr(md5(token), 1, 13), 16, 10) as bigint) % $buckets")),
      cache)
    val bc = toks.groupBy(col("b"))
      .agg(sum(when(col("is_target"), 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cr"))
    toks.join(broadcast(bc), "b")
      .withColumn("w", expr("(ct + 1) * 1000000 div (cr + 1)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("w")).as("imp_micro_sum"))
      .select(col("doc_id"), col("n_tokens"), col("imp_micro_sum"),
        expr("imp_micro_sum div n_tokens").as("imp_micro_mean"))
  }

  /** BPE merge candidates — the inner loop of byte-pair-encoding tokenizer
    * training (Sennrich et al. 2016): count every adjacent symbol pair
    * inside words, weighted by word frequency; the top pair is the next
    * merge. This is the round-1 candidate table over raw characters;
    * [[bpeTrain]] iterates it.
    *
    * Scale shape: the ONLY corpus-scale pass is the word-frequency
    * groupBy (O(tokens) with map-side partial agg — the same shuffle
    * every token-count op pays); pair extraction then runs over the
    * DISTINCT-WORD table (vocabulary-sized, orders of magnitude smaller
    * than the corpus — the reason every real BPE trainer counts words
    * first), and the pair vocabulary is bounded by alphabet², so the
    * final groupBy shuffles a config-sized table. Pure array/string
    * expressions, whole-stage codegen, no UDFs.
    */
  def bpePairCounts(df: DataFrame, textCol: Column, k: Int = 50): DataFrame =
    bpePairCountsFromVocab(
      df.select(explode(tokens(textCol)).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("cnt")),
      k)

  /** [[bpePairCounts]] from an existing (word, cnt) frequency table —
    * e.g. the streaming-maintained vocab log
    * ([[graft.streaming.Monitor.readWordCounts]]), so merge candidates
    * stay current without re-tokenizing the corpus.
    */
  def bpePairCountsFromVocab(wc: DataFrame, k: Int = 50): DataFrame =
    wc.filter(length(col("word")) >= 2)
      .select(col("cnt"), explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("cnt")).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("pair"))
      .limit(k)

  /** Iterative BPE training: `rounds` greedy merges, returning the merge
    * table (round, left symbol, right symbol, weighted count) — the
    * artifact a tokenizer ships. Each round counts adjacent symbol pairs
    * over the VOCAB-SIZED word table (words as symbol arrays), picks the
    * argmax (count desc, then lexicographic — the deterministic tiebreak),
    * and rewrites the vocabulary by merging that pair left-to-right
    * (non-overlapping, the standard greedy scan) as one array fold.
    *
    * Scale shape: the corpus is touched ONCE (the word-count groupBy);
    * all `rounds` iterations run on the distinct-word table — at web
    * scale that is ~10⁷ rows against a 10¹²-token corpus, so driver
    * round-trips cost one tiny job each (exactly how sentencepiece/HF
    * trainers structure it: count once, merge on the vocab). The argmax
    * is a 1-row TakeOrdered, never a full sort; the rewrite is a
    * map-side aggregate expression; the vocab table is localCheckpointed
    * each round to truncate the growing lineage (the [[Dedup]]
    * connected-components discipline).
    */
  def bpeTrain(df: DataFrame, textCol: Column, rounds: Int = 8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    var vocab = df.select(explode(tokens(textCol)).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(expr("filter(split(word, ''), s -> s <> '')").as("syms"), col("cnt"))
      .localCheckpoint(true)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= rounds && !exhausted) {
      val top = vocab
        .filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(0, size(syms) - 2), i -> struct(syms[i] AS l, syms[i + 1] AS r))"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((round, l, r, n))
        // greedy left-to-right non-overlapping merge of [l, r] runs:
        // fold symbols, joining when the accumulator tail is l and the
        // incoming symbol is r — unless that tail was itself just merged
        // (tracked in the `m` flag), which is what makes "aaa" -> "aa","a"
        val lLit = l.replace("\\", "\\\\").replace("'", "\\'")
        val rLit = r.replace("\\", "\\\\").replace("'", "\\'")
        vocab = vocab.select(expr(
            "aggregate(syms, struct(cast(array() as array<string>) AS acc, false AS m), " +
              "(st, s) -> IF(NOT st.m AND size(st.acc) > 0 AND " +
              s"element_at(st.acc, -1) = '$lLit' AND s = '$rLit', " +
              s"struct(concat(slice(st.acc, 1, size(st.acc) - 1), array('$lLit$rLit')), true), " +
              "struct(concat(st.acc, array(s)), false)), " +
              "st -> st.acc)").as("syms"), col("cnt"))
          .localCheckpoint(true)
      }
      round += 1
    }
    merges.result().toDF("round", "left_sym", "right_sym", "n_occurrences")
  }

  /** Apply a trained BPE merge list ([[bpeTrain]]'s output, in merge
    * order) to the corpus: each document tokenizes to its BPE symbol
    * sequence and the op returns per-document BPE token and word counts
    * — the "tokenize the corpus with the shipped tokenizer" step that
    * follows training (the real token budget `packSequences`/`mixBudget`
    * should meter, replacing their chars/4 estimate).
    *
    * Scale shape: merges apply to the DISTINCT-WORD table (vocab-sized,
    * same reasoning as [[bpeTrain]]) as `rounds` successive map-side
    * array folds — one chained projection, no shuffle per merge, no
    * driver loop over the corpus; documents then join their words to the
    * tokenized vocab (shuffle O(corpus tokens) on the word key — the
    * same join every tokenizer-application pipeline pays, AQE-splittable
    * on stopword skew).
    */
  def bpeEncode(df: DataFrame, idCol: Column, textCol: Column,
                merges: Seq[(String, String)]): DataFrame = {
    val words = df.select(idCol.as("doc_id"), explode(tokens(textCol)).as("word"))
    val vocab0 = words.select(col("word")).distinct()
      .select(col("word"), expr("filter(split(word, ''), s -> s <> '')").as("syms"))
    val tokenized = merges.foldLeft(vocab0) { case (v, (l, r)) =>
      val lLit = l.replace("\\", "\\\\").replace("'", "\\'")
      val rLit = r.replace("\\", "\\\\").replace("'", "\\'")
      v.select(col("word"), expr(
        "aggregate(syms, struct(cast(array() as array<string>) AS acc, false AS m), " +
          "(st, s) -> IF(NOT st.m AND size(st.acc) > 0 AND " +
          s"element_at(st.acc, -1) = '$lLit' AND s = '$rLit', " +
          s"struct(concat(slice(st.acc, 1, size(st.acc) - 1), array('$lLit$rLit')), true), " +
          "struct(concat(st.acc, array(s)), false)), " +
          "st -> st.acc)").as("syms"))
    }
    words.join(tokenized, "word")
      .groupBy(col("doc_id"))
      .agg(sum(size(col("syms"))).cast("long").as("n_bpe_tokens"),
        count(lit(1)).cast("long").as("n_words"))
      .orderBy(col("doc_id"))
  }

  /** The shipped tokenizer artifact for [[bpeEncode]]'s oracle-keyed
    * query: the first 8 merges [[bpeTrain]] learns on the documents
    * corpus, frozen in merge order — encode-time always runs against a
    * FIXED merge table (the tokenizer file a training run pins), which is
    * what makes the corpus-wide token metering reproducible across
    * re-runs and engines.
    */
  val ShippedBpeMerges: Seq[(String, String)] = Seq(
    "e" -> "r", "i" -> "n", "o" -> "w", "o" -> "r",
    "s" -> "t", "m" -> "er", "a" -> "t", "l" -> "u")

  /** SentencePiece-style UNIGRAM-LM tokenizer training (Kudo 2018) — the
    * other mainstream subword tokenizer beside [[bpeTrain]]'s BPE: seed a
    * substring candidate vocabulary, then EM — (E) Viterbi-segment every
    * distinct word under the current piece probabilities, (F) re-estimate
    * piece counts from the segmentations — and prune to `vocabSize`
    * pieces (single characters always survive, so every word stays
    * segmentable).
    *
    * Determinism: Viterbi scores are `StrictMath.log(cnt) − log N` sums —
    * StrictMath is bit-reproducible on every JVM by contract (fdlibm), and
    * ties break structurally (at equal score the longer final piece
    * wins), so training replays identically on any cluster/partitioning;
    * the spec pins a brute in-memory reimplementation on the real corpus.
    *
    * Scale shape (the [[bpeTrain]] argument): everything after the one
    * O(corpus tokens) word count runs on the DISTINCT-WORD table —
    * vocab-scale, ~10⁷ rows against a 10¹² corpus. Seeding explodes
    * ≤ maxPieceLen substrings per word position (map-side), piece counts
    * are one groupBy per round, and the E-step is a per-row DP against
    * the BROADCAST candidate vocabulary (bounded: ≤ seed cap + alphabet
    * rows by construction — the tokenizer artifact must fit one machine
    * anyway, exactly like the shipped merge table). Segmentation is
    * per-partition imperative logic (a DP over word positions cannot
    * spell as one window/aggregate), the documented last-resort tier.
    */
  def unigramTrain(df: DataFrame, textCol: Column, vocabSize: Int = 64,
                   maxPieceLen: Int = 4, rounds: Int = 2,
                   seedCap: Int = 512): DataFrame = {
    require(vocabSize >= 2 && maxPieceLen >= 2 && rounds >= 1)
    val spark = df.sparkSession
    import spark.implicits._
    val words = df.select(explode(tokens(textCol)).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    // seed: substring candidates weighted by word frequency; single
    // chars always kept (outside the cap) so segmentation never fails
    val subs = words.select(col("cnt"), explode(expr(
        s"""flatten(transform(sequence(1, length(word)),
           |  i -> transform(sequence(1, least($maxPieceLen, length(word) - i + 1)),
           |    l -> substring(word, i, l))))""".stripMargin)).as("piece"))
      .groupBy(col("piece")).agg(sum(col("cnt")).as("cnt"))
    val chars = subs.filter(length(col("piece")) === 1)
    val multi = subs.filter(length(col("piece")) > 1)
      .orderBy(col("cnt").desc, col("piece")).limit(seedCap)
    var vocab: Array[(String, Long)] = chars.unionByName(multi)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    for (round <- 1 to rounds) {
      val keepAll = round < rounds
      val bc = spark.sparkContext.broadcast(vocab.toMap)
      val counts = words.as[(String, Long)].mapPartitions { it =>
        val v = bc.value
        val logN = StrictMath.log(v.values.map(_.toDouble).sum)
        it.flatMap { case (word, freq) =>
          viterbi(word, v, logN, maxPieceLen).map(p => (p, freq))
        }
      }.toDF("piece", "freq")
        .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      // re-estimated counts; unused candidates drop out, chars persist
      // with a floor count of 1 so coverage never breaks
      val restated = vocab.map { case (p, _) =>
        (p, counts.getOrElse(p, if (p.length == 1) 1L else 0L))
      }.filter(_._2 > 0L)
      vocab =
        if (keepAll) restated
        else {
          val ch = restated.filter(_._1.length == 1)
          val top = restated.filter(_._1.length > 1)
            .sortBy { case (p, c) => (-c, p) }
            .take(math.max(0, vocabSize - ch.length))
          ch ++ top
        }
    }
    val total = vocab.map(_._2).sum
    vocab.toSeq.toDF("piece", "cnt")
      .select(col("piece"), col("cnt"),
        expr(s"(1000000L * cnt) div ${total}L").as("p_micro"))
      .orderBy(col("cnt").desc, col("piece"))
  }

  /** Viterbi segmentation of one word under unigram piece log-probs:
    * best[j] maximizes Σ (log cnt − logN) over pieces covering word[0,j);
    * at equal score the LONGER final piece wins (smaller back-pointer) —
    * the structural tie-break that keeps training deterministic.
    */
  private[graft] def viterbi(word: String, vocab: Map[String, Long],
                             logN: Double, maxPieceLen: Int): Seq[String] = {
    val n = word.length
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val back = Array.fill(n + 1)(-1)
    best(0) = 0.0
    var j = 1
    while (j <= n) {
      var i = math.max(0, j - maxPieceLen)
      while (i < j) {
        if (best(i) != Double.NegativeInfinity) {
          vocab.get(word.substring(i, j)).foreach { c =>
            val s = best(i) + (StrictMath.log(c.toDouble) - logN)
            if (s > best(j) || (s == best(j) && i < back(j))) {
              best(j) = s
              back(j) = i
            }
          }
        }
        i += 1
      }
      j += 1
    }
    if (back(n) < 0) return word.map(_.toString) // unreachable: chars kept
    var k = n
    var pieces = List.empty[String]
    while (k > 0) {
      pieces = word.substring(back(k), k) :: pieces
      k = back(k)
    }
    pieces
  }

  /** Tokenize the corpus with a trained unigram vocabulary
    * ([[unigramTrain]]'s (piece, cnt) rows): per-document piece and word
    * counts — the unigram twin of [[bpeEncode]], same scale shape
    * (distinct words segment once against the broadcast artifact, the
    * corpus joins on the word key).
    */
  def unigramEncode(df: DataFrame, idCol: Column, textCol: Column,
                    vocab: Seq[(String, Long)],
                    maxPieceLen: Int = 4): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val words = df.select(idCol.as("doc_id"), explode(tokens(textCol)).as("word"))
    val bc = spark.sparkContext.broadcast(vocab.toMap)
    val logN = StrictMath.log(vocab.map(_._2.toDouble).sum)
    val tokenized = words.select(col("word")).distinct()
      .as[String].mapPartitions { it =>
        val v = bc.value
        it.map(w => (w, viterbi(w, v, logN, maxPieceLen).length.toLong))
      }.toDF("word", "n_pieces")
    words.join(tokenized, "word")
      .groupBy(col("doc_id"))
      .agg(sum(col("n_pieces")).as("n_unigram_tokens"),
        count(lit(1)).as("n_words"))
      .orderBy(col("doc_id"))
  }

  /** Word2vec negative-sampling distribution (Mikolov et al. 2013): the
    * unigram counts raised to the 3/4 power, as an inverse-CDF sampling
    * table. The quarter power spells `sqrt(sqrt(c³))` — two
    * correctly-rounded IEEE sqrts over a fixed left-associated double
    * product — so `weight_micro` lands on the identical integer in any
    * engine WITHOUT libm `pow` (whose last-ulp behavior differs across
    * platforms); the cumulative column is an exact long prefix sum (the
    * sampler binary-searches it). Combined with [[skipgramPairs]] (the
    * positive pairs) this completes the word2vec feedstock.
    *
    * Scale shape: one O(corpus tokens) count groupBy (map-side combined);
    * the power runs on the VOCAB-sized table (the [[bpeTrain]] argument:
    * ~10⁷ rows against a 10¹² corpus), and the prefix sum over it is
    * DISTRIBUTED ([[Rank.withRunningSum]] — range-partitioned local sums
    * + broadcast offsets, exactly SQL `sum() OVER (ORDER BY token)`):
    * vocabulary keeps growing with corpus diversity, so even the
    * vocab-sized table never funnels through one window task. A
    * deterministic weighted DRAW composes as [[weightedSample]] over
    * `weight_micro`.
    */
  def negSamplingTable(df: DataFrame, textCol: Column): DataFrame = {
    val vocab = df.select(explode(tokens(textCol)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .withColumn("weight_micro", expr(
        "cast(round(1000000.0D * sqrt(sqrt(" +
          "cast(cnt as double) * cast(cnt as double) * cast(cnt as double)" +
          "))) as bigint)"))
    Rank.withRunningSum(vocab, Seq(col("token")), "weight_micro",
        "cum_weight_micro")
      .orderBy(col("token"))
  }

  /** Skip-gram (center, context) pair counts with a symmetric ±`window`
    * token window — the co-occurrence feedstock word2vec/GloVe-style
    * embedding training consumes (Mikolov et al. 2013); counts are
    * corpus-global, so the op needs only the text column. Pairs spell as
    * a pure array expression per document (each token pairs with its next
    * `window` successors; the mirror orientation is emitted in the same
    * projection), so the corpus is scanned once with NO positional
    * self-join — the join spelling shuffles O(tokens) rows on doc_id and
    * then pays O(len²) comparison per document; this is O(window·tokens)
    * flat. The only shuffle is the count groupBy: O(window·tokens) pair
    * rows with map-side partial agg, landing at O(min(vocab², distinct
    * pairs)) result rows. Stopword centers are hot KEYS but one-row
    * outputs — AQE-splittable, no driver involvement. Output is
    * UNORDERED (the streaming maintainer logs it as-is); the query layer
    * adds its presentation sort.
    */
  /** Distance-weighted co-occurrence (the GloVe convention: a context at
    * offset d contributes 1/d, Pennington et al. 2014) — the weighted
    * sibling of [[skipgramPairs]] whose flat counts word2vec uses.
    * Weights are exact integer micro (`1000000 div d` — d ≤ window, so
    * the division is one of `window` fixed constants) and their sums are
    * exact longs, so the co-occurrence matrix is bit-identical on any
    * engine or partitioning. Same scale shape as skipgram: one scan,
    * pure array expression, O(window·tokens) pair rows into one
    * map-side-combined groupBy.
    */
  def coocWeighted(df: DataFrame, textCol: Column,
                   window: Int = 2): DataFrame = {
    require(window >= 1 && window <= 16, s"window in [1,16], got $window")
    df.select(tokens(textCol).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(expr(
        s"flatten(transform(ws, (w, i) -> flatten(transform(" +
          s"sequence(1, $window), d -> IF(i + d + 1 <= size(ws)," +
          " array(struct(w AS center, element_at(ws, i + d + 1) AS context," +
          " 1000000L div d AS wt)," +
          " struct(element_at(ws, i + d + 1) AS center, w AS context," +
          " 1000000L div d AS wt))," +
          " cast(array() as array<struct<center: string, context: string," +
          " wt: bigint>>))))))")).as("p"))
      .groupBy(col("p.center").as("center"), col("p.context").as("context"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("p.wt")).as("weight_micro"))
  }

  def skipgramPairs(df: DataFrame, textCol: Column,
                    window: Int = 2): DataFrame = {
    require(window >= 1 && window <= 16, s"window in [1,16], got $window")
    df.select(tokens(textCol).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(expr(
        s"flatten(transform(ws, (w, i) -> flatten(transform(" +
          s"slice(ws, i + 2, $window), c -> array(" +
          "struct(w AS center, c AS context)," +
          " struct(c AS center, w AS context))))))")).as("p"))
      .groupBy(col("p.center").as("center"), col("p.context").as("context"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** N-gram novelty per document — what fraction of a doc's distinct
    * word 3-grams appear HERE FIRST in corpus (doc_id) order: the
    * marginal-diversity signal a curation pass ranks on when the corpus
    * is already large ("does this doc add anything the corpus hasn't
    * seen?"). Boilerplate and near-dups of earlier docs score near 0,
    * genuinely new material near 1000. Deterministic by construction:
    * "first" is min(doc_id) over the gram's postings, an associative
    * integer — no ingestion-clock dependence, replays anywhere.
    *
    * Scale shape: one gram explode, one map-combined min per gram
    * (shuffle O(distinct grams)), one join back on the gram, one
    * per-doc count — the exact-dedup cost envelope, no pair joins. The
    * ratio is integer permille.
    */
  def novelty(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val grams = graft.ops.Dedup.shingles(df, idCol, textCol, None)
    val first = grams.groupBy(col("shingle"))
      .agg(min(col("doc_id")).as("first_doc"))
    grams.join(first, "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L))
          .as("n_first"))
      .select(col("doc_id"), col("n_grams"), col("n_first"),
        expr("(1000 * n_first) div n_grams").as("novelty_permille"))
  }

  /** [[novelty]] of an INCREMENT against a persisted first-occurrence
    * gram index (`Monitor.maintainGramIndex` / the batch `novelty`'s
    * gram-min table): a gram is novel iff the prior corpus has never
    * seen it — one left-anti-shaped join, the corpus never re-shingles.
    * Scoring each increment BEFORE ingesting it gives exactly the batch
    * operator's verdicts when increments arrive in doc_id order (the
    * incremental-dedup contract, applied to novelty).
    */
  def noveltyAgainst(index: DataFrame, df: DataFrame, idCol: Column,
                     textCol: Column): DataFrame = {
    val grams = graft.ops.Dedup.shingles(df, idCol, textCol, None)
    grams.join(index.select(col("shingle"), lit(1L).as("__seen")),
        Seq("shingle"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_first"))
      .select(col("doc_id"), col("n_grams"), col("n_first"),
        expr("(1000 * n_first) div n_grams").as("novelty_permille"))
  }

  /** Lexical-diversity profile: type-token ratio and hapax-legomenon
    * ratio per document — degenerate/templated text scores low on both.
    * Integer permille (exact div) for oracle parity. The explode+groupBy
    * form is O(doc × distinct-token), never O(doc-length²) — the pure
    * array-expression spelling (filter-count per distinct word) would be
    * quadratic on long documents.
    */
  def lexicalDiversity(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    df.select(idCol.as("doc_id"), explode(tokens(textCol)).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("ttr_permille", expr("n_types * 1000L div n_tokens"))
      .withColumn("hapax_permille", expr("n_hapax * 1000L div n_types"))
      .orderBy(col("doc_id"))

  /** Bigram language-model quality score (the CCNet/KenLM-perplexity
    * filter shape): train bigram statistics ON the corpus itself, score
    * each document by its mean add-one-smoothed conditional probability
    * `P(w2|w1) = (c(w1,w2)+1) / (c(w1)+V)`. Fluent in-distribution text
    * rides high-count bigrams; gibberish and boilerplate-joined fragments
    * score near the 1/(c+V) floor. The score is a fixed-point integer
    * rational (probability × 10⁶, floor division) — perplexity's log is a
    * monotone transform, so the FILTER (keep docs above a score bar)
    * selects identical documents while every arithmetic step stays exact
    * integer math, portable across engines and partitionings.
    *
    * Scale shape: bigrams spell as a `transform` over each token array
    * (no positional self-join); the pairs materialize once (cached) and
    * feed three O(corpus-tokens) key-partitioned aggregations — bigram
    * counts, left-unigram counts, and the per-doc rollup; the model joins
    * back by bigram/unigram key (shuffle-hash joins on the same O(tokens)
    * stream, skew-splittable by AQE — a stopword bigram is a hot KEY but
    * its count row is one row). Vocabulary size is one broadcast scalar.
    * Nothing is ever O(vocab²) or driver-side; the trained `c12`/`c1`
    * tables are themselves persistable for incremental re-scoring.
    */
  def lmScore(df: DataFrame, idCol: Column, textCol: Column,
              cache: Boolean = true): DataFrame = {
    val bi = OpCache.share(
      df.select(idCol.as("doc_id"), tokens(textCol).as("words"))
        .filter(size(col("words")) >= 2)
        .select(col("doc_id"), expr(
          "explode(transform(slice(words, 1, size(words) - 1)," +
            " (x, i) -> struct(x AS w1, words[i + 1] AS w2))) AS bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2")),
      cache)
    val c12 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = bi.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = df.select(explode(tokens(textCol)).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    bi.join(c12, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("p_micro", expr("(c12 + 1L) * 1000000L div (c1 + v)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("p_micro")).as("sum_micro"))
      .withColumn("lm_micro", expr("sum_micro div n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"), col("lm_micro"))
      .orderBy(col("doc_id"))
  }

  /** Collocation mining: the corpus' top-k bigrams by PMI lift — phrases
    * whose words co-occur far above chance ("new york"-style units a
    * tokenizer or phrase-merger should learn). Lift = p(ab)/(p(a)·p(b))
    * = (c12·Nt·Nt)/(Nb·c1·c2); log(lift) is PMI, and log is monotonic,
    * so ranking by lift IS ranking by PMI without a cross-engine libm
    * call. The arithmetic is IEEE doubles with one fixed parenthesization
    * (counts < 2⁵³ convert exactly; ×,÷ are correctly rounded) so both
    * engines produce bit-identical lifts; reported as integer micro.
    * `minCount` keeps one-off pairs (lift ≈ Nt²/Nb, pure noise) out.
    *
    * Scale shape: bigram explode is O(tokens); everything after is over
    * the GROUPED count tables (|distinct bigrams| rows, ≪ tokens; the
    * minCount filter prunes the long tail before both unigram joins);
    * corpus totals are two broadcast scalars. The unigram joins shuffle
    * |surviving bigrams| rows — a stopword unigram is a hot join KEY but
    * its count row is one row, so there is no skew to split.
    */
  def collocations(df: DataFrame, idCol: Column, textCol: Column,
                   minCount: Int = 5, k: Int = 100,
                   cache: Boolean = true): DataFrame = {
    val bi = OpCache.share(
      df.select(idCol.as("doc_id"), tokens(textCol).as("words"))
        .filter(size(col("words")) >= 2)
        .select(col("doc_id"), expr(
          "explode(transform(slice(words, 1, size(words) - 1)," +
            " (x, i) -> struct(x AS w1, words[i + 1] AS w2))) AS bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2")),
      cache)
    val uni = df.select(explode(tokens(textCol)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val nt = uni.agg(sum(col("c")).cast("double").as("nt"))
    val c12 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val nb = c12.agg(sum(col("c12")).cast("double").as("nb"))
    c12.filter(col("c12") >= minCount)
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(nt)).crossJoin(broadcast(nb))
      // fixed parenthesization — the oracle states the identical tree
      .withColumn("lift",
        ((col("c12").cast("double") * col("nt")) * col("nt")) /
          ((col("nb") * col("c1").cast("double")) * col("c2").cast("double")))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(k)
      .select(col("w1"), col("w2"), col("c12"),
        round(col("lift") * lit(1000000.0)).cast("long").as("lift_micro"))
  }

  /** Integer-milli surface features for the linear classifier — the
    * fastText-style quality/domain filter's feature extractor, kept to
    * arithmetic both engines state identically: length, capped length,
    * whitespace/digit/vowel/'a' ratios and average word length, each a
    * truncating integer division (Spark `div` = DuckDB `//` = JVM long
    * division). Wide layout (f0..f6) so the per-round scan stays inside
    * one whole-stage-codegen span.
    */
  private[graft] def classifierFeatures(df: DataFrame, idCol: Column,
                                        textCol: Column,
                                        positive: Column): DataFrame =
    df.withColumn("__t", textCol)
      .withColumn("__len", expr("cast(length(__t) as bigint)"))
      .withColumn("__sp", expr("__len - length(replace(__t, ' ', ''))"))
      .withColumn("__dg", expr("__len - length(regexp_replace(__t, '[0-9]', ''))"))
      .withColumn("__vw", expr("__len - length(regexp_replace(__t, '[aeiou]', ''))"))
      .withColumn("__av", expr("__len - length(replace(__t, 'a', ''))"))
      .select(
        idCol.as("doc_id"),
        when(positive, 1L).otherwise(-1L).as("y"),
        lit(1000L).as("f0"),
        expr("least(__len, 1000)").as("f1"),
        expr("(1000 * __sp) div __len").as("f2"),
        expr("(1000 * __dg) div __len").as("f3"),
        expr("(1000 * __vw) div __len").as("f4"),
        expr("(1000 * __len) div (__sp + 1)").as("f5"),
        expr("(1000 * __av) div __len").as("f6"))

  private[graft] val ClassifierDims = 7

  /** Per-document (doc_id, margin, y) against FROZEN integer weights —
    * the ingest-door scoring primitive behind the maintained
    * score-histogram log (`Monitor.maintainScoreHist`): production
    * trains once ([[classifierTrain]]) and monitors the score
    * distribution of every increment against those frozen weights. One
    * codegen'd scan, identical margin arithmetic to [[classifierScore]].
    */
  private[graft] def scoreWithWeights(df: DataFrame, idCol: Column,
                                      textCol: Column, positive: Column,
                                      w: Array[Long]): DataFrame = {
    require(w.length == ClassifierDims)
    val feats = classifierFeatures(df, idCol, textCol, positive)
    val margin = (0 until ClassifierDims)
      .map(j => col(s"f$j") * lit(w(j)))
      .reduce(_ + _)
    feats.select(col("doc_id"), margin.as("margin"), col("y"))
  }

  /** One full-batch perceptron round against FROZEN integer weights: the
    * misclassified count `m` and per-dimension gradient sums
    * g_j = Σ_{y·margin ≤ 0} y·x_j, reduced map-side to ONE row — the
    * exchange per round is O(partitions·(d+1)) partial aggregates, never
    * the corpus (the k-means-statistics discipline). Sums are associative
    * integers, so partials from any split (partitions, micro-batches)
    * merge into the exact full-corpus gradient.
    */
  private[graft] def classifierGradient(feats: DataFrame,
                                        w: Array[Long]): DataFrame = {
    val margin = (0 until ClassifierDims)
      .map(j => col(s"f$j") * lit(w(j)))
      .reduce(_ + _)
    val mis = (col("y") * margin) <= 0L
    feats.agg(
      count(when(mis, 1)).as("m"),
      (0 until ClassifierDims).map(j =>
        sum(when(mis, col("y") * col(s"f$j")).otherwise(0L)).as(s"g$j")): _*)
  }

  /** Distributed full-batch fixed-point perceptron — the trainable
    * quality/domain classifier every large corpus pipeline fronts its
    * ingest with (the GPT-3/LLaMA "quality filter" shape: positive =
    * curated stratum, negative = the rest), trained WITHOUT leaving the
    * cluster and without floating point: weights are integers, round t's
    * normalized step is (1000·g_j) div (m·2^(t-1)) (truncating —
    * identical in Spark, the JVM, and DuckDB `//`), and
    * misclassification is decided on the exact integer margin. The
    * GEOMETRIC step decay turns the full-batch oscillation (balanced
    * classes flip the whole margin sign each round) into a bisection
    * toward a separator — spec-verified to reach zero mistakes on
    * separable corpora the constant-step batch rule loops on forever.
    * Full-batch (not sequential) updates make the trajectory order- and
    * partitioning-invariant, so the whole run is a deterministic fixture
    * the oracle unrolls as CTEs.
    *
    * Per round: ONE scan of the cached feature table (codegen'd literal-
    * weight margin), one single-row aggregate; the driver holds d longs.
    * Returns the trajectory: (round, dim, w, n_mis) for rounds 0..iters,
    * where n_mis counts the docs round t's weights misclassify.
    */
  private[graft] def classifierTrajectory(df: DataFrame, idCol: Column,
                                          textCol: Column, positive: Column,
                                          iters: Int): (Array[Array[Long]], Array[Long]) = {
    val feats = classifierFeatures(df, idCol, textCol, positive)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val traj = Array.ofDim[Long](iters + 1, ClassifierDims)
      val nMis = new Array[Long](iters + 1)
      var w = new Array[Long](ClassifierDims)
      for (t <- 0 to iters) {
        traj(t) = w.clone()
        val r = classifierGradient(feats, w).collect()(0)
        val m = r.getLong(0)
        nMis(t) = m
        if (t < iters && m > 0) {
          val next = w.clone()
          for (j <- 0 until ClassifierDims)
            next(j) = w(j) + (1000L * r.getLong(1 + j)) / (m * (1L << t))
          w = next
        }
      }
      (traj, nMis)
    } finally feats.unpersist()
  }

  /** The perceptron trajectory as a DataFrame — (round, dim, w, n_mis),
    * (iters+1)·d rows at ANY corpus size.
    */
  def classifierTrain(df: DataFrame, idCol: Column, textCol: Column,
                      positive: Column, iters: Int = 3): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (traj, nMis) = classifierTrajectory(df, idCol, textCol, positive, iters)
    (for { t <- 0 to iters; j <- 0 until ClassifierDims }
      yield (t.toLong, j.toLong, traj(t)(j), nMis(t)))
      .toDF("round", "dim", "w", "n_mis")
  }

  /** Per-document scores against the trained weights: the exact integer
    * margin ships as decision evidence (engine-exact, so the oracle
    * hash-matches the evidence, not just the labels). Scoring is one
    * codegen'd scan — embarrassingly parallel at any corpus size once
    * training has fixed the weights.
    */
  def classifierScore(df: DataFrame, idCol: Column, textCol: Column,
                      positive: Column, iters: Int = 3): DataFrame = {
    val (traj, _) = classifierTrajectory(df, idCol, textCol, positive, iters)
    val w = traj(iters)
    val feats = classifierFeatures(df, idCol, textCol, positive)
    val margin = (0 until ClassifierDims)
      .map(j => col(s"f$j") * lit(w(j)))
      .reduce(_ + _)
    feats.select(
        col("doc_id"),
        margin.as("margin"),
        when(margin > 0L, 1L).otherwise(-1L).as("pred"),
        col("y"))
      .orderBy("doc_id")
  }

  /** Isotonic calibration (pool-adjacent-violators) of the classifier's
    * scores over `buckets` margin-ordered bins — the step that turns a
    * ranking margin into a usable PROBABILITY (42bu's lift table says
    * the ranking works; this says what a margin is worth): the fitted
    * per-bin positive rate is the best monotone non-decreasing fit.
    *
    * Exactness trick: PAV's fit at bin j is the max-min formula
    * max_{i≤j} min_{k≥j} avg(y[i..k]), and floor commutes with BOTH
    * min and max — so flooring every range average to micro FIRST
    * (`1e6·pos div n`, exact int64) and then taking integer min/max
    * yields exactly floor(1e6 · PAV fit). No rational bookkeeping, no
    * float compares; a relational triple join over the bins computes it.
    *
    * Scale shape: the corpus-sized work is [[classifierScore]] + the
    * range-partitioned ntile (never a single-task window); everything
    * after runs on the `buckets`-row bin table — the cumulative window
    * rides the bounded `decile` key and the (j,i,k) lattice is at most
    * buckets³ rows (capped ≤ 32 ⇒ ≤ 32768). The lattice joins are
    * intended tiny nested loops (plan-audit allowlisted).
    */
  def classifierCalibration(df: DataFrame, idCol: Column, textCol: Column,
                            positive: Column, iters: Int = 3,
                            buckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets >= 2 && buckets <= 32)
    val scored = classifierScore(df, idCol, textCol, positive, iters)
    // decile 1 = LOWEST margin, so the fitted rate is non-decreasing in
    // decile order (the orientation PAV assumes)
    val deciled = Rank.rangedNtile(scored, buckets,
      Seq(col("margin").asc, col("doc_id")), "decile")
    val bins = deciled.groupBy(col("decile"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("p"))
    val w = Window.partitionBy(lit(0)).orderBy(col("decile"))
    val cum = bins
      .withColumn("cp", sum(col("p")).over(w))
      .withColumn("cn", sum(col("n")).over(w))
    val j = cum.select(col("decile").as("j"), col("n").as("n_j"), col("p").as("p_j"))
    val i = cum.select(col("decile").as("i"),
      (col("cp") - col("p")).as("cp0"), (col("cn") - col("n")).as("cn0"))
    val k = cum.select(col("decile").as("k"),
      col("cp").as("cpk"), col("cn").as("cnk"))
    j.join(i, col("i") <= col("j"))
      .join(k, col("k") >= col("j"))
      .select(col("j"), col("n_j"), col("p_j"), col("i"),
        expr("(1000000L * (cpk - cp0)) div (cnk - cn0)").as("v"))
      .groupBy(col("j"), col("n_j"), col("p_j"), col("i"))
      .agg(min(col("v")).as("mn"))
      .groupBy(col("j"), col("n_j"), col("p_j"))
      .agg(max(col("mn")).as("fitted_micro"))
      .select(col("j").cast("long").as("decile"), col("n_j").as("n"),
        col("p_j").as("n_pos"),
        expr("(1000000L * p_j) div n_j").as("raw_micro"),
        col("fitted_micro"))
      .orderBy(col("decile"))
  }

  /** Decile lift table over [[classifierScore]] — the evaluation a
    * trained quality filter is READ through before anyone trusts its
    * threshold: rank all docs by margin (deterministic (margin desc,
    * doc_id) total order), cut into `buckets` ntiles, and report each
    * bucket's positive rate against the corpus base rate. A useful
    * classifier concentrates positives in the top deciles
    * (lift ≫ 1000‰); a flat table says the features carry nothing.
    *
    * Exactness: counts are integers; rates are truncating permille
    * divisions; lift is the RATIO OF THE TRUNCATED PERMILLES (not of
    * raw counts — spelled that way so no product ever exceeds
    * 10⁶·count, long-safe at any corpus size). Totals ride a window
    * over the ≤`buckets`-row decile table, not a second pass.
    *
    * Scale note: the ntile is [[Rank.rangedNtile]] over the O(docs)
    * scored rows — a range-partitioned distributed rank (margins are
    * near-unique, so the histogram-cumsum closed form doesn't apply),
    * exactly SQL `ntile(k) OVER (ORDER BY margin DESC, doc_id)` with no
    * single-task window; the only partition-less windows left ride the
    * ≤`buckets`-row decile table.
    */
  def classifierLift(df: DataFrame, idCol: Column, textCol: Column,
                     positive: Column, iters: Int = 3,
                     buckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets >= 2 && buckets <= 1000)
    val scored = classifierScore(df, idCol, textCol, positive, iters)
    val deciled = Rank.rangedNtile(scored, buckets,
      Seq(col("margin").desc, col("doc_id")), "decile")
    deciled.groupBy(col("decile"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("n_pos"),
        min(col("margin")).as("margin_lo"), max(col("margin")).as("margin_hi"))
      .withColumn("n_tot", sum(col("n")).over(Window.partitionBy(lit(0))))
      .withColumn("pos_tot", sum(col("n_pos")).over(Window.partitionBy(lit(0))))
      .select(col("decile").cast("long").as("decile"), col("n"), col("n_pos"),
        expr("(1000 * n_pos) div n").as("pos_rate_permille"),
        when(expr("(1000 * pos_tot) div n_tot") > 0,
          expr("(1000 * ((1000 * n_pos) div n)) div ((1000 * pos_tot) div n_tot)"))
          .as("lift_permille"),
        col("margin_lo"), col("margin_hi"))
      .orderBy("decile")
  }

  /** Brier score + expected calibration error of the PAV-calibrated
    * classifier — the two standard "how good are the probabilities"
    * numbers read BESIDE the calibration table ([[classifierCalibration]]
    * produces the fit; this says what it's worth): per decile with
    * fitted probability f (micro) and n_pos positives of n, the Brier
    * contribution is n_pos·(10⁶−f)² + (n−n_pos)·f² (micro², exact
    * integers — each doc scored against its decile's calibrated
    * probability) and the ECE contribution is n·|raw − f| (the
    * population-weighted gap between observed rate and stated
    * confidence). brier_micro = Σsq div (N·10⁶), ece_micro = Σgap div N
    * — products widen to decimal (micro² terms reach 10¹²·n).
    *
    * Scale shape: everything after [[classifierCalibration]]'s
    * corpus-scan + range-partitioned ntile runs on the `buckets`-row
    * table; output is ONE row at any corpus size.
    */
  def classifierCalibrationError(df: DataFrame, idCol: Column,
                                 textCol: Column, positive: Column,
                                 iters: Int = 3,
                                 buckets: Int = 10): DataFrame = {
    val cal = classifierCalibration(df, idCol, textCol, positive, iters, buckets)
    val f = col("fitted_micro").cast("decimal(19,0)")
    val miss = (lit(1000000L) - col("fitted_micro")).cast("decimal(19,0)")
    cal.agg(sum(col("n")).as("nt"),
        sum(col("n_pos").cast("decimal(19,0)") * (miss * miss)
          + (col("n") - col("n_pos")).cast("decimal(19,0)") * (f * f)).as("ss"),
        sum(col("n").cast("decimal(19,0)")
          * abs(col("raw_micro") - col("fitted_micro")).cast("decimal(19,0)"))
          .as("es"))
      .select(col("nt").as("n"),
        // NULL on an empty corpus rather than an engine-divergent error
        when(col("nt") > 0L,
          expr("ss div (nt * cast(1000000 as decimal(19,0)))"))
          .as("brier_micro"),
        when(col("nt") > 0L, expr("es div nt")).as("ece_micro"))
  }

  /** Exact tie-aware ROC AUC of the classifier's margins — the ONE
    * threshold-free number a trained quality filter is judged by (the
    * lift table reads top deciles; AUC integrates the whole ranking).
    * Mann–Whitney form with the standard half-credit for score ties:
    * AUC = [Σ_s neg_strictly_below(s)·pos(s) + pos(s)·neg(s)/2] / (P·N),
    * summed over DISTINCT margins s — doubled through to keep every
    * intermediate an integer: auc_micro = 10⁶·(2·Σ nb·p + Σ p·q) div
    * (2·P·N). Products widen to decimal BEFORE multiplying (nb·p reaches
    * P·N ≈ 10¹⁸ per group and the sum passes int64 at corpus scale;
    * DuckDB folds in HUGEINT).
    *
    * Scale shape: one corpus scan ([[classifierScore]]), a map-side-
    * combined groupBy on margin (score domains collapse — bounded
    * distinct values), the range-partitioned running sum (never a
    * single-task window), one final scalar agg. No window over O(docs)
    * rows anywhere.
    */
  def classifierAuc(df: DataFrame, idCol: Column, textCol: Column,
                    positive: Column, iters: Int = 3): DataFrame = {
    val scored = classifierScore(df, idCol, textCol, positive, iters)
    aucFromMarginCounts(scored.groupBy(col("margin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("p"))
      .withColumn("q", col("n") - col("p")))
  }

  /** The AUC epilogue over an already-collapsed (margin, p, q) count
    * table — shared by [[classifierAuc]] (which scores text) and the
    * maintained score-histogram log (`Monitor.readScoreHist`, whose
    * partials are additive per-margin counts), so both paths state the
    * identical expression tree and agree bit-for-bit.
    */
  private[graft] def aucFromMarginCounts(byMargin: DataFrame): DataFrame = {
    val cum = Rank.withRunningSum(
      byMargin.select(col("margin"), col("p"), col("q")),
      Seq(col("margin")), "q", "cq")
    cum.agg(
        sum(col("p")).as("pp"),
        sum(col("q")).as("nn"),
        sum((col("cq") - col("q")).cast("decimal(19,0)")
            * col("p").cast("decimal(19,0)") * lit(2)
          + col("p").cast("decimal(19,0)") * col("q").cast("decimal(19,0)"))
          .as("num2"))
      .select((col("pp") + col("nn")).as("n"), col("pp").as("n_pos"),
        col("nn").as("n_neg"),
        when(col("pp") > 0L && col("nn") > 0L, expr(
          "(1000000 * num2) div (2 * cast(pp as decimal(19,0))" +
            " * cast(nn as decimal(19,0)))")).as("auc_micro"))
  }

  /** The full ROC curve of the classifier's margins — the table BEHIND
    * [[classifierAuc]]'s one number (pick an operating threshold by
    * reading where TPR buys FPR): one row per DISTINCT margin t with the
    * exact cumulative (TP, FP) of the "predict positive when margin ≥ t"
    * rule and the truncating micro rates. Integer end-to-end; cumulative
    * counts ride the range-partitioned running sum over the DESCENDING
    * margin order (never a single-task window), totals are a 1-row
    * broadcast under the plan-audit bound.
    */
  def classifierRoc(df: DataFrame, idCol: Column, textCol: Column,
                    positive: Column, iters: Int = 3): DataFrame = {
    val scored = classifierScore(df, idCol, textCol, positive, iters)
    rocFromMarginCounts(scored.groupBy(col("margin"))
      .agg(count(lit(1)).as("nm"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("p"))
      .withColumn("q", col("nm") - col("p")))
  }

  /** The ROC epilogue over an already-collapsed (margin, p, q) count
    * table — shared by [[classifierRoc]] and the maintained
    * score-histogram log (`Monitor.scoreHistRoc`): ROC is margin-
    * granular by definition, so the histogram serves it exactly.
    */
  private[graft] def rocFromMarginCounts(g0: DataFrame): DataFrame = {
    val g = g0.select(col("margin"), col("p"), col("q"))
    val c = Rank.withRunningSum(
      Rank.withRunningSum(g, Seq(col("margin").desc), "p", "tp"),
      Seq(col("margin").desc), "q", "fp")
    val tot = g.agg(sum(col("p")).as("pp"), sum(col("q")).as("nn"))
    c.crossJoin(broadcast(tot))
      .select(col("margin"), col("tp"), col("fp"),
        when(col("pp") > 0L,
          expr("(1000000 * cast(tp as decimal(19,0))) div pp")).as("tpr_micro"),
        when(col("nn") > 0L,
          expr("(1000000 * cast(fp as decimal(19,0))) div nn")).as("fpr_micro"))
      .orderBy("margin")
  }

  /** The precision–recall operating table — ROC's imbalanced-class twin
    * (when positives are rare, FPR hides what precision exposes): one
    * row per DISTINCT margin t with the exact cumulative (TP, FP) of
    * "predict positive when margin ≥ t", precision = TP/(TP+FP) and
    * recall = TP/P as truncating micros. Same running-sum machinery as
    * [[classifierRoc]] ([[prFromMarginCounts]] is the shared epilogue —
    * the maintained score histogram serves it too).
    */
  def classifierPr(df: DataFrame, idCol: Column, textCol: Column,
                   positive: Column, iters: Int = 3): DataFrame = {
    val scored = classifierScore(df, idCol, textCol, positive, iters)
    prFromMarginCounts(scored.groupBy(col("margin"))
      .agg(count(lit(1)).as("nm"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("p"))
      .withColumn("q", col("nm") - col("p")))
  }

  /** The PR epilogue over an already-collapsed (margin, p, q) count
    * table — shared by [[classifierPr]] and `Monitor.scoreHistPr`.
    */
  private[graft] def prFromMarginCounts(g0: DataFrame): DataFrame = {
    val g = g0.select(col("margin"), col("p"), col("q"))
    val c = Rank.withRunningSum(
      Rank.withRunningSum(g, Seq(col("margin").desc), "p", "tp"),
      Seq(col("margin").desc), "q", "fp")
    val tot = g.agg(sum(col("p")).as("pp"))
    c.crossJoin(broadcast(tot))
      .select(col("margin"), col("tp"), col("fp"),
        when(col("tp") + col("fp") > 0L,
          expr("(1000000 * cast(tp as decimal(19,0))) div (tp + fp)"))
          .as("precision_micro"),
        when(col("pp") > 0L,
          expr("(1000000 * cast(tp as decimal(19,0))) div pp"))
          .as("recall_micro"))
      .orderBy("margin")
  }

  /** Population Stability Index of the classifier's margin distribution
    * between a REFERENCE stratum and a CURRENT stratum (the standard
    * "did the score distribution drift since the filter was tuned"
    * audit, read beside the KS gate: KS gives the sup-gap, PSI weights
    * every bin by how far it moved). Bins are the reference stratum's
    * `buckets` margin quantiles — the canonical convention, so a
    * perfectly stable current stratum lands ~uniform. Add-one-smoothed
    * shares per bin — ALL `buckets` bins emitted, zero-backfilled when a
    * degenerate reference (< buckets distinct rows) leaves ntile bins
    * structurally empty, so the smoothed mass always sums to 1 — term =
    * (p − q)·ln(p/q) rounded to micro IMMEDIATELY
    * (see the header note: measured 1-ulp ln divergence can flip a
    * micro-rounded term only with ~1e-9 odds), psi_micro = the integer
    * sum — order-free. Rule of thumb read: <10000 (0.01) stable,
    * >250000 (0.25) drifted.
    *
    * Scale shape: one corpus scan, the range-partitioned ntile on the
    * reference rows, then the ≤(buckets−1) boundary rows collapse to ONE
    * broadcast array row — binning is a codegen'd array fold riding the
    * scan (zero extra shuffle, an intended 1-row nested loop under the
    * plan-audit bound), and everything after runs on the buckets-row
    * table.
    */
  def classifierPsi(df: DataFrame, idCol: Column, textCol: Column,
                    positive: Column, refPred: Column, iters: Int = 3,
                    buckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets >= 2 && buckets <= 32)
    val scored = classifierScore(df, idCol, textCol, positive, iters)
      .withColumn("is_ref", refPred)
    val ref = scored.filter(col("is_ref"))
    val deciled = Rank.rangedNtile(ref, buckets,
      Seq(col("margin").asc, col("doc_id")), "dec")
    // upper boundary of each reference decile but the last, as ONE
    // sorted array row ((margin, doc_id) lexicographic = ntile's order)
    val bnd = deciled.filter(col("dec") < buckets)
      .groupBy(col("dec"))
      .agg(max(struct(col("margin").as("bm"), col("doc_id").as("bd")))
        .as("hi"))
      .agg(sort_array(collect_list(col("hi"))).as("bnds"))
    val binned = scored.crossJoin(broadcast(bnd))
      .withColumn("bin", lit(1) + expr(
        """aggregate(bnds, 0L, (acc, b) -> acc +
          |  if(b.bm < margin or (b.bm = margin and b.bd < doc_id), 1L, 0L))"""
          .stripMargin))
    val w = Window.partitionBy(lit(0))
    // every bin 1..buckets exists even when no row lands in it (a
    // reference stratum with < buckets distinct rows leaves ntile bins
    // empty): the add-one smoothing gives empty bins a NONZERO term, and
    // dropping them would understate PSI (Σp, Σq < 1) exactly on the
    // degenerate inputs the smoothing exists for. The zero rows union in
    // BEFORE the groupBy, so the totals window still sits directly on
    // the bounded-key aggregate (the plan-audit window contract).
    val allBins = df.sparkSession.range(1, buckets + 1)
      .select(col("id").as("bin"))
    binned
      .select(col("bin").cast("long").as("bin"),
        when(col("is_ref"), 1L).otherwise(0L).as("r"),
        when(col("is_ref"), 0L).otherwise(1L).as("c"))
      .unionByName(allBins.select(col("bin"), lit(0L).as("r"),
        lit(0L).as("c")))
      .groupBy(col("bin"))
      .agg(sum(col("r")).as("nref"), sum(col("c")).as("ncur"))
      .withColumn("tr", sum(col("nref")).over(w))
      .withColumn("tc", sum(col("ncur")).over(w))
      .withColumn("p",
        (col("nref") + 1).cast("double") / (col("tr") + buckets).cast("double"))
      .withColumn("q",
        (col("ncur") + 1).cast("double") / (col("tc") + buckets).cast("double"))
      .withColumn("term_micro",
        round(lit(1000000.0) * ((col("p") - col("q")) * log(col("p") / col("q"))))
          .cast("long"))
      .withColumn("psi_micro", sum(col("term_micro")).over(w))
      .select(col("bin").cast("long").as("bin"), col("nref"), col("ncur"),
        col("term_micro"), col("psi_micro"))
      .orderBy("bin")
  }

  /** PSI between two margin HISTOGRAMS — the monitoring-loop spelling of
    * [[classifierPsi]]: the reference window and the current window are
    * both maintained score-histogram logs (`Monitor.maintainScoreHist`),
    * so drift is read without ever touching documents. Bins are the
    * reference histogram's count-weighted margin quantiles (the SQL-ntile
    * cut closed form over cumulative counts; tie mass stays together —
    * margin-granular, the one honest binning a histogram supports),
    * shares add-one smoothed, terms micro-rounded (the ln convention),
    * psi_micro the order-free integer sum. Inputs are (margin, n) count
    * tables.
    *
    * Scale shape: both inputs are already histogram-sized; the only
    * corpus-shaped stage anywhere is the log merge upstream. The ≤
    * (buckets−1) boundaries collapse to one broadcast array row.
    */
  def psiFromHists(ref: DataFrame, cur: DataFrame,
                   buckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets >= 2 && buckets <= 32)
    val refc = Rank.withRunningSum(
      ref.select(col("margin"), col("n")), Seq(col("margin")), "n", "cum")
    val tot = ref.agg(sum(col("n")).as("nt"))
    // boundary k = smallest margin whose cumulative count reaches the
    // SQL-ntile cut k·base + min(k, rem)
    val bnd = refc.crossJoin(broadcast(tot))
      .select(col("margin"), col("cum"), col("nt"),
        explode(expr(s"sequence(1, ${buckets - 1})")).as("k"))
      .filter(col("cum") >= col("k") * expr(s"nt div $buckets")
        + least(col("k"), expr(s"nt % $buckets")))
      .groupBy(col("k")).agg(min(col("margin")).as("bm"))
      .agg(sort_array(collect_list(col("bm"))).as("bnds"))
    def binned(df: DataFrame, out: String) =
      df.crossJoin(broadcast(bnd))
        .withColumn("bin", lit(1) + expr(
          "aggregate(bnds, 0L, (acc, b) -> acc + if(b < margin, 1L, 0L))"))
        .groupBy(col("bin")).agg(sum(col("n")).as(out))
    val w = Window.partitionBy(lit(0))
    // all 1..buckets bins, zero-backfilled: empty bins carry a nonzero
    // add-one-smoothed term (see classifierPsi — dropping them would
    // understate PSI exactly on the degenerate inputs smoothing guards)
    val allBins = ref.sparkSession.range(1, buckets + 1)
      .select(col("id").as("bin"))
    allBins
      .join(binned(ref, "nref"), Seq("bin"), "left_outer")
      .join(binned(cur, "ncur"), Seq("bin"), "left_outer")
      .select(col("bin"), coalesce(col("nref"), lit(0L)).as("nref"),
        coalesce(col("ncur"), lit(0L)).as("ncur"))
      .withColumn("tr", sum(col("nref")).over(w))
      .withColumn("tc", sum(col("ncur")).over(w))
      .withColumn("p",
        (col("nref") + 1).cast("double") / (col("tr") + buckets).cast("double"))
      .withColumn("q",
        (col("ncur") + 1).cast("double") / (col("tc") + buckets).cast("double"))
      .withColumn("term_micro",
        round(lit(1000000.0) * ((col("p") - col("q")) * log(col("p") / col("q"))))
          .cast("long"))
      .withColumn("psi_micro", sum(col("term_micro")).over(w))
      .select(col("bin").cast("long").as("bin"), col("nref"), col("ncur"),
        col("term_micro"), col("psi_micro"))
      .orderBy("bin")
  }

  /** Zipf's-law fit over the term frequency distribution — the corpus
    * health number beside Heaps'-law vocab growth ([[vocabGrowth]]): a
    * natural-language corpus shows log(freq) ≈ intercept − s·log(rank)
    * with s ≈ 1; boilerplate-heavy or templated corpora bend the line.
    * OLS over the top `topN` terms ranked by (freq desc, token):
    * x = ln(rank), y = ln(freq), both rounded to integer micro
    * IMMEDIATELY (header note: ~1e-9 flip odds per term), then the
    * closed-form slope num/den = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) in
    * exact decimal integers (micro² products pass int64 at n=1000);
    * slope_micro = 10⁶·num div den, intercept_micro = (Σy·den − num·Σx)
    * div (n·den).
    *
    * Scale shape: the corpus-sized work is one tokenize scan + the
    * map-side-combined term count; top-N is a TakeOrdered (never a
    * global sort), and the rank window rides the ≤topN-row survivors.
    */
  def zipfFit(df: DataFrame, textCol: Column, topN: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topN >= 3 && topN <= 100000)
    val counts = df.select(explode(tokens(textCol)).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(topN)
    val ranked = counts
      .withColumn("rank", row_number()
        .over(Window.partitionBy(lit(0))
          .orderBy(col("cnt").desc, col("token"))).cast("long"))
      .withColumn("x", round(lit(1000000.0) * log(col("rank").cast("double")))
        .cast("long"))
      .withColumn("y", round(lit(1000000.0) * log(col("cnt").cast("double")))
        .cast("long"))
    ranked.agg(count(lit(1)).as("nt"),
        sum(col("x").cast("decimal(18,0)")).as("sx"),
        sum(col("y").cast("decimal(18,0)")).as("sy"),
        sum(col("x").cast("decimal(18,0)") * col("y").cast("decimal(18,0)"))
          .as("sxy"),
        sum(col("x").cast("decimal(18,0)") * col("x").cast("decimal(18,0)"))
          .as("sxx"))
      .select(col("nt").as("n_terms"),
        // NULL on a zero-variance rank domain (< 2 distinct terms)
        // rather than an engine-divergent division error
        when(expr("nt * sxx - sx * sx") > 0,
          expr("""(1000000 * (nt * sxy - sx * sy))
                 | div (nt * sxx - sx * sx)""".stripMargin)).as("slope_micro"),
        when(expr("nt * sxx - sx * sx") > 0,
          expr("""(sy * (nt * sxx - sx * sx) - (nt * sxy - sx * sy) * sx)
                 | div (nt * (nt * sxx - sx * sx))""".stripMargin))
          .as("intercept_micro"))
  }

  /** NDCG@k of the BM25 ranking against tf-graded relevance — the
    * standard "is the retriever putting the right documents first"
    * readout over the search family ([[bm25TopK]] ranks; this scores the
    * ranking). Relevance grade of a doc = min(Σ tf over the query terms,
    * 3); gain = 2^grade − 1 (the classic exponential gain); discount
    * weight w_i = round(10⁶ / log₂(i+1)) — data-INDEPENDENT, verified
    * bit-identical between JDK and DuckDB for all i ≤ 20. DCG = Σ
    * gain_i·w_i over the BM25 top-k order (score desc, doc_id); IDCG =
    * the same discounts over the corpus-wide ideal order (gain desc —
    * the sum depends only on the gain multiset, so ties cost nothing);
    * ndcg_micro = 10⁶·dcg div idcg. Everything after the two rankings is
    * integer arithmetic on ≤k rows.
    *
    * Scale shape: both rankings are TakeOrderedAndProject over one
    * tokenize scan (the tf table is restricted to the query terms before
    * any shuffle); the window rides the ≤k-row shortlist.
    */
  def ndcgAtK(df: DataFrame, idCol: Column, textCol: Column,
              terms: Seq[String], k: Int = 10,
              k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(terms.nonEmpty && k >= 1 && k <= 20)
    val weight = expr(
      "cast(round(1000000.0D / (ln(cast(pos + 1 as double)) / ln(2.0D))) as bigint)")
    // per-doc gain from the query-term tf sum (docs without any term
    // never enter either ranking's top-k with gain > 0 contribution)
    val gains = df.select(idCol.as("doc_id"), tokens(textCol).as("words"))
      .select(col("doc_id"), explode(col("words")).as("token"))
      .filter(col("token").isin(terms.map(lit): _*))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("tfsum"))
      .withColumn("gain",
        expr("shiftleft(1L, cast(least(tfsum, 3L) as int)) - 1L"))
      .select(col("doc_id"), col("gain"))
    val top = bm25TopK(df, idCol, textCol, terms, k, k1, b)
      .withColumn("pos", row_number().over(Window.partitionBy(lit(0))
        .orderBy(col("score_micro").desc, col("doc_id"))).cast("long"))
    val dcg = top.join(gains, Seq("doc_id"), "left")
      .select((coalesce(col("gain"), lit(0L)) * weight).as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("dcg"))
    val ideal = gains.orderBy(col("gain").desc, col("doc_id")).limit(k)
      .withColumn("pos", row_number().over(Window.partitionBy(lit(0))
        .orderBy(col("gain").desc, col("doc_id"))).cast("long"))
      .select((col("gain") * weight).as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("idcg"))
    dcg.crossJoin(ideal)
      .select(lit(k.toLong).as("k"), col("dcg").as("dcg_micro"),
        col("idcg").as("idcg_micro"),
        when(col("idcg") > 0L, expr("(1000000 * dcg) div idcg"))
          .as("ndcg_micro"))
  }
}
