package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape guard over EVERY shipped query: no unintended nested-loop
  * or cartesian joins may appear. The whitelist names the queries whose
  * cross products are the documented intent — exact brute-force baselines
  * and single-row scalar broadcasts — so a regression that degrades an
  * equality join into a nested loop (lost key, type mismatch, optimizer
  * change) fails CI instead of melting a cluster.
  */
class PlanAuditSpec extends AnyFunSuite {
  import TestSession._

  /** Cross products that are the point of the query, not an accident —
    * each with a CLAIMED bound on the measured row count of the join's
    * SMALLER side (the broadcast/build side at scale). Like the window
    * audit's cardinality claims, these are verified by MEASUREMENT: the
    * audit executes every allowlisted query and asserts each cross /
    * nested-loop join's smaller side stays within its claim — an
    * accidental corpus-sized cross can no longer hide behind its query's
    * name. Bounds: 16 = scalar/stat broadcast rows; 4096 = quantizer
    * centroid tables; 65536 = the KS common-ECDF value grid (one series
    * pair's distinct values); 131072 = the capRows gate (100k) + slack
    * for the by-design brute all-pairs baselines.
    */
  private val intendedCrossBound: Map[String, Long] = Map(
    "ann_cosine_topk" -> 131072,        // exact brute-force baseline behind capRows
    "dedup_embedding_cosine" -> 131072, // exact threshold baseline behind capRows
    "ann_ivf_topk" -> 4096,             // broadcast of the (tiny) centroid table
    "dedup_semantic" -> 4096,           // same ivfAssign centroid broadcast
    "emb_cluster_sample" -> 4096,       // same ivfAssign centroid broadcast
    "emb_cell_outliers" -> 4096,        // same ivfAssign centroid broadcast
    "ann_ivfpq_topk" -> 4096,           // centroid broadcast (both sides tiny)
    "ann_ivf_recall" -> 4096,           // 32-query exact panel + centroid broadcast
    "q22_idle_balances" -> 16,          // single-row scalar-threshold broadcast
    "q11_nation_concentration" -> 16,   // single-row global-total broadcast (Q11 HAVING)
    "text_bm25_topk" -> 16,             // single-row corpus-stats (N, avgdl) broadcast
    "text_bm25_from_index" -> 16,       // same single-row stats broadcast, index-served
    "ann_ivfpq_rerank" -> 4096,         // embeds ann_ivfpq_topk's centroid broadcast
    "text_rrf_fusion" -> 131072,        // embeds bm25's stats broadcast + the brute dense baseline
    "ann_int8_topk" -> 131072,          // quantized brute-force scoring behind capRows
    "emb_margin_pairs" -> 131072,       // exact all-pairs margin baseline behind capRows
    "quality_lm_score" -> 16,           // single-row vocabulary-size broadcast
    "corpus_quality_gate" -> 16,        // embeds quality_lm_score's vocab broadcast
    "corpus_source_report" -> 16,       // gate rollup + single-row total-token broadcast
    "ts_update_first" -> 16,            // single-row first-match-id broadcast
    "text_collocations" -> 16,          // two single-row corpus-total broadcasts (Nt, Nb)
    "events_sliding_dau" -> 16,         // single-row max-day cap broadcast
    "part_basket_lift" -> 16,           // single-row global order-count broadcast
    "agg_equidepth" -> 16,              // single-row percentile-edges broadcast
    "agg_cm_counts" -> 16,              // single-row count-min sketch broadcast
    "agg_kmv_overlap" -> 64,            // |types|-row sketch-pair cross: intended tiny nested loop
    "quality_ks_matrix" -> 65536,       // |sources|-row grid cross: the common-ECDF-grid build
    "graph_modularity" -> 16,           // single-row edge-count (m) broadcast
    "events_survival_km" -> 16,         // single-row corpus-frontier (max ts) broadcast
    "quality_calibration" -> 1024,      // decile-lattice theta joins: <= buckets^2 per side
    "quality_brier" -> 1024,            // embeds the same decile lattice
    "events_lorenz" -> 16,              // single-row grand-total broadcast
    "quality_psi" -> 16,                // single-row boundary-array broadcast
    "quality_roc" -> 16,                // single-row (P, N) totals broadcast
    "quality_pr" -> 16,                 // single-row P total broadcast
    "graph_eff_diameter" -> 16,         // single-row reach-total broadcast
    "text_ndcg" -> 32,                  // bm25 stats broadcast + the 1×1 dcg×idcg cross
    "ts_dtw" -> 64,                     // |series|-row profile-pair cross: bounded domain
    "events_ab_cuped" -> 16,            // single-row pooled-sufficient-stats broadcast
    "events_ab_logrank" -> 16)          // 1-row frontier + 1-row group-totals broadcasts
  private val intendedCross: Set[String] = intendedCrossBound.keySet

  /** Grouping-key names whose domain is bounded by construction — an
    * aggregate keyed ONLY on these produces O(domain) rows no matter the
    * corpus size, so a partition-less window directly above it is a
    * bounded-table presentation window, not a scale defect. Keys like
    * doc_id / custkey / vec_id are deliberately NOT here: an aggregate on
    * them is corpus-sized and a global window over it is the single-task
    * ntile regression this guard exists to catch.
    *
    * This whitelist is the audit's trust boundary — and since round 11
    * the trust is VERIFIED, not assumed: each name carries its claimed
    * domain cardinality, and for every partition-less window whose
    * boundedness proof rests on these names the audit EXECUTES the query
    * and asserts the window's actual input row count (its runtime
    * numOutputRows metric — a window preserves cardinality) stays within
    * the product of its proof aggregates' claimed domains. Renaming a
    * corpus-sized key to "bucket" now fails CI on the measured rows, not
    * just in review. A new entry still needs a domain-bound argument
    * (why is the key's cardinality independent of corpus size?) and a
    * cardinality honest at the spec's sf0.001 fixture — prefer adding a
    * new specific name over widening an existing generic one.
    */
  private val boundedKeyCard: Map[String, Long] = Map(
    "__pid" -> 1024,   // Rank offsets: ≤ numShufflePartitions rows
    "decile" -> 128,   // lift/vocab rollups: ≤ buckets rows
    "stage" -> 16,     // funnel stages: enumerated
    "digit" -> 9,      // benford: 9 rows
    "lag" -> 128,      // acf/ccf: ≤ maxLag rows
    "n_tok" -> 4096,   // curriculum length histogram: ≤ distinct doc lengths
    "tok_len" -> 4096, // length-bucket variants
    "bucket" -> 128,   // fixed bucket counts
    "bin" -> 128,      // PSI bins: ≤ buckets rows (quantile bin index)
    "phase" -> 16,     // curriculum phases: ≤ nPhases
    "source" -> 64,    // corpus sources: enumerated small dimension
    "grid_v" -> 65536, // ks ECDF grid: ≤ distinct values of ONE series pair
    "week" -> 512,     // funnel/cohort week offsets: calendar-bounded
    "series" -> 64,    // telemetry series ids: enumerated small dimension
    "h" -> 8784, "hr" -> 8784) // hour buckets: calendar-bounded
  private val boundedKeys: Set[String] = boundedKeyCard.keySet

  /** Walk below a partition-less window through per-row pass-through
    * nodes; the window's input is bounded iff the walk reaches a LIMIT,
    * a LocalTableScan, or an aggregate grouped only on [[boundedKeys]]
    * before any scan/join/generate — i.e. the global window rides a
    * provably small table, never corpus-shaped rows.
    */
  private def boundedBelow(p: org.apache.spark.sql.execution.SparkPlan): Boolean = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{ShuffleExchangeExec, ReusedExchangeExec}
    import org.apache.spark.sql.execution.window.WindowExec
    def keysBounded(keys: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression]) =
      keys.forall(k => boundedKeys(k.name))
    p match {
      case _: LocalLimitExec | _: GlobalLimitExec | _: TakeOrderedAndProjectExec => true
      case _: LocalTableScanExec => true
      case a: HashAggregateExec => keysBounded(a.groupingExpressions) || boundedBelow(a.child)
      case a: ObjectHashAggregateExec => keysBounded(a.groupingExpressions) || boundedBelow(a.child)
      case a: SortAggregateExec => keysBounded(a.groupingExpressions) || boundedBelow(a.child)
      case t: InMemoryTableScanExec => boundedBelow(t.relation.cachedPlan)
      case a: AdaptiveSparkPlanExec => boundedBelow(a.executedPlan)
      case s: adaptive.QueryStageExec => boundedBelow(s.plan)
      case r: adaptive.AQEShuffleReadExec => boundedBelow(r.child)
      case r: ReusedExchangeExec => boundedBelow(r.child)
      case e: ShuffleExchangeExec => boundedBelow(e.child)
      case e: exchange.BroadcastExchangeExec => boundedBelow(e.child)
      // a join of two bounded tables stays bounded (rollup-side joins:
      // decile×decile, per-series stats × per-hour buckets)
      case j: joins.BaseJoinExec => j.children.forall(boundedBelow)
      case _: ProjectExec | _: FilterExec | _: SortExec | _: CoalesceExec |
           _: WindowExec | _: WholeStageCodegenExec | _: InputAdapter =>
        boundedBelow(p.children.head)
      case _ => false
    }
  }

  /** The PROVEN row bound of a bounded window input, and whether that
    * proof rests anywhere on the NAME-TRUSTED key whitelist (which a
    * corpus-sized aggregate could launder through a rename — those
    * windows get a runtime cardinality check). None = not provably
    * bounded (the static walk already failed it). Structural bounds
    * (LIMIT values, local-table sizes, global aggregates) carry their
    * own cardinality so a join of a LIMIT side with a bounded-key
    * aggregate gets the honest product allowance, not just the
    * aggregate's share.
    */
  private def trustBound(p: org.apache.spark.sql.execution.SparkPlan)
      : Option[(Long, Boolean)] = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{ShuffleExchangeExec, ReusedExchangeExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val cap = 1L << 40
    def mul(a: Long, b: Long): Long = math.min(cap, math.max(1L, a) * math.max(1L, b))
    def agg(keys: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression],
            child: SparkPlan): Option[(Long, Boolean)] =
      if (keys.isEmpty) Some((1L, false)) // global aggregate: exactly one row
      else if (keys.forall(k => boundedKeys(k.name)))
        Some((keys.map(k => boundedKeyCard(k.name)).foldLeft(1L)(mul), true))
      else trustBound(child)
    p match {
      case l: GlobalLimitExec => Some((l.limit.toLong, false))
      case l: TakeOrderedAndProjectExec => Some((l.limit.toLong, false))
      // a bare LocalLimit bounds each PARTITION; global rows ≤ limit ×
      // partitions — bound with a generous partition allowance
      case l: LocalLimitExec => Some((mul(l.limit.toLong, 4096L), false))
      case t: LocalTableScanExec => Some((t.rows.size.toLong, false))
      case a: HashAggregateExec => agg(a.groupingExpressions, a.child)
      case a: ObjectHashAggregateExec => agg(a.groupingExpressions, a.child)
      case a: SortAggregateExec => agg(a.groupingExpressions, a.child)
      case t: InMemoryTableScanExec => trustBound(t.relation.cachedPlan)
      case a: AdaptiveSparkPlanExec => trustBound(a.executedPlan)
      case s: adaptive.QueryStageExec => trustBound(s.plan)
      case r: adaptive.AQEShuffleReadExec => trustBound(r.child)
      case r: ReusedExchangeExec => trustBound(r.child)
      case e: ShuffleExchangeExec => trustBound(e.child)
      case e: exchange.BroadcastExchangeExec => trustBound(e.child)
      case j: joins.BaseJoinExec =>
        val sides = j.children.map(trustBound)
        if (sides.exists(_.isEmpty)) None
        else Some((sides.flatten.map(_._1).foldLeft(1L)(mul),
          sides.flatten.exists(_._2)))
      case _: ProjectExec | _: FilterExec | _: SortExec | _: CoalesceExec |
           _: WindowExec | _: WholeStageCodegenExec | _: InputAdapter =>
        trustBound(p.children.head)
      case _ => None
    }
  }

  /** Every node of an executed plan INCLUDING the subtrees AQE and the
    * cache hide as members rather than children (QueryStageExec.plan,
    * AdaptiveSparkPlanExec.executedPlan, InMemoryTableScan.cachedPlan) —
    * plain `.collect` stops at a query-stage boundary and would miss a
    * window running inside one.
    */
  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val below = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case t: InMemoryTableScanExec => Seq(t.relation.cachedPlan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => p.children
    }
    p +: below.flatMap(allNodes)
  }

  /** The measured row count flowing INTO a window: WindowExec itself has
    * no numOutputRows metric in Spark 4, so descend through
    * cardinality-PRESERVING nodes only (exchanges, query stages, sorts,
    * codegen shells — none change row count) until a node that carries
    * one (aggregates, filters, scans all do). None = no metric reachable
    * without crossing a cardinality-changing node — treated as a loud
    * audit failure, never a silent pass.
    */
  private def inputRows(p: org.apache.spark.sql.execution.SparkPlan): Option[Long] = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.window.WindowExec
    p.metrics.get("numOutputRows").map(_.value).orElse(p match {
      case s: QueryStageExec => inputRows(s.plan)
      case e: ShuffleExchangeExec => inputRows(e.child)
      case e: exchange.BroadcastExchangeExec => inputRows(e.child)
      case r: AQEShuffleReadExec => inputRows(r.child)
      case r: ReusedExchangeExec => inputRows(r.child)
      case _: SortExec | _: WholeStageCodegenExec | _: InputAdapter |
           _: ProjectExec | _: WindowExec | _: CoalesceExec =>
        inputRows(p.children.head)
      case _ => None
    })
  }

  for ((name, q) <- SparkEntry.queries) {
    test(s"$name: no partition-less window over an unbounded input") {
      // a WindowExec with an empty partitionSpec funnels its entire input
      // through ONE task — the recurring corpus-scale ntile defect class
      // (vocabGrowth/classifierLift pre-round-10). This guard makes it a
      // CI failure: a global window is legal only over a provably bounded
      // table (limit / bounded-key aggregate below it).
      import org.apache.spark.sql.execution.window.WindowExec
      val df = q(spark, sf)
      val bad = df.queryExecution.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty && !boundedBelow(w.child) => w
      }
      assert(bad.isEmpty,
        s"partition-less WindowExec over unbounded input in $name (single-task at scale):\n${bad.mkString("\n")}")
      // Cardinality proof for the name-trusted windows: the static walk
      // trusts key NAMES, which a corpus-sized aggregate could reuse. If
      // any global window's bound rests on the whitelist, execute the
      // query and assert each such window's MEASURED input rows (its
      // numOutputRows metric — a window preserves cardinality) fit the
      // product of its proof aggregates' claimed domain cardinalities.
      val trusted = df.queryExecution.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => trustBound(w.child)
      }.exists(_.exists(_._2))
      if (trusted) {
        val ran = q(spark, sf)
        ran.collect() // AQE finalizes + metrics populate only on execution
        val checked = allNodes(ran.queryExecution.executedPlan).collect {
          case w: WindowExec if w.partitionSpec.isEmpty &&
              trustBound(w.child).exists(_._2) =>
            val allowance = trustBound(w.child).get._1
            val metric = inputRows(w.child)
            assert(metric.isDefined,
              s"window in $name carries no numOutputRows metric — cardinality unverifiable:\n$w")
            assert(metric.get <= allowance,
              s"global window in $name measured ${metric.get} input rows, over its " +
                s"claimed domain bound $allowance " +
                "— a corpus-sized aggregate is hiding behind a whitelisted key name")
            1
        }.sum
        assert(checked > 0,
          s"$name: static walk found a name-trusted global window but the executed plan shows none to verify")
      }
    }

    test(s"$name: no unintended nested-loop or cartesian join") {
      if (!intendedCross(name)) {
        val plan = q(spark, sf).queryExecution.executedPlan.toString
        assert(!plan.contains("CartesianProduct"),
          s"unexpected CartesianProduct in $name:\n$plan")
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"unexpected BroadcastNestedLoopJoin in $name:\n$plan")
      } else {
        // allowlisted — but trust is MEASURED (the window-audit move):
        // execute and assert every cross/nested-loop join's smaller side
        // stays within the name's claimed bound. AQE may plan the tiny
        // side as a broadcast hash join instead — zero such nodes is a
        // legitimate (stronger) outcome, nothing to measure then.
        import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
        val ran = q(spark, sf)
        ran.collect() // AQE finalizes + metrics populate only on execution
        allNodes(ran.queryExecution.executedPlan).foreach {
          case j @ (_: BroadcastNestedLoopJoinExec | _: CartesianProductExec) =>
            val sides = j.children.flatMap(c => inputRows(c))
            assert(sides.nonEmpty,
              s"cross join in $name carries no measurable side:\n$j")
            val bound = intendedCrossBound(name)
            assert(sides.min <= bound,
              s"cross join in $name measured smaller side ${sides.min} rows, over " +
                s"its claimed bound $bound — an accidental corpus-sized cross " +
                "is hiding behind the allowlisted name")
          case _ =>
        }
      }
    }
  }

  test("all-pairs baselines are gated: capRows passes small frames, strides big ones") {
    val emb = Tables.embeddings(spark, sf)
    val n = emb.count()
    // below the cap the frame passes through untouched — oracles see every row
    assert(SparkEntry.capRows(emb, "vec_id").count() === n)
    // above the cap: a deterministic hash-stride sample, bounded near the cap
    val capped = SparkEntry.capRows(emb, "vec_id", cap = 50L)
    val m = capped.count()
    assert(m < n, "gate must shrink an over-cap frame")
    assert(m <= 4 * 50, s"stride sample should land near the cap, got $m")
    // the gate is a plain pushable predicate, not a shuffle or a limit
    assert(capped.queryExecution.optimizedPlan.toString.toLowerCase.contains("xxhash64"))
    assert(!capped.queryExecution.executedPlan.toString.contains("Exchange"))
    // deterministic: the same rows come back on a fresh plan
    val again = SparkEntry.capRows(Tables.embeddings(spark, sf), "vec_id", cap = 50L)
    assert(capped.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq ===
      again.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("join-heavy queries survive broadcast being disabled (the 100x plan)") {
    // at 1000 executors the filtered customer/supplier/part sides exceed
    // any broadcast threshold — force every join to shuffle and assert
    // results are unchanged (the plan the cluster would actually run)
    // the graph_* keys gate their explicit broadcasts on measured sizes;
    // with broadcasting off every gate takes its shuffle fallback, and
    // graph_pagerank, graph_kcore and dedup_clusters leave their
    // driver-side rounds for the distributed ones
    val names = Seq("q3_top_revenue", "q5_region_revenue", "q17_small_qty_revenue",
      "ts_lookup_join", "q9_part_profit", "q16_supplier_variety",
      "q2_min_cost_supplier", "q20_concentrated_shippers",
      "graph_kcore", "graph_bfs", "graph_walks", "graph_betweenness",
      "graph_harmonic", "graph_pagerank", "dedup_clusters")
    val before = names.map(n => n ->
      SparkEntry.queries(n)(spark, sf).collect().map(_.toSeq).toSeq).toMap
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      names.foreach { n =>
        val shuffled = SparkEntry.queries(n)(spark, sf).collect().map(_.toSeq).toSeq
        assert(shuffled === before(n), s"$n changed results under shuffle-only joins")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("char gini reads only (doc_id, text) and adds no exchange") {
    // the op's contract is 100% map-side: a shuffle or a wider scan
    // schema would silently break the zero-shuffle claim
    val plan = SparkEntry.queries("quality_char_gini")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"gini scan reads more than (doc_id, text):\n$plan")
    // one exchange appears only for the final orderBy presentation sort
    assert(!plan.contains("hashpartitioning"),
      s"gini plans a hash exchange it should not need:\n$plan")
  }

  test("pca scores and random projection plan as pure literal-matrix scans") {
    // both ops broadcast nothing and join nothing — the vectors ride the
    // plan as literals; any hash exchange means the shape regressed
    for (name <- Seq("emb_pca_scores", "emb_random_projection")) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("hashpartitioning"),
        s"$name plans a hash exchange it should not need:\n$plan")
      assert(plan.contains("ReadSchema: struct<vec_id:bigint,embedding"),
        s"$name scan reads more than (vec_id, embedding):\n$plan")
    }
  }

  test("busy-time sweep plans one key exchange, no self-join") {
    val plan = SparkEntry.queries("events_busy_time")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"interval sweep must not join:\n$plan")
    assert(plan.sliding("hashpartitioning(key".length)
      .count(_ == "hashpartitioning(key") <= 2,
      s"more key exchanges than window+agg need:\n$plan")
  }

  test("chunk overlap is one scan with no exchange before the presentation sort") {
    // the op's contract: tokenize + explode + slice, map-side only — a
    // hash exchange or a wider scan schema breaks the zero-shuffle claim
    val plan = graft.ops.TextAnalysis.chunkOverlap(
        Tables.documents(spark, sf), org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning"),
      s"chunking plans a hash exchange it should not need:\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"chunking reads more than (doc_id, text):\n$plan")
  }

  test("curriculum shuffles per-doc rows only on the length key") {
    // the per-doc window must partition by n_tok (bounded-domain key);
    // a single-partition global window would be the scale regression
    val plan = SparkEntry.queries("corpus_curriculum")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(n_tok"),
      s"curriculum lost its per-length window partitioning:\n$plan")
    // the phase must come from the closed-form rank arithmetic — Spark's
    // own ntile would mean a single-partition window over every doc
    assert(!plan.contains("ntile"),
      s"curriculum regressed to a global ntile window:\n$plan")
  }

  test("seasonal profile broadcasts the per-series means back") {
    val plan = SparkEntry.queries("ts_seasonal_profile")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"series-mean join-back is not broadcast:\n$plan")
  }

  test("q19's disjunctive predicate derives pushable per-side filters") {
    // the whole point of the Q19 pattern: Catalyst must extract the
    // single-side implications of the OR (brand IN, size/quantity bounds)
    // and push them into the scans, even though the full cross-side OR
    // can only run post-join
    val plan = SparkEntry.queries("q19_brand_revenue")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), s"no pushed filters:\n$plan")
    assert(plan.contains("EqualTo(p_brand,Brand#1)"),
      s"brand disjunction not pushed to the part scan:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(l_quantity,10.0)"),
      s"quantity disjunction not pushed to the lineitem scan:\n$plan")
  }

  test("find filter and projection reach the parquet scan") {
    val plan = SparkEntry.queries("ts_find_filter_project")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), s"no pushed filters:\n$plan")
    assert(plan.contains("GreaterThan(value,"), s"value filter not pushed:\n$plan")
  }

  test("weighted sample plans as a top-k, never a global sort") {
    // per-partition heaps + one k-row merge; a Sort + Limit pair instead
    // would shuffle the whole corpus at 100 TB
    val plan = graft.ops.TextAnalysis.weightedSample(
        Tables.documents(spark, sf), "doc_id", org.apache.spark.sql.functions.col("n_chars"), 100)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"weighted sample lost its top-k plan:\n$plan")
  }

  test("heavy-hitter confirm pass broadcasts the candidate set") {
    // the second pass must semi-join against ≤ k candidates via broadcast;
    // a shuffle join here would defeat the sketch's purpose
    val plan = SparkEntry.queries("corpus_heavy_tokens")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"candidate join is not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"unexpected shuffle join in the confirm pass:\n$plan")
  }

  test("bloom probe filters the corpus scan stage, below every exchange") {
    // the prefilter's whole value is dropping grams MAP-SIDE: the
    // graft_bloom_contains filter must sit in the same pre-shuffle stage
    // as the documents scan, not after a join or aggregate
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val exec = SparkEntry.queries("corpus_decontaminate_bloom")(spark, sf)
      .queryExecution.executedPlan
    val root = exec match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val probeFilters = root.collect {
      case f: FilterExec if f.condition.toString.contains("graft_bloom_contains") => f
    }
    assert(probeFilters.nonEmpty, s"bloom probe filter not found:\n$root")
    probeFilters.foreach { f =>
      // spread()'s round-robin repartition of the RAW documents (pre-gram
      // parallelism for small inputs) is fine below the probe; what must
      // never happen is a hash-partition exchange of the exploded grams
      // before the probe drops them
      val hashExchanges = f.collect {
        case e: Exchange if e.outputPartitioning.toString.contains("hashpartitioning") => e
      }
      assert(hashExchanges.isEmpty,
        s"grams are hash-shuffled BELOW the bloom probe — the prefilter runs post-shuffle:\n$f")
    }
  }

  test("paragraph dedup plans as window + aggregate, never a join") {
    // the naive span-dedup spelling joins each chunk against the
    // first-occurrence table — O(chunks) extra shuffle and a potential
    // skew join on hot boilerplate; the shipped plan must keep the
    // first-occurrence-wins rule inside ONE window over md5(chunk)
    val plan = SparkEntry.queries("corpus_dedup_paragraph")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"),
      s"span dedup must not join:\n$plan")
    assert(plan.contains("Window"), s"expected the md5-window plan:\n$plan")
  }

  test("gated capture is a broadcast semi join; the data side never shuffles") {
    // the op's 100 TB contract: intervals (tiny control fold) broadcast,
    // data rows pass through a LEFT SEMI probe — no exchange, no widening
    // of the data scan
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val plan = SparkEntry.queries("events_gated_capture")(spark, sf)
      .queryExecution.sparkPlan
    val semi = plan.collect {
      case j: BroadcastHashJoinExec if j.joinType.sql == "LEFT SEMI" => j
    }
    assert(semi.nonEmpty, s"expected a broadcast left-semi gate:\n$plan")
    // the data (probe) side of the semi join must reach the scan with no
    // shuffle — only the presentation orderBy above the join may exchange
    val data =
      if (semi.head.buildSide.toString.contains("Right")) semi.head.left
      else semi.head.right
    assert(data.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      s"data side of the gate shuffles:\n${semi.head}")
  }

  test("tfidf pays the corpus scan and tf aggregation once at runtime") {
    // tf feeds both the per-doc side and the df (document frequency)
    // rollup; Catalyst prunes the branches differently so exchange reuse
    // can't fire — the operator must instead persist tf, and both
    // branches must read the cache (otherwise the corpus is scanned and
    // the O(doc·token) shuffle paid twice at any scale)
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    try {
      val df = SparkEntry.queries("text_tfidf_topk")(spark, sf)
      df.collect() // AQE finalizes the plan only during execution
      val root = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val s = root.toString
      val cached = "InMemoryTableScan".r.findAllIn(s).length
      assert(cached >= 2,
        s"expected both tfidf branches to read the cached tf table, saw $cached InMemoryTableScan(s):\n$s")
    } finally ops.Dedup.unpersistShared()
  }

  test("ckptPartitioned keeps the hash partitioning and restores AQE exactly") {
    // the checkpointed spine of every iterative graph op: downstream
    // groupBys/joins on the key must plan no exchange, and the AQE flag
    // the helper flips while planning must read back as it was
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.functions.col
    val aqe = "spark.sql.adaptive.enabled"
    val df = spark.range(200).select((col("id") % 13).as("key"), col("id").as("v"))
    // the session's own setting comes back, unset included, afterwards
    ops.OpCache.withConf(spark, aqe, "true") {
      for (setting <- Seq(None, Some("true"), Some("FALSE"))) {
        setting.fold(spark.conf.unset(aqe))(spark.conf.set(aqe, _))
        val before = spark.conf.getOption(aqe) // unset reads the default
        val wasSet = spark.sessionState.conf.contains(aqe)
        val ck = ops.OpCache.ckptPartitioned(df.repartition(3, col("key")))
        assert(spark.conf.getOption(aqe) === before, s"AQE setting $setting not restored")
        assert(spark.sessionState.conf.contains(aqe) === wasSet,
          s"AQE setting $setting: the key was ${if (wasSet) "unset" else "left set"}")
        val parts = ck.queryExecution.analyzed.collect {
          case r: LogicalRDD => r.outputPartitioning
        }
        assert(parts.size === 1 && (parts.head match {
          case HashPartitioning(Seq(a: Attribute), 3) => a.name == "key"
          case _ => false
        }), s"AQE $setting: checkpoint partitioning $parts, expected hashpartitioning(key, 3)")
        val plan = ck.groupBy(col("key")).count().queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"AQE $setting: groupBy on the checkpoint key re-shuffles:\n$plan")
      }
    }
  }

  test("graph operators over one pairs frame share one cached canonical edge list") {
    // triangles, kCore, kTruss, bfs, modularity and assortativity each
    // cache the canonical edges; CacheManager serves them all from one
    // materialization only while every operator builds the same plan
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel
    // K4 + a pendant, with a reversed duplicate and a self-loop
    val pairs = Seq((1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 5L)).toDF("src", "dst")
    val lab = Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L), (5L, 1L)).toDF("node", "lbl")
    def shared = ops.Graph.canonicalEdges(pairs, cache = false).storageLevel
    val runs: Seq[(String, () => Unit)] = Seq(
      "triangles" -> (() => ops.Graph.triangles(pairs).collect()),
      "kCore" -> (() => ops.Graph.kCore(pairs, 2).collect()),
      "kTruss" -> (() => ops.Graph.kTruss(pairs, 3).collect()),
      "bfs" -> (() => ops.Graph.bfs(pairs, Seq(1L)).collect()),
      "modularity" -> (() => ops.Graph.modularity(pairs, lab).collect()),
      "assortativity" -> (() => ops.Graph.assortativity(pairs).collect()))
    try {
      for ((name, run) <- runs) {
        ops.Dedup.unpersistShared()
        assert(shared === StorageLevel.NONE)
        run()
        assert(shared !== StorageLevel.NONE,
          s"$name did not cache the shared canonical edge list")
      }
    } finally ops.Dedup.unpersistShared()
  }

  test("connected components, pageRank and kCore on a small graph start at most 2-3 jobs") {
    // the driver path's whole cost is the gate's one read of the edge
    // list; the rounds, the result relation and collecting it start none.
    // kCore reads the shared canonical edge list, whose distinct is one
    // more job (its shuffle stage) and whose first use one more (AQE
    // materializes a fresh cache with a shuffle in its own stage)
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.functions.col
    val sc = spark.sparkContext
    val prop = "graft.test.jobProbe"
    // (job id, its stages' call sites) per job the body started
    def jobsOf(name: String)(body: => Unit): Seq[(Int, String)] = {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (e.properties != null && e.properties.getProperty(prop) == name)
            seen.add(e.jobId -> e.stageInfos.map(_.name).mkString(" + "))
      }
      sc.addSparkListener(listener)
      sc.setLocalProperty(prop, name)
      try {
        body
        // listener events arrive in order: once a marker job is seen,
        // every job the body started has been counted
        val marker = sc.parallelize(Seq(1), 1).countAsync()
        marker.get()
        def jobs = scala.jdk.CollectionConverters.IteratorHasAsScala(seen.iterator).asScala.toSeq
        val deadline = System.nanoTime() + 30e9.toLong
        while (!jobs.exists(_._1 == marker.jobIds.head) && System.nanoTime() < deadline)
          Thread.sleep(20)
        assert(jobs.exists(_._1 == marker.jobIds.head), s"$name: listener never saw the marker job")
        jobs.filter(_._1 != marker.jobIds.head)
      } finally {
        sc.setLocalProperty(prop, null)
        sc.removeSparkListener(listener)
      }
    }
    // a ~300-edge near-duplicate-shaped graph: 50 chains of 6 nodes, a
    // few reversed duplicates and chords that close chains into cycles
    val edges = (0L until 50L).flatMap(c => (0L until 5L).map(i => (c * 10 + i, c * 10 + i + 1))) ++
      (0L until 40L).map(i => (i * 10 + 5, i * 10 + 4)) ++
      (0L until 20L).map(i => (i * 10, i * 10 + 5))
    val pairs = edges.toDF("id1", "id2").localCheckpoint()
    val graph = pairs.select(col("id1").as("src"), col("id2").as("dst"))
    try {
      val counts = Seq(
        ("connectedComponents", 2, jobsOf("cc")(ops.Dedup.connectedComponents(pairs).collect())),
        ("pageRank", 2, jobsOf("pr")(ops.Graph.pageRank(graph).collect())),
        ("kCore", 3, jobsOf("kcore")(ops.Graph.kCore(graph, 2).collect())))
      counts.foreach { case (op, bound, jobs) =>
        assert(jobs.size <= bound, s"$op started ${jobs.size} jobs on a small graph: $jobs") }
    } finally ops.Dedup.unpersistShared()
  }
}
