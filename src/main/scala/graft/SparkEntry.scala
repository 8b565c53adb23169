package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Documents
import graft.ops.{Analytics, Dedup, Graph, Multimodal, Similarity, TextAnalysis}
import graft.store.DocumentStore

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every query aliases output columns identically to its oracle SQL, orders
  * deterministically (unique tiebreak), avoids raw ns-timestamps (epoch
  * seconds) and folds float aggregates through exact decimal — see
  * SURVEY.md §6.
  */
object SparkEntry {
  type Q = (SparkSession, String) => DataFrame

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.pricingSummary(spark, "/root/testdata/sf0.001")

  private def ev(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)

  /** Scale gate for the four DECLARED all-pairs correctness baselines
    * (ann_cosine_topk, ann_int8_topk, dedup_embedding_cosine,
    * emb_margin_pairs — each a brute cross-score whose scale-safe
    * sibling ships separately: LSH/IVF/PQ/rerank, marginPairsLsh).
    * Ungated, pointing the registry at a big corpus would execute a
    * cross product; gated, the baseline runs on a deterministic
    * hash-stride sample of at most ~`cap` rows. Below the cap (every
    * driver sf: 500–2,000 embedding rows vs cap 100,000) the frame
    * passes through UNTOUCHED, so oracles are unaffected. The stride
    * filter is a plain xxhash64-mod predicate — pushed to the scan,
    * no shuffle, same rows every run.
    */
  private[graft] def capRows(df: DataFrame, idCol: String,
                             cap: Long = 100000L): DataFrame = {
    val n = df.count()
    if (n <= cap) df
    else df.filter(pmod(xxhash64(col(idCol)), lit((n + cap - 1) / cap)) === 0)
  }

  /** Reject duplicate keys LOUDLY: a `Map(...)` literal silently keeps
    * the last binding, so a name collision between two operators would
    * otherwise drop one query (and its oracle) from the driver gate
    * without any signal.
    */
  private def distinctByKey[V](pairs: Seq[(String, V)]): Map[String, V] = {
    val dups = pairs.groupBy(_._1).filter(_._2.size > 1).keys
    require(dups.isEmpty, s"duplicate query keys: ${dups.mkString(", ")}")
    pairs.toMap
  }

  def queries: Map[String, Q] = distinctByKey(Seq[(String, Q)](
    // ── §2a document-store surface ────────────────────────────────────
    "ts_find_filter_project" -> ((s, dir) =>
      DocumentStore.find(ev(s, dir),
          col("event_type") === "purchase" && col("value") > 50,
          Seq("event_id", "user_id", "value"))
        .orderBy("event_id")),

    "ts_find_by_id" -> ((s, dir) =>
      DocumentStore.findById(ev(s, dir), "event_id", 42L)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
          Documents.tsSec(col("ts")).as("ts_sec"))),

    "ts_find_by_session" -> ((s, dir) =>
      DocumentStore.findBySession(ev(s, dir), "user_id", 7L)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .orderBy("event_id")),

    "ts_count_documents" -> ((s, dir) =>
      DocumentStore.countDocuments(ev(s, dir), Some(col("event_type") === "click"))),

    "ts_distinct_sessions" -> ((s, dir) =>
      DocumentStore.distinctSessions(ev(s, dir), "user_id").orderBy("user_id")),

    "ts_unique_sessions_summary" -> ((s, dir) =>
      DocumentStore.uniqueSessions(ev(s, dir), "user_id", "ts").orderBy("session")),

    "ts_sort_limit" -> ((s, dir) =>
      DocumentStore.sortLimit(ev(s, dir).select("event_id", "value"),
        Seq(col("value").desc, col("event_id")), 50)),

    "ts_update_by_id" -> ((s, dir) =>
      DocumentStore.updateById(ev(s, dir), "event_id", 10L,
          Map("event_type" -> lit("converted"), "value" -> lit(99.99)))
        .filter(col("event_id").isin(9L, 10L, 11L))
        .select("event_id", "event_type", "value")
        .orderBy("event_id")),

    "ts_delete_by_id" -> ((s, dir) =>
      DocumentStore.deleteById(ev(s, dir), "event_id", 5L)
        .filter(col("event_id") < 10)
        .select("event_id")
        .orderBy("event_id")),

    "ts_update_where" -> ((s, dir) =>
      DocumentStore.updateWhere(ev(s, dir),
          col("event_type") === "click" && col("value") > 90,
          Map("event_type" -> lit("hot_click")))
        .filter(col("value") > 80)
        .select("event_id", "event_type", "value")
        .orderBy("event_id")),

    "ts_update_first" -> ((s, dir) =>
      DocumentStore.updateFirst(ev(s, dir), "event_id",
          col("event_type") === "purchase" && col("value") > 50,
          Map("value" -> lit(0.0)))
        .filter(col("event_type") === "purchase")
        .select("event_id", "value")
        .orderBy("event_id")
        .limit(100)),

    "ts_delete_where" -> ((s, dir) =>
      DocumentStore.deleteWhere(ev(s, dir),
          col("event_type") === "error" || col("value") < 1)
        .select("event_id")
        .orderBy("event_id")),

    "ts_delete_cascade" -> ((s, dir) => {
      val files = Tables.documents(s, dir).filter(col("doc_id") < 10)
      val chunks = DocumentStore.chunk(files, col("doc_id"), col("text"), 64)
      val (_, remaining) =
        DocumentStore.deleteCascade(files, chunks, "doc_id", col("doc_id").isin(3L, 5L))
      remaining.groupBy("files_id").agg(count(lit(1)).as("n_chunks")).orderBy("files_id")
    }),

    // metadata-only count: parquet footer row counts summed on executors,
    // no column data read — the `estimated_document_count` analog
    "ts_count_estimate" -> ((s, dir) => {
      val n = DocumentStore.countEstimate(s, s"$dir/events.parquet")
      s.range(1).select(lit(n).as("n"))
    }),

    "ts_find_meta_projection" -> ((s, dir) =>
      DocumentStore.findWithMeta(
          Documents.stampMeta(ev(s, dir), col("event_id"), col("user_id"), col("ts")),
          col("value") > 70, Seq("event_type", "value"))
        .orderBy("_id")),

    "ts_byte_sizes" -> ((s, dir) =>
      Documents.byteSizes(ev(s, dir)).orderBy("leaf")),

    // content-sniffing UTF-8/binary coercion: even event_ids carry valid
    // UTF-8 payloads, odd ones get an invalid 0xFF byte appended — the
    // oracle states the known ground truth per parity
    "ts_coerce_binary" -> ((s, dir) => {
      val withBin = ev(s, dir).filter(col("event_id") < 200)
        .select(col("event_id"),
          when(col("event_id") % 2 === 1,
            concat(encode(col("props"), "UTF-8"), unhex(lit("FF"))))
            .otherwise(encode(col("props"), "UTF-8")).as("payload"))
      Documents.coerceBinary(withBin)
        .select(col("event_id"),
          col("payload.text").isNotNull.as("is_text"),
          length(col("payload.text")).cast("long").as("text_len"),
          call_function("octet_length", col("payload.raw")).cast("long").as("raw_len"))
        .orderBy("event_id")
    }),

    // the read-back direction (MongoDBReverseParser): the write-side
    // union split round-trips through coerceReverse to the ORIGINAL
    // payload bytes, whichever side each row took
    "ts_coerce_reverse" -> ((s, dir) => {
      val withBin = ev(s, dir).filter(col("event_id") < 200)
        .select(col("event_id"),
          when(col("event_id") % 2 === 1,
            concat(encode(col("props"), "UTF-8"), unhex(lit("FF"))))
            .otherwise(encode(col("props"), "UTF-8")).as("payload"))
      Documents.coerceReverse(Documents.coerceBinary(withBin))
        .select(col("event_id"), hex(col("payload")).as("payload_hex"))
        .orderBy("event_id")
    }),

    "ts_insert_append" -> ((s, dir) =>
      DocumentStore.insert(
          ev(s, dir).select("event_id", "event_type"),
          s.range(1).select(lit(999999L).as("event_id"), lit("synthetic").as("event_type")))
        .orderBy(col("event_id").desc)
        .limit(5)),

    // batch merge: every 100th row updated (+1000), a shifted copy
    // inserted, everything else passes through untouched
    "ts_upsert_batch" -> ((s, dir) => {
      val store = ev(s, dir).select("event_id", "event_type", "value")
      val updates = store.filter(col("event_id") % 100 === 0)
        .withColumn("value", col("value") + 1000.0)
      val inserts = updates.select(
        (col("event_id") + 20000000L).as("event_id"), col("event_type"),
        lit(1.0).as("value"))
      DocumentStore.upsertBatch(store, updates.unionByName(inserts), "event_id")
        .orderBy("event_id")
    }),

    "ts_agg_pipeline" -> ((s, dir) =>
      DocumentStore.find(ev(s, dir), col("value") > 1)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          Analytics.dsum(col("value")).as("sum_value"),
          Analytics.davg(col("value")).as("avg_value"))
        .orderBy("event_type")),

    "ts_unwind_explode" -> ((s, dir) =>
      DocumentStore.unwind(
          Tables.documents(s, dir).filter(col("doc_id") < 2).select(col("doc_id"), col("text")),
          split(col("text"), " "), "word")
        .select("doc_id", "word")
        .orderBy("doc_id", "word")),

    "ts_lookup_join" -> ((s, dir) =>
      DocumentStore.lookup(
          ev(s, dir).filter(col("event_type") === "signup"),
          Tables.customer(s, dir),
          col("user_id") === col("c_custkey"))
        .select("event_id", "user_id", "c_name", "c_mktsegment")
        .orderBy("event_id")),

    "ts_flatten_docs" -> ((s, dir) =>
      Documents.flatten(
          ev(s, dir).select(
            col("event_id"),
            struct(
              struct(col("user_id").as("session"), Documents.tsSec(col("ts")).as("sys_time_sec")).as("meta"),
              struct(col("event_type"), col("value")).as("payload")).as("doc")))
        .orderBy("event_id")
        .limit(100)),

    "ts_session_meta" -> ((s, dir) =>
      Documents.stampMeta(ev(s, dir), col("event_id"), col("user_id"), col("ts"))
        .select("_id", "session", "sys_time_sec")
        .orderBy("_id")
        .limit(100)),

    "ts_chunk_binary" -> ((s, dir) =>
      DocumentStore.chunk(
          Tables.documents(s, dir).filter(col("doc_id") < 10),
          col("doc_id"), col("text"), 64)
        .orderBy("files_id", "n")),

    "ts_clone_incremental" -> ((s, dir) =>
      DocumentStore.cloneMissing(
          ev(s, dir).select("event_id", "event_type"),
          ev(s, dir).filter(col("event_id") % 2 === 0).select("event_id"),
          "event_id")
        .filter(col("event_id") < 20)
        .orderBy("event_id")),

    "ts_monitor_rates" -> ((s, dir) =>
      DocumentStore.monitorRates(ev(s, dir), col("event_type"), col("ts"), col("props"), "hour")
        .orderBy("topic", "window_start_sec")),

    "ts_monitor_hopping" -> ((s, dir) =>
      DocumentStore.monitorRatesHopping(ev(s, dir), col("event_type"), col("ts"), 3600L, 1800L)
        .orderBy("topic", "window_start_sec")),

    "ts_skip_on_error" -> ((s, dir) =>
      DocumentStore.skipOnError(ev(s, dir), get_json_object(col("props"), "$.k").cast("long"), "k")
        .agg(count(lit(1)).as("n_valid"), sum(col("k")).as("sum_k"))),

    "ts_type_coercion" -> ((s, dir) =>
      Documents.coerce(
          ev(s, dir).select(col("event_id"), col("event_id").cast("string").as("id_str"),
            col("value"), col("value").as("value_int"), (col("value") > 10).as("is_big")),
          Map("value_int" -> (c => floor(c).cast("long"))))
        .select("event_id", "id_str", "value_int", "is_big")
        .orderBy("event_id")
        .limit(200)),

    "ts_latest_snapshot" -> ((s, dir) =>
      DocumentStore.latestSnapshot(
          ev(s, dir).select(col("event_type"), col("event_id"),
            Documents.tsSec(col("ts")).as("ts_sec"), col("value")),
          col("event_type"), col("ts_sec"), col("event_id"))
        .withColumnRenamed("event_type", "topic")
        .orderBy("topic")),

    "ts_range_join" -> ((s, dir) => {
      val e = ev(s, dir)
      val sessions = DocumentStore.sessionize(e, col("user_id"),
        Documents.tsSec(col("ts")), col("event_id"), 7200L)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), Documents.tsSec(col("ts")).as("ts_sec"))
      DocumentStore.rangeJoinBinned(purchases, sessions, "user_id",
          "ts_sec", "start_sec", "end_sec", 86400L)
        .select("event_id", "user_id", "session_idx")
        .orderBy("event_id", "session_idx")
    }),

    "ts_asof_join" -> ((s, dir) => {
      val e = ev(s, dir).select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), Documents.tsSec(col("ts")).as("ts_sec"))
      val left = e.filter(col("event_type") === "purchase")
        .select("user_id", "ts_sec", "event_id", "value")
      val right = e.filter(col("event_type") === "click")
        .groupBy("user_id", "ts_sec").agg(max("event_id").as("mark_id"))
      DocumentStore.asofJoin(left, right, "user_id", "ts_sec", Seq("mark_id"))
        .orderBy("event_id")
    }),

    // the staleness-guarded variant: a click older than 10 minutes must
    // not be fused with the purchase just because nothing newer exists
    "ts_asof_tolerance" -> ((s, dir) => {
      val e = ev(s, dir).select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), Documents.tsSec(col("ts")).as("ts_sec"))
      val left = e.filter(col("event_type") === "purchase")
        .select("user_id", "ts_sec", "event_id", "value")
      val right = e.filter(col("event_type") === "click")
        .groupBy("user_id", "ts_sec").agg(max("event_id").as("mark_id"))
      DocumentStore.asofJoinTolerance(left, right, "user_id", "ts_sec",
          Seq("mark_id"), toleranceSec = 600L)
        .orderBy("event_id")
    }),

    // the mirror direction: each click takes the NEXT purchase at/after it
    "ts_asof_forward" -> ((s, dir) => {
      val e = ev(s, dir).select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), Documents.tsSec(col("ts")).as("ts_sec"))
      val left = e.filter(col("event_type") === "click")
        .select("user_id", "ts_sec", "event_id")
      val right = e.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts_sec").agg(min("event_id").as("next_id"))
      DocumentStore.asofJoinForward(left, right, "user_id", "ts_sec", Seq("next_id"))
        .orderBy("event_id")
    }),

    // nearest-in-time: each purchase pairs with the CLOSEST click either
    // side (backward wins ties) — the sensor-fusion matcher
    "ts_asof_nearest" -> ((s, dir) => {
      val e = ev(s, dir).select(col("event_id"), col("user_id"), col("event_type"),
        Documents.tsSec(col("ts")).as("ts_sec"))
      val left = e.filter(col("event_type") === "purchase")
        .select("user_id", "ts_sec", "event_id")
      val right = e.filter(col("event_type") === "click")
        .groupBy("user_id", "ts_sec").agg(max("event_id").as("mark_id"))
      DocumentStore.asofJoinNearest(left, right, "user_id", "ts_sec", Seq("mark_id"))
        .orderBy("event_id")
    }),

    // same query through the custom physical operator (AsofJoinExec):
    // identical oracle — the two paths must agree bit-for-bit
    "ts_asof_join_exec" -> ((s, dir) => {
      val e = ev(s, dir).select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), Documents.tsSec(col("ts")).as("ts_sec"))
      val left = e.filter(col("event_type") === "purchase")
        .select("user_id", "ts_sec", "event_id", "value")
      val right = e.filter(col("event_type") === "click")
        .groupBy("user_id", "ts_sec").agg(max("event_id").as("mark_id"))
      DocumentStore.asofJoinExec(left, right, "user_id", "ts_sec", Seq("mark_id"))
        .orderBy("event_id")
    }),

    "ts_reassemble" -> ((s, dir) =>
      DocumentStore.reassemble(
          DocumentStore.chunk(
            Tables.documents(s, dir).filter(col("doc_id") < 10),
            col("doc_id"), col("text"), 64))
        .orderBy("files_id")),

    "ts_sessionize" -> ((s, dir) =>
      DocumentStore.sessionize(ev(s, dir), col("user_id"),
          Documents.tsSec(col("ts")), col("event_id"), 7200L)
        .orderBy("user_id", "session_idx")),

    // per-user engagement: session count, exact integer mean duration
    // and mean inter-session gap (NULL for single-session users)
    "ts_session_stats" -> ((s, dir) =>
      DocumentStore.sessionStats(ev(s, dir), col("user_id"),
          Documents.tsSec(col("ts")), col("event_id"), 7200L)
        .orderBy("user_id")),

    // input quantized to whole seconds. session_window merges touching
    // windows (a gap of exactly `gap` stays one session), so membership
    // is identical to the `>` rule of the composition sessionizer —
    // verified against the boundary pairs present at sf0.1
    "ts_sessionize_native" -> ((s, dir) =>
      DocumentStore.sessionizeNative(ev(s, dir), col("user_id"),
          timestamp_seconds(Documents.tsSec(col("ts"))), 7200L)
        .orderBy("user_id", "start_sec")),

    // ── §2b analytics ─────────────────────────────────────────────────
    "q1_pricing_summary" -> ((s, dir) => Analytics.pricingSummary(s, dir)),
    "q6_forecast_revenue" -> ((s, dir) => Analytics.forecastRevenue(s, dir)),
    "q4_order_priority" -> ((s, dir) => Analytics.orderPriorityCheck(s, dir)),
    "q18_large_orders" -> ((s, dir) => Analytics.largeOrders(s, dir)),
    "q17_small_qty_revenue" -> ((s, dir) => Analytics.smallQtyRevenue(s, dir)),
    "q22_idle_balances" -> ((s, dir) => Analytics.idleCustomerBalances(s, dir)),
    // Q21 EXISTS/NOT-EXISTS pair decorrelated to one per-order aggregate
    "q21_waiting_suppliers" -> ((s, dir) => Analytics.waitingSuppliers(s, dir)),
    // Q2 correlated-min subquery decorrelated: grouped min + join-back
    "q2_min_cost_supplier" -> ((s, dir) => Analytics.minCostSupplier(s, dir)),
    // Q20 double-nested aggregate subquery as one grouped agg + semi-join
    "q20_concentrated_shippers" -> ((s, dir) => Analytics.concentratedShippers(s, dir)),
    // 2-D Pareto frontier via distributive local/global frontier sweeps
    "part_skyline" -> ((s, dir) => Analytics.partSkyline(s, dir)),
    // ER blocking-key join + levenshtein confirm (typo-dup detection)
    "dedup_fuzzy_prefix" -> ((s, dir) =>
      Dedup.fuzzyPrefixPairs(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy("id1", "id2")),
    // median/MAD outliers per event_type — robust anomaly detection
    "events_anomaly_mad" -> ((s, dir) => Analytics.anomalyMad(s, dir)),
    // sliding 7-day distinct users: user-day dedup + window-end explode
    "events_sliding_dau" -> ((s, dir) => Analytics.slidingActiveUsers(s, dir)),
    // first-order Markov matrix of event-type transitions per user
    "events_transition_matrix" -> ((s, dir) => Analytics.transitionMatrix(s, dir)),
    // running distinct-types-so-far per user: first-seen flag + running sum
    "events_running_distinct" -> ((s, dir) => Analytics.runningDistinct(s, dir)),
    // time-weighted average per series — exact integer value×duration sums
    "ts_twap" -> ((s, dir) => Analytics.twap(s, dir)),
    // interval×interval overlap join via responsibility bins (no dedup)
    "ts_session_overlap" -> ((s, dir) => {
      val sess = DocumentStore.sessionize(ev(s, dir), col("user_id"),
        Documents.tsSec(col("ts")), col("event_id"), 7200L)
      DocumentStore.intervalOverlaps(
          sess.select(
            (col("user_id") * 100000L + col("session_idx")).as("id"),
            col("start_sec").as("lo"), col("end_sec").as("hi")),
          binSec = 3600L)
        .select(col("id1"), col("id2"), (col("ov_hi") - col("ov_lo")).as("ov_sec"))
        .orderBy("id1", "id2")
    }),
    // one-pass multi-column profile: n / nulls / distinct / modal value
    "ts_profile_columns" -> ((s, dir) =>
      DocumentStore.profileColumns(
        ev(s, dir).withColumn("value_bucket",
          expr("cast(floor(value) as bigint)")),
        Seq("event_type", "user_id", "value_bucket"))),
    // SCD2 version build: change-log → (state, valid_from, valid_to) rows
    "dim_scd2_segments" -> ((s, dir) => Analytics.userSegmentsScd2(s, dir)),
    // point-in-time fact join: revenue per segment valid AT purchase time
    "pit_attribution" -> ((s, dir) => Analytics.pitAttribution(s, dir)),
    "agg_rollup" -> ((s, dir) => Analytics.eventRollup(s, dir)),
    "agg_weighted_mean" -> ((s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_extendedprice"), col("l_quantity"))
        .as[(String, Double, Double)]
        .groupByKey(_._1)
        .agg(graft.functions.WeightedMeanCents.toColumn.name("w_avg_price"))
        .toDF("l_returnflag", "w_avg_price")
        .orderBy("l_returnflag")
    }),

    // Sketch values are engine-specific by design (graft's portable HLL and
    // Spark's approx_percentile have no DuckDB twin), so the oracle checks a
    // deterministic TOLERANCE instead of the estimates themselves: each
    // *_ok flag asserts |approx − exact| / exact ≤ 2%, and DuckDB asserts
    // the same flags are all-1 alongside independently computed exact
    // n_users / n. Measured relative error on the test corpus: HLL(p=12)
    // ≤ 0.4%, approx_percentile(…, 1000) ≤ 1.7% — 2% holds at every SF.
    // The exact countDistinct/percentile here exist only to verify the
    // sketch; the 100 TB scale path is the sketch alone (constant memory,
    // mergeable partials — see agg_count_distinct / agg_quantiles).
    // count-min frequency table over a narrow (64×4) grid: the md5-slice
    // buckets make the grid — and therefore every estimate — exactly
    // reproducible in SQL, so the oracle matches est, not a tolerance
    "agg_cm_counts" -> ((s, dir) => {
      graft.functions.CmFunctions.register(s)
      val grouped = ev(s, dir)
        .groupBy(col("user_id").cast("string").as("item"))
        .agg(count(lit(1)).as("c"))
      val sk = grouped.agg(expr("graft_cm_sketch(item, c, 64, 4)").as("sk"))
      grouped.crossJoin(broadcast(sk))
        .select(col("item"), expr("graft_cm_est(sk, item)").as("est"),
          col("c").as("exact"))
        .orderBy(col("item"))
    }),

    "agg_approx_sketches" -> ((s, dir) => {
      graft.functions.HllFunctions.register(s)
      val tol = 0.02
      // NULL-safe (all-NULL group → explicit 0, not NULL) and with an
      // absolute floor so exact==0 doesn't demand bit equality of the sketch
      def ok(approx: Column, exact: Column): Column =
        coalesce(
          (abs(approx - exact) <= greatest(abs(exact) * tol, lit(1e-9)))
            .cast("long"),
          lit(0L))
      ev(s, dir).groupBy(col("event_type"))
        .agg(
          expr("graft_hll_est(graft_hll_sketch(user_id, 12))").as("au"),
          countDistinct(col("user_id")).as("n_users"),
          expr("approx_percentile(value, 0.5, 1000)").as("ap50"),
          expr("percentile(value, 0.5)").as("ep50"),
          expr("approx_percentile(value, 0.9, 1000)").as("ap90"),
          expr("percentile(value, 0.9)").as("ep90"),
          count(lit(1)).as("n"))
        .select(
          col("event_type"), col("n_users"),
          ok(col("au"), col("n_users")).as("users_ok"),
          ok(col("ap50"), col("ep50")).as("p50_ok"),
          ok(col("ap90"), col("ep90")).as("p90_ok"),
          col("n"))
        .orderBy("event_type")
    }),

    // KMV theta-style sketches: the SET-OPERATION sketch (intersection
    // estimates HLL can't do) — per-type user sketches, pairwise overlap
    // matrix. The oracle pins the exact intersections; the ok flags hold
    // the 28l tolerance contract (exact here: un-full sketches ARE the
    // distinct hash sets; the estimation path is spec-pinned at 10^5
    // cardinality in KmvSpec)
    "agg_kmv_overlap" -> ((s, dir) => {
      graft.functions.KmvFunctions.register(s)
      val tol = 0.05
      def okc(approx: Column, exact: Column): Column =
        coalesce(
          (abs(approx - exact) <= greatest(abs(exact) * tol, lit(1.0)))
            .cast("long"),
          lit(0L))
      val sk = ev(s, dir).groupBy(col("event_type"))
        .agg(expr("graft_kmv_sketch(user_id, 4096)").as("sk"),
          countDistinct(col("user_id")).as("nd"))
        .withColumn("est", expr("graft_kmv_est(sk)"))
      val ud = ev(s, dir).select(col("event_type"), col("user_id")).distinct()
      val exact = ud.select(col("event_type").as("type_a"), col("user_id"))
        .join(ud.select(col("event_type").as("type_b"), col("user_id")), "user_id")
        .filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_inter"))
      sk.select(col("event_type").as("type_a"), col("sk").as("sk_a"),
          col("est").as("est_a"), col("nd").as("nd_a"))
        .join(sk.select(col("event_type").as("type_b"), col("sk").as("sk_b"),
          col("est").as("est_b"), col("nd").as("nd_b")),
          col("type_a") < col("type_b"))
        .join(exact, Seq("type_a", "type_b"))
        .select(col("type_a"), col("type_b"), col("n_inter"),
          okc(expr("graft_kmv_inter(sk_a, sk_b)"), col("n_inter")).as("inter_ok"),
          okc(col("est_a"), col("nd_a")).as("a_ok"),
          okc(col("est_b"), col("nd_b")).as("b_ok"))
        .orderBy("type_a", "type_b")
    }),

    // robust location estimates: 10%-per-side trimmed + winsorized means
    // in exact integer micro, one rank window per group
    "agg_trimmed_means" -> ((s, dir) => Analytics.eventTrimmedMeans(s, dir)),

    // top-20 week-over-week movers across all series: integer weekly
    // sums, lag delta between consecutive weeks only
    "ts_top_movers" -> ((s, dir) => Analytics.eventTopMovers(s, dir)),

    // Benford first-digit audit on order totals: exact counts, permille
    // shares vs the hardcoded log-curve constants
    "agg_benford" -> ((s, dir) => Analytics.orderBenford(s, dir)),

    // quantile transform: exact integer percentile rank per value
    // within its series — heavy tails made comparable across groups
    "agg_percent_rank" -> ((s, dir) =>
      Analytics.eventPercentRank(s, dir).orderBy("event_type", "event_id")),

    // Heaps-law vocabulary growth: cumulative tokens vs cumulative
    // distinct types per doc-count decile in corpus order
    "text_vocab_growth" -> ((s, dir) =>
      TextAnalysis.vocabGrowth(Tables.documents(s, dir), col("doc_id"), col("text"))),

    // exact Gini of customer revenue per nation — whales-vs-broad-base,
    // zero-order customers included
    "agg_revenue_gini" -> ((s, dir) => Analytics.revenueGini(s, dir)),

    "agg_quantiles" -> ((s, dir) =>
      ev(s, dir).groupBy(col("event_type"))
        .agg(
          expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.9)").as("p90"),
          count(lit(1)).as("n"))
        .orderBy("event_type")),

    // graft's quantile sketch is a DETERMINISTIC bottom-k-by-md5 sample,
    // so unlike approx_percentile the oracle reproduces the estimates
    // EXACTLY in SQL (same sample, same nearest-rank pick) — the sketch
    // row hash-matches like any exact query. Scale path: persist one
    // sketch per slice, union + query without rescanning raw data.
    "agg_qsketch_quantiles" -> ((s, dir) => {
      graft.functions.QSketchFunctions.register(s)
      ev(s, dir).filter(col("value").isNotNull)
        .groupBy(col("event_type"))
        .agg(
          expr("graft_qsketch(cast(value as double), cast(event_id as string), 1024)").as("sk"),
          count(lit(1)).as("cnt"))
        .select(
          col("event_type"),
          expr("graft_qsketch_q(sk, 0.5d)").as("p50_est"),
          expr("graft_qsketch_q(sk, 0.9d)").as("p90_est"),
          least(col("cnt"), lit(1024L)).as("n_sample"))
        .orderBy("event_type")
    }),
    // time-bucketed latency/size bands: the SAME deterministic bottom-k
    // sketch per (series, day) — p10/p50/p90 dashboards without raw
    // rescans, and the sketch rows persist as a maintainable log
    "ts_percentile_bands" -> ((s, dir) => {
      graft.functions.QSketchFunctions.register(s)
      ev(s, dir).filter(col("value").isNotNull)
        .groupBy(col("event_type").as("series"),
          (Documents.tsSec(col("ts")) / 86400L).cast("long").as("day"))
        .agg(
          expr("graft_qsketch(cast(value as double), cast(event_id as string), 256)").as("sk"),
          count(lit(1)).as("cnt"))
        .select(col("series"), col("day"),
          expr("graft_qsketch_q(sk, 0.1d)").as("p10_est"),
          expr("graft_qsketch_q(sk, 0.5d)").as("p50_est"),
          expr("graft_qsketch_q(sk, 0.9d)").as("p90_est"),
          least(col("cnt"), lit(256L)).as("n_sample"))
        .orderBy("series", "day")
    }),

    "text_search" -> ((s, dir) =>
      Tables.documents(s, dir)
        .filter(col("text").contains("merge batch"))
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")),

    "agg_stats_profile" -> ((s, dir) => {
      // variance from exact decimal sums: (Σx² − (Σx)²/n) / (n−1) — every
      // operand bit-identical across engines (stddev_samp's streaming
      // Welford accumulation is NOT engine-portable). x² is squared IN
      // DECIMAL — exact in both engines; squaring in double and casting
      // the product diverges by 1 ulp at rounding boundaries, which the
      // variance cancellation then amplifies (bit us at sf0.001)
      val li = Tables.lineitem(s, dir)
      val dec = col("l_extendedprice").cast("decimal(12,2)")
      val sx = sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
      val sxx = sum(dec * dec).cast("double")
      val n = count(lit(1)).cast("double")
      li.groupBy(col("l_returnflag"))
        .agg(
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"),
          (sx / n).as("avg_price"),
          // rounded: the Σx² decimal exceeds 2^53, and DuckDB's
          // int128-decimal→double cast is not correctly rounded (1 ulp
          // vs the JVM) — round(3) absorbs it
          round((sxx - sx * sx / n) / (n - lit(1.0)), 3).as("var_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),

    "ts_full_outer_merge" -> ((s, dir) => {
      val users = ev(s, dir).groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey").as("user_id"), col("c_name"))
      users.join(cust, Seq("user_id"), "full_outer")
        .select(col("user_id"), coalesce(col("n_events"), lit(0L)).as("n_events"),
          coalesce(col("c_name"), lit("<none>")).as("c_name"))
        .orderBy("user_id")
    }),

    "text_scrub" -> ((s, dir) =>
      TextAnalysis.scrub(ev(s, dir).filter(col("event_id") < 100),
          col("event_id"), col("props"), Seq("[0-9]+" -> "<num>"))
        .orderBy("doc_id")),
    "agg_count_distinct" -> ((s, dir) => Analytics.distinctCounts(s, dir)),
    "agg_pivot" -> ((s, dir) => Analytics.eventPivot(s, dir)),
    "q3_top_revenue" -> ((s, dir) => Analytics.topRevenue(s, dir)),
    "q5_region_revenue" -> ((s, dir) => Analytics.regionRevenue(s, dir)),
    "q7_nation_volume" -> ((s, dir) => Analytics.nationVolume(s, dir)),
    "q8_market_share" -> ((s, dir) => Analytics.marketShare(s, dir)),
    "q19_brand_revenue" -> ((s, dir) => Analytics.brandRevenue(s, dir)),
    "q15_top_supplier" -> ((s, dir) => Analytics.topSupplier(s, dir)),
    "q10_returned_revenue" -> ((s, dir) => Analytics.returnedRevenue(s, dir)),
    "q12_priority_shipping" -> ((s, dir) => Analytics.priorityShipping(s, dir)),
    "q14_promo_revenue" -> ((s, dir) => Analytics.promoRevenue(s, dir)),
    "topk_orders_window" -> ((s, dir) => Analytics.topOrdersPerCustomer(s, dir)),
    "q13_order_distribution" -> ((s, dir) => Analytics.orderCountDistribution(s, dir)),
    "q9_part_profit" -> ((s, dir) => Analytics.partProfit(s, dir)),
    "q16_supplier_variety" -> ((s, dir) => Analytics.supplierVariety(s, dir)),
    "q11_nation_concentration" -> ((s, dir) => Analytics.nationConcentration(s, dir)),
    "window_rolling_stats" -> ((s, dir) => Analytics.rollingUserStats(s, dir)),
    "agg_cube" -> ((s, dir) => Analytics.eventCube(s, dir)),
    // gap-based sessionization: the event-log → session-table transform;
    // break flag + running session index ride one window spec
    "events_sessionize" -> ((s, dir) => Analytics.eventSessions(s, dir)),

    // power-user concentration: exact integer Gini over per-user counts,
    // range-partitioned global rank (no single-task window)
    "events_gini" -> ((s, dir) => Analytics.eventsGini(s, dir)),

    // the Lorenz table behind the Gini number: decile bins of ascending
    // per-user activity with exact cumulative permille shares
    "events_lorenz" -> ((s, dir) => Analytics.eventsLorenz(s, dir)),

    // DAU/MAU per calendar month — exact truncating permille
    "events_stickiness" -> ((s, dir) => Analytics.dauMauStickiness(s, dir)),

    // per-user Shannon entropy of the event-type mix (micro-rounded
    // terms over the bounded type domain — order-free integer sums)
    "events_user_entropy" -> ((s, dir) => Analytics.userTypeEntropy(s, dir)),

    "events_funnel" -> ((s, dir) => Analytics.funnelStages(s, dir)),
    // k-stage generalization (28ac''', round 12): the same chained
    // running-min fold over all five event types in signup-first order
    "events_funnel_5stage" -> ((s, dir) => Analytics.funnelStages(s, dir,
      Seq("signup", "view", "click", "purchase", "error"))),
    // conversion-window funnel (28ac'': stage within 24h of the latest
    // previous-stage completion, anchor re-arms on every completion)
    "events_funnel_windowed" -> ((s, dir) => Analytics.eventFunnelWindowed(s, dir)),
    // per-stage conversion permille + nearest-rank median time-to-convert
    "events_funnel_rates" -> ((s, dir) => Analytics.eventFunnelRates(s, dir)),
    // multi-touch attribution: view/click/signup touches credit purchase
    // conversions in a 7-day lookback under four credit models
    "events_attribution" -> ((s, dir) => Analytics.eventAttribution(s, dir)),
    // data-driven attribution: Markov removal effect via the EXACT
    // rational absorption solve (oracle: Cramer determinants in HUGEINT)
    "events_attr_markov" -> ((s, dir) =>
      Analytics.eventMarkovAttribution(s, dir)),
    // deterministic-hash A/B readout + its chi-square significance row
    "events_ab_lift" -> ((s, dir) =>
      Analytics.abLift(Tables.events(s, dir))),
    "events_ab_chi2" -> ((s, dir) =>
      Analytics.abChiSquare(Tables.events(s, dir))),
    // the continuous-metric significance pair on per-user revenue:
    // Welch's t (unequal variances) + tie-corrected Mann-Whitney rank-sum
    "events_ab_ttest" -> ((s, dir) =>
      Analytics.abTTest(Tables.events(s, dir))),
    "events_ab_mannwhitney" -> ((s, dir) =>
      Analytics.abMannWhitney(Tables.events(s, dir))),
    // CUPED: pre-experiment revenue as the variance-reducing covariate
    "events_ab_cuped" -> ((s, dir) =>
      Analytics.abCuped(Tables.events(s, dir))),
    // post-hoc power: minimum detectable effect at the realized sizes
    "events_ab_power" -> ((s, dir) =>
      Analytics.abPower(Tables.events(s, dir))),
    // log-rank: did the treatment change TIME-to-conversion (the
    // survival half of the A/B readout, censoring-correct)
    "events_ab_logrank" -> ((s, dir) => Analytics.eventLogRank(s, dir)),
    // Kaplan-Meier signup->first-purchase survival per signup-week
    // cohort, right-censored at the corpus frontier
    "events_survival_km" -> ((s, dir) => Analytics.eventSurvival(s, dir)),
    // start/stop-gated capture (reference scenario.py:101-137): signup
    // opens a watched user's gate, error closes it; view/click/purchase
    // rows inside a bracket survive the broadcast semi range join. The
    // control side is a FIXED watch cohort (user_id < 40 — the analog of
    // the reference's enumerated watch topics), so the broadcast interval
    // table stays O(cohort activity) at any corpus size — the tiny-control
    // contract the operator's broadcast hint asserts
    "events_gated_capture" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val control = ev.filter(col("event_type").isin("signup", "error") &&
          col("user_id") < 40)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          when(col("event_type") === "signup", lit("start"))
            .otherwise(lit("stop")).as("msg"))
      val data = ev.filter(col("event_type").isin("view", "click", "purchase"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
      graft.streaming.GatedCapture
        .captureGated(control, data, col("user_id"), col("ts_us"), col("msg"))
        .orderBy("event_id")
    }),
    "events_retention" -> ((s, dir) => Analytics.cohortRetention(s, dir)),
    // exact-integer PageRank over the customer-supplier bipartite graph
    "graph_pagerank" -> ((s, dir) => Graph.transactionRank(s, dir)),

    // 4 synchronous LPA sweeps over the same trading graph — min
    // tie-break makes the trajectory (oscillations included) a fixture
    "graph_label_prop" -> ((s, dir) => Graph.transactionCommunities(s, dir)),
    // Newman Q per label-prop community: exact integer evidence + the
    // term in micro under one fixed double tree
    "graph_modularity" -> ((s, dir) => Graph.transactionModularity(s, dir)),
    // degree correlation over symmetric edge entries (no-sqrt spelling)
    "graph_assortativity" -> ((s, dir) => Graph.transactionAssortativity(s, dir)),
    // source-sampled Brandes: exact-integer path counts, fixed-point
    // dependency sweep, brokers first
    "graph_betweenness" -> ((s, dir) => Graph.transactionBetweenness(s, dir)),
    // sampled harmonic centrality: sum of 1/d over the same six-source
    // sample, exact micro fixed point, forward BFS only
    "graph_harmonic" -> ((s, dir) => Graph.transactionHarmonic(s, dir)),
    // neighborhood function / hop plot from the same sample: nodes first
    // reached per hop + cumulative — the effective-diameter diagnostic
    "graph_hopplot" -> ((s, dir) => Graph.transactionHopPlot(s, dir)),

    // ANF effective diameter: the smallest hop covering ≥ 900‰ of the
    // sample's total reach — the hop-plot's one-number readout
    "graph_eff_diameter" -> ((s, dir) => Graph.transactionEffDiameter(s, dir)),
    "agg_histogram" -> ((s, dir) => Analytics.histogram(s, dir)),
    // equal-frequency bins: percentile edges broadcast, codegen'd assign
    "agg_equidepth" -> ((s, dir) => Analytics.equidepthHistogram(s, dir)),
    "ts_resample_ohlc" -> ((s, dir) => Analytics.resampleOhlc(s, dir)),
    // merge-of-partials == recompute-from-raw: the incremental
    // maintenance contract for a persisted aggregate table
    "agg_incremental_merge" -> ((s, dir) => Analytics.incrementalEventStats(s, dir)),
    // dense per-series grid with n=0 gap rows and forward-filled values
    "ts_gap_fill" -> ((s, dir) => Analytics.gapFillResample(s, dir)),
    // degree-ordered triangle count over the part co-purchase graph
    "graph_triangles" -> ((s, dir) => Graph.partTriangles(s, dir)),
    // per-node Watts-Strogatz local clustering coefficient over the same
    // co-purchase graph, exact integer permille
    "graph_clustering" -> ((s, dir) => Graph.partClustering(s, dir)),
    // iterative peeling to the unique 65-core of the same graph
    "graph_kcore" -> ((s, dir) => Graph.partKCore(s, dir)),
    // k-truss: edge peeling to the unique fixpoint (support >= k-2
    // among survivors); oracle unrolls idempotent peel rounds
    "graph_ktruss" -> ((s, dir) => Graph.partKTruss(s, dir)),
    // frontier BFS from part 0 over the same graph: exact hop distances
    "graph_bfs" -> ((s, dir) => Graph.partBfs(s, dir)),

    // deterministic uniform random walks (DeepWalk corpus) over the
    // trading graph: md5-argmin next hop, replays bit-for-bit
    "graph_walks" -> ((s, dir) => Graph.transactionWalks(s, dir)),

    // link prediction on the part graph: common neighbors + integer
    // resource-allocation index, hub wedge centers capped at deg 64
    "graph_link_pred" -> ((s, dir) => Graph.partLinkPrediction(s, dir)),

    // personalized PageRank from customer 1: related-entity scores with
    // rank mass entering only at the source, sparse frontier state
    "graph_ppr" -> ((s, dir) => Graph.transactionPpr(s, dir)),

    // 3-hop min-plus shortest paths from customer 1, edge length
    // 1e6 div n_orders — commercial closeness, exact integers
    "graph_distances" -> ((s, dir) => Graph.transactionDistances(s, dir)),

    // ── §2c training-data pipeline ────────────────────────────────────
    "dedup_exact" -> ((s, dir) =>
      TextAnalysis.exactDedup(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy("hash")),

    // cross-source duplication governance: distinct contents shared per
    // source pair
    "corpus_overlap_matrix" -> ((s, dir) =>
      TextAnalysis.sourceOverlap(Tables.documents(s, dir), col("source"), col("text"))),

    // exact integer two-sample KS: length-distribution drift src0 vs src1
    // the full pairwise drift matrix: common value grid, exact integer
    // supremum per source pair, one division per surviving row
    "quality_ks_matrix" -> ((s, dir) =>
      TextAnalysis.ksDriftMatrix(Tables.documents(s, dir), col("source"),
        col("n_chars"))),

    "quality_ks_drift" -> ((s, dir) =>
      TextAnalysis.ksDrift(Tables.documents(s, dir), col("source"), col("n_chars"),
        "src0", "src1")),

    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), col("doc_id"), col("text"), 0.5)
        .orderBy("id1", "id2")),

    // EXACT Jaccard pairs by prefix filtering: rarest-shingle blocking
    // keys, provably no missed pair, no hot-shingle cap needed
    "dedup_prefix_jaccard" -> ((s, dir) =>
      Dedup.prefixJaccardPairs(Tables.documents(s, dir), col("doc_id"), col("text"), 500)
        .orderBy("id1", "id2")),

    // asymmetric doc-in-doc detection: shared / min(n1, n2) over the
    // same capped-shingle candidates as the Jaccard op
    "dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairs(Tables.documents(s, dir), col("doc_id"), col("text"), 0.9)
        .orderBy("id1", "id2")),

    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.lshCandidates(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy("id1", "id2")),

    "dedup_clusters" -> ((s, dir) =>
      Dedup.connectedComponents(
          Dedup.ngramJaccardPairs(Tables.documents(s, dir), col("doc_id"), col("text"), 0.5))
        .orderBy("doc_id")),

    // same clusters, computed by the skew-tolerant large-star/small-star
    // alternation (O(log² n) rounds; AQE-splittable joins) — the variant
    // for chained clusters and hub-heavy pair graphs at 100 TB
    "dedup_clusters_star" -> ((s, dir) =>
      Dedup.connectedComponentsStars(
          Dedup.ngramJaccardPairs(Tables.documents(s, dir), col("doc_id"), col("text"), 0.5))
        .orderBy("doc_id")),

    "dedup_minhash_estimate" -> ((s, dir) =>
      Dedup.minhashEstimate(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy("id1", "id2")),

    // ingest-increment dedup: docs ≥ 250 are the "new batch", checked
    // against the band table of the indexed corpus (docs < 250) — the
    // O(increment) production shape, never re-pairing the corpus
    "dedup_minhash_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val indexed = Dedup.lshBands(docs.filter(col("doc_id") < 250), col("doc_id"), col("text"))
      Dedup.lshCandidatesAgainst(docs.filter(col("doc_id") >= 250), col("doc_id"), col("text"),
          indexed)
        .orderBy("new_id", "indexed_id")
    }),

    // LSH tuning audit: planted perturbed twins probe the corpus band
    // index like an ingest increment; per planted pair the exact shingle
    // Jaccard sits next to the LSH hit flag
    "dedup_lsh_recall" -> ((s, dir) =>
      Dedup.lshPlantedRecall(Tables.documents(s, dir), col("doc_id"), col("text"))),

    "dedup_keep_canonical" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.keepCanonical(docs, col("doc_id"),
          Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 0.5))
        .select("doc_id")
        .orderBy("doc_id")
    }),

    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhash(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy("doc_id")),

    "dedup_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(Tables.documents(s, dir), col("doc_id"), col("text"), 2, numBlocks = 3)
        .orderBy("id1", "id2")),

    // docs 0-4 stand in for the benchmark set; n=5 grams (the synthetic
    // docs are short — production uses the standard n=13)
    "corpus_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.contamination(docs.filter(col("doc_id") >= 5), col("doc_id"), col("text"),
          docs.filter(col("doc_id") < 5), col("doc_id"), col("text"), nGram = 5)
        .orderBy("doc_id")
    }),

    // fuzzy decontamination: LSH cross-frame candidates + integer
    // signature-agreement verdict — catches paraphrased eval leakage the
    // exact 13-gram rule misses
    "corpus_decontaminate_fuzzy" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.contaminationFuzzy(docs.filter(col("doc_id") >= 50), col("doc_id"), col("text"),
          docs.filter(col("doc_id") < 50), col("doc_id"), col("text"))
        .orderBy("doc_id", "bench_id")
    }),

    // same answer through the broadcast-Bloom prefilter (map-side probe in
    // codegen, only matches + fpp-sliver shuffle; confirm join restores
    // exactness) — the shape that survives a 10¹²-gram corpus
    "corpus_decontaminate_bloom" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.contaminationBloom(docs.filter(col("doc_id") >= 5), col("doc_id"), col("text"),
          docs.filter(col("doc_id") < 5), col("doc_id"), col("text"), nGram = 5)
        .orderBy("doc_id")
    }),

    "dedup_embedding_cosine" -> ((s, dir) =>
      Dedup.embeddingCosinePairs(capRows(Tables.embeddings(s, dir), "vec_id"), 0.45)
        .orderBy("id1", "id2")),

    // planes=3 / tables=8: the test corpus is 500 near-random vectors at a
    // low 0.45 threshold, so buckets must stay coarse (2^3/table) and
    // recall comes from OR-ing 8 tables — the oracle mirrors the same
    // approximation, so misses are identical on both engines
    "dedup_embedding_cosine_lsh" -> ((s, dir) =>
      Dedup.embeddingCosinePairsBucketed(Tables.embeddings(s, dir), 0.45,
          planes = 3, tables = 8)
        .orderBy("id1", "id2")),

    // SemDeDup shape: IVF-cell clustering bounds pair work to Σ|cell|²,
    // drop any vector with a smaller-id twin at cosine ≥ τ in its cell
    "dedup_semantic" -> ((s, dir) =>
      Similarity.semanticDedup(Tables.embeddings(s, dir), 0.45)
        .orderBy("vec_id")),

    "ann_cosine_topk" -> ((s, dir) => {
      val emb = capRows(Tables.embeddings(s, dir), "vec_id")
      Similarity.bruteTopK(emb, emb.filter(col("vec_id") < 5), 10)
        .orderBy("query_id", "rank")
    }),

    "ann_ivf_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5), 5)
        .orderBy("query_id", "rank")
    }),

    "ann_lsh_bucketed" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5), 5, 4)
        .orderBy("query_id", "rank")
    }),

    // embedding-side recall audit: planted noise-swept twins probe the
    // production SRP index; observed hits vs exact cosine per pair
    "dedup_srp_recall" -> ((s, dir) =>
      Similarity.srpPlantedRecall(Tables.embeddings(s, dir))),

    // int8 scalar-quantized scoring: 4× smaller persisted corpus, exact
    // integer code dot — the memory/IO leg of the ANN scale story
    "ann_int8_topk" -> ((s, dir) => {
      val emb = capRows(Tables.embeddings(s, dir), "vec_id")
      Similarity.int8TopK(emb, emb.filter(col("vec_id") < 5), 10)
        .orderBy("query_id", "rank")
    }),

    // product quantization + ADC: m bytes per vector (~64× compression),
    // micro-unit integer sub-distance sums — exact cross-engine scores
    "ann_pq_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 5), 10)
        .orderBy("query_id", "rank")
    }),

    // 64 floats -> 16 exact-integer JL projections onto the md5-derived
    // hyperplanes (the SRP bucketer's pre-sign values, kept)
    "emb_random_projection" -> ((s, dir) =>
      Similarity.jlProject(Tables.embeddings(s, dir))),

    // diversity sampling: nearest-cell assignment + md5-ranked top-16
    // per cell — every content cluster contributes equally
    "emb_cluster_sample" -> ((s, dir) =>
      Similarity.clusterSample(Tables.embeddings(s, dir))),

    // IVF routing × PQ ADC scoring — the three-stage retrieval stack's
    // middle two stages composed end-to-end
    "ann_ivfpq_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 5), 10)
        .orderBy("query_id", "rank")
    }),

    // the full FAISS deployment shape: ADC shortlist (50) → exact-cosine
    // re-rank → top-10; exact work O(queries·rerank·d), never the corpus
    "ann_ivfpq_rerank" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqRerankTopK(emb, emb.filter(col("vec_id") < 5), 10)
        .orderBy("query_id", "rank")
    }),

    // X^T X in one map-side-combined aggregate — covariance/PCA feedstock
    "emb_gram_matrix" -> ((s, dir) =>
      Similarity.gramMatrix(Tables.embeddings(s, dir))),

    // per-dimension n/mean/std/range — feature-scaling stats in one pass
    "emb_dim_stats" -> ((s, dir) =>
      Similarity.dimProfile(Tables.embeddings(s, dir))),

    // the scaling APPLIED: integer milli z-scores per element (truncating
    // micro mean, sqrt from the exact integer moments) — one scan + a
    // 64-row broadcast join, no vector shuffle
    "emb_standardize" -> ((s, dir) =>
      Similarity.standardize(Tables.embeddings(s, dir))),

    // bottom-10%-per-cell centroid-cosine outliers — integer rank
    // threshold per cell, so dense cells can't drown sparse ones
    "emb_cell_outliers" -> ((s, dir) =>
      Similarity.cellOutliers(Tables.embeddings(s, dir))),

    // top principal direction by 12 fixed-point power iterations on the
    // Gram matrix — every intermediate is re-quantized to integer milli,
    // so the whole trajectory (converged or not) is a deterministic
    // fixture both engines replay bit-for-bit
    "emb_pca_power" -> ((s, dir) =>
      Similarity.pcaPower(Tables.embeddings(s, dir))),

    // the same eigenvector projected through every embedding: per-term
    // integer rounding makes the 64-term row sum associative
    "emb_pca_scores" -> ((s, dir) =>
      Similarity.pcaScores(Tables.embeddings(s, dir))),

    // distributed Lloyd k-means in fixed-point milli centroids: per
    // round, assignment is a broadcast-centroid scan and the update
    // exchange carries O(partitions·k·d) partial rows — the trajectory
    // is a deterministic fixture the oracle unrolls as CTEs
    "emb_kmeans_train" -> ((s, dir) =>
      Similarity.kmeansTrain(Tables.embeddings(s, dir))
        .orderBy("cell", "dim")),

    // final assignment against the trained centroids, integer objective
    // shipped as decision evidence — one scan, zero shuffles
    // per-cluster centroid-silhouette over the frozen k-means cells:
    // exact integer milli² distances, micro scores, k-row output
    "emb_silhouette" -> ((s, dir) =>
      Similarity.kmeansSilhouette(Tables.embeddings(s, dir))),

    // per-cell majority-label purity — the supervised twin: did the
    // geometry find real structure?
    "emb_cell_purity" -> ((s, dir) =>
      Similarity.cellPurity(Tables.embeddings(s, dir))),

    // leave-one-out 1-NN label accuracy, searched the IVF way (within
    // the frozen cells — the semanticDedup pair-bounding contract)
    "emb_knn_loo" -> ((s, dir) =>
      Similarity.knnLooCellAccuracy(Tables.embeddings(s, dir))),

    // recall@k of the IVF probe vs the exact answer on a bounded query
    // panel — the third leg of the recall-audit family (LSH, SRP, IVF)
    "ann_ivf_recall" -> ((s, dir) =>
      Similarity.ivfRecallAudit(Tables.embeddings(s, dir))),

    "emb_kmeans_assign" -> ((s, dir) =>
      Similarity.kmeansAssign(Tables.embeddings(s, dir))),

    // mutual margin-argmax pairing across the even/odd halves (the
    // Artetxe & Schwenk bitext-mining criterion): per-pair cosines are
    // micro-rounded FIRST, so top-k sums and margins are exact integers
    "emb_margin_pairs" -> ((s, dir) => {
      val emb = capRows(Tables.embeddings(s, dir), "vec_id")
      Similarity.marginPairs(emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 === 1), k = 4)
        .orderBy("a_id")
    }),

    // 16-tap dyadic EWMA per series — integer weights, one window pass
    "ts_ewma" -> ((s, dir) => Analytics.ewma(s, dir)),

    // hourly MEAN resample + LOCF per series (28ay; the sibling of
    // ts_gap_fill's last-value fill) — exact integer micro means, the
    // shape the streaming twin (Monitor.gapFillStream) replays live
    "ts_gap_fill_mean" -> ((s, dir) => Analytics.eventGapFill(s, dir)),

    // LINEAR interpolation resample (28aj''; LOCF/mean's third sibling) —
    // straight line between bracketing anchors in exact integer micros,
    // backfilled head, LOCF tail
    "ts_gap_fill_linear" -> ((s, dir) => Analytics.gapFillLinear(s, dir)),

    // lag 1..6 autocorrelation per series over observed hourly buckets —
    // integer centered deviations, micro-rounded fixed-tree products
    "ts_acf" -> ((s, dir) => Analytics.eventAcf(s, dir)),
    // PACF: Durbin-Levinson over the acf values, formulas shared
    // verbatim with the oracle via the durbin* builders
    "ts_pacf" -> ((s, dir) => Analytics.eventPacf(s, dir)),
    // nonparametric trend: Mann-Kendall S/z + Sen's lower-median slope
    "ts_mann_kendall" -> ((s, dir) => Analytics.eventMannKendall(s, dir)),

    // OLS trend line per series (slope/intercept/R²) from five exact
    // integer sufficient statistics — map-combinable, no window
    "ts_ols_trend" -> ((s, dir) => Analytics.eventOlsTrend(s, dir)),

    // lead/lag cross-correlation of every series vs the purchase series
    // (lags −6..6) — broadcast reference deviations, no extra shuffle
    "ts_ccf" -> ((s, dir) => Analytics.eventCcf(s, dir)),

    // SAX-style motif census: top-20 discretized 4-step hourly shapes
    // across all series — U/D/F by integer deadband, gap windows dropped
    "ts_motifs" -> ((s, dir) => Analytics.eventMotifs(s, dir)),

    // RFM quintiles per customer: exact epoch-second recency, counts,
    // decimal cents; ntile windows run on the customer aggregate only
    "cust_rfm_segments" -> ((s, dir) => Analytics.custRfm(s, dir)),

    // AMOC changepoint per series: argmax of the exact-integer CUSUM
    // deviation |S_t·n − S·t|, earliest split on ties
    "ts_changepoint" -> ((s, dir) => Analytics.eventChangepoint(s, dir)),

    // the ONLINE level-shift detector: per-bucket one-sided CUSUM vs the
    // first-24-bucket causal baseline, closed-form two-window evaluation
    "ts_cusum" -> ((s, dir) => Analytics.eventCusum(s, dir)),

    // hour-of-day seasonal index per series (slot mean − series mean),
    // integer micro end-to-end — 24 rows per series at any corpus size
    "ts_seasonal_profile" -> ((s, dir) => Analytics.eventSeasonalProfile(s, dir)),

    // DTW distance between every pair of 8-slot day-part profiles —
    // integer min-plus DP per pair, oracled as anti-diagonal CTEs
    "ts_dtw" -> ((s, dir) => Analytics.dtwProfiles(s, dir, periodBuckets = 8)),

    // seasonal-strength diagnostic: cross-multiplied exact variance
    // ratio (n·Σd² − (Σd)² both sides), no division by n² needed
    "ts_seasonal_strength" -> ((s, dir) => Analytics.seasonalStrength(s, dir)),

    // interval-union coverage per user (overlaps counted once): the
    // linear sweep — running max end, clamped contributions — not the
    // quadratic overlap self-join
    "events_busy_time" -> ((s, dir) => Analytics.eventBusyTime(s, dir)),

    // association rules over order baskets: support/confidence/lift
    "part_basket_lift" -> ((s, dir) => Analytics.basketLift(s, dir)),

    "lang_id" -> ((s, dir) =>
      TextAnalysis.langId(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy("doc_id")),

    "quality_score" -> ((s, dir) =>
      TextAnalysis.qualityScore(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy("doc_id")),

    "token_count" -> ((s, dir) =>
      TextAnalysis.tokenCount(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy("doc_id")),

    "quality_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionScore(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy("doc_id")),

    // exact corpus-wide heavy tokens (≥1% of all token instances) via the
    // MG-sketch candidate pass + exact confirm — shuffle O(k), never
    // O(vocabulary)
    "corpus_heavy_tokens" -> ((s, dir) =>
      TextAnalysis.heavyTokens(Tables.documents(s, dir), col("text"), 0.01)
        .orderBy("token")),

    // the canonical fixed audit set: bottom-100 by 52-bit md5 rank —
    // same sample anywhere, per-shard samples merge without a rescan
    "corpus_uniform_sample" -> ((s, dir) =>
      TextAnalysis.uniformSample(Tables.documents(s, dir), "doc_id", 100)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")),

    // deterministic E-S weighted sample, p ∝ document length — the same
    // 100 docs on any cluster size, any engine
    "corpus_weighted_sample" -> ((s, dir) =>
      TextAnalysis.weightedSample(Tables.documents(s, dir), "doc_id", col("n_chars"), 100)
        .select("doc_id", "n_chars")
        .orderBy("doc_id")),

    // per-source cap: exactly 15 docs per source by deterministic hash
    // rank (WindowGroupLimit keeps the shuffle at k rows per partition)
    "corpus_stratified_sample" -> ((s, dir) =>
      TextAnalysis.stratifiedSample(Tables.documents(s, dir), "doc_id", col("source"), 15)
        .select("stratum", "rk", "doc_id")
        .orderBy("stratum", "rk")),

    // sqrt-temperature token-budget mixing: per-source budgets ∝ √T_s,
    // docs greedily filled in hash order until each budget is spent
    "corpus_mix_budget" -> ((s, dir) =>
      TextAnalysis.mixBudget(Tables.documents(s, dir), "doc_id", col("source"),
          ceil(col("n_chars") / 4.0), 20000L)
        .select("doc_id", "source", "tok", "start_tok")
        .orderBy("doc_id")),

    // mixture re-weighting: src0 halved, src1 dropped to 10%, the rest
    // untouched — pure map-side hash filter, nested across re-weights
    "corpus_mix" -> ((s, dir) =>
      TextAnalysis.mixSources(Tables.documents(s, dir), "doc_id", col("source"),
          Map("src0" -> 0.5, "src1" -> 0.1))
        .select("doc_id", "source")
        .orderBy("doc_id")),

    // sequence packing into 2048-token training rows via the distributed
    // prefix sum — deterministic hash order, integer math end-to-end
    "corpus_pack_sequences" -> ((s, dir) =>
      TextAnalysis.packSequences(Tables.documents(s, dir), "doc_id",
          ceil(col("n_chars") / 4.0), 2048L)
        .select("doc_id", "seq_id", "seq_tokens")
        .orderBy("doc_id")),

    // shard work orders for the packed corpus: round-robin over 16
    // shards, token totals + sequence ranges per shard
    "corpus_shard_manifest" -> ((s, dir) =>
      TextAnalysis.shardManifest(Tables.documents(s, dir), "doc_id",
        ceil(col("n_chars") / 4.0), 2048L, 16)),

    "corpus_prune" -> ((s, dir) =>
      TextAnalysis.pruneByLength(Tables.documents(s, dir),
          col("doc_id"), col("source"), col("n_chars"), 0.05, 0.95)
        .orderBy("doc_id")),

    "corpus_split" -> ((s, dir) =>
      TextAnalysis.assignSplit(Tables.documents(s, dir).select("doc_id"), "doc_id")
        .orderBy("doc_id")),

    // RAG-style sliding-window chunking: 64-token windows every 32 —
    // one scan, no shuffle, output ≈ 2× corpus tokens
    "corpus_chunk_overlap" -> ((s, dir) =>
      TextAnalysis.chunkOverlap(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy("doc_id", "chunk_id")),

    // short→long length curriculum in 4 equal-count phases — ntile
    // semantics via the distributed histogram-rank closed form
    "corpus_curriculum" -> ((s, dir) =>
      TextAnalysis.curriculum(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy("doc_id")),

    "doc_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy("doc_id")),

    // C4-style duplicated-span removal: 12-word chunks, corpus-wide
    // first-occurrence-wins, reassembled documents
    "corpus_dedup_paragraph" -> ((s, dir) =>
      TextAnalysis.paragraphDedup(Tables.documents(s, dir), col("doc_id"), col("text"))),

    // alignment-invariant span dedup: chunk boundaries chosen by content
    // (md5 of the local bigram), so shifted duplicates still match
    "corpus_dedup_cdc" -> ((s, dir) =>
      TextAnalysis.cdcSpanDedup(Tables.documents(s, dir), col("doc_id"), col("text"))),

    // char-exact duplicated-substring spans (Lee et al. 2022 shape):
    // 30-char gram seeds with >=2 corpus-wide occurrences, consecutive
    // seeds merged into maximal spans
    "corpus_dup_spans" -> ((s, dir) =>
      TextAnalysis.dupSpans(Tables.documents(s, dir), col("doc_id"), col("text"))),

    // per-doc top-3 keywords by the exact-integer tf/df score
    "text_tfidf_topk" -> ((s, dir) =>
      TextAnalysis.tfidfTopK(Tables.documents(s, dir), col("doc_id"), col("text"))),

    // TextRank keywords: 3 rounds of weighted fixed-point PageRank over
    // each doc's adjacent-word graph, top-3 per doc
    "text_textrank" -> ((s, dir) =>
      TextAnalysis.textRank(Tables.documents(s, dir), col("doc_id"), col("text"))),

    // hashing-trick vectorizer: md5-bucketed signed token counts into a
    // fixed 1024-wide sparse vector, no vocabulary pass
    "text_feature_hash" -> ((s, dir) =>
      TextAnalysis.featureHash(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy("doc_id", "idx")),

    // model-free 16-dim integer doc vectors: feature hashing composed
    // with an md5-seeded ±1 projection — the ANN bootstrap signature
    "text_doc_embed" -> ((s, dir) =>
      TextAnalysis.docEmbed(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy("doc_id", "j")),

    // marginal-diversity: fraction of each doc's 3-grams appearing
    // first (min doc_id) in corpus order, integer permille
    "text_novelty" -> ((s, dir) =>
      TextAnalysis.novelty(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy("doc_id")),

    // type-token + hapax ratios, exact integer permille
    "text_lexical_diversity" -> ((s, dir) =>
      TextAnalysis.lexicalDiversity(Tables.documents(s, dir), col("doc_id"), col("text"))),

    // bigram LM trained on the corpus itself; add-one-smoothed mean
    // conditional probability in exact fixed-point integers
    "quality_lm_score" -> ((s, dir) =>
      TextAnalysis.lmScore(Tables.documents(s, dir), col("doc_id"), col("text"))),

    // top-100 bigram collocations by PMI lift (monotonic in PMI, no libm)
    "text_collocations" -> ((s, dir) =>
      TextAnalysis.collocations(Tables.documents(s, dir), col("doc_id"), col("text"))),

    // end-of-pipeline keep/drop decision with an auditable reason bitmask;
    // every threshold is an integer comparison
    "corpus_quality_gate" -> ((s, dir) =>
      TextAnalysis.qualityGate(Tables.documents(s, dir), col("doc_id"), col("text"))),

    // per-source data card: docs/tokens in, gate survivors, integer
    // permille shares — the rollup of the gate's reason bitmask
    "corpus_source_report" -> ((s, dir) =>
      TextAnalysis.sourceReport(Tables.documents(s, dir), col("doc_id"),
        col("source"), col("text"))),

    // C4-style line cleaning over deterministically PLANTED pages: the
    // fixture corpus has no line structure, so the query chunks each doc
    // into 8-word lines and plants terminal punctuation + the exact
    // boilerplate markers C4 drops (javascript / { / lorem ipsum) by
    // modular rules — every rule branch exercised, DuckDB replays the
    // same construction (the lshPlantedRecall fixture pattern)
    "corpus_clean_lines" -> ((s, dir) => {
      val pages = Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("words"))
        .select(col("doc_id"), expr(
          """array_join(transform(
            |  sequence(0, cast(ceil(size(words) / 8.0) as int) - 1, 1),
            |  i -> concat(
            |    case when (doc_id + i) % 13 = 0 then 'lorem ipsum ' else '' end,
            |    case when (doc_id + i) % 7 = 0 then 'javascript ' else '' end,
            |    array_join(slice(words, i * 8 + 1, 8), ' '),
            |    case when (doc_id + i) % 11 = 0 then ' {x}' else '' end,
            |    case when (doc_id + i) % 3 != 0 then '.' else '' end)),
            |  '\n')""".stripMargin).as("text"))
      TextAnalysis.cleanLines(pages, col("doc_id"), col("text"))
    }),

    // CCNet-style corpus-wide line dedup over planted pages: every 5th
    // doc opens with the same boilerplate banner; only the first
    // occurrence in (doc_id, line_idx) order survives
    "corpus_dedup_lines" -> ((s, dir) => {
      val pages = Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("words"))
        .select(col("doc_id"), expr(
          """concat(
            |  case when doc_id % 5 = 0
            |    then 'subscribe to our newsletter for updates\n' else '' end,
            |  array_join(transform(
            |    sequence(0, cast(ceil(size(words) / 8.0) as int) - 1, 1),
            |    i -> array_join(slice(words, i * 8 + 1, 8), ' ')), '\n'))"""
            .stripMargin).as("text"))
      TextAnalysis.dedupLines(pages, col("doc_id"), col("text"))
    }),

    // token -> (df, first-100 posting list), stop tokens (df > 1000)
    // dropped before any list is collected; the list is serialized to a
    // comma-joined string for the driver dump — raw array columns are not
    // sortable/hashable in the oracle harness (pandas lexsort rejects
    // ndarray cells)
    "text_inverted_index" -> ((s, dir) =>
      TextAnalysis.invertedIndex(Tables.documents(s, dir), col("doc_id"), col("text"))
        .withColumn("postings", concat_ws(",", col("postings")))),

    // Okapi BM25 top-20 for a 3-term query; per-term contributions are
    // IEEE doubles rounded to integer micro-units, so the per-doc sum is
    // exact and the oracle reproduces scores bit-for-bit
    "text_bm25_topk" -> ((s, dir) =>
      TextAnalysis.bm25TopK(Tables.documents(s, dir), col("doc_id"), col("text"),
        Seq("merge", "batch", "stream"), k = 20)),

    // NDCG@10 of the BM25 ranking against tf-graded relevance — the
    // retrieval-quality readout over the same query terms
    "text_ndcg" -> ((s, dir) =>
      TextAnalysis.ndcgAtK(Tables.documents(s, dir), col("doc_id"), col("text"),
        Seq("merge", "batch", "stream"), k = 10)),

    // Zipf's-law OLS fit over the top-1000 term frequencies (ln rounds
    // to micro immediately; slope/intercept exact decimal closed form)
    "text_zipf_fit" -> ((s, dir) =>
      TextAnalysis.zipfFit(Tables.documents(s, dir), col("text"))),

    // the same query served OFF the postings index (the table the ingest
    // loop maintains incrementally): scoring touches only the terms'
    // index rows + one distinct-doc stats pass — no re-tokenization; the
    // shared epilogue makes it bit-equal to text_bm25_topk
    "text_bm25_from_index" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.bm25TopKFromIndex(
        TextAnalysis.bm25Postings(docs, col("doc_id"), col("text")),
        Seq("merge", "batch", "stream"), k = 20)
    }),

    // hybrid retrieval: BM25 top-100 ⊕ dense cosine top-100 (query =
    // vector 0) fused by integer reciprocal-rank fusion; fusion work is
    // O(shortlist), the corpus stays inside the two retrievers
    "text_rrf_fusion" -> ((s, dir) => {
      val lex = TextAnalysis.bm25TopK(Tables.documents(s, dir),
        col("doc_id"), col("text"), Seq("merge", "batch", "stream"), k = 100)
      val emb = Tables.embeddings(s, dir)
      val dense = Similarity.bruteTopK(emb, emb.filter(col("vec_id") === 0L), 100)
      TextAnalysis.rrfFusion(lex, dense, k = 20)
    }),

    // round-1 BPE merge candidates: adjacent char pairs weighted by word
    // frequency — pair extraction runs over the vocab table, not the
    // corpus (the one corpus pass is the word-count groupBy)
    "text_bpe_merges" -> ((s, dir) =>
      TextAnalysis.bpePairCounts(Tables.documents(s, dir), col("text"))),

    // tokenize the corpus with the SHIPPED tokenizer (fixed merge table):
    // merges apply to the distinct-word vocab, docs join their counts back
    "text_bpe_encode" -> ((s, dir) =>
      TextAnalysis.bpeEncode(Tables.documents(s, dir), col("doc_id"),
        col("text"), TextAnalysis.ShippedBpeMerges)),

    // word2vec feedstock: ±2-window (center, context) counts, one scan,
    // no positional self-join
    "text_skipgram_pairs" -> ((s, dir) =>
      TextAnalysis.skipgramPairs(Tables.documents(s, dir), col("text"))
        .orderBy("center", "context")),

    // the GloVe 1/d-weighted co-occurrence matrix in exact integer micro
    "text_cooc_weighted" -> ((s, dir) =>
      TextAnalysis.coocWeighted(Tables.documents(s, dir), col("text"))
        .orderBy("center", "context")),

    // the negative-sampling side of the word2vec feedstock: unigram^(3/4)
    // inverse-CDF table, libm-free quarter power
    "text_neg_sampling" -> ((s, dir) =>
      TextAnalysis.negSamplingTable(Tables.documents(s, dir), col("text"))),

    // a deterministic 50-token draw from that distribution (E-S over
    // weight_micro) — the sampler a trainer actually calls
    "text_neg_sample_draw" -> ((s, dir) =>
      TextAnalysis.weightedSample(
          TextAnalysis.negSamplingTable(Tables.documents(s, dir), col("text")),
          "token", col("weight_micro"), 50)
        .select("token", "cnt", "weight_micro")
        .orderBy("token")),

    // sequence packing metered by the REAL shipped-tokenizer counts
    // (text_bpe_encode) instead of the chars/4 estimate — the budget the
    // training job actually spends
    "corpus_pack_bpe" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val counts = TextAnalysis.bpeEncode(docs, col("doc_id"), col("text"),
          TextAnalysis.ShippedBpeMerges)
        .select(col("doc_id"), col("n_bpe_tokens"))
      TextAnalysis.packSequences(docs.join(counts, "doc_id"), "doc_id",
          col("n_bpe_tokens"), 2048L)
        .select("doc_id", "seq_id", "seq_tokens")
        .orderBy("doc_id")
    }),

    // dynamic batching: per-source length-sorted batches of 32 with the
    // pad-to-longest waste priced per batch — one bounded-key window
    // pass, never a global sort
    "corpus_length_batches" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.lengthBatches(docs, col("source"), col("doc_id"),
          size(TextAnalysis.tokens(col("text"))), 32)
        .withColumnRenamed("grp", "source")
        .orderBy("source", "batch_id")
    }),

    // tokenizer-efficiency data card: tokens-per-word (fertility) and
    // chars-per-token per source, off the SHIPPED merge table — the
    // numbers that price a tokenizer against a corpus mix
    "corpus_tokenizer_fertility" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val enc = TextAnalysis.bpeEncode(docs, col("doc_id"), col("text"),
        TextAnalysis.ShippedBpeMerges)
      enc.join(docs.select(col("doc_id"), col("source"), col("n_chars")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          sum(col("n_bpe_tokens")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"))
        .withColumn("fertility_micro",
          expr("(1000000 * n_tokens) div n_words"))
        .withColumn("chars_per_token_micro",
          expr("(1000000 * n_chars) div n_tokens"))
        .orderBy("source")
    }),

    // Holt level+trend smoothing per series — exact dyadic fixed point,
    // one ordered fold per series
    "ts_holt" -> ((s, dir) => Analytics.eventHolt(s, dir)),

    // the smoother's accuracy audit: one-step-ahead forecast vs realized
    // bucket, exact integer MAE / SMAPE per series
    "ts_holt_backtest" -> ((s, dir) => Analytics.eventHoltBacktest(s, dir)),

    // level + trend + 24-slot hour-of-day seasonal state, all in exact
    // dyadic fixed point — the diurnal-aware smoother
    "ts_holt_winters" -> ((s, dir) => Analytics.eventHoltWinters(s, dir)),

    // robust MAD scoring over the smoother's fitted residuals — the
    // daily wave is modeled, not flagged
    "ts_anomaly_deseasonal" -> ((s, dir) => Analytics.anomalyDeseasonal(s, dir)),

    // top-20 first-5-event user journeys — the "common paths" census;
    // window prunes to k rows per user before anything folds
    "events_top_paths" -> ((s, dir) => Analytics.topPaths(s, dir)),

    // next-24h per-series forecast table from the fitted Holt-Winters
    // state — level + k·trend + the slot's latest seasonal estimate
    "ts_forecast_24h" -> ((s, dir) => Analytics.holtWintersForecast(s, dir)),

    "multimodal_meta" -> ((s, dir) =>
      Multimodal.byteStats(Multimodal.toAsset(
          Tables.events(s, dir), col("event_id"), col("event_type"), col("props")))
        .orderBy("kind")),

    // char-distribution Gini impurity (log-free entropy twin): the
    // repeated-char-junk detector, zero shuffles, exact rational micro
    "quality_char_gini" -> ((s, dir) =>
      TextAnalysis.charGini(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy("doc_id")),

    // distributed full-batch fixed-point perceptron (the fastText-style
    // quality/domain filter): integer-milli surface features, integer
    // margins, normalized truncating-division steps — the trajectory is
    // partitioning/engine-exact and the oracle unrolls it as CTEs
    "quality_classifier_train" -> ((s, dir) =>
      TextAnalysis.classifierTrain(Tables.documents(s, dir),
          col("doc_id"), col("text"), col("lang") === "en")
        .orderBy("round", "dim")),

    // per-doc scores against the trained weights: the exact integer
    // margin ships as decision evidence — one codegen'd scan
    "quality_classifier_score" -> ((s, dir) =>
      TextAnalysis.classifierScore(Tables.documents(s, dir),
        col("doc_id"), col("text"), col("lang") === "en")),

    // PAV isotonic calibration over the margin deciles: floor commutes
    // with min/max, so the max-min lattice over micro-floored range
    // averages IS floor(1e6 * PAV) — exact integers end-to-end
    "quality_calibration" -> ((s, dir) =>
      TextAnalysis.classifierCalibration(Tables.documents(s, dir),
        col("doc_id"), col("text"), col("lang") === "en")),

    // decile lift table over the trained scores: does the filter
    // concentrate positives in its top deciles, or carry nothing
    "quality_classifier_lift" -> ((s, dir) =>
      TextAnalysis.classifierLift(Tables.documents(s, dir),
        col("doc_id"), col("text"), col("lang") === "en")),

    // Brier + ECE over the PAV-calibrated deciles — what the
    // calibration table's probabilities are worth, in two numbers
    "quality_brier" -> ((s, dir) =>
      TextAnalysis.classifierCalibrationError(Tables.documents(s, dir),
        col("doc_id"), col("text"), col("lang") === "en")),

    // the full ROC table behind the AUC number: exact cumulative TP/FP
    // per distinct margin over the descending running sum
    "quality_roc" -> ((s, dir) =>
      TextAnalysis.classifierRoc(Tables.documents(s, dir),
        col("doc_id"), col("text"), col("lang") === "en")),

    // ROC's imbalanced-class twin: exact precision/recall per threshold
    "quality_pr" -> ((s, dir) =>
      TextAnalysis.classifierPr(Tables.documents(s, dir),
        col("doc_id"), col("text"), col("lang") === "en")),

    // exact tie-aware ROC AUC of the margins (Mann–Whitney, doubled
    // integers, decimal-widened products)
    "quality_auc" -> ((s, dir) =>
      TextAnalysis.classifierAuc(Tables.documents(s, dir),
        col("doc_id"), col("text"), col("lang") === "en")),

    // PSI of the margin distribution between the even-doc_id reference
    // stratum and the odd-doc_id current stratum over reference deciles
    "quality_psi" -> ((s, dir) =>
      TextAnalysis.classifierPsi(Tables.documents(s, dir),
        col("doc_id"), col("text"), col("lang") === "en",
        refPred = col("doc_id") % 2 === 0)),

    // DSIR-shape data selection: hashed token buckets, add-one-smoothed
    // target/raw ratio in integer micro-units, additive per-doc score
    "corpus_dsir_weights" -> ((s, dir) =>
      TextAnalysis.importanceWeights(Tables.documents(s, dir),
          col("doc_id"), col("text"), col("lang") === "en")
        .orderBy("doc_id")),
  ))

  /** The power-iteration CTE chain shared by the emb_pca_* oracles:
    * Gram matrix (exact integer micro sums), v₀ = all-milli-ones, then
    * `iters` unrolled (w = G·v, v' = round(w/max|w|·1000)) steps, ending
    * in `vf` — the sign-fixed final vector. Mirrors
    * Similarity.pcaPowerVector line for line; see its Scaladoc for the
    * exactness argument.
    */
  private def pcaPowerOracle(finalSelect: String, iters: Int = 12): String = {
    val sb = new StringBuilder
    sb ++= """WITH e AS MATERIALIZED (SELECT vec_id, i - 1 AS d, CAST(embedding[i] AS DOUBLE) AS x
             |           FROM embeddings, range(1, 65) r(i)),
             |gu AS MATERIALIZED (SELECT a.d AS i, b.d AS j,
             |    CAST(SUM(CAST(round(a.x * b.x * 1000000.0) AS BIGINT)) AS BIGINT) AS s
             |  FROM e a JOIN e b ON a.vec_id = b.vec_id AND b.d >= a.d GROUP BY 1, 2),
             |g AS MATERIALIZED (SELECT i, j, s FROM gu
             |  UNION ALL SELECT j AS i, i AS j, s FROM gu WHERE i <> j),
             |v0 AS (SELECT i AS dim, CAST(1000 AS BIGINT) AS v FROM range(0, 64) r(i))""".stripMargin
    for (t <- 1 to iters) {
      val p = t - 1
      // every step MATERIALIZED: DuckDB inlines plain CTEs per reference,
      // and w_t is referenced twice (m_t and v_t) — inlining doubles the
      // evaluated tree per level, i.e. 2^iters blowup
      sb ++= s""",
                |w$t AS MATERIALIZED (SELECT g.i AS dim, CAST(SUM(g.s * v$p.v) AS BIGINT) AS w
                |  FROM g JOIN v$p ON g.j = v$p.dim GROUP BY 1),
                |m$t AS MATERIALIZED (SELECT MAX(ABS(w)) AS m FROM w$t),
                |v$t AS MATERIALIZED (SELECT dim, CAST(round(CAST(w AS DOUBLE) / CAST(m AS DOUBLE) * 1000.0) AS BIGINT) AS v
                |  FROM w$t, m$t)""".stripMargin
    }
    sb ++= s""",
              |vf AS MATERIALIZED (SELECT dim, CAST(v * (SELECT CASE WHEN
              |    (SELECT v FROM v$iters WHERE dim =
              |      (SELECT MIN(dim) FROM v$iters WHERE ABS(v) =
              |        (SELECT MAX(ABS(v)) FROM v$iters))) < 0
              |    THEN -1 ELSE 1 END) AS BIGINT) AS v FROM v$iters)
              |""".stripMargin
    sb ++= finalSelect
    sb.toString
  }

  /** The fixed-point Lloyd rounds unrolled as MATERIALIZED CTEs (the
    * pcaPowerOracle pattern): c0 = first-k vectors quantized to milli,
    * each round an integer-objective assignment (ties to the lowest
    * cell) and a truncating-division centroid update; empty cells keep
    * their centroid via the LEFT JOIN's COALESCE.
    */
  private def kmeansOracle(finalSelect: String, k: Int = 8,
                           iters: Int = 3): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH e AS MATERIALIZED (SELECT vec_id, i - 1 AS d, CAST(embedding[i] AS DOUBLE) AS x
              |           FROM embeddings, range(1, 65) r(i)),
              |c0 AS MATERIALIZED (SELECT vec_id AS cell, d, CAST(round(x * 1000.0) AS BIGINT) AS c,
              |    CAST(0 AS BIGINT) AS n
              |  FROM e WHERE vec_id < $k)""".stripMargin
    for (t <- 1 to iters + 1) {
      val p = t - 1
      sb ++= s""",
                |o$t AS MATERIALIZED (SELECT e.vec_id, c.cell,
                |    CAST(SUM(c.c * c.c) - 2000 * SUM(CAST(round(e.x * c.c) AS BIGINT)) AS BIGINT) AS obj
                |  FROM e JOIN c$p c ON e.d = c.d GROUP BY 1, 2),
                |a$t AS MATERIALIZED (SELECT vec_id, cell, obj FROM (
                |    SELECT vec_id, cell, obj,
                |      row_number() OVER (PARTITION BY vec_id ORDER BY obj, cell) AS rk
                |    FROM o$t) q WHERE rk = 1)""".stripMargin
      if (t <= iters)
        sb ++= s""",
                  |s$t AS MATERIALIZED (SELECT a.cell, e.d, CAST(COUNT(*) AS BIGINT) AS n,
                  |    CAST(SUM(CAST(round(e.x * 1000000.0) AS BIGINT)) AS BIGINT) AS sm
                  |  FROM a$t a JOIN e ON e.vec_id = a.vec_id GROUP BY 1, 2),
                  |c$t AS MATERIALIZED (SELECT p.cell, p.d,
                  |    CAST(COALESCE((s.sm // s.n) // 1000, p.c) AS BIGINT) AS c,
                  |    CAST(COALESCE(s.n, 0) AS BIGINT) AS n
                  |  FROM c$p p LEFT JOIN s$t s ON s.cell = p.cell AND s.d = p.d)""".stripMargin
    }
    sb ++= "\n" + finalSelect
      .replace("__CF__", s"c$iters")
      .replace("__AF__", s"a${iters + 1}")
    sb.toString
  }

  /** The fixed-point perceptron rounds unrolled as MATERIALIZED CTEs
    * (the kmeansOracle pattern): integer-milli features, wr0 = zero
    * weights, each round an exact-integer margin pass, a misclassified
    * gradient aggregate (sums CAST back to BIGINT — DuckDB SUM(BIGINT)
    * widens to HUGEINT), and a truncating-division normalized step.
    * `finalSelect` sees wr{t}/g{t} plus __AF__ = the scoring pass
    * against the final weights.
    */
  /** PACF oracle: the ts_acf prelude pivoted to per-series ρ columns,
    * then the Durbin–Levinson stages as chained CTEs whose formula text
    * comes VERBATIM from the same builders the Spark expressions use
    * (`Analytics.durbinFkk`/`durbinFkj`/`durbinMicro` — the two
    * spellings cannot drift), finally the φ_kk diagonal unpivoted. */
  private def pacfOracle(maxLag: Int): String = {
    val prelude =
      """WITH e AS (SELECT event_type AS series,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS vm FROM events),
        |b AS MATERIALIZED (SELECT series, h,
        |    CAST(CAST(SUM(vm) AS BIGINT) // COUNT(*) AS BIGINT) AS x
        |  FROM e GROUP BY 1, 2),
        |s AS (SELECT series, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx
        |      FROM b GROUP BY 1),
        |dv AS MATERIALIZED (SELECT b.series, b.h, s.n, b.x * s.n - s.sx AS d
        |  FROM b JOIN s USING (series)),
        |den AS (SELECT series, CAST(SUM(CAST(round(
        |    CAST(d AS DOUBLE) * CAST(d AS DOUBLE) / (1000000.0 * n * n))
        |    AS BIGINT)) AS BIGINT) AS den_micro FROM dv GROUP BY 1),
        |l AS (SELECT CAST(unnest(range(1, %L1%)) AS INT) AS lag),
        |p AS (SELECT a.series, l.lag,
        |        CAST(SUM(CAST(round(
        |          CAST(a.d AS DOUBLE) * CAST(bb.d AS DOUBLE)
        |          / (1000000.0 * a.n * a.n)) AS BIGINT)) AS BIGINT) AS num_micro
        |      FROM dv a CROSS JOIN l
        |      JOIN dv bb ON bb.series = a.series AND bb.h = a.h + l.lag
        |      GROUP BY 1, 2)""".stripMargin
        .replace("%L1%", (maxLag + 1).toString)
    val pivot = (1 to maxLag).map(k =>
      s"max(CASE WHEN lag = $k AND den_micro > 0 THEN CAST(num_micro AS DOUBLE)" +
        s" / CAST(den_micro AS DOUBLE) END) AS r$k").mkString(",\n    ")
    val sb = new StringBuilder(prelude)
    sb.append(s",\nw AS (SELECT p.series,\n    $pivot\n" +
      "  FROM p JOIN den USING (series) GROUP BY 1)")
    var prev = "w"
    for (k <- 1 to maxLag) {
      sb.append(s",\ndk$k AS (SELECT *, ${Analytics.durbinFkk(k)} AS f$k$k FROM $prev)")
      prev = s"dk$k"
      if (k > 1 && k < maxLag) {
        val upd = (1 until k).map(j =>
          s"${Analytics.durbinFkj(k, j)} AS f$k$j").mkString(", ")
        sb.append(s",\ndu$k AS (SELECT *, $upd FROM $prev)")
        prev = s"du$k"
      }
    }
    val branches = (1 to maxLag).map(k =>
      s"SELECT series, CAST($k AS BIGINT) AS lag, " +
        s"${Analytics.durbinMicro(s"f$k$k")} AS pacf_micro FROM $prev")
      .mkString("\n  UNION ALL ")
    sb.append(s"\nSELECT * FROM (\n  $branches)\nORDER BY series, lag")
    sb.toString
  }

  /** Unrolled k-truss peel for the co-purchase graph: per round,
    * enumerate triangles on the surviving canonical edges (a<b<c — each
    * triangle once, no orientation needed in SQL), credit all three
    * edges, keep support ≥ k−2. Rounds past the fixpoint are IDEMPOTENT,
    * so unrolling more than the data needs is safe (measured: sf0.01
    * converges in 5, sf0.1 in 3; a future SF needing > `rounds` would
    * fail LOUDLY as a hash mismatch, never silently). The final support
    * join reads the last round's support table — at the fixpoint that
    * is exactly the support among survivors. */
  private def kTrussOracle(rounds: Int, k: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e0 AS MATERIALIZED (SELECT DISTINCT least(x.pk, y.pk) AS a, greatest(x.pk, y.pk) AS b
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk)""".stripMargin)
    for (r <- 1 to rounds) {
      val p = s"e${r - 1}"
      sb.append(s""",
        |t$r AS MATERIALIZED (SELECT e1.a AS u, e1.b AS v, e2.b AS w FROM $p e1
        |  JOIN $p e2 ON e1.a = e2.a AND e1.b < e2.b
        |  JOIN $p e3 ON e3.a = e1.b AND e3.b = e2.b),
        |s$r AS MATERIALIZED (SELECT a, b, count(*) AS c FROM (
        |  SELECT u AS a, v AS b FROM t$r UNION ALL
        |  SELECT u, w FROM t$r UNION ALL SELECT v, w FROM t$r) GROUP BY 1, 2),
        |e$r AS MATERIALIZED (SELECT s.a, s.b FROM $p e
        |  JOIN s$r s ON e.a = s.a AND e.b = s.b WHERE s.c >= ${k - 2})"""
        .stripMargin)
    }
    sb.append(s"""
      |SELECT e.a, e.b, CAST(s.c AS BIGINT) AS support
      |FROM e$rounds e JOIN s$rounds s ON e.a = s.a AND e.b = s.b
      |ORDER BY 1, 2""".stripMargin)
    sb.toString
  }

  private def perceptronOracle(finalSelect: String, iters: Int = 3): String = {
    val d = 7
    val sb = new StringBuilder
    sb ++= """WITH f AS MATERIALIZED (SELECT doc_id,
             |    CASE WHEN lang = 'en' THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS y,
             |    CAST(1000 AS BIGINT) AS f0,
             |    least(length(text), 1000) AS f1,
             |    (1000 * (length(text) - length(replace(text, ' ', '')))) // length(text) AS f2,
             |    (1000 * (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))) // length(text) AS f3,
             |    (1000 * (length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')))) // length(text) AS f4,
             |    (1000 * length(text)) // (length(text) - length(replace(text, ' ', '')) + 1) AS f5,
             |    (1000 * (length(text) - length(replace(text, 'a', '')))) // length(text) AS f6
             |  FROM documents),
             |wr0 AS (SELECT """.stripMargin
    sb ++= (0 until d).map(j => s"CAST(0 AS BIGINT) AS w$j").mkString(", ") + ")"
    val margin = (0 until d).map(j => s"f.f$j * w.w$j").mkString(" + ")
    for (t <- 1 to iters + 1) {
      sb ++= s""",
                |a$t AS MATERIALIZED (SELECT f.*, $margin AS margin FROM f, wr${t - 1} w),
                |g$t AS MATERIALIZED (SELECT COUNT(*) AS m, """.stripMargin
      sb ++= (0 until d)
        .map(j => s"CAST(COALESCE(SUM(y * f$j), 0) AS BIGINT) AS g$j")
        .mkString(", ")
      sb ++= s" FROM a$t WHERE y * margin <= 0)"
      if (t <= iters) {
        val pow2 = 1L << (t - 1) // round t's geometric step decay
        sb ++= s""",
                  |wr$t AS (SELECT """.stripMargin
        sb ++= (0 until d)
          .map(j => s"w.w$j + CASE WHEN g.m = 0 THEN 0 ELSE (1000 * g.g$j) // (g.m * $pow2) END AS w$j")
          .mkString(", ")
        sb ++= s" FROM wr${t - 1} w, g$t g)"
      }
    }
    sb ++= "\n" + finalSelect.replace("__AF__", s"a${iters + 1}")
    sb.toString
  }

  /** The perceptron trajectory rows — (round, dim, w, n_mis) per round,
    * where g{t+1}.m counts the docs round t's weights misclassify.
    */
  private def perceptronTrajectorySql(iters: Int = 3): String = {
    val d = 7
    val rows = for (t <- 0 to iters; j <- 0 until d) yield
      s"SELECT CAST($t AS BIGINT) AS round, CAST($j AS BIGINT) AS dim, " +
        s"w.w$j AS w, g.m AS n_mis FROM wr$t w, g${t + 1} g"
    perceptronOracle(rows.mkString("", "\nUNION ALL ", "\nORDER BY round, dim"), iters)
  }

  /** Shared oracle prelude: the per-series Holt recursion over hourly
    * mean-micro buckets, ending at the `s` CTE — `ts_holt` and
    * `ts_holt_backtest` append their epilogues to the SAME text, so the
    * recursion can't drift between them. */
  private val HoltRecursionSql: String =
    """WITH RECURSIVE e AS (SELECT event_type AS series,
      |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
      |    CAST(round(value * 1000000.0) AS BIGINT) AS vm FROM events),
      |bk AS MATERIALIZED (SELECT series, h,
      |    CAST(CAST(SUM(vm) AS BIGINT) // COUNT(*) AS BIGINT) AS v
      |  FROM e GROUP BY 1, 2),
      |r AS MATERIALIZED (SELECT series, h, v,
      |    row_number() OVER (PARTITION BY series ORDER BY h) AS rn FROM bk),
      |s AS (
      |  SELECT series, rn, h, v, v AS lvl, CAST(0 AS BIGINT) AS trd
      |  FROM r WHERE rn = 1
      |  UNION ALL
      |  SELECT r.series, r.rn, r.h, r.v,
      |    (r.v + s.lvl + s.trd) >> 1,
      |    (((r.v + s.lvl + s.trd) >> 1) - s.lvl + 3 * s.trd) >> 2
      |  FROM r JOIN s ON r.series = s.series AND r.rn = s.rn + 1)""".stripMargin

  /** Shared oracle prelude: the Holt-Winters recursion carrying the 24
    * seasonal slots as a LIST column — `ts_holt_winters`,
    * `ts_anomaly_deseasonal` and `ts_forecast_24h` all append to it. */
  private val HwRecursionSql: String =
    """WITH RECURSIVE e AS (SELECT event_type AS series,
      |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
      |    CAST(round(value * 1000000.0) AS BIGINT) AS vm FROM events),
      |bk AS MATERIALIZED (SELECT series, h,
      |    CAST(CAST(SUM(vm) AS BIGINT) // COUNT(*) AS BIGINT) AS v
      |  FROM e GROUP BY 1, 2),
      |r AS MATERIALIZED (SELECT series, h, v,
      |    row_number() OVER (PARTITION BY series ORDER BY h) AS rn FROM bk),
      |s AS (
      |  SELECT series, rn, h, v, v AS lvl, CAST(0 AS BIGINT) AS trd,
      |    CAST(0 AS BIGINT) AS sea,
      |    list_transform(range(24), i -> CAST(0 AS BIGINT)) AS seas
      |  FROM r WHERE rn = 1
      |  UNION ALL
      |  SELECT r.series, r.rn, r.h, r.v,
      |    (r.v - s.seas[CAST(r.h % 24 AS INT) + 1] + s.lvl + s.trd) >> 1,
      |    ((((r.v - s.seas[CAST(r.h % 24 AS INT) + 1] + s.lvl + s.trd) >> 1))
      |      - s.lvl + 3 * s.trd) >> 2,
      |    (r.v - ((r.v - s.seas[CAST(r.h % 24 AS INT) + 1] + s.lvl + s.trd) >> 1)
      |      + 3 * s.seas[CAST(r.h % 24 AS INT) + 1]) >> 2,
      |    list_transform(range(24), i -> CASE WHEN i = CAST(r.h % 24 AS INT)
      |      THEN (r.v - ((r.v - s.seas[CAST(r.h % 24 AS INT) + 1] + s.lvl + s.trd) >> 1)
      |            + 3 * s.seas[CAST(r.h % 24 AS INT) + 1]) >> 2
      |      ELSE s.seas[i + 1] END)
      |  FROM r JOIN s ON r.series = s.series AND r.rn = s.rn + 1)""".stripMargin

  /** Shared oracle prelude: the shipped-tokenizer replace-chain over the
    * distinct-word vocab, ending at the per-word symbol-count CTE `c` —
    * `text_bpe_encode` and `corpus_pack_bpe` append to it. */
  private val BpeEncodeSql: String =
    """WITH w AS (SELECT doc_id, unnest(string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ')) AS word
      |           FROM documents),
      |v AS (SELECT DISTINCT word FROM w),
      |enc AS (SELECT word,
      |  replace(replace(replace(replace(replace(replace(replace(replace(
      |    ',' || array_to_string(string_split(word, ''), ',,') || ',',
      |    ',e,,r,', ',er,'), ',i,,n,', ',in,'), ',o,,w,', ',ow,'),
      |    ',o,,r,', ',or,'), ',s,,t,', ',st,'), ',m,,er,', ',mer,'),
      |    ',a,,t,', ',at,'), ',l,,u,', ',lu,') AS s
      |  FROM v),
      |c AS (SELECT word,
      |        (length(s) - length(replace(s, ',,', ''))) // 2 + 1 AS n_syms
      |      FROM enc)""".stripMargin

  /** Shared oracle prelude: the unigram^(3/4) weight table `t` —
    * `text_neg_sampling` and `text_neg_sample_draw` append to it. */
  private val NegSamplingSql: String =
    """WITH w AS (SELECT unnest(string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ')) AS token
      |           FROM documents),
      |c AS (SELECT token, count(*) AS cnt FROM w GROUP BY 1),
      |t AS (SELECT token, cnt,
      |        CAST(round(1000000.0 * sqrt(sqrt(
      |          CAST(cnt AS DOUBLE) * CAST(cnt AS DOUBLE) * CAST(cnt AS DOUBLE)
      |        ))) AS BIGINT) AS weight_micro
      |      FROM c)""".stripMargin

  /** The hop-plot BFS unroll shared by the graph_hopplot and
    * graph_eff_diameter oracles: frontier/visited CTEs per depth from the
    * fixed six-entity sample, ending in `acc` = (h, n_new) rows;
    * `finalSelect` either SELECTs from acc directly or starts with ","
    * to chain further CTEs first.
    */
  private def hopPlotOracle(finalSelect: String, maxDepth: Int = 8): String = {
    val sb = new StringBuilder
    sb ++= """WITH pairs AS MATERIALIZED (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
             |e AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
             |  FROM pairs WHERE src <> dst),
             |und AS MATERIALIZED (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
             |f0 AS (SELECT CAST(src AS BIGINT) AS src, CAST(src AS BIGINT) AS node
             |  FROM (VALUES (2), (4), (6), (3), (5), (7)) s(src)),
             |v0 AS (SELECT src, node FROM f0)""".stripMargin
    for (t <- 1 to maxDepth) {
      val p = t - 1
      sb ++= s""",
                |f$t AS MATERIALIZED (SELECT DISTINCT f.src, und.b AS node
                |  FROM f$p f JOIN und ON f.node = und.a
                |  WHERE NOT EXISTS (SELECT 1 FROM v$p v WHERE v.src = f.src AND v.node = und.b)),
                |v$t AS MATERIALIZED (SELECT * FROM v$p UNION ALL SELECT src, node FROM f$t)""".stripMargin
    }
    sb ++= s""",
              |acc AS (${(0 to maxDepth)
                .map(t => s"SELECT CAST($t AS BIGINT) AS h, count(*) AS n_new FROM f$t")
                .mkString(" UNION ALL ")})""".stripMargin
    sb ++= (if (finalSelect.startsWith(",")) "" else "\n")
    sb ++= finalSelect
    sb.toString
  }

  /** The DTW min-plus DP unrolled along ANTI-DIAGONALS (cells with
    * i + j = const depend only on the two previous diagonals — no
    * within-CTE sequential dependence, so each diagonal is one plain
    * relational join against the previous two): series day-part
    * profiles (exact integer micro slot means, `buckets` slots of
    * `86400/buckets` seconds), all unordered pairs, L1 cell costs, then
    * 2·buckets − 1 diagonal CTEs. Mirrors Analytics.dtwProfiles cell for
    * cell; borders fall out of the COALESCE(…, huge) guards exactly like
    * the Scala row-DP's sentinel borders.
    */
  private def dtwOracle(buckets: Int): String = {
    val inf = "4611686018427387903"
    val bucketSec = 86400L / buckets
    val sb = new StringBuilder
    sb ++= s"""WITH e AS (SELECT event_type AS series,
              |    CAST(floor(epoch(ts)) AS BIGINT) // $bucketSec AS h,
              |    CAST(round(value * 1000000.0) AS BIGINT) AS vm FROM events),
              |b AS MATERIALIZED (SELECT series, h,
              |    CAST(CAST(SUM(vm) AS BIGINT) // COUNT(*) AS BIGINT) AS x
              |  FROM e GROUP BY 1, 2),
              |sl AS MATERIALIZED (SELECT series, h % $buckets AS slot,
              |    CAST(CAST(SUM(x) AS BIGINT) // COUNT(*) AS BIGINT) AS v
              |  FROM b GROUP BY 1, 2),
              |sv AS MATERIALIZED (SELECT series, v,
              |    row_number() OVER (PARTITION BY series ORDER BY slot) AS i,
              |    count(*) OVER (PARTITION BY series) AS n
              |  FROM sl),
              |p AS MATERIALIZED (SELECT a.series AS sa, b.series AS sb
              |  FROM (SELECT DISTINCT series FROM sv) a
              |  JOIN (SELECT DISTINCT series FROM sv) b ON a.series < b.series),
              |c AS MATERIALIZED (SELECT p.sa, p.sb, x.i, y.i AS j,
              |    abs(x.v - y.v) AS cost
              |  FROM p JOIN sv x ON x.series = p.sa JOIN sv y ON y.series = p.sb),
              |d1 AS MATERIALIZED (SELECT sa, sb, i, j, cost AS d FROM c
              |  WHERE i = 1 AND j = 1)""".stripMargin
    for (k <- 2 to 2 * buckets - 1) {
      val dg = if (k == 2) s"CAST($inf AS BIGINT)"
               else s"COALESCE(dg.d, $inf)"
      val dgJoin = if (k == 2) ""
        else s"""
                |  LEFT JOIN d${k - 2} dg ON dg.sa = c.sa AND dg.sb = c.sb
                |    AND dg.i = c.i - 1 AND dg.j = c.j - 1""".stripMargin
      sb ++= s""",
                |d$k AS MATERIALIZED (SELECT c.sa, c.sb, c.i, c.j,
                |    c.cost + least(COALESCE(up.d, $inf), COALESCE(lf.d, $inf),
                |      $dg) AS d
                |  FROM c
                |  LEFT JOIN d${k - 1} up ON up.sa = c.sa AND up.sb = c.sb
                |    AND up.i = c.i - 1 AND up.j = c.j
                |  LEFT JOIN d${k - 1} lf ON lf.sa = c.sa AND lf.sb = c.sb
                |    AND lf.i = c.i AND lf.j = c.j - 1$dgJoin
                |  WHERE c.i + c.j = ${k + 1})""".stripMargin
    }
    sb ++= (1 to 2 * buckets - 1)
      .map(k => s"SELECT * FROM d$k")
      .mkString(",\nalld AS (", " UNION ALL ", ")")
    sb ++= s"""
              |SELECT p.sa AS series_a, p.sb AS series_b,
              |  CAST(na.n AS BIGINT) AS n_a, CAST(nb.n AS BIGINT) AS n_b,
              |  ad.d AS dtw_micro
              |FROM p
              |JOIN (SELECT series, max(n) AS n FROM sv GROUP BY 1) na
              |  ON na.series = p.sa
              |JOIN (SELECT series, max(n) AS n FROM sv GROUP BY 1) nb
              |  ON nb.series = p.sb
              |JOIN alld ad ON ad.sa = p.sa AND ad.sb = p.sb
              |  AND ad.i = na.n AND ad.j = nb.n
              |ORDER BY series_a, series_b""".stripMargin
    sb.toString
  }

  /** DuckDB-runnable oracle SQL — column names and ordering match the Spark
    * side exactly (SURVEY.md §6).
    */
  def oracleSql: Map[String, String] = distinctByKey(Seq(
    "ts_find_filter_project" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE event_type = 'purchase' AND value > 50 ORDER BY event_id""".stripMargin,

    "ts_find_by_id" ->
      """SELECT event_id, user_id, event_type, value,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
        |FROM events WHERE event_id = 42""".stripMargin,

    "ts_find_by_session" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE user_id = 7 ORDER BY event_id""".stripMargin,

    "ts_count_documents" ->
      "SELECT count(*) AS n FROM events WHERE event_type = 'click'",

    "ts_distinct_sessions" ->
      "SELECT DISTINCT user_id FROM events ORDER BY user_id",

    "ts_unique_sessions_summary" ->
      """SELECT user_id AS session, count(*) AS n_docs,
        |  CAST(floor(epoch(min(ts))) AS BIGINT) AS first_ts_sec,
        |  CAST(floor(epoch(max(ts))) AS BIGINT) AS last_ts_sec
        |FROM events GROUP BY user_id ORDER BY session""".stripMargin,

    "ts_sort_limit" ->
      "SELECT event_id, value FROM events ORDER BY value DESC, event_id LIMIT 50",

    "ts_update_by_id" ->
      """SELECT event_id,
        |  CASE WHEN event_id = 10 THEN 'converted' ELSE event_type END AS event_type,
        |  CASE WHEN event_id = 10 THEN 99.99 ELSE value END AS value
        |FROM events WHERE event_id IN (9, 10, 11) ORDER BY event_id""".stripMargin,

    "ts_delete_by_id" ->
      """SELECT event_id FROM events
        |WHERE event_id <> 5 AND event_id < 10 ORDER BY event_id""".stripMargin,

    "ts_update_where" ->
      """SELECT event_id,
        |  CASE WHEN event_type = 'click' AND value > 90 THEN 'hot_click' ELSE event_type END AS event_type,
        |  value
        |FROM events WHERE value > 80 ORDER BY event_id""".stripMargin,

    "ts_update_first" ->
      """SELECT event_id,
        |  CASE WHEN event_id = (SELECT min(event_id) FROM events
        |                        WHERE event_type = 'purchase' AND value > 50)
        |       THEN 0.0 ELSE value END AS value
        |FROM events WHERE event_type = 'purchase' ORDER BY event_id LIMIT 100""".stripMargin,

    "ts_delete_where" ->
      """SELECT event_id FROM events
        |WHERE NOT (event_type = 'error' OR value < 1) ORDER BY event_id""".stripMargin,

    "ts_delete_cascade" ->
      """WITH ch AS (
        |  SELECT doc_id AS files_id, CAST(t.n AS INT) AS n
        |  FROM documents, range(0, 1024) AS t(n)
        |  WHERE doc_id < 10 AND t.n <= (length(text) - 1) // 64)
        |SELECT files_id, count(*) AS n_chunks
        |FROM ch WHERE files_id NOT IN (3, 5)
        |GROUP BY files_id ORDER BY files_id""".stripMargin,

    "ts_count_estimate" ->
      "SELECT count(*) AS n FROM events",

    "ts_find_meta_projection" ->
      """SELECT event_id AS "_id", user_id AS session,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS sys_time_sec,
        |  event_type, value
        |FROM events WHERE value > 70 ORDER BY "_id"""".stripMargin,

    "ts_byte_sizes" ->
      """WITH s AS (
        |  SELECT 'event_id' AS leaf, 8 * count(*) AS total_bytes FROM events
        |  UNION ALL SELECT 'user_id', 8 * count(*) FROM events
        |  UNION ALL SELECT 'ts', 8 * count(*) FROM events
        |  UNION ALL SELECT 'event_type', CAST(sum(octet_length(encode(event_type))) AS BIGINT) FROM events
        |  UNION ALL SELECT 'value', 8 * count(*) FROM events
        |  UNION ALL SELECT 'props', CAST(sum(octet_length(encode(props))) AS BIGINT) FROM events)
        |SELECT leaf, total_bytes FROM s ORDER BY leaf""".stripMargin,

    "ts_coerce_binary" ->
      """SELECT event_id,
        |  (event_id % 2 = 0) AS is_text,
        |  CASE WHEN event_id % 2 = 0 THEN length(props) END AS text_len,
        |  CASE WHEN event_id % 2 = 1 THEN octet_length(encode(props)) + 1 END AS raw_len
        |FROM events WHERE event_id < 200 ORDER BY event_id""".stripMargin,

    "ts_coerce_reverse" ->
      """SELECT event_id,
        |  CASE WHEN event_id % 2 = 1 THEN upper(hex(encode(props))) || 'FF'
        |       ELSE upper(hex(encode(props))) END AS payload_hex
        |FROM events WHERE event_id < 200 ORDER BY event_id""".stripMargin,

    "ts_insert_append" ->
      """SELECT event_id, event_type FROM (
        |  SELECT event_id, event_type FROM events
        |  UNION ALL SELECT 999999, 'synthetic')
        |ORDER BY event_id DESC LIMIT 5""".stripMargin,

    "ts_upsert_batch" ->
      """WITH ev AS MATERIALIZED (SELECT event_id, event_type, value FROM events),
        |up AS MATERIALIZED (SELECT event_id, event_type, value + 1000.0 AS value
        |       FROM ev WHERE event_id % 100 = 0),
        |ins AS MATERIALIZED (SELECT event_id + 20000000 AS event_id, event_type,
        |          1.0 AS value FROM up),
        |batch AS MATERIALIZED (SELECT * FROM up UNION ALL SELECT * FROM ins)
        |SELECT * FROM ev WHERE event_id NOT IN (SELECT event_id FROM batch)
        |UNION ALL SELECT * FROM batch
        |ORDER BY event_id""".stripMargin,

    "ts_agg_pipeline" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE) AS sum_value,
        |  CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE) / count(*) AS avg_value
        |FROM events WHERE value > 1 GROUP BY event_type ORDER BY event_type""".stripMargin,

    "ts_unwind_explode" ->
      """SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |FROM documents WHERE doc_id < 2 ORDER BY doc_id, word""".stripMargin,

    "ts_lookup_join" ->
      """SELECT event_id, user_id, c_name, c_mktsegment
        |FROM events JOIN customer ON user_id = c_custkey
        |WHERE event_type = 'signup' ORDER BY event_id""".stripMargin,

    "ts_flatten_docs" ->
      """SELECT event_id, user_id AS doc_meta_session,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS doc_meta_sys_time_sec,
        |  event_type AS doc_payload_event_type, value AS doc_payload_value
        |FROM events ORDER BY event_id LIMIT 100""".stripMargin,

    "ts_session_meta" ->
      """SELECT event_id AS "_id", user_id AS session,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS sys_time_sec
        |FROM events ORDER BY "_id" LIMIT 100""".stripMargin,

    "ts_chunk_binary" ->
      """SELECT doc_id AS files_id, CAST(t.n AS INT) AS n,
        |  substring(text, CAST(t.n AS INT) * 64 + 1, 64) AS data
        |FROM documents, range(0, 1024) AS t(n)
        |WHERE doc_id < 10 AND t.n <= (length(text) - 1) // 64
        |ORDER BY files_id, n""".stripMargin,

    "ts_clone_incremental" ->
      """SELECT event_id, event_type FROM events e
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM events d WHERE d.event_id % 2 = 0 AND d.event_id = e.event_id)
        |AND event_id < 20 ORDER BY event_id""".stripMargin,

    "ts_monitor_rates" ->
      """SELECT event_type AS topic,
        |  CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS window_start_sec,
        |  count(*) AS n_msgs,
        |  CAST(SUM(length(props)) AS BIGINT) AS payload_bytes,
        |  count(*) / CAST(3600 AS DOUBLE) AS rate_hz
        |FROM events GROUP BY 1, 2 ORDER BY topic, window_start_sec""".stripMargin,

    "ts_monitor_hopping" ->
      """WITH e AS MATERIALIZED (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events),
        |w AS MATERIALIZED (SELECT event_type, ts_sec,
        |        (ts_sec // 1800) * 1800 - k.k * 1800 AS ws
        |      FROM e, range(0, 2) k(k))
        |SELECT event_type AS topic, ws AS window_start_sec, count(*) AS n_msgs
        |FROM w WHERE ws <= ts_sec AND ws > ts_sec - 3600
        |GROUP BY 1, 2 ORDER BY topic, window_start_sec""".stripMargin,

    "ts_skip_on_error" ->
      """SELECT count(*) AS n_valid, CAST(SUM(k) AS BIGINT) AS sum_k FROM (
        |  SELECT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
        |WHERE k IS NOT NULL""".stripMargin,

    "ts_type_coercion" ->
      """SELECT event_id, CAST(event_id AS VARCHAR) AS id_str,
        |  CAST(floor(value) AS BIGINT) AS value_int, value > 10 AS is_big
        |FROM events ORDER BY event_id LIMIT 200""".stripMargin,

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,8))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,8))) AS DOUBLE) / count(*) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(*) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-06-30'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_top_revenue" ->
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_region_revenue" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "q7_nation_volume" ->
      """SELECT supp_nation, cust_nation, CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN (SELECT n_nationkey AS s_nk, n_name AS supp_nation FROM nation) sn ON s_nationkey = s_nk
        |JOIN (SELECT n_nationkey AS c_nk, n_name AS cust_nation FROM nation) cn ON c_nationkey = c_nk
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND ((supp_nation = 'NATION_13' AND cust_nation = 'NATION_19')
        |    OR (supp_nation = 'NATION_19' AND cust_nation = 'NATION_13'))
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS r
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-10-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(r AS DOUBLE) AS total_rev
        |FROM supplier JOIN rev ON l_suppkey = s_suppkey
        |WHERE r = (SELECT max(r) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    "q19_brand_revenue" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 10)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity >= 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity >= 30)""".stripMargin,

    "q8_market_share" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(SUM(CASE WHEN sn.n_name = 'NATION_24'
        |    THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) END) AS DOUBLE)
        |  / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |JOIN region ON cn.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY o_year ORDER BY o_year""".stripMargin,

    "q10_returned_revenue" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1998-07-01'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q12_priority_shipping" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q14_promo_revenue" ->
      """SELECT 100 * CAST(SUM(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) END) AS DOUBLE)
        |  / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01'""".stripMargin,

    "topk_orders_window" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q13_order_distribution" ->
      """WITH oc AS (
        |  SELECT c_custkey, count(o.o_custkey) AS c_count
        |  FROM customer LEFT JOIN (SELECT o_custkey FROM orders
        |                           WHERE o_orderpriority <> '5-LOW') o
        |    ON c_custkey = o.o_custkey
        |  GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist
        |FROM oc GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q9_part_profit" ->
      """SELECT n_name AS nation, CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
        |    - (CAST(0.9 AS DECIMAL(4,2)) * CAST(p_retailprice AS DECIMAL(12,2)))
        |      * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE contains(p_name, 'widget')
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,

    "q16_supplier_variety" ->
      """SELECT p_brand, p_type, p_size % 10 AS size_mod,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, size_mod""".stripMargin,

    "q11_nation_concentration" ->
      """WITH g AS MATERIALIZED (SELECT SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS total_bal
        |           FROM supplier WHERE s_acctbal > 0),
        |n AS MATERIALIZED (SELECT s_nationkey, SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS nation_bal
        |      FROM supplier WHERE s_acctbal > 0 GROUP BY 1)
        |SELECT s_nationkey, CAST(nation_bal AS DOUBLE) AS nation_bal
        |FROM n, g WHERE nation_bal > CAST(0.05 AS DECIMAL(12,6)) * total_bal
        |ORDER BY nation_bal DESC, s_nationkey""".stripMargin,

    "window_rolling_stats" ->
      """WITH e AS MATERIALIZED (SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, value FROM events)
        |SELECT event_id, user_id, ts_sec,
        |  ts_sec - lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) AS gap_sec,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
        |         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / count(*) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
        |         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS roll_avg
        |FROM e ORDER BY user_id, ts_sec, event_id""".stripMargin,

    "agg_cube" ->
      """SELECT event_type, user_id % 4 AS bucket, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY CUBE(event_type, user_id % 4)
        |ORDER BY event_type ASC NULLS FIRST, bucket ASC NULLS FIRST""".stripMargin,

    // same chained-running-min window semantics, microsecond ordering
    // lag + running sum replay the break/index windows; all integers
    "events_sessionize" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |l AS (SELECT *, lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_us FROM e),
        |b AS (SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 28800000000 THEN 1 ELSE 0 END AS brk FROM l),
        |s AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx FROM b)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |  min(ts_us) AS start_us, max(ts_us) AS end_us,
        |  max(ts_us) - min(ts_us) AS duration_us,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
        |FROM s GROUP BY 1, 2 ORDER BY user_id, session_idx""".stripMargin,

    // sorted-rank Gini in HUGEINT (DuckDB's native wide integers match
    // Spark's decimal widening; // floors like div). `total` renders as
    // VARCHAR — both engines print the full wide integer, where a
    // BIGINT cast would diverge past int64 (Spark NULLs, DuckDB errors)
    "events_gini" ->
      """WITH c AS (SELECT user_id, count(*) AS x FROM events GROUP BY 1),
        |r AS (SELECT x, row_number() OVER (ORDER BY x, user_id) AS i FROM c),
        |a AS (SELECT count(*) AS n, CAST(sum(x) AS VARCHAR) AS total,
        |        sum(x) AS htotal, sum(i * x) AS six FROM r)
        |SELECT n, total,
        |  CAST(CASE WHEN htotal > 0
        |       THEN (2 * six - (n + 1) * htotal) * 1000000 // (n * htotal) END
        |    AS BIGINT) AS gini_micro
        |FROM a""".stripMargin,

    // ntile + a window prefix sum replay the ranged bins and cumulative;
    // HUGEINT matches the decimal widening
    "events_lorenz" ->
      """WITH c AS (SELECT user_id, count(*) AS x FROM events GROUP BY 1),
        |b AS (SELECT x, ntile(10) OVER (ORDER BY x, user_id) AS bucket FROM c),
        |a AS (SELECT bucket, count(*) AS n, CAST(sum(x) AS BIGINT) AS bucket_total
        |      FROM b GROUP BY 1),
        |t AS (SELECT sum(bucket_total) AS grand FROM a)
        |SELECT bucket, n, bucket_total,
        |  CAST(sum(bucket_total) OVER (ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000 // grand
        |    AS BIGINT) AS cum_share_permille
        |FROM a CROSS JOIN t ORDER BY bucket""".stripMargin,

    // distinct (user, day, month) first, then exact integer counts; the
    // permille is a truncating division in both engines
    "events_stickiness" ->
      """WITH e AS (SELECT DISTINCT user_id,
        |    datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
        |    (year(ts) - 2024) * 12 + month(ts) - 1 AS mon FROM events),
        |dau AS (SELECT mon, day, count(*) AS dau FROM e GROUP BY 1, 2),
        |mau AS (SELECT mon, count(DISTINCT user_id) AS mau FROM e GROUP BY 1),
        |d AS (SELECT mon, count(*) AS days, CAST(SUM(dau) AS BIGINT) AS dau_sum
        |      FROM dau GROUP BY 1)
        |SELECT CAST(d.mon AS BIGINT) AS month_idx, d.days, m.mau, d.dau_sum,
        |  (1000 * d.dau_sum) // (d.days * m.mau) AS stickiness_permille
        |FROM d JOIN mau m USING (mon) ORDER BY month_idx""".stripMargin,

    // the DTW grid DP unrolled along anti-diagonals — integer min-plus
    // end-to-end, borders via COALESCE sentinels
    "ts_dtw" -> dtwOracle(8),

    // scale-free sum-of-squared-deviations on both sides of the ratio,
    // folded in HUGEINT; evidence ships as strings (passes int64)
    "ts_seasonal_strength" ->
      """WITH e AS (SELECT event_type AS series,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS vm FROM events),
        |b AS MATERIALIZED (SELECT series, h,
        |    CAST(CAST(SUM(vm) AS BIGINT) // COUNT(*) AS BIGINT) AS x
        |  FROM e GROUP BY 1, 2),
        |sl AS (SELECT series, h % 24 AS slot,
        |    CAST(CAST(SUM(x) AS BIGINT) // COUNT(*) AS BIGINT) AS slot_mean
        |  FROM b GROUP BY 1, 2),
        |j AS (SELECT b.series, b.x, b.x - sl.slot_mean AS r
        |      FROM b JOIN sl ON sl.series = b.series AND sl.slot = b.h % 24),
        |a AS (SELECT series, count(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx,
        |        SUM(r) AS sr, SUM(r * r) AS srr FROM j GROUP BY 1),
        |f AS (SELECT series, n, n * sxx - sx * sx AS ssdx,
        |        n * srr - sr * sr AS ssdr FROM a)
        |SELECT series, n, CAST(ssdx AS VARCHAR) AS ssd_x,
        |  CAST(ssdr AS VARCHAR) AS ssd_r,
        |  CASE WHEN ssdx > 0 THEN greatest(CAST(0 AS BIGINT),
        |    1000000 - CAST((1000000 * ssdr) // ssdx AS BIGINT)) END
        |    AS strength_micro
        |FROM f ORDER BY series""".stripMargin,

    // per-type terms round to micro before the per-user sum (the ln
    // convention); a single-type user reads exactly 0
    "events_user_entropy" ->
      """WITH ct AS (SELECT user_id, event_type, count(*) AS c
        |            FROM events GROUP BY 1, 2),
        |n AS (SELECT user_id, CAST(SUM(c) AS BIGINT) AS n, count(*) AS n_types
        |      FROM ct GROUP BY 1),
        |t AS (SELECT ct.user_id, n.n, n.n_types,
        |    CAST(round(1000000.0 * (CAST(ct.c AS DOUBLE) / CAST(n.n AS DOUBLE))
        |      * ln(CAST(n.n AS DOUBLE) / CAST(ct.c AS DOUBLE))) AS BIGINT) AS term
        |  FROM ct JOIN n USING (user_id))
        |SELECT user_id, max(n) AS n_events, CAST(max(n_types) AS BIGINT) AS n_types,
        |  CAST(SUM(term) AS BIGINT) AS entropy_micro
        |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin,

    "events_funnel" ->
      """WITH e AS MATERIALIZED (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |s1 AS MATERIALIZED (SELECT *, min(CASE WHEN event_type = 'view' THEN ts_us END)
        |         OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s1 FROM e),
        |s2 AS MATERIALIZED (SELECT *, min(CASE WHEN event_type = 'click' AND ts_us > s1 THEN ts_us END)
        |         OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s2 FROM s1),
        |s3 AS MATERIALIZED (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts_us > s2 THEN ts_us END)
        |         OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s3 FROM s2),
        |u AS MATERIALIZED (SELECT user_id, min(s1) AS u1, min(s2) AS u2, min(s3) AS u3 FROM s3 GROUP BY 1)
        |SELECT count(*) AS users_total, count(u1) AS reached_stage1,
        |  count(u2) AS reached_stage2, count(u3) AS reached_stage3 FROM u""".stripMargin,

    // the 3-stage chain extended mechanically to all five event types —
    // the k-stage fold must produce the identical SQL shape
    "events_funnel_5stage" ->
      """WITH e AS MATERIALIZED (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |s1 AS MATERIALIZED (SELECT *, min(CASE WHEN event_type = 'signup' THEN ts_us END)
        |         OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s1 FROM e),
        |s2 AS MATERIALIZED (SELECT *, min(CASE WHEN event_type = 'view' AND ts_us > s1 THEN ts_us END)
        |         OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s2 FROM s1),
        |s3 AS MATERIALIZED (SELECT *, min(CASE WHEN event_type = 'click' AND ts_us > s2 THEN ts_us END)
        |         OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s3 FROM s2),
        |s4 AS MATERIALIZED (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts_us > s3 THEN ts_us END)
        |         OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s4 FROM s3),
        |s5 AS MATERIALIZED (SELECT *, min(CASE WHEN event_type = 'error' AND ts_us > s4 THEN ts_us END)
        |         OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s5 FROM s4),
        |u AS MATERIALIZED (SELECT user_id, min(s1) AS u1, min(s2) AS u2, min(s3) AS u3,
        |         min(s4) AS u4, min(s5) AS u5 FROM s5 GROUP BY 1)
        |SELECT count(*) AS users_total, count(u1) AS reached_stage1,
        |  count(u2) AS reached_stage2, count(u3) AS reached_stage3,
        |  count(u4) AS reached_stage4, count(u5) AS reached_stage5 FROM u""".stripMargin,

    // re-arming conversion-window semantics: chained running MAXIMA of
    // previous-stage conversion times gate each stage's 24h window
    "events_funnel_windowed" ->
      """WITH e AS MATERIALIZED (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |a AS MATERIALIZED (SELECT *, max(CASE WHEN event_type = 'view' THEN ts_us END)
        |         OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS l1 FROM e),
        |b AS MATERIALIZED (SELECT *, CASE WHEN event_type = 'click' AND l1 IS NOT NULL
        |         AND ts_us > l1 AND ts_us - l1 <= 86400000000 THEN ts_us END AS c2 FROM a),
        |c AS MATERIALIZED (SELECT *, max(c2)
        |         OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS l2 FROM b),
        |d AS MATERIALIZED (SELECT *, CASE WHEN event_type = 'purchase' AND l2 IS NOT NULL
        |         AND ts_us > l2 AND ts_us - l2 <= 86400000000 THEN ts_us END AS c3 FROM c),
        |u AS MATERIALIZED (SELECT user_id,
        |         min(CASE WHEN event_type = 'view' THEN ts_us END) AS u1,
        |         min(c2) AS u2, min(c3) AS u3 FROM d GROUP BY 1)
        |SELECT count(*) AS users_total, count(u1) AS reached_stage1,
        |  count(u2) AS reached_stage2, count(u3) AS reached_stage3 FROM u""".stripMargin,

    // as-of spelling of the same gate rule: a data row is captured iff
    // the latest control at-or-before it (start wins a control tie) is a
    // start — provably identical to the operator's interval join
    "events_gated_capture" ->
      """WITH c AS MATERIALIZED (SELECT user_id, epoch_us(ts) AS c_ts,
        |         (event_type = 'signup') AS on_flag
        |       FROM events WHERE event_type IN ('signup', 'error') AND user_id < 40),
        |d AS MATERIALIZED (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
        |       FROM events WHERE event_type IN ('view', 'click', 'purchase'))
        |SELECT event_id, user_id, event_type, ts_us FROM d
        |WHERE COALESCE((SELECT on_flag FROM c
        |                WHERE c.user_id = d.user_id AND c.c_ts <= d.ts_us
        |                ORDER BY c.c_ts DESC, c.on_flag DESC LIMIT 1), false)
        |ORDER BY event_id""".stripMargin,

    // the funnel prelude verbatim, then the same tagged-union epilogue:
    // truncating permille of exact counts, nearest-rank LOWER median
    "events_funnel_rates" ->
      """WITH e AS MATERIALIZED (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |s1 AS MATERIALIZED (SELECT *, min(CASE WHEN event_type = 'view' THEN ts_us END)
        |         OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s1 FROM e),
        |s2 AS MATERIALIZED (SELECT *, min(CASE WHEN event_type = 'click' AND ts_us > s1 THEN ts_us END)
        |         OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s2 FROM s1),
        |s3 AS MATERIALIZED (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts_us > s2 THEN ts_us END)
        |         OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s3 FROM s2),
        |u AS MATERIALIZED (SELECT user_id, min(s1) AS u1, min(s2) AS u2, min(s3) AS u3 FROM s3 GROUP BY 1),
        |su AS MATERIALIZED (
        |  SELECT user_id, 1 AS stage, u1 IS NOT NULL AS reached,
        |         CAST(NULL AS BIGINT) AS delta FROM u
        |  UNION ALL
        |  SELECT user_id, 2, u2 IS NOT NULL,
        |         CASE WHEN u2 IS NOT NULL THEN u2 - u1 END FROM u
        |  UNION ALL
        |  SELECT user_id, 3, u3 IS NOT NULL,
        |         CASE WHEN u3 IS NOT NULL THEN u3 - u2 END FROM u),
        |a AS (SELECT stage, count(*) AS n_total,
        |      CAST(SUM(CASE WHEN reached THEN 1 ELSE 0 END) AS BIGINT) AS reached
        |      FROM su GROUP BY 1),
        |m AS (SELECT stage, delta AS median_delta_us FROM (
        |    SELECT stage, delta, user_id,
        |      row_number() OVER (PARTITION BY stage ORDER BY delta, user_id) AS rn,
        |      count(*) OVER (PARTITION BY stage) AS nd
        |    FROM su WHERE delta IS NOT NULL)
        |  WHERE rn = (nd + 1) // 2),
        |l AS (SELECT a.*, m.median_delta_us,
        |      lag(reached) OVER (ORDER BY stage) AS prev_reached
        |      FROM a LEFT JOIN m USING (stage))
        |SELECT stage, reached,
        |  CASE WHEN stage = 1 THEN (1000 * reached) // n_total
        |       WHEN prev_reached > 0 THEN (1000 * reached) // prev_reached END
        |    AS conv_permille,
        |  median_delta_us
        |FROM l ORDER BY stage""".stripMargin,

    // credited pairs = touches in the 7d lookback strictly before each
    // conversion; last/first touch off ONE recency row_number (first is
    // rl = n under the total tie-broken order), linear/decay credit in
    // exact integer floor division
    "events_attribution" ->
      """WITH e AS MATERIALIZED (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |c AS (SELECT user_id, event_id AS conv_id, ts_us AS conv_ts FROM e WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, event_id AS touch_id, event_type AS channel, ts_us AS touch_ts
        |      FROM e WHERE event_type IN ('click', 'signup', 'view')),
        |p AS MATERIALIZED (SELECT c.conv_id, t.channel, t.touch_id, t.touch_ts,
        |        604800000000 - (c.conv_ts - t.touch_ts) + 1 AS w
        |      FROM c JOIN t ON c.user_id = t.user_id
        |      WHERE t.touch_ts < c.conv_ts AND c.conv_ts - t.touch_ts <= 604800000000),
        |s AS (SELECT channel, w,
        |        count(*) OVER (PARTITION BY conv_id) AS n,
        |        sum(w) OVER (PARTITION BY conv_id) AS sw,
        |        row_number() OVER (PARTITION BY conv_id ORDER BY touch_ts DESC, touch_id DESC) AS rl
        |      FROM p)
        |SELECT channel, count(*) AS touches,
        |  CAST(sum(CASE WHEN rl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS conv_last,
        |  CAST(sum(CASE WHEN rl = n THEN 1 ELSE 0 END) AS BIGINT) AS conv_first,
        |  CAST(sum(1000000 // n) AS BIGINT) AS credit_linear_micro,
        |  CAST(sum((1000000 * w) // sw) AS BIGINT) AS credit_decay_micro
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,

    // deterministic md5-nibble variant split; conversion = any purchase
    // at/above 150; revenue in exact round-cents (the 2-dp doubles sit
    // within 1e-13 of the decimal — floor would drop a cent at 0.29)
    "events_ab_lift" ->
      """WITH u AS (SELECT user_id,
        |        sum(CASE WHEN event_type = 'purchase' AND value >= 150.0 THEN 1 ELSE 0 END) AS convs,
        |        CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(round(value * 100.0) AS BIGINT) ELSE 0 END) AS BIGINT) AS cents
        |      FROM events GROUP BY 1),
        |v AS (SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8' THEN 'A' ELSE 'B' END AS variant,
        |        convs, cents FROM u)
        |SELECT variant, count(*) AS users,
        |  CAST(sum(CASE WHEN convs > 0 THEN 1 ELSE 0 END) AS BIGINT) AS converters,
        |  (1000 * CAST(sum(CASE WHEN convs > 0 THEN 1 ELSE 0 END) AS BIGINT)) // count(*) AS conv_permille,
        |  CAST(sum(cents) AS BIGINT) AS revenue_cents
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,

    // Markov removal-effect attribution: journey transitions via the
    // same lag/terminal windows, then the absorption system solved in
    // CLOSED FORM — Cramer determinants over the integer counts in
    // HUGEINT (rows scaled by o_i so every entry is exact), each
    // knockout a 2x2 resolve; // truncates like the BigInt solve
    "events_attr_markov" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us FROM events),
        |conv AS (SELECT user_id, event_id AS conv_id, ts_us AS conv_ts
        |  FROM e WHERE event_type = 'purchase' AND value >= 150.0),
        |touch AS (SELECT user_id, event_id AS touch_id, event_type AS channel, ts_us AS touch_ts
        |  FROM e WHERE event_type IN ('click', 'signup', 'view')),
        |cj AS (SELECT conv_id AS jid, channel, touch_ts, touch_id, 'CONV' AS absorb
        |  FROM conv c JOIN touch t ON c.user_id = t.user_id
        |  WHERE touch_ts < conv_ts AND conv_ts - touch_ts <= CAST(604800 AS BIGINT) * 1000000),
        |nc AS (SELECT -t.user_id - 1 AS jid, channel, touch_ts, touch_id, 'NULLS' AS absorb
        |  FROM touch t WHERE t.user_id NOT IN (SELECT user_id FROM conv)),
        |j AS (SELECT jid, channel, absorb,
        |    COALESCE(lag(channel) OVER (PARTITION BY jid ORDER BY touch_ts, touch_id), 'START') AS src,
        |    row_number() OVER (PARTITION BY jid ORDER BY touch_ts DESC, touch_id DESC) AS rdesc
        |  FROM (SELECT * FROM cj UNION ALL SELECT * FROM nc)),
        |tr AS (SELECT src, channel AS dst, count(*) AS n FROM j GROUP BY 1, 2
        |  UNION ALL
        |  SELECT channel AS src, absorb AS dst, count(*) AS n FROM j WHERE rdesc = 1 GROUP BY 1, 2),
        |m AS (SELECT
        |    CAST(sum(CASE WHEN src = 'START' THEN n ELSE 0 END) AS HUGEINT) AS os,
        |    CAST(sum(CASE WHEN src = 'click' THEN n ELSE 0 END) AS HUGEINT) AS o1,
        |    CAST(sum(CASE WHEN src = 'signup' THEN n ELSE 0 END) AS HUGEINT) AS o2,
        |    CAST(sum(CASE WHEN src = 'view' THEN n ELSE 0 END) AS HUGEINT) AS o3,
        |    CAST(sum(CASE WHEN src = 'START' AND dst = 'click' THEN n ELSE 0 END) AS HUGEINT) AS s1,
        |    CAST(sum(CASE WHEN src = 'START' AND dst = 'signup' THEN n ELSE 0 END) AS HUGEINT) AS s2,
        |    CAST(sum(CASE WHEN src = 'START' AND dst = 'view' THEN n ELSE 0 END) AS HUGEINT) AS s3,
        |    CAST(sum(CASE WHEN src = 'click' AND dst = 'click' THEN n ELSE 0 END) AS HUGEINT) AS c11,
        |    CAST(sum(CASE WHEN src = 'click' AND dst = 'signup' THEN n ELSE 0 END) AS HUGEINT) AS c12,
        |    CAST(sum(CASE WHEN src = 'click' AND dst = 'view' THEN n ELSE 0 END) AS HUGEINT) AS c13,
        |    CAST(sum(CASE WHEN src = 'signup' AND dst = 'click' THEN n ELSE 0 END) AS HUGEINT) AS c21,
        |    CAST(sum(CASE WHEN src = 'signup' AND dst = 'signup' THEN n ELSE 0 END) AS HUGEINT) AS c22,
        |    CAST(sum(CASE WHEN src = 'signup' AND dst = 'view' THEN n ELSE 0 END) AS HUGEINT) AS c23,
        |    CAST(sum(CASE WHEN src = 'view' AND dst = 'click' THEN n ELSE 0 END) AS HUGEINT) AS c31,
        |    CAST(sum(CASE WHEN src = 'view' AND dst = 'signup' THEN n ELSE 0 END) AS HUGEINT) AS c32,
        |    CAST(sum(CASE WHEN src = 'view' AND dst = 'view' THEN n ELSE 0 END) AS HUGEINT) AS c33,
        |    CAST(sum(CASE WHEN src = 'click' AND dst = 'CONV' THEN n ELSE 0 END) AS HUGEINT) AS r1,
        |    CAST(sum(CASE WHEN src = 'signup' AND dst = 'CONV' THEN n ELSE 0 END) AS HUGEINT) AS r2,
        |    CAST(sum(CASE WHEN src = 'view' AND dst = 'CONV' THEN n ELSE 0 END) AS HUGEINT) AS r3
        |  FROM tr),
        |a AS (SELECT *, o1 - c11 AS a11, -c12 AS a12, -c13 AS a13,
        |    -c21 AS a21, o2 - c22 AS a22, -c23 AS a23,
        |    -c31 AS a31, -c32 AS a32, o3 - c33 AS a33 FROM m),
        |d AS (SELECT *,
        |    a11*(a22*a33 - a23*a32) - a12*(a21*a33 - a23*a31) + a13*(a21*a32 - a22*a31) AS det,
        |    r1*(a22*a33 - a23*a32) - a12*(r2*a33 - a23*r3) + a13*(r2*a32 - a22*r3) AS det1,
        |    a11*(r2*a33 - a23*r3) - r1*(a21*a33 - a23*a31) + a13*(a21*r3 - r2*a31) AS det2,
        |    a11*(a22*r3 - r2*a32) - a12*(a21*r3 - r2*a31) + r1*(a21*a32 - a22*a31) AS det3,
        |    a22*a33 - a23*a32 AS dk, r2*a33 - a23*r3 AS dk2, a22*r3 - r2*a32 AS dk3,
        |    a11*a33 - a13*a31 AS ds, r1*a33 - a13*r3 AS ds1, a11*r3 - r1*a31 AS ds3,
        |    a11*a22 - a12*a21 AS dv, r1*a22 - a12*r2 AS dv1, a11*r2 - r1*a21 AS dv2
        |  FROM a),
        |micro AS (SELECT *,
        |    CASE WHEN det != 0 THEN (1000000 * (s1*det1 + s2*det2 + s3*det3)) // (os * det) END AS pconv,
        |    CASE WHEN dk != 0 THEN (1000000 * (s2*dk2 + s3*dk3)) // (os * dk) END AS rm1,
        |    CASE WHEN ds != 0 THEN (1000000 * (s1*ds1 + s3*ds3)) // (os * ds) END AS rm2,
        |    CASE WHEN dv != 0 THEN (1000000 * (s1*dv1 + s2*dv2)) // (os * dv) END AS rm3
        |  FROM d),
        |eff AS (SELECT *, pconv - rm1 AS e1, pconv - rm2 AS e2, pconv - rm3 AS e3,
        |    (pconv - rm1) + (pconv - rm2) + (pconv - rm3) AS te FROM micro),
        |rows_ AS (
        |  SELECT 'click' AS channel, pconv, rm1 AS removed, e1 AS eff, te FROM eff
        |  UNION ALL SELECT 'signup', pconv, rm2, e2, te FROM eff
        |  UNION ALL SELECT 'view', pconv, rm3, e3, te FROM eff)
        |SELECT channel, CAST(pconv AS BIGINT) AS pconv_micro,
        |  CAST(removed AS BIGINT) AS removed_micro,
        |  CAST(eff AS BIGINT) AS effect_micro,
        |  CASE WHEN te IS NOT NULL AND te > 0 THEN CAST((1000 * eff) // te AS BIGINT) END AS share_permille
        |FROM rows_ ORDER BY channel""".stripMargin,

    // Welch t on per-user revenue cents: exact HUGEINT sufficient stats,
    // variance-over-n terms as single double divisions of exact num/den,
    // t and Satterthwaite df under the same fixed tree as the Spark side
    "events_ab_ttest" ->
      """WITH u AS (SELECT user_id,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(round(value * 100.0) AS BIGINT) ELSE 0 END) AS BIGINT) AS cents
        |  FROM events GROUP BY 1),
        |v AS (SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8' THEN 'A' ELSE 'B' END AS variant, cents FROM u),
        |s AS (SELECT
        |    CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |    CAST(sum(CASE WHEN variant = 'A' THEN cents ELSE 0 END) AS HUGEINT) AS sxa,
        |    CAST(sum(CASE WHEN variant = 'B' THEN cents ELSE 0 END) AS HUGEINT) AS sxb,
        |    sum(CASE WHEN variant = 'A' THEN CAST(cents AS HUGEINT) * cents ELSE 0 END) AS sxxa,
        |    sum(CASE WHEN variant = 'B' THEN CAST(cents AS HUGEINT) * cents ELSE 0 END) AS sxxb
        |  FROM v),
        |g AS (SELECT na, nb, sxa, sxb,
        |    CASE WHEN na >= 2 THEN
        |      CAST(na * sxxa - sxa * sxa AS DOUBLE) / CAST(na * na * (na - 1) AS DOUBLE) END AS ga,
        |    CASE WHEN nb >= 2 THEN
        |      CAST(nb * sxxb - sxb * sxb AS DOUBLE) / CAST(nb * nb * (nb - 1) AS DOUBLE) END AS gb
        |  FROM s)
        |SELECT na, nb,
        |  CASE WHEN na > 0 THEN CAST((1000000 * sxa) // na AS BIGINT) END AS mean_a_microcents,
        |  CASE WHEN nb > 0 THEN CAST((1000000 * sxb) // nb AS BIGINT) END AS mean_b_microcents,
        |  CASE WHEN na >= 2 AND nb >= 2 AND ga + gb > 0 THEN
        |    CAST(round(1000000.0 * (CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE)
        |      - CAST(sxb AS DOUBLE) / CAST(nb AS DOUBLE)) / sqrt(ga + gb)) AS BIGINT) END AS t_micro,
        |  CASE WHEN na >= 2 AND nb >= 2 AND ga + gb > 0 THEN
        |    CAST(round(1000.0 * (ga + gb) * (ga + gb)
        |      / (ga * ga / CAST(na - 1 AS DOUBLE) + gb * gb / CAST(nb - 1 AS DOUBLE))) AS BIGINT) END AS df_milli
        |FROM g""".stripMargin,

    // tie-corrected rank-sum: per-distinct-cents counts, strictly-below
    // B prefix, doubled U in HUGEINT; sig2num = N(N-1)(N+1) - sum(t^3-t)
    // exact (0 iff all tie), z under the shared fixed double tree
    "events_ab_mannwhitney" ->
      """WITH u AS (SELECT user_id,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(round(value * 100.0) AS BIGINT) ELSE 0 END) AS BIGINT) AS cents
        |  FROM events GROUP BY 1),
        |v AS (SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8' THEN 'A' ELSE 'B' END AS variant, cents FROM u),
        |g AS (SELECT cents, CAST(count(*) AS BIGINT) AS t,
        |    CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM v GROUP BY 1),
        |c AS (SELECT cents, t, ca, cb,
        |    CAST(COALESCE(sum(cb) OVER (ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS bb
        |  FROM g),
        |s AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb,
        |    sum(2 * CAST(bb AS HUGEINT) * ca + CAST(ca AS HUGEINT) * cb) AS u2,
        |    sum(CAST(t AS HUGEINT) * t * t - t) AS ties3
        |  FROM c),
        |z AS (SELECT na, nb, u2,
        |    CAST(na + nb AS HUGEINT) * (na + nb - 1) * (na + nb + 1) - ties3 AS sig2num
        |  FROM s)
        |SELECT na, nb, CAST(u2 AS VARCHAR) AS u2,
        |  CASE WHEN na > 0 AND nb > 0 AND sig2num > 0 THEN
        |    CAST(round(1000000.0 *
        |      (CAST(u2 - CAST(na AS HUGEINT) * nb AS DOUBLE) / 2.0)
        |      / sqrt(CAST(CAST(na AS HUGEINT) * nb AS DOUBLE) * CAST(sig2num AS DOUBLE)
        |         / CAST(12 * CAST(na + nb AS HUGEINT) * (na + nb - 1) AS DOUBLE))
        |      ) AS BIGINT) END AS z_micro
        |FROM z""".stripMargin,

    // CUPED: pooled exact sufficient stats, cross-multiplied cov/var
    // numerators, theta and adjusted means as the shared fixed tree
    "events_ab_cuped" ->
      """WITH u AS (SELECT user_id,
        |    CAST(sum(CASE WHEN event_type = 'purchase' AND ts < TIMESTAMP '2024-01-16 00:00:00'
        |        THEN CAST(round(value * 100.0) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-16 00:00:00'
        |        THEN CAST(round(value * 100.0) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |v AS (SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8' THEN 'A' ELSE 'B' END AS variant, x, y FROM u),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy, sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM v),
        |th AS (SELECT n, sx,
        |    n * sxy - sx * sy AS cov_num, n * sxx - sx * sx AS varx_num,
        |    n * syy - sy * sy AS vary_num FROM tot),
        |pv AS (SELECT variant, CAST(count(*) AS BIGINT) AS nv,
        |    CAST(sum(x) AS HUGEINT) AS sxv, CAST(sum(y) AS HUGEINT) AS syv
        |  FROM v GROUP BY 1)
        |SELECT variant, nv AS users,
        |  CAST((1000000 * syv) // nv AS BIGINT) AS mean_microcents,
        |  CASE WHEN varx_num > 0 THEN
        |    CAST(round(1000000.0 * (CAST(syv AS DOUBLE) / CAST(nv AS DOUBLE)
        |      - (CAST(cov_num AS DOUBLE) / CAST(varx_num AS DOUBLE))
        |        * (CAST(sxv AS DOUBLE) / CAST(nv AS DOUBLE)
        |           - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))) AS BIGINT) END
        |    AS adj_mean_microcents,
        |  CASE WHEN varx_num > 0 THEN
        |    CAST(round(1000000.0 * CAST(cov_num AS DOUBLE) / CAST(varx_num AS DOUBLE)) AS BIGINT) END
        |    AS theta_micro,
        |  CASE WHEN varx_num > 0 AND vary_num > 0 THEN
        |    CAST(round(1000.0 * (CAST(cov_num AS DOUBLE) * CAST(cov_num AS DOUBLE))
        |      / (CAST(varx_num AS DOUBLE) * CAST(vary_num AS DOUBLE))) AS BIGINT) END
        |    AS var_reduction_permille
        |FROM pv, th ORDER BY variant""".stripMargin,

    // post-hoc MDE at alpha=.05 two-sided / 80% power; the z quantiles
    // are data-independent literals spelled identically on both engines
    "events_ab_power" ->
      """WITH u AS (SELECT user_id,
        |    sum(CASE WHEN event_type = 'purchase' AND value >= 150.0 THEN 1 ELSE 0 END) AS convs
        |  FROM events GROUP BY 1),
        |v AS (SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8' THEN 'A' ELSE 'B' END AS variant, convs FROM u),
        |s AS (SELECT
        |    CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |    CAST(sum(CASE WHEN variant = 'A' AND convs > 0 THEN 1 ELSE 0 END) AS BIGINT) AS conv_a,
        |    CAST(sum(CASE WHEN variant = 'B' AND convs > 0 THEN 1 ELSE 0 END) AS BIGINT) AS conv_b
        |  FROM v),
        |p AS (SELECT *, CASE WHEN na + nb > 0 THEN
        |    CAST(conv_a + conv_b AS DOUBLE) / CAST(na + nb AS DOUBLE) END AS pbar FROM s),
        |o AS (SELECT na, nb, conv_a, conv_b,
        |  CASE WHEN na > 0 AND nb > 0 THEN
        |    CAST(round(1000000.0 * (CAST(conv_a AS DOUBLE) / CAST(na AS DOUBLE)
        |      - CAST(conv_b AS DOUBLE) / CAST(nb AS DOUBLE))) AS BIGINT) END AS observed_lift_micro,
        |  CASE WHEN na > 0 AND nb > 0 AND pbar > 0 AND pbar < 1 THEN
        |    CAST(round(1000000.0 * (CAST(1.959963984540054 AS DOUBLE)
        |        + CAST(0.8416212335729143 AS DOUBLE))
        |      * sqrt(pbar * (1.0 - pbar)
        |          * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE)))) AS BIGINT) END AS mde_micro
        |  FROM p)
        |SELECT *, CASE WHEN mde_micro IS NOT NULL THEN
        |    CAST(abs(observed_lift_micro) >= mde_micro AS BIGINT) END AS powered
        |FROM o""".stripMargin,

    // log-rank between md5 arms on the KM durations: at-risk via
    // exclusive window prefix sums, O-E and hypergeometric-variance
    // terms micro-rounded per event time (order-free exact sums), one
    // final double division for chi-square
    "events_ab_logrank" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |su AS MATERIALIZED (SELECT user_id, min(CASE WHEN event_type = 'signup' THEN ts_us END) AS s
        |  FROM e GROUP BY 1 HAVING s IS NOT NULL),
        |pu AS (SELECT e.user_id, min(e.ts_us) AS p FROM e JOIN su ON e.user_id = su.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts_us > su.s GROUP BY 1),
        |mx AS (SELECT max(ts_us) AS mt FROM e),
        |du AS (SELECT CASE WHEN substr(md5(CAST(su.user_id AS VARCHAR)), 1, 1) < '8' THEN 'A' ELSE 'B' END AS g,
        |    CASE WHEN pu.p IS NOT NULL THEN (pu.p - su.s) // 3600000000
        |         ELSE (mx.mt - su.s) // 3600000000 END AS dur_h,
        |    CASE WHEN pu.p IS NOT NULL THEN 1 ELSE 0 END AS obs
        |  FROM su LEFT JOIN pu USING (user_id) CROSS JOIN mx),
        |ct AS (SELECT dur_h,
        |    CAST(sum(CASE WHEN g = 'A' THEN obs ELSE 0 END) AS BIGINT) AS da,
        |    CAST(sum(CASE WHEN g = 'A' THEN 1 - obs ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN g = 'B' THEN obs ELSE 0 END) AS BIGINT) AS db,
        |    CAST(sum(CASE WHEN g = 'B' THEN 1 - obs ELSE 0 END) AS BIGINT) AS cb
        |  FROM du GROUP BY 1),
        |tot AS (SELECT CAST(sum(da + ca) AS BIGINT) AS na0, CAST(sum(db + cb) AS BIGINT) AS nb0 FROM ct),
        |r AS (SELECT dur_h, da, db,
        |    na0 - CAST(COALESCE(sum(da + ca) OVER (ORDER BY dur_h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS na,
        |    nb0 - CAST(COALESCE(sum(db + cb) OVER (ORDER BY dur_h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS nb,
        |    na0, nb0
        |  FROM ct CROSS JOIN tot),
        |terms AS (SELECT *, da + db AS d, na + nb AS n FROM r WHERE da + db > 0),
        |agg AS (SELECT
        |    CAST(COALESCE(sum(da), 0) AS BIGINT) AS events_a,
        |    CAST(COALESCE(sum(db), 0) AS BIGINT) AS events_b,
        |    CAST(COALESCE(sum(CAST(round(1000000.0 * (CAST(da AS DOUBLE)
        |      - CAST(d AS DOUBLE) * CAST(na AS DOUBLE) / CAST(n AS DOUBLE))) AS BIGINT)), 0) AS BIGINT) AS oe_micro,
        |    CAST(COALESCE(sum(CASE WHEN n > 1 THEN CAST(round(1000000.0 * (CAST(d AS DOUBLE)
        |      * (CAST(na AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (1.0 - CAST(na AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE)))) AS BIGINT) ELSE 0 END), 0) AS BIGINT) AS v_micro
        |  FROM terms)
        |SELECT na0 AS n_a, nb0 AS n_b, events_a, events_b, oe_micro, v_micro,
        |  CASE WHEN v_micro > 0 THEN
        |    CAST(round(CAST(oe_micro AS DOUBLE) * CAST(oe_micro AS DOUBLE)
        |      / CAST(v_micro AS DOUBLE)) AS BIGINT) END AS chi2_micro
        |FROM agg CROSS JOIN tot""".stripMargin,

    // the same per-cohort sequential product, replayed as a recursive
    // CTE on the duration row number (the Holt oracle discipline);
    // deaths-before-censors at ties, censor-at-frontier for never-buyers
    "events_survival_km" ->
      """WITH RECURSIVE e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |su AS MATERIALIZED (SELECT user_id, min(CASE WHEN event_type = 'signup' THEN ts_us END) AS s
        |  FROM e GROUP BY 1 HAVING s IS NOT NULL),
        |pu AS (SELECT e.user_id, min(e.ts_us) AS p FROM e JOIN su ON e.user_id = su.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts_us > su.s GROUP BY 1),
        |mx AS (SELECT max(ts_us) AS mt FROM e),
        |du AS (SELECT 'w' || CAST(su.s // 604800000000 AS VARCHAR) AS cohort,
        |    CASE WHEN pu.p IS NOT NULL THEN (pu.p - su.s) // 3600000000
        |         ELSE (mx.mt - su.s) // 3600000000 END AS dur_h,
        |    CASE WHEN pu.p IS NOT NULL THEN 1 ELSE 0 END AS obs
        |  FROM su LEFT JOIN pu USING (user_id) CROSS JOIN mx),
        |ct AS MATERIALIZED (SELECT cohort, dur_h, CAST(sum(obs) AS BIGINT) AS d,
        |    CAST(sum(1 - obs) AS BIGINT) AS c FROM du GROUP BY 1, 2),
        |tot AS (SELECT cohort, CAST(sum(d + c) AS BIGINT) AS n0 FROM ct GROUP BY 1),
        |r AS MATERIALIZED (SELECT ct.cohort, ct.dur_h, ct.d, ct.c, tot.n0,
        |    row_number() OVER (PARTITION BY ct.cohort ORDER BY ct.dur_h) AS rn
        |  FROM ct JOIN tot USING (cohort)),
        |s AS (
        |  SELECT cohort, rn, dur_h, n0 AS n_risk, d, c,
        |    1.0 - CAST(d AS DOUBLE) / CAST(n0 AS DOUBLE) AS surv
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.cohort, r.rn, r.dur_h, s.n_risk - s.d - s.c, r.d, r.c,
        |    s.surv * (1.0 - CAST(r.d AS DOUBLE) / CAST(s.n_risk - s.d - s.c AS DOUBLE))
        |  FROM r JOIN s ON r.cohort = s.cohort AND r.rn = s.rn + 1)
        |SELECT cohort, dur_h, n_risk, d, c,
        |  CAST(round(surv * 1000000.0) AS BIGINT) AS survival_micro
        |FROM s ORDER BY cohort, dur_h""".stripMargin,

    // the 2x2 contingency cells + chi-square in micro under ONE fixed
    // left-associated double tree (integer N*(ad-bc)^2 overflows int64)
    "events_ab_chi2" ->
      """WITH u AS (SELECT user_id,
        |        sum(CASE WHEN event_type = 'purchase' AND value >= 150.0 THEN 1 ELSE 0 END) AS convs
        |      FROM events GROUP BY 1),
        |v AS (SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8' THEN 'A' ELSE 'B' END AS variant,
        |        convs FROM u),
        |x AS (SELECT
        |  CAST(sum(CASE WHEN variant = 'A' AND convs > 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |  CAST(sum(CASE WHEN variant = 'A' AND convs = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |  CAST(sum(CASE WHEN variant = 'B' AND convs > 0 THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |  CAST(sum(CASE WHEN variant = 'B' AND convs = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM v)
        |SELECT a, b, c, d,
        |  CASE WHEN a + b > 0 AND c + d > 0 AND a + c > 0 AND b + d > 0 THEN
        |    CAST(round(
        |      CAST(a + b + c + d AS DOUBLE) * CAST(a*d - b*c AS DOUBLE) * CAST(a*d - b*c AS DOUBLE)
        |      / CAST(a + b AS DOUBLE) / CAST(c + d AS DOUBLE)
        |      / CAST(a + c AS DOUBLE) / CAST(b + d AS DOUBLE) * 1000000.0) AS BIGINT)
        |  END AS chi2_micro
        |FROM x""".stripMargin,

    // the same three synchronous rounds, unrolled; all math is integer
    // (floor division, permille damping) so the iterations are exact
    "graph_pagerank" ->
      """WITH pairs AS MATERIALIZED (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
        |                      's' || CAST(l_suppkey AS VARCHAR) AS dst
        |               FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |und AS MATERIALIZED (SELECT src AS a, dst AS b FROM pairs
        |        UNION ALL SELECT dst AS a, src AS b FROM pairs),
        |deg AS MATERIALIZED (SELECT a, count(*) AS deg FROM und GROUP BY 1),
        |ed AS MATERIALIZED (SELECT und.a, und.b, deg.deg FROM und JOIN deg USING (a)),
        |p0 AS MATERIALIZED (SELECT a AS node, CAST(1000000000 AS BIGINT) AS pr FROM deg),
        |p1 AS MATERIALIZED (SELECT b AS node, 150000000 + CAST(SUM(pr * 850 // (1000 * deg)) AS BIGINT) AS pr
        |       FROM ed JOIN p0 ON p0.node = ed.a GROUP BY b),
        |p2 AS MATERIALIZED (SELECT b AS node, 150000000 + CAST(SUM(pr * 850 // (1000 * deg)) AS BIGINT) AS pr
        |       FROM ed JOIN p1 ON p1.node = ed.a GROUP BY b),
        |p3 AS MATERIALIZED (SELECT b AS node, 150000000 + CAST(SUM(pr * 850 // (1000 * deg)) AS BIGINT) AS pr
        |       FROM ed JOIN p2 ON p2.node = ed.a GROUP BY b)
        |SELECT node, pr FROM p3 ORDER BY pr DESC, node""".stripMargin,

    // the same 4 synchronous sweeps unrolled; per-round argmax spelled as
    // a window rank over the (node, label) counts with the min tie-break
    "graph_label_prop" -> {
      val rounds = 4
      val sb = new StringBuilder
      sb ++= """WITH pairs AS MATERIALIZED (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
               |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
               |und AS MATERIALIZED (SELECT src AS a, dst AS b FROM pairs
               |  UNION ALL SELECT dst AS a, src AS b FROM pairs),
               |l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS lbl FROM und)""".stripMargin
      for (t <- 1 to rounds) {
        val p = t - 1
        sb ++= s""",
                  |l$t AS MATERIALIZED (SELECT node, lbl FROM (
                  |  SELECT und.b AS node, l$p.lbl AS lbl, count(*) AS c,
                  |    row_number() OVER (PARTITION BY und.b
                  |      ORDER BY count(*) DESC, l$p.lbl) AS rk
                  |  FROM und JOIN l$p ON und.a = l$p.node GROUP BY und.b, l$p.lbl)
                  |  WHERE rk = 1)""".stripMargin
      }
      sb ++= s"""
                |SELECT CASE WHEN node % 2 = 0 THEN 'c' || CAST(node // 2 AS VARCHAR)
                |            ELSE 's' || CAST(node // 2 AS VARCHAR) END AS node,
                |       CASE WHEN lbl % 2 = 0 THEN 'c' || CAST(lbl // 2 AS VARCHAR)
                |            ELSE 's' || CAST(lbl // 2 AS VARCHAR) END AS label
                |FROM l$rounds ORDER BY node""".stripMargin
      sb.toString
    },

    // nation communities over the trading graph, then the Newman Q
    // epilogue: exact integer cells, one fixed double tree per term
    "graph_modularity" ->
      """WITH pairs AS MATERIALIZED (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |lab AS MATERIALIZED (SELECT c_custkey * 2 AS node, CAST(c_nationkey AS BIGINT) AS lbl FROM customer
        |  UNION ALL SELECT s_suppkey * 2 + 1 AS node, CAST(s_nationkey AS BIGINT) AS lbl FROM supplier),
        |e AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM pairs WHERE src <> dst),
        |mm AS (SELECT count(*) AS m FROM e),
        |degs AS (SELECT node, count(*) AS deg FROM (
        |  SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
        |intern AS (SELECT la.lbl AS lbl, count(*) AS internal_edges
        |  FROM e JOIN lab la ON e.a = la.node JOIN lab lb ON e.b = lb.node
        |  WHERE la.lbl = lb.lbl GROUP BY 1),
        |bc AS (SELECT lab.lbl AS lbl, count(*) AS n_nodes,
        |    CAST(sum(degs.deg) AS BIGINT) AS degree_sum
        |  FROM lab JOIN degs ON lab.node = degs.node GROUP BY 1)
        |SELECT 'n' || CAST(lbl AS VARCHAR) AS label,
        |  n_nodes, CAST(COALESCE(internal_edges, 0) AS BIGINT) AS internal_edges,
        |  degree_sum,
        |  CAST(round((CAST(COALESCE(internal_edges, 0) AS DOUBLE) / CAST(m AS DOUBLE)
        |    - (CAST(degree_sum AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))
        |      * (CAST(degree_sum AS DOUBLE) / (2.0 * CAST(m AS DOUBLE))))
        |    * 1000000.0) AS BIGINT) AS q_micro
        |FROM bc LEFT JOIN intern USING (lbl) CROSS JOIN mm
        |ORDER BY label""".stripMargin,

    // the Brandes forward/backward sweeps unrolled: 8 BFS levels with
    // exact sigma sums, then 8 dependency levels in reverse — empty
    // frames beyond the sample's eccentricity no-op on both engines
    "graph_betweenness" -> {
      val maxDepth = 8
      val sb = new StringBuilder
      sb ++= """WITH pairs AS MATERIALIZED (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
               |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
               |e AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
               |  FROM pairs WHERE src <> dst),
               |und AS MATERIALIZED (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
               |f0 AS (SELECT CAST(src AS BIGINT) AS src, CAST(src AS BIGINT) AS node, CAST(1 AS BIGINT) AS sigma
               |  FROM (VALUES (2), (4), (6), (3), (5), (7)) s(src)),
               |v0 AS (SELECT src, node FROM f0)""".stripMargin
      for (t <- 1 to maxDepth) {
        val p = t - 1
        sb ++= s""",
                  |f$t AS MATERIALIZED (SELECT f.src, und.b AS node, CAST(sum(f.sigma) AS BIGINT) AS sigma
                  |  FROM f$p f JOIN und ON f.node = und.a
                  |  WHERE NOT EXISTS (SELECT 1 FROM v$p v WHERE v.src = f.src AND v.node = und.b)
                  |  GROUP BY 1, 2),
                  |v$t AS MATERIALIZED (SELECT * FROM v$p UNION ALL SELECT src, node FROM f$t)""".stripMargin
      }
      sb ++= s""",
                |d$maxDepth AS (SELECT CAST(NULL AS BIGINT) AS src, CAST(NULL AS BIGINT) AS node,
                |  CAST(NULL AS BIGINT) AS delta WHERE 1 = 0)""".stripMargin
      for (t <- maxDepth - 1 to 0 by -1) {
        val nx = t + 1
        sb ++= s""",
                  |d$t AS MATERIALIZED (SELECT c.src, c.node,
                  |  CAST(sum((c.sigma * (1000000 + COALESCE(dn.delta, 0))) // w.sigma) AS BIGINT) AS delta
                  |  FROM f$t c JOIN und ON c.node = und.a
                  |  JOIN f$nx w ON w.src = c.src AND w.node = und.b
                  |  LEFT JOIN d$nx dn ON dn.src = w.src AND dn.node = w.node
                  |  GROUP BY 1, 2)""".stripMargin
      }
      sb ++= s""",
                |acc AS (${(0 until maxDepth).map(t => s"SELECT * FROM d$t").mkString(" UNION ALL ")})
                |SELECT CASE WHEN node % 2 = 0 THEN 'c' || CAST(node // 2 AS VARCHAR)
                |            ELSE 's' || CAST(node // 2 AS VARCHAR) END AS node,
                |  CAST(sum(delta) AS BIGINT) AS bc_micro
                |FROM acc WHERE node <> src
                |GROUP BY 1 ORDER BY bc_micro DESC, node""".stripMargin
      sb.toString
    },

    // the betweenness oracle's forward unroll only: a node first reached
    // at level t for a source contributes 1000000 // t
    "graph_harmonic" -> {
      val maxDepth = 8
      val sb = new StringBuilder
      sb ++= """WITH pairs AS MATERIALIZED (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
               |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
               |e AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
               |  FROM pairs WHERE src <> dst),
               |und AS MATERIALIZED (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
               |f0 AS (SELECT CAST(src AS BIGINT) AS src, CAST(src AS BIGINT) AS node
               |  FROM (VALUES (2), (4), (6), (3), (5), (7)) s(src)),
               |v0 AS (SELECT src, node FROM f0)""".stripMargin
      for (t <- 1 to maxDepth) {
        val p = t - 1
        sb ++= s""",
                  |f$t AS MATERIALIZED (SELECT DISTINCT f.src, und.b AS node
                  |  FROM f$p f JOIN und ON f.node = und.a
                  |  WHERE NOT EXISTS (SELECT 1 FROM v$p v WHERE v.src = f.src AND v.node = und.b)),
                  |v$t AS MATERIALIZED (SELECT * FROM v$p UNION ALL SELECT src, node FROM f$t)""".stripMargin
      }
      sb ++= s""",
                |acc AS (${(1 to maxDepth)
                  .map(t => s"SELECT node, CAST(1000000 // $t AS BIGINT) AS h FROM f$t")
                  .mkString(" UNION ALL ")})
                |SELECT CASE WHEN node % 2 = 0 THEN 'c' || CAST(node // 2 AS VARCHAR)
                |            ELSE 's' || CAST(node // 2 AS VARCHAR) END AS node,
                |  CAST(sum(h) AS BIGINT) AS h_micro
                |FROM acc GROUP BY 1 ORDER BY h_micro DESC, node""".stripMargin
      sb.toString
    },

    // the same forward unroll, counting first-reached (src, node) pairs
    // per hop; the n_new > 0 filter mirrors Spark's non-empty level
    // prefix (BFS levels past exhaustion are empty on both sides)
    "graph_hopplot" -> hopPlotOracle(
      """SELECT h, CAST(n_new AS BIGINT) AS n_new,
        |  CAST(sum(n_new) OVER (ORDER BY h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_cum
        |FROM acc WHERE n_new > 0 ORDER BY h""".stripMargin),

    // the same BFS unroll, folded into the ANF effective-diameter
    // epilogue: cumulative over the non-empty hops, smallest h covering
    // >= 900 permille of the total
    "graph_eff_diameter" -> hopPlotOracle(
      """,hp AS (SELECT h, CAST(n_new AS BIGINT) AS n_new,
        |    CAST(sum(n_new) OVER (ORDER BY h
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_cum
        |  FROM acc WHERE n_new > 0),
        |t AS (SELECT max(n_cum) AS total FROM hp)
        |SELECT h AS eff_diameter, n_cum, total,
        |  (1000 * n_cum) // total AS coverage_permille
        |FROM hp, t WHERE n_cum * 1000 >= total * 900
        |ORDER BY eff_diameter LIMIT 1""".stripMargin),

    // symmetric entries make the two degree marginals equal, so the
    // Pearson r needs no square roots; exact HUGEINT sums → one double
    // conversion from the same integers on both engines
    "graph_assortativity" ->
      """WITH pairs AS MATERIALIZED (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM pairs WHERE src <> dst),
        |sym AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e),
        |deg AS (SELECT u, count(*) AS deg FROM sym GROUP BY 1),
        |xy AS (SELECT dx.deg AS x, dy.deg AS y
        |  FROM sym JOIN deg dx ON sym.u = dx.u JOIN deg dy ON sym.v = dy.u),
        |s AS (SELECT count(*) AS m2, sum(x) AS s_sum, sum(x*x) AS sq_sum, sum(x*y) AS p_sum FROM xy)
        |SELECT m2, CAST(s_sum AS DOUBLE) AS s_sum, CAST(sq_sum AS DOUBLE) AS sq_sum,
        |  CAST(p_sum AS DOUBLE) AS p_sum,
        |  CASE WHEN CAST(m2 AS DOUBLE) * CAST(sq_sum AS DOUBLE)
        |      - CAST(s_sum AS DOUBLE) * CAST(s_sum AS DOUBLE) <> 0.0 THEN
        |    CAST(round((CAST(m2 AS DOUBLE) * CAST(p_sum AS DOUBLE)
        |        - CAST(s_sum AS DOUBLE) * CAST(s_sum AS DOUBLE))
        |      / (CAST(m2 AS DOUBLE) * CAST(sq_sum AS DOUBLE)
        |        - CAST(s_sum AS DOUBLE) * CAST(s_sum AS DOUBLE))
        |      * 1000000.0) AS BIGINT)
        |  END AS r_micro
        |FROM s""".stripMargin,

    // same fixed-tree bin expression, clamped to the edge bins
    "agg_histogram" ->
      """SELECT event_type,
        |  CAST(least(greatest(floor(((value - 0.0) * 10.0) / 20.0), 0.0), 9.0) AS BIGINT) AS bin,
        |  count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY event_type, bin""".stripMargin,

    // quantile_cont matches Spark's interpolated percentile (proven by
    // agg_quantiles); bucket = 1 + #edges strictly below the value
    "agg_equidepth" -> {
      val buckets = 8
      val fracs = (1 until buckets).map(i => s"${i.toDouble / buckets}").mkString(", ")
      val assign = (0 until buckets - 1)
        .map(i => s"CASE WHEN value > qs[${i + 1}] THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH e AS MATERIALIZED (SELECT value FROM events WHERE value IS NOT NULL),
         |q AS MATERIALIZED (SELECT quantile_cont(value, [$fracs]) AS qs FROM e),
         |b AS (SELECT value, 1 + $assign AS bucket FROM e, q)
         |SELECT bucket, count(*) AS n, min(value) AS lo, max(value) AS hi
         |FROM b GROUP BY 1 ORDER BY bucket""".stripMargin
    },

    // open/close via the same two-ordering window, microsecond buckets
    "ts_resample_ohlc" ->
      """WITH e AS MATERIALIZED (SELECT event_type, event_id, value, epoch_us(ts) AS ts_us,
        |             epoch_us(ts) // 3600000000 AS bucket FROM events),
        |r AS MATERIALIZED (SELECT *,
        |        row_number() OVER (PARTITION BY event_type, bucket
        |          ORDER BY ts_us, event_id) AS rn_o,
        |        row_number() OVER (PARTITION BY event_type, bucket
        |          ORDER BY ts_us DESC, event_id DESC) AS rn_c
        |      FROM e)
        |SELECT event_type, bucket,
        |  min(CASE WHEN rn_o = 1 THEN value END) AS open,
        |  min(CASE WHEN rn_c = 1 THEN value END) AS close,
        |  min(value) AS lo, max(value) AS hi, count(*) AS n
        |FROM r GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin,

    // exact micro-unit partials make merge == recompute provable by hash:
    // the oracle is a single pass over ALL raw rows, the Spark side merges
    // a base partial with an increment partial
    "agg_incremental_merge" ->
      """WITH p AS MATERIALIZED (SELECT event_type, CAST(round(value * 1000000.0) AS BIGINT) AS v FROM events)
        |SELECT event_type, count(*) AS n, CAST(sum(v) AS BIGINT) AS total_micro,
        |  min(v) AS lo_micro, max(v) AS hi_micro,
        |  CAST(sum(v) // count(*) AS BIGINT) AS mean_micro
        |FROM p GROUP BY 1 ORDER BY event_type""".stripMargin,

    // same degree-ordered orientation unrolled in SQL: each triangle is
    // counted once because its endpoints are totally ordered by (deg, id)
    "graph_triangles" ->
      """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT least(x.pk, y.pk) AS a, greatest(x.pk, y.pk) AS b
        |      FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
        |deg AS MATERIALIZED (SELECT node, count(*) AS deg
        |        FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
        |ed AS MATERIALIZED (SELECT CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN e.a ELSE e.b END AS u,
        |              CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN e.b ELSE e.a END AS v,
        |              CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN db.deg ELSE da.deg END AS dv
        |       FROM e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b),
        |wedge AS MATERIALIZED (SELECT x.v AS v, y.v AS w
        |          FROM ed x JOIN ed y ON x.u = y.u AND (x.dv, x.v) < (y.dv, y.v))
        |SELECT (SELECT count(*) FROM deg) AS n_nodes,
        |       (SELECT count(*) FROM e) AS n_edges,
        |       (SELECT count(*) FROM wedge JOIN ed z ON z.u = wedge.v AND z.v = wedge.w)
        |         AS n_triangles""".stripMargin,

    // the triangle CTEs with the wedge's base kept: each closed triangle
    // credits its three nodes once; permille in HUGEINT like Spark's
    // decimal widening
    "graph_clustering" ->
      """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT least(x.pk, y.pk) AS a, greatest(x.pk, y.pk) AS b
        |      FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
        |deg AS MATERIALIZED (SELECT node, count(*) AS deg
        |        FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
        |ed AS MATERIALIZED (SELECT CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN e.a ELSE e.b END AS u,
        |              CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN e.b ELSE e.a END AS v,
        |              CASE WHEN (da.deg, e.a) < (db.deg, e.b) THEN db.deg ELSE da.deg END AS dv
        |       FROM e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b),
        |wedge AS MATERIALIZED (SELECT x.u AS u, x.v AS v, y.v AS w
        |          FROM ed x JOIN ed y ON x.u = y.u AND (x.dv, x.v) < (y.dv, y.v)),
        |tri AS MATERIALIZED (SELECT wedge.u, wedge.v, wedge.w
        |       FROM wedge JOIN ed z ON z.u = wedge.v AND z.v = wedge.w),
        |tn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM
        |        (SELECT u AS node FROM tri UNION ALL SELECT v FROM tri
        |         UNION ALL SELECT w FROM tri) GROUP BY 1)
        |SELECT deg.node, deg.deg, coalesce(tn.n_tri, 0) AS n_tri,
        |  CAST(CASE WHEN deg.deg >= 2
        |       THEN (2000 * coalesce(tn.n_tri, 0)) // (deg.deg * (deg.deg - 1))
        |       ELSE 0 END AS BIGINT) AS cc_permille
        |FROM deg LEFT JOIN tn USING (node) ORDER BY node""".stripMargin,

    // dense grid via generate_series per series span; the per-bucket
    // "last" is the same two-key DESC row_number as the OHLC close
    "ts_gap_fill" ->
      """WITH e AS MATERIALIZED (SELECT event_type, event_id, value, epoch_us(ts) AS ts_us,
        |             epoch_us(ts) // 3600000000 AS bucket FROM events),
        |r AS MATERIALIZED (SELECT *, row_number() OVER (PARTITION BY event_type, bucket
        |        ORDER BY ts_us DESC, event_id DESC) AS rn FROM e),
        |obs AS MATERIALIZED (SELECT event_type, bucket, count(*) AS n FROM e GROUP BY 1, 2),
        |lastv AS MATERIALIZED (SELECT event_type, bucket, value AS lv FROM r WHERE rn = 1),
        |span AS MATERIALIZED (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi FROM e GROUP BY 1),
        |grid AS MATERIALIZED (SELECT event_type, unnest(generate_series(lo, hi)) AS bucket FROM span),
        |j AS MATERIALIZED (SELECT g.event_type, g.bucket, coalesce(obs.n, 0) AS n, lastv.lv
        |      FROM grid g LEFT JOIN obs USING (event_type, bucket)
        |                  LEFT JOIN lastv USING (event_type, bucket))
        |SELECT event_type, bucket, CAST(n AS BIGINT) AS n,
        |  last_value(lv IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ff
        |FROM j ORDER BY event_type, bucket""".stripMargin,

    // peeling unrolled to 7 rounds (fixpoint at sf0.01 is round 2; the
    // spare rounds are no-ops once converged, so unrolled == fixpoint)
    "graph_ktruss" -> kTrussOracle(rounds = 8, k = 12),

    "graph_kcore" ->
      """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT least(x.pk, y.pk) AS a, greatest(x.pk, y.pk) AS b
        |      FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
        |s0 AS MATERIALIZED (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
        |k1 AS MATERIALIZED (SELECT u FROM s0 GROUP BY u HAVING count(*) >= 65),
        |s1 AS MATERIALIZED (SELECT s.u, s.v FROM s0 s JOIN k1 x ON s.u = x.u JOIN k1 y ON s.v = y.u),
        |k2 AS MATERIALIZED (SELECT u FROM s1 GROUP BY u HAVING count(*) >= 65),
        |s2 AS MATERIALIZED (SELECT s.u, s.v FROM s1 s JOIN k2 x ON s.u = x.u JOIN k2 y ON s.v = y.u),
        |k3 AS MATERIALIZED (SELECT u FROM s2 GROUP BY u HAVING count(*) >= 65),
        |s3 AS MATERIALIZED (SELECT s.u, s.v FROM s2 s JOIN k3 x ON s.u = x.u JOIN k3 y ON s.v = y.u),
        |k4 AS MATERIALIZED (SELECT u FROM s3 GROUP BY u HAVING count(*) >= 65),
        |s4 AS MATERIALIZED (SELECT s.u, s.v FROM s3 s JOIN k4 x ON s.u = x.u JOIN k4 y ON s.v = y.u),
        |k5 AS MATERIALIZED (SELECT u FROM s4 GROUP BY u HAVING count(*) >= 65),
        |s5 AS MATERIALIZED (SELECT s.u, s.v FROM s4 s JOIN k5 x ON s.u = x.u JOIN k5 y ON s.v = y.u),
        |k6 AS MATERIALIZED (SELECT u FROM s5 GROUP BY u HAVING count(*) >= 65),
        |s6 AS MATERIALIZED (SELECT s.u, s.v FROM s5 s JOIN k6 x ON s.u = x.u JOIN k6 y ON s.v = y.u),
        |k7 AS MATERIALIZED (SELECT u FROM s6 GROUP BY u HAVING count(*) >= 65),
        |s7 AS MATERIALIZED (SELECT s.u, s.v FROM s6 s JOIN k7 x ON s.u = x.u JOIN k7 y ON s.v = y.u)
        |SELECT u AS node, count(*) AS core_deg FROM s7
        |GROUP BY u ORDER BY node""".stripMargin,

    // recursive CTE with UNION dedup bounds the walk table to
    // V × (maxDepth+1) rows; min(depth) per node == frontier arrival
    "graph_bfs" ->
      """WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (SELECT DISTINCT least(x.pk, y.pk) AS a, greatest(x.pk, y.pk) AS b
        |      FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
        |adj AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
        |walk AS (
        |  SELECT CAST(0 AS BIGINT) AS node, 0 AS depth
        |  UNION
        |  SELECT adj.v AS node, walk.depth + 1 AS depth
        |  FROM walk JOIN adj ON adj.u = walk.node
        |  WHERE walk.depth < 30)
        |SELECT node, CAST(min(depth) AS INT) AS depth
        |FROM walk GROUP BY node ORDER BY node""".stripMargin,

    // the same min-plus rounds unrolled: relax-then-union-then-min per
    // round, exact integer weights, unreached nodes absent
    "graph_distances" ->
      """WITH pairs AS MATERIALIZED (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst, l_orderkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |wp AS MATERIALIZED (SELECT src, dst, 1000000 // count(*) AS w
        |  FROM pairs GROUP BY src, dst),
        |e AS MATERIALIZED (SELECT src AS a, dst AS b, w FROM wp
        |     UNION ALL SELECT dst, src, w FROM wp),
        |d0 AS (SELECT CAST(2 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist),
        |d1 AS MATERIALIZED (SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM (
        |    SELECT e.b AS node, d0.dist + e.w AS dist FROM e JOIN d0 ON d0.node = e.a
        |    UNION ALL SELECT node, dist FROM d0) GROUP BY 1),
        |d2 AS MATERIALIZED (SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM (
        |    SELECT e.b AS node, d1.dist + e.w AS dist FROM e JOIN d1 ON d1.node = e.a
        |    UNION ALL SELECT node, dist FROM d1) GROUP BY 1),
        |d3 AS MATERIALIZED (SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM (
        |    SELECT e.b AS node, d2.dist + e.w AS dist FROM e JOIN d2 ON d2.node = e.a
        |    UNION ALL SELECT node, dist FROM d2) GROUP BY 1)
        |SELECT CASE WHEN node % 2 = 0 THEN 'c' || CAST(node // 2 AS VARCHAR)
        |            ELSE 's' || CAST(node // 2 AS VARCHAR) END AS node, dist
        |FROM d3 ORDER BY dist, node""".stripMargin,

    // the same sparse rounds unrolled: contributions union the source
    // base row, one grouped sum per round — integer floor arithmetic
    "graph_ppr" ->
      """WITH pairs AS MATERIALIZED (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |und AS MATERIALIZED (SELECT src AS a, dst AS b FROM pairs
        |     UNION ALL SELECT dst, src FROM pairs),
        |deg AS MATERIALIZED (SELECT a, count(*) AS deg FROM und GROUP BY 1),
        |ed AS MATERIALIZED (SELECT und.a, und.b, deg.deg FROM und JOIN deg USING (a)),
        |p0 AS (SELECT CAST(2 AS BIGINT) AS node, CAST(1000000000 AS BIGINT) AS pr),
        |p1 AS MATERIALIZED (SELECT node, CAST(SUM(c) AS BIGINT) AS pr FROM (
        |    SELECT ed.b AS node, pr * 850 // (1000 * deg) AS c
        |    FROM ed JOIN p0 ON p0.node = ed.a
        |    UNION ALL SELECT CAST(2 AS BIGINT), CAST(150000000 AS BIGINT))
        |  GROUP BY 1),
        |p2 AS MATERIALIZED (SELECT node, CAST(SUM(c) AS BIGINT) AS pr FROM (
        |    SELECT ed.b AS node, pr * 850 // (1000 * deg) AS c
        |    FROM ed JOIN p1 ON p1.node = ed.a
        |    UNION ALL SELECT CAST(2 AS BIGINT), CAST(150000000 AS BIGINT))
        |  GROUP BY 1),
        |p3 AS MATERIALIZED (SELECT node, CAST(SUM(c) AS BIGINT) AS pr FROM (
        |    SELECT ed.b AS node, pr * 850 // (1000 * deg) AS c
        |    FROM ed JOIN p2 ON p2.node = ed.a
        |    UNION ALL SELECT CAST(2 AS BIGINT), CAST(150000000 AS BIGINT))
        |  GROUP BY 1)
        |SELECT CASE WHEN node % 2 = 0 THEN 'c' || CAST(node // 2 AS VARCHAR)
        |            ELSE 's' || CAST(node // 2 AS VARCHAR) END AS node, pr
        |FROM p3 ORDER BY pr DESC, node""".stripMargin,

    // wedge enumeration through degree-capped shared neighbors; RA is
    // the exact integer 1e6 div deg summed associatively; known edges
    // leave via the same anti-join
    "graph_link_pred" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT least(x.pk, y.pk) AS a, greatest(x.pk, y.pk) AS b
        |      FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
        |adj AS (SELECT a AS z, b AS n FROM e UNION ALL SELECT b, a FROM e),
        |deg AS (SELECT z, count(*) AS deg FROM adj GROUP BY 1),
        |keep AS MATERIALIZED (SELECT adj.z, adj.n, deg.deg
        |      FROM adj JOIN deg USING (z) WHERE deg <= 64),
        |w AS (SELECT x.n AS u, y.n AS v, 1000000 // x.deg AS ra
        |      FROM keep x JOIN keep y ON x.z = y.z AND x.n < y.n),
        |s AS (SELECT u, v, count(*) AS common, CAST(SUM(ra) AS BIGINT) AS ra_micro
        |      FROM w GROUP BY 1, 2 HAVING count(*) >= 2),
        |f AS (SELECT s.* FROM s LEFT JOIN e ON s.u = e.a AND s.v = e.b
        |      WHERE e.a IS NULL)
        |SELECT u, v, common, ra_micro FROM f
        |ORDER BY ra_micro DESC, u, v LIMIT 100""".stripMargin,

    // the same indexed-adjacency picks unrolled step by step: neighbor
    // index = 52-bit md5("walk:step") mod degree over the b-sorted
    // row-numbered adjacency — identical arithmetic in both engines
    "graph_walks" ->
      """WITH pairs AS MATERIALIZED (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS MATERIALIZED (SELECT src AS a, dst AS b FROM pairs
        |     UNION ALL SELECT dst, src FROM pairs),
        |adj AS MATERIALIZED (SELECT a, b,
        |       row_number() OVER (PARTITION BY a ORDER BY b) - 1 AS idx FROM e),
        |deg AS MATERIALIZED (SELECT a, count(*) AS deg FROM e GROUP BY 1),
        |f0 AS (SELECT deg.a * 2 + ww.w AS walk, deg.a AS cur
        |       FROM deg CROSS JOIN (SELECT CAST(unnest(range(0, 2)) AS BIGINT) AS w) ww),
        |s1 AS (SELECT walk, adj.b AS cur
        |       FROM f0 JOIN deg ON f0.cur = deg.a
        |       JOIN adj ON adj.a = f0.cur AND adj.idx =
        |         ('0x' || substr(md5(CAST(walk AS VARCHAR) || ':1'), 1, 13))::BIGINT % deg.deg),
        |s2 AS (SELECT walk, adj.b AS cur
        |       FROM s1 JOIN deg ON s1.cur = deg.a
        |       JOIN adj ON adj.a = s1.cur AND adj.idx =
        |         ('0x' || substr(md5(CAST(walk AS VARCHAR) || ':2'), 1, 13))::BIGINT % deg.deg),
        |s3 AS (SELECT walk, adj.b AS cur
        |       FROM s2 JOIN deg ON s2.cur = deg.a
        |       JOIN adj ON adj.a = s2.cur AND adj.idx =
        |         ('0x' || substr(md5(CAST(walk AS VARCHAR) || ':3'), 1, 13))::BIGINT % deg.deg),
        |s4 AS (SELECT walk, adj.b AS cur
        |       FROM s3 JOIN deg ON s3.cur = deg.a
        |       JOIN adj ON adj.a = s3.cur AND adj.idx =
        |         ('0x' || substr(md5(CAST(walk AS VARCHAR) || ':4'), 1, 13))::BIGINT % deg.deg),
        |un AS (SELECT walk, 0 AS step, cur FROM f0
        |  UNION ALL SELECT walk, 1, cur FROM s1
        |  UNION ALL SELECT walk, 2, cur FROM s2
        |  UNION ALL SELECT walk, 3, cur FROM s3
        |  UNION ALL SELECT walk, 4, cur FROM s4)
        |SELECT
        |  CASE WHEN (walk // 2) % 2 = 0 THEN 'c' || CAST((walk // 2) // 2 AS VARCHAR)
        |       ELSE 's' || CAST((walk // 2) // 2 AS VARCHAR) END AS start,
        |  CAST(walk % 2 AS INT) AS w, step,
        |  CASE WHEN cur % 2 = 0 THEN 'c' || CAST(cur // 2 AS VARCHAR)
        |       ELSE 's' || CAST(cur // 2 AS VARCHAR) END AS node
        |FROM un ORDER BY start, w, step""".stripMargin,

    // integer day arithmetic from a fixed epoch — no engine week-truncation
    "events_retention" ->
      """WITH e AS (SELECT user_id,
        |             datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day FROM events),
        |f AS (SELECT user_id, min(day) AS first_day FROM e GROUP BY 1)
        |SELECT CAST(floor(first_day / 7) AS BIGINT) AS cohort_week,
        |  CAST(floor((day - first_day) / 7) AS BIGINT) AS week_offset,
        |  count(DISTINCT e.user_id) AS active_users
        |FROM e JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "ts_latest_snapshot" ->
      """SELECT event_type AS topic, event_id, ts_sec, value FROM (
        |  SELECT event_type, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY CAST(floor(epoch(ts)) AS BIGINT) DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY topic""".stripMargin,

    "ts_range_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events),
        |l AS (SELECT *, CASE WHEN lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) IS NULL
        |               OR ts_sec - lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) > 7200
        |             THEN 1 ELSE 0 END AS is_new
        |      FROM e),
        |s AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
        |        ROWS UNBOUNDED PRECEDING) AS session_idx FROM l),
        |sess AS (SELECT user_id, session_idx, min(ts_sec) AS start_sec, max(ts_sec) AS end_sec
        |         FROM s GROUP BY user_id, session_idx),
        |p AS (SELECT event_id, user_id, ts_sec FROM e WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, CAST(sess.session_idx AS BIGINT) AS session_idx
        |FROM p JOIN sess ON p.user_id = sess.user_id
        |  AND p.ts_sec BETWEEN sess.start_sec AND sess.end_sec
        |ORDER BY p.event_id, session_idx""".stripMargin,

    "ts_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |             CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events),
        |l AS (SELECT user_id, ts_sec, event_id, value FROM e WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, ts_sec, max(event_id) AS mark_id
        |      FROM e WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT l.user_id, l.ts_sec, l.event_id, l.value, r.mark_id AS asof_mark_id
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts_sec >= r.ts_sec
        |ORDER BY l.event_id""".stripMargin,

    // native ASOF plus the row-local staleness guard on the matched
    // right timestamp
    "ts_asof_tolerance" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |             CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events),
        |l AS (SELECT user_id, ts_sec, event_id, value FROM e WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, ts_sec, max(event_id) AS mark_id
        |      FROM e WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT l.user_id, l.ts_sec, l.event_id, l.value,
        |  CASE WHEN l.ts_sec - r.ts_sec <= 600 THEN r.mark_id ELSE NULL END AS asof_mark_id
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts_sec >= r.ts_sec
        |ORDER BY l.event_id""".stripMargin,

    // DuckDB's native ASOF with the inequality flipped — an independent
    // implementation of the forward direction
    "ts_asof_forward" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |             CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events),
        |l AS (SELECT user_id, ts_sec, event_id FROM e WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts_sec, min(event_id) AS next_id
        |      FROM e WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT l.user_id, l.ts_sec, l.event_id, r.next_id AS asof_next_id
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts_sec <= r.ts_sec
        |ORDER BY l.event_id""".stripMargin,

    // two native ASOF passes (>= backward, <= forward) + the same
    // tie-to-backward CASE the Spark side codegens
    "ts_asof_nearest" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |             CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events),
        |l AS (SELECT user_id, ts_sec, event_id FROM e WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, ts_sec, max(event_id) AS mark_id
        |      FROM e WHERE event_type = 'click' GROUP BY 1, 2),
        |b AS (SELECT l.user_id, l.ts_sec, l.event_id, r.mark_id AS b_mark, r.ts_sec AS b_ts
        |      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts_sec >= r.ts_sec),
        |f AS (SELECT l.event_id, r.mark_id AS f_mark, r.ts_sec AS f_ts
        |      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts_sec <= r.ts_sec)
        |SELECT b.user_id, b.ts_sec, b.event_id,
        |  CASE WHEN b.b_ts IS NOT NULL AND (f.f_ts IS NULL OR b.ts_sec - b.b_ts <= f.f_ts - b.ts_sec)
        |       THEN b.b_mark ELSE f.f_mark END AS asof_mark_id,
        |  CASE WHEN b.b_ts IS NOT NULL AND (f.f_ts IS NULL OR b.ts_sec - b.b_ts <= f.f_ts - b.ts_sec)
        |       THEN b.ts_sec - b.b_ts ELSE f.f_ts - b.ts_sec END AS asof_dt
        |FROM b JOIN f ON f.event_id = b.event_id
        |ORDER BY b.event_id""".stripMargin,

    "ts_asof_join_exec" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |             CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events),
        |l AS (SELECT user_id, ts_sec, event_id, value FROM e WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, ts_sec, max(event_id) AS mark_id
        |      FROM e WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT l.user_id, l.ts_sec, l.event_id, l.value, r.mark_id AS asof_mark_id
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts_sec >= r.ts_sec
        |ORDER BY l.event_id""".stripMargin,

    "ts_reassemble" ->
      """WITH ch AS (
        |  SELECT doc_id AS files_id, CAST(t.n AS INT) AS n,
        |    substring(text, CAST(t.n AS INT) * 64 + 1, 64) AS data
        |  FROM documents, range(0, 1024) AS t(n)
        |  WHERE doc_id < 10 AND t.n <= (length(text) - 1) // 64)
        |SELECT files_id, string_agg(data, '' ORDER BY n) AS payload
        |FROM ch GROUP BY files_id ORDER BY files_id""".stripMargin,

    "ts_sessionize" ->
      """WITH e AS (SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events),
        |l AS (SELECT *, CASE WHEN lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) IS NULL
        |               OR ts_sec - lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) > 7200
        |             THEN 1 ELSE 0 END AS is_new
        |      FROM e),
        |s AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
        |        ROWS UNBOUNDED PRECEDING) AS session_idx FROM l)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx, count(*) AS n_events,
        |  min(ts_sec) AS start_sec, max(ts_sec) AS end_sec
        |FROM s GROUP BY user_id, session_idx ORDER BY user_id, session_idx""".stripMargin,

    // the sessionize prelude verbatim, then one lag over the SESSION
    // table; means are truncating integer divisions, the gap mean
    // CASE-NULL for single-session users in both engines
    "ts_session_stats" ->
      """WITH e AS (SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events),
        |l AS (SELECT *, CASE WHEN lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) IS NULL
        |               OR ts_sec - lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) > 7200
        |             THEN 1 ELSE 0 END AS is_new
        |      FROM e),
        |s AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
        |        ROWS UNBOUNDED PRECEDING) AS session_idx FROM l),
        |sess AS (SELECT user_id, session_idx, count(*) AS n_events,
        |    min(ts_sec) AS start_sec, max(ts_sec) AS end_sec
        |  FROM s GROUP BY 1, 2),
        |g AS (SELECT *, lag(end_sec) OVER (PARTITION BY user_id ORDER BY session_idx) AS prev_end
        |      FROM sess)
        |SELECT user_id, count(*) AS n_sessions,
        |  CAST(SUM(n_events) AS BIGINT) AS n_events,
        |  CAST(SUM(end_sec - start_sec) AS BIGINT) // count(*) AS mean_session_sec,
        |  CASE WHEN count(*) > 1
        |    THEN CAST(SUM(start_sec - prev_end) AS BIGINT) // (count(*) - 1) END
        |    AS mean_gap_sec
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,

    "ts_sessionize_native" ->
      """WITH e AS (SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events),
        |l AS (SELECT *, CASE WHEN lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) IS NULL
        |               OR ts_sec - lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) > 7200
        |             THEN 1 ELSE 0 END AS is_new
        |      FROM e),
        |s AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
        |        ROWS UNBOUNDED PRECEDING) AS session_idx FROM l)
        |SELECT user_id, min(ts_sec) AS start_sec, max(ts_sec) AS end_sec, count(*) AS n_events
        |FROM s GROUP BY user_id, session_idx ORDER BY user_id, start_sec""".stripMargin,

    "q6_forecast_revenue" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(28,8))) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(28,8))) AS DOUBLE) > 300)
        |SELECT o_orderkey, o_custkey, o_totalprice, total_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |ORDER BY total_qty DESC, o_orderkey LIMIT 100""".stripMargin,

    "q17_small_qty_revenue" ->
      """WITH a AS (SELECT l_partkey AS ap_partkey,
        |             CAST(SUM(CAST(l_quantity AS DECIMAL(28,8))) AS DOUBLE) / count(*) AS avg_qty
        |           FROM lineitem GROUP BY 1)
        |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / CAST(7.0 AS DOUBLE) AS avg_yearly
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN a ON l_partkey = ap_partkey
        |WHERE p_brand = 'Brand#1'
        |  AND l_quantity < CAST(0.2 AS DOUBLE) * avg_qty""".stripMargin,

    "q22_idle_balances" ->
      """WITH a AS (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_bal
        |           FROM customer WHERE c_acctbal > 0),
        |r AS (SELECT c_custkey, c_nationkey, c_acctbal FROM customer, a WHERE c_acctbal > avg_bal)
        |SELECT c_nationkey, count(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM r
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = r.c_custkey
        |                  AND o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    // identical blocking key (first-3-words of the normalized 80-char
    // prefix) and DuckDB's own levenshtein as the confirm
    "dedup_fuzzy_prefix" ->
      """WITH d AS MATERIALIZED (SELECT doc_id AS id,
        |    substr(regexp_replace(lower(text), '\s+', ' ', 'g'), 1, 80) AS pfx
        |  FROM documents),
        |b AS MATERIALIZED (SELECT id, pfx,
        |    array_to_string(string_split(pfx, ' ')[1:3], ' ') AS blk FROM d)
        |SELECT x.id AS id1, y.id AS id2, levenshtein(x.pfx, y.pfx) AS dist
        |FROM b x JOIN b y ON x.blk = y.blk AND x.id < y.id
        |WHERE levenshtein(x.pfx, y.pfx) <= 20
        |ORDER BY id1, id2""".stripMargin,

    // the quadratic NOT-EXISTS dominance spelling — the hash-match
    // proves the two-phase frontier sweep computes the exact skyline
    "part_skyline" ->
      """SELECT p_partkey, p_retailprice, CAST(p_size AS BIGINT) AS p_size
        |FROM part a
        |WHERE NOT EXISTS (SELECT 1 FROM part b
        |  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
        |    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))
        |ORDER BY p_partkey""".stripMargin,

    // the classic correlated EXISTS/NOT-EXISTS spelling — cross-checks
    // the Spark side's decorrelated per-order-aggregate plan
    "q21_waiting_suppliers" ->
      """WITH li AS MATERIALIZED (
        |  SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'),
        |late AS MATERIALIZED (
        |  SELECT * FROM li WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |SELECT s_name, count(*) AS numwait
        |FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM li l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,

    // the correlated spelling Spark decorrelates: cost = (SELECT min ...)
    // per part; unit cost is one IEEE double division in both engines
    "q2_min_cost_supplier" ->
      """WITH sup AS MATERIALIZED (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA'),
        |offers AS MATERIALIZED (
        |  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS unit_cost
        |  FROM lineitem
        |  WHERE l_quantity > 0
        |    AND l_suppkey IN (SELECT s_suppkey FROM sup)
        |    AND l_partkey IN (SELECT p_partkey FROM part
        |                      WHERE p_type = 'STANDARD' AND p_size <= 10)
        |  GROUP BY 1, 2)
        |SELECT s_acctbal, s_name, n_name, l_partkey AS p_partkey, unit_cost
        |FROM offers JOIN sup ON l_suppkey = s_suppkey
        |WHERE unit_cost = (SELECT min(o2.unit_cost) FROM offers o2
        |                   WHERE o2.l_partkey = offers.l_partkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,

    // the literal double-nested correlated spelling (two aggregate
    // subqueries); exact decimal quantity sums, 2*qty_yr avoids 0.5
    "q20_concentrated_shippers" ->
      """WITH conc AS MATERIALIZED (
        |  SELECT DISTINCT l_suppkey FROM (
        |    SELECT l_suppkey, l_partkey,
        |      SUM(CAST(CASE WHEN year(l_shipdate) = 1997 THEN l_quantity
        |               ELSE 0 END AS DECIMAL(28,8))) AS qty_yr,
        |      SUM(CAST(l_quantity AS DECIMAL(28,8))) AS qty_all
        |    FROM lineitem
        |    WHERE l_partkey IN (SELECT p_partkey FROM part
        |                        WHERE p_name LIKE 'red %')
        |    GROUP BY 1, 2) t
        |  WHERE qty_yr * 2 > qty_all)
        |SELECT s_name, s_acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'
        |  AND s_suppkey IN (SELECT l_suppkey FROM conc)
        |ORDER BY s_name""".stripMargin,

    // window-end explode via range(); date + int arithmetic in both engines
    "events_sliding_dau" ->
      """WITH ud AS MATERIALIZED (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |mx AS MATERIALIZED (SELECT max(d) AS max_d FROM ud),
        |ex AS MATERIALIZED (SELECT user_id, d + CAST(r.range AS INT) AS w_day
        |                    FROM ud CROSS JOIN range(7) r)
        |SELECT w_day, count(DISTINCT user_id) AS dau7
        |FROM ex, mx WHERE w_day <= max_d
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // integer window sum keeps the normalizer exact; p is one double op
    "events_transition_matrix" ->
      """WITH e AS MATERIALIZED (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |pr AS MATERIALIZED (SELECT user_id, event_id, event_type, ts_us,
        |        lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_type
        |      FROM e),
        |c AS MATERIALIZED (SELECT prev_type, event_type AS next_type, count(*) AS n
        |     FROM pr WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n,
        |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
        |FROM c ORDER BY prev_type, next_type""".stripMargin,

    // first-occurrence flag + running sum — the two-window reshape
    "events_running_distinct" ->
      """WITH e AS MATERIALIZED (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |f AS MATERIALIZED (SELECT *, CASE WHEN row_number() OVER (
        |        PARTITION BY user_id, event_type ORDER BY ts_us, event_id) = 1
        |      THEN 1 ELSE 0 END AS first_seen FROM e)
        |SELECT event_id, user_id,
        |  CAST(SUM(first_seen) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS distinct_so_far
        |FROM f ORDER BY user_id, event_id""".stripMargin,

    // same interpolated percentile as agg_quantiles; the score division
    // is one IEEE double op, rounded to 4 dp on both sides
    "events_anomaly_mad" ->
      """WITH ev AS MATERIALIZED (SELECT event_type, event_id, value FROM events),
        |med AS MATERIALIZED (SELECT event_type, quantile_cont(value, 0.5) AS med
        |                     FROM ev GROUP BY 1),
        |wm AS MATERIALIZED (SELECT ev.*, med.med FROM ev JOIN med USING (event_type)),
        |mad AS MATERIALIZED (SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
        |                     FROM wm GROUP BY 1)
        |SELECT event_type, event_id, round(value, 4) AS value_r,
        |  round(abs(value - med) / mad, 4) AS mad_score
        |FROM wm JOIN mad USING (event_type)
        |WHERE mad > 0 AND abs(value - med) > mad * 6.0
        |ORDER BY event_type, event_id""".stripMargin,

    // sessions rebuilt with the proven ts_sessionize SQL, then a plain
    // range self-join — the hash-match proves the binned responsibility
    // join emits each overlapping pair exactly once
    "ts_session_overlap" ->
      """WITH e AS MATERIALIZED (SELECT event_id, user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events),
        |l AS (SELECT *, CASE WHEN lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) IS NULL
        |               OR ts_sec - lag(ts_sec) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) > 7200
        |             THEN 1 ELSE 0 END AS is_new
        |      FROM e),
        |s AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
        |        ROWS UNBOUNDED PRECEDING) AS session_idx FROM l),
        |sess AS MATERIALIZED (
        |  SELECT user_id * 100000 + CAST(session_idx AS BIGINT) AS id,
        |    min(ts_sec) AS lo, max(ts_sec) AS hi
        |  FROM s GROUP BY user_id, session_idx)
        |SELECT a.id AS id1, b.id AS id2,
        |  least(a.hi, b.hi) - greatest(a.lo, b.lo) AS ov_sec
        |FROM sess a JOIN sess b
        |  ON a.lo <= b.hi AND b.lo <= a.hi AND a.id < b.id
        |ORDER BY id1, id2""".stripMargin,

    // per-column stats from one melted union; the modal pick mirrors
    // max(struct(cnt, val)) as a (cnt DESC, val DESC) row_number
    "ts_profile_columns" ->
      """WITH m AS MATERIALIZED (
        |  SELECT 'event_type' AS col_name, CAST(event_type AS VARCHAR) AS val FROM events
        |  UNION ALL
        |  SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events
        |  UNION ALL
        |  SELECT 'value_bucket', CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) FROM events),
        |c AS MATERIALIZED (SELECT col_name, val, count(*) AS cnt FROM m GROUP BY 1, 2),
        |s AS (SELECT col_name, SUM(cnt) AS n,
        |        coalesce(SUM(cnt) FILTER (WHERE val IS NULL), 0) AS n_null,
        |        count(val) AS n_distinct
        |      FROM c GROUP BY 1),
        |t AS (SELECT col_name, cnt AS top_count, val AS top_value,
        |        row_number() OVER (PARTITION BY col_name
        |          ORDER BY cnt DESC, val DESC) AS rn
        |      FROM c WHERE val IS NOT NULL)
        |SELECT s.col_name, CAST(s.n AS BIGINT) AS n, CAST(s.n_null AS BIGINT) AS n_null,
        |  s.n_distinct, t.top_count, t.top_value
        |FROM s JOIN t ON s.col_name = t.col_name AND t.rn = 1
        |ORDER BY s.col_name""".stripMargin,

    // DuckDB sums BIGINT into HUGEINT — cast back before the floor
    // division so both engines divide bigint by bigint
    "ts_twap" ->
      """WITH e AS MATERIALIZED (SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS vm FROM events),
        |d AS (SELECT event_type, t, vm,
        |        lead(t) OVER (PARTITION BY event_type ORDER BY t, event_id) AS tn
        |      FROM e)
        |SELECT event_type, CAST(SUM(tn - t) AS BIGINT) AS sdt,
        |  CAST(SUM((tn - t) * vm) AS BIGINT) // CAST(SUM(tn - t) AS BIGINT)
        |    AS twap_micro
        |FROM d WHERE tn IS NOT NULL GROUP BY 1 ORDER BY event_type""".stripMargin,

    // the taps lag terms are generated, not hand-spelled — same dyadic
    // weights as the Spark side; // matches Spark's div (both truncate
    // toward zero, verified on negatives)
    "ts_ewma" -> {
      val taps = 16
      val num = (0 until taps)
        .map(k => s"COALESCE(lag(vm, $k) OVER w * ${1L << (taps - 1 - k)}, 0)")
        .mkString(" + ")
      val den = (0 until taps)
        .map(k => s"CASE WHEN lag(vm, $k) OVER w IS NOT NULL THEN ${1L << (taps - 1 - k)} ELSE 0 END")
        .mkString(" + ")
      s"""WITH e AS MATERIALIZED (SELECT event_type,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id,
         |    CAST(round(value * 1000000.0) AS BIGINT) AS vm FROM events),
         |s AS MATERIALIZED (SELECT event_type, event_id,
         |    $num AS num,
         |    $den AS den
         |  FROM e WINDOW w AS (PARTITION BY event_type ORDER BY t, event_id))
         |SELECT event_type, event_id, num // den AS ewma_micro
         |FROM s WHERE den > 0 ORDER BY event_type, event_id""".stripMargin
    },

    // per-series spine from range(min,max+1) == Spark's sequence
    // (inclusive); hourly mean is an exact integer // (non-negative by
    // data contract, so // and div agree); LOCF via IGNORE NULLS window
    "ts_gap_fill_mean" ->
      """WITH e AS (SELECT event_type AS series,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS vm FROM events),
        |b AS MATERIALIZED (SELECT series, h,
        |    CAST(CAST(SUM(vm) AS BIGINT) // COUNT(*) AS BIGINT) AS obs_micro
        |  FROM e GROUP BY 1, 2),
        |sp AS (SELECT series, unnest(range(h0, h1 + 1)) AS h
        |       FROM (SELECT series, min(h) AS h0, max(h) AS h1 FROM b GROUP BY 1)),
        |j AS (SELECT sp.series, sp.h, b.obs_micro
        |      FROM sp LEFT JOIN b ON b.series = sp.series AND b.h = sp.h)
        |SELECT series, h,
        |  last_value(obs_micro IGNORE NULLS) OVER (PARTITION BY series ORDER BY h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_micro,
        |  obs_micro IS NOT NULL AS observed
        |FROM j ORDER BY series, h""".stripMargin,

    // linear fill replays with the same forward/backward IGNORE NULLS
    // anchor windows; the lerp is pure BIGINT and // matches Spark's div
    // (both truncate toward zero, re-verified on negatives)
    "ts_gap_fill_linear" ->
      """WITH e AS MATERIALIZED (SELECT event_type AS series, event_id,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS vm,
        |    epoch_us(ts) AS ts_us,
        |    epoch_us(ts) // 3600000000 AS bucket FROM events),
        |r AS MATERIALIZED (SELECT *, row_number() OVER (PARTITION BY series, bucket
        |       ORDER BY ts_us DESC, event_id DESC) AS rn FROM e),
        |obs AS MATERIALIZED (SELECT series, bucket, count(*) AS n FROM e GROUP BY 1, 2),
        |anch AS MATERIALIZED (SELECT series, bucket, vm AS anchor FROM r WHERE rn = 1),
        |span AS (SELECT series, min(bucket) AS lo, max(bucket) AS hi FROM e GROUP BY 1),
        |grid AS (SELECT series, unnest(generate_series(lo, hi)) AS bucket FROM span),
        |j AS MATERIALIZED (SELECT g.series, g.bucket, coalesce(obs.n, 0) AS n, anch.anchor
        |      FROM grid g LEFT JOIN obs USING (series, bucket)
        |                  LEFT JOIN anch USING (series, bucket)),
        |f AS MATERIALIZED (SELECT *,
        |    last_value(anchor IGNORE NULLS) OVER wf AS pv,
        |    last_value(CASE WHEN anchor IS NOT NULL THEN bucket END IGNORE NULLS) OVER wf AS pb,
        |    first_value(anchor IGNORE NULLS) OVER wb AS nv,
        |    first_value(CASE WHEN anchor IS NOT NULL THEN bucket END IGNORE NULLS) OVER wb AS nb
        |  FROM j WINDOW
        |    wf AS (PARTITION BY series ORDER BY bucket
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wb AS (PARTITION BY series ORDER BY bucket
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT series, bucket, CAST(n AS BIGINT) AS n,
        |  CASE WHEN anchor IS NOT NULL THEN anchor
        |       ELSE pv + (nv - pv) * (bucket - pb) // (nb - pb) END AS value_micro
        |FROM f ORDER BY series, bucket""".stripMargin,

    // the sweep replays as the same strict-preceding running-max window;
    // all arithmetic is BIGINT seconds
    "events_busy_time" ->
      """WITH iv AS (SELECT user_id AS key,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS start_sec,
        |    CAST(floor(epoch(ts)) AS BIGINT)
        |      + CAST(round(value * 60.0) AS BIGINT) AS end_sec
        |  FROM events),
        |sw AS (SELECT key, start_sec, end_sec,
        |    MAX(end_sec) OVER (PARTITION BY key
        |      ORDER BY start_sec, end_sec
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_end
        |  FROM iv)
        |SELECT key, COUNT(*) AS n_intervals,
        |  CAST(SUM(greatest(0, end_sec - greatest(start_sec,
        |    COALESCE(prev_max_end, start_sec)))) AS BIGINT) AS covered_sec
        |FROM sw GROUP BY key ORDER BY key""".stripMargin,

    // slot and series means are exact integer //; the index is their
    // difference — no float anywhere
    "ts_seasonal_profile" ->
      """WITH e AS (SELECT event_type AS series,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS vm FROM events),
        |b AS MATERIALIZED (SELECT series, h,
        |    CAST(CAST(SUM(vm) AS BIGINT) // COUNT(*) AS BIGINT) AS x
        |  FROM e GROUP BY 1, 2),
        |sl AS (SELECT series, h % 24 AS slot, COUNT(*) AS n_slot,
        |    CAST(CAST(SUM(x) AS BIGINT) // COUNT(*) AS BIGINT) AS slot_mean_micro
        |  FROM b GROUP BY 1, 2),
        |o AS (SELECT series,
        |    CAST(CAST(SUM(x) AS BIGINT) // COUNT(*) AS BIGINT) AS series_mean_micro
        |  FROM b GROUP BY 1)
        |SELECT sl.series, sl.slot, sl.n_slot, sl.slot_mean_micro,
        |  o.series_mean_micro,
        |  sl.slot_mean_micro - o.series_mean_micro AS seasonal_micro
        |FROM sl JOIN o USING (series)
        |ORDER BY series, slot""".stripMargin,

    // drift, prefix sum, and running min are all BIGINT; * and // share
    // precedence left-assoc in both engines, so the slack term matches
    "ts_cusum" ->
      """WITH e AS (SELECT event_type AS series,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS vm FROM events),
        |b AS MATERIALIZED (SELECT series, h,
        |    CAST(CAST(SUM(vm) AS BIGINT) // COUNT(*) AS BIGINT) AS x
        |  FROM e GROUP BY 1, 2),
        |tb AS (SELECT series, h, x,
        |    CAST(row_number() OVER (PARTITION BY series ORDER BY h) AS BIGINT) AS t
        |  FROM b),
        |mu AS (SELECT series, CAST(SUM(x) AS BIGINT) // 24 AS mu0
        |       FROM tb WHERE t <= 24 GROUP BY series HAVING COUNT(*) = 24),
        |d AS (SELECT tb.series, tb.h, tb.x, mu.mu0,
        |        tb.x - mu.mu0 - mu.mu0 * 50 // 1000 AS d
        |      FROM tb JOIN mu USING (series) WHERE tb.t > 24),
        |p AS (SELECT *, CAST(SUM(d) OVER (PARTITION BY series ORDER BY h
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p
        |      FROM d)
        |SELECT series, h, x AS x_micro, mu0 AS mu0_micro,
        |  p - least(0, CAST(MIN(p) OVER (PARTITION BY series ORDER BY h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)) AS s_micro
        |FROM p ORDER BY series, h""".stripMargin,

    // the CUSUM deviation is pure BIGINT arithmetic; the per-series
    // argmax replays as row_number over (d_num DESC, t)
    "ts_changepoint" ->
      """WITH e AS (SELECT event_type AS series,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS vm FROM events),
        |b AS MATERIALIZED (SELECT series, h,
        |    CAST(CAST(SUM(vm) AS BIGINT) // COUNT(*) AS BIGINT) AS x
        |  FROM e GROUP BY 1, 2),
        |g AS (SELECT series, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS ss
        |      FROM b GROUP BY 1),
        |p AS (SELECT b.series, b.h, g.n, g.ss,
        |        CAST(row_number() OVER (PARTITION BY b.series ORDER BY b.h) AS BIGINT) AS t,
        |        CAST(SUM(b.x) OVER (PARTITION BY b.series ORDER BY b.h
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS st
        |      FROM b JOIN g USING (series)),
        |d AS (SELECT *, abs(st * n - ss * t) AS d_num FROM p WHERE t < n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY series
        |        ORDER BY d_num DESC, t) AS rk FROM d)
        |SELECT series, n, t, h AS split_h, CAST(d_num AS BIGINT) AS d_num,
        |  st // t AS mean_l_micro, (ss - st) // (n - t) AS mean_r_micro
        |FROM r WHERE rk = 1 ORDER BY series""".stripMargin,

    // exact integers per dimension; ntile ties broken by (value, custkey)
    // in both engines, so quintile labels can't diverge
    "cust_rfm_segments" ->
      """WITH a AS (SELECT o_custkey AS custkey,
        |    CAST(floor(epoch(max(o_orderdate))) AS BIGINT) AS last_order_sec,
        |    count(*) AS frequency,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS monetary_cents
        |  FROM orders GROUP BY 1)
        |SELECT custkey, last_order_sec, frequency, monetary_cents,
        |  ntile(5) OVER (ORDER BY last_order_sec, custkey) AS r_score,
        |  ntile(5) OVER (ORDER BY frequency, custkey) AS f_score,
        |  ntile(5) OVER (ORDER BY monetary_cents, custkey) AS m_score
        |FROM a ORDER BY custkey""".stripMargin,

    // same bucket table; step symbols by the same integer deadband test;
    // || is null-killing in both engines, so gap/tail windows vanish
    "ts_motifs" ->
      """WITH e AS (SELECT event_type AS series,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS vm FROM events),
        |b AS MATERIALIZED (SELECT series, h,
        |    CAST(CAST(SUM(vm) AS BIGINT) // COUNT(*) AS BIGINT) AS x
        |  FROM e GROUP BY 1, 2),
        |sy AS MATERIALIZED (SELECT series, h,
        |    CASE WHEN lead(h) OVER w IS NULL OR lead(h) OVER w <> h + 1 THEN NULL
        |         WHEN (lead(x) OVER w - x) * 1000 > abs(x) * 20 THEN 'U'
        |         WHEN (x - lead(x) OVER w) * 1000 > abs(x) * 20 THEN 'D'
        |         ELSE 'F' END AS sym
        |  FROM b WINDOW w AS (PARTITION BY series ORDER BY h)),
        |sh AS MATERIALIZED (SELECT series, h,
        |    sym ||
        |    CASE WHEN lead(h, 1) OVER w = h + 1 THEN lead(sym, 1) OVER w END ||
        |    CASE WHEN lead(h, 2) OVER w = h + 2 THEN lead(sym, 2) OVER w END ||
        |    CASE WHEN lead(h, 3) OVER w = h + 3 THEN lead(sym, 3) OVER w END AS shape
        |  FROM sy WINDOW w AS (PARTITION BY series ORDER BY h)),
        |g AS (SELECT shape, series, count(*) AS n, min(h) AS first_h
        |      FROM sh WHERE shape IS NOT NULL GROUP BY 1, 2),
        |c AS (SELECT shape, CAST(SUM(n) AS BIGINT) AS n, COUNT(*) AS n_series
        |      FROM g GROUP BY 1),
        |wit AS (SELECT shape, series AS first_series, first_h,
        |        row_number() OVER (PARTITION BY shape ORDER BY series, first_h) AS rn
        |        FROM g)
        |SELECT c.shape, c.n, c.n_series, w.first_series, w.first_h
        |FROM c JOIN wit w ON w.shape = c.shape AND w.rn = 1
        |ORDER BY c.n DESC, c.shape LIMIT 20""".stripMargin,

    // centered deviations are the INTEGER n·x − Σx (no float mean); each
    // product is the same fixed-tree IEEE expression Spark evaluates,
    // micro-rounded before the (then exact, associative) sums
    "ts_pacf" -> pacfOracle(maxLag = 6),

    // Mann-Kendall S exact, tie-corrected Var*18 exact, continuity-
    // corrected z one fixed tree; Sen = the lower-median pairwise slope
    // ordered by double ratio with the exact (dx, dh) tiebreak
    "ts_mann_kendall" ->
      """WITH e AS (SELECT event_type AS series,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS vm FROM events),
        |b AS MATERIALIZED (SELECT series, h,
        |    CAST(CAST(SUM(vm) AS BIGINT) // COUNT(*) AS BIGINT) AS x
        |  FROM e GROUP BY 1, 2),
        |p AS MATERIALIZED (SELECT i.series, j.h - i.h AS dh, j.x - i.x AS dx
        |  FROM b i JOIN b j ON i.series = j.series AND i.h < j.h),
        |s AS (SELECT series,
        |    CAST(sum(CASE WHEN dx > 0 THEN 1 WHEN dx < 0 THEN -1 ELSE 0 END) AS BIGINT) AS mk_s
        |  FROM p GROUP BY 1),
        |nn AS (SELECT series, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1),
        |ties AS (SELECT series, CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tt
        |  FROM (SELECT series, x, CAST(count(*) AS BIGINT) AS t FROM b GROUP BY 1, 2)
        |  WHERE t > 1 GROUP BY 1),
        |v AS (SELECT nn.series, nn.n,
        |    CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - COALESCE(ties.tt, 0) AS BIGINT) AS var18
        |  FROM nn LEFT JOIN ties USING (series)),
        |med AS (SELECT series, dx AS sen_num_micro, dh AS sen_den_h FROM (
        |    SELECT series, dx, dh, row_number() OVER (PARTITION BY series
        |        ORDER BY CAST(dx AS DOUBLE) / CAST(dh AS DOUBLE), dx, dh) AS rn,
        |      count(*) OVER (PARTITION BY series) AS np
        |    FROM p) WHERE rn = (np + 1) // 2)
        |SELECT s.series, v.n, s.mk_s, v.var18,
        |  CASE WHEN v.var18 > 0 AND s.mk_s != 0 THEN
        |    CAST(round(1000000.0 * (CAST(s.mk_s AS DOUBLE)
        |      - CASE WHEN s.mk_s > 0 THEN 1.0 ELSE -1.0 END)
        |      / sqrt(CAST(v.var18 AS DOUBLE) / 18.0)) AS BIGINT)
        |    ELSE 0 END AS z_micro,
        |  med.sen_num_micro, med.sen_den_h,
        |  sen_num_micro // sen_den_h AS sen_slope_micro_per_h
        |FROM s JOIN v USING (series) JOIN med USING (series)
        |ORDER BY series""".stripMargin,

    "ts_acf" ->
      """WITH e AS (SELECT event_type AS series,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS vm FROM events),
        |b AS MATERIALIZED (SELECT series, h,
        |    CAST(CAST(SUM(vm) AS BIGINT) // COUNT(*) AS BIGINT) AS x
        |  FROM e GROUP BY 1, 2),
        |s AS (SELECT series, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx
        |      FROM b GROUP BY 1),
        |dv AS MATERIALIZED (SELECT b.series, b.h, s.n, b.x * s.n - s.sx AS d
        |  FROM b JOIN s USING (series)),
        |den AS (SELECT series, CAST(SUM(CAST(round(
        |    CAST(d AS DOUBLE) * CAST(d AS DOUBLE) / (1000000.0 * n * n))
        |    AS BIGINT)) AS BIGINT) AS den_micro FROM dv GROUP BY 1),
        |l AS (SELECT CAST(unnest(range(1, 7)) AS INT) AS lag),
        |p AS (SELECT a.series, l.lag, COUNT(*) AS n_pairs,
        |        CAST(SUM(CAST(round(
        |          CAST(a.d AS DOUBLE) * CAST(bb.d AS DOUBLE)
        |          / (1000000.0 * a.n * a.n)) AS BIGINT)) AS BIGINT) AS num_micro
        |      FROM dv a CROSS JOIN l
        |      JOIN dv bb ON bb.series = a.series AND bb.h = a.h + l.lag
        |      GROUP BY 1, 2)
        |SELECT p.series, p.lag, p.n_pairs, p.num_micro, den.den_micro,
        |  CAST(p.num_micro AS DOUBLE) / CAST(den.den_micro AS DOUBLE) AS acf
        |FROM p JOIN den USING (series)
        |ORDER BY series, lag""".stripMargin,

    // the ts_acf playbook: integer centered deviations u = n·h − Σh and
    // d = n·x − Σx, micro-rounded fixed-tree products, single spelled
    // divisions at the end; CASE guards the no-hour-spread series in
    // both engines (Spark 0/0 is NaN, DuckDB errors — neither runs)
    "ts_ols_trend" ->
      """WITH e AS (SELECT event_type AS series,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS vm FROM events),
        |b AS MATERIALIZED (SELECT series, h,
        |    CAST(CAST(SUM(vm) AS BIGINT) // COUNT(*) AS BIGINT) AS x
        |  FROM e GROUP BY 1, 2),
        |s AS (SELECT series, COUNT(*) AS n, MIN(h) AS h0,
        |      CAST(SUM(h) AS BIGINT) AS sh, CAST(SUM(x) AS BIGINT) AS sx
        |      FROM b GROUP BY 1),
        |dv AS (SELECT b.series, s.n, s.h0, s.sh, s.sx,
        |       b.h * s.n - s.sh AS u, b.x * s.n - s.sx AS d
        |  FROM b JOIN s USING (series)),
        |g AS (SELECT series, n, h0, sh, sx,
        |    CAST(SUM(CAST(round(CAST(u AS DOUBLE) * CAST(d AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS BIGINT)) AS BIGINT) AS cov_sum,
        |    CAST(SUM(CAST(round(CAST(u AS DOUBLE) * CAST(u AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS BIGINT)) AS BIGINT) AS varh_sum,
        |    CAST(SUM(CAST(round(CAST(d AS DOUBLE) * CAST(d AS DOUBLE)
        |      / (1000000.0 * n * n)) AS BIGINT)) AS BIGINT) AS varv_sum
        |  FROM dv GROUP BY 1, 2, 3, 4, 5)
        |SELECT series, n, h0, cov_sum, varh_sum, varv_sum,
        |  CASE WHEN varh_sum > 0
        |    THEN CAST(cov_sum AS DOUBLE) / CAST(varh_sum AS DOUBLE) END
        |    AS slope_micro_per_h,
        |  CASE WHEN varh_sum > 0
        |    THEN CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
        |      - (CAST(cov_sum AS DOUBLE) / CAST(varh_sum AS DOUBLE))
        |        * (CAST(sh - n * h0 AS DOUBLE) / CAST(n AS DOUBLE)) END
        |    AS intercept_micro,
        |  CASE WHEN varh_sum > 0 AND varv_sum > 0
        |    THEN (CAST(cov_sum AS DOUBLE) / CAST(varh_sum AS DOUBLE))
        |      * (CAST(cov_sum AS DOUBLE) / CAST(varv_sum AS DOUBLE))
        |      / 1000000.0 END AS r2
        |FROM g ORDER BY series""".stripMargin,

    // ts_acf's cross-series sibling: the pair product divides by BOTH
    // series' n factors, the correlation divides by the IEEE sqrt of
    // the two den products — all fixed trees, bit-for-bit
    "ts_ccf" ->
      """WITH e AS (SELECT event_type AS series,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS vm FROM events),
        |b AS MATERIALIZED (SELECT series, h,
        |    CAST(CAST(SUM(vm) AS BIGINT) // COUNT(*) AS BIGINT) AS x
        |  FROM e GROUP BY 1, 2),
        |s AS (SELECT series, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx
        |      FROM b GROUP BY 1),
        |dv AS MATERIALIZED (SELECT b.series, b.h, s.n, b.x * s.n - s.sx AS d
        |  FROM b JOIN s USING (series)),
        |den AS MATERIALIZED (SELECT series, n, CAST(SUM(CAST(round(
        |    CAST(d AS DOUBLE) * CAST(d AS DOUBLE) / (1000000.0 * n * n))
        |    AS BIGINT)) AS BIGINT) AS den_micro FROM dv GROUP BY 1, 2),
        |r AS (SELECT h AS hr, d AS dr, n AS nr FROM dv WHERE series = 'purchase'),
        |rd AS (SELECT den_micro AS den_ref FROM den WHERE series = 'purchase'),
        |l AS (SELECT CAST(unnest(range(-6, 7)) AS INT) AS lag),
        |p AS (SELECT a.series, l.lag, COUNT(*) AS n_pairs,
        |        CAST(SUM(CAST(round(
        |          CAST(a.d AS DOUBLE) * CAST(r.dr AS DOUBLE)
        |          / (1000000.0 * a.n * r.nr)) AS BIGINT)) AS BIGINT) AS num_micro
        |      FROM dv a CROSS JOIN l
        |      JOIN r ON a.h + l.lag = r.hr
        |      GROUP BY 1, 2)
        |SELECT p.series, p.lag, p.n_pairs, p.num_micro,
        |  den.den_micro, rd.den_ref,
        |  CASE WHEN den.den_micro > 0 AND rd.den_ref > 0
        |    THEN CAST(p.num_micro AS DOUBLE)
        |      / sqrt(CAST(den.den_micro AS DOUBLE) * CAST(rd.den_ref AS DOUBLE))
        |  END AS ccf
        |FROM p JOIN den USING (series) CROSS JOIN rd
        |ORDER BY series, lag""".stripMargin,

    // hot-basket cap mirrored; every score is one IEEE division of
    // exact integer products
    "part_basket_lift" ->
      """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |sz AS MATERIALIZED (SELECT ok, count(*) AS bsz FROM li GROUP BY 1),
        |keep AS MATERIALIZED (SELECT li.* FROM li JOIN sz USING (ok) WHERE bsz <= 1000),
        |n AS MATERIALIZED (SELECT count(*) AS n_orders FROM sz WHERE bsz <= 1000),
        |ic AS MATERIALIZED (SELECT pk, count(*) AS ni FROM keep GROUP BY 1),
        |pr AS MATERIALIZED (SELECT a.pk AS pk1, b.pk AS pk2, count(*) AS n12
        |  FROM keep a JOIN keep b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2)
        |SELECT pk1, pk2, n12,
        |  CAST(n12 AS DOUBLE) / CAST(n_orders AS DOUBLE) AS support,
        |  CAST(n12 AS DOUBLE) / CAST(c1.ni AS DOUBLE) AS confidence,
        |  CAST(n12 * n_orders AS DOUBLE) / CAST(c1.ni * c2.ni AS DOUBLE) AS lift
        |FROM pr JOIN ic c1 ON pk1 = c1.pk JOIN ic c2 ON pk2 = c2.pk, n
        |WHERE n12 >= 3
        |ORDER BY lift DESC, pk1, pk2 LIMIT 50""".stripMargin,

    // arg_max resolves same-instant races exactly like the Spark side's
    // max(struct(tie, state)); lead() AFTER the change filter makes
    // valid_to the next CHANGE, not the next event
    "dim_scd2_segments" ->
      """WITH e AS MATERIALIZED (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id, event_type
        |  FROM events WHERE event_type <> 'purchase'),
        |p AS MATERIALIZED (SELECT user_id, t, arg_max(event_type, event_id) AS s
        |  FROM e GROUP BY 1, 2),
        |c AS (SELECT user_id, t, s,
        |        lag(s) OVER (PARTITION BY user_id ORDER BY t) AS ps FROM p),
        |v AS (SELECT user_id, s, t,
        |        lead(t) OVER (PARTITION BY user_id ORDER BY t) AS vto
        |      FROM c WHERE ps IS NULL OR s <> ps)
        |SELECT user_id, s AS state, t AS valid_from_sec, vto AS valid_to_sec
        |FROM v ORDER BY user_id, valid_from_sec""".stripMargin,

    // the BETWEEN spelling of the same point-in-time join — hash-match
    // proves the as-of composition implements SCD2 fact-join semantics
    "pit_attribution" ->
      """WITH e AS MATERIALIZED (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id, event_type
        |  FROM events WHERE event_type <> 'purchase'),
        |p AS MATERIALIZED (SELECT user_id, t, arg_max(event_type, event_id) AS s
        |  FROM e GROUP BY 1, 2),
        |c AS (SELECT user_id, t, s,
        |        lag(s) OVER (PARTITION BY user_id ORDER BY t) AS ps FROM p),
        |v AS MATERIALIZED (SELECT user_id, s, t AS vfrom,
        |        lead(t) OVER (PARTITION BY user_id ORDER BY t) AS vto
        |      FROM c WHERE ps IS NULL OR s <> ps),
        |f AS MATERIALIZED (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
        |        CAST(round(value * 1000000.0) AS BIGINT) AS v_micro
        |      FROM events WHERE event_type = 'purchase')
        |SELECT coalesce(v.s, 'none') AS state, count(*) AS n_purchases,
        |  CAST(sum(f.v_micro) AS BIGINT) AS value_micro
        |FROM f LEFT JOIN v ON f.user_id = v.user_id AND f.t >= v.vfrom
        |  AND (v.vto IS NULL OR f.t < v.vto)
        |GROUP BY 1 ORDER BY state""".stripMargin,

    "agg_rollup" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY ROLLUP(event_type)
        |ORDER BY event_type ASC NULLS FIRST""".stripMargin,

    "agg_count_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "agg_weighted_mean" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * CAST(round(l_quantity) AS BIGINT)) AS DOUBLE) / 100.0
        |    / CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE) AS w_avg_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // same total (vm, event_id) rank order, same integer permille map;
    // single-row groups pinned to 0 in both engines
    "agg_percent_rank" ->
      """WITH e AS (SELECT event_type, event_id,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS vm
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY vm, event_id) AS rk,
        |      count(*) OVER (PARTITION BY event_type) AS n FROM e)
        |SELECT event_type, event_id, vm,
        |  CASE WHEN n > 1 THEN (1000 * (rk - 1)) // (n - 1)
        |       ELSE CAST(0 AS BIGINT) END AS pr_permille
        |FROM r ORDER BY event_type, event_id""".stripMargin,

    // first appearance is min(doc_id) per token; deciles are the same
    // ntile over the doc_id total order; running sums over 10 rows
    "text_vocab_growth" ->
      """WITH w AS (SELECT doc_id, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |t AS (SELECT doc_id, unnest(words) AS tok FROM w),
        |pt AS (SELECT tok, min(doc_id) AS first_doc, count(*) AS occ
        |       FROM t GROUP BY 1),
        |pd AS (SELECT doc_id, count(*) AS n_toks,
        |       ntile(10) OVER (ORDER BY doc_id) AS decile
        |       FROM t GROUP BY doc_id),
        |nv AS (SELECT pd.decile, count(*) AS new_types
        |       FROM pt JOIN pd ON pt.first_doc = pd.doc_id GROUP BY 1),
        |vol AS (SELECT decile, CAST(SUM(n_toks) AS BIGINT) AS toks,
        |        count(*) AS docs FROM pd GROUP BY 1)
        |SELECT CAST(vol.decile AS BIGINT) AS decile, docs,
        |  CAST(SUM(toks) OVER (ORDER BY vol.decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
        |  CAST(COALESCE(nv.new_types, 0) AS BIGINT) AS new_types,
        |  CAST(SUM(COALESCE(nv.new_types, 0)) OVER (ORDER BY vol.decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab
        |FROM vol LEFT JOIN nv ON nv.decile = vol.decile
        |ORDER BY decile""".stripMargin,

    // same decimal-string leading digit, same integer permille; the
    // expected shares are literals in both engines — no runtime log
    "agg_benford" ->
      """WITH d AS (SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM orders),
        |c AS (SELECT digit, count(*) AS n FROM d
        |      WHERE digit BETWEEN 1 AND 9 GROUP BY 1),
        |t AS (SELECT *, CAST(SUM(n) OVER () AS BIGINT) AS n_tot FROM c),
        |e AS (SELECT t.*, CAST(CASE digit WHEN 1 THEN 301 WHEN 2 THEN 176
        |    WHEN 3 THEN 125 WHEN 4 THEN 97 WHEN 5 THEN 79 WHEN 6 THEN 67
        |    WHEN 7 THEN 58 WHEN 8 THEN 51 WHEN 9 THEN 46 END AS BIGINT) AS ex
        |  FROM t)
        |SELECT digit, n, (1000 * n) // n_tot AS observed_permille,
        |  ex AS expected_permille,
        |  (1000 * n) // n_tot - ex AS dev_permille
        |FROM e ORDER BY digit""".stripMargin,

    // rank-weighted integer sums per nation; zero-order customers ride
    // the left join with rev 0
    "agg_revenue_gini" ->
      """WITH rev AS (SELECT c_custkey, c_nationkey,
        |    CAST(COALESCE(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)), 0) AS BIGINT) AS rev
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY c_nationkey
        |        ORDER BY rev, c_custkey) AS i FROM rev)
        |SELECT c_nationkey AS nationkey, count(*) AS n_cust,
        |  CAST(SUM(rev) AS BIGINT) AS total_cents,
        |  CASE WHEN CAST(SUM(rev) AS BIGINT) > 0 THEN
        |    (2000 * CAST(SUM(i * rev) AS BIGINT)
        |     - 1000 * (count(*) + 1) * CAST(SUM(rev) AS BIGINT))
        |    // (count(*) * CAST(SUM(rev) AS BIGINT)) END AS gini_milli
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    // integer week buckets (day div 7, no engine week-truncation);
    // deltas only between consecutive weeks; |delta| rank with a
    // deterministic (series, wk) tie order
    "ts_top_movers" ->
      """WITH e AS (SELECT event_type AS series,
        |    (CAST(floor(epoch(ts)) AS BIGINT) // 86400) // 7 AS wk,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS vm FROM events),
        |b AS (SELECT series, wk, CAST(SUM(vm) AS BIGINT) AS wsum
        |      FROM e GROUP BY 1, 2),
        |l AS (SELECT *, lag(wk) OVER w AS prev_wk, lag(wsum) OVER w AS prev_sum
        |      FROM b WINDOW w AS (PARTITION BY series ORDER BY wk))
        |SELECT series, wk, wsum, prev_sum, wsum - prev_sum AS delta_micro,
        |  CASE WHEN prev_sum > 0 THEN
        |    CASE WHEN wsum >= prev_sum
        |      THEN (1000 * (wsum - prev_sum)) // prev_sum
        |      ELSE -((1000 * (prev_sum - wsum)) // prev_sum) END
        |  END AS change_permille
        |FROM l WHERE prev_wk = wk - 1
        |ORDER BY abs(wsum - prev_sum) DESC, series, wk LIMIT 20""".stripMargin,

    // same total (value, event_id) rank order and integer trim count;
    // all-positive micro sums keep div and // agreeing
    "agg_trimmed_means" ->
      """WITH e AS (SELECT event_type, event_id,
        |    CAST(round(value * 1000000.0) AS BIGINT) AS vm
        |  FROM events WHERE value IS NOT NULL),
        |r AS (SELECT event_type, vm,
        |    row_number() OVER (PARTITION BY event_type ORDER BY vm, event_id) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS n FROM e),
        |r2 AS (SELECT *, (100 * n) // 1000 AS cut FROM r),
        |k AS (SELECT event_type, n, cut, count(*) AS n_kept,
        |    CAST(SUM(vm) AS BIGINT) AS tsum, MIN(vm) AS v_lo, MAX(vm) AS v_hi
        |  FROM r2 WHERE rk > cut AND rk <= n - cut GROUP BY 1, 2, 3)
        |SELECT event_type, n, cut, n_kept,
        |  tsum // n_kept AS trimmed_mean_micro,
        |  (tsum + cut * (v_lo + v_hi)) // n AS winsorized_mean_micro,
        |  v_lo AS lo_clamp_micro, v_hi AS hi_clamp_micro
        |FROM k ORDER BY event_type""".stripMargin,

    "agg_quantiles" ->
      """SELECT event_type, quantile_cont(value, 0.5) AS p50,
        |  quantile_cont(value, 0.9) AS p90, count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the EXACT same deterministic sample the sketch keeps: bottom-1024
    // rows per group by the 52-bit md5 rank of the id, nearest-rank pick
    "agg_qsketch_quantiles" ->
      """WITH ranked AS (
        |  SELECT event_type, value,
        |    ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 13))::BIGINT AS r
        |  FROM events WHERE value IS NOT NULL),
        |sample AS (
        |  SELECT event_type, value FROM (
        |    SELECT event_type, value,
        |      row_number() OVER (PARTITION BY event_type ORDER BY r, value) AS rn
        |    FROM ranked) WHERE rn <= 1024),
        |q AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS vr,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM sample)
        |SELECT event_type,
        |  max(CASE WHEN vr = 1 + CAST(floor(0.5 * (n - 1)) AS BIGINT) THEN value END) AS p50_est,
        |  max(CASE WHEN vr = 1 + CAST(floor(0.9 * (n - 1)) AS BIGINT) THEN value END) AS p90_est,
        |  CAST(max(n) AS BIGINT) AS n_sample
        |FROM q GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the same deterministic bottom-256 sample per (series, day) and
    // the same nearest-rank picks — estimates reproduce EXACTLY
    "ts_percentile_bands" ->
      """WITH ranked AS (
        |  SELECT event_type AS series,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day, value,
        |    ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 13))::BIGINT AS r
        |  FROM events WHERE value IS NOT NULL),
        |sample AS (
        |  SELECT series, day, value FROM (
        |    SELECT series, day, value,
        |      row_number() OVER (PARTITION BY series, day ORDER BY r, value) AS rn
        |    FROM ranked) WHERE rn <= 256),
        |q AS (
        |  SELECT series, day, value,
        |    row_number() OVER (PARTITION BY series, day ORDER BY value) AS vr,
        |    count(*) OVER (PARTITION BY series, day) AS n
        |  FROM sample)
        |SELECT series, day,
        |  max(CASE WHEN vr = 1 + CAST(floor(0.1 * (n - 1)) AS BIGINT) THEN value END) AS p10_est,
        |  max(CASE WHEN vr = 1 + CAST(floor(0.5 * (n - 1)) AS BIGINT) THEN value END) AS p50_est,
        |  max(CASE WHEN vr = 1 + CAST(floor(0.9 * (n - 1)) AS BIGINT) THEN value END) AS p90_est,
        |  CAST(max(n) AS BIGINT) AS n_sample
        |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // rebuild the 64×4 grid cell-for-cell from the same md5-slice buckets
    // and take the same min — estimates match EXACTLY, unlike the HLL row
    "agg_cm_counts" ->
      """WITH g AS (SELECT CAST(user_id AS VARCHAR) AS item, count(*) AS c
        |           FROM events GROUP BY 1),
        |b AS (SELECT r, item, c,
        |        ('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || item), 1, 13))::BIGINT % 64 AS bkt
        |      FROM g, range(0, 4) rr(r)),
        |cells AS (SELECT r, bkt, CAST(SUM(c) AS BIGINT) AS cell FROM b GROUP BY 1, 2)
        |SELECT g.item AS item, CAST(MIN(cells.cell) AS BIGINT) AS est,
        |  CAST(g.c AS BIGINT) AS exact
        |FROM g JOIN b ON b.item = g.item
        |JOIN cells ON cells.r = b.r AND cells.bkt = b.bkt
        |GROUP BY g.item, g.c
        |ORDER BY g.item""".stripMargin,

    // The oracle cannot reproduce Spark-side sketch values, so it checks the
    // deterministic tolerance flags: the Spark query emits 1 iff the sketch
    // estimate is within 2% of the exact statistic, and DuckDB asserts
    // all-1 flags alongside independently computed exact n_users / n.
    "agg_kmv_overlap" ->
      """WITH ud AS (SELECT DISTINCT event_type, user_id FROM events)
        |SELECT x.event_type AS type_a, y.event_type AS type_b,
        |  CAST(count(*) AS BIGINT) AS n_inter,
        |  CAST(1 AS BIGINT) AS inter_ok,
        |  CAST(1 AS BIGINT) AS a_ok, CAST(1 AS BIGINT) AS b_ok
        |FROM ud x JOIN ud y
        |  ON x.user_id = y.user_id AND x.event_type < y.event_type
        |GROUP BY 1, 2 ORDER BY type_a, type_b""".stripMargin,

    "agg_approx_sketches" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |  CAST(1 AS BIGINT) AS users_ok, CAST(1 AS BIGINT) AS p50_ok,
        |  CAST(1 AS BIGINT) AS p90_ok, count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "text_scrub" ->
      """SELECT event_id AS doc_id, regexp_replace(props, '[0-9]+', '<num>', 'g') AS scrubbed
        |FROM events WHERE event_id < 100 ORDER BY doc_id""".stripMargin,

    "text_search" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE contains(text, 'merge batch') ORDER BY doc_id""".stripMargin,

    "agg_stats_profile" ->
      """SELECT l_returnflag,
        |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
        |  round((CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        |    - CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |      * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*))
        |    / (count(*) - CAST(1 AS DOUBLE)), 3) AS var_price,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "ts_full_outer_merge" ->
      """WITH u AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY 1),
        |c AS (SELECT c_custkey AS user_id, c_name FROM customer)
        |SELECT COALESCE(u.user_id, c.user_id) AS user_id,
        |  COALESCE(n_events, 0) AS n_events,
        |  COALESCE(c_name, '<none>') AS c_name
        |FROM u FULL OUTER JOIN c ON u.user_id = c.user_id
        |ORDER BY user_id""".stripMargin,

    "agg_pivot" ->
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "dedup_clusters" ->
      """WITH RECURSIVE w AS (SELECT doc_id, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |sh0 AS (SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
        |       FROM (SELECT w.*, unnest(range(1, len(words) - 1)) AS i FROM w)),
        |sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0
        |       JOIN (SELECT shingle FROM sh0 GROUP BY 1 HAVING count(*) <= 500) keep USING (shingle)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |cand AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared
        |         FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id1, id2 FROM cand
        |          JOIN cnt c1 ON c1.doc_id = id1 JOIN cnt c2 ON c2.doc_id = id2
        |          WHERE shared / (c1.n + c2.n - shared) >= 0.5),
        |edges AS (SELECT id1 AS a, id2 AS b FROM pairs UNION ALL SELECT id2, id1 FROM pairs),
        |reach AS (SELECT a, b FROM edges
        |          UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
        |SELECT a AS doc_id, least(a, min(b)) AS cluster_id
        |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,

    // identical transitive-closure oracle: both CC implementations must
    // produce the same (doc_id, cluster_id) labeling
    "dedup_clusters_star" ->
      """WITH RECURSIVE w AS (SELECT doc_id, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |sh0 AS (SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
        |       FROM (SELECT w.*, unnest(range(1, len(words) - 1)) AS i FROM w)),
        |sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0
        |       JOIN (SELECT shingle FROM sh0 GROUP BY 1 HAVING count(*) <= 500) keep USING (shingle)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |cand AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared
        |         FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id1, id2 FROM cand
        |          JOIN cnt c1 ON c1.doc_id = id1 JOIN cnt c2 ON c2.doc_id = id2
        |          WHERE shared / (c1.n + c2.n - shared) >= 0.5),
        |edges AS (SELECT id1 AS a, id2 AS b FROM pairs UNION ALL SELECT id2, id1 FROM pairs),
        |reach AS (SELECT a, b FROM edges
        |          UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
        |SELECT a AS doc_id, least(a, min(b)) AS cluster_id
        |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,

    "dedup_keep_canonical" ->
      """WITH RECURSIVE w AS (SELECT doc_id, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |sh0 AS (SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
        |       FROM (SELECT w.*, unnest(range(1, len(words) - 1)) AS i FROM w)),
        |sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0
        |       JOIN (SELECT shingle FROM sh0 GROUP BY 1 HAVING count(*) <= 500) keep USING (shingle)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |cand AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared
        |         FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (SELECT id1, id2 FROM cand
        |          JOIN cnt c1 ON c1.doc_id = id1 JOIN cnt c2 ON c2.doc_id = id2
        |          WHERE shared / (c1.n + c2.n - shared) >= 0.5),
        |edges AS (SELECT id1 AS a, id2 AS b FROM pairs UNION ALL SELECT id2, id1 FROM pairs),
        |reach AS (SELECT a, b FROM edges
        |          UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |clusters AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a)
        |SELECT d.doc_id FROM documents d
        |LEFT JOIN clusters c ON d.doc_id = c.doc_id AND c.doc_id != c.cluster_id
        |WHERE c.doc_id IS NULL
        |ORDER BY d.doc_id""".stripMargin,

    "dedup_minhash_estimate" ->
      """WITH w AS (SELECT doc_id, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |sh AS (SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
        |       FROM (SELECT w.*, unnest(range(1, len(words) - 1)) AS i FROM w)),
        |mh AS (SELECT doc_id, j, min(md5(CAST(j AS VARCHAR) || '|' || shingle)) AS h
        |       FROM sh, range(0, 16) t(j) GROUP BY doc_id, j),
        |band AS (SELECT doc_id, j // 4 AS band, md5(string_agg(h, '|' ORDER BY j)) AS bh
        |         FROM mh GROUP BY doc_id, j // 4),
        |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        |         FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
        |SELECT id1, id2,
        |  sum(CASE WHEN m1.h = m2.h THEN 1 ELSE 0 END) / CAST(16 AS DOUBLE) AS est_jaccard
        |FROM cand
        |JOIN mh m1 ON m1.doc_id = id1 JOIN mh m2 ON m2.doc_id = id2 AND m1.j = m2.j
        |GROUP BY id1, id2 ORDER BY id1, id2""".stripMargin,

    // the minhash-estimate CTE chain restricted to cross-boundary
    // candidate pairs; the verdict is the integer component count
    "corpus_decontaminate_fuzzy" ->
      """WITH w AS (SELECT doc_id, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |sh AS (SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
        |       FROM (SELECT w.*, unnest(range(1, len(words) - 1)) AS i FROM w)),
        |mh AS (SELECT doc_id, j, min(md5(CAST(j AS VARCHAR) || '|' || shingle)) AS h
        |       FROM sh, range(0, 16) t(j) GROUP BY doc_id, j),
        |band AS (SELECT doc_id, j // 4 AS band, md5(string_agg(h, '|' ORDER BY j)) AS bh
        |         FROM mh GROUP BY doc_id, j // 4),
        |cand AS (SELECT DISTINCT a.doc_id AS train_id, b.doc_id AS bench_id
        |         FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh
        |         WHERE a.doc_id >= 50 AND b.doc_id < 50),
        |m AS (SELECT train_id AS doc_id, bench_id,
        |        CAST(sum(CASE WHEN m1.h = m2.h THEN 1 ELSE 0 END) AS BIGINT) AS n_match
        |      FROM cand JOIN mh m1 ON m1.doc_id = train_id
        |      JOIN mh m2 ON m2.doc_id = bench_id AND m1.j = m2.j
        |      GROUP BY 1, 2)
        |SELECT doc_id, bench_id, n_match FROM m WHERE n_match >= 8
        |ORDER BY doc_id, bench_id""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS hash,
        |  min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY hash""".stripMargin,

    "corpus_overlap_matrix" ->
      """WITH w AS (SELECT source, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |sh AS (SELECT DISTINCT source, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
        |       FROM (SELECT w.*, unnest(range(1, len(words) - 1)) AS i FROM w))
        |SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared_shingles
        |FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // containment of the smaller side: shared / min(n1, n2) over the same
    // capped shingle sets as the Jaccard oracle
    "dedup_containment" ->
      """WITH w AS (SELECT doc_id, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |sh0 AS (SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
        |       FROM (SELECT w.*, unnest(range(1, len(words) - 1)) AS i FROM w)),
        |sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0
        |       JOIN (SELECT shingle FROM sh0 GROUP BY 1 HAVING count(*) <= 500) keep USING (shingle)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |cand AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared
        |         FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id1, id2, shared, c1.n AS n1, c2.n AS n2,
        |  shared / least(c1.n, c2.n) AS containment
        |FROM cand JOIN cnt c1 ON c1.doc_id = id1 JOIN cnt c2 ON c2.doc_id = id2
        |WHERE shared / least(c1.n, c2.n) >= 0.9
        |ORDER BY id1, id2""".stripMargin,

    "dedup_ngram_jaccard" ->
      """WITH w AS (SELECT doc_id, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |sh0 AS (SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
        |       FROM (SELECT w.*, unnest(range(1, len(words) - 1)) AS i FROM w)),
        |sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0
        |       JOIN (SELECT shingle FROM sh0 GROUP BY 1 HAVING count(*) <= 500) keep USING (shingle)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |cand AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared
        |         FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id1, id2, shared, c1.n AS n1, c2.n AS n2,
        |  shared / (c1.n + c2.n - shared) AS jaccard
        |FROM cand JOIN cnt c1 ON c1.doc_id = id1 JOIN cnt c2 ON c2.doc_id = id2
        |WHERE shared / (c1.n + c2.n - shared) >= 0.5
        |ORDER BY id1, id2""".stripMargin,

    // the same uncapped shingle sets; prefix = first n − ceil(θn) + 1
    // shingles in (df, shingle) order; verify restricted to candidates;
    // the integer threshold test and one-division jaccard mirror Spark
    "dedup_prefix_jaccard" ->
      """WITH w AS (SELECT doc_id, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |sh AS MATERIALIZED (SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
        |       FROM (SELECT w.*, unnest(range(1, len(words) - 1)) AS i FROM w)),
        |dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
        |cnt AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |rk AS (SELECT sh.doc_id, sh.shingle,
        |         row_number() OVER (PARTITION BY sh.doc_id ORDER BY df, sh.shingle) AS rk
        |       FROM sh JOIN dfreq USING (shingle)),
        |pre AS MATERIALIZED (SELECT rk.doc_id, rk.shingle
        |       FROM rk JOIN cnt USING (doc_id)
        |       WHERE rk <= n - (500 * n + 999) // 1000 + 1),
        |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        |         FROM pre a JOIN pre b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
        |sj AS (SELECT c.id1, c.id2, count(*) AS shared
        |       FROM cand c JOIN sh a ON a.doc_id = c.id1
        |       JOIN sh b ON b.doc_id = c.id2 AND b.shingle = a.shingle
        |       GROUP BY 1, 2)
        |SELECT id1, id2, shared, c1.n AS n1, c2.n AS n2,
        |  shared / (c1.n + c2.n - shared) AS jaccard
        |FROM sj JOIN cnt c1 ON c1.doc_id = id1 JOIN cnt c2 ON c2.doc_id = id2
        |WHERE shared * 1000 >= 500 * (c1.n + c2.n - shared)
        |ORDER BY id1, id2""".stripMargin,

    "dedup_minhash_lsh" ->
      """WITH w AS (SELECT doc_id, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |sh AS (SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
        |       FROM (SELECT w.*, unnest(range(1, len(words) - 1)) AS i FROM w)),
        |mh AS (SELECT doc_id, j, min(md5(CAST(j AS VARCHAR) || '|' || shingle)) AS h
        |       FROM sh, range(0, 16) t(j) GROUP BY doc_id, j),
        |band AS (SELECT doc_id, j // 4 AS band, md5(string_agg(h, '|' ORDER BY j)) AS bh
        |         FROM mh GROUP BY doc_id, j // 4)
        |SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        |FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
        |ORDER BY id1, id2""".stripMargin,

    // identical band pipeline, but candidates pair the new batch (≥ 250)
    // against the indexed side (< 250) only
    "dedup_minhash_incremental" ->
      """WITH w AS (SELECT doc_id, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |sh AS (SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
        |       FROM (SELECT w.*, unnest(range(1, len(words) - 1)) AS i FROM w)),
        |mh AS (SELECT doc_id, j, min(md5(CAST(j AS VARCHAR) || '|' || shingle)) AS h
        |       FROM sh, range(0, 16) t(j) GROUP BY doc_id, j),
        |band AS (SELECT doc_id, j // 4 AS band, md5(string_agg(h, '|' ORDER BY j)) AS bh
        |         FROM mh GROUP BY doc_id, j // 4)
        |SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS indexed_id
        |FROM band a JOIN band b ON a.band = b.band AND a.bh = b.bh
        |WHERE a.doc_id >= 250 AND b.doc_id < 250
        |ORDER BY new_id, indexed_id""".stripMargin,

    // twins = every 10th word dropped from an md5-sampled doc; the band
    // pipeline is the minhash oracle verbatim, twins probing the corpus
    "dedup_lsh_recall" ->
      """WITH samp AS MATERIALIZED (SELECT doc_id, text FROM documents
        |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT % 1000 < 100),
        |tw0 AS (SELECT doc_id, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM samp),
        |tw AS MATERIALIZED (SELECT doc_id, string_agg(words[i], ' ' ORDER BY i) AS text
        |  FROM (SELECT tw0.*, unnest(range(1, len(words) + 1)) AS i FROM tw0) WHERE i % 10 <> 0 GROUP BY doc_id),
        |cw AS (SELECT doc_id, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |csh AS MATERIALIZED (SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
        |  FROM (SELECT cw.*, unnest(range(1, len(words) - 1)) AS i FROM cw)),
        |cmh AS (SELECT doc_id, j, min(md5(CAST(j AS VARCHAR) || '|' || shingle)) AS h
        |  FROM csh, range(0, 16) t(j) GROUP BY doc_id, j),
        |cband AS MATERIALIZED (SELECT doc_id, j // 4 AS band, md5(string_agg(h, '|' ORDER BY j)) AS bh
        |  FROM cmh GROUP BY doc_id, j // 4),
        |tww AS (SELECT doc_id, string_split(text, ' ') AS words FROM tw),
        |tsh AS MATERIALIZED (SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
        |  FROM (SELECT tww.*, unnest(range(1, len(words) - 1)) AS i FROM tww)),
        |tmh AS (SELECT doc_id, j, min(md5(CAST(j AS VARCHAR) || '|' || shingle)) AS h
        |  FROM tsh, range(0, 16) t(j) GROUP BY doc_id, j),
        |tband AS (SELECT doc_id, j // 4 AS band, md5(string_agg(h, '|' ORDER BY j)) AS bh
        |  FROM tmh GROUP BY doc_id, j // 4),
        |hits AS (SELECT DISTINCT t.doc_id, 1 AS lsh_hit
        |  FROM tband t JOIN cband c ON t.band = c.band AND t.bh = c.bh AND c.doc_id = t.doc_id),
        |n1 AS (SELECT doc_id, count(*) AS n1 FROM csh
        |  WHERE doc_id IN (SELECT doc_id FROM samp) GROUP BY 1),
        |n2 AS (SELECT doc_id, count(*) AS n2 FROM tsh GROUP BY 1),
        |sh2 AS (SELECT c.doc_id, count(*) AS shared FROM csh c
        |  JOIN tsh t ON c.doc_id = t.doc_id AND c.shingle = t.shingle GROUP BY 1)
        |SELECT doc_id, n1, n2, COALESCE(shared, 0) AS shared,
        |  (1000 * COALESCE(shared, 0)) // (n1 + n2 - COALESCE(shared, 0)) AS jaccard_permille,
        |  CAST(CASE WHEN COALESCE(shared, 0) * 1000 >= 500 * (n1 + n2 - COALESCE(shared, 0))
        |       THEN 1 ELSE 0 END AS BIGINT) AS above_threshold,
        |  CAST(COALESCE(lsh_hit, 0) AS BIGINT) AS lsh_hit
        |FROM n1 JOIN n2 USING (doc_id) LEFT JOIN sh2 USING (doc_id) LEFT JOIN hits USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "dedup_simhash" ->
      """WITH t AS (SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS norm FROM documents),
        |tok AS (SELECT DISTINCT doc_id, unnest(string_split(norm, ' ')) AS tk FROM t),
        |votes AS (SELECT doc_id, r.b,
        |            sum(CASE WHEN (((strpos('0123456789abcdef', substr(md5(tk), r.b // 4 + 1, 1)) - 1) >> (r.b % 4)) & 1) = 1 THEN 1 ELSE -1 END) AS s
        |          FROM tok, range(0, 60) r(b) GROUP BY doc_id, r.b)
        |SELECT doc_id, CAST(sum(CASE WHEN s >= 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS simhash
        |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dedup_simhash_pairs" ->
      """WITH t AS (SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS norm FROM documents),
        |tok AS (SELECT DISTINCT doc_id, unnest(string_split(norm, ' ')) AS tk FROM t),
        |votes AS (SELECT doc_id, r.b,
        |            sum(CASE WHEN (((strpos('0123456789abcdef', substr(md5(tk), r.b // 4 + 1, 1)) - 1) >> (r.b % 4)) & 1) = 1 THEN 1 ELSE -1 END) AS s
        |          FROM tok, range(0, 60) r(b) GROUP BY doc_id, r.b),
        |shv AS (SELECT doc_id, CAST(sum(CASE WHEN s >= 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS simhash
        |        FROM votes GROUP BY doc_id),
        |blk AS (SELECT doc_id, simhash, r.k AS blk, (simhash >> CAST(r.k * 20 AS INT)) & 1048575 AS bv
        |        FROM shv, range(0, 3) r(k))
        |SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        |FROM blk a JOIN blk b ON a.blk = b.blk AND a.bv = b.bv AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
        |ORDER BY id1, id2""".stripMargin,

    "corpus_decontaminate" ->
      """WITH w AS (SELECT doc_id, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |        words[i] || ' ' || words[i+1] || ' ' || words[i+2] || ' ' || words[i+3] || ' ' || words[i+4] AS gram
        |      FROM (SELECT w.*, unnest(range(1, len(words) - 3)) AS i FROM w)),
        |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id < 5),
        |corpus AS (SELECT doc_id, gram FROM g WHERE doc_id >= 5)
        |SELECT doc_id, count(*) AS n_hits
        |FROM corpus JOIN bench USING (gram)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // bloom prefilter + exact confirm join must return the exact answer
    "corpus_decontaminate_bloom" ->
      """WITH w AS (SELECT doc_id, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |        words[i] || ' ' || words[i+1] || ' ' || words[i+2] || ' ' || words[i+3] || ' ' || words[i+4] AS gram
        |      FROM (SELECT w.*, unnest(range(1, len(words) - 3)) AS i FROM w)),
        |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id < 5),
        |corpus AS (SELECT doc_id, gram FROM g WHERE doc_id >= 5)
        |SELECT doc_id, count(*) AS n_hits
        |FROM corpus JOIN bench USING (gram)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dedup_embedding_cosine" ->
      """WITH v AS (SELECT vec_id, i - 1 AS d, CAST(embedding[i] AS DOUBLE) AS x
        |           FROM embeddings, range(1, 65) r(i)),
        |n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM v GROUP BY 1),
        |dt AS (SELECT a.vec_id AS id1, b.vec_id AS id2, sum(a.x * b.x) AS dot
        |       FROM v a JOIN v b ON a.d = b.d AND a.vec_id < b.vec_id GROUP BY 1, 2)
        |SELECT id1, id2, round(dot / (n1.nrm * n2.nrm), 6) AS cosine
        |FROM dt JOIN n n1 ON n1.vec_id = id1 JOIN n n2 ON n2.vec_id = id2
        |WHERE round(dot / (n1.nrm * n2.nrm), 6) >= 0.45
        |ORDER BY id1, id2""".stripMargin,

    "dedup_embedding_cosine_lsh" ->
      """WITH v AS (SELECT vec_id, i - 1 AS d, CAST(embedding[i] AS DOUBLE) AS x
        |           FROM embeddings, range(1, 65) r(i)),
        |n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM v GROUP BY 1),
        |hp AS (SELECT p, d, CAST(strpos('0123456789abcdef',
        |         substr(md5(CAST(p AS VARCHAR) || '|' || CAST(d AS VARCHAR)), 1, 1)) - 1 AS DOUBLE) - 7.5 AS w
        |       FROM range(0, 24) rp(p), range(0, 64) rd(d)),
        |proj AS (SELECT vec_id, p, sum(w * x) AS pr
        |         FROM v JOIN hp ON hp.d = v.d GROUP BY 1, 2),
        |bkt AS (SELECT vec_id, p // 3 AS tbl,
        |          CAST(sum(CASE WHEN pr >= 0 THEN 1::BIGINT << (p % 3) ELSE 0 END) AS BIGINT) AS bucket
        |        FROM proj GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
        |         FROM bkt a JOIN bkt b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
        |dt AS (SELECT id1, id2, sum(q.x * c.x) AS dot
        |       FROM cand JOIN v q ON q.vec_id = id1 JOIN v c ON c.vec_id = id2 AND c.d = q.d
        |       GROUP BY 1, 2)
        |SELECT id1, id2, round(dot / (n1.nrm * n2.nrm), 6) AS cosine
        |FROM dt JOIN n n1 ON n1.vec_id = id1 JOIN n n2 ON n2.vec_id = id2
        |WHERE round(dot / (n1.nrm * n2.nrm), 6) >= 0.45
        |ORDER BY id1, id2""".stripMargin,

    "ann_cosine_topk" ->
      """WITH v AS (SELECT vec_id, i - 1 AS d, CAST(embedding[i] AS DOUBLE) AS x
        |           FROM embeddings, range(1, 65) r(i)),
        |n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM v GROUP BY 1),
        |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, sum(q.x * c.x) AS dot
        |       FROM v q JOIN v c ON q.d = c.d AND q.vec_id < 5 AND c.vec_id <> q.vec_id
        |       GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id,
        |        CAST(row_number() OVER (PARTITION BY query_id
        |          ORDER BY dot / (n1.nrm * n2.nrm) DESC, neighbor_id) AS INT) AS rank
        |      FROM sc JOIN n n1 ON n1.vec_id = query_id JOIN n n2 ON n2.vec_id = neighbor_id)
        |SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    // same L2-normalize + affine int8 grid (corpus per-dim min/max),
    // integer code dot; the norm sum folds in index order = graft_dot
    "ann_int8_topk" ->
      """WITH v AS (SELECT vec_id, i - 1 AS d, CAST(embedding[i] AS DOUBLE) AS x
        |           FROM embeddings, range(1, 65) r(i)),
        |n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM v GROUP BY 1),
        |vn AS (SELECT v.vec_id, d, CASE WHEN nrm = 0 THEN 0.0 ELSE x / nrm END AS x
        |       FROM v JOIN n ON n.vec_id = v.vec_id),
        |st AS (SELECT d, min(x) AS mn, max(x) AS mx FROM vn GROUP BY 1),
        |qz AS (SELECT vec_id, vn.d,
        |         CASE WHEN mn = mx THEN 0
        |              ELSE least(greatest(CAST(floor(((x - mn) * 254.0) / (mx - mn)) AS BIGINT) - 127, -127), 127)
        |         END AS code
        |       FROM vn JOIN st ON vn.d = st.d),
        |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         CAST(SUM(q.code * c.code) AS BIGINT) AS idot
        |       FROM qz q JOIN qz c ON q.d = c.d AND q.vec_id < 5 AND c.vec_id <> q.vec_id
        |       GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id, idot,
        |        CAST(row_number() OVER (PARTITION BY query_id
        |          ORDER BY idot DESC, neighbor_id) AS INT) AS rank
        |      FROM sc)
        |SELECT query_id, neighbor_id, idot, rank FROM r WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    // dist doubles as both the encode argmin input and the query ADC
    // lookup (queries are corpus vectors); 16-element squared-L2 folds in
    // index order = the Spark sequential aggregate, micro-rounded
    "ann_pq_topk" ->
      """WITH v AS (SELECT vec_id, i - 1 AS d, CAST(embedding[i] AS DOUBLE) AS x
        |           FROM embeddings, range(1, 65) r(i)),
        |sv AS (SELECT vec_id, d // 16 AS s, d % 16 AS p, x FROM v),
        |dist AS (SELECT a.vec_id, a.s, b.vec_id AS j,
        |           CAST(round(SUM((a.x - b.x) * (a.x - b.x)) * 1000000.0) AS BIGINT) AS dm
        |         FROM sv a JOIN sv b ON a.s = b.s AND a.p = b.p AND b.vec_id < 256
        |         GROUP BY 1, 2, 3),
        |codes AS (SELECT vec_id, s, j AS code FROM (
        |            SELECT vec_id, s, j,
        |              row_number() OVER (PARTITION BY vec_id, s ORDER BY dm, j) AS rn
        |            FROM dist) WHERE rn = 1),
        |adc AS (SELECT d.vec_id AS query_id, c.vec_id AS neighbor_id,
        |          CAST(SUM(d.dm) AS BIGINT) AS adc_micro
        |        FROM codes c JOIN dist d ON d.s = c.s AND d.j = c.code
        |          AND d.vec_id < 5 AND d.vec_id <> c.vec_id
        |        GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id, adc_micro,
        |        CAST(row_number() OVER (PARTITION BY query_id
        |          ORDER BY adc_micro, neighbor_id) AS INT) AS rank
        |      FROM adc)
        |SELECT query_id, neighbor_id, adc_micro, rank FROM r WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    // the IVF cell/probe CTEs gating the PQ dist/codes/ADC CTEs — the
    // candidate set is the probes⋈cells equality join on both sides
    "ann_ivfpq_topk" ->
      """WITH v AS MATERIALIZED (SELECT vec_id, i - 1 AS d, CAST(embedding[i] AS DOUBLE) AS x
        |           FROM embeddings, range(1, 65) r(i)),
        |n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM v GROUP BY 1),
        |cd AS (SELECT a.vec_id, c.vec_id AS cell, sum(a.x * c.x) AS dot
        |       FROM v a JOIN v c ON a.d = c.d AND c.vec_id < 8 GROUP BY 1, 2),
        |cr AS (SELECT cd.vec_id, cell,
        |         row_number() OVER (PARTITION BY cd.vec_id
        |           ORDER BY dot / (n1.nrm * n2.nrm) DESC, cell) AS cell_rank
        |       FROM cd JOIN n n1 ON n1.vec_id = cd.vec_id JOIN n n2 ON n2.vec_id = cell),
        |cells AS (SELECT vec_id, cell FROM cr WHERE cell_rank = 1),
        |probes AS (SELECT vec_id AS query_id, cell FROM cr WHERE cell_rank <= 2 AND vec_id < 5),
        |cand AS (SELECT p.query_id, ce.vec_id
        |         FROM probes p JOIN cells ce ON ce.cell = p.cell AND ce.vec_id <> p.query_id),
        |sv AS (SELECT vec_id, d // 16 AS s, d % 16 AS p, x FROM v),
        |dist AS MATERIALIZED (SELECT a.vec_id, a.s, b.vec_id AS j,
        |           CAST(round(SUM((a.x - b.x) * (a.x - b.x)) * 1000000.0) AS BIGINT) AS dm
        |         FROM sv a JOIN sv b ON a.s = b.s AND a.p = b.p AND b.vec_id < 256
        |         GROUP BY 1, 2, 3),
        |codes AS (SELECT vec_id, s, j AS code FROM (
        |            SELECT vec_id, s, j,
        |              row_number() OVER (PARTITION BY vec_id, s ORDER BY dm, j) AS rn
        |            FROM dist) WHERE rn = 1),
        |adc AS (SELECT cand.query_id, c.vec_id AS neighbor_id,
        |          CAST(SUM(d.dm) AS BIGINT) AS adc_micro
        |        FROM cand JOIN codes c ON c.vec_id = cand.vec_id
        |          JOIN dist d ON d.vec_id = cand.query_id AND d.s = c.s AND d.j = c.code
        |        GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id, adc_micro,
        |        CAST(row_number() OVER (PARTITION BY query_id
        |          ORDER BY adc_micro, neighbor_id) AS INT) AS rank
        |      FROM adc)
        |SELECT query_id, neighbor_id, adc_micro, rank FROM r WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    // same chain, shortlist widened to 50, then the exact-cosine re-rank
    // epilogue (the rank-only parity discipline of ann_cosine_topk: the
    // integer adc_micro ships as stage-1 evidence, the float cosine only
    // ORDERS — it never lands in the output)
    "ann_ivfpq_rerank" ->
      """WITH v AS MATERIALIZED (SELECT vec_id, i - 1 AS d, CAST(embedding[i] AS DOUBLE) AS x
        |           FROM embeddings, range(1, 65) r(i)),
        |n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM v GROUP BY 1),
        |cd AS (SELECT a.vec_id, c.vec_id AS cell, sum(a.x * c.x) AS dot
        |       FROM v a JOIN v c ON a.d = c.d AND c.vec_id < 8 GROUP BY 1, 2),
        |cr AS (SELECT cd.vec_id, cell,
        |         row_number() OVER (PARTITION BY cd.vec_id
        |           ORDER BY dot / (n1.nrm * n2.nrm) DESC, cell) AS cell_rank
        |       FROM cd JOIN n n1 ON n1.vec_id = cd.vec_id JOIN n n2 ON n2.vec_id = cell),
        |cells AS (SELECT vec_id, cell FROM cr WHERE cell_rank = 1),
        |probes AS (SELECT vec_id AS query_id, cell FROM cr WHERE cell_rank <= 2 AND vec_id < 5),
        |cand AS (SELECT p.query_id, ce.vec_id
        |         FROM probes p JOIN cells ce ON ce.cell = p.cell AND ce.vec_id <> p.query_id),
        |sv AS (SELECT vec_id, d // 16 AS s, d % 16 AS p, x FROM v),
        |dist AS MATERIALIZED (SELECT a.vec_id, a.s, b.vec_id AS j,
        |           CAST(round(SUM((a.x - b.x) * (a.x - b.x)) * 1000000.0) AS BIGINT) AS dm
        |         FROM sv a JOIN sv b ON a.s = b.s AND a.p = b.p AND b.vec_id < 256
        |         GROUP BY 1, 2, 3),
        |codes AS (SELECT vec_id, s, j AS code FROM (
        |            SELECT vec_id, s, j,
        |              row_number() OVER (PARTITION BY vec_id, s ORDER BY dm, j) AS rn
        |            FROM dist) WHERE rn = 1),
        |adc AS (SELECT cand.query_id, c.vec_id AS neighbor_id,
        |          CAST(SUM(d.dm) AS BIGINT) AS adc_micro
        |        FROM cand JOIN codes c ON c.vec_id = cand.vec_id
        |          JOIN dist d ON d.vec_id = cand.query_id AND d.s = c.s AND d.j = c.code
        |        GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id, adc_micro,
        |        CAST(row_number() OVER (PARTITION BY query_id
        |          ORDER BY adc_micro, neighbor_id) AS INT) AS rank
        |      FROM adc),
        |ex AS (SELECT r.query_id, r.neighbor_id, r.adc_micro,
        |         SUM(a.x * b.x) AS dot
        |       FROM r JOIN v a ON a.vec_id = r.query_id
        |              JOIN v b ON b.vec_id = r.neighbor_id AND b.d = a.d
        |       WHERE r.rank <= 50 GROUP BY 1, 2, 3),
        |rr AS (SELECT ex.query_id, ex.neighbor_id, ex.adc_micro,
        |         CAST(row_number() OVER (PARTITION BY ex.query_id
        |           ORDER BY ex.dot / (n1.nrm * n2.nrm) DESC, ex.neighbor_id) AS INT) AS rank
        |       FROM ex JOIN n n1 ON n1.vec_id = ex.query_id
        |               JOIN n n2 ON n2.vec_id = ex.neighbor_id)
        |SELECT query_id, neighbor_id, adc_micro, rank FROM rr WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    // float×float products are exact in double on both engines; the
    // micro-rounded integer sum is associative, so partial-agg order
    // (Spark) vs single-pass (DuckDB) cannot differ by a bit
    "emb_gram_matrix" ->
      """WITH v AS (SELECT vec_id, i - 1 AS d, CAST(embedding[i] AS DOUBLE) AS x
        |           FROM embeddings, range(1, 65) r(i))
        |SELECT a.d AS i, b.d AS j, count(*) AS n,
        |  CAST(SUM(CAST(round(a.x * b.x * 1000000.0) AS BIGINT)) AS BIGINT) AS sxy_micro
        |FROM v a JOIN v b ON a.vec_id = b.vec_id AND b.d >= a.d
        |GROUP BY 1, 2 ORDER BY i, j""".stripMargin,

    // every pair on one common value grid; the same integer supremum,
    // smallest-x tie rule, one division per surviving row
    "quality_ks_matrix" ->
      """WITH base AS MATERIALIZED (SELECT source AS g, CAST(n_chars AS BIGINT) AS x
        |  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL),
        |v AS (SELECT DISTINCT x FROM base),
        |gs AS (SELECT DISTINCT g FROM base),
        |c AS (SELECT g, x, count(*) AS c FROM base GROUP BY 1, 2),
        |grid AS (SELECT gs.g, v.x, COALESCE(c.c, 0) AS c
        |  FROM v CROSS JOIN gs LEFT JOIN c ON c.g = gs.g AND c.x = v.x),
        |f AS (SELECT g, x,
        |    SUM(c) OVER (PARTITION BY g ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fcum,
        |    SUM(c) OVER (PARTITION BY g) AS n
        |  FROM grid),
        |p AS (SELECT a.g AS source_a, b.g AS source_b, a.x,
        |    CAST(a.n AS BIGINT) AS na, CAST(b.n AS BIGINT) AS nb,
        |    CAST(abs(a.fcum * b.n - b.fcum * a.n) AS BIGINT) AS ks_num
        |  FROM f a JOIN f b ON a.x = b.x AND a.g < b.g),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source_a, source_b
        |        ORDER BY ks_num DESC, x) AS rk FROM p)
        |SELECT source_a, source_b, na, nb, x AS x_at, ks_num,
        |  CAST(ks_num AS DOUBLE) / CAST(na * nb AS DOUBLE) AS ks
        |FROM r WHERE rk = 1 ORDER BY source_a, source_b""".stripMargin,

    // integer ECDF supremum — the argmax is decided in exact arithmetic,
    // the one division happens on the surviving row only
    "quality_ks_drift" ->
      """WITH t AS MATERIALIZED (SELECT n_chars AS x, source AS g FROM documents
        |  WHERE source IN ('src0', 'src1') AND n_chars IS NOT NULL),
        |p AS MATERIALIZED (SELECT x,
        |    SUM(CASE WHEN g = 'src0' THEN 1 ELSE 0 END) AS ca,
        |    SUM(CASE WHEN g = 'src1' THEN 1 ELSE 0 END) AS cb
        |  FROM t GROUP BY 1),
        |c AS MATERIALIZED (SELECT x, ca, cb,
        |    SUM(ca) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fa,
        |    SUM(cb) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fb,
        |    SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb
        |  FROM p)
        |SELECT x AS x_at, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
        |  CAST(abs(fa * nb - fb * na) AS BIGINT) AS ks_num,
        |  CAST(abs(fa * nb - fb * na) AS DOUBLE) / CAST(na * nb AS DOUBLE) AS ks
        |FROM c ORDER BY ks_num DESC, x_at LIMIT 1""".stripMargin,

    // the 12 power iterations unrolled as CTEs (the pagerank oracle's
    // trick): integer matvec, one IEEE divide+multiply per step on
    // doubles that are exact images of the longs, re-quantized to milli
    "emb_pca_power" -> pcaPowerOracle(
      "SELECT dim, v AS v_milli FROM vf ORDER BY dim"),

    // the 3 Lloyd rounds unrolled as CTEs: integer-objective assignment,
    // truncating-division centroid update, empty cells kept by COALESCE
    "emb_kmeans_train" -> kmeansOracle(
      """SELECT cell, d AS dim, c AS c_milli, n AS n_members
        |FROM __CF__ ORDER BY cell, dim""".stripMargin),

    // one more assignment CTE against the final centroids; the chosen
    // cell's integer objective ships as decision evidence
    "emb_kmeans_assign" -> kmeansOracle(
      "SELECT vec_id, cell, obj FROM __AF__ ORDER BY vec_id"),

    // centroid silhouette against the same final centroids: per-term
    // rounded milli² distances (integer sums), own cell from __AF__'s
    // assignment, sqrt/round only on the per-vector epilogue
    "emb_silhouette" -> kmeansOracle(
      """,cf AS MATERIALIZED (SELECT cell, d, c FROM __CF__),
        |dist AS MATERIALIZED (SELECT e.vec_id, cf.cell,
        |    CAST(SUM(CAST(round((1000.0 * e.x - cf.c) * (1000.0 * e.x - cf.c))
        |      AS BIGINT)) AS BIGINT) AS d2
        |  FROM e JOIN cf ON e.d = cf.d GROUP BY 1, 2),
        |own AS (SELECT a.vec_id, a.cell, dd.d2 AS a2 FROM __AF__ a
        |  JOIN dist dd ON dd.vec_id = a.vec_id AND dd.cell = a.cell),
        |oth AS (SELECT o.vec_id, MIN(dd.d2) AS b2 FROM own o
        |  JOIN dist dd ON dd.vec_id = o.vec_id AND dd.cell <> o.cell GROUP BY 1),
        |s AS (SELECT own.vec_id, own.cell,
        |    CASE WHEN greatest(own.a2, oth.b2) = 0 THEN CAST(0 AS BIGINT)
        |         ELSE CAST(round(1000000.0 *
        |           ((sqrt(CAST(oth.b2 AS DOUBLE)) - sqrt(CAST(own.a2 AS DOUBLE)))
        |             / sqrt(CAST(greatest(own.a2, oth.b2) AS DOUBLE))))
        |           AS BIGINT) END AS s_micro
        |  FROM own JOIN oth USING (vec_id))
        |SELECT cell, count(*) AS n,
        |  CAST(CAST(SUM(s_micro) AS BIGINT) // count(*) AS BIGINT) AS mean_s_micro
        |FROM s GROUP BY 1 ORDER BY cell""".stripMargin),

    // same assignment chain: within-cell pairs, 6-decimal-rounded cosine
    // (the dedup_embedding_cosine convention), (cos desc, nn_id) argmax
    "emb_knn_loo" -> kmeansOracle(
      """,lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
        |nrm AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM e GROUP BY 1),
        |pr AS (SELECT a.vec_id, a.cell FROM __AF__ a),
        |dt AS (SELECT q.vec_id, c.vec_id AS nn_id, sum(eq.x * ec.x) AS dot
        |   FROM pr q JOIN pr c ON q.cell = c.cell AND q.vec_id <> c.vec_id
        |   JOIN e eq ON eq.vec_id = q.vec_id
        |   JOIN e ec ON ec.vec_id = c.vec_id AND ec.d = eq.d
        |   GROUP BY 1, 2),
        |sc AS (SELECT dt.vec_id, dt.nn_id,
        |    round(dt.dot / (nq.nrm * nc.nrm), 6) AS cos
        |  FROM dt JOIN nrm nq ON nq.vec_id = dt.vec_id
        |  JOIN nrm nc ON nc.vec_id = dt.nn_id),
        |nn AS (SELECT vec_id, nn_id FROM (
        |    SELECT vec_id, nn_id,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nn_id) AS rk
        |    FROM sc) z WHERE rk = 1)
        |SELECT ql.label, count(*) AS n,
        |  CAST(SUM(CASE WHEN ql.label = cl.label THEN 1 ELSE 0 END) AS BIGINT)
        |    AS correct,
        |  (1000 * CAST(SUM(CASE WHEN ql.label = cl.label THEN 1 ELSE 0 END)
        |    AS BIGINT)) // count(*) AS accuracy_permille
        |FROM nn JOIN lab ql ON ql.vec_id = nn.vec_id
        |JOIN lab cl ON cl.vec_id = nn.nn_id
        |GROUP BY 1 ORDER BY ql.label""".stripMargin),

    // same assignment chain joined to the label column; the majority is
    // the (cnt desc, label asc) argmax — a deterministic integer order
    "emb_cell_purity" -> kmeansOracle(
      """,lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
        |cl AS (SELECT a.cell, lab.label, count(*) AS cnt
        |  FROM __AF__ a JOIN lab USING (vec_id) GROUP BY 1, 2),
        |tp AS (SELECT cell, label, cnt,
        |    row_number() OVER (PARTITION BY cell ORDER BY cnt DESC, label) AS rk,
        |    CAST(SUM(cnt) OVER (PARTITION BY cell) AS BIGINT) AS n FROM cl)
        |SELECT cell, n, label AS top_label, cnt AS top_cnt,
        |  (1000 * cnt) // n AS purity_permille
        |FROM tp WHERE rk = 1 ORDER BY cell""".stripMargin),

    // same CTE chain, projected: per-term rounding before the row sum
    "emb_pca_scores" -> pcaPowerOracle(
      """SELECT e.vec_id,
        |  CAST(SUM(CAST(round(e.x * vf.v * 1000.0) AS BIGINT)) AS BIGINT) AS pc1_micro
        |FROM e JOIN vf ON e.d = vf.dim GROUP BY 1 ORDER BY vec_id""".stripMargin),

    // same micro-rounded integer sums as the gram matrix; the mean/std
    // epilogue is the identical IEEE expression on both sides
    "emb_dim_stats" ->
      """WITH v AS (SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
        |           FROM embeddings, range(1, 65) r(i)),
        |s AS MATERIALIZED (SELECT dim, count(*) AS n,
        |    CAST(SUM(CAST(round(x * 1000000.0) AS BIGINT)) AS BIGINT) AS sx_micro,
        |    CAST(SUM(CAST(round(x * x * 1000000.0) AS BIGINT)) AS BIGINT) AS sxx_micro,
        |    min(x) AS x_min, max(x) AS x_max
        |  FROM v GROUP BY 1),
        |m AS (SELECT *, CAST(sx_micro AS DOUBLE) / 1000000.0 / n AS mean,
        |    CAST(sxx_micro AS DOUBLE) / 1000000.0 / n AS ex2 FROM s)
        |SELECT dim, n, sx_micro, sxx_micro, x_min, x_max, mean,
        |  sqrt(greatest(ex2 - mean * mean, 0.0)) AS std
        |FROM m ORDER BY dim""".stripMargin,

    // the same moments; σ through the identical double tree, then the
    // per-element epilogue is pure integer arithmetic (truncating //)
    "emb_standardize" ->
      """WITH v AS (SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
        |           FROM embeddings, range(1, 65) r(i)),
        |s AS MATERIALIZED (SELECT dim, count(*) AS n,
        |    CAST(SUM(CAST(round(x * 1000000.0) AS BIGINT)) AS BIGINT) AS sx_micro,
        |    CAST(SUM(CAST(round(x * x * 1000000.0) AS BIGINT)) AS BIGINT) AS sxx_micro
        |  FROM v GROUP BY 1),
        |m AS (SELECT dim, sx_micro // n AS mean_micro,
        |    CAST(round(sqrt(greatest(CAST(sxx_micro AS DOUBLE) / 1000000.0 / n
        |      - (CAST(sx_micro AS DOUBLE) / 1000000.0 / n)
        |        * (CAST(sx_micro AS DOUBLE) / 1000000.0 / n), 0.0)) * 1000000.0) AS BIGINT)
        |      AS sd_micro
        |  FROM s)
        |SELECT v.vec_id, CAST(v.dim AS BIGINT) AS dim,
        |  CASE WHEN m.sd_micro = 0 THEN CAST(0 AS BIGINT)
        |       ELSE ((CAST(round(v.x * 1000000.0) AS BIGINT) - m.mean_micro) * 1000)
        |            // m.sd_micro
        |  END AS z_milli
        |FROM v JOIN m ON m.dim = v.dim ORDER BY vec_id, dim""".stripMargin,

    // per-pair cosines micro-rounded before any aggregation, so top-k
    // sums are exact integer adds and the margin one integer division —
    // clamped numerator keeps Spark div and SQL // in agreement
    "emb_margin_pairs" ->
      """WITH v AS (SELECT vec_id, i - 1 AS d, CAST(embedding[i] AS DOUBLE) AS x
        |           FROM embeddings, range(1, 65) r(i)),
        |n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM v GROUP BY 1),
        |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |        CAST(round(sum(a.x * b.x) / (n1.nrm * n2.nrm) * 1000000.0) AS BIGINT) AS cos_micro
        |      FROM v a JOIN v b ON a.d = b.d AND a.vec_id % 2 = 0 AND b.vec_id % 2 = 1
        |      JOIN n n1 ON n1.vec_id = a.vec_id JOIN n n2 ON n2.vec_id = b.vec_id
        |      GROUP BY a.vec_id, b.vec_id, n1.nrm, n2.nrm),
        |ra AS (SELECT a_id, b_id, cos_micro,
        |         row_number() OVER (PARTITION BY a_id ORDER BY cos_micro DESC, b_id) AS rk FROM p),
        |rb AS (SELECT a_id, b_id, cos_micro,
        |         row_number() OVER (PARTITION BY b_id ORDER BY cos_micro DESC, a_id) AS rk FROM p),
        |sa AS (SELECT a_id, CAST(sum(cos_micro) AS BIGINT) AS s_a FROM ra WHERE rk <= 4 GROUP BY 1),
        |sb AS (SELECT b_id, CAST(sum(cos_micro) AS BIGINT) AS s_b FROM rb WHERE rk <= 4 GROUP BY 1),
        |m AS (SELECT p.a_id, p.b_id, p.cos_micro,
        |        CAST((greatest(p.cos_micro, 0) * 8 * 1000000) // (s_a + s_b) AS BIGINT) AS margin_ppm
        |      FROM p JOIN sa USING (a_id) JOIN sb USING (b_id)
        |      WHERE s_a + s_b > 0),
        |mm AS (SELECT *,
        |         row_number() OVER (PARTITION BY a_id ORDER BY margin_ppm DESC, b_id) AS ba,
        |         row_number() OVER (PARTITION BY b_id ORDER BY margin_ppm DESC, a_id) AS bb FROM m)
        |SELECT a_id, b_id, cos_micro, margin_ppm FROM mm
        |WHERE ba = 1 AND bb = 1 AND margin_ppm >= 1000000
        |ORDER BY a_id""".stripMargin,

    // word-frequency table first (the one corpus pass), then char pairs
    // over the vocab — identical tokenization to corpus_decontaminate
    "text_bpe_merges" ->
      """WITH w AS (SELECT unnest(string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ')) AS word
        |           FROM documents),
        |wc AS (SELECT word, count(*) AS cnt FROM w WHERE length(word) >= 2 GROUP BY 1),
        |p AS (SELECT substr(word, i, 2) AS pair, cnt
        |      FROM (SELECT wc.*, unnest(range(1, length(word))) AS i FROM wc))
        |SELECT pair, CAST(sum(cnt) AS BIGINT) AS n_occurrences
        |FROM p GROUP BY 1
        |ORDER BY n_occurrences DESC, pair LIMIT 50""".stripMargin,

    // the shipped 8-merge table replays as a replace() chain over the
    // ',sym,,sym,'-delimited symbol string: plain global replace scans
    // left-to-right without rescanning its own output — exactly the
    // greedy non-overlapping merge fold — and the comma anchors on BOTH
    // sides of the pattern stop a merge from firing inside a longer
    // symbol ('er' never matches the tail of 'mer'); symbol count falls
    // out of the surviving ',,' separator count
    "text_bpe_encode" ->
      (BpeEncodeSql + "\n" +
      """SELECT w.doc_id, CAST(sum(c.n_syms) AS BIGINT) AS n_bpe_tokens,
        |  CAST(count(*) AS BIGINT) AS n_words
        |FROM w JOIN c USING (word) GROUP BY 1 ORDER BY doc_id""".stripMargin),

    // sqrt(sqrt(c^3)) with the same left-associated double product: two
    // correctly-rounded IEEE sqrts, no libm pow; window sum cast back
    // from DuckDB's HUGEINT
    "text_neg_sampling" ->
      (NegSamplingSql + "\n" +
      """SELECT token, cnt, weight_micro,
        |  CAST(sum(weight_micro) OVER (ORDER BY token
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_weight_micro
        |FROM t ORDER BY token""".stripMargin),

    // the E-S draw over weight_micro — same md5-slice uniform and pow
    // contract as corpus_weighted_sample
    "text_neg_sample_draw" ->
      (NegSamplingSql + "\n" +
      """SELECT token, cnt, weight_micro FROM (
        |  SELECT token, cnt, weight_micro,
        |    pow((('0x' || substr(md5(token), 1, 13))::BIGINT + 0.5)
        |        / 4503599627370496.0, 1.0 / CAST(weight_micro AS DOUBLE)) AS score
        |  FROM t WHERE weight_micro > 0
        |  ORDER BY score DESC, token LIMIT 50)
        |ORDER BY token""".stripMargin),

    // per-source length-sorted batches of 32: same (len, id) total order,
    // same pad-to-longest accounting
    "corpus_length_batches" ->
      """WITH d AS (SELECT source, doc_id,
        |  CAST(len(string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ')) AS BIGINT) AS l
        |  FROM documents),
        |r AS (SELECT source, doc_id, l,
        |  row_number() OVER (PARTITION BY source ORDER BY l, doc_id) AS rn FROM d)
        |SELECT source, CAST((rn - 1) // 32 AS BIGINT) AS batch_id,
        |  CAST(count(*) AS BIGINT) AS n_seqs,
        |  CAST(min(l) AS BIGINT) AS min_len, CAST(max(l) AS BIGINT) AS max_len,
        |  CAST(sum(l) AS BIGINT) AS sum_len,
        |  CAST(max(l) * count(*) - sum(l) AS BIGINT) AS pad_tokens
        |FROM r GROUP BY 1, 2 ORDER BY source, batch_id""".stripMargin,

    // the shipped-tokenizer replace-chain rolled up per source: exact
    // integer micro ratios (floor division on both engines)
    "corpus_tokenizer_fertility" ->
      (BpeEncodeSql + ",\n" +
      """bt AS (SELECT w.doc_id, CAST(sum(c.n_syms) AS BIGINT) AS n_tokens,
        |       CAST(count(*) AS BIGINT) AS n_words
        |       FROM w JOIN c USING (word) GROUP BY 1),
        |j AS (SELECT d.source, d.n_chars, bt.n_tokens, bt.n_words
        |      FROM bt JOIN documents d USING (doc_id))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_words) AS BIGINT) AS n_words,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |  CAST((1000000 * sum(n_tokens)) // sum(n_words) AS BIGINT) AS fertility_micro,
        |  CAST((1000000 * sum(n_chars)) // sum(n_tokens) AS BIGINT) AS chars_per_token_micro
        |FROM j GROUP BY 1 ORDER BY source""".stripMargin),

    // the bpe-encode replace-chain feeds the pack cumsum: per-doc real
    // tokenizer counts, then the same global (u, doc_id) prefix sum the
    // chars/4 pack oracle uses
    "corpus_pack_bpe" ->
      (BpeEncodeSql + ",\n" +
      """bt AS (SELECT w.doc_id, CAST(sum(c.n_syms) AS BIGINT) AS tok
        |       FROM w JOIN c USING (word) GROUP BY 1),
        |t AS (SELECT doc_id, tok,
        |        (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 0.5)
        |          / 4503599627370496.0 AS u
        |      FROM bt),
        |cc AS (SELECT doc_id, tok,
        |         sum(tok) OVER (ORDER BY u, doc_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok AS start
        |       FROM t)
        |SELECT doc_id, CAST(start // 2048 AS BIGINT) AS seq_id, tok AS seq_tokens
        |FROM cc ORDER BY doc_id""".stripMargin),

    // the same positional self-join with the 1/d GloVe weight attached;
    // integer micro weights sum exactly in both engines
    "text_cooc_weighted" ->
      """WITH d AS (SELECT doc_id, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS ws
        |           FROM documents),
        |t AS (SELECT doc_id, CAST(unnest(range(1, length(ws) + 1)) AS BIGINT) AS i, unnest(ws) AS w
        |      FROM d WHERE length(ws) >= 2),
        |f AS (SELECT a.w AS center, b.w AS context,
        |        CAST(1000000 // (b.i - a.i) AS BIGINT) AS wt
        |      FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.i > a.i AND b.i <= a.i + 2),
        |u AS (SELECT center, context, wt FROM f
        |      UNION ALL SELECT context AS center, center AS context, wt FROM f)
        |SELECT center, context, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(wt) AS BIGINT) AS weight_micro
        |FROM u GROUP BY 1, 2 ORDER BY center, context""".stripMargin,

    // positional unnest + bounded-offset self-join (oracle-side only; the
    // engine never materializes positions), both orientations unioned
    "text_skipgram_pairs" ->
      """WITH d AS (SELECT doc_id, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS ws
        |           FROM documents),
        |t AS (SELECT doc_id, CAST(unnest(range(1, length(ws) + 1)) AS BIGINT) AS i, unnest(ws) AS w
        |      FROM d WHERE length(ws) >= 2),
        |f AS (SELECT a.w AS center, b.w AS context
        |      FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.i > a.i AND b.i <= a.i + 2),
        |u AS (SELECT center, context FROM f
        |      UNION ALL SELECT context AS center, center AS context FROM f)
        |SELECT center, context, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM u GROUP BY 1, 2 ORDER BY center, context""".stripMargin,

    // the recurrence replays as a per-series recursive CTE on the bucket
    // row number; >> is the same floor-on-negatives arithmetic shift as
    // Spark's shiftright, so level/trend match bit-for-bit
    "ts_holt" -> (HoltRecursionSql + "\n" +
      """SELECT series, h, v AS v_micro, lvl AS level_micro, trd AS trend_micro
        |FROM s ORDER BY series, h""".stripMargin),

    // the three-recurrence fold replays with the 24 seasonal slots
    // carried as a LIST column through the per-series recursion; every
    // step is integer shifts, so level/trend/season match bit-for-bit
    "ts_holt_winters" ->
      (HwRecursionSql + "\n" +
      """SELECT series, h, v AS v_micro, lvl AS level_micro, trd AS trend_micro,
        |  sea AS season_micro
        |FROM s ORDER BY series, h""".stripMargin),

    // the holt-winters recursion, then arg_max epilogues: final (l, b)
    // per series, latest seasonal per (series, slot), 24 future buckets
    "ts_forecast_24h" ->
      (HwRecursionSql + ",\n" +
      """lastst AS (SELECT series, arg_max(h, h) AS h0, arg_max(lvl, h) AS l,
        |             arg_max(trd, h) AS b FROM s GROUP BY 1),
        |slotlast AS (SELECT series, CAST(h % 24 AS INT) AS slot,
        |               arg_max(sea, h) AS sv FROM s GROUP BY 1, 2),
        |f AS (SELECT l.series, l.h0 + k AS h, k,
        |        l.l + k * l.b + COALESCE(sl.sv, 0) AS forecast_micro
        |      FROM lastst l CROSS JOIN range(1, 25) r(k)
        |      LEFT JOIN slotlast sl ON sl.series = l.series
        |        AND sl.slot = CAST((l.h0 + k) % 24 AS INT))
        |SELECT series, h, CAST(k AS BIGINT) AS k, forecast_micro
        |FROM f ORDER BY series, h""".stripMargin),

    // ordered string_agg replays the rank-pruned path fold; ties beyond
    // the LIMIT can't exist because (n_users desc, path) is total
    "events_top_paths" ->
      """WITH e AS (SELECT user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY t, event_id) AS rn FROM e),
        |p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |      FROM r WHERE rn <= 5 GROUP BY user_id)
        |SELECT path, count(*) AS n_users FROM p GROUP BY 1
        |ORDER BY n_users DESC, path LIMIT 20""".stripMargin,

    // the holt-winters recursion + the proven MAD epilogue over the
    // integer residuals; quantile_cont == Spark percentile
    "ts_anomaly_deseasonal" ->
      (HwRecursionSql + ",\n" +
      """resid AS MATERIALIZED (
        |  SELECT series, h, v - lvl - sea AS rr FROM s),
        |med AS MATERIALIZED (SELECT series, quantile_cont(rr, 0.5) AS med
        |                     FROM resid GROUP BY 1),
        |wm AS MATERIALIZED (SELECT resid.*, med.med
        |                    FROM resid JOIN med USING (series)),
        |mad AS MATERIALIZED (SELECT series, quantile_cont(abs(rr - med), 0.5) AS mad
        |                     FROM wm GROUP BY 1)
        |SELECT series, h, rr AS resid_micro,
        |  round(abs(rr - med) / mad, 4) AS mad_score
        |FROM wm JOIN mad USING (series)
        |WHERE mad > 0 AND abs(rr - med) > mad * 4.0
        |ORDER BY series, h""".stripMargin),

    // the ts_holt recursion + a lag window + one integer aggregate;
    // // floors like Spark's div on the non-negative error terms
    "ts_holt_backtest" -> (HoltRecursionSql + ",\n" +
      """fc AS (SELECT series, h, v,
        |    lag(lvl) OVER (PARTITION BY series ORDER BY h)
        |      + lag(trd) OVER (PARTITION BY series ORDER BY h) AS f
        |  FROM s),
        |sc AS (SELECT series, v, f, abs(v - f) AS e FROM fc WHERE f IS NOT NULL)
        |SELECT series, count(*) AS n_eval,
        |  CAST(CAST(sum(e) AS BIGINT) // count(*) AS BIGINT) AS mae_micro,
        |  CAST(CAST(sum(CASE WHEN abs(v) + abs(f) > 0
        |    THEN (2000 * e) // (abs(v) + abs(f)) ELSE 0 END) AS BIGINT)
        |    // count(*) AS BIGINT) AS smape_permille
        |FROM sc GROUP BY series ORDER BY series""".stripMargin),

    // same first-8 coarse quantizer as ann_ivf_topk; within-cell pairs at
    // rounded cosine ≥ τ drop the larger id, survivors remain
    "dedup_semantic" ->
      """WITH v AS (SELECT vec_id, i - 1 AS d, CAST(embedding[i] AS DOUBLE) AS x
        |           FROM embeddings, range(1, 65) r(i)),
        |n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM v GROUP BY 1),
        |cd AS (SELECT a.vec_id, c.vec_id AS cell, sum(a.x * c.x) AS dot
        |       FROM v a JOIN v c ON a.d = c.d AND c.vec_id < 8 GROUP BY 1, 2),
        |cr AS (SELECT cd.vec_id, cell,
        |         row_number() OVER (PARTITION BY cd.vec_id
        |           ORDER BY dot / (n1.nrm * n2.nrm) DESC, cell) AS cell_rank
        |       FROM cd JOIN n n1 ON n1.vec_id = cd.vec_id JOIN n n2 ON n2.vec_id = cell),
        |cells AS (SELECT vec_id, cell FROM cr WHERE cell_rank = 1),
        |pd AS (SELECT ca.vec_id AS id1, cb.vec_id AS id2, sum(va.x * vb.x) AS dot
        |       FROM cells ca JOIN cells cb ON ca.cell = cb.cell AND ca.vec_id < cb.vec_id
        |       JOIN v va ON va.vec_id = ca.vec_id
        |       JOIN v vb ON vb.vec_id = cb.vec_id AND vb.d = va.d
        |       GROUP BY 1, 2),
        |dropped AS (SELECT DISTINCT id2 FROM pd
        |            JOIN n n1 ON n1.vec_id = id1 JOIN n n2 ON n2.vec_id = id2
        |            WHERE round(dot / (n1.nrm * n2.nrm), 6) >= 0.45)
        |SELECT e.vec_id FROM embeddings e
        |LEFT JOIN dropped d ON e.vec_id = d.id2
        |WHERE d.id2 IS NULL ORDER BY vec_id""".stripMargin,

    "ann_ivf_topk" ->
      """WITH v AS (SELECT vec_id, i - 1 AS d, CAST(embedding[i] AS DOUBLE) AS x
        |           FROM embeddings, range(1, 65) r(i)),
        |n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM v GROUP BY 1),
        |cd AS (SELECT a.vec_id, c.vec_id AS cell, sum(a.x * c.x) AS dot
        |       FROM v a JOIN v c ON a.d = c.d AND c.vec_id < 8 GROUP BY 1, 2),
        |cr AS (SELECT cd.vec_id, cell,
        |         row_number() OVER (PARTITION BY cd.vec_id
        |           ORDER BY dot / (n1.nrm * n2.nrm) DESC, cell) AS cell_rank
        |       FROM cd JOIN n n1 ON n1.vec_id = cd.vec_id JOIN n n2 ON n2.vec_id = cell),
        |cells AS (SELECT vec_id, cell FROM cr WHERE cell_rank = 1),
        |probes AS (SELECT vec_id AS query_id, cell FROM cr WHERE cell_rank <= 2 AND vec_id < 5),
        |sc AS (SELECT p.query_id, ce.vec_id AS neighbor_id, sum(q.x * c2.x) AS dot
        |       FROM probes p JOIN cells ce ON ce.cell = p.cell AND ce.vec_id <> p.query_id
        |       JOIN v q ON q.vec_id = p.query_id
        |       JOIN v c2 ON c2.vec_id = ce.vec_id AND c2.d = q.d
        |       GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id,
        |        CAST(row_number() OVER (PARTITION BY query_id
        |          ORDER BY dot / (n1.nrm * n2.nrm) DESC, neighbor_id) AS INT) AS rank
        |      FROM sc JOIN n n1 ON n1.vec_id = query_id JOIN n n2 ON n2.vec_id = neighbor_id)
        |SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    // the brute and IVF ranking CTEs side by side, hits by set
    // intersection — the ann rank conventions both families already pin
    "ann_ivf_recall" ->
      """WITH v AS (SELECT vec_id, i - 1 AS d, CAST(embedding[i] AS DOUBLE) AS x
        |           FROM embeddings, range(1, 65) r(i)),
        |n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM v GROUP BY 1),
        |bs AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, sum(q.x * c.x) AS dot
        |       FROM v q JOIN v c ON q.d = c.d AND q.vec_id < 32 AND c.vec_id <> q.vec_id
        |       GROUP BY 1, 2),
        |br AS (SELECT query_id, neighbor_id FROM (
        |        SELECT query_id, neighbor_id,
        |          row_number() OVER (PARTITION BY query_id
        |            ORDER BY dot / (n1.nrm * n2.nrm) DESC, neighbor_id) AS rank
        |        FROM bs JOIN n n1 ON n1.vec_id = query_id
        |        JOIN n n2 ON n2.vec_id = neighbor_id) z WHERE rank <= 10),
        |cd AS (SELECT a.vec_id, c.vec_id AS cell, sum(a.x * c.x) AS dot
        |       FROM v a JOIN v c ON a.d = c.d AND c.vec_id < 8 GROUP BY 1, 2),
        |cr AS (SELECT cd.vec_id, cell,
        |         row_number() OVER (PARTITION BY cd.vec_id
        |           ORDER BY dot / (n1.nrm * n2.nrm) DESC, cell) AS cell_rank
        |       FROM cd JOIN n n1 ON n1.vec_id = cd.vec_id JOIN n n2 ON n2.vec_id = cell),
        |cells AS (SELECT vec_id, cell FROM cr WHERE cell_rank = 1),
        |probes AS (SELECT vec_id AS query_id, cell FROM cr
        |           WHERE cell_rank <= 2 AND vec_id < 32),
        |isc AS (SELECT p.query_id, ce.vec_id AS neighbor_id, sum(q.x * c2.x) AS dot
        |       FROM probes p JOIN cells ce ON ce.cell = p.cell AND ce.vec_id <> p.query_id
        |       JOIN v q ON q.vec_id = p.query_id
        |       JOIN v c2 ON c2.vec_id = ce.vec_id AND c2.d = q.d
        |       GROUP BY 1, 2),
        |ir AS (SELECT query_id, neighbor_id FROM (
        |        SELECT query_id, neighbor_id,
        |          row_number() OVER (PARTITION BY query_id
        |            ORDER BY dot / (n1.nrm * n2.nrm) DESC, neighbor_id) AS rank
        |        FROM isc JOIN n n1 ON n1.vec_id = query_id
        |        JOIN n n2 ON n2.vec_id = neighbor_id) z WHERE rank <= 10),
        |h AS (SELECT query_id, count(*) AS n_hits
        |      FROM (SELECT * FROM br INTERSECT SELECT * FROM ir) q GROUP BY 1)
        |SELECT br.query_id, count(*) AS n_true,
        |  CAST(COALESCE(max(h.n_hits), 0) AS BIGINT) AS n_hits,
        |  (1000 * CAST(COALESCE(max(h.n_hits), 0) AS BIGINT)) // count(*)
        |    AS recall_permille
        |FROM br LEFT JOIN h USING (query_id)
        |GROUP BY 1 ORDER BY query_id""".stripMargin,

    // the IVF nearest-cell CTEs, cosine micro-rounded BEFORE the per-cell
    // rank — the flag itself is pure integer arithmetic on both engines
    "emb_cell_outliers" ->
      """WITH v AS (SELECT vec_id, i - 1 AS d, CAST(embedding[i] AS DOUBLE) AS x
        |           FROM embeddings, range(1, 65) r(i)),
        |n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM v GROUP BY 1),
        |cd AS (SELECT a.vec_id, c.vec_id AS cell, sum(a.x * c.x) AS dot
        |       FROM v a JOIN v c ON a.d = c.d AND c.vec_id < 8 GROUP BY 1, 2),
        |cr AS (SELECT cd.vec_id, cell, dot / (n1.nrm * n2.nrm) AS cos,
        |         row_number() OVER (PARTITION BY cd.vec_id
        |           ORDER BY dot / (n1.nrm * n2.nrm) DESC, cell) AS cell_rank
        |       FROM cd JOIN n n1 ON n1.vec_id = cd.vec_id JOIN n n2 ON n2.vec_id = cell),
        |a AS (SELECT vec_id, cell, CAST(round(cos * 1000000.0) AS BIGINT) AS cos_micro
        |      FROM cr WHERE cell_rank = 1),
        |r AS (SELECT vec_id, cell, cos_micro,
        |        CAST(row_number() OVER (PARTITION BY cell ORDER BY cos_micro, vec_id) AS BIGINT) AS r,
        |        count(*) OVER (PARTITION BY cell) AS cnt
        |      FROM a)
        |SELECT cell, vec_id, cos_micro, r FROM r WHERE r * 1000 <= cnt * 100
        |ORDER BY cell, r""".stripMargin,

    // the lsh oracle's hyperplane CTE with the sign NOT taken: per-term
    // micro rounding, integer sums
    "emb_random_projection" ->
      """WITH v AS (SELECT vec_id, i - 1 AS d, CAST(embedding[i] AS DOUBLE) AS x
        |           FROM embeddings, range(1, 65) r(i)),
        |hp AS (SELECT p, d, CAST(strpos('0123456789abcdef',
        |         substr(md5(CAST(p AS VARCHAR) || '|' || CAST(d AS VARCHAR)), 1, 1)) - 1 AS DOUBLE) - 7.5 AS w
        |       FROM range(0, 16) rp(p), range(0, 64) rd(d))
        |SELECT v.vec_id, hp.p AS p,
        |  CAST(SUM(CAST(round(v.x * hp.w * 1000000.0) AS BIGINT)) AS BIGINT) AS proj_micro
        |FROM v JOIN hp ON hp.d = v.d
        |GROUP BY 1, 2 ORDER BY vec_id, p""".stripMargin,

    // the IVF nearest-cell CTEs + a per-cell md5-ordered window pick
    "emb_cluster_sample" ->
      """WITH v AS (SELECT vec_id, i - 1 AS d, CAST(embedding[i] AS DOUBLE) AS x
        |           FROM embeddings, range(1, 65) r(i)),
        |n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM v GROUP BY 1),
        |cd AS (SELECT a.vec_id, c.vec_id AS cell, sum(a.x * c.x) AS dot
        |       FROM v a JOIN v c ON a.d = c.d AND c.vec_id < 8 GROUP BY 1, 2),
        |cr AS (SELECT cd.vec_id, cell,
        |         row_number() OVER (PARTITION BY cd.vec_id
        |           ORDER BY dot / (n1.nrm * n2.nrm) DESC, cell) AS cell_rank
        |       FROM cd JOIN n n1 ON n1.vec_id = cd.vec_id JOIN n n2 ON n2.vec_id = cell),
        |cells AS (SELECT vec_id, cell FROM cr WHERE cell_rank = 1),
        |rk AS (SELECT cell, vec_id,
        |         CAST(row_number() OVER (PARTITION BY cell
        |           ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 13), vec_id) AS INT) AS rank
        |       FROM cells)
        |SELECT cell, vec_id, rank FROM rk WHERE rank <= 16
        |ORDER BY cell, rank""".stripMargin,

    "ann_lsh_bucketed" ->
      """WITH v AS (SELECT vec_id, i - 1 AS d, CAST(embedding[i] AS DOUBLE) AS x
        |           FROM embeddings, range(1, 65) r(i)),
        |n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM v GROUP BY 1),
        |hp AS (SELECT p, d, CAST(strpos('0123456789abcdef',
        |         substr(md5(CAST(p AS VARCHAR) || '|' || CAST(d AS VARCHAR)), 1, 1)) - 1 AS DOUBLE) - 7.5 AS w
        |       FROM range(0, 4) rp(p), range(0, 64) rd(d)),
        |proj AS (SELECT vec_id, p, sum(w * x) AS pr
        |         FROM v JOIN hp ON hp.d = v.d GROUP BY 1, 2),
        |bkt AS (SELECT vec_id, CAST(sum(CASE WHEN pr >= 0 THEN 1::BIGINT << p ELSE 0 END) AS BIGINT) AS bucket
        |        FROM proj GROUP BY 1),
        |sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, sum(q.x * c.x) AS dot
        |       FROM v q JOIN v c ON q.d = c.d
        |       JOIN bkt bq ON bq.vec_id = q.vec_id JOIN bkt bc ON bc.vec_id = c.vec_id
        |       WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id AND bq.bucket = bc.bucket
        |       GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id,
        |        CAST(row_number() OVER (PARTITION BY query_id
        |          ORDER BY dot / (n1.nrm * n2.nrm) DESC, neighbor_id) AS INT) AS rank
        |      FROM sc JOIN n n1 ON n1.vec_id = query_id JOIN n n2 ON n2.vec_id = neighbor_id)
        |SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    // the srp bucket pipeline verbatim on corpus + md5-noise twins (noise
    // magnitude sweeps with vec_id % 10); hit = exact bucket equality
    "dedup_srp_recall" ->
      """WITH v AS (SELECT vec_id, i - 1 AS d, CAST(embedding[i] AS DOUBLE) AS x
        |           FROM embeddings, range(1, 65) r(i)),
        |s AS (SELECT * FROM v
        |      WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 13))::BIGINT % 1000 < 200),
        |t AS (SELECT vec_id, d,
        |        x * (1 + (CAST(strpos('0123456789abcdef',
        |          substr(md5(CAST(vec_id AS VARCHAR) || '|' || CAST(d AS VARCHAR)), 1, 1)) - 1 AS DOUBLE)
        |          - 7.5) * CAST(vec_id % 10 AS DOUBLE) / 75.0) AS x
        |      FROM s),
        |hp AS (SELECT p, d, CAST(strpos('0123456789abcdef',
        |         substr(md5(CAST(p AS VARCHAR) || '|' || CAST(d AS VARCHAR)), 1, 1)) - 1 AS DOUBLE) - 7.5 AS w
        |       FROM range(0, 4) rp(p), range(0, 64) rd(d)),
        |cb AS (SELECT vec_id, CAST(sum(CASE WHEN pr >= 0 THEN 1::BIGINT << p ELSE 0 END) AS BIGINT) AS bucket
        |       FROM (SELECT vec_id, p, sum(w * x) AS pr
        |             FROM v JOIN hp ON hp.d = v.d GROUP BY 1, 2) GROUP BY 1),
        |tb AS (SELECT vec_id, CAST(sum(CASE WHEN pr >= 0 THEN 1::BIGINT << p ELSE 0 END) AS BIGINT) AS bucket
        |       FROM (SELECT vec_id, p, sum(w * x) AS pr
        |             FROM t JOIN hp ON hp.d = t.d GROUP BY 1, 2) GROUP BY 1),
        |co AS (SELECT s.vec_id, sum(s.x * t.x) AS dot,
        |         sqrt(sum(s.x * s.x)) AS n1, sqrt(sum(t.x * t.x)) AS n2
        |       FROM s JOIN t ON s.vec_id = t.vec_id AND s.d = t.d GROUP BY 1)
        |SELECT co.vec_id,
        |  CAST(round(dot / (n1 * n2) * 1000000) AS BIGINT) AS cos_micro,
        |  CAST(CASE WHEN cb.bucket = tb.bucket THEN 1 ELSE 0 END AS BIGINT) AS srp_hit
        |FROM co JOIN cb ON cb.vec_id = co.vec_id JOIN tb ON tb.vec_id = co.vec_id
        |ORDER BY co.vec_id""".stripMargin,

    "lang_id" ->
      """WITH t AS (SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS norm FROM documents),
        |tok AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS tk FROM t),
        |s AS (SELECT doc_id,
        |        CAST(sum(CASE WHEN tk IN ('table','agg') THEN 1 ELSE 0 END) AS BIGINT) AS s_de,
        |        CAST(sum(CASE WHEN tk IN ('the','a') THEN 1 ELSE 0 END) AS BIGINT) AS s_en,
        |        CAST(sum(CASE WHEN tk IN ('data','row') THEN 1 ELSE 0 END) AS BIGINT) AS s_es,
        |        CAST(sum(CASE WHEN tk IN ('query','order') THEN 1 ELSE 0 END) AS BIGINT) AS s_fr,
        |        CAST(sum(CASE WHEN tk IN ('window','merge') THEN 1 ELSE 0 END) AS BIGINT) AS s_zh
        |      FROM tok GROUP BY doc_id)
        |SELECT doc_id, s_de, s_en, s_es, s_fr, s_zh,
        |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |       WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |       WHEN s_es >= s_de AND s_es >= s_en AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |       WHEN s_fr >= s_de AND s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
        |       ELSE 'zh' END AS pred_lang
        |FROM s ORDER BY doc_id""".stripMargin,

    "quality_score" ->
      """WITH t AS (SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS norm FROM documents),
        |b AS (SELECT doc_id,
        |        CAST(length(norm) AS BIGINT) AS n_chars,
        |        CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_tokens,
        |        CAST(len(list_filter(string_split(norm, ' '),
        |          x -> x = 'the' OR x = 'a' OR x = 'of')) AS BIGINT) AS n_stop
        |      FROM t)
        |SELECT doc_id, n_chars, n_tokens, n_stop,
        |  n_stop / n_tokens AS stop_ratio,
        |  (n_chars - n_tokens + 1) / n_tokens AS avg_wlen,
        |  0.3 * (n_stop / n_tokens)
        |    + 0.5 * least(n_tokens / CAST(100 AS DOUBLE), CAST(1 AS DOUBLE))
        |    + 0.2 * (1.0 - abs((n_chars - n_tokens + 1) / n_tokens - 5) / 10) AS score
        |FROM b ORDER BY doc_id""".stripMargin,

    // same whitespace tokenization as token_count; starts are integer
    // multiples of the stride, the tail window runs short on both sides
    "corpus_chunk_overlap" ->
      """WITH t AS (SELECT doc_id,
        |             string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS toks
        |           FROM documents),
        |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tok FROM t),
        |c AS (SELECT doc_id, toks, n_tok,
        |        unnest(generate_series(0,
        |          CAST(greatest(ceil((n_tok - 64) / 32.0), 0) AS BIGINT) * 32, 32)) AS start
        |      FROM n)
        |SELECT doc_id, CAST(start // 32 AS BIGINT) AS chunk_id,
        |  CAST(start AS BIGINT) AS start, n_tok,
        |  CAST(least(64, n_tok - start) AS BIGINT) AS chunk_tokens,
        |  array_to_string(list_slice(toks, start + 1, start + 64), ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    // the oracle states the SEMANTICS as one ntile window; the Spark side
    // reproduces it rank-for-rank from the length histogram
    "corpus_curriculum" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ')) AS BIGINT) AS n_tok
        |  FROM documents)
        |SELECT doc_id, n_tok,
        |  CAST(ntile(4) OVER (ORDER BY n_tok, doc_id) AS INT) AS phase
        |FROM t ORDER BY doc_id""".stripMargin,

    "token_count" ->
      """WITH t AS (SELECT doc_id, text, regexp_replace(lower(text), '\s+', ' ', 'g') AS norm FROM documents)
        |SELECT doc_id,
        |  CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(norm, '[a-z]+')) AS BIGINT) AS n_alpha_runs,
        |  CAST(ceil(length(text) / CAST(4 AS DOUBLE)) AS BIGINT) AS n_bpe_est
        |FROM t ORDER BY doc_id""".stripMargin,

    // the oracle's single global window IS the semantics; the Spark side
    // reproduces it as a distributed prefix sum (identical total order,
    // identical integer cumsum)
    "corpus_pack_sequences" ->
      """WITH t AS (SELECT doc_id, CAST(ceil(n_chars / 4.0) AS BIGINT) AS tok,
        |             (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 0.5)
        |               / 4503599627370496.0 AS u
        |           FROM documents),
        |c AS (SELECT doc_id, tok,
        |        sum(tok) OVER (ORDER BY u, doc_id
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok AS start
        |      FROM t)
        |SELECT doc_id, CAST(start // 2048 AS BIGINT) AS seq_id, tok AS seq_tokens
        |FROM c ORDER BY doc_id""".stripMargin,

    // the pack cumsum + a 16-key round-robin rollup
    "corpus_shard_manifest" ->
      """WITH t AS (SELECT doc_id, CAST(ceil(n_chars / 4.0) AS BIGINT) AS tok,
        |             (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 0.5)
        |               / 4503599627370496.0 AS u
        |           FROM documents),
        |c AS (SELECT doc_id, tok,
        |        sum(tok) OVER (ORDER BY u, doc_id
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok AS start
        |      FROM t),
        |s AS (SELECT doc_id, tok, CAST(start // 2048 AS BIGINT) AS seq_id FROM c)
        |SELECT seq_id % 16 AS shard_id, count(DISTINCT seq_id) AS n_seqs,
        |  count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS tokens,
        |  min(seq_id) AS seq_min, max(seq_id) AS seq_max
        |FROM s GROUP BY 1 ORDER BY shard_id""".stripMargin,

    // sqrt-temperature budgets from exact integer token totals; the only
    // float op (floor∘sqrt) is correctly-rounded IEEE on both engines,
    // and the fill cumsum is the same per-source window both sides
    "corpus_mix_budget" ->
      """WITH t AS MATERIALIZED (
        |  SELECT doc_id, source, CAST(ceil(n_chars / 4.0) AS BIGINT) AS tok,
        |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 0.5)
        |      / 4503599627370496.0 AS u
        |  FROM documents),
        |tot AS MATERIALIZED (
        |  SELECT source, CAST(floor(sqrt(CAST(sum(tok) AS DOUBLE))) AS BIGINT) AS w
        |  FROM t GROUP BY 1),
        |b AS MATERIALIZED (
        |  SELECT source, CAST(20000 * w // (SELECT sum(w) FROM tot) AS BIGINT) AS budget
        |  FROM tot),
        |c AS (SELECT doc_id, source, tok,
        |        sum(tok) OVER (PARTITION BY source ORDER BY u, doc_id
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok AS st
        |      FROM t)
        |SELECT c.doc_id, c.source, c.tok, CAST(c.st AS BIGINT) AS start_tok
        |FROM c JOIN b USING (source)
        |WHERE c.st < b.budget
        |ORDER BY doc_id""".stripMargin,

    // same 52-bit md5 slice vs per-source thresholds
    "corpus_mix" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 0.5)
        |      / 4503599627370496.0 AS u
        |  FROM documents)
        |WHERE u < CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.1 ELSE 1.0 END
        |ORDER BY doc_id""".stripMargin,

    // same 52-bit md5 slice, same u^(1/w) score: both engines rank an
    // identical deterministic sample (ties broken by doc_id)
    // the same 52-bit rank, ascending, id tie-break
    "corpus_uniform_sample" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT AS r
        |  FROM documents ORDER BY r, doc_id LIMIT 100)
        |ORDER BY doc_id""".stripMargin,

    "corpus_weighted_sample" ->
      """SELECT doc_id, n_chars FROM (
        |  SELECT doc_id, n_chars,
        |    pow((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 0.5)
        |        / 4503599627370496.0, 1.0 / n_chars) AS score
        |  FROM documents WHERE n_chars > 0
        |  ORDER BY score DESC, doc_id LIMIT 100)
        |ORDER BY doc_id""".stripMargin,

    // rank by the raw hex digest: fixed-width lowercase hex strings
    // compare identically in both engines
    "corpus_stratified_sample" ->
      """SELECT source AS stratum, rk, doc_id FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 15 ORDER BY stratum, rk""".stripMargin,

    // the sketch pass only generates candidates; the confirm pass is an
    // exact GROUP BY over them, so the oracle is the plain exact query
    "corpus_heavy_tokens" ->
      """WITH w AS (SELECT string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |tok AS (SELECT unnest(words) AS token FROM w)
        |SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences
        |FROM tok GROUP BY token
        |HAVING count(*) >= CAST(ceil((SELECT count(*) FROM tok) * 0.01) AS BIGINT)
        |ORDER BY token""".stripMargin,

    "quality_repetition" ->
      """WITH w AS (SELECT doc_id, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |g AS (SELECT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS gram
        |      FROM (SELECT w.*, unnest(range(1, len(words) - 1)) AS i FROM w))
        |SELECT doc_id, count(*) AS n_grams, count(DISTINCT gram) AS n_distinct,
        |  (count(*) - count(DISTINCT gram)) / count(*) AS rep_ratio
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "corpus_prune" ->
      """SELECT doc_id, stratum, len, pr FROM (
        |  SELECT doc_id, source AS stratum, n_chars AS len,
        |    percent_rank() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS pr
        |  FROM documents)
        |WHERE pr >= 0.05 AND pr <= 0.95 ORDER BY doc_id""".stripMargin,

    "corpus_split" ->
      """SELECT doc_id,
        |  CASE WHEN v < 13 THEN 'train' WHEN v < 15 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |        strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS v
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "doc_fingerprint" ->
      """WITH t AS (SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS norm FROM documents)
        |SELECT doc_id, md5(norm) AS fp, substr(md5(norm), 1, 8) AS fp_prefix
        |FROM t ORDER BY doc_id""".stripMargin,

    "corpus_dedup_paragraph" ->
      """WITH w AS (SELECT doc_id, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |c AS (SELECT doc_id, i AS pos, array_to_string(words[(i*12+1):(i*12+12)], ' ') AS chunk
        |      FROM w, range(0, 2048) r(i) WHERE i < ceil(len(words) / 12.0)),
        |rk AS (SELECT doc_id, pos, chunk,
        |         row_number() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, pos) AS rn
        |       FROM c)
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  coalesce(string_agg(chunk, ' ' ORDER BY pos) FILTER (WHERE rn = 1), '') AS new_text
        |FROM rk GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // content-defined boundaries: a new chunk starts where the 52-bit md5
    // slice of the local word bigram is 0 mod 8 (1-based words[] here ==
    // 0-based words[] on the Spark side); chunk index = running boundary
    // count, then the same first-occurrence-wins dedup as the fixed-width
    // oracle above
    "corpus_dedup_cdc" ->
      """WITH w AS (SELECT doc_id, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |p AS (SELECT doc_id, i AS wpos, words[i] AS word,
        |        CASE WHEN i >= 2 AND ('0x' || substr(md5(words[i-1] || ' ' || words[i]), 1, 13))::BIGINT % 8 = 0
        |             THEN 1 ELSE 0 END AS b
        |      FROM w, range(1, 2049) r(i) WHERE i <= len(words)),
        |seg AS (SELECT doc_id, wpos, word,
        |          sum(b) OVER (PARTITION BY doc_id ORDER BY wpos) AS pos FROM p),
        |c AS (SELECT doc_id, pos, string_agg(word, ' ' ORDER BY wpos) AS chunk
        |      FROM seg GROUP BY 1, 2),
        |rk AS (SELECT doc_id, pos, chunk,
        |         row_number() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, pos) AS rn
        |       FROM c)
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  coalesce(string_agg(chunk, ' ' ORDER BY pos) FILTER (WHERE rn = 1), '') AS new_text
        |FROM rk GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // char 30-gram seed positions with corpus-wide count > 1, merged
    // into maximal spans by the consecutive-position islands trick
    "corpus_dup_spans" ->
      """WITH pos AS MATERIALIZED (SELECT doc_id, CAST(u.i AS BIGINT) AS p, substr(text, CAST(u.i AS INT), 30) AS g
        |      FROM documents, LATERAL unnest(generate_series(1, greatest(length(text) - 29, 0))) u(i)),
        |s AS MATERIALIZED (SELECT doc_id, p FROM (
        |      SELECT doc_id, p, count(*) OVER (PARTITION BY g) AS cnt FROM pos)
        |      WHERE cnt > 1),
        |i AS (SELECT doc_id, p,
        |        p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS isl FROM s)
        |SELECT doc_id, min(p) AS span_start, max(p) + 29 AS span_end,
        |  max(p) + 29 - min(p) + 1 AS span_len
        |FROM i GROUP BY doc_id, isl ORDER BY doc_id, span_start""".stripMargin,

    // same distinct 3-gram sets; "first" is min(doc_id) per gram —
    // associative, order-free, identical in both engines
    "text_novelty" ->
      """WITH w AS (SELECT doc_id, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |sh AS (SELECT DISTINCT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
        |       FROM (SELECT w.*, unnest(range(1, len(words) - 1)) AS i FROM w)),
        |f AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1)
        |SELECT sh.doc_id, count(*) AS n_grams,
        |  CAST(SUM(CASE WHEN sh.doc_id = f.first_doc THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
        |  (1000 * CAST(SUM(CASE WHEN sh.doc_id = f.first_doc THEN 1 ELSE 0 END) AS BIGINT)) // count(*) AS novelty_permille
        |FROM sh JOIN f USING (shingle)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the feature-hash triples times the md5(idx:j) sign — exact
    // integer sums, identical derivation in both engines
    "text_doc_embed" ->
      """WITH w AS (SELECT doc_id, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |t AS (SELECT doc_id, unnest(words) AS tok FROM w),
        |f AS (SELECT doc_id,
        |        ('0x' || substr(md5(tok), 1, 13))::BIGINT % 1024 AS idx,
        |        CASE WHEN instr('01234567', substr(md5(tok), 14, 1)) > 0
        |             THEN 1 ELSE -1 END AS sgn
        |      FROM t),
        |fh AS (SELECT doc_id, idx, CAST(SUM(sgn) AS BIGINT) AS val
        |       FROM f GROUP BY 1, 2 HAVING SUM(sgn) <> 0),
        |x AS (SELECT doc_id, idx, val, CAST(unnest(range(0, 16)) AS INT) AS j
        |      FROM fh)
        |SELECT doc_id, j, CAST(SUM(val * (CASE WHEN instr('01234567',
        |    substr(md5(CAST(idx AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 1)) > 0
        |    THEN 1 ELSE -1 END)) AS BIGINT) AS e
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // identical md5 bucket + sign-nibble arithmetic; exact signed
    // integer counts, zero-sum buckets dropped on both sides
    "text_feature_hash" ->
      """WITH w AS (SELECT doc_id, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |t AS (SELECT doc_id, unnest(words) AS tok FROM w),
        |f AS (SELECT doc_id,
        |        ('0x' || substr(md5(tok), 1, 13))::BIGINT % 1024 AS idx,
        |        CASE WHEN instr('01234567', substr(md5(tok), 14, 1)) > 0
        |             THEN 1 ELSE -1 END AS sgn
        |      FROM t)
        |SELECT doc_id, idx, CAST(SUM(sgn) AS BIGINT) AS val
        |FROM f GROUP BY 1, 2 HAVING SUM(sgn) <> 0
        |ORDER BY doc_id, idx""".stripMargin,

    "text_tfidf_topk" ->
      """WITH w AS (SELECT doc_id, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |tok AS (SELECT doc_id, unnest(words) AS token FROM w),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |r AS (SELECT tf.doc_id, tf.token, tf.tf, dfq.df,
        |        tf.tf * 1000000 // dfq.df AS score,
        |        row_number() OVER (PARTITION BY tf.doc_id
        |          ORDER BY tf.tf * 1000000 // dfq.df DESC, tf.token) AS rank
        |      FROM tf JOIN dfq USING (token))
        |SELECT doc_id, rank, token, tf, df, score
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "text_inverted_index" ->
      """WITH w AS (SELECT doc_id, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |tok AS (SELECT doc_id, unnest(words) AS token FROM w),
        |dt AS (SELECT DISTINCT doc_id, token FROM tok),
        |dfq AS (SELECT token, count(*) AS df FROM dt GROUP BY 1 HAVING count(*) <= 1000)
        |SELECT dt.token AS token, dfq.df AS df,
        |  array_to_string((list(dt.doc_id ORDER BY dt.doc_id))[1:100], ',') AS postings
        |FROM dt JOIN dfq USING (token)
        |GROUP BY dt.token, dfq.df
        |ORDER BY token""".stripMargin,

    // constants spelled as the SAME literal arithmetic Spark evaluates
    // ((1.2 + 1.0), (1.0 - 0.75)) so both engines fold identical doubles;
    // the division/multiplication tree mirrors TextAnalysis.bm25TopK
    // exactly — contributions agree bit-for-bit before the integer sum
    "text_bm25_topk" ->
      """WITH w AS (SELECT doc_id, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |tokd AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS dl, unnest(words) AS token FROM w),
        |tf AS (SELECT doc_id, dl, token, count(*) AS tf FROM tokd
        |       WHERE token IN ('merge', 'batch', 'stream') GROUP BY 1, 2, 3),
        |dft AS (SELECT token, count(*) AS dft FROM tf GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |                 CAST(SUM(CAST(len(words) AS BIGINT)) AS DOUBLE) / count(*) AS avgdl
        |          FROM w),
        |scored AS (
        |  SELECT tf.doc_id,
        |    CAST(round((stats.n_docs - dft.dft + 0.5) / (dft.dft + 0.5)
        |      * (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * tf.dl / stats.avgdl)))
        |      * 1000000.0) AS BIGINT) AS contrib_micro
        |  FROM tf JOIN dft USING (token), stats)
        |SELECT doc_id, CAST(SUM(contrib_micro) AS BIGINT) AS score_micro,
        |  count(*) AS n_terms
        |FROM scored GROUP BY doc_id
        |ORDER BY score_micro DESC, doc_id LIMIT 20""".stripMargin,

    // the index-served path scores bit-equal to text scoring (shared
    // epilogue, same stats), so the oracle states the same pipeline with
    // tf built from the full postings index restricted to the terms
    "text_bm25_from_index" ->
      """WITH w AS (SELECT doc_id, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |tokd AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS dl, unnest(words) AS token FROM w),
        |idx AS (SELECT doc_id, dl, token, count(*) AS tf FROM tokd GROUP BY 1, 2, 3),
        |tf AS (SELECT doc_id, dl, token, tf FROM idx
        |       WHERE token IN ('merge', 'batch', 'stream')),
        |dft AS (SELECT token, count(*) AS dft FROM tf GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |                 CAST(SUM(dl) AS DOUBLE) / count(*) AS avgdl
        |          FROM (SELECT DISTINCT doc_id, dl FROM idx)),
        |scored AS (
        |  SELECT tf.doc_id,
        |    CAST(round((stats.n_docs - dft.dft + 0.5) / (dft.dft + 0.5)
        |      * (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * tf.dl / stats.avgdl)))
        |      * 1000000.0) AS BIGINT) AS contrib_micro
        |  FROM tf JOIN dft USING (token), stats)
        |SELECT doc_id, CAST(SUM(contrib_micro) AS BIGINT) AS score_micro,
        |  count(*) AS n_terms
        |FROM scored GROUP BY doc_id
        |ORDER BY score_micro DESC, doc_id LIMIT 20""".stripMargin,

    // the same BM25 scoring at k=10, joined against tf-graded gains;
    // discount weights are data-independent micro integers (verified
    // bit-identical between JDK and DuckDB), so DCG/IDCG are exact sums
    "text_ndcg" ->
      """WITH w AS MATERIALIZED (SELECT doc_id, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |tokd AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS dl, unnest(words) AS token FROM w),
        |tf AS MATERIALIZED (SELECT doc_id, dl, token, count(*) AS tf FROM tokd
        |       WHERE token IN ('merge', 'batch', 'stream') GROUP BY 1, 2, 3),
        |dft AS (SELECT token, count(*) AS dft FROM tf GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |                 CAST(SUM(CAST(len(words) AS BIGINT)) AS DOUBLE) / count(*) AS avgdl
        |          FROM w),
        |scored AS (
        |  SELECT tf.doc_id,
        |    CAST(round((stats.n_docs - dft.dft + 0.5) / (dft.dft + 0.5)
        |      * (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * tf.dl / stats.avgdl)))
        |      * 1000000.0) AS BIGINT) AS contrib_micro
        |  FROM tf JOIN dft USING (token), stats),
        |top AS (SELECT doc_id, CAST(SUM(contrib_micro) AS BIGINT) AS score_micro
        |        FROM scored GROUP BY doc_id
        |        ORDER BY score_micro DESC, doc_id LIMIT 10),
        |rt AS (SELECT doc_id,
        |         row_number() OVER (ORDER BY score_micro DESC, doc_id) AS pos
        |       FROM top),
        |g AS MATERIALIZED (SELECT doc_id,
        |       (1 << CAST(least(count(*), 3) AS INT)) - 1 AS gain
        |     FROM (SELECT doc_id, unnest(words) AS token FROM w) q
        |     WHERE token IN ('merge', 'batch', 'stream') GROUP BY 1),
        |dcg AS (SELECT COALESCE(CAST(SUM(COALESCE(g.gain, 0) *
        |      CAST(round(1000000.0 / (ln(CAST(rt.pos + 1 AS DOUBLE)) / ln(CAST(2 AS DOUBLE)))) AS BIGINT))
        |    AS BIGINT), 0) AS dcg
        |  FROM rt LEFT JOIN g USING (doc_id)),
        |ideal AS (SELECT gain, row_number() OVER (ORDER BY gain DESC, doc_id) AS pos
        |          FROM g QUALIFY pos <= 10),
        |idcg AS (SELECT COALESCE(CAST(SUM(gain *
        |      CAST(round(1000000.0 / (ln(CAST(pos + 1 AS DOUBLE)) / ln(CAST(2 AS DOUBLE)))) AS BIGINT))
        |    AS BIGINT), 0) AS idcg FROM ideal)
        |SELECT CAST(10 AS BIGINT) AS k, dcg.dcg AS dcg_micro,
        |  idcg.idcg AS idcg_micro,
        |  CASE WHEN idcg.idcg > 0 THEN (1000000 * dcg.dcg) // idcg.idcg END
        |    AS ndcg_micro
        |FROM dcg, idcg""".stripMargin,

    // ln rounds to micro per term immediately (measured 1-ulp JDK/libm
    // divergence — see TextAnalysis header note), then the OLS closed
    // form folds in HUGEINT exactly like Spark's decimal widening;
    // // and div both truncate toward zero, so the negative slope is
    // engine-exact
    "text_zipf_fit" ->
      """WITH w AS (SELECT string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |c AS (SELECT token, count(*) AS cnt
        |      FROM (SELECT unnest(words) AS token FROM w) q GROUP BY 1),
        |t AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rank
        |      FROM c QUALIFY rank <= 1000),
        |m AS (SELECT CAST(round(1000000.0 * ln(CAST(rank AS DOUBLE))) AS BIGINT) AS x,
        |        CAST(round(1000000.0 * ln(CAST(cnt AS DOUBLE))) AS BIGINT) AS y
        |      FROM t),
        |a AS (SELECT count(*) AS nt, SUM(x) AS sx, SUM(y) AS sy,
        |        SUM(x * y) AS sxy, SUM(x * x) AS sxx FROM m),
        |f AS (SELECT nt, nt * sxy - sx * sy AS num,
        |        nt * sxx - sx * sx AS den, sy, sx FROM a)
        |SELECT nt AS n_terms,
        |  CASE WHEN den > 0 THEN CAST((1000000 * num) // den AS BIGINT) END
        |    AS slope_micro,
        |  CASE WHEN den > 0
        |    THEN CAST((sy * den - num * sx) // (nt * den) AS BIGINT) END
        |    AS intercept_micro
        |FROM f""".stripMargin,

    // both shortlists are RANK tables (the ann/bm25 parity contracts);
    // the fused score is pure integer arithmetic — 10⁹ // (60+rank) —
    // so the fusion itself can't diverge by a bit
    "text_rrf_fusion" ->
      """WITH w AS (SELECT doc_id, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |tokd AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS dl, unnest(words) AS token FROM w),
        |tf AS (SELECT doc_id, dl, token, count(*) AS tf FROM tokd
        |       WHERE token IN ('merge', 'batch', 'stream') GROUP BY 1, 2, 3),
        |dft AS (SELECT token, count(*) AS dft FROM tf GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |                 CAST(SUM(CAST(len(words) AS BIGINT)) AS DOUBLE) / count(*) AS avgdl
        |          FROM w),
        |scored AS (
        |  SELECT tf.doc_id,
        |    CAST(round((stats.n_docs - dft.dft + 0.5) / (dft.dft + 0.5)
        |      * (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * tf.dl / stats.avgdl)))
        |      * 1000000.0) AS BIGINT) AS contrib_micro
        |  FROM tf JOIN dft USING (token), stats)
        |, lex AS (SELECT doc_id, CAST(SUM(contrib_micro) AS BIGINT) AS score_micro
        |          FROM scored GROUP BY doc_id),
        |lexr AS (SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id) AS INT) AS lex_rank
        |  FROM lex QUALIFY lex_rank <= 100),
        |v AS (SELECT vec_id, i - 1 AS d, CAST(embedding[i] AS DOUBLE) AS x
        |      FROM embeddings, range(1, 65) r(i)),
        |n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM v GROUP BY 1),
        |sc AS (SELECT c.vec_id AS doc_id, sum(q.x * c.x) AS dot
        |       FROM v q JOIN v c ON q.d = c.d AND q.vec_id = 0 AND c.vec_id <> 0
        |       GROUP BY 1),
        |dc AS (SELECT sc.doc_id, sc.dot / (nq.nrm * nc.nrm) AS cosine
        |       FROM sc JOIN n nc ON nc.vec_id = sc.doc_id
        |       CROSS JOIN (SELECT nrm FROM n WHERE vec_id = 0) nq),
        |dr AS (SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY cosine DESC, doc_id) AS INT) AS dense_rank
        |  FROM dc QUALIFY dense_rank <= 100),
        |f AS (SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
        |        COALESCE(l.lex_rank, 0) AS lex_rank,
        |        COALESCE(d.dense_rank, 0) AS dense_rank
        |      FROM lexr l FULL OUTER JOIN dr d ON d.doc_id = l.doc_id)
        |SELECT doc_id, lex_rank, dense_rank,
        |  CAST(CASE WHEN lex_rank > 0 THEN 1000000000 // (60 + lex_rank) ELSE 0 END
        |   + CASE WHEN dense_rank > 0 THEN 1000000000 // (60 + dense_rank) ELSE 0 END
        |   AS BIGINT) AS rrf_score
        |FROM f ORDER BY rrf_score DESC, doc_id LIMIT 20""".stripMargin,

    // bigram counts, left-unigram counts, broadcast vocab scalar — all
    // integer fixed-point, same add-one smoothing
    "quality_lm_score" ->
      """WITH w AS (SELECT doc_id, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |ix AS (SELECT doc_id, words, unnest(range(1, len(words))) AS i FROM w),
        |bi AS (SELECT doc_id, words[i] AS w1, words[i + 1] AS w2 FROM ix),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1),
        |vv AS (SELECT count(DISTINCT token) AS v
        |       FROM (SELECT unnest(words) AS token FROM w)),
        |s AS (SELECT bi.doc_id, (c12.c12 + 1) * 1000000 // (c1.c1 + vv.v) AS p_micro
        |      FROM bi JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vv)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(SUM(p_micro) AS BIGINT) // count(*) AS lm_micro
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // lift arithmetic states the Spark side's exact parenthesization —
    // counts convert to double exactly, ×/÷ are correctly rounded IEEE,
    // so the ranking doubles are bit-identical across engines
    "text_collocations" ->
      """WITH w AS MATERIALIZED (SELECT string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |uni AS MATERIALIZED (SELECT w, count(*) AS c
        |      FROM (SELECT unnest(words) AS w FROM w) GROUP BY 1),
        |nt AS MATERIALIZED (SELECT CAST(sum(c) AS DOUBLE) AS nt FROM uni),
        |ix AS (SELECT words, unnest(range(1, len(words))) AS i FROM w),
        |bi AS MATERIALIZED (SELECT words[i] AS w1, words[i + 1] AS w2 FROM ix),
        |cb AS MATERIALIZED (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
        |nb AS MATERIALIZED (SELECT CAST(sum(c12) AS DOUBLE) AS nb FROM cb),
        |sc AS (SELECT w1, w2, cb.c12,
        |        ((CAST(cb.c12 AS DOUBLE) * nt.nt) * nt.nt) /
        |          ((nb.nb * CAST(c1.c AS DOUBLE)) * CAST(c2.c AS DOUBLE)) AS lift
        |      FROM cb JOIN uni c1 ON cb.w1 = c1.w JOIN uni c2 ON cb.w2 = c2.w
        |      CROSS JOIN nt CROSS JOIN nb
        |      WHERE cb.c12 >= 5)
        |SELECT w1, w2, c12, CAST(round(lift * 1000000.0) AS BIGINT) AS lift_micro
        |FROM sc ORDER BY lift DESC, w1, w2 LIMIT 100""".stripMargin,

    // the per-doc adjacent-word graph + three unrolled rounds of the
    // exact-integer weighted PageRank; top-3 per doc by (pr desc, word)
    "text_textrank" ->
      """WITH w AS MATERIALIZED (SELECT doc_id, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |ix AS (SELECT doc_id, words, unnest(range(1, len(words))) AS i FROM w),
        |bi AS (SELECT doc_id, words[i] AS x0, words[i+1] AS y0 FROM ix WHERE words[i] <> words[i+1]),
        |cp AS MATERIALIZED (SELECT doc_id, least(x0, y0) AS x, greatest(x0, y0) AS y,
        |        CAST(count(*) AS BIGINT) AS w FROM bi GROUP BY 1, 2, 3),
        |ed0 AS (SELECT doc_id, x AS a, y AS b, w FROM cp
        |        UNION ALL SELECT doc_id, y, x, w FROM cp),
        |sw AS (SELECT doc_id, a, CAST(sum(w) AS BIGINT) AS sw FROM ed0 GROUP BY 1, 2),
        |ed AS MATERIALIZED (SELECT ed0.doc_id, ed0.a, ed0.b, ed0.w, sw.sw
        |      FROM ed0 JOIN sw ON ed0.doc_id = sw.doc_id AND ed0.a = sw.a),
        |r0 AS (SELECT DISTINCT doc_id, a AS node, CAST(1000000 AS BIGINT) AS pr FROM ed),
        |r1 AS MATERIALIZED (SELECT ed.doc_id, ed.b AS node,
        |        150000 + CAST(sum((r0.pr * 850 * ed.w) // (1000 * ed.sw)) AS BIGINT) AS pr
        |      FROM ed JOIN r0 ON ed.doc_id = r0.doc_id AND ed.a = r0.node GROUP BY 1, 2),
        |r2 AS MATERIALIZED (SELECT ed.doc_id, ed.b AS node,
        |        150000 + CAST(sum((r1.pr * 850 * ed.w) // (1000 * ed.sw)) AS BIGINT) AS pr
        |      FROM ed JOIN r1 ON ed.doc_id = r1.doc_id AND ed.a = r1.node GROUP BY 1, 2),
        |r3 AS MATERIALIZED (SELECT ed.doc_id, ed.b AS node,
        |        150000 + CAST(sum((r2.pr * 850 * ed.w) // (1000 * ed.sw)) AS BIGINT) AS pr
        |      FROM ed JOIN r2 ON ed.doc_id = r2.doc_id AND ed.a = r2.node GROUP BY 1, 2),
        |t AS (SELECT doc_id, node, pr,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY pr DESC, node) AS rank FROM r3)
        |SELECT doc_id, rank, node AS keyword, pr AS pr_micro
        |FROM t WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    // the length/repetition/stopword signals + the full LM pipeline as
    // CTEs; flags are integer cross-multiplications, reasons a bit sum
    "corpus_quality_gate" ->
      """WITH w AS (SELECT doc_id, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |b AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS n_tokens,
        |        CAST(len(list_filter(words, x -> x = 'the' OR x = 'a' OR x = 'of')) AS BIGINT) AS n_stop
        |      FROM w),
        |g AS (SELECT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS gram
        |      FROM (SELECT w.*, unnest(range(1, len(words) - 1)) AS i FROM w)),
        |gc AS (SELECT doc_id, count(*) AS n_grams, count(DISTINCT gram) AS n_distinct
        |       FROM g GROUP BY 1),
        |ix AS (SELECT doc_id, words, unnest(range(1, len(words))) AS i FROM w),
        |bi AS (SELECT doc_id, words[i] AS w1, words[i + 1] AS w2 FROM ix),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1),
        |vv AS (SELECT count(DISTINCT token) AS v
        |       FROM (SELECT unnest(words) AS token FROM w)),
        |s AS (SELECT bi.doc_id, (c12.c12 + 1) * 1000000 // (c1.c1 + vv.v) AS p_micro
        |      FROM bi JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vv),
        |lm AS (SELECT doc_id, CAST(SUM(p_micro) AS BIGINT) // count(*) AS lm_micro
        |       FROM s GROUP BY doc_id),
        |f AS (SELECT b.doc_id,
        |        (CASE WHEN n_tokens < 20 THEN 1 ELSE 0 END)
        |      + (CASE WHEN coalesce(n_grams - n_distinct, 0) * 1000 > 200 * coalesce(n_grams, 0) THEN 2 ELSE 0 END)
        |      + (CASE WHEN n_stop * 1000 < 30 * n_tokens THEN 4 ELSE 0 END)
        |      + (CASE WHEN coalesce(lm_micro, 0) < 32000 THEN 8 ELSE 0 END) AS reasons
        |      FROM b LEFT JOIN gc USING (doc_id) LEFT JOIN lm USING (doc_id))
        |SELECT doc_id, CAST(reasons AS BIGINT) AS reasons, reasons = 0 AS keep
        |FROM f ORDER BY doc_id""".stripMargin,

    // the gate CTEs verbatim, rolled up per source with integer-div shares
    "corpus_source_report" ->
      """WITH w AS (SELECT doc_id, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |b AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS n_tokens,
        |        CAST(len(list_filter(words, x -> x = 'the' OR x = 'a' OR x = 'of')) AS BIGINT) AS n_stop
        |      FROM w),
        |g AS (SELECT doc_id, words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS gram
        |      FROM (SELECT w.*, unnest(range(1, len(words) - 1)) AS i FROM w)),
        |gc AS (SELECT doc_id, count(*) AS n_grams, count(DISTINCT gram) AS n_distinct
        |       FROM g GROUP BY 1),
        |ix AS (SELECT doc_id, words, unnest(range(1, len(words))) AS i FROM w),
        |bi AS (SELECT doc_id, words[i] AS w1, words[i + 1] AS w2 FROM ix),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1),
        |vv AS (SELECT count(DISTINCT token) AS v
        |       FROM (SELECT unnest(words) AS token FROM w)),
        |s AS (SELECT bi.doc_id, (c12.c12 + 1) * 1000000 // (c1.c1 + vv.v) AS p_micro
        |      FROM bi JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vv),
        |lm AS (SELECT doc_id, CAST(SUM(p_micro) AS BIGINT) // count(*) AS lm_micro
        |       FROM s GROUP BY doc_id),
        |f AS (SELECT b.doc_id, b.n_tokens,
        |        ((CASE WHEN n_tokens < 20 THEN 1 ELSE 0 END)
        |       + (CASE WHEN coalesce(n_grams - n_distinct, 0) * 1000 > 200 * coalesce(n_grams, 0) THEN 2 ELSE 0 END)
        |       + (CASE WHEN n_stop * 1000 < 30 * n_tokens THEN 4 ELSE 0 END)
        |       + (CASE WHEN coalesce(lm_micro, 0) < 32000 THEN 8 ELSE 0 END)) = 0 AS keep
        |      FROM b LEFT JOIN gc USING (doc_id) LEFT JOIN lm USING (doc_id)),
        |j AS (SELECT d.source, f.n_tokens AS tok, f.keep
        |      FROM documents d JOIN f ON d.doc_id = f.doc_id),
        |a AS (SELECT source, count(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS n_tokens,
        |        CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |        CAST(SUM(CASE WHEN keep THEN tok ELSE 0 END) AS BIGINT) AS kept_tokens
        |      FROM j GROUP BY 1),
        |tt AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM a)
        |SELECT source, n_docs, n_tokens, n_kept, kept_tokens,
        |  CAST(n_tokens * 1000 // tt.t AS BIGINT) AS token_share_permille,
        |  CAST(n_kept * 1000 // n_docs AS BIGINT) AS kept_permille
        |FROM a CROSS JOIN tt ORDER BY source""".stripMargin,

    // the planted-page construction verbatim (8-word chunks, modular
    // punctuation/boilerplate markers), then the C4 line predicates and
    // the surviving-line floor; string_agg(... ORDER BY i) replays the
    // line-order reassembly
    "corpus_clean_lines" ->
      """WITH w AS (SELECT doc_id, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |ln AS (SELECT doc_id, i,
        |        (CASE WHEN (doc_id + i) % 13 = 0 THEN 'lorem ipsum ' ELSE '' END)
        |        || (CASE WHEN (doc_id + i) % 7 = 0 THEN 'javascript ' ELSE '' END)
        |        || array_to_string(list_slice(words, i * 8 + 1, i * 8 + 8), ' ')
        |        || (CASE WHEN (doc_id + i) % 11 = 0 THEN ' {x}' ELSE '' END)
        |        || (CASE WHEN (doc_id + i) % 3 <> 0 THEN '.' ELSE '' END) AS line
        |      FROM (SELECT w.*, unnest(range(0, CAST(ceil(len(words) / 8.0) AS BIGINT))) AS i FROM w)),
        |j AS (SELECT doc_id, i, line,
        |        (regexp_matches(line, '[.!?"]\s*$')
        |         AND len(regexp_split_to_array(trim(line), '\s+')) >= 5
        |         AND NOT contains(line, '{')
        |         AND NOT contains(lower(line), 'javascript')
        |         AND NOT contains(lower(line), 'lorem ipsum')) AS keep
        |      FROM ln),
        |a AS (SELECT doc_id, count(*) AS n_lines,
        |        CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |        string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY i) AS clean_text
        |      FROM j GROUP BY 1)
        |SELECT doc_id, n_lines, n_kept, clean_text
        |FROM a WHERE n_kept >= 3 ORDER BY doc_id""".stripMargin,

    // the planted-banner construction as a UNION of line rows (identical
    // (doc_id, line_idx, line) triples to splitting the page string);
    // first-occurrence via row_number per line, ordered reassembly
    "corpus_dedup_lines" ->
      """WITH w AS (SELECT doc_id, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |off AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS o, words FROM w),
        |ln AS (SELECT doc_id, 0 AS line_idx, 'subscribe to our newsletter for updates' AS line
        |       FROM off WHERE o = 1
        |       UNION ALL
        |       SELECT doc_id, i + o AS line_idx,
        |         array_to_string(list_slice(words, i * 8 + 1, i * 8 + 8), ' ') AS line
        |       FROM (SELECT off.*, unnest(range(0, CAST(ceil(len(words) / 8.0) AS BIGINT))) AS i FROM off)),
        |j AS (SELECT doc_id, line_idx, line,
        |        CASE WHEN row_number() OVER (PARTITION BY line ORDER BY doc_id, line_idx) = 1
        |             THEN 1 ELSE 0 END AS keep
        |      FROM ln)
        |SELECT doc_id, count(*) AS n_lines, CAST(sum(keep) AS BIGINT) AS n_kept,
        |  coalesce(string_agg(CASE WHEN keep = 1 THEN line END, chr(10) ORDER BY line_idx), '') AS clean_text
        |FROM j GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "text_lexical_diversity" ->
      """WITH w AS (SELECT doc_id, string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words FROM documents),
        |tok AS (SELECT doc_id, unnest(words) AS token FROM w),
        |c AS (SELECT doc_id, token, count(*) AS cnt FROM tok GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens, count(*) AS n_types,
        |  CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |  count(*) * 1000 // CAST(SUM(cnt) AS BIGINT) AS ttr_permille,
        |  CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000 // count(*) AS hapax_permille
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "multimodal_meta" ->
      """SELECT event_type AS kind, count(*) AS n,
        |  CAST(sum(octet_length(CAST(props AS BLOB))) AS BIGINT) AS total_bytes,
        |  min(octet_length(CAST(props AS BLOB))) AS min_bytes,
        |  max(octet_length(CAST(props AS BLOB))) AS max_bytes
        |FROM events GROUP BY 1 ORDER BY kind""".stripMargin,

    // char splitting agrees per BMP character (Spark regex split vs
    // DuckDB string_split('')); Gini is pure integer // on non-negatives
    "quality_char_gini" ->
      """WITH t AS (SELECT doc_id,
        |    regexp_replace(lower(text), '\s+', ' ', 'g') AS txt FROM documents),
        |c AS (SELECT doc_id, unnest(string_split(txt, '')) AS ch FROM t
        |      WHERE length(txt) > 0),
        |n AS (SELECT doc_id, COUNT(*) AS n FROM c GROUP BY 1),
        |q AS (SELECT doc_id, CAST(SUM(cnt * cnt) AS BIGINT) AS ssq
        |      FROM (SELECT doc_id, ch, COUNT(*) AS cnt FROM c GROUP BY 1, 2)
        |      GROUP BY 1)
        |SELECT n.doc_id, n.n, q.ssq,
        |  (n.n * n.n - q.ssq) * 1000000 // (n.n * n.n) AS gini_micro
        |FROM n JOIN q USING (doc_id) WHERE n.n > 0 ORDER BY doc_id""".stripMargin,

    // the perceptron rounds unrolled as CTEs: zero init, exact-integer
    // margins, misclassified-gradient aggregate, truncating-division step
    "quality_classifier_train" -> perceptronTrajectorySql(),

    // one more margin pass against the final weights; the integer margin
    // ships as decision evidence
    "quality_classifier_score" ->
      perceptronOracle(
        """SELECT doc_id, margin,
          |  CASE WHEN margin > 0 THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS pred,
          |  y FROM __AF__ ORDER BY doc_id""".stripMargin),

    // the scoring pass cut into margin-ordered ntiles; lift is the
    // ratio of truncated permilles, long-safe at any count
    "quality_classifier_lift" ->
      perceptronOracle(
        """,d AS (SELECT doc_id, margin, y,
          |  ntile(10) OVER (ORDER BY margin DESC, doc_id) AS decile FROM __AF__),
          |sdec AS (SELECT decile, count(*) AS n,
          |    CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
          |    MIN(margin) AS margin_lo, MAX(margin) AS margin_hi
          |  FROM d GROUP BY 1),
          |t AS (SELECT *, CAST(SUM(n) OVER () AS BIGINT) AS n_tot,
          |    CAST(SUM(n_pos) OVER () AS BIGINT) AS pos_tot FROM sdec)
          |SELECT CAST(decile AS BIGINT) AS decile, n, n_pos,
          |  (1000 * n_pos) // n AS pos_rate_permille,
          |  CASE WHEN (1000 * pos_tot) // n_tot > 0
          |    THEN (1000 * ((1000 * n_pos) // n)) // ((1000 * pos_tot) // n_tot)
          |  END AS lift_permille,
          |  margin_lo, margin_hi
          |FROM t ORDER BY decile""".stripMargin),

    // the same PAV max-min lattice as quality_calibration, folded into
    // the Brier/ECE epilogue — micro² products in HUGEINT, truncating
    // final divisions
    "quality_brier" ->
      perceptronOracle(
        """,d AS (SELECT doc_id, margin, y,
          |    ntile(10) OVER (ORDER BY margin, doc_id) AS decile FROM __AF__),
          |bins AS (SELECT decile, count(*) AS n,
          |    CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS p
          |  FROM d GROUP BY 1),
          |cum AS (SELECT decile, n, p,
          |    CAST(SUM(p) OVER (ORDER BY decile) AS BIGINT) AS cp,
          |    CAST(SUM(n) OVER (ORDER BY decile) AS BIGINT) AS cn FROM bins),
          |rng AS (SELECT j.decile AS j, j.n AS n_j, j.p AS p_j, i.decile AS i,
          |    (1000000 * (k.cp - (i.cp - i.p))) // (k.cn - (i.cn - i.n)) AS v
          |  FROM cum j JOIN cum i ON i.decile <= j.decile
          |  JOIN cum k ON k.decile >= j.decile),
          |mn AS (SELECT j, n_j, p_j, i, MIN(v) AS mn FROM rng GROUP BY 1, 2, 3, 4),
          |cal AS (SELECT j, n_j AS n, p_j AS n_pos,
          |    (1000000 * p_j) // n_j AS raw_micro,
          |    CAST(MAX(mn) AS BIGINT) AS fitted_micro
          |  FROM mn GROUP BY 1, 2, 3)
          |SELECT CAST(SUM(n) AS BIGINT) AS n,
          |  CASE WHEN SUM(n) > 0 THEN
          |    CAST(SUM(n_pos * (1000000 - fitted_micro) * (1000000 - fitted_micro)
          |        + (n - n_pos) * fitted_micro * fitted_micro)
          |      // (SUM(n) * 1000000) AS BIGINT) END AS brier_micro,
          |  CASE WHEN SUM(n) > 0 THEN
          |    CAST(SUM(n * abs(raw_micro - fitted_micro)) // SUM(n) AS BIGINT) END
          |    AS ece_micro
          |FROM cal""".stripMargin),

    // descending cumulative TP/FP per distinct margin; the 1-row totals
    // cross matches the Spark broadcast
    "quality_roc" ->
      perceptronOracle(
        """,gm AS (SELECT margin, CAST(count(*) AS BIGINT) AS nm,
          |    CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS p
          |  FROM __AF__ GROUP BY 1),
          |gq AS (SELECT margin, nm, p, nm - p AS q FROM gm),
          |c AS (SELECT margin, nm, p, q,
          |    CAST(SUM(p) OVER (ORDER BY margin DESC
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
          |    CAST(SUM(q) OVER (ORDER BY margin DESC
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp
          |  FROM gq),
          |t AS (SELECT CAST(SUM(p) AS BIGINT) AS pp, CAST(SUM(q) AS BIGINT) AS nn
          |      FROM gq)
          |SELECT margin, tp, fp,
          |  CASE WHEN pp > 0 THEN (1000000 * tp) // pp END AS tpr_micro,
          |  CASE WHEN nn > 0 THEN (1000000 * fp) // nn END AS fpr_micro
          |FROM c, t ORDER BY margin""".stripMargin),

    // the same descending cumulative counts, read as precision/recall
    "quality_pr" ->
      perceptronOracle(
        """,gm AS (SELECT margin, CAST(count(*) AS BIGINT) AS nm,
          |    CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS p
          |  FROM __AF__ GROUP BY 1),
          |gq AS (SELECT margin, nm, p, nm - p AS q FROM gm),
          |c AS (SELECT margin, p, q,
          |    CAST(SUM(p) OVER (ORDER BY margin DESC
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
          |    CAST(SUM(q) OVER (ORDER BY margin DESC
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp
          |  FROM gq),
          |t AS (SELECT CAST(SUM(p) AS BIGINT) AS pp FROM gq)
          |SELECT margin, tp, fp,
          |  CASE WHEN tp + fp > 0 THEN (1000000 * tp) // (tp + fp) END
          |    AS precision_micro,
          |  CASE WHEN pp > 0 THEN (1000000 * tp) // pp END AS recall_micro
          |FROM c, t ORDER BY margin""".stripMargin),

    // tie-aware Mann–Whitney AUC: per-distinct-margin (pos, neg) counts,
    // the strictly-below negative prefix, and the doubled-integer
    // numerator with per-row products ALSO in HUGEINT (DuckDB only
    // widens the SUM accumulator on its own — a bare 2*nb*p row product
    // would error past int64 where Spark's decimal widening proceeds)
    "quality_auc" ->
      perceptronOracle(
        """,gm AS (SELECT margin, CAST(count(*) AS BIGINT) AS n,
          |    CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS p
          |  FROM __AF__ GROUP BY 1),
          |cq AS (SELECT margin, n, p, n - p AS q,
          |    CAST(COALESCE(SUM(n - p) OVER (ORDER BY margin
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS nb
          |  FROM gm),
          |t AS (SELECT CAST(SUM(p) AS BIGINT) AS pp, CAST(SUM(q) AS BIGINT) AS nn,
          |    SUM(2 * CAST(nb AS HUGEINT) * p + CAST(p AS HUGEINT) * q) AS num2
          |  FROM cq)
          |SELECT pp + nn AS n, pp AS n_pos, nn AS n_neg,
          |  CASE WHEN pp > 0 AND nn > 0
          |    THEN CAST((1000000 * num2)
          |              // (2 * CAST(pp AS HUGEINT) * nn) AS BIGINT) END
          |    AS auc_micro
          |FROM t""".stripMargin),

    // PSI between the even/odd doc_id strata over reference-margin
    // deciles: ntile boundaries, strictly-below binning, add-one
    // smoothed shares, ln-bearing terms rounded to micro immediately
    // (measured 1-ulp JDK/libm divergence — TextAnalysis header note)
    "quality_psi" ->
      perceptronOracle(
        """,sc AS MATERIALIZED (SELECT doc_id, margin, doc_id % 2 = 0 AS is_ref
          |  FROM __AF__),
          |r AS (SELECT margin, doc_id,
          |    ntile(10) OVER (ORDER BY margin, doc_id) AS dec
          |  FROM sc WHERE is_ref),
          |bnd AS MATERIALIZED (SELECT dec,
          |    max(struct_pack(bm := margin, bd := doc_id)) AS hi
          |  FROM r GROUP BY 1 HAVING dec < 10),
          |binned AS (SELECT s.doc_id, s.is_ref,
          |    1 + (SELECT count(*) FROM bnd WHERE (bnd.hi).bm < s.margin
          |         OR ((bnd.hi).bm = s.margin AND (bnd.hi).bd < s.doc_id)) AS bin
          |  FROM sc s),
          |cnt0 AS (SELECT bin,
          |    CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS nref,
          |    CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS ncur
          |  FROM binned GROUP BY 1),
          |cnt AS (SELECT g.range AS bin, COALESCE(nref, 0) AS nref,
          |    COALESCE(ncur, 0) AS ncur
          |  FROM range(1, 11) g LEFT JOIN cnt0 ON g.range = cnt0.bin),
          |tot AS (SELECT CAST(SUM(nref) AS BIGINT) AS tr,
          |    CAST(SUM(ncur) AS BIGINT) AS tc FROM cnt),
          |terms AS (SELECT bin, nref, ncur,
          |    CAST(round(1000000.0 * ((CAST(nref + 1 AS DOUBLE) / CAST(tr + 10 AS DOUBLE)
          |       - CAST(ncur + 1 AS DOUBLE) / CAST(tc + 10 AS DOUBLE))
          |       * ln((CAST(nref + 1 AS DOUBLE) / CAST(tr + 10 AS DOUBLE))
          |          / (CAST(ncur + 1 AS DOUBLE) / CAST(tc + 10 AS DOUBLE)))))
          |      AS BIGINT) AS term_micro
          |  FROM cnt, tot)
          |SELECT CAST(bin AS BIGINT) AS bin, nref, ncur, term_micro,
          |  CAST(SUM(term_micro) OVER () AS BIGINT) AS psi_micro
          |FROM terms ORDER BY bin""".stripMargin),

    // ascending-margin ntiles, then the PAV max-min lattice over the
    // cumulative bin table — micro-floored range averages, integer
    // min/max (floor commutes with both, so this IS floor(1e6*PAV))
    "quality_calibration" ->
      perceptronOracle(
        """,d AS (SELECT doc_id, margin, y,
          |    ntile(10) OVER (ORDER BY margin, doc_id) AS decile FROM __AF__),
          |bins AS (SELECT decile, count(*) AS n,
          |    CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS p
          |  FROM d GROUP BY 1),
          |cum AS (SELECT decile, n, p,
          |    CAST(SUM(p) OVER (ORDER BY decile) AS BIGINT) AS cp,
          |    CAST(SUM(n) OVER (ORDER BY decile) AS BIGINT) AS cn FROM bins),
          |rng AS (SELECT j.decile AS j, j.n AS n_j, j.p AS p_j, i.decile AS i,
          |    (1000000 * (k.cp - (i.cp - i.p))) // (k.cn - (i.cn - i.n)) AS v
          |  FROM cum j JOIN cum i ON i.decile <= j.decile
          |  JOIN cum k ON k.decile >= j.decile),
          |mn AS (SELECT j, n_j, p_j, i, MIN(v) AS mn FROM rng GROUP BY 1, 2, 3, 4)
          |SELECT CAST(j AS BIGINT) AS decile, n_j AS n, p_j AS n_pos,
          |  (1000000 * p_j) // n_j AS raw_micro,
          |  CAST(MAX(mn) AS BIGINT) AS fitted_micro
          |FROM mn GROUP BY 1, 2, 3 ORDER BY decile""".stripMargin),

    // same 52-bit md5 bucket, same add-one integer ratio; // == div on
    // the non-negative counts
    "corpus_dsir_weights" ->
      """WITH w AS (SELECT doc_id, lang = 'en' AS is_target,
        |    string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS words
        |  FROM documents),
        |tok AS (SELECT doc_id, is_target, unnest(words) AS token FROM w),
        |tb AS MATERIALIZED (SELECT doc_id,
        |    ('0x' || substr(md5(token), 1, 13))::BIGINT % 1024 AS b, is_target
        |  FROM tok),
        |bc AS (SELECT b,
        |    CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS ct,
        |    COUNT(*) AS cr
        |  FROM tb GROUP BY 1),
        |d AS (SELECT tb.doc_id, (bc.ct + 1) * 1000000 // (bc.cr + 1) AS w
        |      FROM tb JOIN bc USING (b))
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(w) AS BIGINT) AS imp_micro_sum,
        |  CAST(CAST(SUM(w) AS BIGINT) // COUNT(*) AS BIGINT) AS imp_micro_mean
        |FROM d GROUP BY doc_id ORDER BY doc_id""".stripMargin,
  ))
}
