package perfbench

/** Every metric the benchmark prints. BENCHMARK.json lists the same names;
  * a test keeps the two in step.
  */
final case class MetricDef(name: String, unit: String, better: String)

object Metrics {
  private def lower(n: String, u: String) = MetricDef(n, u, "lower")
  private def higher(n: String, u: String) = MetricDef(n, u, "higher")

  /** Printed by every untraced run, whatever the workload; never zero.
    * Each workload states what its item and its request are.
    */
  val EndToEnd: Seq[MetricDef] = Seq(
    lower("setup_s", "s"),
    higher("ok_rate", "ratio"),
    higher("items_per_s", "1/s"),
    lower("p50_ms", "ms"),
    lower("cpu_ms_per_item", "ms"),
    lower("peak_rss_mb", "MiB"))

  private val queryOps = Seq("find_by_id", "find_by_session", "count", "unique_sessions",
    "find", "sort_limit", "latest_snapshot", "monitor_rates")
  private val curateStages = Seq("exact_dedup", "near_dup_pairs", "components", "dup_spans",
    "quality_gate", "pack")
  /** The graph operators curate runs on its near-duplicate pair graph. */
  private val graphOps = Seq("pagerank", "kcore")
  private val streamingPhases = Seq("latest_offset", "query_planning", "add_batch",
    "wal_commit", "commit_offsets", "trigger")

  /** Printed by every traced run. A layer a workload does not use reads 0. */
  val PerLayer: Seq[MetricDef] = Seq(
    lower("trace.overhead_s", "s"),
    lower("error_rate", "ratio"),
    lower("tail_ms", "ms"),
    higher("tail_pct", "ratio"),
    lower("ingest.commit_p50_ms", "ms"),
    lower("ingest.migrate_p50_ms", "ms"),
    lower("lookup.point_p50_ms", "ms"),
    lower("lookup.scan_p50_ms", "ms"),
    lower("api.load_ms", "ms"),
    lower("sources.decode_ms", "ms"),
    lower("sources.records_skipped", "count")) ++
    streamingPhases.map(p => lower(s"streaming.${p}_ms", "ms")) ++ Seq(
    higher("streaming.batches", "count"),
    lower("store.files", "count"),
    lower("store.bytes", "B"),
    lower("store.session_partitions", "count"),
    lower("store.bytes_per_doc_byte", "ratio"),
    higher("store.migrate_rows_copied", "count"),
    lower("store.migrate_rows_scanned", "count"),
    higher("store.migrate_useful_ratio", "ratio")) ++
    queryOps.map(o => lower(s"store.${o}_ms", "ms")) ++ Seq(
    lower("store.rows_examined_per_row_returned", "ratio"),
    lower("store.files_read_per_point", "count")) ++
    curateStages.map(s => lower(s"ops.${s}_ms", "ms")) ++ Seq(
    higher("ops.near_dup_pairs", "count"),
    lower("ops.components_jobs", "count")) ++
    graphOps.map(o => lower(s"ops.${o}_ms", "ms")) ++ Seq(
    lower("ops.kcore_jobs", "count"),
    lower("ops.cached_mb_peak", "MiB"),
    lower("spark.plan_ms", "ms"),
    lower("spark.jobs", "count"),
    lower("spark.stages", "count"),
    lower("spark.tasks", "count"),
    lower("spark.shuffle_stages", "count"),
    lower("spark.task_wait_ms", "ms"),
    lower("spark.executor_run_ms", "ms"),
    lower("spark.executor_cpu_ms", "ms"),
    lower("spark.shuffle_write_mb", "MiB"),
    lower("spark.shuffle_read_mb", "MiB"),
    lower("spark.shuffle_fetch_wait_ms", "ms"),
    lower("spark.spill_mb", "MiB"),
    lower("spark.scan_mb", "MiB"),
    lower("spark.scan_rows", "count"),
    lower("spark.output_mb", "MiB"),
    lower("spark.output_files", "count"),
    lower("spark.failed_tasks", "count"),
    lower("jvm.gc_ms", "ms"),
    lower("host.stolen_share", "ratio"))

  /** Metric and workload names: a letter or digit, then up to 63 letters,
    * digits, `_`, `.` or `-`.
    */
  def validName(s: String): Boolean = s.matches("[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

  /** Units: up to 16 letters, digits, `_`, `/`, `%`, `.` or `-`. */
  def validUnit(s: String): Boolean = s.matches("[A-Za-z0-9_/%.-]{1,16}")
}
