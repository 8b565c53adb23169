package graft.store

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The document-store query surface: the Spark-native twin of the
  * reference's `MongoStorage` (reference src/topic_store/database.py:33-290)
  * plus the conversion/migration semantics of convert.py.
  *
  * Every operation is a `DataFrame => DataFrame` transform so Catalyst can
  * push filters/projections into the parquet scan, broadcast small sides,
  * and AQE can re-plan shuffles at runtime. Nothing here collects to the
  * driver — at 100 TB each op stays a distributed plan.
  */
object DocumentStore {

  /** Meta columns the reference force-merges into every user projection
    * (database.py:171-191: `_id` and the `_ts_meta` fields) so session
    * metadata stays queryable no matter how narrow the projection.
    */
  val MetaCols: Seq[String] = Seq("_id", "session", "sys_time_sec")

  /** `find(query, projection)` (database.py:196-208): filter + project.
    * Both reach the scan as PushedFilters / ReadSchema. `forceCols` are
    * merged into any non-empty projection (the reference's `_ts_meta`/`_id`
    * forcing) — still a pure projection, so column pruning is unaffected.
    */
  def find(df: DataFrame, predicate: Column, projection: Seq[String] = Nil,
           forceCols: Seq[String] = Nil): DataFrame = {
    val filtered = df.filter(predicate)
    if (projection.isEmpty) filtered
    else {
      val cols = (forceCols.filter(df.columns.contains) ++ projection).distinct
      filtered.select(cols.map(col): _*)
    }
  }

  /** `find` with the reference's always-on meta forcing (database.py:171-191):
    * whatever the user projects, `_id`/`session`/`sys_time_sec` ride along.
    */
  def findWithMeta(df: DataFrame, predicate: Column, projection: Seq[String]): DataFrame =
    find(df, predicate, projection, MetaCols)

  /** `find_by_id` (database.py:233-235): point lookup. On a store opened
    * with `Graft.load` (a parquet path, e.g. a `Monitor.capture` store) the
    * scan reads only the files whose footer min/max range holds `id`
    * ([[SkippingFileIndex]]): footers are read once per store, in one
    * parallel job, and cached by (path, length, mtime). A store whose files
    * each hold a narrow id range — capture output, where every session
    * lands in its own file — answers from one file. `idCol` must be an
    * integral column; on any other DataFrame (a catalog table, a
    * `.topic_store` log) this is a plain filter, and parquet still skips
    * row groups inside each file it opens.
    */
  def findById(df: DataFrame, idCol: String, id: Long): DataFrame =
    df.filter(col(idCol) === id)

  /** `find_by_session_id` (database.py:237-240). Session-partitioned
    * storage (`Monitor.capture` writes `session=` directories) turns this
    * into partition pruning: Spark lists only that session's directory and
    * no footer is read. On a store where the session is a data column, the
    * same file skipping as [[findById]] applies.
    */
  def findBySession(df: DataFrame, sessionCol: String, session: Long): DataFrame =
    df.filter(col(sessionCol) === session)

  /** `count(query)` (database.py:221-231) — exact count; Spark reads only
    * parquet row-group metadata when no predicate survives.
    */
  def countDocuments(df: DataFrame, predicate: Option[Column] = None): DataFrame =
    predicate.fold(df)(df.filter).agg(count(lit(1)).as("n"))

  /** `collection.distinct("_ts_meta.session")` (database.py:262-267). */
  def distinctSessions(df: DataFrame, sessionCol: String): DataFrame =
    df.select(sessionCol).distinct()

  /** `get_unique_sessions` (database.py:242-267): per-session doc count and
    * first/last time. One hash-aggregate with map-side partials — no
    * per-session `count_documents` round trips like the reference.
    */
  def uniqueSessions(df: DataFrame, sessionCol: String, tsCol: String): DataFrame =
    df.groupBy(col(sessionCol).as("session"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col(tsCol)).cast("long").as("first_ts_sec"),
        max(col(tsCol)).cast("long").as("last_ts_sec"))

  /** Cursor `.sort(...).limit(n)` paging. Spark plans a TakeOrderedAndProject
    * — per-partition top-n then a single merge, no full sort at scale.
    */
  def sortLimit(df: DataFrame, sort: Seq[Column], n: Int): DataFrame =
    df.orderBy(sort: _*).limit(n)

  /** `update_one_by_id` / `$set` (database.py:166-171) as copy-on-write:
    * returns the collection view with `set` applied to the matched row.
    * At scale this is the merge-on-read pattern — rewrite only matched
    * files when persisted.
    */
  def updateById(df: DataFrame, idCol: String, id: Long, set: Map[String, Column]): DataFrame =
    set.foldLeft(df) { case (d, (name, value)) =>
      d.withColumn(name, when(col(idCol) === id, value).otherwise(col(name)))
    }

  /** Generic `update_one(query, update)` / `update_many` (database.py:162-165)
    * — the same CASE-WHEN copy-on-write as `updateById` but for an
    * arbitrary predicate: every matching row gets `set` applied.
    */
  def updateWhere(df: DataFrame, predicate: Column, set: Map[String, Column]): DataFrame =
    set.foldLeft(df) { case (d, (name, value)) =>
      d.withColumn(name, when(predicate, value).otherwise(col(name)))
    }

  /** `update_one` first-match semantics (database.py:162-165): only the
    * first matching document is updated. "First" is made deterministic at
    * scale as the minimum id among matches (Mongo's cursor order is
    * unspecified; a distributed engine needs a total order). One scalar
    * aggregate broadcast into the CASE-WHEN — no driver round-trip.
    */
  def updateFirst(df: DataFrame, idCol: String, predicate: Column,
                  set: Map[String, Column]): DataFrame = {
    val first = df.filter(predicate).agg(min(col(idCol)).as("__first_id"))
    val joined = df.crossJoin(broadcast(first))
    set.foldLeft(joined) { case (d, (name, value)) =>
      d.withColumn(name, when(col(idCol) === col("__first_id"), value).otherwise(col(name)))
    }.drop("__first_id")
  }

  /** `delete_by_id` (database.py:269-279) as an anti-filter view. */
  def deleteById(df: DataFrame, idCol: String, id: Long): DataFrame =
    df.filter(col(idCol) =!= id)

  /** `delete_many(query)`: drop every row matching the predicate. Rows
    * where the predicate is NULL are treated as non-matching (kept) —
    * the same as SQL `WHERE NOT (pred)` three-valued logic on both
    * engines.
    */
  def deleteWhere(df: DataFrame, predicate: Column): DataFrame =
    df.filter(!coalesce(predicate, lit(false)))

  /** `delete_by_id` with the GridFS cascade (database.py:268-279 +
    * `__delete_gridfs_docs`): deleting a file document also deletes its
    * chunk rows, so no orphaned `(files_id, n)` rows survive. Generic
    * predicate form: deleted ids ANTI-join the chunk table — no
    * driver-side id list, works for any match count.
    * Returns (remaining files, remaining chunks).
    */
  def deleteCascade(files: DataFrame, chunks: DataFrame, idCol: String,
                    predicate: Column): (DataFrame, DataFrame) = {
    val deleted = files.filter(predicate).select(col(idCol).as("files_id"))
    (files.filter(!coalesce(predicate, lit(false))),
      chunks.join(deleted, Seq("files_id"), "left_anti"))
  }

  /** `insert_one` (database.py:148-164) as union-append; `unionByName` keeps
    * schema alignment explicit.
    */
  def insert(df: DataFrame, docs: DataFrame): DataFrame =
    df.unionByName(docs, allowMissingColumns = false)

  /** Batch merge/upsert (the reference's per-document
    * `update_one(..., upsert=True)` loop, database.py:166-170, as ONE set
    * operation): batch rows replace same-id store rows, new ids append,
    * untouched store rows pass through. One anti-join on the id — at
    * scale the increment is the small side, so the join broadcasts and
    * the store is never shuffled; pairs with Layout's partitioned writes
    * for the rewrite-only-touched-partitions storage step.
    */
  def upsertBatch(df: DataFrame, batch: DataFrame, idColName: String): DataFrame =
    df.join(batch.select(col(idColName)), Seq(idColName), "left_anti")
      .unionByName(batch)

  /** [[upsertBatch]] under the SURVEY §3 schema-drift contract
    * ([[graft.model.Documents.mergedSchema]]): a batch that grew a new
    * (possibly nested) field or widened a numeric upserts cleanly — both
    * sides are projected onto the merged schema (NULL backfill, widening
    * casts) before the same anti-join ∪ union; incompatible drift throws
    * with the field path. The store side's projection is a no-op select
    * when nothing drifted, so the non-drift fast path costs nothing.
    */
  def upsertBatchAligned(df: DataFrame, batch: DataFrame,
                         idColName: String): DataFrame = {
    val m = graft.model.Documents.mergedSchema(df.schema, batch.schema)
    upsertBatch(graft.model.Documents.alignTo(df, m),
      graft.model.Documents.alignTo(batch, m), idColName)
  }

  /** `$unwind`: explode an array column to one row per element. */
  def unwind(df: DataFrame, arrayCol: Column, as: String): DataFrame =
    df.withColumn(as, explode(arrayCol))

  /** `$lookup`: join against a (small) foreign collection. Dimension side is
    * broadcast — no shuffle of the 100 TB fact side.
    */
  def lookup(df: DataFrame, other: DataFrame, joinExpr: Column): DataFrame =
    df.join(broadcast(other), joinExpr)

  /** GridFS chunking (database.py:118-146): split a payload into fixed-size
    * chunks keyed `(files_id, n)` — the same layout GridFS uses so a 16 MB+
    * blob never sits in one row. `sequence`+`explode` stays inside
    * whole-stage codegen.
    */
  def chunk(df: DataFrame, idCol: Column, payloadCol: Column, chunkSize: Int): DataFrame =
    df.select(
        idCol.as("files_id"),
        explode(sequence(lit(0), ((length(payloadCol) - 1) / chunkSize).cast("int"))).as("n"),
        payloadCol.as("__payload"))
      .select(
        col("files_id"), col("n"),
        substring_index_chunk(col("__payload"), col("n"), chunkSize).as("data"))

  private def substring_index_chunk(payload: Column, n: Column, chunkSize: Int): Column =
    payload.substr(n * chunkSize + 1, lit(chunkSize))

  /** GridFS reassembly: group chunks ordered by `n` back into the payload.
    *
    * A reassembled payload materializes in ONE aggregation row, so the op
    * is bounded by max blob size. `maxPayloadBytes` (default 256 MB — 16×
    * GridFS's 16 MB convention) enforces that bound BEFORE the expensive
    * collect: a cheap map-side-partial sum of chunk lengths per file
    * semi-joins away oversized files, so a pathological blob never reaches
    * the list aggregation. Pass None to disable (caller asserts bounds).
    */
  def reassemble(chunks: DataFrame,
                 maxPayloadBytes: Option[Long] = Some(256L << 20)): DataFrame = {
    val bounded = maxPayloadBytes match {
      case None => chunks
      case Some(limit) =>
        val ok = chunks.groupBy("files_id")
          .agg(sum(length(col("data")).cast("long")).as("__bytes"))
          .filter(col("__bytes") <= limit)
          .select("files_id")
        chunks.join(ok, Seq("files_id"), "left_semi")
    }
    bounded.groupBy("files_id")
      .agg(array_join(array_sort(collect_list(struct(col("n"), col("data"))))
        .getField("data"), "").as("payload"))
  }

  /** [[reassemble]] for BINARY chunk payloads — GridFS stores bytes, not
    * text (database.py:118-146), and `array_join` is string-only. The
    * ordered fold concatenates byte arrays; same pre-aggregation size
    * guard. `chunk` itself already handles binary payloads (`substr` and
    * `length` operate on bytes for BinaryType).
    */
  def reassembleBinary(chunks: DataFrame,
                       maxPayloadBytes: Option[Long] = Some(256L << 20)): DataFrame = {
    val bounded = maxPayloadBytes match {
      case None => chunks
      case Some(limit) =>
        val ok = chunks.groupBy("files_id")
          .agg(sum(length(col("data")).cast("long")).as("__bytes"))
          .filter(col("__bytes") <= limit)
          .select("files_id")
        chunks.join(ok, Seq("files_id"), "left_semi")
    }
    bounded.groupBy("files_id")
      .agg(expr(
        "aggregate(array_sort(collect_list(struct(n, data))), cast('' as binary), (acc, x) -> concat(acc, x.data))")
        .as("payload"))
  }

  /** Estimated document count (database.py:221-231, `estimate=True` →
    * Mongo's `estimated_document_count`, which reads collection metadata
    * instead of scanning). The parquet analog: sum row counts from file
    * footers — metadata-only, no column data read. The files are those
    * Spark's own index lists, so a `Monitor.capture` store counts only the
    * files its sink log committed (never the log itself, never an orphan
    * left by a failed batch). Footer reads are distributed over the
    * executors (a 100 TB table has ~10^5 files; the driver only lists
    * them). A path that does not exist or holds no data counts 0.
    */
  def countEstimate(spark: org.apache.spark.sql.SparkSession, path: String): Long =
    FooterStats.rowCount(spark, FooterStats.readIfPresent(spark, path).toSeq
      .flatMap(_.inputFiles).map(uri => new org.apache.hadoop.fs.Path(new java.net.URI(uri)).toString))

  /** Incremental clone (`mongodb_to_mongodb_clone_fast`,
    * convert.py:136-186): copy only documents whose id is absent from the
    * target — a LEFT ANTI join on the key, instead of the reference's
    * driver-side `set` of every existing id (which cannot hold 100 TB of
    * ids in memory).
    */
  def cloneMissing(src: DataFrame, dst: DataFrame, key: String): DataFrame =
    src.join(dst.select(key), Seq(key), "left_anti")

  /** `ScenarioMonitor` rates (reference src/topic_store/scenario.py:238-274):
    * per-topic message rate and payload bytes per tumbling window. The
    * streaming twin lives in graft.streaming.Monitor; this batch form is the
    * same aggregation.
    */
  def monitorRates(df: DataFrame, topicCol: Column, tsCol: Column, payloadCol: Column,
                   windowUnit: String = "hour"): DataFrame = {
    val winSeconds = windowUnit match {
      case "minute" => 60L
      case "hour"   => 3600L
      case "day"    => 86400L
    }
    df.groupBy(
        topicCol.as("topic"),
        date_trunc(windowUnit, tsCol).cast("long").as("window_start_sec"))
      .agg(
        count(lit(1)).as("n_msgs"),
        sum(length(payloadCol)).as("payload_bytes"))
      .withColumn("rate_hz", col("n_msgs") / lit(winSeconds).cast("double"))
  }

  /** Hopping (sliding) window rates: each event lands in len/slide
    * overlapping windows. Implemented via Spark's native `window()`
    * expression; the oracle reproduces the same window-start arithmetic
    * with integer math. O(len/slide) row amplification — bounded fan-out,
    * not a self-join.
    */
  def monitorRatesHopping(df: DataFrame, topicCol: Column, tsCol: Column,
                          lenSec: Long, slideSec: Long): DataFrame =
    df.groupBy(
        topicCol.as("topic"),
        window(tsCol, s"$lenSec seconds", s"$slideSec seconds"))
      .agg(count(lit(1)).as("n_msgs"))
      .select(col("topic"), col("window.start").cast("long").as("window_start_sec"),
        col("n_msgs"))

  /** Skip-on-error cursor (database.py:292-325): try-parse the payload,
    * drop rows that fail instead of failing the scan.
    */
  def skipOnError(df: DataFrame, parsed: Column, as: String): DataFrame =
    df.withColumn(as, parsed).filter(col(as).isNotNull)

  /** Latest-message-per-topic snapshot — the Spark twin of
    * `SubscriberTree.get_message_tree` (reference src/topic_store/store.py:64-84),
    * which captures the most recent message of every subscribed topic.
    * Windowed rank-1 plans as a per-partition top-1 (no full sort).
    */
  def latestSnapshot(df: DataFrame, topicCol: Column, tsSecCol: Column, idCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(topicCol).orderBy(tsSecCol.desc, idCol.desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Backward as-of join: for every left row, the single latest right row
    * with `rightTime <= leftTime` within the same key (the "document
    * nearest in time" lookup event data constantly needs; DuckDB ships it
    * as ASOF JOIN, Spark has no public operator).
    *
    * Spark-first composition instead of a custom SparkPlan: tag both
    * sides, union, and take `last(right payload, ignoreNulls)` over a
    * (key, time, side)-ordered running window. ONE shuffle on the key —
    * same cost shape as a sort-merge join — where the naive inequality
    * join would plan a nested-loop cross product. Right side must be
    * unique per (key, time); ties at equal time match (<= semantics).
    *
    * Output: all left columns + `asofCols` from the right (null when no
    * right row precedes the left row).
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, time: String,
               asofCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val leftCols = left.columns.toSeq
    val lTagged = left
      .withColumn("__side", lit(1))
      .select(Seq(col(key), col(time), col("__side")) ++
        leftCols.filterNot(c => c == key || c == time).map(col) ++
        asofCols.map(c => lit(null).cast(right.schema(c).dataType).as(s"__r_$c")): _*)
    val rTagged = right
      .withColumn("__side", lit(0))
      .select(Seq(col(key), col(time), col("__side")) ++
        leftCols.filterNot(c => c == key || c == time)
          .map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        asofCols.map(c => col(c).as(s"__r_$c")): _*)
    // side 0 sorts before side 1: a right row at time t serves left rows at t
    val w = Window.partitionBy(col(key)).orderBy(col(time), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = asofCols.foldLeft(lTagged.unionByName(rTagged)) { (df, c) =>
      df.withColumn(s"__f_$c", last(col(s"__r_$c"), ignoreNulls = true).over(w))
    }
    filled.filter(col("__side") === 1)
      .select(leftCols.map(col) ++
        asofCols.map(c => col(s"__f_$c").as(s"asof_$c")): _*)
  }

  /** Backward as-of join with a staleness bound (pandas/polars
    * `merge_asof(tolerance=...)`): the most recent right row still
    * matches ONLY if it is within `toleranceSec` of the left row —
    * otherwise the as-of columns are null. The sensor-fusion guard for
    * the reference's capture domain: a pose older than the tolerance
    * must not be fused with a camera frame just because nothing newer
    * exists. Same single-sort union-window plan as [[asofJoin]] (no
    * join, no range explosion — one window over (key, time, side)); the
    * matched right TIMESTAMP rides the same forward-fill so staleness is
    * one row-local comparison at the end.
    */
  def asofJoinTolerance(left: DataFrame, right: DataFrame, key: String,
                        time: String, asofCols: Seq[String],
                        toleranceSec: Long): DataFrame = {
    require(toleranceSec >= 0, "tolerance must be non-negative")
    import org.apache.spark.sql.expressions.Window
    val leftCols = left.columns.toSeq
    val lTagged = left
      .withColumn("__side", lit(1))
      .select(Seq(col(key), col(time), col("__side")) ++
        leftCols.filterNot(c => c == key || c == time).map(col) ++
        (asofCols.map(c => lit(null).cast(right.schema(c).dataType).as(s"__r_$c")) :+
          lit(null).cast(right.schema(time).dataType).as("__r__t")): _*)
    val rTagged = right
      .withColumn("__side", lit(0))
      .select(Seq(col(key), col(time), col("__side")) ++
        leftCols.filterNot(c => c == key || c == time)
          .map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        (asofCols.map(c => col(c).as(s"__r_$c")) :+ col(time).as("__r__t")): _*)
    val w = Window.partitionBy(col(key)).orderBy(col(time), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = (asofCols :+ "_t").foldLeft(lTagged.unionByName(rTagged)) { (df, c) =>
      df.withColumn(s"__f_$c", last(col(s"__r_$c"), ignoreNulls = true).over(w))
    }
    filled.filter(col("__side") === 1)
      .select(leftCols.map(col) ++
        asofCols.map(c => when(col(time) - col("__f__t") <= toleranceSec,
          col(s"__f_$c")).as(s"asof_$c")): _*)
  }

  /** Interval-overlap SELF-join: all pairs of intervals that intersect
    * in time (concurrent sessions, overlapping captures) — the
    * interval×interval sibling of the point-in-interval range join
    * (#23b). Both intervals explode to their covered time bins and meet
    * in an EQUALITY join on the bin; the exact overlap predicate runs as
    * a residual. The pair-dedup that bin joins normally need (an
    * interval pair can share many bins) costs NOTHING here: the
    * RESPONSIBILITY condition `bin == greatest(lo1,lo2) div binSec`
    * accepts each qualifying pair at exactly one bin — the one where the
    * later interval starts — so there is no distinct pass and the
    * shuffle is O(Σ interval-bins) in, O(pairs) out. Size `binSec` near
    * the typical interval length (bins/interval stays O(1)); a bin with
    * k concurrent intervals contributes k² candidate rows — the
    * irreducible overlap-join hot spot, an equality key AQE can
    * skew-split. Input needs (id, lo, hi); emits id1 < id2 with the
    * overlap window.
    */
  def intervalOverlaps(iv: DataFrame, binSec: Long,
                       cache: Boolean = true): DataFrame = {
    require(binSec > 0)
    // both self-join sides consume the binned table; without a persist
    // the (possibly expensive) upstream plan — e.g. a sessionize window
    // over the raw events — executes twice. O(Σ interval-bins) rows,
    // releasable via Dedup.unpersistShared.
    val b = graft.ops.OpCache.share(
      iv.select(col("id"), col("lo"), col("hi"),
        explode(sequence(expr(s"lo div ${binSec}L"), expr(s"hi div ${binSec}L")))
          .as("bin")),
      cache)
    b.as("x").join(b.as("y"),
        col("x.bin") === col("y.bin") &&
          col("x.id") < col("y.id") &&
          col("x.lo") <= col("y.hi") && col("y.lo") <= col("x.hi") &&
          col("x.bin") === expr(s"greatest(x.lo, y.lo) div ${binSec}L"))
      .select(col("x.id").as("id1"), col("y.id").as("id2"),
        greatest(col("x.lo"), col("y.lo")).as("ov_lo"),
        least(col("x.hi"), col("y.hi")).as("ov_hi"))
  }

  /** One-pass column profiler (collection profiling — the grown-up
    * version of the reference's `get_unique_sessions` summary, for every
    * column at once): per column, total rows, nulls, exact distinct
    * count, and the modal value with its count. The table melts to
    * (col_name, val) pairs map-side via `stack` (no self-union of
    * per-column scans — ONE pass over the data), then one
    * map-side-combined groupBy(col, val) whose shuffle carries
    * O(distinct values) rows, then a tiny per-column rollup. The modal
    * value is max(struct(cnt, val)) — highest count, ties to the larger
    * value string, so the profile is deterministic at any parallelism.
    * Values compare as strings (profiling semantics, like the reference's
    * session summary); a high-cardinality column costs its distinct
    * count in shuffle, never a second scan.
    */
  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    val stackArgs = cols.map(c => s"'$c', cast(`$c` as string)").mkString(", ")
    val melted = df.select(
      expr(s"stack(${cols.size}, $stackArgs) as (col_name, val)"))
    melted.groupBy(col("col_name"), col("val"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("col_name"))
      .agg(sum(col("cnt")).as("n"),
        sum(when(col("val").isNull, col("cnt")).otherwise(0L)).as("n_null"),
        count(when(col("val").isNotNull, lit(1))).as("n_distinct"),
        max(when(col("val").isNotNull, struct(col("cnt"), col("val")))).as("top"))
      .select(col("col_name"), col("n"), col("n_null"), col("n_distinct"),
        col("top.cnt").as("top_count"), col("top.val").as("top_value"))
      .orderBy(col("col_name"))
  }

  /** FORWARD as-of join — each left row takes the EARLIEST right row at
    * or after its time (the mirror of [[asofJoin]]'s latest-at-or-before):
    * "what happened next" semantics — next fill after an order, next
    * error after a deploy, next purchase after a click. Same union +
    * running-window composition, reflected: left sorts before right at
    * equal times (>= inclusive) and the fill is `first(ignoreNulls)` over
    * the FOLLOWING frame. Still ONE shuffle on the key; Spark evaluates
    * a following-frame window by buffering only until the first non-null
    * right row resolves, and the naive inequality join would again plan a
    * per-key cross product. Right side unique per (key, time).
    */
  def asofJoinForward(left: DataFrame, right: DataFrame, key: String, time: String,
                      asofCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val leftCols = left.columns.toSeq
    val lTagged = left
      .withColumn("__side", lit(0))
      .select(Seq(col(key), col(time), col("__side")) ++
        leftCols.filterNot(c => c == key || c == time).map(col) ++
        asofCols.map(c => lit(null).cast(right.schema(c).dataType).as(s"__r_$c")): _*)
    val rTagged = right
      .withColumn("__side", lit(1))
      .select(Seq(col(key), col(time), col("__side")) ++
        leftCols.filterNot(c => c == key || c == time)
          .map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        asofCols.map(c => col(c).as(s"__r_$c")): _*)
    // left side 0 sorts before right side 1: a right row at time t
    // serves left rows at t (>= inclusive)
    val w = Window.partitionBy(col(key)).orderBy(col(time), col("__side"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val filled = asofCols.foldLeft(lTagged.unionByName(rTagged)) { (df, c) =>
      df.withColumn(s"__f_$c", first(col(s"__r_$c"), ignoreNulls = true).over(w))
    }
    filled.filter(col("__side") === 0)
      .select(leftCols.map(col) ++
        asofCols.map(c => col(s"__f_$c").as(s"asof_$c")): _*)
  }

  /** Nearest-in-time join: each left row takes the right row minimizing
    * |t_left − t_right| per key — the sensor-fusion matcher (pair a
    * camera frame with the CLOSEST lidar scan, not merely the last one;
    * reference analogue: composing a `SubscriberTree` snapshot from
    * topics ticking at different rates, scenario.py:30-137). Composed
    * from the backward ([[asofJoin]]) and forward ([[asofJoinForward]])
    * passes — the right's own timestamp rides along as an extra as-of
    * column so the final pick is one codegen'd comparison; backward wins
    * exact-tie distances (deterministic). Output adds `asof_dt` =
    * unsigned distance (null when the key has no right rows at all).
    *
    * Scale shape: exactly two key-partitioned window passes (the two
    * as-of contracts) + a map-side projection — still no inequality
    * join, still nothing per-key-quadratic.
    */
  def asofJoinNearest(left: DataFrame, right: DataFrame, key: String,
                      time: String, asofCols: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    val rt = right.withColumn("__rt", col(time))
    val cols = asofCols :+ "__rt"
    val back = asofJoin(left, rt, key, time, cols)
      .withColumnsRenamed(cols.map(c => s"asof_$c" -> s"__b_$c").toMap)
    val both = asofJoinForward(back, rt, key, time, cols)
      .withColumnsRenamed(cols.map(c => s"asof_$c" -> s"__f_$c").toMap)
    val bdt = col(time) - col("__b___rt")
    val fdt = col("__f___rt") - col(time)
    val pickBack = col("__b___rt").isNotNull &&
      (col("__f___rt").isNull || bdt <= fdt)
    both.select(leftCols.map(col) ++
      asofCols.map(c =>
        when(pickBack, col(s"__b_$c")).otherwise(col(s"__f_$c")).as(s"asof_$c")) :+
      when(pickBack, bdt).otherwise(fdt).as("asof_dt"): _*)
  }

  /** The as-of join on the custom PHYSICAL operator
    * (graft.plans.AsofJoinExec — LogicalPlan + SparkStrategy + SparkPlan,
    * tier (c) of the extension ladder): both sides hash-clustered on the
    * key, sorted by (key, time), then one streaming merge pass per
    * partition pair — no union materialization, no window state, right
    * rows consumed once. Same contract and row-identical output to
    * [[asofJoin]] (the composition stays as the oracle baseline).
    * Key and time must be non-null integral columns.
    *
    * Trade-off, measured honestly: on unorganized inputs the composition
    * is FASTER (it shuffles the union once; the exec exchanges each side
    * — same rows moved, but the merge runs outside whole-stage codegen).
    * The exec wins when the inputs are bucketed/pre-partitioned on the
    * key: its declared requirements let EnsureRequirements elide BOTH
    * exchanges (AsofExecSpec proves the shuffle-free plan), which the
    * union form can never do — and at 100 TB the exchanges, not the
    * merge, are the cost.
    */
  def asofJoinExec(left0: DataFrame, right0: DataFrame, key: String, time: String,
                   asofCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    // the exec's merge loop reads key/time as longs; narrower integrals
    // widen for free, anything else is a contract violation
    def widen(df: DataFrame): DataFrame =
      Seq(key, time).foldLeft(df) { (d, c) =>
        d.schema(c).dataType match {
          case LongType => d
          case ByteType | ShortType | IntegerType => d.withColumn(c, col(c).cast("long"))
          case other => throw new IllegalArgumentException(
            s"$c must be an integral type, got ${other.catalogString}")
        }
      }
    val left = widen(left0)
    val right = widen(right0)
    val spark = left.sparkSession
    // Skip the session-global mutation when the strategy is already
    // planner-visible (e.g. injected by GraftExtensions); otherwise
    // check-and-append atomically — two concurrent callers on one session
    // must not append twice or drop a concurrently-added strategy.
    if (!spark.sessionState.planner.strategies.contains(graft.plans.AsofJoinStrategy))
      spark.experimental.synchronized {
        if (!spark.experimental.extraStrategies.contains(graft.plans.AsofJoinStrategy))
          spark.experimental.extraStrategies =
            spark.experimental.extraStrategies :+ graft.plans.AsofJoinStrategy
      }
    // a self-join of the same source would duplicate expr-ids across the
    // two sides; re-alias the right side to fresh ids before planning
    val r = if (right.queryExecution.analyzed.outputSet
        .intersect(left.queryExecution.analyzed.outputSet).nonEmpty)
      right.select(right.columns.map(c => col(c).as(c)).toSeq: _*)
    else right
    val node = graft.plans.AsofJoinPlan.forChildren(
      left.queryExecution.analyzed, r.queryExecution.analyzed, key, time, asofCols)
    org.apache.spark.sql.classic.GraftPlanBridge.ofRows(spark, node)
  }

  /** Binned range (interval-containment) join: match point rows to
    * interval rows of the same key where `start <= t <= end`. Spark plans
    * a raw inequality join as a nested loop — O(n·m) per key. Binning
    * makes it an equality join: intervals explode into the time bins they
    * cover, points land in exactly one bin, the join runs on (key, bin)
    * and an exact containment filter finishes. Each (point, interval)
    * pair meets in exactly one bin (the point's), so no dedup is needed.
    * Choose binSize ≈ median interval length: shuffle is
    * O(points + intervals · span/binSize).
    */
  def rangeJoinBinned(points: DataFrame, intervals: DataFrame, key: String,
                      t: String, start: String, end: String, binSize: Long): DataFrame = {
    val p = points.withColumn("__bin", expr(s"`$t` div $binSize"))
    val iv = intervals.withColumn("__bin",
      explode(sequence(expr(s"`$start` div $binSize"), expr(s"`$end` div $binSize"))))
    p.join(iv, Seq(key, "__bin"))
      .filter(col(t) >= col(start) && col(t) <= col(end))
      .drop("__bin")
  }

  /** Gap sessionization on Spark's NATIVE `session_window` aggregation —
    * the compose-existing-ops path preferred over both the window
    * composition ([[sessionize]]) and the custom stateful sessionizer
    * (streaming.Sessionizer): one hash aggregate with built-in session
    * merge, usable identically in batch and Structured Streaming (where
    * it gets incremental state + watermark eviction for free).
    * Emits (user_id, start_sec, end_sec, n_events) — session membership
    * is identical to [[sessionize]]; the ordinal session_idx is a
    * window-composition artifact the native form does not define.
    */
  def sessionizeNative(df: DataFrame, keyCol: Column, tsCol: Column,
                       gapSec: Long): DataFrame =
    df.groupBy(keyCol.as("user_id"), session_window(tsCol, s"$gapSec seconds"))
      .agg(
        count(lit(1)).as("n_events"),
        min(tsCol).cast("long").as("start_sec"),
        max(tsCol).cast("long").as("end_sec"))
      .select("user_id", "start_sec", "end_sec", "n_events")

  /** Gap-based sessionization: a new session starts when the gap since the
    * previous event of the same key exceeds `gapSec`. Two windows over the
    * same (key, time) ordering — one shuffle, then streaming window evals.
    * This is how the reference's implicit "session" (one process run,
    * data.py:19) is reconstructed from raw event time at scale.
    */
  def sessionize(df: DataFrame, keyCol: Column, tsSecCol: Column, idCol: Column,
                 gapSec: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCol).orderBy(tsSecCol, idCol)
    val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__ts_sec", tsSecCol)
      .withColumn("__is_new",
        when(lag(tsSecCol, 1).over(w).isNull ||
          tsSecCol - lag(tsSecCol, 1).over(w) > gapSec, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("__is_new")).over(wc))
      .groupBy(keyCol.as("user_id"), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("__ts_sec")).as("start_sec"),
        max(col("__ts_sec")).as("end_sec"))
  }

  /** Per-user engagement profile over [[sessionize]]'s session table:
    * session count, events, exact integer mean session duration, and the
    * mean gap BETWEEN sessions (the return-cadence signal behind churn
    * scoring and retention cohorts; NULL — by CASE, not engine 0/0 —
    * for single-session users who have no gap yet).
    *
    * Exactness: durations/gaps are epoch-second integers; each mean is
    * one truncating integer division. The inter-session gap is
    * `next_start − end` via one lag over the SESSION table — O(users ×
    * sessions) rows, orders of magnitude below events — so the only
    * fact-scale work remains [[sessionize]]'s own per-user window.
    */
  def sessionStats(df: DataFrame, keyCol: Column, tsSecCol: Column,
                   idCol: Column, gapSec: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sess = sessionize(df, keyCol, tsSecCol, idCol, gapSec)
    val w = Window.partitionBy(col("user_id")).orderBy(col("session_idx"))
    sess
      .withColumn("prev_end", lag(col("end_sec"), 1).over(w))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        sum(col("end_sec") - col("start_sec")).as("total_session_sec"),
        sum(col("start_sec") - col("prev_end")).as("total_gap_sec"))
      .select(col("user_id"), col("n_sessions"), col("n_events"),
        expr("total_session_sec div n_sessions").as("mean_session_sec"),
        when(col("n_sessions") > 1,
          expr("total_gap_sec div (n_sessions - 1)")).as("mean_gap_sec"))
  }
}
