package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

/** Shared registry for operator-internal caches, releasable by the
  * caller. An operator that pins storage memory the pipeline can't free
  * is a leak at 100 TB — every internal `.persist` taken inside an
  * operator lands here so a pipeline can release them all between
  * stages. Re-caching an already-cached plan is skipped (two queries
  * sharing one subplan re-enter here; re-caching would only log
  * CacheManager "already cached" warnings). It also holds the one
  * driver budget ([[fitsDriver]]).
  */
private[graft] object OpCache {

  private val handles = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  def share(df: DataFrame, enabled: Boolean): DataFrame = {
    if (enabled && df.storageLevel == StorageLevel.NONE) {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      handles.synchronized { handles += df }
    }
    df
  }

  /** Row budget of Graph's measured broadcasts and of the driver-side
    * graph passes, in single-long rows (~32 MB of keys).
    */
  private val DriverRows = 4000000L

  /** The same budget in bytes (32 MB, what [[collectLongs]] may hold):
    * the bound of the store's caches of decoded files and footers, and
    * the largest store whose files are cached at all (graft.store).
    */
  val DriverBytes: Long = DriverRows * 8

  /** A negative `spark.sql.autoBroadcastJoinThreshold` is Spark's
    * documented "broadcast nothing" switch; it also keeps every graph
    * pass distributed. Read here, never written.
    */
  private def driverOff(spark: SparkSession): Boolean =
    spark.sessionState.conf.autoBroadcastJoinThreshold < 0

  /** The driver gate: may a side measured at `rows` rows, each costing
    * `weight` budget rows (its width in longs, or the rows it fans out
    * to), go to the driver — be broadcast, or processed there? No once
    * it passes [[DriverRows]] — the caller then takes its shuffle path,
    * the 100 TB one — and no when the session has broadcasting off.
    * Measured counts may over-count, which only demotes to the shuffle
    * side.
    */
  def fitsDriver(spark: SparkSession, rows: Long, weight: Long = 1L): Boolean =
    rows <= DriverRows / weight && !driverOff(spark)

  /** The same gate for a whole frame of longs: its rows packed row-major
    * into one primitive array (`Right`) when they fit [[DriverRows]] at
    * one budget row per column and hold no null — read in one job (plus
    * the stages of `df`'s own shuffles) that stops after budget + 1 rows
    * and sends nothing back past the budget or at a null. A cache the
    * gate took itself is released once the rows are on the driver.
    * Otherwise `Left` of the frame the caller's distributed path must
    * read: `df` itself when it never qualified (a non-long column,
    * broadcasting off), else `df` as the gate read it — shared (`cache`)
    * or checkpointed — so that path re-reads what the gate computed
    * instead of re-running `df`'s plan. Past the budget that costs a
    * full cache (or checkpoint) of `df` and a one-task read of its first
    * budget + 1 rows before the distributed rounds start.
    */
  def collectLongs(df: DataFrame, cache: Boolean = true): Either[DataFrame, Array[Long]] = {
    val spark = df.sparkSession
    val width = df.schema.length
    if (driverOff(spark) || !df.schema.forall(_.dataType == LongType)) Left(df)
    else {
      import spark.implicits._
      val fresh = cache && df.storageLevel == StorageLevel.NONE
      val kept = if (cache) share(df, enabled = true) else df.localCheckpoint()
      val cap = DriverRows / width
      val packed = kept.coalesce(1).mapPartitions { rows =>
        val out = new scala.collection.mutable.ArrayBuilder.ofLong
        var n = 0L
        var clean = true
        while (clean && n <= cap && rows.hasNext) {
          val r = rows.next()
          n += 1
          var i = 0
          while (clean && n <= cap && i < width) {
            if (r.isNullAt(i)) clean = false else out += r.getLong(i)
            i += 1
          }
        }
        if (clean && n <= cap) Iterator.single(out.result()) else Iterator.empty
      }.collect()
      packed.headOption match {
        case Some(ends) =>
          if (fresh) handles.synchronized { handles -= kept; kept.unpersist() }
          Right(ends)
        case None => Left(kept)
      }
    }
  }

  /** Run `f` with session conf `key` set to `value`, then restore the key
    * exactly: its previous spelling, or unset when it was unset. Decided
    * by `contains`, not `spark.conf.getOption`: the latter reads an unset
    * key as its registered default, and the restore would then set it.
    */
  def withConf[A](spark: SparkSession, key: String, value: String)(f: => A): A = {
    val conf = spark.sessionState.conf
    val prev = if (conf.contains(key)) Some(conf.getConfString(key)) else None
    spark.conf.set(key, value)
    try f
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Release every operator-internal cache in this JVM. Safe to call
    * mid-pipeline: Spark recomputes any plan that is still needed.
    */
  def unpersistAll(): Unit = handles.synchronized {
    handles.foreach(d => try d.unpersist() catch { case _: Throwable => () })
    handles.clear()
  }

  /** `localCheckpoint()` that actually PRESERVES the plan's physical
    * output partitioning. Under AQE (default-on) `Dataset.checkpoint`
    * records `executedPlan.outputPartitioning` from the adaptive root,
    * which reports UnknownPartitioning — so a
    * `repartition(n, key).localCheckpoint()` spine yields a LogicalRDD
    * every downstream join/groupBy RE-SHUFFLES (measured round 15: the
    * batched-BFS adjacency re-exchanged EVERY level, one O(E) exchange
    * per round in every iterative graph op — exactly the exchange the
    * repartition-before-checkpoint pattern exists to remove). Planning
    * just this one materialization with AQE off records the real
    * HashPartitioning in the LogicalRDD; consumers still plan under AQE
    * and read it exchange-free. The flag flip is driver-side and brief;
    * iterative batch operators build plans sequentially on the driver,
    * so nothing else plans during it (streaming maintainers never call
    * this helper).
    */
  // ckptPartitioned's conf toggle serialized on this lock: the flip is
  // session-global and check/set/restore is not atomic — two overlapping
  // calls would let one restore the flag before the other's plan is
  // forced (and any other thread planning during the window would
  // silently lose AQE). Callers are sequential driver-side batch ops,
  // but the lock makes the helper safe rather than assumed-safe.
  private val ckptLock = new Object

  def ckptPartitioned(df: DataFrame): DataFrame = ckptLock.synchronized {
    withConf(df.sparkSession, "spark.sql.adaptive.enabled", "false")(df.localCheckpoint())
  }
}
