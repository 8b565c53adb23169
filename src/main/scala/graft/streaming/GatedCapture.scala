package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.TextKernels

/** Start/stop-gated capture — the reference's actionlib-bracketed
  * collection mode (`scenario.py:101-137`,
  * `init_way_point_action_server_video`: a control goal whose message is
  * "true"/"t"/"start" opens the capture gate, anything else closes it;
  * while open, every arrival on the watched data topic is saved).
  *
  * Spark mapping, two twins sharing one semantics:
  *
  *  - BATCH: fold the control stream into gate-open intervals
  *    ([[captureIntervals]]) and keep the data rows inside one
  *    ([[gate]]). A data row is captured iff the latest control message
  *    at-or-before its timestamp is a START — start inclusive, stop
  *    exclusive, rows before any control (or after only stops) dropped,
  *    an unclosed start captures to +∞.
  *  - STREAMING: the same rule as a per-gate state machine
  *    ([[gatedStream]] — `flatMapGroupsWithState`, one boolean + one
  *    timestamp of state per gate), so the live capture and the nightly
  *    batch recompute agree row-for-row.
  *
  * Scale shape: control streams are human/robot actions — O(actions)
  * tiny against the data stream — so the interval table broadcasts and
  * the batch gate is a broadcast LEFT SEMI range join: the data side is
  * never shuffled, never widened, and partition/pushdown behavior of the
  * data scan is untouched. The per-gate windows in the interval fold
  * touch only control rows.
  *
  * Determinism contract: within a gate, control ties on `ts_us` order
  * stop-before-start (a same-instant start+stop leaves the gate OPEN);
  * a data row exactly at a control timestamp sees that control applied
  * (`<=` as-of semantics, matching the reference's "state is read when
  * the data message arrives").
  */
object GatedCapture {

  /** The reference's start predicate, `scenario.py:109`:
    * `str(goal_msg.message).lower() in ["true", "t", "start"]`.
    * NULL-safe by construction: the reference stringifies the payload
    * (`str(None).lower() == "none"` ∉ the start set), so a NULL message
    * is a STOP — never a three-valued NULL that a filter or a primitive
    * Boolean encoder would mishandle.
    */
  def isStart(msg: Column): Column =
    coalesce(TextKernels.lower(msg).isin("true", "t", "start"), lit(false))

  /** Fold a control table (gate key, event-time micros, start flag) into
    * gate-open intervals `(gate, start_us, end_us)` — `end_us` NULL for
    * an unclosed capture. Consecutive duplicate states collapse (two
    * starts in a row extend the same interval, the reference's idempotent
    * gate), so intervals per gate never overlap and the downstream semi
    * join cannot duplicate rows.
    */
  def captureIntervals(control: DataFrame, gateCol: Column, tsUsCol: Column,
                       startCol: Column): DataFrame = {
    val w = Window.partitionBy(col("gate")).orderBy(col("c_ts"), col("on"))
    // NULL start flag is a STOP, not a hole: the reference stringifies the
    // payload (scenario.py:109 — str(None).lower() == "none" ∉ start set),
    // and an un-coalesced NULL here would be dropped by `on =!= prev` AND
    // poison the next row's lag, silently losing a real transition.
    control.select(gateCol.as("gate"), tsUsCol.as("c_ts"),
        coalesce(startCol, lit(false)).as("on"))
      .withColumn("prev", lag(col("on"), 1, false).over(w))
      .filter(col("on") =!= col("prev")) // state transitions only
      .withColumn("end_us", lead(col("c_ts"), 1).over(
        Window.partitionBy(col("gate")).orderBy(col("c_ts"), col("on"))))
      .filter(col("on"))
      .select(col("gate"), col("c_ts").as("start_us"), col("end_us"))
  }

  /** Keep the data rows inside a capture interval: left-semi range join
    * against the interval table — data columns pass through untouched.
    * `broadcastIntervals` (default true) is the CALLER'S assertion of the
    * tiny-control contract and forces the broadcast build; pass false for
    * a control stream that grows with the data (per-entity gates over a
    * fact-scale control feed) so the join falls back to a shuffled
    * equi-join on the gate key that AQE can size and skew-split.
    */
  def gate(data: DataFrame, intervals: DataFrame, gateCol: Column,
           tsUsCol: Column, broadcastIntervals: Boolean = true): DataFrame = {
    val clash = data.columns.toSet
      .intersect(Set("__gc_gate", "__gc_start", "__gc_end"))
    require(clash.isEmpty,
      s"gate: data columns ${clash.mkString(", ")} collide with the join's working names")
    val iv = intervals.select(col("gate").as("__gc_gate"),
      col("start_us").as("__gc_start"), col("end_us").as("__gc_end"))
    data.join(if (broadcastIntervals) broadcast(iv) else iv,
      gateCol === col("__gc_gate") && tsUsCol >= col("__gc_start") &&
        (col("__gc_end").isNull || tsUsCol < col("__gc_end")),
      "left_semi")
  }

  /** Batch composition: capture `data` through the control stream's
    * start/stop brackets. Both frames need the gate key and event-time
    * micros; `msgCol` gates by the reference's message predicate;
    * `broadcastIntervals` as on [[gate]].
    */
  def captureGated(control: DataFrame, data: DataFrame, gateCol: Column,
                   tsUsCol: Column, msgCol: Column,
                   broadcastIntervals: Boolean = true): DataFrame =
    gate(data, captureIntervals(control, gateCol, tsUsCol, isStart(msgCol)),
      gateCol, tsUsCol, broadcastIntervals)

  /** One unioned control+data row; `kind` 0 = control (applies first on
    * a ts tie — the `<=` as-of rule), 1 = data.
    */
  case class GEvent(gate: Long, ts_us: Long, kind: Int, on: Boolean,
                    event_id: Long)
  /** [[GEvent]] plus its event-time column for the watermark. */
  case class GEventTs(gate: Long, ts_us: Long, kind: Int, on: Boolean,
                      event_id: Long, ts: java.sql.Timestamp)
  /** Gate state: open flag + newest control time seen (controls arriving
    * across batches must only move forward; a stale replayed control is
    * ignored rather than reopening history) + newest event time of ANY
    * kind — the anchor the idle-expiry timer re-arms from.
    */
  case class GState(open: Boolean, lastCtlUs: Long, lastUs: Long = 0L)
  case class GOut(gate: Long, event_id: Long, ts_us: Long)

  /** Fold one gate's micro-batch through the state machine: rows replay
    * in (ts_us, kind, on) order — control-before-data on ties, and a
    * same-instant start+stop leaves the gate open, both matching the
    * batch twin — emitting every data row that arrives while the gate is
    * open. The tie rule holds ACROSS batches too: a control equal to the
    * state's frontier merges start-wins (`open || on`), never
    * last-arrival-wins, so a start@t and stop@t split over two
    * micro-batches resolve exactly as the batch interval fold does in
    * either arrival order. Ordering contract (same as [[Funnel]]):
    * arrival order across batches must otherwise respect event time per
    * gate; late data is recovered by the order-free batch recompute.
    *
    * Gate ids are an unbounded domain (users, devices, action goals), so
    * a gate quiet for `idleTimeoutMs` of EVENT time leaves the store —
    * the same watermark-driven idle reaper as [[Funnel.updateKey]]. A
    * reaped OPEN gate forgets it was open: data arriving after the idle
    * horizon waits for the next start, and the divergence window is
    * recovered by the order-free batch recompute (an action bracket
    * idle for 30 days is stale by the reference's own capture model).
    */
  def updateGate(gateId: Long, rows: Iterator[GEventTs],
                 state: GroupState[GState],
                 idleTimeoutMs: Long = 30L * 24 * 3600 * 1000): Iterator[GOut] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    val init = state.getOption.getOrElse(
      GState(open = false, lastCtlUs = Long.MinValue))
    var open = init.open
    var lastCtl = init.lastCtlUs
    var lastUs = init.lastUs
    val out = Seq.newBuilder[GOut]
    rows.toSeq.sortBy(e => (e.ts_us, e.kind, e.on)).foreach { e =>
      lastUs = math.max(lastUs, e.ts_us)
      if (e.kind == 0) {
        if (e.ts_us > lastCtl) { open = e.on; lastCtl = e.ts_us }
        else if (e.ts_us == lastCtl) open = open || e.on // start wins the tie
      } else if (open) out += GOut(e.gate, e.event_id, e.ts_us)
    }
    state.update(GState(open, lastCtl, lastUs))
    // the timer must land strictly beyond the current watermark or the
    // state store rejects it (same clamp as the funnel reaper)
    state.setTimeoutTimestamp(
      math.max(lastUs / 1000L + idleTimeoutMs, state.getCurrentWatermarkMs + 1))
    out.result().iterator
  }

  /** Canonical control+data union feeding [[gatedStream]] — the SAME
    * start predicate (NULL message = stop) and tie-kind convention as
    * the batch twin, so a streaming caller cannot diverge on the NULL
    * rule: `GEvent.on` is a primitive Boolean and a hand-rolled
    * conversion of a NULL payload would either crash the encoder or
    * invent its own semantics, breaking the row-for-row batch/stream
    * agreement this object promises.
    */
  def gatedEvents(control: DataFrame, data: DataFrame, gateCol: Column,
                  tsUsCol: Column, msgCol: Column, idCol: Column)
                 (implicit spark: SparkSession): Dataset[GEvent] = {
    import spark.implicits._
    control.select(gateCol.cast("long").as("gate"),
        tsUsCol.cast("long").as("ts_us"), lit(0).as("kind"),
        isStart(msgCol).as("on"), lit(-1L).as("event_id"))
      .unionByName(data.select(gateCol.cast("long").as("gate"),
        tsUsCol.cast("long").as("ts_us"), lit(1).as("kind"),
        lit(false).as("on"), idCol.cast("long").as("event_id")))
      .as[GEvent]
  }

  /** Wire the gate machine over unioned control+data rows (possibly
    * streaming). Input columns: gate, ts_us, kind (0 control / 1 data),
    * on (control only), event_id (data only) — build them with
    * [[gatedEvents]] to inherit the batch twin's NULL rule. The
    * watermark rides the event time (`lateness` of allowed disorder
    * across batches) and drives the idle-expiry timers that bound the
    * state COUNT on the unbounded gate domain.
    */
  def gatedStream(rows: Dataset[GEvent],
                  idleTimeoutMs: Long = 30L * 24 * 3600 * 1000,
                  lateness: String = "1 hour")
                 (implicit spark: SparkSession): Dataset[GOut] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    rows.withColumn("ts", expr("timestamp_micros(ts_us)"))
      .as[GEventTs]
      .withWatermark("ts", lateness)
      .groupByKey(_.gate)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(
        (k: Long, it: Iterator[GEventTs], st: GroupState[GState]) =>
          updateGate(k, it, st, idleTimeoutMs))
  }
}
