package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.trck._
import graft.trck.Compiled.CompiledProgram
import graft.trck.Fsm.{Bindings, FsmState, TrailEvent}
import graft.trck.LocalRunner.ForeachTuple

/** Incremental trail matching over a Structured Streaming source.
  *
  * The reference's multi-DB execution already IS an incremental contract:
  * per-cookie state vectors persist across sequentially-processed DBs, a
  * `min_ts` cut drops events older than the previous DB's max timestamp,
  * and surviving states are finalized with a MAX_TIMESTAMP dummy event
  * (reference: src/match_traildb.c:384-390, 812-849, 899-944; SURVEY.md §2
  * streaming note). Each micro-batch plays the role of "the next TrailDB":
  *
  *  - state: per-(uuid × foreach-tuple) FSM states in `GroupState`
  *    (checkpointable, partitioned by uuid — the same keying the batch
  *    engine shuffles on);
  *  - late data: events strictly below the uuid's high-water mark are
  *    skipped (an event AT the mark is kept — same inclusivity as the
  *    reference's cross-DB `min_ts` cut, where `wStart = max(start,
  *    min_ts)` keeps `ts >= wStart`). NOTE: with event-time finalization
  *    and `watermarkDelay = 0`, Spark's stateful-operator late-row filter
  *    can additionally drop rows at/below the watermark BEFORE they reach
  *    this cut — set a nonzero `watermarkDelay` when rows at exactly the
  *    previous batch's max must be owned by the engine's cut policy;
  *  - finalization: either an event-time timeout (`eventTimeGapSec` — fires
  *    once the watermark passes the trail's last event + gap, deterministic
  *    in event time) or a processing-time idle timeout (`idleTimeoutMs` —
  *    wall-clock fallback for sources without a usable watermark). Both run
  *    the MAX_TIMESTAMP finalization and clear the state — the streaming
  *    equivalent of end-of-input.
  */
object TrailStream {

  /** Serializable snapshot of [[FsmState]] for GroupState. */
  final case class StateData(ri: Int, windowExpires: Long, outerIds: Array[Int], outerExpires: Array[Long])
  final case class TrailState(states: Array[StateData], maxTs: Long)

  /** `fields` is prog.fields-ordered for the FSM; `dedupFields` carries ALL
    * non-reserved input columns — consecutive-duplicate elision compares the
    * FULL event (reference: src/ctx.c:112-131; an event differing only in a
    * column the program never references is NOT a duplicate), exactly like
    * the batch engine's dedup projection.
    */
  final case class InEvent(uuid: String, ts: Long, eventTime: java.sql.Timestamp,
                           fields: Array[String], dedupFields: Array[String])

  /** `uuid` carries the result ctx id — the window entry id for window
    * runs, the cookie otherwise — matching the batch engine's emit keying.
    */
  final case class EmitRow(uuid: String, tupleIdx: Int, kind: String, dst: String, item: Array[Byte], n: Long)

  /** Consecutive-dup elision over the full projected event: the WIDE dedup
    * projection, not the FSM-field array (a subset, which would elide too
    * much).
    */
  private def dedupConsecutiveIn(evs: Array[InEvent]): Array[InEvent] = {
    if (evs.length < 2) return evs
    val out = new scala.collection.mutable.ArrayBuffer[InEvent](evs.length)
    out += evs(0)
    var i = 1
    while (i < evs.length) {
      val a = evs(i - 1); val b = evs(i)
      val dup = a.ts == b.ts && java.util.Arrays.equals(
        a.dedupFields.asInstanceOf[Array[AnyRef]], b.dedupFields.asInstanceOf[Array[AnyRef]])
      if (!dup) out += b
      i += 1
    }
    out.toArray
  }

  private def toData(s: FsmState): StateData =
    StateData(s.ri, s.windowExpires, s.outerIds.clone(), s.outerExpires.clone())

  private def fromData(d: StateData, nOuters: Int): FsmState = {
    val s = new FsmState(nOuters)
    s.ri = d.ri
    s.windowExpires = d.windowExpires
    System.arraycopy(d.outerIds, 0, s.outerIds, 0, math.min(d.outerIds.length, s.outerIds.length))
    System.arraycopy(d.outerExpires, 0, s.outerExpires, 0, math.min(d.outerExpires.length, s.outerExpires.length))
    s
  }

  /** Wire a streaming events DataFrame (uuidCol, tsCol seconds, program
    * field columns) into the FSM. Returns the stream of emitted yield rows
    * (same schema as TrailEngine.emits). Each micro-batch of a cookie is
    * ts-sorted, consecutive duplicates are dropped once, and the events
    * replay through [[graft.trck.TrailMatcher.runEntries]] — the batch
    * engine's per-segment replay, each entry on its own ts slice.
    *
    * Finalization: pass `eventTimeGapSec` (> 0) for watermark-driven
    * event-time finalization — a trail finalizes when the watermark (built
    * here from `tsCol` with `watermarkDelay` slack) passes its last event
    * plus the gap. Or pass `idleTimeoutMs` for wall-clock idle timeout.
    *
    * `windows`: F2 window-file entries, same contract as the batch engine
    * (TrailEngine.emits): unlisted cookies are dropped before the shuffle
    * (stream-static broadcast semi-join); each micro-batch — "the next
    * TrailDB" — runs every entry of a present cookie once, with its own
    * ctx (entry id, [start, end) bounds clamped by the cookie's
    * high-water-mark cut, Y5 yields included), every entry starting from
    * the state the previous batch left and the LAST entry's output
    * carrying forward; finalization fires once per cookie at timeout. A
    * cookie with batch rows but zero in-bounds events still runs its
    * per-entry loop — the same empty-trail parity the batch path keeps
    * via __ghost sentinels. (A cookie absent from a batch is skipped,
    * exactly as the reference skips window entries whose cookie is not in
    * the current DB's trail list.)
    */
  def emits(
      prog: CompiledProgram,
      events: DataFrame,
      uuidCol: String,
      tsCol: String,
      params: Bindings = Bindings(),
      foreachTuples: Vector[ForeachTuple] = Vector(ForeachTuple(Vector.empty)),
      fcalls: Map[String, Fsm.Fcall] = Map.empty,
      idleTimeoutMs: Long = 0L,
      eventTimeGapSec: Long = 0L,
      watermarkDelay: String = "0 seconds",
      windows: Option[Seq[LocalRunner.WindowEntry]] = None,
  ): Dataset[EmitRow] = {
    val spark = events.sparkSession
    import spark.implicits._

    val fieldCols = prog.fields.toSeq
    // every non-reserved column joins the dedup compare (batch-engine
    // parity); the FSM-field array stays prog.fields-ordered
    val dedupCols = events.columns.filterNot(Set(uuidCol, tsCol)).toSeq
    val projectedAll = events
      .select(
        col(uuidCol).cast("string").as("uuid"),
        graft.Tables.tsLong(events, tsCol).as("ts"),
        timestamp_seconds(graft.Tables.tsLong(events, tsCol)).as("eventTime"),
        array(fieldCols.map(f =>
          if (events.columns.contains(f)) coalesce(col(f).cast("string"), lit("")) else lit("")): _*
        ).as("fields"),
        // null and "" compare equal, as in the batch engine and LocalRunner
        array(dedupCols.map(c => coalesce(col(c).cast("string"), lit(""))): _*).as("dedupFields"),
      )
    // window runs: unlisted trails never reach the stateful operator
    val projected0 = windows match {
      case Some(ws) =>
        val listed = ws.map(_.cookie).distinct.toDF("uuid")
        projectedAll.join(broadcast(listed), Seq("uuid"), "left_semi")
      case None => projectedAll
    }
    val projected =
      (if (eventTimeGapSec > 0) projected0.withWatermark("eventTime", watermarkDelay)
       else projected0).as[InEvent]

    val winByCookie: Option[Map[String, IndexedSeq[LocalRunner.WindowEntry]]] =
      windows.map(_.groupBy(_.cookie).view.mapValues(_.toIndexedSeq).toMap)

    val tuples = foreachTuples
    val nTuples = tuples.length

    // NoTimeout unless finalization is requested — with a timeout mode
    // enabled Spark schedules continuous timeout-check micro-batches even
    // when no state ever sets a timeout
    val timeoutMode =
      if (eventTimeGapSec > 0) GroupStateTimeout.EventTimeTimeout()
      else if (idleTimeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()

    projected
      .groupByKey(_.uuid)
      .flatMapGroupsWithState(OutputMode.Append(), timeoutMode)(
        (uuid: String, rows: Iterator[InEvent], state: GroupState[TrailState]) => {
          val buf = scala.collection.mutable.ArrayBuffer[EmitRow]()

          // emit rows carry the result ctx id: the window ENTRY id inside an
          // entry's run (batch parity — TrailEngine emits per entry id), the
          // cookie otherwise (including finalization, like LocalRunner's
          // per-cookie finalizeTrail)
          def emit(ctxId: String)(j: Int, r: Results): Unit = {
            r.counters.foreach { case (d, v) => if (v != 0) buf += EmitRow(ctxId, j, "c", d, null, v) }
            r.sets.foreach { case (d, m) => m.foreach { case (t, c) => buf += EmitRow(ctxId, j, "s", d, t, c) } }
            r.msets.foreach { case (d, m) => m.foreach { case (t, c) => buf += EmitRow(ctxId, j, "m", d, t, c) } }
            r.hlls.foreach { case (d, h) => buf += EmitRow(ctxId, j, "h", d, h.sparse, 1L) }
          }

          if (state.hasTimedOut) {
            // end-of-input analog: MAX_TIMESTAMP finalization, state dropped
            state.getOption.foreach { ts0 =>
              val sts = ts0.states.map(fromData(_, prog.nWindowRules))
              TrailMatcher.finalizeTrail(prog, tuples, sts, uuid, params, fcalls, emit(uuid))
            }
            state.remove()
          } else {
            val prev = state.getOption.getOrElse(
              TrailState(Array.fill(nTuples)(toData(FsmState.initial(prog))), 0L))
            // micro-batch = "next DB": sort, dedup once, then every entry
            // runs on its ts slice above the high-water cut (LocalRunner's
            // max(start, minTs)), starting from the state the previous batch
            // left; the LAST entry's output carries forward
            val evs = dedupConsecutiveIn(rows.toArray.sortBy(_.ts))
            val out = TrailMatcher.runEntries(
              prog, tuples, prev.states.map(fromData(_, prog.nWindowRules)),
              evs.map(e => new TrailEvent(e.ts, e.fields)), TrailMatcher.entriesOf(winByCookie, uuid),
              prev.maxTs, params, fcalls, emit)
            val newMax = if (evs.isEmpty) prev.maxTs else math.max(prev.maxTs, evs.last.ts)
            state.update(TrailState(out.map(toData), newMax))
            if (eventTimeGapSec > 0)
              // fire when the watermark passes last-event + gap; clamp above
              // the current watermark (Spark rejects timeouts at/behind it)
              state.setTimeoutTimestamp(
                math.max((newMax + eventTimeGapSec) * 1000L, state.getCurrentWatermarkMs() + 1L))
            else if (idleTimeoutMs > 0) state.setTimeoutDuration(idleTimeoutMs)
          }
          buf.iterator
        }
      )
  }

  /** Streaming face of the A4 HLL yield: per-group trck-format distinct
    * sketches over an unbounded stream. The reference's result-merge
    * contract (register-wise max across partial sketches — the same merge
    * its multi-DB runs and foreach shards rely on) is exactly what makes
    * this streamable: each micro-batch folds new items into the per-group
    * sketch state, and the aggregator's `merge` path combines partials, so
    * the sketch after N micro-batches is byte-identical to one batch
    * aggregation of all N batches' rows (pinned by TrailStreamSpec).
    * Complete/update output mode; state per group is the fixed 16 KiB
    * register array regardless of stream length — the sketch IS the
    * bounded state, no watermark needed.
    */
  def hllDistinctByGroup(events: DataFrame, groupCol: String = "event_type",
                         itemCol: String = "user_id"): DataFrame =
    events
      .groupBy(col(groupCol))
      .agg(graft.functions.HllAggregator
        .trckHllHex(encode(col(itemCol).cast("string"), "UTF-8")).as("hll_hex"))

  /** Streaming gap sessionization: the live twin of
    * [[graft.queries.TrailAnalytics.sessions]], on Spark's NATIVE session
    * window (`session_window(ts, gap)` — gap-merged event-time windows
    * with watermark-bounded state; the engine merges a user's windows as
    * events arrive and finalizes a session once the watermark passes its
    * close, so per-user state is only the OPEN sessions). Batch ≡ stream
    * is structural: the same expression runs in batch mode, and the spec
    * pins the streamed output multiset-equal to the one-batch run.
    *
    * Boundary contract, pinned by spec: session_window merges at the
    * equality instant (an event at exactly prev+gap extends the session)
    * and splits strictly beyond it — the SAME rule as the batch
    * `TrailAnalytics.sessions` (split iff gap strictly exceeded), so the
    * two faces agree with no bridging.
    */
  def sessionsByGap(events: DataFrame, tsCol: String = "ts",
                    gap: String = "6 hours",
                    watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(col("user_id"), session_window(col(tsCol), gap).as("w"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("n_purchases"))

  /** Streaming AS-OF enrichment against a FROZEN dimension: the live twin
    * of [[graft.queries.TrailAnalytics.asOfJoin]] for the stream-static
    * case (live events vs a versioned dimension built once per stream —
    * the lmScoreByWindow lifecycle). Each arriving left row picks the
    * greatest dimension row with rightTs ≤ leftTs under the same key;
    * ties at equal rightTs break by the struct order of
    * (rightTs, payload...), so callers put a unique id first in `payload`
    * — the IDENTICAL contract as the batch kernel.
    *
    * Shape: the batch union-tag + running-window kernel cannot stream (an
    * unbounded-preceding window over a live source), so the dimension
    * collapses ONCE to one row per key holding its versions sorted by the
    * (rightTs, payload...) struct — the same order whose running MAX the
    * batch kernel takes, so the LAST qualifying element IS the batch
    * match, tie-break included. Each stream row then resolves its match
    * with a scalar `filter` + `try_element_at(-1)` over the equi-joined
    * array: stateless map-side work after one stream-static join, batch ≡
    * stream BY CONSTRUCTION (spec-pinned equal to the batch asOfJoin),
    * and zero stream state — restart recovery is pure source-offset
    * replay.
    *
    * Scale: per-key payload is the key's VERSION count (orders per
    * customer — dimension-bounded, never event-volume). A fail-loud
    * pre-flight refuses a dimension whose hottest key exceeds
    * `maxVersionsPerKey` instead of building a row the executors cannot
    * hold (the hot-bucket-guard discipline); one distributed aggregation
    * at setup time, never per micro-batch.
    */
  def asOfEnrichStatic(
      stream: DataFrame,
      dim: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      payload: Seq[String],
      lookbackSec: Option[Long] = None,
      maxVersionsPerKey: Long = 100000L,
  ): DataFrame = {
    require(payload.nonEmpty, "asOfEnrichStatic: payload must name at least one right column")
    val reserved = Set("__vs", "__v", "__m", "__rts", "__lts")
    val leftHit = stream.columns.toSet.intersect(reserved)
    require(leftHit.isEmpty,
      s"asOfEnrichStatic: stream columns ${leftHit.mkString(", ")} collide with kernel names")
    val payloadHit = payload.toSet.intersect(stream.columns.toSet ++ reserved)
    require(payloadHit.isEmpty,
      s"asOfEnrichStatic: payload columns ${payloadHit.mkString(", ")} collide with stream " +
        "or kernel columns - alias them on the dimension side first")
    val hot = dim.groupBy(col(key)).agg(count(lit(1)).as("__n"))
      .agg(max(col("__n"))).head
    if (!hot.isNullAt(0))
      require(hot.getLong(0) <= maxVersionsPerKey,
        s"asOfEnrichStatic: hottest dimension key carries ${hot.getLong(0)} versions " +
          s"(> maxVersionsPerKey=$maxVersionsPerKey) - compact the dimension (e.g. keep a " +
          "bounded version horizon) before streaming against it")
    val versions0 = dim
      .select(col(key),
        struct(col(rightTs).cast("long").as("__rts") +: payload.map(col): _*).as("__v"))
      .groupBy(col(key))
      .agg(sort_array(collect_list(col("__v"))).as("__vs"))
    // a stream-static join re-executes the static side EVERY micro-batch —
    // checkpoint the collapsed dimension so the groupBy/collect_list/sort
    // runs once at setup (like the hot-key pre-flight above), not per
    // batch; batch callers execute once anyway and skip the extra job.
    // localCheckpoint carries the usual cluster caveat (executor loss
    // fails the query instead of recomputing — a long-lived deployment
    // swaps in reliable checkpoint() against a checkpoint dir, the
    // BpeTrain discipline)
    val versions =
      if (stream.isStreaming) versions0.localCheckpoint(true) else versions0
    // pre-project the left timestamp to a reserved alias: interpolating the
    // caller's column name raw into the lambda would mis-resolve for names
    // needing backticks or shadowed by the lambda variable
    val lbCond = lookbackSec.fold("")(lb => s" AND v.__rts >= __lts - $lb")
    val matched = stream
      .withColumn("__lts", col(leftTs).cast("long"))
      .join(versions, Seq(key), "left")
      .withColumn("__m", expr(
        s"try_element_at(filter(__vs, v -> v.__rts <= __lts$lbCond), -1)"))
    payload
      .foldLeft(matched)((d, c) => d.withColumn(c, col(s"__m.$c")))
      .drop("__vs", "__m", "__lts")
  }
}
