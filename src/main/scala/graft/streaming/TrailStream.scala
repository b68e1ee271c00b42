package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.engine.TrailEngine
import graft.trck._
import graft.trck.Compiled.CompiledProgram
import graft.trck.Fsm.{Bindings, FsmState}
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

  /** The stream's side of the trail row codec, built once per task: a
    * group's rows arrive as external `Row`s of the projection (plus the
    * watermark column, which no encoder field reads) and become
    * `InternalRow`s for the one [[TrailEngine.TrailReader]]; its emit
    * `UnsafeRow`s go back out as `Row`s.
    */
  private final class RowCodec(
      prog: CompiledProgram,
      tuples: Vector[ForeachTuple],
      layout: TrailEngine.RowLayout,
      params: Bindings,
      fcalls: Map[String, Fsm.Fcall],
      winMap: Option[Map[String, IndexedSeq[LocalRunner.WindowEntry]]],
  ) extends Serializable {
    @transient lazy val reader = new TrailEngine.TrailReader(prog, tuples, layout, params, fcalls, winMap)
    @transient private lazy val serializer = ExpressionEncoder(layout.schema).createSerializer()
    @transient private lazy val deserializer =
      ExpressionEncoder(TrailEngine.emitSchema).resolveAndBind().createDeserializer()
    def toInternal(r: Row): InternalRow = serializer(r).copy()
    def toRow(r: InternalRow): Row = deserializer(r)
  }

  /** Wire a streaming events DataFrame (uuidCol, tsCol seconds, program
    * field columns) into the FSM. Returns the stream of emitted yield rows
    * in the batch engine's format, `(uuid, tuple_idx, kind, dst, item, n)`,
    * which TrckSparkRunner.aggregateEmits folds into [[graft.trck.Results]]
    * (a batch DataFrame of them: a memory sink's table, say). Rows go
    * through the batch engine's trail row codec:
    * [[graft.engine.TrailEngine.project]] (its
    * watermark column comes after the projection, so it never joins the
    * consecutive-duplicate compare), then the batch engine's
    * [[graft.engine.TrailEngine.TrailReader]] (one per task) reads each
    * cookie's micro-batch rows as `InternalRow`s: ordered by ts as the
    * batch engine orders a trail, consecutive duplicates dropped once,
    * replayed through [[graft.trck.TrailMatcher.runEntries]] with the
    * cookie's high-water mark as the min_ts cut.
    *
    * A foreach program needs `foreachTuples` that bind every foreach var
    * (alone or with `params`): a stream has no lexicon to sweep, and an
    * unbound var would make every `%var` predicate read false.
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
    * by marking filtered-out rows `__ghost`. (A cookie absent from a batch
    * is skipped, exactly as the reference skips window entries whose
    * cookie is not in the current DB's trail list.)
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
  ): DataFrame = {
    val unbound = prog.groupbyVars.filter { v =>
      val name = Ir.stripType(v)
      foreachTuples.exists { t =>
        val b = t.bind(prog.groupbyVars, params)
        !b.scalars.contains(name) && !b.sets.contains(name)
      }
    }
    require(unbound.isEmpty,
      s"foreach vars ${unbound.mkString(", ")} are unbound: a stream has no lexicon to " +
        "sweep, so pass foreachTuples (or params) that bind every foreach var")

    val spark = events.sparkSession
    import spark.implicits._

    val (projectedAll, layout) = TrailEngine.project(prog, events, uuidCol, tsCol)
    val codec = new RowCodec(prog, foreachTuples, layout, params, fcalls, TrailEngine.windowsByCookie(windows))
    val timed = projectedAll.withColumn("__eventTime", timestamp_seconds(col("__ts")))
    // window runs: unlisted trails never reach the stateful operator
    val listed = windows.fold(timed) { ws =>
      timed.join(broadcast(ws.map(_.cookie).distinct.toDF("__uuid")), Seq("__uuid"), "left_semi")
    }
    val projected =
      if (eventTimeGapSec > 0) listed.withWatermark("__eventTime", watermarkDelay) else listed

    // NoTimeout unless finalization is requested — with a timeout mode
    // enabled Spark schedules continuous timeout-check micro-batches even
    // when no state ever sets a timeout
    val timeoutMode =
      if (eventTimeGapSec > 0) GroupStateTimeout.EventTimeTimeout()
      else if (idleTimeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()

    projected
      .groupByKey((r: Row) => r.getString(0))(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append(), timeoutMode)(
        (uuid: String, rows: Iterator[Row], state: GroupState[TrailState]) => {
          val reader = codec.reader
          reader.out.clear()
          if (state.hasTimedOut) {
            // end-of-input analog: MAX_TIMESTAMP finalization, state dropped
            state.getOption.foreach(st => reader.finish(uuid, st.states.map(fromData(_, prog.nWindowRules))))
            state.remove()
          } else {
            // micro-batch = "next DB": every entry runs on its ts slice
            // above the high-water cut (LocalRunner's max(start, minTs)),
            // starting from the state the previous batch left; the reader
            // orders the batch's rows
            val prev = state.getOption
            val maxTs = prev.fold(0L)(_.maxTs)
            val batch = rows.map(codec.toInternal).toArray
            val out = reader.read(uuid, batch, batch.length,
              prev.fold(reader.initial)(_.states.map(fromData(_, prog.nWindowRules))), _ => maxTs)
            val newMax = batch.foldLeft(maxTs)((m, r) => math.max(m, r.getLong(1)))
            state.update(TrailState(out.map(toData), newMax))
            if (eventTimeGapSec > 0)
              // fire when the watermark passes last-event + gap; clamp above
              // the current watermark (Spark rejects timeouts at/behind it)
              state.setTimeoutTimestamp(
                math.max((newMax + eventTimeGapSec) * 1000L, state.getCurrentWatermarkMs() + 1L))
            else if (idleTimeoutMs > 0) state.setTimeoutDuration(idleTimeoutMs)
          }
          // copied out: the next group refills the task's one reader
          reader.out.iterator.map(codec.toRow).toArray.iterator
        }
      )(Encoders.product[TrailState], TrailEngine.emitEncoder)
  }

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
