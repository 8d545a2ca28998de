package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.ml.LinUCB.{invertRowMajor, outerAccum, Feedback, Model}

/** A10/T9/T10: the streaming LinUCB trainer — the reference's
  * `KeyedProcessFunction` with `ValueState[A], ValueState[b]` and a
  * processing-time timer that inverts and emits once per 5 s per product
  * (`recsys-trainer/.../LinUCBUpdater.kt:28-131`) — as
  * `flatMapGroupsWithState` with `GroupState` + `ProcessingTimeTimeout`.
  *
  * State is flat `Array[Double]` (encoder-friendly; RocksDB/HDFS state
  * store serializes it without boxing). The update `A += x·xᵀ,
  * b += r·x` is identical to the batch-seed Aggregator's `reduce`, so
  * bootstrap-then-live (T13/S18) is: run [[graft.ml.LinUCB.seed]] over
  * history, hand its (A,b) in as `initialState`, continue streaming —
  * the semantic redesign of Flink's HybridSource documented in
  * SURVEY §7.3.
  */
object LinUCBStream {

  /** The trainer's model-emission cadence in ms; the event-time
    * trainer's watermark delay too. */
  val EmitEveryMs = 5000L

  /** Keyed training state: A (d×d row-major, starts at I), b, count,
    * plus the arm's absolute next-emission deadline (processing-time
    * ms; 0 = not yet scheduled). */
  case class ArmState(d: Int, a: Array[Double], b: Array[Double], n: Long,
                      dirty: Boolean, nextEmitMs: Long)

  object ArmState {
    def zero(d: Int): ArmState = {
      val a = new Array[Double](d * d)
      var i = 0
      while (i < d) { a(i * d + i) = 1.0; i += 1 }
      ArmState(d, a, new Array[Double](d), 0L, dirty = false, nextEmitMs = 0L)
    }

    def fromModelBuf(d: Int, a: Array[Double], b: Array[Double], n: Long): ArmState =
      ArmState(d, a.clone(), b.clone(), n, dirty = false, nextEmitMs = 0L)
  }

  /** The per-group state function. Emission policy mirrors the
    * reference's timer coalescing: models are NOT emitted per event but
    * once per `emitEveryMs` per arm (`LinUCBUpdater.kt:40,94-99`), and
    * only if the arm saw new data (`dirty`). With `emitEveryMs <= 0` it
    * emits on every invocation — the deterministic mode batch-vs-stream
    * tests use (timers depend on wall clock).
    *
    * Deadline discipline: Spark clears a group's registered timeout on
    * every invocation that carries data, so naively re-arming with
    * `setTimeoutDuration(emitEveryMs)` would SLIDE the deadline forever
    * for an arm receiving events in every micro-batch — it would never
    * emit. The state therefore carries the absolute `nextEmitMs`
    * deadline: data invocations re-arm the timeout to whatever remains
    * of the ORIGINAL deadline (and emit inline if it already passed,
    * covering the timers-lag-under-load case too). */
  def updateArm(dim: Int, emitEveryMs: Long)(
      productId: String, events: Iterator[Feedback],
      state: GroupState[ArmState]): Iterator[Model] = {

    def emit(s: ArmState): Model =
      Model(productId, invertRowMajor(s.a, s.d), s.b.clone(), s.d, s.n)

    if (state.hasTimedOut) {
      val s = state.get
      val now = state.getCurrentProcessingTimeMs()
      if (s.dirty) {
        state.setTimeoutDuration(emitEveryMs)
        state.update(s.copy(dirty = false, nextEmitMs = now + emitEveryMs))
        Iterator.single(emit(s))
      } else {
        // clean arm: go quiet — no re-arm, or a corpus of mostly-idle
        // arms would wake the state operator every interval forever.
        // The next data arrival re-schedules (and, with the deadline
        // already lapsed, emits inline).
        state.update(s.copy(nextEmitMs = 0L))
        Iterator.empty
      }
    } else {
      val s = state.getOption.getOrElse(ArmState.zero(dim))
      var n = s.n
      var saw = false
      events.foreach { f =>
        outerAccum(s.a, f.x)
        var i = 0
        while (i < dim) { s.b(i) += f.reward * f.x(i); i += 1 }
        n += 1
        saw = true
      }
      val dirty = s.dirty || saw
      if (emitEveryMs > 0) {
        val now = state.getCurrentProcessingTimeMs()
        if (s.nextEmitMs > 0 && now >= s.nextEmitMs && dirty) {
          // deadline already passed (timer was pre-empted by this data
          // batch): emit inline, start the next interval
          val upd = ArmState(dim, s.a, s.b, n, dirty = false, now + emitEveryMs)
          state.update(upd)
          state.setTimeoutDuration(emitEveryMs)
          Iterator.single(emit(upd))
        } else {
          val deadline = if (s.nextEmitMs > 0) s.nextEmitMs else now + emitEveryMs
          state.update(ArmState(dim, s.a, s.b, n, dirty, deadline))
          // re-arm to the REMAINDER of the original deadline, not a
          // fresh full interval
          state.setTimeoutDuration(math.max(1L, deadline - now))
          Iterator.empty
        }
      } else {
        state.update(ArmState(dim, s.a, s.b, n, dirty = false, 0L))
        Iterator.single(emit(ArmState(dim, s.a, s.b, n, dirty = false, 0L)))
      }
    }
  }

  /** [[Feedback]] with an event-time column — the input of the
    * event-time trainer ([[trainEventTime]]). */
  case class TimedFeedback(productId: String, x: Array[Double], reward: Double,
                           ts: java.sql.Timestamp)

  /** EVENT-time twin of [[updateArm]]: the arm's emission deadline is
    * `first-pending event time + delayMs`, fired when the WATERMARK
    * passes it — so emission content is a pure function of the event
    * history, not of wall clock or micro-batch boundaries. Replaying
    * the same events (any batching) converges to the same final model
    * per arm — the determinism ProcessingTimeTimeout cannot give
    * (spec-asserted: replayed stream ≡ batch seed). */
  def updateArmEventTime(dim: Int, delayMs: Long)(
      productId: String, events: Iterator[TimedFeedback],
      state: GroupState[ArmState]): Iterator[Model] = {

    def emit(s: ArmState): Model =
      Model(productId, invertRowMajor(s.a, s.d), s.b.clone(), s.d, s.n)

    if (state.hasTimedOut) {
      val s = state.get
      // deadline reached: emit the accumulation if anything is pending,
      // then go quiet (next data arrival re-schedules)
      state.update(s.copy(dirty = false, nextEmitMs = 0L))
      if (s.dirty) Iterator.single(emit(s)) else Iterator.empty
    } else {
      val s = state.getOption.getOrElse(ArmState.zero(dim))
      var n = s.n
      var saw = false
      var minTsMs = Long.MaxValue
      events.foreach { f =>
        outerAccum(s.a, f.x)
        var i = 0
        while (i < dim) { s.b(i) += f.reward * f.x(i); i += 1 }
        n += 1
        saw = true
        minTsMs = math.min(minTsMs, f.ts.getTime)
      }
      // keep the EARLIEST pending deadline (a steady event flow must not
      // slide emission forever — same discipline as the processing-time
      // form's nextEmitMs). Fresh arming uses the batch's MIN event time
      // so the deadline really is "first pending event + delay" — a
      // batch-max deadline would shift with micro-batch groupings.
      val deadline =
        if (s.nextEmitMs > 0) s.nextEmitMs
        else if (saw) minTsMs + delayMs
        else 0L
      state.update(ArmState(dim, s.a, s.b, n, s.dirty || saw, deadline))
      if (deadline > 0) {
        // event-time timers must sit strictly above the current watermark
        val wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(math.max(deadline, wm + 1))
      }
      Iterator.empty
    }
  }

  /** Event-time variant of [[train]]: watermark + EventTimeTimeout, so
    * the training emissions replay deterministically from a checkpoint
    * or a re-run (T11 discipline applied to the trainer). For
    * production state volume, pair with the RocksDB state store:
    * `spark.sql.streaming.stateStore.providerClass =
    * org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`
    * (runtime-settable; exercised by the replay spec). */
  def trainEventTime(feedback: Dataset[TimedFeedback], dim: Int): Dataset[Model] = {
    import feedback.sparkSession.implicits._
    // ONE knob: the watermark delay is the emission cadence that sets
    // the deadlines — the two disagreeing (watermark 60 s, deadlines
    // +5 s) would clamp every deadline to watermark+1 and emit on every
    // trigger.
    feedback.withWatermark("ts", s"$EmitEveryMs milliseconds")
      .groupByKey(_.productId)
      .flatMapGroupsWithState[ArmState, Model](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout())(
        updateArmEventTime(dim, EmitEveryMs))
  }

  /** Wire the stateful trainer onto a feedback stream. Output mode for
    * the query must be Update (state-emitting operator). */
  def train(feedback: Dataset[Feedback], dim: Int,
            emitEveryMs: Long = EmitEveryMs): Dataset[Model] = {
    import feedback.sparkSession.implicits._
    val timeout =
      if (emitEveryMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    feedback.groupByKey(_.productId)
      .flatMapGroupsWithState[ArmState, Model](
        OutputMode.Update(), timeout)(updateArm(dim, emitEveryMs))
  }

  /** S18/T13: bootstrap-then-live. Flink's HybridSource (bounded file →
    * unbounded Kafka, `recsys-trainer/.../ParameterUpdateJob.kt:43-61`)
    * has no Structured Streaming equivalent — SS cannot switch sources
    * mid-query. The semantic redesign (SURVEY §7.3): run the batch seed
    * over history, hand each arm's accumulated (A, b, n) to the stateful
    * operator as INITIAL STATE, then stream live events into it. The
    * update algebra is identical on both sides, so
    * seed(history) ⊕ stream(live) ≡ seed(history ++ live) — asserted by
    * spec.
    *
    * History-only arms: Spark invokes the state function once for every
    * initial-state key in the first batch (empty iterator). With
    * `emitEveryMs <= 0` that first invocation re-emits the seeded model
    * (cold arms reach the sink through the stream itself). With
    * `emitEveryMs > 0` a cold arm is not dirty, so it fires at most one
    * silent timer and goes quiet — publish the batch seed's models up
    * front (`store.upsert(LinUCB.seed(history, d), -1L)`) and let the
    * stream overwrite arms as live data arrives; the store's
    * latest-per-arm merge makes the two paths compose. */
  def trainWithBootstrap(history: Dataset[Feedback], live: Dataset[Feedback],
                         dim: Int, emitEveryMs: Long = EmitEveryMs): Dataset[Model] = {
    import live.sparkSession.implicits._
    val timeout =
      if (emitEveryMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    val initial = history.groupByKey(_.productId)
      .agg(new graft.ml.LinUCB.RawAggregator(dim).toColumn.name("buf"))
      .map { case (pid, buf) =>
        (pid, ArmState.fromModelBuf(dim, buf.a, buf.b, buf.n))
      }
      .groupByKey(_._1).mapValues(_._2)
    live.groupByKey(_.productId)
      .flatMapGroupsWithState[ArmState, Model](
        OutputMode.Update(), timeout, initial)(updateArm(dim, emitEveryMs))
  }
}
