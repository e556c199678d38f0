package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Keyed event record used by the stateful streaming operators — the
  * Spark re-expression of the reference's `ParsedMessage { key, value }`
  * (reference src/lib.rs:19-23) with an explicit event time.
  */
final case class KeyedEvent(key: Long, tsUs: Long, value: Double)

/** Emitted by the stateful lag window: the last `n` values for `key`,
  * oldest→newest, emitted on each arrival once the buffer is full
  * (reference src/window.rs:9-41 `lag_window`).
  */
final case class LagWindowOut(key: Long, tsUs: Long, values: Seq[Double])

/** Changelog-compacted latest value per key (reference src/table.rs:17-45
  * `Table::spawn` — the KTable).
  */
final case class TableLatest(key: Long, tsUs: Long, value: Double)

/** One OHLC candle being built / closed by the streaming candle+strat
  * pipeline (reference example/stocks.rs Candle).
  */
final case class StreamCandle(key: Long, wsUs: Long,
    open: Double, high: Double, low: Double, close: Double)

/** Strat classification of a closed candle vs its predecessor
  * (reference example/stocks.rs:259-285): 1=Inside 2=Up 3=Down 4=Outside.
  */
final case class StratOut(key: Long, wsUs: Long, stratClass: Int)

/** Per-key state of the candle+strat pipeline: the candle currently
  * filling and the last closed candle.
  */
final case class CandleState(current: Option[StreamCandle], prev: Option[StreamCandle])

/** Structured Streaming parity layer: the reference is a *stream*
  * processor, so every batch operator in graft.operators has a
  * streaming twin here. Batch results are the ground truth; the
  * StreamingParitySpec asserts the two agree on the same data.
  *
  * State lives in the Spark state store (the reference's KVStore,
  * src/store.rs:8-17); watermarks bound it — the streaming analogue of
  * the reference's high-water-mark eviction (src/join.rs:56-77).
  */
object StreamingOps {

  /** Watermarked tumbling window aggregation (reference src/window.rs:43-93). */
  def tumbling(stream: DataFrame, tsCol: String, keys: Seq[String], size: String,
      watermark: String)(aggs: Column*): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), size) +: keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("window_start", col("window.start"))
      .withColumn("window_end", col("window.end"))
      .drop("window")

  /** Watermarked hopping window aggregation (reference src/window.rs:95-180). */
  def hopping(stream: DataFrame, tsCol: String, keys: Seq[String], size: String, hop: String,
      watermark: String)(aggs: Column*): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), size, hop) +: keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("window_start", col("window.start"))
      .withColumn("window_end", col("window.end"))
      .drop("window")

  /** Watermarked session window with inactivity gap. */
  def session(stream: DataFrame, tsCol: String, keys: Seq[String], gap: String,
      watermark: String)(aggs: Column*): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap) +: keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("session_start", col("session_window.start"))
      .withColumn("session_end", col("session_window.end"))
      .drop("session_window")

  /** Changelog table — latest value per key, updated per micro-batch
    * (reference src/table.rs:17-45). Use OutputMode.Update; the sink's
    * latest row per key IS the table snapshot.
    */
  def tableLatest(stream: Dataset[KeyedEvent]): Dataset[TableLatest] = {
    implicit val outEnc = Encoders.product[TableLatest]
    stream.groupByKey(_.key)(Encoders.scalaLong)
      .mapGroupsWithState[TableLatest, TableLatest](GroupStateTimeout.NoTimeout) {
        (key: Long, events: Iterator[KeyedEvent], state: GroupState[TableLatest]) =>
          val incoming = events.maxBy(e => (e.tsUs, e.value))
          // tie on tsUs resolves by value BOTH within a batch and against
          // existing state — the result must not depend on micro-batch
          // boundaries (replay after checkpoint recovery re-splits them)
          val best = state.getOption match {
            case Some(cur) if cur.tsUs > incoming.tsUs ||
              (cur.tsUs == incoming.tsUs && cur.value >= incoming.value) => cur
            case _ => TableLatest(key, incoming.tsUs, incoming.value)
          }
          state.update(best)
          best
      }
  }

  /** Count-based per-key sliding window of the last `n` values
    * (reference src/window.rs:9-41): emits the full buffer on every
    * event once `n` values have arrived. Event-time ordering within a
    * key is the arrival order of micro-batches (the reference makes
    * the same single-stream in-order assumption); within a batch we
    * sort by event time.
    */
  /** Lag-window ring buffer state (schema'd product encoder — unlike a
    * kryo blob, the state store stays introspectable and evolvable).
    */
  final case class LagBuf(values: Seq[Double])

  def lagWindow(stream: Dataset[KeyedEvent], n: Int): Dataset[LagWindowOut] = {
    require(n >= 2, "lag window needs n >= 2")
    implicit val outEnc = Encoders.product[LagWindowOut]
    implicit val stEnc = Encoders.product[LagBuf]
    stream.groupByKey(_.key)(Encoders.scalaLong)
      .flatMapGroupsWithState[LagBuf, LagWindowOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: Long, events: Iterator[KeyedEvent], state: GroupState[LagBuf]) =>
          var buf = state.getOption.map(_.values.toList).getOrElse(Nil) // newest first
          val out = scala.collection.mutable.ArrayBuffer.empty[LagWindowOut]
          events.toSeq.sortBy(e => (e.tsUs, e.value)).foreach { e =>
            buf = (e.value :: buf).take(n)
            if (buf.size == n) out += LagWindowOut(key, e.tsUs, buf.reverse)
          }
          state.update(LagBuf(buf))
          out.iterator
      }
  }

  /** A KeyedEvent tagged with its per-key arrival sequence number. */
  final case class SeqEvent(key: Long, tsUs: Long, value: Double, seq: Long)

  /** Per-key running counter state. */
  final case class SeqState(next: Long)

  /** Streaming per-key sequence numbers (1-based, event-time order
    * within a batch, monotone across batches) — the single stateful
    * primitive behind the reference's count-based combinators: in
    * batch they are `row_number()`; in streaming derive
    *   throttle(n): filter(_.seq % n == 1)
    *   skip(a).take(b): filter(e => e.seq > a && e.seq <= a + b)
    *   chunk(n): withColumn(chunk_id = (seq-1) / n).
    */
  def seqNumbers(stream: Dataset[KeyedEvent]): Dataset[SeqEvent] = {
    implicit val outEnc = Encoders.product[SeqEvent]
    implicit val stEnc = Encoders.product[SeqState]
    stream.groupByKey(_.key)(Encoders.scalaLong)
      .flatMapGroupsWithState[SeqState, SeqEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: Long, events: Iterator[KeyedEvent], state: GroupState[SeqState]) =>
          var next = state.getOption.map(_.next).getOrElse(1L)
          val out = events.toSeq.sortBy(e => (e.tsUs, e.value)).map { e =>
            val s = SeqEvent(e.key, e.tsUs, e.value, next)
            next += 1
            s
          }
          state.update(SeqState(next))
          out.iterator
      }
  }

  /** One emitted chunk: `values` in event-time order, `n` = size
    * (`n < maxSize` marks a timeout-flushed partial chunk).
    */
  final case class ChunkOut(key: Long, chunkId: Long, n: Int,
      firstTsUs: Long, lastTsUs: Long, values: Seq[Double])

  /** Per-key open-chunk state: the id counter + the filling buffer. */
  final case class ChunkTState(chunkId: Long, firstTs: Long, lastTs: Long,
      values: Seq[Double])

  /** Size-OR-timeout chunking — the reference's
    * `StreamExt::chunks_timeout(n, dur)` (part of the tokio-stream
    * StreamExt surface the reference README lists as inherited
    * capability), re-expressed per key in EVENT time: a chunk closes
    * when it holds `maxSize` events,
    * OR `timeoutUs` of event time passes since its first event —
    * whichever first — so a slow key still flushes a partial chunk.
    *
    * Split-invariant semantics (identical output for ANY micro-batch
    * split of an in-order stream): an event at `ts > firstTs +
    * timeoutUs` first closes the open chunk as partial, then starts
    * the next one — the expiry is decided in event time, never by
    * which micro-batch happened to carry the event. The event-time
    * timer (`GroupStateTimeout.EventTimeTimeout`, armed at `firstTs +
    * timeoutUs`) covers the key-goes-silent tail: when the WATERMARK
    * passes the open chunk's deadline the partial flushes without
    * waiting for the key's next event — emission lag is bounded by the
    * watermark delay, not per-key traffic. State is one small buffer
    * (≤ maxSize doubles) per key, so key cardinality scales freely.
    */
  def chunksTimeout(stream: Dataset[KeyedEvent], maxSize: Int, timeoutUs: Long,
      delay: String = "0 seconds"): Dataset[ChunkOut] = {
    require(maxSize >= 1, s"chunk size must be positive, got $maxSize")
    // the event-time timer has MILLISECOND granularity; a sub-ms
    // timeout would truncate to an always-due timer
    require(timeoutUs >= 1000,
      s"chunk timeout must be >= 1000 us (event-time timers are ms-granular), got $timeoutUs")
    implicit val outEnc = Encoders.product[ChunkOut]
    implicit val stEnc = Encoders.product[ChunkTState]
    implicit val evEnc = Encoders.product[TsEvent]
    stream.toDF()
      .withColumn("ts", timestamp_micros(col("tsUs")))
      .withWatermark("ts", delay)
      .as[TsEvent]
      .groupByKey(_.key)(Encoders.scalaLong)
      .flatMapGroupsWithState[ChunkTState, ChunkOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (key: Long, events: Iterator[TsEvent], state: GroupState[ChunkTState]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[ChunkOut]
          var st = state.getOption.orNull
          def flush(): Unit = if (st != null && st.values.nonEmpty) {
            out += ChunkOut(key, st.chunkId, st.values.size, st.firstTs, st.lastTs, st.values)
            st = ChunkTState(st.chunkId + 1, 0L, 0L, Seq.empty)
          }
          if (state.hasTimedOut) {
            flush() // watermark passed firstTs + timeout: the partial goes out
            state.update(st) // keep the id counter; no timer until the next event
          } else {
            events.toSeq.sortBy(e => (e.tsUs, e.value)).foreach { e =>
              if (st == null) st = ChunkTState(1L, 0L, 0L, Seq.empty)
              // event-time expiry: close the open chunk BEFORE consuming an
              // event beyond its deadline (micro-batch-split-invariant)
              if (st.values.nonEmpty && e.tsUs > st.firstTs + timeoutUs) flush()
              st =
                if (st.values.isEmpty) st.copy(firstTs = e.tsUs, lastTs = e.tsUs, values = Seq(e.value))
                else st.copy(lastTs = e.tsUs, values = st.values :+ e.value)
              if (st.values.size >= maxSize) flush()
            }
            if (st != null) {
              state.update(st)
              // ceil to the next ms so the timer NEVER fires before the
              // µs-exact deadline the event path enforces (floor/floor
              // could close a chunk up to ~1 ms early on watermark flush)
              if (st.values.nonEmpty) state.setTimeoutTimestamp(math.max(
                (st.firstTs + timeoutUs + 999L) / 1000L, state.getCurrentWatermarkMs() + 1))
            }
          }
          out.iterator
      }
  }

  /** A KeyedEvent tagged with its session index and position (the
    * streaming twin of operators.Keyed.sessionize's output).
    */
  final case class SessionEvent(key: Long, tsUs: Long, value: Double,
      sessionIdx: Long, pos: Long)

  /** Per-key sessionizer state: last event time + current counters. */
  final case class SessState(lastTs: Long, idx: Long, pos: Long)

  /** Streaming per-event session ASSIGNMENT — the stateful twin of
    * operators.Keyed.sessionize: a new session starts at a key's first
    * event or after an event-time gap `> gapUs`. State is THREE longs
    * per key (last timestamp + counters), so key cardinality scales
    * freely and the assignment is identical for ANY micro-batch
    * split of an in-order stream (the state carries exactly the
    * quantities the batch window derives from the previous row —
    * split-invariance is property-tested across batchings in
    * StreamingParitySpec). Within a batch, events order by
    * (tsUs, value) like every order-dependent operator here.
    */
  def sessionize(stream: Dataset[KeyedEvent], gapUs: Long): Dataset[SessionEvent] = {
    require(gapUs > 0, s"session gap must be positive, got $gapUs")
    implicit val outEnc = Encoders.product[SessionEvent]
    implicit val stEnc = Encoders.product[SessState]
    stream.groupByKey(_.key)(Encoders.scalaLong)
      .flatMapGroupsWithState[SessState, SessionEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: Long, events: Iterator[KeyedEvent], state: GroupState[SessState]) =>
          var st = state.getOption.getOrElse(SessState(0L, 0L, 0L))
          val out = events.toSeq.sortBy(e => (e.tsUs, e.value)).map { e =>
            st =
              if (st.idx == 0L || e.tsUs - st.lastTs > gapUs)
                SessState(e.tsUs, st.idx + 1, 1L)
              else SessState(e.tsUs, st.idx, st.pos + 1)
            SessionEvent(e.key, e.tsUs, e.value, st.idx, st.pos)
          }
          state.update(st)
          out.iterator
      }
  }

  /** TIME-BASED throttle — the reference's StreamExt::throttle
    * (tokio-stream duration rate limiting) re-expressed per key in
    * event time: an event is emitted iff at least `intervalUs` has
    * elapsed since the key's last EMITTED event; closer arrivals drop.
    * The greedy emit-then-arm rule matches tokio's throttle (the first
    * element passes immediately and re-arms the interval). State is
    * ONE timestamp per key (same shape as [[interArrival]]), so key
    * cardinality scales freely; within a batch events order by
    * (tsUs, value) like every order-dependent operator here, and the
    * last-emit timestamp survives micro-batch boundaries and restarts
    * via the state store. Parity with a greedy batch walk is under
    * test in StreamingParitySpec.
    *
    * Count-based throttle (the reference's every-nth) stays the
    * [[seqNumbers]] derivation; this is the wall-clock variant SURVEY
    * row 14b previously waved to trigger intervals.
    */
  def throttleTime(stream: Dataset[KeyedEvent], intervalUs: Long): Dataset[KeyedEvent] = {
    require(intervalUs > 0, s"throttle interval must be positive, got $intervalUs")
    implicit val outEnc = Encoders.product[KeyedEvent]
    implicit val stEnc = Encoders.product[LastTs]
    stream.groupByKey(_.key)(Encoders.scalaLong)
      .flatMapGroupsWithState[LastTs, KeyedEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: Long, events: Iterator[KeyedEvent], state: GroupState[LastTs]) =>
          // Long.MinValue = nothing emitted yet for this key
          var lastEmit = state.getOption.map(_.tsUs).getOrElse(Long.MinValue)
          val out = events.toSeq.sortBy(e => (e.tsUs, e.value)).flatMap { e =>
            if (lastEmit == Long.MinValue || e.tsUs - lastEmit >= intervalUs) {
              lastEmit = e.tsUs
              Some(e)
            } else None
          }
          state.update(LastTs(lastEmit))
          out.iterator
      }
  }

  /** A KeyedEvent with its event-time gap (micros) to the previous
    * event of the same key; gapUs = -1 marks the key's first event.
    */
  final case class GapEvent(key: Long, tsUs: Long, gapUs: Long)

  /** Per-key last-seen event time. */
  final case class LastTs(tsUs: Long)

  /** Streaming inter-arrival monitor — the live twin of the batch
    * q_interarrival lag: every event emits its event-time gap to its
    * key's previous event (the input to stream-health aggregation — a
    * collapsing gap distribution means a hot key, a stretching one a
    * stalled producer). State is ONE long per key, so cardinality
    * scales to 100 TB key counts trivially; within a batch events sort
    * by (tsUs, value) like every order-dependent operator here, and
    * the last-seen timestamp survives restarts via the state store.
    */
  def interArrival(stream: Dataset[KeyedEvent]): Dataset[GapEvent] = {
    implicit val outEnc = Encoders.product[GapEvent]
    implicit val stEnc = Encoders.product[LastTs]
    stream.groupByKey(_.key)(Encoders.scalaLong)
      .flatMapGroupsWithState[LastTs, GapEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: Long, events: Iterator[KeyedEvent], state: GroupState[LastTs]) =>
          var last = state.getOption.map(_.tsUs).getOrElse(-1L)
          val out = events.toSeq.sortBy(e => (e.tsUs, e.value)).map { e =>
            val g = if (last < 0) -1L else e.tsUs - last
            last = e.tsUs
            GapEvent(key, e.tsUs, g)
          }
          state.update(LastTs(last))
          out.iterator
      }
  }

  /** A key's silence alarm: the key's last event before the silence
    * and the deadline (lastSeen + timeout) that passed without one.
    */
  final case class StallEvent(key: Long, lastSeenTsUs: Long, deadlineUs: Long)

  /** Per-key stall-monitor state: last-seen event time + whether the
    * CURRENT silence period already raised its alarm (the timer and
    * the next event's gap check would otherwise both emit one).
    */
  final case class StallState(lastTs: Long, stallEmitted: Boolean)

  /** Per-key silence / timeout monitor — the reference's
    * `StreamExt::timeout(d)` (src/lib.rs: each `next()` races a
    * duration and yields an Elapsed error when the stream stays
    * silent), re-expressed per key in EVENT time: when a key goes
    * `> timeoutUs` without an event, ONE [[StallEvent]] goes out for
    * that silence period. Tokio's poll-level semantics would re-raise
    * every `d` while silence continues; a distributed monitor wants
    * the deduplicated edge signal, so the alarm raises once per
    * silence and re-arms on the key's next event.
    *
    * Emission is two-path with identical record content, so output is
    * a pure function of the tape (micro-batch-split-invariant, under
    * test in StreamingParitySpec):
    *  - the TIMER path (`GroupStateTimeout.EventTimeTimeout`, armed at
    *    lastSeen + timeout like [[chunksTimeout]]'s tail flush) fires
    *    when the WATERMARK passes the deadline — a genuinely dead key
    *    alarms with lag bounded by the watermark delay, never waiting
    *    for its own next event;
    *  - the EVENT path raises the same record when the next event
    *    itself arrives beyond the deadline before the watermark got
    *    there (and `stallEmitted` dedupes against a fired timer).
    * The record carries (lastSeen, deadline), deliberately NOT the
    * closing gap — that would differ between an open (timer) and a
    * closed (event) emission and break invariance.
    *
    * State is two small fields per key, so key cardinality scales
    * freely; within a batch events order by (tsUs, value) like every
    * order-dependent operator here.
    */
  def timeoutMonitor(stream: Dataset[KeyedEvent], timeoutUs: Long,
      delay: String = "0 seconds"): Dataset[StallEvent] = {
    // ms-granular event-time timers, same floor as chunksTimeout
    require(timeoutUs >= 1000,
      s"timeout must be >= 1000 us (event-time timers are ms-granular), got $timeoutUs")
    implicit val outEnc = Encoders.product[StallEvent]
    implicit val stEnc = Encoders.product[StallState]
    implicit val evEnc = Encoders.product[TsEvent]
    stream.toDF()
      .withColumn("ts", timestamp_micros(col("tsUs")))
      .withWatermark("ts", delay)
      .as[TsEvent]
      .groupByKey(_.key)(Encoders.scalaLong)
      .flatMapGroupsWithState[StallState, StallEvent](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (key: Long, events: Iterator[TsEvent], state: GroupState[StallState]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[StallEvent]
          if (state.hasTimedOut) {
            val st = state.get
            if (!st.stallEmitted) out += StallEvent(key, st.lastTs, st.lastTs + timeoutUs)
            // no re-arm: one alarm per silence; the key's next event resets
            state.update(st.copy(stallEmitted = true))
          } else {
            // first-ever event raises nothing (stallEmitted starts true)
            var st = state.getOption.getOrElse(StallState(-1L, true))
            events.toSeq.sortBy(e => (e.tsUs, e.value)).foreach { e =>
              if (st.lastTs >= 0 && e.tsUs - st.lastTs > timeoutUs && !st.stallEmitted)
                out += StallEvent(key, st.lastTs, st.lastTs + timeoutUs)
              st = StallState(math.max(st.lastTs, e.tsUs), stallEmitted = false)
            }
            state.update(st)
            // ceil to the next ms so the timer NEVER fires before the
            // µs-exact deadline the event path enforces (chunksTimeout's
            // rule); clamp above the current watermark or Spark rejects it
            if (!st.stallEmitted) state.setTimeoutTimestamp(math.max(
              (st.lastTs + timeoutUs + 999L) / 1000L, state.getCurrentWatermarkMs() + 1))
          }
          out.iterator
      }
  }

  /** A touch (click) or conversion (purchase) event on one key. */
  final case class TouchEvent(key: Long, tsUs: Long, isTouch: Boolean)

  /** A conversion with its attribution: the latest touch at-or-before
    * it (touchTsUs = -1 when none), and whether the gap fit the window.
    */
  final case class AttributionOut(key: Long, tsUs: Long, touchTsUs: Long, attributed: Boolean)

  /** Per-key last-touch timestamp. */
  final case class LastTouch(tsUs: Long)

  /** Streaming LAST-TOUCH ATTRIBUTION — the live twin of the batch
    * q_attribution as-of composition: one merged stream of touches and
    * conversions per key, one long of state (the latest touch), each
    * conversion emitted with its attribution immediately. Within a
    * batch, events order by (tsUs, touches-first) so a touch at the
    * conversion's exact timestamp attributes (the batch as-of join's
    * inclusive <= semantics); across batches the state store carries
    * the last touch. Parity with the batch asofJoin is under test.
    */
  def lastTouch(stream: Dataset[TouchEvent], windowUs: Long): Dataset[AttributionOut] = {
    implicit val outEnc = Encoders.product[AttributionOut]
    implicit val stEnc = Encoders.product[LastTouch]
    stream.groupByKey(_.key)(Encoders.scalaLong)
      .flatMapGroupsWithState[LastTouch, AttributionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: Long, events: Iterator[TouchEvent], state: GroupState[LastTouch]) =>
          var last = state.getOption.map(_.tsUs).getOrElse(-1L)
          val out = scala.collection.mutable.ArrayBuffer.empty[AttributionOut]
          events.toSeq.sortBy(e => (e.tsUs, if (e.isTouch) 0 else 1)).foreach { e =>
            if (e.isTouch) last = e.tsUs
            else out += AttributionOut(key, e.tsUs, last,
              last >= 0 && e.tsUs - last <= windowUs)
          }
          state.update(LastTouch(last))
          out.iterator
      }
  }

  /** One heavy-hitter counter emitted by the streaming sketch, tagged
    * with how many items its group had seen at emission time (so a
    * consumer can pick the latest emission per group).
    */
  final case class HHEntry(group: String, token: String, estCount: Long, nSeen: Long)

  /** Misra-Gries sketch state: k counters + items-seen. */
  final case class MGState(counts: Map[String, Long], n: Long)

  /** Streaming heavy hitters per group — the live twin of the batch
    * q_heavy_hitters query, REUSING functions.MisraGries's reduce/merge
    * kernel, so batch and streaming share one sketch implementation
    * and one error bound (presence above n/k, undercount ≤ n/k —
    * asserted against exact counts in StreamingParitySpec, with the
    * merge-tree property test in KernelPropertySpec). State is k
    * counters per group no matter how many distinct tokens stream
    * through; each micro-batch folds its tokens into the state and
    * re-emits the current sketch (Update-mode semantics).
    */
  def heavyHitters(stream: Dataset[(String, String)], k: Int): Dataset[HHEntry] = {
    val mg = new graft.functions.MisraGries(k)
    implicit val outEnc = Encoders.product[HHEntry]
    implicit val stEnc = Encoders.product[MGState]
    stream.groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[MGState, HHEntry](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (group: String, items: Iterator[(String, String)], state: GroupState[MGState]) =>
          val st = state.getOption.getOrElse(MGState(Map.empty, 0L))
          var counts = st.counts
          var n = st.n
          items.foreach { case (_, tok) => counts = mg.reduce(counts, tok); n += 1 }
          state.update(MGState(counts, n))
          mg.finish(counts).iterator.map { case (tok, c) => HHEntry(group, tok, c, n) }
      }
  }

  /** One Count-Min probe estimate emitted by the streaming sketch. */
  final case class CmsEntry(group: String, token: String, estCount: Long, nSeen: Long)

  /** Count-Min sketch state: the flat depth×width counter matrix + items seen. */
  final case class CmsState(counters: Array[Long], n: Long)

  /** Streaming Count-Min frequency estimates per group — the live twin
    * of the batch q_cms_freq query, REUSING functions.CountMin's
    * reduce kernel. Because CM merge is elementwise sum (associative +
    * commutative), the streaming sketch is EXACTLY the batch sketch on
    * the same data no matter how micro-batches fall — asserted as
    * exact equality in StreamingParitySpec (a stronger parity than the
    * merge-order-dependent MG twin can offer). State is one
    * depth×width long array per group; each micro-batch folds its
    * tokens in and re-emits the probe-key estimates (Update-mode).
    */
  def cmsFreq(stream: Dataset[(String, String)], depth: Int, width: Int,
      probes: Seq[String]): Dataset[CmsEntry] = {
    val cm = new graft.functions.CountMin(depth, width)
    implicit val outEnc = Encoders.product[CmsEntry]
    implicit val stEnc = Encoders.product[CmsState]
    stream.groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[CmsState, CmsEntry](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (group: String, items: Iterator[(String, String)], state: GroupState[CmsState]) =>
          val st = state.getOption.getOrElse(CmsState(new Array[Long](depth * width), 0L))
          val counters = st.counters.clone()
          var n = st.n
          items.foreach { case (_, tok) => cm.reduce(counters, tok); n += 1 }
          state.update(CmsState(counters, n))
          probes.iterator.map(tok => CmsEntry(group, tok, cm.estimate(counters, tok), n))
      }
  }

  /** One weighted-sample member emitted by the streaming sampler. */
  final case class WSampleEntry(group: String, id: Long, weight: Long, priority: Long, rank: Long)

  /** Weighted-sample state: the current k smallest (priority, id, weight). */
  final case class WSampleState(entries: Seq[(Long, Long, Long)])

  /** Streaming deterministic WEIGHTED sampling — the live twin of the
    * batch q_weighted_sample query (integer priority sampling:
    * priority = 60-bit md5 hash of the id div weight, keep the k
    * smallest (priority, id) per group). Priorities are a pure
    * function of (id, weight), and top-k is ORDER-INDEPENDENT over
    * distinct ids, so the streaming sample EXACTLY equals the batch
    * sample on the same rows for ANY micro-batch boundaries (asserted
    * in StreamingParitySpec). State is ≤ k entries per group; each
    * batch folds its rows in and re-emits the current ranked sample
    * (Update-mode). Re-delivered rows collapse via the id-keyed merge.
    */
  def weightedSampleIncremental(stream: Dataset[(String, Long, Long)],
      k: Int): Dataset[WSampleEntry] = {
    implicit val outEnc = Encoders.product[WSampleEntry]
    implicit val stEnc = Encoders.product[WSampleState]
    stream.groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[WSampleState, WSampleEntry](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (group: String, items: Iterator[(String, Long, Long)], state: GroupState[WSampleState]) =>
          val prev = state.getOption.map(_.entries).getOrElse(Seq.empty)
          val merged = (prev.iterator ++ items.map { case (_, id, w) =>
            val ww = math.max(w, 1L)
            (graft.functions.Sketches.tokenHash60(id.toString) / ww, id, ww)
          }).toSeq
            .groupBy(_._2).values.map(_.head).toSeq // re-delivery collapses by id
            .sortBy(e => (e._1, e._2)).take(k)
          state.update(WSampleState(merged))
          merged.iterator.zipWithIndex.map { case ((pr, id, w), i) =>
            WSampleEntry(group, id, w, pr, i + 1L)
          }
      }
  }

  /** Streaming exact higher-moment sufficient statistics per key — the
    * live twin of the batch `q_moments` query. The power sums n, Σx,
    * Σx², Σx³, Σx⁴ (x in integer cents, sums in DECIMAL(38,0)) are
    * associative and commutative, so the streaming aggregation STATE is
    * itself the shipped answer: any micro-batching folds into identical
    * sums, with zero float drift (asserted batching-invariant in
    * StreamingParitySpec). The central-moment numerators
    * m2num = n·S2 − S1² and m3num = n²·S3 − 3n·S2·S1 + 2·S1³ and the
    * skew sign are stateless projections of that state, recomputed per
    * emission. Complete/Update output; state is 5 numbers per key.
    *
    * `valueCentsCol` must already be exact integer cents (long).
    * Exactness domain: Σx⁴ must fit DECIMAL(38,0), so
    * |cents| ≲ (10³⁸/n)^¼ — about 3.16e9 for one row, 1.78e9 at
    * n = 10⁹ (the SUM domain, not just the per-element one, bounds
    * the usable range; asserted in Round13OpsSpec). Beyond it the
    * decimal-sum overflow FAILS the query loudly (ANSI arithmetic
    * error) rather than wrapping — squaring is done IN decimal
    * precisely so no silent long×long wrap can precede that check,
    * and S1 too is summed IN decimal (a plain long sum would wrap
    * silently once n·|cents| passes 2^63, which a long-lived stream
    * reaches long before the per-element domain does).
    */
  def moments(stream: DataFrame, keyCol: String, valueCentsCol: String): DataFrame = {
    val d38 = "decimal(38,0)"
    stream
      .select(col(keyCol).as("k"), col(valueCentsCol).cast("long").as("__x"))
      // x² in decimal, not long: a long×long square wraps from
      // |cents| ≈ 3.04e9 and would silently poison the exact state
      .withColumn("__x2", (col("__x").cast(d38) * col("__x")).cast(d38))
      .groupBy("k")
      .agg(count(lit(1)).as("n"),
        sum(col("__x").cast(d38)).as("s1"),
        sum(col("__x2").cast(d38)).as("s2"),
        sum((col("__x2").cast(d38) * col("__x")).cast(d38)).as("s3"),
        sum((col("__x2").cast(d38) * col("__x2")).cast(d38)).as("s4"))
      .withColumn("m2num",
        expr(s"cast(cast(n as $d38) * s2 - s1 * s1 as $d38)"))
      .withColumn("m3num",
        expr(s"""cast(cast(n as $d38) * cast(n as $d38) * s3
                  - 3 * cast(n as $d38) * s2 * s1
                  + 2 * s1 * s1 * s1 as $d38)"""))
      .withColumn("skew_sign", signum(col("m3num")).cast("long"))
  }

  /** Streaming per-key approximate-distinct via DataSketches HLL —
    * the live twin of the batch `q_hll_rollup` sketch build: the HLL
    * register state is the streaming aggregation state, and register
    * max (the HLL merge) is commutative/associative and idempotent, so
    * ANY micro-batching — including at-least-once replays of whole
    * batches — folds to the identical sketch and estimate
    * (batching-invariance + batch-equality asserted in
    * StreamingParitySpec). Complete/Update output; state is one
    * bounded sketch (lgK=12 → ≤ 4 KiB) per key regardless of stream
    * length — the live dashboard's "distinct so far" at any corpus
    * rate.
    */
  def hllDistinct(stream: DataFrame, keyCol: String, tokenCol: String): DataFrame =
    stream.groupBy(col(keyCol))
      .agg(hll_sketch_estimate(hll_sketch_agg(col(tokenCol))).as("est_distinct"))

  /** One typed event of the streaming funnel. */
  final case class FunnelEvent(userId: Long, tsUs: Long, eventType: String)

  /** A user's first arrival at a funnel stage (1 = signup,
    * 2 = click-after-signup, 3 = purchase-after-click) — emitted at
    * most once per (user, stage), so stage counts are exact distinct-
    * user counts by construction.
    */
  final case class FunnelTransition(userId: Long, stage: Int, tsUs: Long)

  /** Per-user funnel progress: Long.MinValue marks a stage not yet
    * reached.
    */
  final case class FunnelState(sTs: Long, cTs: Long, converted: Boolean)

  /** Streaming ordered-funnel twin of the batch `q_funnel`: per user,
    * the FIRST signup, the FIRST later click, and ANY later purchase
    * each emit one transition row the moment they happen — the live
    * view whose per-stage distinct-user counts equal the batch query's
    * stage counts on the same (in-order) tape (asserted, with
    * micro-batch-split invariance, in StreamingParitySpec). Strict
    * event-time ordering matches the batch semantics: a click at the
    * signup's exact timestamp does not qualify. State is two
    * timestamps and a flag per user; output is append-only and bounded
    * by 3 rows per user ever.
    */
  def funnel(stream: Dataset[FunnelEvent]): Dataset[FunnelTransition] = {
    implicit val outEnc = Encoders.product[FunnelTransition]
    implicit val stEnc = Encoders.product[FunnelState]
    val unset = Long.MinValue
    stream.groupByKey(_.userId)(Encoders.scalaLong)
      .flatMapGroupsWithState[FunnelState, FunnelTransition](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, events: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(unset, unset, converted = false))
          val out = events.toSeq.sortBy(e => (e.tsUs, e.eventType)).flatMap { e =>
            e.eventType match {
              case "signup" if st.sTs == unset =>
                st = st.copy(sTs = e.tsUs)
                Some(FunnelTransition(uid, 1, e.tsUs))
              case "click" if st.sTs != unset && st.cTs == unset && e.tsUs > st.sTs =>
                st = st.copy(cTs = e.tsUs)
                Some(FunnelTransition(uid, 2, e.tsUs))
              case "purchase" if st.cTs != unset && !st.converted && e.tsUs > st.cTs =>
                st = st.copy(converted = true)
                Some(FunnelTransition(uid, 3, e.tsUs))
              case _ => None
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** A KeyedEvent carrying its per-key running fold: event index and
    * exact running cents sum (the streaming scan).
    */
  final case class RunEvent(key: Long, tsUs: Long, value: Double, seq: Long, runCents: Long)

  /** Per-key running-fold state: next index + accumulated cents. */
  final case class RunState(next: Long, cents: Long)

  /** Streaming per-key running fold / scan (reference StreamExt::fold,
    * src/lib.rs:11-13, observed mid-stream): emits every event with its
    * per-key index and exact running sum in integer cents — the
    * streaming twin of the batch `q_running_stats` cumulative frame.
    * Cents stay exact longs (value is exact to 2 decimals), so
    * replaying batches of any size produces identical sums — no float
    * accumulation drift in state. Cross-batch ordering is arrival order
    * (the reference's single-stream in-order assumption, as lagWindow);
    * within a batch events sort by (tsUs, value).
    */
  def runningFold(stream: Dataset[KeyedEvent]): Dataset[RunEvent] = {
    implicit val outEnc = Encoders.product[RunEvent]
    implicit val stEnc = Encoders.product[RunState]
    stream.groupByKey(_.key)(Encoders.scalaLong)
      .flatMapGroupsWithState[RunState, RunEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: Long, events: Iterator[KeyedEvent], state: GroupState[RunState]) =>
          var st = state.getOption.getOrElse(RunState(1L, 0L))
          val out = events.toSeq.sortBy(e => (e.tsUs, e.value)).map { e =>
            st = RunState(st.next + 1,
              st.cents + new java.math.BigDecimal(e.value)
                .setScale(2, java.math.RoundingMode.HALF_UP).movePointRight(2).longValueExact())
            RunEvent(e.key, e.tsUs, e.value, st.next - 1, st.cents)
          }
          state.update(st)
          out.iterator
      }
  }

  /** A KeyedEvent carrying the EWMA value after folding it (exact
    * integer cents).
    */
  final case class EwmaEvent(key: Long, tsUs: Long, value: Double, ewmaCents: Long)

  /** Per-key EWMA state: seeded flag + current smoothed cents. */
  final case class EwmaState(seeded: Boolean, cents: Long)

  /** Streaming exponential smoothing — the incremental twin of the
    * batch `q_ewma` fold: e₀ = v₀, eᵢ = (α·vᵢ + (1000−α)·eᵢ₋₁) div
    * 1000, α in milli-units, values as exact cents, so state replayed
    * across ANY micro-batch split matches the batch per-key array fold
    * bit-for-bit (a float EWMA in state would drift under replay and
    * merge order). Values must be non-negative (floor/trunc division
    * agreement — same contract as the batch query). Within a batch
    * events sort by (tsUs, value); cross-batch ordering is arrival
    * order, as runningFold/lagWindow.
    */
  def ewma(stream: Dataset[KeyedEvent], alphaMilli: Long = 300L): Dataset[EwmaEvent] = {
    require(alphaMilli >= 0L && alphaMilli <= 1000L, s"alphaMilli out of [0,1000]: $alphaMilli")
    implicit val outEnc = Encoders.product[EwmaEvent]
    implicit val stEnc = Encoders.product[EwmaState]
    stream.groupByKey(_.key)(Encoders.scalaLong)
      .flatMapGroupsWithState[EwmaState, EwmaEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: Long, events: Iterator[KeyedEvent], state: GroupState[EwmaState]) =>
          var st = state.getOption.getOrElse(EwmaState(seeded = false, 0L))
          val out = events.toSeq.sortBy(e => (e.tsUs, e.value)).map { e =>
            val cents = new java.math.BigDecimal(e.value)
              .setScale(2, java.math.RoundingMode.HALF_UP).movePointRight(2).longValueExact()
            st = if (!st.seeded) EwmaState(seeded = true, cents)
            else EwmaState(seeded = true,
              (alphaMilli * cents + (1000L - alphaMilli) * st.cents) / 1000L)
            EwmaEvent(e.key, e.tsUs, e.value, st.cents)
          }
          state.update(st)
          out.iterator
      }
  }

  /** A KeyedEvent carrying its CUSUM statistic after folding it, plus
    * the threshold alarm.
    */
  final case class CusumEvent(key: Long, tsUs: Long, value: Double,
      cusumCents: Long, alarmed: Boolean)

  /** Per-key CUSUM state: the current one-sided statistic. */
  final case class CusumState(s: Long)

  /** Streaming CUSUM drift monitor (Page 1954) against a FIXED target:
    * sᵢ = max(0, sᵢ₋₁ + (vᵢ − target)) in exact integer cents, alarm
    * when s crosses `thresholdCents`. The batch `q_cusum` centers on
    * the key's realized mean (a two-pass quantity); the streaming
    * monitor necessarily runs against a configured target — the
    * standard deployment split for this statistic. Exact long state →
    * bit-identical under any micro-batch split (parity spec). Within a
    * batch events sort by (tsUs, value); cross-batch ordering is
    * arrival order, as runningFold/ewma.
    */
  def cusum(stream: Dataset[KeyedEvent], targetCents: Long,
      thresholdCents: Long): Dataset[CusumEvent] = {
    require(thresholdCents > 0L, s"thresholdCents must be positive: $thresholdCents")
    implicit val outEnc = Encoders.product[CusumEvent]
    implicit val stEnc = Encoders.product[CusumState]
    stream.groupByKey(_.key)(Encoders.scalaLong)
      .flatMapGroupsWithState[CusumState, CusumEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: Long, events: Iterator[KeyedEvent], state: GroupState[CusumState]) =>
          var st = state.getOption.getOrElse(CusumState(0L))
          val out = events.toSeq.sortBy(e => (e.tsUs, e.value)).map { e =>
            val cents = new java.math.BigDecimal(e.value)
              .setScale(2, java.math.RoundingMode.HALF_UP).movePointRight(2).longValueExact()
            st = CusumState(math.max(0L, st.s + (cents - targetCents)))
            CusumEvent(e.key, e.tsUs, e.value, st.s, st.s >= thresholdCents)
          }
          state.update(st)
          out.iterator
      }
  }

  /** A KeyedEvent carrying the exact OLS trend statistics after folding
    * it in — the streaming twin of the batch `q_trend_slope`: x is the
    * per-key 0-based arrival rank in (tsUs, value) order (identical to
    * the batch query's (ts, event_id) rank whenever per-key timestamps
    * are unique), and num/den are the exact integer slope pair
    * n·Σxy − Σx·Σy / n·Σx² − (Σx)².
    */
  final case class TrendEvent(key: Long, tsUs: Long, value: Double,
      n: Long, num: Long, den: Long, trend: String)

  /** Exact incremental OLS sums per key — five longs, so the state is
    * constant-size regardless of stream length and any micro-batch cut
    * of an in-order tape folds to the same values.
    */
  final case class TrendState(n: Long, sx: Long, sy: Long, sxy: Long, sxx: Long)

  /** Streaming per-key least-squares trend: each event extends the
    * exact OLS sufficient statistics (x = arrival rank, y = exact
    * cents) and emits the updated num/den/sign — the monitoring form
    * of the batch regression (watch a key's metric trend flip without
    * re-scanning history). State is five exact longs; 64-bit headroom
    * matches the batch query (~50k events/key at cent scale).
    */
  def trendSlope(stream: Dataset[KeyedEvent]): Dataset[TrendEvent] = {
    implicit val outEnc = Encoders.product[TrendEvent]
    implicit val stEnc = Encoders.product[TrendState]
    stream.groupByKey(_.key)(Encoders.scalaLong)
      .flatMapGroupsWithState[TrendState, TrendEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: Long, events: Iterator[KeyedEvent], state: GroupState[TrendState]) =>
          var st = state.getOption.getOrElse(TrendState(0L, 0L, 0L, 0L, 0L))
          val out = events.toSeq.sortBy(e => (e.tsUs, e.value)).map { e =>
            val cents = new java.math.BigDecimal(e.value)
              .setScale(2, java.math.RoundingMode.HALF_UP).movePointRight(2).longValueExact()
            val x = st.n
            st = TrendState(st.n + 1, st.sx + x, st.sy + cents,
              st.sxy + x * cents, st.sxx + x * x)
            val num = st.n * st.sxy - st.sx * st.sy
            val den = st.n * st.sxx - st.sx * st.sx
            TrendEvent(e.key, e.tsUs, e.value, st.n, num, den,
              if (num > 0) "up" else if (num < 0) "down" else "flat")
          }
          state.update(st)
          out.iterator
      }
  }

  /** One filled (key, hour) row: event count + exact cents sum (both 0
    * for gap hours) — the streaming twin of the batch q_gap_fill grid.
    */
  final case class GapFillOut(key: Long, hour: Long, nEvents: Long, sumCents: Long)

  /** Per-key gap-fill state: the epoch-hour currently filling and its
    * running aggregates.
    */
  final case class GapState(hour: Long, n: Long, cents: Long)

  /** Streaming time-series gap fill / resample: per key, emit one row
    * per epoch-hour — aggregated where events landed, ZERO-filled for
    * every empty hour in between — the regularization step a
    * per-entity model consumes. Like the reference's single-pass
    * window semantics (and candleStrat), an hour is emitted when a
    * later event CLOSES it: the hour still filling lives in state, so
    * output matches the batch grid on all closed hours. Cents
    * accumulate as exact longs (no float drift across micro-batch
    * replays); events older than the filling hour are dropped.
    */
  def gapFill(stream: Dataset[KeyedEvent], hourUs: Long = 3_600_000_000L): Dataset[GapFillOut] = {
    implicit val outEnc = Encoders.product[GapFillOut]
    implicit val stEnc = Encoders.product[GapState]
    stream.groupByKey(_.key)(Encoders.scalaLong)
      .flatMapGroupsWithState[GapState, GapFillOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: Long, events: Iterator[KeyedEvent], state: GroupState[GapState]) =>
          var st = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[GapFillOut]
          events.toSeq.sortBy(e => (e.tsUs, e.value)).foreach { e =>
            val h = e.tsUs / hourUs
            if (st == null) st = GapState(h, 0L, 0L)
            if (h > st.hour) {
              out += GapFillOut(key, st.hour, st.n, st.cents)
              var g = st.hour + 1
              while (g < h) { out += GapFillOut(key, g, 0L, 0L); g += 1 }
              st = GapState(h, 0L, 0L)
            }
            if (h == st.hour) {
              val cents = new java.math.BigDecimal(e.value)
                .setScale(2, java.math.RoundingMode.HALF_UP).movePointRight(2).longValueExact()
              st = GapState(st.hour, st.n + 1, st.cents + cents)
            } // h < st.hour: late event older than the filling hour — dropped
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  /** KeyedEvent carrying its event-time column for watermark-driven
    * operators (the watermark must ride a Timestamp column through the
    * typed groupByKey).
    */
  final case class TsEvent(key: Long, tsUs: Long, value: Double, ts: java.sql.Timestamp)

  /** Watermark-driven gap fill: like gapFill, but an hour also closes
    * when the WATERMARK passes its end — an event-time timer
    * (`GroupStateTimeout.EventTimeTimeout`) fires per key, so a key
    * that goes silent still emits its filled hour and the zero rows up
    * to the watermark without waiting for its own next event. This is
    * the production resample semantics: emission lag is bounded by the
    * watermark delay, not by per-key traffic. Late events older than
    * the filling hour are dropped (consistent with the watermark
    * contract).
    */
  def gapFillWatermarked(stream: Dataset[KeyedEvent], delay: String = "0 seconds",
      hourUs: Long = 3_600_000_000L): Dataset[GapFillOut] = {
    implicit val outEnc = Encoders.product[GapFillOut]
    implicit val stEnc = Encoders.product[GapState]
    implicit val evEnc = Encoders.product[TsEvent]
    val hourMs = hourUs / 1000L
    stream.toDF()
      .withColumn("ts", timestamp_micros(col("tsUs")))
      .withWatermark("ts", delay)
      .as[TsEvent]
      .groupByKey(_.key)(Encoders.scalaLong)
      .flatMapGroupsWithState[GapState, GapFillOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (key: Long, events: Iterator[TsEvent], state: GroupState[GapState]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[GapFillOut]
          var st = state.getOption.orNull
          if (state.hasTimedOut) {
            // the watermark passed the filling hour's end: flush it and
            // every complete empty hour behind the watermark
            val wmHour = state.getCurrentWatermarkMs() / hourMs
            if (st != null && wmHour > st.hour) {
              out += GapFillOut(key, st.hour, st.n, st.cents)
              var g = st.hour + 1
              while (g < wmHour) { out += GapFillOut(key, g, 0L, 0L); g += 1 }
              st = GapState(wmHour, 0L, 0L)
              state.update(st)
            }
          } else {
            events.toSeq.sortBy(e => (e.tsUs, e.value)).foreach { e =>
              val h = e.tsUs / hourUs
              if (st == null) st = GapState(h, 0L, 0L)
              if (h > st.hour) {
                out += GapFillOut(key, st.hour, st.n, st.cents)
                var g = st.hour + 1
                while (g < h) { out += GapFillOut(key, g, 0L, 0L); g += 1 }
                st = GapState(h, 0L, 0L)
              }
              if (h == st.hour) {
                val cents = new java.math.BigDecimal(e.value)
                  .setScale(2, java.math.RoundingMode.HALF_UP).movePointRight(2).longValueExact()
                st = GapState(st.hour, st.n + 1, st.cents + cents)
              }
            }
            if (st != null) state.update(st)
          }
          // arm the timer for the filling hour's end (must sit strictly
          // past the current watermark)
          if (st != null) state.setTimeoutTimestamp(
            math.max((st.hour + 1) * hourMs, state.getCurrentWatermarkMs() + 1))
          out.iterator
      }
  }

  /** The reference's flagship end-to-end pipeline as ONE stateful
    * streaming operator: ticks → epoch-aligned tumbling OHLC candles →
    * Strat classification of each closed candle against its
    * predecessor (reference example/stocks.rs:232-285 — candles via
    * src/window.rs, classes via `classify_candle_strat`).
    *
    * Exactly like the reference's single-pass streaming semantics, a
    * candle is emitted/classified only when a later event CLOSES its
    * window (SURVEY §3); the candle still filling lives in state. Ticks
    * are assumed in event-time order across micro-batches (the
    * reference makes the same single-stream assumption); within a
    * batch they are sorted. Out-of-order ticks older than the current
    * window are dropped.
    */
  def candleStrat(stream: Dataset[KeyedEvent], windowUs: Long): Dataset[StratOut] = {
    implicit val outEnc = Encoders.product[StratOut]
    implicit val stEnc = Encoders.product[CandleState]

    def classify(c: StreamCandle, p: StreamCandle): StratOut = {
      val top = math.max(c.open, c.close)
      val bottom = math.min(c.open, c.close)
      val ptop = math.max(p.open, p.close)
      val pbottom = math.min(p.open, p.close)
      val above = top > ptop
      val below = bottom < pbottom
      val cls = if (above && below) 4 else if (above) 2 else if (below) 3 else 1
      StratOut(c.key, c.wsUs, cls)
    }

    stream.groupByKey(_.key)(Encoders.scalaLong)
      .flatMapGroupsWithState[CandleState, StratOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: Long, events: Iterator[KeyedEvent], state: GroupState[CandleState]) =>
          var st = state.getOption.getOrElse(CandleState(None, None))
          val out = scala.collection.mutable.ArrayBuffer.empty[StratOut]
          events.toSeq.sortBy(e => (e.tsUs, e.value)).foreach { e =>
            val ws = e.tsUs / windowUs * windowUs
            st.current match {
              case Some(c) if c.wsUs == ws =>
                st = st.copy(current = Some(c.copy(
                  high = math.max(c.high, e.value),
                  low = math.min(c.low, e.value),
                  close = e.value)))
              case Some(c) if ws > c.wsUs =>
                st.prev.foreach(p => out += classify(c, p))
                st = CandleState(
                  current = Some(StreamCandle(key, ws, e.value, e.value, e.value, e.value)),
                  prev = Some(c))
              case Some(_) => // late tick before the open window: dropped
              case None =>
                st = st.copy(current = Some(StreamCandle(key, ws, e.value, e.value, e.value, e.value)))
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** Stream-stream interval inner join (reference src/join.rs:21-141):
    * same key, |tsL - tsR| < window. Watermarks on both sides bound the
    * join state exactly like the reference's high-water-mark eviction.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTs: String, rightTs: String,
      window: String, watermark: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    // side-qualified Column refs, not a raw expr over names — both
    // streams commonly share column names (key/ts), which a bare
    // expression string would fail to resolve as AMBIGUOUS_REFERENCE
    val iv = expr(s"INTERVAL $window")
    l.join(r,
      l(leftKey) === r(rightKey) &&
        r(rightTs) > l(leftTs) - iv &&
        r(rightTs) < l(leftTs) + iv)
  }

  /** Stream-static enrichment join (reference src/join.rs:143-157):
    * the static dim is broadcast per micro-batch; no stream state.
    */
  def enrich(stream: DataFrame, dim: DataFrame, streamKey: String, dimKey: String): DataFrame =
    stream.join(broadcast(dim), stream(streamKey) === dim(dimKey), "inner")

  /** One tagged record of the streaming as-of join's merged input:
    * probes (`isRight = false`) and quotes (`isRight = true`) union
    * into a single stream so ONE stateful operator observes both sides
    * of a key in event-time order.
    */
  final case class AsofIn(key: Long, tsUs: Long, id: Long, value: Double,
      isRight: Boolean)

  /** A probe joined to the latest quote at-or-before it (backward
    * as-of). `matched = false` (left join) carries rightId = -1.
    */
  final case class AsofOut(key: Long, tsUs: Long, id: Long,
      rightId: Long, rightTsUs: Long, rightValue: Double, matched: Boolean)

  /** Per-key quote buffer, ascending (tsUs, id); pruned each batch to
    * the newest quote at-or-before the largest probe seen plus all
    * newer quotes — exactly the set any future in-order probe can
    * still select.
    */
  final case class AsofState(quotes: Seq[(Long, Long, Double)], maxLeftTs: Long)

  /** Greatest index whose quote is ≤ the probe point in (tsUs[, id])
    * order, or -1 — binary search over the ascending buffer, so a
    * rate-skewed key with a large buffer pays O(log m) per record
    * instead of a linear walk.
    */
  private def asofSearchLe(quotes: Vector[(Long, Long, Double)],
      ts: Long, id: Long, byIdToo: Boolean): Int = {
    var lo = 0; var hi = quotes.length - 1; var res = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val q = quotes(mid)
      val le = if (byIdToo) q._1 < ts || (q._1 == ts && q._2 <= id) else q._1 <= ts
      if (le) { res = mid; lo = mid + 1 } else hi = mid - 1
    }
    res
  }

  /** Streaming backward AS-OF join — the live twin of the batch
    * `q_asof_join` (operators.Joins.asofJoin): every probe emits the
    * quote with the largest (tsUs, id) among quotes of its key with
    * tsUs ≤ probe.tsUs, or an unmatched row (LEFT semantics). Same
    * tie rule as the batch operator: a quote AT the probe's timestamp
    * matches, and equal-timestamp quotes resolve to the max id.
    *
    * Union the two sides into [[AsofIn]] (quotes tagged isRight) and
    * group by key: state is the per-key quote buffer, pruned per batch
    * to quotes a future in-order probe could still pick — the newest
    * quote ≤ the largest probe timestamp plus everything newer, the
    * streaming analogue of the batch window frame. For an in-order
    * tape the output is identical under ANY micro-batch split
    * (asserted in StreamingParitySpec); within a batch records order
    * by (tsUs, side, id) with quotes applied before probes at equal
    * timestamps, mirroring the ≤ bound. State is O(quotes between the
    * probe high-water mark and now) per key — bounded by the sides'
    * rate skew, never by stream length.
    */
  def asofJoin(stream: Dataset[AsofIn]): Dataset[AsofOut] = {
    implicit val outEnc = Encoders.product[AsofOut]
    implicit val stEnc = Encoders.product[AsofState]
    stream.groupByKey(_.key)(Encoders.scalaLong)
      .flatMapGroupsWithState[AsofState, AsofOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: Long, recs: Iterator[AsofIn], state: GroupState[AsofState]) =>
          var st = state.getOption.getOrElse(AsofState(Vector.empty, Long.MinValue))
          var quotes = st.quotes.toVector
          var maxLeftTs = st.maxLeftTs
          // quotes before probes at equal ts: a quote at the probe's
          // own timestamp is eligible (rightTs <= leftTs)
          val ordered = recs.toSeq.sortBy(r => (r.tsUs, if (r.isRight) 0 else 1, r.id))
          val out = ordered.flatMap { r =>
            if (r.isRight) {
              // maintain ascending (tsUs, id); out-of-order quotes
              // insert at their sorted position (in-order tapes append)
              val at = asofSearchLe(quotes, r.tsUs, r.id, byIdToo = true) + 1
              quotes =
                if (at == quotes.length) quotes :+ ((r.tsUs, r.id, r.value))
                else (quotes.take(at) :+ ((r.tsUs, r.id, r.value))) ++ quotes.drop(at)
              None
            } else {
              maxLeftTs = math.max(maxLeftTs, r.tsUs)
              asofSearchLe(quotes, r.tsUs, 0L, byIdToo = false) match {
                case -1 => Some(AsofOut(r.key, r.tsUs, r.id, -1L, Long.MinValue, 0.0, matched = false))
                case i  =>
                  val q = quotes(i)
                  Some(AsofOut(r.key, r.tsUs, r.id, q._2, q._1, q._3, matched = true))
              }
            }
          }
          // prune: drop quotes no future in-order probe can select
          val keepFrom = asofSearchLe(quotes, maxLeftTs, 0L, byIdToo = false)
          if (keepFrom > 0) quotes = quotes.drop(keepFrom)
          state.update(AsofState(quotes, maxLeftTs))
          out.iterator
      }
  }

  /** Incremental substring-duplication coverage — the streaming twin
    * of batch `q_span_scrub` via the foreachBatch pattern above: a
    * gram position is DUP if its 60-bit hash was seen in ANY prior
    * batch or in ANOTHER doc of this batch; coverage is the exact
    * interval union via the SHARED DedupFns.spanCoverage island walk,
    * and all grams append to batch-keyed parquet history (idempotent
    * replay). Single-batch runs equal the batch query bit-for-bit
    * (StreamingParitySpec); multi-batch runs give prefix semantics —
    * the online view a streaming ingest pipeline wants.
    */
  def spanScrubIncremental(stream: DataFrame, idCol: String, textCol: String,
      historyDir: String, outDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      import graft.functions.{DedupFns, Fence, TextFns}
      val g = Fence.guard(
          batch.select(col(idCol).as("doc_id"),
            TextFns.tokensFast(col(textCol)).as("__toks")))
        .filter(size(col("__toks")) >= 8)
        .select(col("doc_id"),
          posexplode(DedupFns.wordNgramsPositional(col("__toks"), 8)).as(Seq("pos", "__gram")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          TextFns.tokenHash(col("__gram")).as("__gh"))
        .filter(col("__gh").isNotNull)
        .cache()
      try {
        val histSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("gh", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("batch_id", org.apache.spark.sql.types.LongType)))
        val histPath = new org.apache.hadoop.fs.Path(historyDir)
        val fs = histPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val hist =
          if (!fs.exists(histPath))
            spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], histSchema)
          else spark.read.schema(histSchema).parquet(historyDir)
            .filter(col("batch_id") < batchId)
        // dup = gram seen in ANY prior batch (any doc — prefix
        // semantics) OR in another doc of THIS batch (min≠max, the
        // batch rule) — so a one-batch run reproduces q_span_scrub
        // exactly and later copies flag against everything streamed
        val dup = g.groupBy(col("__gh"))
          .agg(min(col("doc_id")).as("__mn"), max(col("doc_id")).as("__mx"))
          .filter(col("__mn") =!= col("__mx"))
          .select(col("__gh").as("__dgh"))
          .union(hist.select(col("gh").as("__dgh")))
          .distinct()
        val flags = g.join(dup.hint("shuffle_hash"), col("__gh") === col("__dgh"), "left")
          .select(col("doc_id"), col("pos"),
            when(col("__dgh").isNotNull, 1L).otherwise(0L).as("__dup"))
        // the SAME island walk the batch query plans (DedupFns
        // .spanCoverage) — parity is structural, not re-proved
        DedupFns.spanCoverage(flags)
          .select(col("doc_id"), col("n_tokens"), col("dup_tokens"),
            expr("(n_tokens - dup_tokens) * 1000 div n_tokens").as("keep_milli"))
          .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
        // ALL grams enter history (dup included); per-batch overwrite +
        // batch_id < batchId read filter make at-least-once replay
        // idempotent, as dedupMinhashIncremental
        g.select(col("__gh").as("gh")).distinct()
          .write.mode("overwrite").parquet(s"$historyDir/batch_id=$batchId")
      } finally { g.unpersist(); () }
    }
  }

  /** Incremental NEAR-dup dedup for a document stream — the streaming
    * twin of DedupFns.minhashCandidates, via the foreachBatch pattern:
    * per micro-batch,
    *  1. compute MinHash LSH band hashes (native expression, same
    *     signature contract as batch);
    *  2. drop docs whose any band collides with a SMALLER-id doc —
    *     a history row or a same-batch mate (one-pass greedy policy:
    *     the smallest id of a collision group survives; a doc whose
    *     only colliding twin was itself dropped is STILL dropped);
    *  3. append ALL the batch's bands to the history table — dropped
    *     docs included. A keeper-only history would re-admit a doc
    *     whose only twin was itself dropped when a micro-batch
    *     boundary separates them; with full history the keep-set is
    *     exactly the batch operator's smaller-id rule and INVARIANT
    *     to where batch boundaries fall for id-ordered arrival
    *     (asserted in StreamingParitySpec, same shape as semdedup's).
    * History lives as band-bucketed parquet, so the collision check is
    * an equi-join on (band, bh) — never all-pairs. At scale the
    * history join inherits the same shuffle shape as the batch
    * candidate join; a real deployment would bucket the history table
    * on (band, bh) to make it co-located.
    * Returns the writer; the caller starts it with its own checkpoint.
    */
  def dedupMinhashIncremental(stream: DataFrame, idCol: String, textCol: String,
      historyDir: String, survivorsDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      import graft.functions.{DedupFns, Fence, TextFns}
      val base = Fence.guard(
          batch.select(col(idCol).as("id"), col(textCol).as("text"),
            TextFns.tokensFast(col(textCol)).as("__toks")))
      // docs too short to shingle have no bands: they cannot collide
      // with anything, so they pass through as automatic survivors
      // (dropping them would be data loss, not dedup)
      val sigs = base.filter(size(col("__toks")) >= 3)
        .select(col("id"), col("text"),
          DedupFns.minhashBandsFast(col("__toks"), 3).as("bands"))
        .select(col("id"), col("text"), posexplode(col("bands")).as(Seq("band", "bh")))
        .cache()
      try {
        // only treat a MISSING history path as "first batch" — a real
        // read failure (transient FS error, corrupt footer) must fail
        // the batch, not silently re-admit known duplicates. The
        // batch_id < batchId partition filter keeps a REPLAYED batch
        // from colliding with its own crashed attempt's output, and
        // the EXPLICIT schema keeps a replay of a first batch whose
        // write crashed before any footer landed from crash-looping
        // on schema inference over an empty directory.
        val histSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("band", org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("bh", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("batch_id", org.apache.spark.sql.types.LongType)))
        val histPath = new org.apache.hadoop.fs.Path(historyDir)
        val fs = histPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val hist =
          if (!fs.exists(histPath))
            spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], histSchema)
          else spark.read.schema(histSchema).parquet(historyDir)
            .filter(col("batch_id") < batchId)
        // the history side guards on a.id >= b.id, NOT strictly >: the
        // equal-id case is an at-least-once RE-DELIVERY in a LATER
        // batch (same doc, same bands — the batch_id filter only
        // covers same-batch replays), which must collide with its own
        // history bands and drop instead of being emitted twice. The
        // in-batch join below stays strict (a doc never drops itself
        // within its first batch). Out-of-order smaller-id arrival
        // across batches keeps exact smaller-id semantics.
        val vsHist = sigs.as("a").join(hist.select("id", "band", "bh").as("b"),
            col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
              col("a.id") >= col("b.id"), "left_semi")
          .select("id").distinct()
        val inBatch = sigs.as("a")
          .join(sigs.as("b"),
            col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
              col("a.id") > col("b.id"))
          .select(col("a.id").as("id")).distinct()
        val dupIds = vsHist.union(inBatch).distinct()
        val survivors = sigs.join(dupIds, Seq("id"), "left_anti")
        val shortDocs = base.filter(size(col("__toks")) < 3).select(col("id"), col("text"))
        // per-batch subdirectories + overwrite make the at-least-once
        // foreachBatch replay idempotent: a re-run of batch N rewrites
        // batch_id=N instead of appending a second copy
        survivors.select("id", "text").distinct().union(shortDocs)
          .write.mode("overwrite").parquet(s"$survivorsDir/batch_id=$batchId")
        // ALL docs' bands enter history (dropped included) — see scaladoc
        sigs.select(col("id"), col("band").cast("int").as("band"), col("bh"))
          .write.mode("overwrite").parquet(s"$historyDir/batch_id=$batchId")
      } finally { sigs.unpersist(); () }
    }
  }

  /** Incremental SEMANTIC dedup for an embedding stream — the streaming
    * twin of VectorFns.semDedupReport's drop rule, via the same
    * foreachBatch pattern as dedupMinhashIncremental: per micro-batch,
    *  1. quantize each vector and assign it to its k-means cell — the
    *     centroid table is a FIXED plan literal (a production pipeline
    *     trains centroids offline and ships them with the job; letting
    *     them drift per batch would silently re-bucket history);
    *  2. drop vectors whose exact quantized cosine to ANY smaller-id
    *     prior vector in the same cell — a history row or a same-batch
    *     mate — clears τ = tauNum/tauDen (decided in pure integer
    *     arithmetic, same test as the batch operator);
    *  3. append ALL the batch's (id, cid, qv, nrm) rows to the history
    *     table — dropped rows included. That makes the drop rule
    *     EXACTLY semDedupReport's ("any smaller-id cell-mate", not
    *     "any surviving keeper"), so for id-ordered arrival the
    *     keep-set is identical to the batch operator's and INVARIANT
    *     to where micro-batch boundaries fall (a keeper-only history
    *     would re-admit a vector whose only twin was itself dropped —
    *     split-variant; asserted in StreamingParitySpec).
    * History is cell-keyed parquet, so the collision check is an
    * equi-join on cid — never all-pairs; at scale the history table
    * would be bucketed on cid for a co-located join (it grows with the
    * stream, which exact dedup-against-everything inherently requires).
    * Per-batch subdirectories + overwrite make the at-least-once
    * replay idempotent; history reads use an EXPLICIT schema (a
    * crashed first attempt can leave historyDir with no readable
    * footer — schema inference would crash-loop the replay) and
    * filter batch_id < batchId so a replayed batch never collides
    * with its own crashed attempt's output.
    */
  def semDedupIncremental(stream: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Long]], tauNum: Int, tauDen: Int,
      historyDir: String, survivorsDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      import graft.functions.{Fence, VectorFns}
      val cents = typedLit(centroids)
      // an at-least-once source can deliver the same id twice INSIDE
      // one batch; a.id > b.id never matches equal ids, so without
      // this dedup both copies would survive and double the history
      val sigs = Fence.guard(Fence.guard(
          batch.dropDuplicates(idCol)
            .select(col(idCol).as("id"), VectorFns.quantizeFast(col(vecCol)).as("qv")))
        .select(col("id"), col("qv"),
          element_at(VectorFns.ivfProbesFast(col("qv"), cents, 1), 1).as("cid")))
        .select(col("id"), col("qv"), col("cid"),
          VectorFns.qdotFast(col("qv"), col("qv")).as("nrm"))
        .cache()
      def near(df: DataFrame): DataFrame = df
        .select(col("a.id").as("id"),
          VectorFns.qdotFast(col("a.qv"), col("b.qv")).as("dot"),
          col("a.nrm").as("na"), col("b.nrm").as("nb"))
        .filter(col("dot") > 0 &&
          col("dot") * col("dot") * (tauDen.toLong * tauDen) >=
            col("na") * col("nb") * (tauNum.toLong * tauNum))
        .select("id").distinct()
      try {
        val histSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("cid", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("qv",
            org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)),
          org.apache.spark.sql.types.StructField("nrm", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("batch_id", org.apache.spark.sql.types.LongType)))
        val histPath = new org.apache.hadoop.fs.Path(historyDir)
        val fs = histPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val hist =
          if (!fs.exists(histPath))
            spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], histSchema)
          // explicit schema: a crashed first attempt leaves historyDir
          // with zero readable footers, where inference would throw
          else spark.read.schema(histSchema).parquet(historyDir)
            .filter(col("batch_id") < batchId)
        // the history side guards on a.id >= b.id, NOT strictly >: an
        // equal id in a LATER batch is an at-least-once re-delivery
        // (same vector — cosine 1 to its own history row), which must
        // drop instead of being emitted twice; the batch_id filter
        // only covers same-batch replays, and dropDuplicates only
        // within one batch. In-batch join stays strict below.
        val vsHist = near(sigs.as("a").join(hist.select("id", "cid", "qv", "nrm").as("b"),
          col("a.cid") === col("b.cid") && col("a.id") >= col("b.id")))
        val inBatch = near(sigs.as("a").join(sigs.as("b"),
          col("a.cid") === col("b.cid") && col("a.id") > col("b.id")))
        val dupIds = vsHist.union(inBatch).distinct()
        val survivors = sigs.join(dupIds, Seq("id"), "left_anti")
        survivors.select("id", "cid").write.mode("overwrite")
          .parquet(s"$survivorsDir/batch_id=$batchId")
        // ALL rows enter history (dropped included) — see scaladoc
        sigs.select("id", "cid", "qv", "nrm").write.mode("overwrite")
          .parquet(s"$historyDir/batch_id=$batchId")
      } finally { sigs.unpersist(); () }
    }
  }

  /** Streaming DECONTAMINATION against a fixed benchmark probe set —
    * the live twin of q_bloom_decontam. The verdict is PER-DOC (shares
    * ≥ minShared distinct 4-grams with the probe → killed), so unlike
    * the dedup twins there is NO cross-batch state: batch-boundary
    * invariance is structural, and the probe set rides along as a
    * STATIC DataFrame plus its pre-built serialized bloom filter
    * (a production pipeline builds the filter once per benchmark
    * release, not per batch). Per micro-batch:
    *  1. explode corpus 4-grams and prefilter MAP-SIDE with the
    *     codegen'd might_contain literal — the overwhelming majority
    *     of grams never reach the confirm join;
    *  2. exact confirm equi-join against the static probe grams
    *     (bloom false positives die here), count distinct shared
    *     grams per doc, kill at >= minShared;
    *  3. append survivors to per-batch subdirectories (overwrite →
    *     a REPLAY of the same batch id stays idempotent), suppressing
    *     ids already written by EARLIER batches — the verdict is
    *     deterministic, so a cross-batch at-least-once re-delivery
    *     would otherwise emit an identical duplicate row. The
    *     survivors table itself is the only state read (batch_id <
    *     current, mirroring the dedup twins' history filter).
    * Same kill rule as the batch query, asserted batching-invariant
    * and re-delivery-safe in StreamingParitySpec.
    */
  def decontamIncremental(stream: DataFrame, idCol: String, textCol: String,
      probeGrams: DataFrame, bloomBytes: Array[Byte], survivorsDir: String,
      minShared: Int = 2): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      import graft.functions.{DedupFns, Fence, TextFns}
      val docs = batch.select(col(idCol).as("id"), col(textCol).as("text"))
      val grams = Fence.guard(Fence.guard(
          docs.select(col("id"), TextFns.tokensFast(col("text")).as("__toks")))
        .select(col("id"), DedupFns.wordNgramsFast(col("__toks"), 4).as("__grams")))
        .select(col("id"), explode(col("__grams")).as("g"))
      val mightHit =
        org.apache.spark.sql.GraftBridge.bloomMightContain(bloomBytes, xxhash64(col("g")))
      val kill = grams.filter(mightHit)
        .join(probeGrams.select(col("g")).hint("shuffle_hash"), Seq("g"))
        .groupBy("id")
        .agg(countDistinct(col("g")).as("shared"))
        .filter(col("shared") >= minShared)
        .select("id")
      // ids emitted by EARLIER batches: only a missing dir counts as
      // "first batch" (a real read failure must fail the batch); the
      // explicit schema survives a crashed first attempt's footerless
      // dir, and batch_id < batchId keeps a replayed batch from
      // suppressing against its own crashed attempt's output
      val seenSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("batch_id", org.apache.spark.sql.types.LongType)))
      val survPath = new org.apache.hadoop.fs.Path(survivorsDir)
      val fs = survPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val seen =
        if (!fs.exists(survPath))
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], seenSchema)
        else spark.read.schema(seenSchema).parquet(survivorsDir)
          .filter(col("batch_id") < batchId)
      docs.join(kill, Seq("id"), "left_anti").distinct()
        .join(seen.select("id"), Seq("id"), "left_anti")
        .write.mode("overwrite").parquet(s"$survivorsDir/batch_id=$batchId")
      ()
    }
  }

  /** Streaming exact dedup: emit only the first event per dedup key.
    * `dropDuplicatesWithinWatermark` keeps seen-keys state only until
    * the watermark passes them — the 100 TB shape for an infinite
    * stream (plain dropDuplicates on a stream grows state forever).
    * Batch ground truth: first-occurrence-wins exact dedup
    * (DedupFns / q_dedup_exact).
    */
  def dedupExact(stream: DataFrame, tsCol: String, keyCols: Seq[String],
      watermark: String): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Per-key live-quantile state: the serialized KLL sketch (heapified
    * once per key per MICRO-BATCH, never per row — the
    * TypedImperativeAggregate economics carried into streaming state).
    */
  final case class KllState(bytes: Array[Byte])

  /** One quantile snapshot per (key, micro-batch): events seen so far
    * and the current p50/p90 estimates.
    */
  final case class QuantileSnap(key: Long, n: Long, q50: Double, q90: Double)

  /** Streaming per-key quantile monitor — the live twin of the batch
    * KLL rollup (`q_kll_rollup`, plans/KllExprs.scala): per-key KLL
    * sketch state (a few kB per key FOREVER, independent of stream
    * length — the constant-memory property that makes percentiles
    * streamable at all), one refreshed p50/p90 snapshot per touched
    * key per micro-batch in Update mode. KLL compaction is randomized,
    * so snapshots are rank-band-accurate rather than bit-deterministic
    * across batchings; `n` IS exact and batching-invariant. Accuracy
    * bands + exact-n invariance asserted in Round12OpsSpec.
    */
  def quantiles(stream: Dataset[KeyedEvent], k: Int = 200): Dataset[QuantileSnap] = {
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    implicit val outEnc = Encoders.product[QuantileSnap]
    implicit val stEnc = Encoders.product[KllState]
    stream.groupByKey(_.key)(Encoders.scalaLong)
      .flatMapGroupsWithState[KllState, QuantileSnap](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (key: Long, events: Iterator[KeyedEvent], state: GroupState[KllState]) =>
          val sk = state.getOption
            .map(s => KllDoublesSketch.heapify(Memory.wrap(s.bytes)))
            .getOrElse(KllDoublesSketch.newHeapInstance(k))
          events.foreach(e => sk.update(e.value))
          state.update(KllState(sk.toByteArray))
          if (sk.isEmpty) Iterator.empty
          else Iterator.single(
            QuantileSnap(key, sk.getN, sk.getQuantile(0.5), sk.getQuantile(0.9)))
      }
  }

  /** A drift-monitored event: the metric owner (event type), the
    * deterministic cohort source (event id — parity picks the cohort,
    * the batch q_drift rule), and the metric value.
    */
  final case class DriftIn(etype: String, eventId: Long, value: Double)

  /** One drift snapshot per (event type, micro-batch): current cohort
    * totals and the exact integer total-variation distance in milli.
    */
  final case class DriftOut(etype: String, na: Long, nb: Long, tvMilli: Long)

  /** Per-type drift state: the bounded $50-bucket histogram of each
    * cohort as parallel arrays (schema'd product encoder; bucket count
    * is bounded by the metric's value domain, NOT the stream length,
    * so state per key is a few dozen longs forever).
    */
  final case class DriftHist(buckets: Array[Long], na: Array[Long], nb: Array[Long])

  /** Streaming distribution-drift monitor — the live twin of the batch
    * `q_drift` (exact TV distance between the event-id-parity cohorts
    * of one metric, per event type). Each micro-batch folds its events
    * into the per-type cohort histograms and emits ONE refreshed
    * snapshot per touched type (Update mode), computing
    * tv_milli = Σ_b |na_b·NB − nb_b·NA| · 1000 / (2·NA·NB) in pure
    * integers — identical to the batch formula, so the last snapshot
    * per type equals the batch row on the same tape (asserted, with
    * micro-batch-split invariance, in Round12OpsSpec). While one
    * cohort is still empty the distributions are vacuously disjoint
    * and the monitor reports the 1000-milli maximum.
    */
  def drift(stream: Dataset[DriftIn]): Dataset[DriftOut] = {
    implicit val outEnc = Encoders.product[DriftOut]
    implicit val stEnc = Encoders.product[DriftHist]
    stream.groupByKey(_.etype)(Encoders.STRING)
      .flatMapGroupsWithState[DriftHist, DriftOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (etype: String, events: Iterator[DriftIn], state: GroupState[DriftHist]) =>
          val st = state.getOption.getOrElse(
            DriftHist(Array.empty, Array.empty, Array.empty))
          val hist = scala.collection.mutable.LinkedHashMap.empty[Long, (Long, Long)]
          st.buckets.indices.foreach(i => hist(st.buckets(i)) = (st.na(i), st.nb(i)))
          events.foreach { e =>
            val b = math.floor(e.value / 50.0).toLong
            val (a0, b0) = hist.getOrElse(b, (0L, 0L))
            hist(b) = if (e.eventId % 2 == 0) (a0 + 1, b0) else (a0, b0 + 1)
          }
          val ks = hist.keys.toArray
          state.update(DriftHist(ks, ks.map(k => hist(k)._1), ks.map(k => hist(k)._2)))
          val na = hist.valuesIterator.map(_._1).sum
          val nb = hist.valuesIterator.map(_._2).sum
          // The numerator term a·NB (and the ·1000 scale) leaves the
          // int64 domain once na·nb exceeds ~4.6e15 — reachable on a
          // NoTimeout monitor that runs for months — so the TV ratio
          // is evaluated in BigInt. State stays Long (bounded by the
          // bucket domain); only this per-snapshot arithmetic widens.
          val tv =
            if (na == 0L || nb == 0L) 1000L
            else {
              val bna = BigInt(na); val bnb = BigInt(nb)
              (hist.valuesIterator.map { case (a, b) => (BigInt(a) * bnb - BigInt(b) * bna).abs }
                .sum * 1000 / (2 * bna * bnb)).toLong
            }
          Iterator.single(DriftOut(etype, na, nb, tv))
      }
  }
}
