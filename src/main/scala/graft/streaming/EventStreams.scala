package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming counterparts of the batch event queries
  * (SURVEY.md §7.1 step 6): the same aggregation shapes as
  * [[graft.Queries.q17EventsHourly]] and [[graft.Queries.q18Sessionize]],
  * run incrementally. The checks stay map-only + windowed/keyed state, so
  * the streaming port needed only source + output-mode wiring — exactly
  * the property the batch pipeline was designed for.
  *
  * At scale: the hourly aggregation shuffles on (window, event_type) with
  * partial aggregation per micro-batch; sessionization keeps one small
  * state record per user key, and the 1-hour watermark bounds state
  * growth for the windowed agg.
  */
object EventStreams {

  /** Events stream schema: `ts` is declared a raw long. Declaring the
    * long reads the stored int64 unchanged for BOTH physical encodings
    * the table has shipped with — TIMESTAMP(NANOS) (raw nanos under
    * `nanosAsLong`) and TIMESTAMP(MICROS, NTZ) (raw micros) —
    * [[readEvents]] then decides the unit and normalizes to a real
    * TimestampType, the same contract as the batch catalog
    * ([[graft.Tables.load]]). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-stream source over a directory of event parquet files,
    * normalized to a real TimestampType at ingest. A file stream
    * declares its schema up front and cannot inspect annotations, so
    * the UNIT of the raw long is probed from the directory's footers
    * via a one-time driver-side batch read ([[graft.EventTime]], the
    * probe `Tables.load` uses). Hard-coding one encoding silently
    * mis-scaled the other generation by 1000×. */
  def readEvents(spark: SparkSession, dir: String,
      sourceOptions: Map[String, String] = Map.empty): DataFrame = {
    // the staged entry can be a bare parquet FILE (testdata layout),
    // whose footer is read on the driver, or a directory-shaped table
    // (Spark writes) — the batch probe does not recurse, so try both
    // shapes
    val probed = Seq(dir, s"$dir/*").view
      .flatMap(p => scala.util.Try(graft.io.ParquetMeta.fileSchema(spark, p)
        .getOrElse(spark.read.parquet(p).schema)).toOption)
      .headOption.filter(_.fieldNames.contains("ts"))
    // a day-one-empty dir has no footer to probe: we must still pick a
    // unit (the stream cannot re-declare its schema later), but doing
    // so SILENTLY is how a NANOS-generation file landing after stream
    // start gets mis-scaled 1000× with no trace — make the assumption
    // loud so the operator can restart the stream against real files
    if (probed.isEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"readEvents: no readable parquet footer under '$dir'; ASSUMING " +
          "the MICROS timestamp generation. If NANOS-generation files " +
          "arrive on this stream their event times will be wrong by " +
          "1000x — restart the stream once files exist to re-probe.")
    spark.readStream.schema(eventSchema)
      .options(sourceOptions).parquet(dir)
      .withColumn("ts", timestamp_micros(
        graft.EventTime.longMicros(probed.exists(graft.EventTime.isNanos))))
  }

  /** Tumbling 1-hour aggregation — streaming q17. The watermark (default
    * 1 hour of allowed lateness) lets Spark drop window state once late
    * data can no longer arrive; d145 narrows it to exercise the
    * late-drop path itself. */
  def hourlyCounts(events: DataFrame, delay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("total_value"))

  /** Per-user session counts (30-minute gap), batch-equivalent of q18. */
  final case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long)

  /** Carried state per user: last event time + running counts. */
  final case class SessionState(lastTsUs: Long, nSessions: Long, nEvents: Long)

  private val GapUs = 30L * 60 * 1000 * 1000

  /** THE session fold: advance `st0` over ascending event times,
    * opening a session whenever the gap from the previous event
    * strictly exceeds [[GapUs]]. One definition shared by the
    * mapGroupsWithState path, both tws processors, and the batch
    * state-bootstrap (d222) — the handoff in the bootstrap is seamless
    * precisely because both sides run this one fold. */
  private[streaming] def foldSessionState(st0: SessionState,
      sortedTsUs: Seq[Long]): SessionState =
    sortedTsUs.foldLeft(st0) { (st, t) =>
      val isNew = st.lastTsUs == Long.MinValue || t - st.lastTsUs > GapUs
      SessionState(t, st.nSessions + (if (isNew) 1L else 0L), st.nEvents + 1L)
    }

  /** The zero state every sessionizer starts a fresh user from. */
  private[streaming] val EmptySession = SessionState(Long.MinValue, 0L, 0L)

  /** Stateful sessionization via mapGroupsWithState: events are keyed by
    * user; each micro-batch folds its (batch-sorted) events into the
    * user's state, counting a new session whenever the gap from the
    * previous event exceeds 30 minutes. State is one record per user —
    * O(users) memory regardless of stream length.
    *
    * CONTRACT: this fast path assumes per-user event-time order ACROSS
    * micro-batches (within a batch it sorts). An event arriving in a
    * later batch with an earlier timestamp folds against the stored
    * last-timestamp and miscounts the boundary. For unordered arrival
    * use [[closedSessions]], which buffers under a watermark. State
    * never expires here (NoTimeout — running counts are meant to live as
    * long as the user); [[closedSessions]] is also the bounded-state
    * variant. */
  def sessionCounts(events: DataFrame): Dataset[UserSessions] = {
    import events.sparkSession.implicits._
    events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[SessionState, UserSessions](GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[SessionState]) =>
          val st = foldSessionState(state.getOption.getOrElse(EmptySession),
            rows.map(_._2).toSeq.sorted)
          state.update(st)
          UserSessions(user, st.nSessions, st.nEvents)
      }
  }

  /** [[sessionCounts]]'s fold re-expressed on Spark 4's
    * `transformWithState` (StatefulProcessor + typed ValueState) — the
    * arbitrary-state API that SUPERSEDES `mapGroupsWithState` and runs
    * its state exclusively on the RocksDB provider. Same key, same
    * state record, same fold, same output — the gate (d204) pins the
    * two state APIs answer-identical against the one batch oracle, so
    * a migration from the legacy API is a drop-in swap. */
  class SessionCountsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long), UserSessions] {
    @transient private var state:
      org.apache.spark.sql.streaming.ValueState[SessionState] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[SessionState]("session",
        org.apache.spark.sql.Encoders.product[SessionState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[(Long, Long)],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[UserSessions] = {
      val st = foldSessionState(
        if (state.exists()) state.get() else EmptySession,
        rows.map(_._2).toSeq.sorted)
      state.update(st)
      Iterator.single(UserSessions(user, st.nSessions, st.nEvents))
    }
  }

  /** [[SessionCountsProcessor]]'s fold with BATCH-BOOTSTRAPPED initial
    * state — `StatefulProcessorWithInitialState`, the migration
    * overload a production stream uses to go live WITHOUT replaying
    * history: the per-user state computed batch-side over the log up
    * to the cutover lands via [[handleInitialState]] (once per key,
    * before any input row), and the stream folds only post-cutover
    * events on top. A session OPEN at the cutover continues seamlessly
    * because the carried `lastTsUs` is all the fold needs — the gate
    * pins exactly that boundary. */
  class SessionCountsFromInitialProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, (Long, Long), UserSessions, SessionState] {
    @transient private var state:
      org.apache.spark.sql.streaming.ValueState[SessionState] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[SessionState]("session",
        org.apache.spark.sql.Encoders.product[SessionState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInitialState(user: Long, initial: SessionState,
        timers: org.apache.spark.sql.streaming.TimerValues): Unit =
      state.update(initial)
    override def handleInputRows(user: Long, rows: Iterator[(Long, Long)],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[UserSessions] = {
      val st = foldSessionState(
        if (state.exists()) state.get() else EmptySession,
        rows.map(_._2).toSeq.sorted)
      state.update(st)
      Iterator.single(UserSessions(user, st.nSessions, st.nEvents))
    }
  }

  /** [[sessionCounts]] bootstrapped from batch-computed per-user state
    * — see [[SessionCountsFromInitialProcessor]]. */
  def sessionCountsTwsBootstrapped(live: DataFrame,
      initial: Dataset[(Long, SessionState)]): Dataset[UserSessions] = {
    import live.sparkSession.implicits._
    live
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new SessionCountsFromInitialProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update(),
        initial.groupByKey(_._1).mapValues(_._2))
  }

  /** V2 of [[SessionState]] — STATE SCHEMA EVOLUTION: the same
    * "session" column family evolved with ONE APPENDED FIELD,
    * `upgradeEvents` (events folded since the v2 deploy). Typed
    * `Option[Long]` deliberately: evolution is Avro-rule-based
    * (`spark.sql.streaming.stateStore.encodingFormat = avro`), and a
    * field absent from a v1 row reads back as null — the None default
    * IS the migration semantics the d228 spec pins. */
  final case class SessionStateV2(lastTsUs: Long, nSessions: Long,
    nEvents: Long, upgradeEvents: Option[Long])

  /** [[UserSessions]] plus the post-upgrade event count. */
  final case class UserSessionsV2(user_id: Long, n_sessions: Long,
    n_events: Long, n_upgrade_events: Long)

  /** [[SessionCountsProcessor]] "version 2 of the deploy": reads the
    * v1 checkpoint's state rows (the evolved schema fills
    * `upgradeEvents` with None), folds the SAME session definition,
    * and additionally counts events seen since the upgrade. The state
    * variable name must stay `"session"` — evolution happens INSIDE a
    * column family, not by creating a new one. */
  class SessionCountsProcessorV2
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long), UserSessionsV2] {
    @transient private var state:
      org.apache.spark.sql.streaming.ValueState[SessionStateV2] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[SessionStateV2]("session",
        org.apache.spark.sql.Encoders.product[SessionStateV2],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[(Long, Long)],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[UserSessionsV2] = {
      val prev =
        if (state.exists()) state.get()
        else SessionStateV2(Long.MinValue, 0L, 0L, Some(0L))
      val ts = rows.map(_._2).toSeq.sorted
      val st = foldSessionState(
        SessionState(prev.lastTsUs, prev.nSessions, prev.nEvents), ts)
      val st2 = SessionStateV2(st.lastTsUs, st.nSessions, st.nEvents,
        Some(prev.upgradeEvents.getOrElse(0L) + ts.length))
      state.update(st2)
      Iterator.single(UserSessionsV2(
        user, st2.nSessions, st2.nEvents, st2.upgradeEvents.getOrElse(0L)))
    }
  }

  /** [[sessionCountsTws]] under the evolved v2 state schema — see
    * [[SessionCountsProcessorV2]]. */
  def sessionCountsTwsV2(events: DataFrame): Dataset[UserSessionsV2] = {
    import events.sparkSession.implicits._
    events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new SessionCountsProcessorV2,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** [[sessionCounts]] on the new state API — see
    * [[SessionCountsProcessor]]. */
  def sessionCountsTws(events: DataFrame): Dataset[UserSessions] = {
    import events.sparkSession.implicits._
    events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new SessionCountsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** One finalized session: emitted exactly once, when the watermark
    * proves no further event can extend it. */
  final case class ClosedSession(
    user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  /** Per-user buffer of event timestamps not yet part of a closed
    * session. */
  final case class SessionBuffer(tsUs: Seq[Long])

  /** Split sorted event times into gap-delimited sessions (each inner
    * list ascending; a gap strictly greater than [[GapUs]] starts a new
    * session — the one session definition shared by every sessionizer
    * and pinned against q18's batch oracle). */
  private[streaming] def gapSplit(sorted: Seq[Long]): List[List[Long]] =
    sorted.foldLeft(List.empty[List[Long]]) { (acc, t) =>
      acc match {
        case (cur @ (last :: _)) :: rest if t - last <= GapUs =>
          (t :: cur) :: rest
        case _ => List(t) :: acc
      }
    }.map(_.reverse).reverse

  /** Watermarked sessionization that tolerates OUT-OF-ORDER arrival
    * across micro-batches: event times are buffered per user, and a
    * session is only finalized (emitted, Append mode) once the event-time
    * watermark passes its end + the 30-minute gap — at which point no
    * admissible event can extend or reorder it, so late-but-in-watermark
    * events land in the right session instead of corrupting a running
    * count (the failure mode of [[sessionCounts]] under unordered
    * input).
    *
    * State is BOUNDED: closed sessions leave the buffer immediately, so
    * a user's state holds only events newer than (watermark − gap) —
    * the watermark horizon — and the whole map is dropped via
    * `state.remove()` when a user has no open tail. The event-time
    * timeout re-invokes the function with no rows once the watermark
    * passes the open tail's close time, so sessions finalize even if the
    * user never sends another event. */
  def closedSessions(events: DataFrame): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      // the watermarked `ts` column must reach the stateful operator;
      // the micros long rides alongside it
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionBuffer, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long)],
            state: GroupState[SessionBuffer]) =>
          val wmMs = state.getCurrentWatermarkMs()
          val wmUs = wmMs * 1000L
          val buf = (state.getOption.map(_.tsUs).getOrElse(Seq.empty) ++
            rows.map(_._3)).sorted
          val sessions = gapSplit(buf)
          val (closed, open) = sessions.partition(_.last + GapUs < wmUs)
          if (open.isEmpty) state.remove()
          else {
            state.update(SessionBuffer(open.flatten))
            // wake at the EARLIEST provable close — with max, an older
            // quiet session would sit buffered until the newest (possibly
            // still-active) session's close time instead of emitting as
            // soon as the watermark proves it closed
            val closeMs = (open.map(_.last).min + GapUs) / 1000L + 1
            // the timeout must sit strictly beyond the current watermark
            state.setTimeoutTimestamp(math.max(closeMs, wmMs + 1))
          }
          closed.iterator
            .map(s => ClosedSession(user, s.head, s.last, s.length.toLong))
      }
  }

  /** [[closedSessions]]'s watermark-proved finalizer re-expressed on
    * Spark 4's `transformWithState` with the API's OWN EVENT-TIME
    * TIMERS — the successor machinery for "wake me when the watermark
    * passes this instant" that replaces `GroupStateTimeout
    * .EventTimeTimeout`: the event buffer lives in a typed
    * [[org.apache.spark.sql.streaming.ListState]] (the state kind
    * d204's ValueState fold never touches), and each key keeps exactly
    * ONE registered timer, re-aimed at the EARLIEST provable session
    * close on every invocation (the [[closedSessions]] discipline — an
    * older quiet session must emit at ITS close, not the newest's).
    * Sessions are emitted exactly once, in Append mode, when the
    * watermark proves no admissible event can extend them; closed
    * sessions leave the buffer immediately, so state is bounded to the
    * watermark horizon, and a key with no open tail clears its state
    * and carries no timer at all. */
  class ClosedSessionsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, java.sql.Timestamp, Long), ClosedSession] {
    @transient private var buf:
      org.apache.spark.sql.streaming.ListState[Long] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      buf = getHandle.getListState[Long]("buf",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    /** The one close step both entry points share: fold `incoming` into
      * the buffered times, emit every session the watermark proves
      * closed, keep the open tail, and re-aim the key's single timer at
      * the earliest remaining close. `keepTimerMs` names a timer the
      * runtime is already retiring (the one whose expiry this call IS)
      * so it is not redundantly deleted. */
    private def closeAndReschedule(user: Long, incoming: Seq[Long],
        wmMs: Long, keepTimerMs: Long): Iterator[ClosedSession] = {
      val wmUs = wmMs * 1000L
      val merged =
        ((if (buf.exists()) buf.get().toSeq else Seq.empty) ++ incoming).sorted
      val sessions = gapSplit(merged)
      val (closed, open) = sessions.partition(_.last + GapUs < wmUs)
      // one timer per key: retire any previously-aimed wake-up before
      // re-aiming (the expired timer itself is runtime-retired)
      getHandle.listTimers().filter(_ != keepTimerMs)
        .foreach(getHandle.deleteTimer)
      if (open.isEmpty) buf.clear()
      else {
        buf.put(open.flatten.toArray)
        val closeMs = (open.map(_.last).min + GapUs) / 1000L + 1
        // the timer must sit strictly beyond the current watermark or
        // it could never fire
        getHandle.registerTimer(math.max(closeMs, wmMs + 1))
      }
      closed.iterator
        .map(s => ClosedSession(user, s.head, s.last, s.length.toLong))
    }

    override def handleInputRows(user: Long,
        rows: Iterator[(Long, java.sql.Timestamp, Long)],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[ClosedSession] =
      closeAndReschedule(user, rows.map(_._3).toSeq,
        timers.getCurrentWatermarkInMs(), keepTimerMs = Long.MinValue)

    override def handleExpiredTimer(user: Long,
        timers: org.apache.spark.sql.streaming.TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[ClosedSession] =
      closeAndReschedule(user, Seq.empty,
        timers.getCurrentWatermarkInMs(),
        keepTimerMs = expired.getExpiryTimeInMs())
  }

  /** Content-hash dedup on `transformWithState` with TTL-EXPIRING
    * state — the one state-lifecycle surface the suite's other tws
    * gates leave dark (r16 VERDICT next #3): d76 expires by WATERMARK,
    * d211/d220 by event-time TIMERS; `TTLConfig` is the OPERATIONAL
    * form a production config actually ships — a per-variable
    * processing-time bound the store enforces itself, no timer
    * bookkeeping in the processor. Semantics here are re-admission
    * dedup ("suppress repeats seen within the last TTL"): a key's
    * first arrival emits and marks state; repeats inside the TTL are
    * suppressed; once the TTL lapses the key is FORGOTTEN and the next
    * arrival emits again — exactly a cache with expiry, which is what
    * TTL state is for. `ttlMs <= 0` runs the same processor with
    * `TTLConfig.NONE` (the spec's discriminative corner: nothing ever
    * re-admits).
    *
    * Scale: state is one boolean per hash bounded by the TTL horizon —
    * the store evicts expired rows itself, so state size tracks the
    * ARRIVAL RATE × TTL, not the corpus. */
  class TtlDedupProcessor(ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, String, String] {
    @transient private var seen:
      org.apache.spark.sql.streaming.ValueState[Boolean] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen",
        org.apache.spark.sql.Encoders.scalaBoolean,
        if (ttlMs > 0)
          org.apache.spark.sql.streaming.TTLConfig(
            java.time.Duration.ofMillis(ttlMs))
        else org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(hash: String, rows: Iterator[String],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[String] =
      // an expired value reads as absent — that IS the expiry surface
      if (seen.exists()) Iterator.empty
      else { seen.update(true); Iterator.single(hash) }
  }

  /** TTL-expiring content dedup over a document stream — see
    * [[TtlDedupProcessor]]. TTL state requires processing-time mode;
    * update mode because a key legitimately re-emits after expiry. */
  def ttlDedup(docs: DataFrame, ttlMs: Long): Dataset[String] = {
    import docs.sparkSession.implicits._
    docs.select(md5(col("text")).as("text_hash")).as[String]
      .groupByKey(identity)
      .transformWithState(new TtlDedupProcessor(ttlMs),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        OutputMode.Update())
  }

  /** One finalized per-(user, event-type) activity burst: a maximal
    * run of same-type events with no intra-run gap above [[GapUs]] —
    * the q18/d211 session definition applied one key level finer. */
  final case class TypeBurst(user_id: Long, event_type: String,
    start_us: Long, end_us: Long, n_events: Long)

  /** Per-(user, type) burst finalizer on `transformWithState`'s typed
    * MAP STATE — the state kind the ValueState fold (d204) and the
    * ListState buffer (d211) never touch: the stream stays keyed by
    * USER (one state-store row per user, so one fetch serves every
    * type the user emits — the co-location that makes cross-type state
    * cheap), and the per-type sub-state lives as map entries keyed by
    * event type. The mechanics exercise the full map surface:
    * arrivals `updateValue` their type's buffer, the close sweep
    * ITERATES the map (a ValueState cannot enumerate what it doesn't
    * know is there), a type whose buffer fully closes is evicted with
    * `removeKey` — entry-grained expiry — and a user with no open
    * entries clears the whole row. One event-time timer per USER,
    * re-aimed at the earliest provable close across ALL of the user's
    * open types (the d211 discipline lifted over the map): an older
    * quiet type must emit at ITS close even while another type chats
    * on. State is bounded to the watermark horizon per (user, type) —
    * closed bursts leave their entry immediately. */
  class TypeBurstsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String, java.sql.Timestamp, Long), TypeBurst] {
    @transient private var bufs:
      org.apache.spark.sql.streaming.MapState[String, SessionBuffer] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      bufs = getHandle.getMapState[String, SessionBuffer]("bufs",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.product[SessionBuffer],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    /** Merge arrivals into their type's map entry, sweep EVERY open
      * entry for watermark-proved closes, re-aim the user's single
      * timer at the earliest remaining close across all entries. */
    private def closeAndReschedule(user: Long,
        incoming: Map[String, Seq[Long]], wmMs: Long,
        keepTimerMs: Long): Iterator[TypeBurst] = {
      val wmUs = wmMs * 1000L
      incoming.foreach { case (t, ts) =>
        val prev =
          if (bufs.containsKey(t)) bufs.getValue(t).tsUs else Seq.empty
        bufs.updateValue(t, SessionBuffer(prev ++ ts))
      }
      // materialize before mutating — the sweep removes/updates entries
      val entries = bufs.iterator().map { case (t, b) => (t, b.tsUs) }.toList
      val out = List.newBuilder[TypeBurst]
      var earliestUs = Long.MaxValue
      entries.foreach { case (t, tsUs) =>
        val sessions = gapSplit(tsUs.sorted)
        val (closed, open) = sessions.partition(_.last + GapUs < wmUs)
        closed.foreach(s =>
          out += TypeBurst(user, t, s.head, s.last, s.length.toLong))
        if (open.isEmpty) bufs.removeKey(t) // entry-grained expiry
        else {
          bufs.updateValue(t, SessionBuffer(open.flatten))
          earliestUs = math.min(earliestUs, open.map(_.last).min + GapUs)
        }
      }
      getHandle.listTimers().filter(_ != keepTimerMs)
        .foreach(getHandle.deleteTimer)
      if (earliestUs == Long.MaxValue) bufs.clear()
      else getHandle.registerTimer(
        math.max(earliestUs / 1000L + 1, wmMs + 1))
      out.result().iterator
    }

    override def handleInputRows(user: Long,
        rows: Iterator[(Long, String, java.sql.Timestamp, Long)],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[TypeBurst] =
      closeAndReschedule(user,
        rows.toSeq.groupBy(_._2).map { case (t, rs) => (t, rs.map(_._4)) },
        timers.getCurrentWatermarkInMs(), keepTimerMs = Long.MinValue)

    override def handleExpiredTimer(user: Long,
        timers: org.apache.spark.sql.streaming.TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[TypeBurst] =
      closeAndReschedule(user, Map.empty,
        timers.getCurrentWatermarkInMs(),
        keepTimerMs = expired.getExpiryTimeInMs())
  }

  /** Watermark-proved per-(user, type) bursts on MapState — see
    * [[TypeBurstsProcessor]]. */
  def typeBurstsTws(events: DataFrame): Dataset[TypeBurst] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      // the watermarked `ts` column must reach the stateful operator
      // (the d211 contract); the micros long rides alongside it
      .select(col("user_id"), col("event_type"), col("ts"),
        unix_micros(col("ts")).as("ts_us"))
      .as[(Long, String, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .transformWithState(new TypeBurstsProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** [[closedSessions]] on the new state API — see
    * [[ClosedSessionsProcessor]]. RocksDB-only, like all
    * `transformWithState` operators. */
  def closedSessionsTws(events: DataFrame): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .transformWithState(new ClosedSessionsProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }
}
