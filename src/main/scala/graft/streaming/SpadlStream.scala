package graft.streaming

import graft.codec.TokenCodec
import graft.convert.{InstatGameConverter, KpWinner, OptaGameConverter, SpadlPipeline}
import graft.model._
import graft.vaep.ValuationCore
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.util.IntervalUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp
import java.util.concurrent.TimeUnit

/** Structured-Streaming CEP core (north star, BASELINE.json):
  * raw tokenized event rows -> SPADL -> VAEP, incrementally, keyed by
  * `doc_id` in `flatMapGroupsWithState` with an event-time watermark.
  *
  * Stream shape: ONE ROW PER RAW EVENT `(doc_id, source, provider,
  * home_team_id, seq, event_time, group)` — `group` is the event's token
  * group (the same int32 codec as the batch table; FIXTURES.md §2), `seq`
  * the position in the sequence, `event_time` = epoch base + in-game time
  * on a sort-compatible axis ((period-1)*3600 + 60*min + sec for Opta;
  * time_in_seconds for InStat). Keypass rows (J1) travel in the same
  * stream under the same key ([[valuedActions]]).
  *
  * Emission protocol (per key):
  *  - arriving rows below the current watermark are dropped (late) by
  *    Spark before the state function sees them, and counted in its
  *    `numRowsDroppedByWatermark`; duplicate `seq` deliveries are dropped
  *    (idempotent input);
  *  - Opta: the safe prefix = buffered events with event_time < watermark
  *    minus the emission lag, in seq order. Since any future row sorts
  *    after every safe event (event_time is sort-compatible and late rows
  *    are dropped), actions whose source position <= |safe| - 2 are
  *    final — conversion lookahead is 1 event (W2 clearance / W4
  *    dribble) — and VAEP needs only the
  *    PRECEDING action (lag-1 sliding window kept in state), so they are
  *    emitted immediately and exactly once;
  *  - InStat: result attribution and the freekick filter are whole-frame
  *    (quirk Q4, R/instat_spadl.R:432-489,237-245), so the game emits on
  *    session close;
  *  - session close: event-time timeout at max(event_time) + sessionGap
  *    flushes the remainder and clears state (state is O(game), bounded by
  *    the domain, NOT by stream length — 10^12 sequences never coexist
  *    because closed sessions leave the store).
  */
object SpadlStream {

  /** One stream row: a raw event, or a keypass row that [[valuedActions]]
    * folds in from the keypass stream. `seq` tells them apart: an event
    * carries its position in the doc (>= 0); a keypass row carries
    * [[KeypassSeq]], its event id in `group(0)`, its type in `pass_type`
    * and -1 in `provider` and `home_team_id`. Events have no `pass_type`.
    */
  final case class StreamEvent(
      doc_id: String, source: String, provider: Int, home_team_id: Int,
      seq: Int, event_time: Timestamp, group: Array[Int],
      pass_type: Option[String])

  /** `seq` of a keypass row folded into the event stream. */
  val KeypassSeq = -1

  /** J1 match rule: a keypass row flags an event with its event id whose
    * time is within this many ms of the keypass time (bounds inclusive).
    * It is also the emission lag when a keypass stream is present
    * ([[valuedActions]] says why that lag is exact).
    */
  val KeypassWindowMs = 30000L

  /** One buffered raw event inside the state store. */
  final case class BufEvent(seq: Int, ts: Long, group: Array[Int])

  /** One buffered keypass row: event id, time and pass type. */
  final case class BufKp(eventId: Int, ts: Long, passType: String)

  /** Per-key state, stored as FLAT PRIMITIVE ARRAYS: the Catalyst encoder
    * has a fast path for primitive arrays, while a Seq of nested structs
    * costs a per-element struct (de)serialization that dominated the state
    * update time at scale (measured ~3s/task/batch for 800-event buffers).
    * Event i = (seqs(i), tss(i), flat[offsets(i) until offsets(i+1)]).
    * Keypass j = (kpIds(j), kpTss(j), kpTypes(j)); a game's keypasses stay
    * until its session closes, so like its events they are O(game).
    *
    * `frontierTs` = the emission frontier: the watermark-minus-lag bound
    * used at the last emission. Events below it are late (their region is
    * already emitted).
    */
  final case class GameBuf(
      provider: Int, home: Int, emittedActions: Int, frontierTs: Long,
      droppedPrefix: Int, // leading window-output actions already emitted
      carry: graft.vaep.ValuationCore.Carry, // O(1) valuation resume state
      seqs: Array[Int], tss: Array[Long], offsets: Array[Int],
      flat: Array[Int], kpIds: Array[Int], kpTss: Array[Long],
      kpTypes: Array[String]) {
    def size: Int = seqs.length
    def toEvents: Vector[BufEvent] =
      (0 until size).iterator.map { i =>
        BufEvent(seqs(i), tss(i),
          java.util.Arrays.copyOfRange(flat, offsets(i), offsets(i + 1)))
      }.toVector
    def keypasses: Vector[BufKp] =
      kpIds.indices.map(j => BufKp(kpIds(j), kpTss(j), kpTypes(j))).toVector
  }

  object GameBuf {
    val empty: GameBuf = GameBuf(-1, -1, 0, Long.MinValue, 0,
      graft.vaep.ValuationCore.Carry.empty,
      Array.empty, Array.empty, Array(0), Array.empty, Array.empty,
      Array.empty, Array.empty)

    def build(provider: Int, home: Int, emittedActions: Int,
        frontierTs: Long, droppedPrefix: Int,
        carry: graft.vaep.ValuationCore.Carry,
        events: Seq[BufEvent], kps: Seq[BufKp]): GameBuf = {
      val n = events.size
      val seqs = new Array[Int](n)
      val tss = new Array[Long](n)
      val offsets = new Array[Int](n + 1)
      var total = 0
      var i = 0
      events.foreach { e => total += e.group.length }
      val flat = new Array[Int](total)
      var off = 0
      events.foreach { e =>
        seqs(i) = e.seq
        tss(i) = e.ts
        offsets(i) = off
        System.arraycopy(e.group, 0, flat, off, e.group.length)
        off += e.group.length
        i += 1
      }
      offsets(n) = off
      GameBuf(provider, home, emittedActions, frontierTs,
        droppedPrefix, carry, seqs, tss, offsets, flat,
        kps.map(_.eventId).toArray, kps.map(_.ts).toArray,
        kps.map(_.passType).toArray)
    }
  }

  /** Default session gap: twice the per-period offset of the event-time
    * axis ((period-1)*3600 s in [[toStreamEvents]]). An Opta half-time
    * leaves about an hour without events on that axis, so any shorter gap
    * lets other games' watermark close a game at half-time, and the second
    * half reopens a fresh session whose `action_idx` restarts.
    */
  val DefaultSessionGap = "2 hours"

  /** Raw-event stream derived from token docs: the deterministic chunker
    * used by fixtures/benches (production would readStream the Iceberg
    * sequence table directly in this shape).
    */
  def toStreamEvents(doc: TokenDoc,
      baseEpochMs: Long = 1704067200000L): Vector[StreamEvent] = {
    val (provider, home, groups) = TokenCodec.eventGroups(doc.tokens)
    groups.zipWithIndex.map { case (g, i) =>
      val gameSec: Long =
        if (provider == TokenCodec.ProviderOpta) {
          val w = TokenCodec.decodeOptaGroup(g)
          (w.period_id - 1).toLong * 3600L + 60L * w.minute + w.second
        } else {
          val w = TokenCodec.decodeInstatGroup(g)
          if (w.half == 2) w.second + 2700L else w.second.toLong
        }
      StreamEvent(doc.doc_id, doc.source, provider, home, i,
        new Timestamp(baseEpochMs + gameSec * 1000L), g, None)
    }
  }

  // ------------------------------------------------------- state function

  /** emission result: actions to emit, new emitted-count/carry, and the
    * retention decision — keep buffered-safe events from position
    * `keepFrom`, with `newDroppedPrefix` leading actions of the retained
    * window's output already emitted.
    */
  private final case class EmitResult(out: Vector[ValuedAction],
      emittedActions: Int, carry: ValuationCore.Carry, keepFrom: Int,
      newDroppedPrefix: Int)

  /** Incremental Opta emission: convert ONLY the buffered window (the two
    * retained overlap events + everything not yet retired), in seq order
    * (ties in the converter's game-time sort resolve by doc order, which
    * the seq-sorted window preserves), resume the valuation from the O(1)
    * carry, emit the newly-stable actions (src <= |window| - 2: every
    * future event sorts after all safe ones) and report what to retain.
    * `finalFlush` (session close) emits everything. Each event takes the
    * [[KpWinner]] of the keypasses with its event id within
    * ±[[KeypassWindowMs]] of its time. Work per batch is O(new events),
    * yet output is bitwise equal to the whole-game batch conversion (the
    * slicing-equivalence property test pins this).
    */
  private def optaEmit(key: String, home: Int, window: Seq[BufEvent],
      kps: Seq[BufKp], emittedActions: Int, droppedPrefix: Int,
      carry: ValuationCore.Carry, finalFlush: Boolean): EmitResult = {
    val gameId = key.toInt
    val ordered = window.sortBy(_.seq)
    val kpById = kps.groupBy(_.eventId)
    val raws = ordered.map { b =>
      val wire = TokenCodec.decodeOptaGroup(b.group)
      val types = kpById.getOrElse(wire.event_id, Nil)
        .filter(k => math.abs(k.ts - b.ts) <= KeypassWindowMs).map(_.passType)
      SpadlPipeline.withKeypass(TokenCodec.toOptaRaw(gameId, home, wire),
        if (types.isEmpty) None else Some(KpWinner.pickAll(types)))
    }
    val withSrc = OptaGameConverter.convertWithSrc(raws)
    val w = ordered.size // all in-play: period-filtered at accept time
    // stability cut: the longest output PREFIX whose actions all have
    // src <= w-2 (src is NOT monotone at timestamp ties — a stable dribble
    // can sort after an unstable original and must wait with it)
    val stableCount =
      if (finalFlush) withSrc.size
      else withSrc.takeWhile(_._2 <= w - 2).size
    val dropCount = droppedPrefix // already-emitted output prefix length
    val pending = withSrc.drop(dropCount).map { case (a, _, _) => a }
    val withIdx = pending.zipWithIndex.map { case (a, i) =>
      a.copy(action_idx = emittedActions + i + 1)
    }
    val (valued, carries) = ValuationCore.valueWithCarry(withIdx, carry)
    val emitCount = math.max(0, stableCount - dropCount)
    val out = valued.take(emitCount)
    val newCarry = if (emitCount > 0) carries(emitCount - 1) else carry
    // retention: keep the event suffix that regenerates every pending
    // action (min needSrc over pending — a pending dribble needs its pair
    // PREV action's event, possibly across non-action event runs); with no
    // pending, future dribbles pair with the last emitted ORIGINAL action.
    val keepCandidate =
      if (stableCount < withSrc.size)
        withSrc.drop(stableCount).iterator.map(_._3).min
      else {
        val lastOriginal = withSrc.take(stableCount).reverseIterator
          .find(_._1.type_name != "dribble")
        lastOriginal.map(_._2).getOrElse(0)
      }
    val keepFrom = math.max(0, math.min(keepCandidate, w - 2))
    // emitted actions regenerated by the retained suffix form its output
    // prefix (output order is preserved on event suffixes)
    val newDroppedPrefix =
      withSrc.take(stableCount).count(_._3 >= keepFrom)
    EmitResult(out, emittedActions + emitCount, newCarry, keepFrom,
      newDroppedPrefix)
  }

  /** converter-order sort key of a buffered Opta event (period, minute,
    * second; seq as the stable tie-break, matching doc-order stability).
    */
  private def optaSortKey(b: BufEvent): (Int, Int, Int, Int) =
    (b.group(2), b.group(3), b.group(4), b.seq)

  private def instatValued(key: String, home: Int,
      events: Seq[BufEvent]): Vector[ValuedAction] = {
    val gameId = key.toInt
    val ordered = events.sortBy(_.seq)
    val raws = ordered.map(b =>
      TokenCodec.toInstatRaw(TokenCodec.decodeInstatGroup(b.group)))
    ValuationCore.value(InstatGameConverter.convert(gameId, home, raws))
  }

  /** Session close: value everything still buffered for the game (resuming
    * from `buf`'s emitted count and carry) and drop the state. A key that
    * holds only keypasses emits nothing.
    */
  private def closeSession(key: String, provider: Int, home: Int,
      events: Seq[BufEvent], kps: Seq[BufKp], buf: GameBuf,
      state: GroupState[GameBuf]): Iterator[ValuedAction] = {
    val out =
      if (events.isEmpty) Vector.empty
      else if (provider == TokenCodec.ProviderOpta)
        optaEmit(key, home, events, kps, buf.emittedActions,
          buf.droppedPrefix, buf.carry, finalFlush = true).out
      else instatValued(key, home, events)
    state.remove()
    out.iterator
  }

  /** The per-game state function. Keypass rows ([[KeypassSeq]]) are kept
    * whole until the session closes and applied by [[optaEmit]] at every
    * conversion, so their delivery order relative to the events and to
    * each other cannot change a flag. `lostUpgrades` counts keypass rows
    * whose match window reaches below the emission frontier: the batch path
    * may flag an already-emitted event with them, so any count is a parity
    * loss. It stays 0 while `emissionLagMs` >= [[KeypassWindowMs]].
    */
  def stateFn(sessionGapMs: Long, emissionLagMs: Long,
      lostUpgrades: Option[org.apache.spark.util.LongAccumulator] = None)(
      key: String, rows: Iterator[StreamEvent],
      state: GroupState[GameBuf]): Iterator[ValuedAction] = {
    if (state.hasTimedOut) {
      val buf = state.get
      return closeSession(key, buf.provider, buf.home, buf.toEvents,
        buf.keypasses, buf, state)
    }

    val wm = state.getCurrentWatermarkMs()
    val buf0 = state.getOption.getOrElse(GameBuf.empty)
    val prior = buf0.toEvents
    val seen = scala.collection.mutable.Set.empty[Int]
    prior.foreach(e => seen += e.seq)
    var provider = buf0.provider
    var home = buf0.home
    val fresh = Vector.newBuilder[BufEvent]
    val kps = scala.collection.mutable.LinkedHashSet(buf0.keypasses: _*)
    var lostKp = 0L
    rows.foreach { e =>
      if (e.seq == KeypassSeq) {
        val kp = BufKp(e.group(0), e.event_time.getTime, e.pass_type.orNull)
        if (kp.ts - KeypassWindowMs < buf0.frontierTs) lostKp += 1
        kps += kp // a redelivered keypass is stored once
      }
      // truly-late drop: the event's region is already emitted AND its
      // duplicates of retired events land here too (retired => ts<frontier)
      else if (e.event_time.getTime < buf0.frontierTs) ()
      else if (e.provider == TokenCodec.ProviderOpta && {
        val p = e.group(2); p != 1 && p != 2
      }) () // P1 period filter at ingestion: never buffered
      else if (seen.add(e.seq)) { // duplicate delivery: idempotent
        provider = e.provider
        home = e.home_team_id
        fresh += BufEvent(e.seq, e.event_time.getTime, e.group)
      }
    }
    lostUpgrades.foreach(_.add(lostKp))
    val freshV = fresh.result()
    val events = prior ++ freshV
    val keypasses = kps.toVector
    if (events.isEmpty && keypasses.isEmpty) return Iterator.empty
    val frontier = math.max(buf0.frontierTs, wm - emissionLagMs)

    val maxTs = (events.iterator.map(_.ts) ++ keypasses.iterator.map(_.ts)).max
    // immediate close: when the emission frontier itself has passed the
    // session's natural close time, the session is definitively over in
    // event time — every event below the watermark is droppable-late and
    // any accepted future row (ts >= wm >= maxTs+gap) would start a NEW
    // session. Flushing now instead of arming a timeout saves one full
    // watermark-advance round-trip per game: a watermark jump (sentinel /
    // quiet stream) closes in its own batch, not two batches later. The
    // timeout path below still covers gradual watermark advance past an
    // idle key.
    if (wm - emissionLagMs >= maxTs + sessionGapMs)
      return closeSession(key, provider, home, events, keypasses, buf0, state)
    // clamp: after a watermark jump the natural close time may already be
    // in the past — close at the next watermark advance instead
    state.setTimeoutTimestamp(math.max(maxTs + sessionGapMs, wm + 1))

    // safe set: events strictly below the emission frontier. Convert only
    // when it can have grown (frontier advanced or new sub-frontier rows)
    // — otherwise every heartbeat batch would re-convert the window.
    val safe =
      if (provider == TokenCodec.ProviderOpta) events.filter(_.ts < frontier)
      else Vector.empty
    if (safe.size >= 2 &&
        (frontier > buf0.frontierTs || freshV.exists(_.ts < frontier))) {
      val r = optaEmit(key, home, safe, keypasses, buf0.emittedActions,
        buf0.droppedPrefix, buf0.carry, finalFlush = false)
      val keep = safe.sortBy(optaSortKey).drop(r.keepFrom) ++
        events.filter(_.ts >= frontier)
      state.update(GameBuf.build(provider, home, r.emittedActions,
        frontier, r.newDroppedPrefix, r.carry, keep, keypasses))
      r.out.iterator
    } else {
      state.update(GameBuf.build(provider, home, buf0.emittedActions,
        frontier, buf0.droppedPrefix, buf0.carry, events, keypasses))
      Iterator.empty
    }
  }

  // ------------------------------------------------------- query builders

  /** events (+ optional keypass rows, J1) -> watermark ->
    * flatMapGroupsWithState -> valued actions: ONE stateful operator.
    *
    * Keypass rows `(doc_id, event_id, pass_type, event_time)` become
    * [[StreamEvent]]s with `seq` = [[KeypassSeq]] and join the events in a
    * `union`; each input keeps its own watermark, so the global watermark
    * is the minimum over the two. The per-game state stores them and
    * [[optaEmit]] applies the ±[[KeypassWindowMs]] match rule.
    *
    * With a keypass stream the emission frontier lags the watermark W by
    * exactly that window. An event emitted in batch N has ts < W_N - 30 s,
    * so any keypass that could flag it has a time <= ts + 30 s < W_N. If
    * it reaches a later batch, Spark drops it as late before the state
    * function sees it (FlatMapGroupsWithState with an event-time timeout
    * drops rows behind the previous batch's watermark) and counts it in
    * `numRowsDroppedByWatermark`; if it is in batch N it is stored before
    * the conversion runs. Without a keypass stream the lag is 0.
    */
  def valuedActions(spark: SparkSession, events: Dataset[StreamEvent],
      keypass: Option[DataFrame] = None,
      watermarkDelay: String = "10 seconds",
      sessionGap: String = DefaultSessionGap,
      lostUpgrades: Option[org.apache.spark.util.LongAccumulator] = None)
      : Dataset[ValuedAction] = {
    import spark.implicits._
    val ev = events.withWatermark("event_time", watermarkDelay)
    val rows: Dataset[StreamEvent] = keypass match {
      case Some(kp) =>
        val kpRows = kp.withWatermark("event_time", watermarkDelay)
          .select(col("doc_id"), lit("keypass").as("source"),
            lit(-1).as("provider"), lit(-1).as("home_team_id"),
            lit(KeypassSeq).as("seq"), col("event_time"),
            array(col("event_id")).as("group"), col("pass_type"))
        ev.toDF().unionByName(kpRows).as[StreamEvent]
      case None => ev
    }
    rows
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        stateFn(intervalMs(sessionGap),
          if (keypass.isDefined) KeypassWindowMs else 0L, lostUpgrades))
  }

  /** Milliseconds of an interval string such as "1 hour 30 minutes",
    * parsed as `withWatermark` parses its delay; a malformed string fails
    * with Spark's interval error.
    */
  private[graft] def intervalMs(s: String): Long =
    IntervalUtils.getDuration(IntervalUtils.fromIntervalString(s),
      TimeUnit.MILLISECONDS)

  /** Possession sessionization (W10): built-in session windows — actions
    * of the same (doc, team) within a 10 s gap form one possession.
    */
  def possessions(events: Dataset[StreamEvent],
      watermarkDelay: String = "10 seconds",
      gap: String = "10 seconds"): DataFrame = {
    val teamCol = when(col("provider") === TokenCodec.ProviderOpta,
      element_at(col("group"), 7)) // OptaWire.team_id
      .otherwise(element_at(col("group"), 4)) // InstatWire.team_id
    events.toDF()
      .withColumn("team_id", teamCol)
      .withWatermark("event_time", watermarkDelay)
      .groupBy(col("doc_id"), col("team_id"),
        session_window(col("event_time"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("doc_id"), col("team_id"),
        col("session_window.start").as("possession_start"),
        col("session_window.end").as("possession_end"), col("n_events"))
  }
}
