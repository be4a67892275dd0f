package graft.streaming

import graft.codec.TokenCodec
import graft.convert.{InstatGameConverter, OptaGameConverter, SpadlPipeline}
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
  * time_in_seconds for InStat).
  *
  * Emission protocol (per key):
  *  - arriving rows below the current watermark are dropped (late) by
  *    Spark before the state function sees them, and counted in its
  *    `numRowsDroppedByWatermark`; duplicate `seq` deliveries are dropped
  *    (idempotent input);
  *  - Opta: the safe prefix = buffered events with event_time < watermark,
  *    in seq order. Since any future row sorts after every safe event
  *    (event_time is sort-compatible and late rows are dropped), actions
  *    whose source position <= |safe| - 2 are final — conversion lookahead
  *    is 1 event (W2 clearance / W4 dribble) — and VAEP needs only the
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

  final case class StreamEvent(
      doc_id: String, source: String, provider: Int, home_team_id: Int,
      seq: Int, event_time: Timestamp, group: Array[Int],
      pass_type: Option[String])

  /** One buffered raw event inside the state store. */
  final case class BufEvent(seq: Int, ts: Long, group: Array[Int],
      pass_type: Option[String])

  /** Per-key state, stored as FLAT PRIMITIVE ARRAYS: the Catalyst encoder
    * has a fast path for primitive arrays, while a Seq of nested structs
    * costs a per-element struct (de)serialization that dominated the state
    * update time at scale (measured ~3s/task/batch for 800-event buffers).
    * Event i = (seqs(i), tss(i), flat[offsets(i) until offsets(i+1)]).
    * Keypass flags live in the parallel (kpSeqs, kpTypes) arrays.
    *
    * `frontierTs` = the emission frontier: the watermark-minus-lag bound
    * used at the last emission. Rows below it are genuinely late (their
    * region is already emitted); rows between frontier and the current
    * watermark are legitimate upstream-delayed deliveries (e.g. unmatched
    * left rows a stream-stream outer join releases only after the
    * watermark closes their join window) and are accepted.
    */
  final case class GameBuf(
      provider: Int, home: Int, emittedActions: Int, frontierTs: Long,
      droppedPrefix: Int, // leading window-output actions already emitted
      carry: graft.vaep.ValuationCore.Carry, // O(1) valuation resume state
      seqs: Array[Int], tss: Array[Long], offsets: Array[Int],
      flat: Array[Int], kpSeqs: Array[Int], kpTypes: Array[String]) {
    def size: Int = seqs.length
    def toEvents: Vector[BufEvent] = {
      val kp = kpSeqs.zip(kpTypes).toMap
      (0 until size).iterator.map { i =>
        BufEvent(seqs(i), tss(i),
          java.util.Arrays.copyOfRange(flat, offsets(i), offsets(i + 1)),
          kp.get(seqs(i)))
      }.toVector
    }
  }

  object GameBuf {
    val empty: GameBuf = GameBuf(-1, -1, 0, Long.MinValue, 0,
      graft.vaep.ValuationCore.Carry.empty,
      Array.empty, Array.empty, Array(0), Array.empty, Array.empty,
      Array.empty)

    def build(provider: Int, home: Int, emittedActions: Int,
        frontierTs: Long, droppedPrefix: Int,
        carry: graft.vaep.ValuationCore.Carry,
        events: Seq[BufEvent]): GameBuf = {
      val n = events.size
      val seqs = new Array[Int](n)
      val tss = new Array[Long](n)
      val offsets = new Array[Int](n + 1)
      var total = 0
      var i = 0
      events.foreach { e => total += e.group.length }
      val flat = new Array[Int](total)
      var off = 0
      val kpS = Array.newBuilder[Int]
      val kpT = Array.newBuilder[String]
      events.foreach { e =>
        seqs(i) = e.seq
        tss(i) = e.ts
        offsets(i) = off
        System.arraycopy(e.group, 0, flat, off, e.group.length)
        off += e.group.length
        e.pass_type.foreach { t => kpS += e.seq; kpT += t }
        i += 1
      }
      offsets(n) = off
      GameBuf(provider, home, emittedActions, frontierTs,
        droppedPrefix, carry, seqs, tss,
        offsets, flat, kpS.result(), kpT.result())
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

  /** Convert+value the watermark-safe subset (events with ts < wm, in seq
    * order — ties in the converter's game-time sort resolve by doc order,
    * which the seq-sorted subset preserves) and return the actions after
    * `already` that are final: src position <= |safe| - 2, because every
    * future event has ts >= wm and therefore sorts after ALL safe events.
    * `finalFlush` (session close) emits everything.
    */
  /** Incremental Opta emission: convert ONLY the buffered window (the two
    * retained overlap events + everything not yet retired), resume the
    * valuation from the O(1) carry, emit the newly-stable actions
    * (src <= |window| - 2) and report what to retain. Work per batch is
    * O(new events), state is O(unsafe tail + 2), yet output is bitwise
    * equal to the whole-game batch conversion (the slicing-equivalence
    * property test pins this).
    */
  /** emission result: actions to emit, new emitted-count/carry, and the
    * retention decision — keep buffered-safe events from position
    * `keepFrom`, with `newDroppedPrefix` leading actions of the retained
    * window's output already emitted.
    */
  private final case class EmitResult(out: Vector[ValuedAction],
      emittedActions: Int, carry: ValuationCore.Carry, keepFrom: Int,
      newDroppedPrefix: Int)

  private def optaEmit(key: String, home: Int, window: Seq[BufEvent],
      emittedActions: Int, droppedPrefix: Int,
      carry: ValuationCore.Carry, finalFlush: Boolean): EmitResult = {
    val gameId = key.toInt
    val ordered = window.sortBy(_.seq)
    val raws = ordered.map(b => SpadlPipeline.withKeypass(
      TokenCodec.toOptaRaw(gameId, home, TokenCodec.decodeOptaGroup(b.group)),
      b.pass_type))
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
    * from `buf`'s emitted count and carry) and drop the state.
    */
  private def closeSession(key: String, provider: Int, home: Int,
      events: Seq[BufEvent], buf: GameBuf,
      state: GroupState[GameBuf]): Iterator[ValuedAction] = {
    val out =
      if (provider == TokenCodec.ProviderOpta)
        optaEmit(key, home, events, buf.emittedActions, buf.droppedPrefix,
          buf.carry, finalFlush = true).out
      else instatValued(key, home, events)
    state.remove()
    out.iterator
  }

  def stateFn(sessionGapMs: Long, emissionLagMs: Long,
      lostUpgrades: Option[org.apache.spark.util.LongAccumulator] = None)(
      key: String, rows: Iterator[StreamEvent],
      state: GroupState[GameBuf]): Iterator[ValuedAction] = {
    if (state.hasTimedOut) {
      val buf = state.get
      return closeSession(key, buf.provider, buf.home, buf.toEvents, buf, state)
    }

    val wm = state.getCurrentWatermarkMs()
    val buf0 = state.getOption.getOrElse(GameBuf.empty)
    val prior = buf0.toEvents
    val seen = scala.collection.mutable.Set.empty[Int]
    prior.foreach(e => seen += e.seq)
    var provider = buf0.provider
    var home = buf0.home
    val fresh = Vector.newBuilder[BufEvent]
    // multi-keypass merge: a second join row for an already-seen seq (e.g.
    // 'key' AND 'assisst' for one event) upgrades the stored pass_type by
    // KpWinner precedence — delivery ORDER no longer decides the flag, so
    // the stream matches the batch path bitwise. Safe: join matches are
    // always released before the 31s emission lag lets the action emit.
    val kpUpgrade = scala.collection.mutable.Map.empty[Int, String]
    var lostUpg = 0L
    rows.foreach { e =>
      // truly-late drop: the event's region is already emitted AND its
      // duplicates of retired events land here too (retired => ts<frontier)
      if (e.event_time.getTime < buf0.frontierTs) {
        // a keypass upgrade aimed at an already-emitted/retired event is a
        // PARITY LOSS, not routine lateness: the batch path would have the
        // upgraded flag. Counted separately (round-2 ADVICE) so a margin
        // break between the join's release bound and the emission lag is
        // observable instead of silent. Never fires while emissionLagMs
        // exceeds the join bound (see valuedActions).
        if (e.pass_type.isDefined) lostUpg += 1
      }
      else if (e.provider == TokenCodec.ProviderOpta && {
        val p = e.group(2); p != 1 && p != 2
      }) () // P1 period filter at ingestion: never buffered
      else if (seen.add(e.seq)) { // duplicate delivery: idempotent
        provider = e.provider
        home = e.home_team_id
        fresh += BufEvent(e.seq, e.event_time.getTime, e.group, e.pass_type)
      } else e.pass_type.foreach { t =>
        kpUpgrade(e.seq) =
          kpUpgrade.get(e.seq).map(graft.convert.KpWinner.pick(_, t)).getOrElse(t)
      }
    }
    lostUpgrades.foreach(_.add(lostUpg))
    val freshV = fresh.result()
    val events0 = prior ++ freshV
    val events =
      if (kpUpgrade.isEmpty) events0
      else events0.map { ev =>
        kpUpgrade.get(ev.seq) match {
          case Some(t) =>
            val merged = ev.pass_type
              .map(graft.convert.KpWinner.pick(_, t)).getOrElse(t)
            if (ev.pass_type.contains(merged)) ev
            else ev.copy(pass_type = Some(merged))
          case None => ev
        }
      }
    if (events.isEmpty) return Iterator.empty // all late, no prior state
    val frontier = math.max(buf0.frontierTs, wm - emissionLagMs)

    val maxTs = events.iterator.map(_.ts).max
    // immediate close: when the emission frontier itself has passed the
    // session's natural close time, the session is definitively over in
    // event time — every event below the watermark is droppable-late and
    // any accepted future row (ts >= wm >= maxTs+gap) would start a NEW
    // session; all join-released deliveries for this key are in THIS
    // batch's iterator (release condition wm > ts+joinBound is implied by
    // the frontier condition, since gap + lag >> joinBound). Flushing now
    // instead of arming a timeout saves one full watermark-advance
    // round-trip per game: a watermark jump (sentinel / quiet stream)
    // closes in its own batch, not two batches later. The timeout path
    // below still covers gradual watermark advance past an idle key.
    if (wm - emissionLagMs >= maxTs + sessionGapMs)
      return closeSession(key, provider, home, events, buf0, state)
    // clamp: after a watermark jump the natural close time may already be
    // in the past — close at the next watermark advance instead
    state.setTimeoutTimestamp(math.max(maxTs + sessionGapMs, wm + 1))

    if (provider == TokenCodec.ProviderOpta) {
      // safe set: events strictly below the emission frontier. Convert only
      // when it can have grown (frontier advanced or new sub-frontier rows)
      // — otherwise every heartbeat batch would re-convert the window.
      val safe = events.filter(_.ts < frontier)
      val safeGrew = frontier > buf0.frontierTs ||
        freshV.exists(_.ts < frontier)
      if (safe.size >= 2 && safeGrew) {
        val r = optaEmit(key, home, safe, buf0.emittedActions,
          buf0.droppedPrefix, buf0.carry, finalFlush = false)
        val keep = safe.sortBy(optaSortKey).drop(r.keepFrom) ++
          events.filter(_.ts >= frontier)
        state.update(GameBuf.build(provider, home, r.emittedActions,
          frontier, r.newDroppedPrefix, r.carry, keep))
        r.out.iterator
      } else {
        state.update(GameBuf.build(provider, home, buf0.emittedActions,
          frontier, buf0.droppedPrefix, buf0.carry, events))
        Iterator.empty
      }
    } else {
      state.update(GameBuf.build(provider, home, buf0.emittedActions,
        frontier, buf0.droppedPrefix, buf0.carry, events))
      Iterator.empty
    }
  }

  // ------------------------------------------------------- query builders

  /** events (+ optional keypass stream-stream LEFT join under watermark
    * bounds, J1) -> watermark -> flatMapGroupsWithState -> valued actions.
    */
  def valuedActions(spark: SparkSession, events: Dataset[StreamEvent],
      keypass: Option[DataFrame] = None,
      watermarkDelay: String = "10 seconds",
      sessionGap: String = DefaultSessionGap,
      lostUpgrades: Option[org.apache.spark.util.LongAccumulator] = None,
      emissionLagOverride: Option[Long] = None)
      : Dataset[ValuedAction] = {
    import spark.implicits._
    val withKp: Dataset[StreamEvent] = keypass match {
      case Some(kp) =>
        // stream-stream left outer join under watermark bounds: the
        // outcome stream row must lie within +-30s of the action event
        val ev = events.withWatermark("event_time", watermarkDelay).as("e")
        val kpw = kp
          .select(col("doc_id").as("kp_doc"), col("event_id").as("kp_event"),
            col("pass_type").as("kp_type"),
            col("event_time").as("kp_time"))
          .withWatermark("kp_time", watermarkDelay).as("k")
        ev.join(kpw,
            expr("""e.doc_id = k.kp_doc AND
                    element_at(e.group, 1) = k.kp_event AND
                    k.kp_time >= e.event_time - INTERVAL 30 SECONDS AND
                    k.kp_time <= e.event_time + INTERVAL 30 SECONDS"""),
            "leftOuter")
          .select(col("e.doc_id"), col("e.source"), col("e.provider"),
            col("e.home_team_id"), col("e.seq"), col("e.event_time"),
            col("e.group"), col("k.kp_type").as("pass_type"))
          .as[StreamEvent] // left-side watermark propagates through the join
      case None => events.withWatermark("event_time", watermarkDelay)
    }
    // emission must lag the global watermark by the join's release bound:
    // an unmatched left row is released only once the watermark passes its
    // +30s join window, so rows legitimately arrive up to 30s "late". The
    // lag carries a 10s safety margin over that bound (round-2 ADVICE:
    // the old 1s margin made parity rest on scheduler timing); an upgrade
    // that still misses the buffer increments `lostUpgrades`. The override
    // exists so tests can UNDERSIZE the lag on purpose and prove the break
    // is observable in that counter (round-3 VERDICT #8) — production
    // callers must not set it.
    val emissionLagMs = emissionLagOverride.getOrElse(
      if (keypass.isDefined) 40000L else 0L)
    withKp
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        stateFn(intervalMs(sessionGap), emissionLagMs, lostUpgrades))
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
  def possessions(spark: SparkSession, events: Dataset[StreamEvent],
      watermarkDelay: String = "10 seconds",
      gap: String = "10 seconds"): DataFrame = {
    import spark.implicits._
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
