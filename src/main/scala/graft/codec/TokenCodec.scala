package graft.codec

import graft.model._

/** Fixed-width int32 token codec, version 1 — FIXTURES.md §2.
  *
  * `tokens` = header + N self-delimiting event groups. Floats are stored as
  * value*100 (Opta feeds carry percent-of-pitch with 2-decimal precision,
  * /root/reference/R/opta_events.R:49-50); sentinel -1 encodes NA.
  *
  * Header (4 ints): [codec_version=1, provider (0=opta,1=instat),
  * home_team_id, n_events].
  *
  * Opta group (11 + 2*n_qual ints):
  *   [event_id, type_id, period_id, minute, second, player_id, team_id,
  *    outcome, x*100, y*100, n_qual, (qual_key, qual_val*100)*]
  * InStat group (16 ints):
  *   [id, half, second, team_id, player_id, position_id, action_id,
  *    generic_action_type_id, standart_id, attack_status_id, outcome,
  *    body_id, pos_x*100, pos_y*100, pos_dest_x*100 | -1, pos_dest_y*100 | -1]
  *
  * Output SPADL actions re-encode as 12-int groups for the token-array
  * equality check:
  *   [action_idx, type_id, result_id, bodypart_id, period_id,
  *    time_seconds*100, player_id, team_id, start_x*100, start_y*100,
  *    end_x*100, end_y*100]
  */
object TokenCodec {
  val Version = 1
  val ProviderOpta = 0
  val ProviderInstat = 1

  /** Wire form of one Opta event (pre-F10; exactly what the feed carries). */
  final case class OptaWire(
      event_id: Int, type_id: Int, period_id: Int, minute: Int, second: Int,
      player_id: Int, team_id: Int, outcome: Boolean, x100: Int, y100: Int,
      quals: Vector[(Int, Int)])

  /** Wire form of one InStat event. -1 sentinels preserved. */
  final case class InstatWire(
      id: Int, half: Int, second: Int, team_id: Int, player_id: Int,
      position_id: Int, action_id: Int, generic_action_type_id: Int,
      standart_id: Int, attack_status_id: Int, outcome: Boolean, body_id: Int,
      pos_x100: Int, pos_y100: Int, pos_dest_x100: Int, pos_dest_y100: Int)

  sealed trait DecodedGame { def homeTeamId: Int }
  final case class OptaGame(homeTeamId: Int, events: Vector[OptaWire])
      extends DecodedGame
  final case class InstatGame(homeTeamId: Int, events: Vector[InstatWire])
      extends DecodedGame

  // ---------------------------------------------------------------- encode

  def encodeOpta(homeTeamId: Int, events: Seq[OptaWire]): Array[Int] = {
    val buf = Array.newBuilder[Int]
    buf += Version += ProviderOpta += homeTeamId += events.size
    events.foreach { e =>
      buf += e.event_id += e.type_id += e.period_id += e.minute += e.second
      buf += e.player_id += e.team_id += (if (e.outcome) 1 else 0)
      buf += e.x100 += e.y100 += e.quals.size
      e.quals.foreach { case (k, v) => buf += k += v }
    }
    buf.result()
  }

  def encodeInstat(homeTeamId: Int, events: Seq[InstatWire]): Array[Int] = {
    val buf = Array.newBuilder[Int]
    buf += Version += ProviderInstat += homeTeamId += events.size
    events.foreach { e =>
      buf += e.id += e.half += e.second += e.team_id += e.player_id
      buf += e.position_id += e.action_id += e.generic_action_type_id
      buf += e.standart_id += e.attack_status_id += (if (e.outcome) 1 else 0)
      buf += e.body_id += e.pos_x100 += e.pos_y100
      buf += e.pos_dest_x100 += e.pos_dest_y100
    }
    buf.result()
  }

  // ---------------------------------------------------------------- decode

  def decode(tokens: Array[Int]): DecodedGame = {
    require(tokens.length >= 4, s"truncated header: ${tokens.length} ints")
    require(tokens(0) == Version, s"unknown codec version ${tokens(0)}")
    val home = tokens(2)
    var i = 4
    var k = 0
    tokens(1) match {
      case ProviderOpta =>
        val out = Vector.newBuilder[OptaWire]
        while (k < tokens(3)) {
          out += decodeOptaGroup(tokens, i)
          i = nextGroup(tokens, i)
          k += 1
        }
        OptaGame(home, out.result())
      case ProviderInstat =>
        val out = Vector.newBuilder[InstatWire]
        while (k < tokens(3)) {
          out += decodeInstatGroup(tokens, i)
          i = nextGroup(tokens, i)
          k += 1
        }
        InstatGame(home, out.result())
      case p => throw new IllegalArgumentException(s"unknown provider $p")
    }
  }

  /** Offset of the event group after the one starting at `i` — the one
    * group-length rule (Opta 11 + 2*n_qual ints, InStat 16).
    */
  private def nextGroup(tokens: Array[Int], i: Int): Int =
    i + (if (tokens(1) == ProviderOpta) 11 + 2 * tokens(i + 10) else 16)

  /** Decode a single self-delimiting event group (streaming: one event
    * per stream row).
    */
  def decodeOptaGroup(g: Array[Int]): OptaWire = decodeOptaGroup(g, 0)

  /** The Opta group starting at offset `o` of `g`. */
  def decodeOptaGroup(g: Array[Int], o: Int): OptaWire = {
    val nq = g(o + 10)
    val quals = Vector.newBuilder[(Int, Int)]
    var q = 0
    while (q < nq) {
      quals += ((g(o + 11 + 2 * q), g(o + 12 + 2 * q)))
      q += 1
    }
    OptaWire(g(o), g(o + 1), g(o + 2), g(o + 3), g(o + 4), g(o + 5),
      g(o + 6), g(o + 7) == 1, g(o + 8), g(o + 9), quals.result())
  }

  def decodeInstatGroup(g: Array[Int]): InstatWire = decodeInstatGroup(g, 0)

  /** The InStat group starting at offset `o` of `g`. */
  def decodeInstatGroup(g: Array[Int], o: Int): InstatWire =
    InstatWire(g(o), g(o + 1), g(o + 2), g(o + 3), g(o + 4), g(o + 5),
      g(o + 6), g(o + 7), g(o + 8), g(o + 9), g(o + 10) == 1, g(o + 11),
      g(o + 12), g(o + 13), g(o + 14), g(o + 15))

  /** Split a doc's tokens into (header-implied provider/home, per-event
    * groups) without fully materializing typed events.
    */
  def eventGroups(tokens: Array[Int]): (Int, Int, Vector[Array[Int]]) = {
    require(tokens(0) == Version)
    val out = Vector.newBuilder[Array[Int]]
    var i = 4
    var k = 0
    while (k < tokens(3)) {
      val j = nextGroup(tokens, i)
      out += java.util.Arrays.copyOfRange(tokens, i, j)
      i = j
      k += 1
    }
    (tokens(1), tokens(2), out.result())
  }

  // ------------------------------------------- wire -> typed raw events

  /** Opta end-coordinate resolution (F10, /root/reference/R/opta_events.R:
    * 67-86,129-148): priority pass_end(140/141) > blocked(146/147) >
    * goal_mouth(102; x forced to 100); NA falls back to start.
    */
  private def optaEnd(quals: Map[String, Int], qPassEnd: String,
      qBlocked: String, useGoalMouth: Boolean, start: Double): Double = {
    val r: Option[Double] =
      quals.get(qPassEnd).map(_ / 100.0)
        .orElse(quals.get(qBlocked).map(_ / 100.0))
        .orElse(quals.get(OptaConfig.QGoalMouthY).map(v =>
          if (useGoalMouth) v / 100.0 else 100.0))
    r.getOrElse(start)
  }

  /** Expand one Opta wire event to the typed raw event the converter
    * consumes (mirrors /root/reference/R/opta_events.R:43-119; keypass/assist
    * default false — they come from the keypass side stream, J1).
    */
  def toOptaRaw(gameId: Int, homeTeamId: Int, w: OptaWire,
      seq: Int = 0): OptaRawEvent = {
    val qmapInt: Map[String, Int] = w.quals.map { case (k, v) => k.toString -> v }.toMap
    val sx = w.x100 / 100.0
    val sy = w.y100 / 100.0
    val ex = optaEnd(qmapInt, OptaConfig.QPassEndX, OptaConfig.QBlockedX,
      useGoalMouth = false, sx)
    val ey = optaEnd(qmapInt, OptaConfig.QPassEndY, OptaConfig.QBlockedY,
      useGoalMouth = true, sy)
    OptaRawEvent(
      game_id = gameId, event_id = w.event_id.toDouble, type_id = w.type_id,
      period_id = w.period_id, minute = w.minute, second = w.second,
      player_id = w.player_id, team_id = w.team_id, outcome = w.outcome,
      start_x = sx, start_y = sy, end_x = ex, end_y = ey,
      assist = false, keypass = false,
      side = if (w.team_id == homeTeamId) "home" else "away",
      home_team_id = homeTeamId,
      // values keep the raw x100 int as string (cheap; conversion only
      // ever consumes KEYS — end coords are resolved above)
      qualifiers = qmapInt.map { case (k, v) =>
        k -> java.lang.Integer.toString(v) },
      seq = seq)
  }

  def toInstatRaw(w: InstatWire): InstatRawEvent = {
    // NA body_id -> 1 = foot (R/instat_spadl.R:58)
    val body = if (w.body_id == -1) 1 else w.body_id
    InstatRawEvent(
      id = w.id, half = w.half, second = w.second.toDouble,
      team_id = w.team_id, player_id = w.player_id,
      position_id = w.position_id, action_id = w.action_id,
      generic_action_type_id = w.generic_action_type_id,
      standart_id = w.standart_id, attack_status_id = w.attack_status_id,
      outcome = w.outcome, body_id = body,
      pos_x = w.pos_x100 / 100.0, pos_y = w.pos_y100 / 100.0,
      pos_dest_x = if (w.pos_dest_x100 == -1) None else Some(w.pos_dest_x100 / 100.0),
      pos_dest_y = if (w.pos_dest_y100 == -1) None else Some(w.pos_dest_y100 / 100.0),
      action_name = InstatConfig.actionName(w.action_id))
  }

  // ------------------------------------------- output re-encode (parity)

  /** Re-encode converted SPADL actions with the output codec — the
    * token-array-equality invariant (BASELINE.json `input_hint`).
    */
  def encodeActions(actions: Seq[SpadlAction]): Array[Int] = {
    val buf = Array.newBuilder[Int]
    def c100(v: Double): Int =
      if (v.isNaN) -1 else math.round(v * 100.0).toInt
    actions.foreach { a =>
      buf += a.action_idx += a.type_id += a.result_id += a.bodypart_id
      buf += a.period_id += c100(a.time_seconds) += a.player_id += a.team_id
      buf += c100(a.start_x) += c100(a.start_y) += c100(a.end_x) += c100(a.end_y)
    }
    buf.result()
  }
}
