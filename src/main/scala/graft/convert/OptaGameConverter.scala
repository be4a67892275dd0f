package graft.convert

import graft.model._

/** Per-game Opta events -> SPADL conversion core (pure Scala, no Spark).
  *
  * Replicates /root/reference/R/opta_spadl.R:52-319 rule-for-rule, including
  * the quirks pinned in SURVEY.md §7.5:
  *  - Q1: the owngoal condition at R/opta_spadl.R:307 is unsatisfiable
  *    (`!length(keys) && q_owngoal %in% keys`), so Opta goals are always
  *    `success`.
  *  - Q2: `tackle` emits type_id 0 (spadl_config.json:12).
  *
  * The O(n^2) recursive next-event parse of the reference
  * (R/opta_spadl.R:132-135) is re-expressed as an O(n) lookahead: the
  * recursion's only observable effect is clearance.end := next event's
  * (scaled, owngoal-adjusted, direction-flipped) start.
  *
  * This core is the production conversion of both paths: the batch path
  * (`SpadlPipeline.convert`) and the streaming state function
  * (flatMapGroupsWithState) run it per game. `OptaConvertBatch`
  * re-expresses the same rules as Catalyst window expressions; it serves
  * only the `spadl_actions_catalyst` query and is property-tested equal to
  * this core.
  */
object OptaGameConverter {
  import SpadlConfig._
  import OptaConfig._

  /** Intermediate parsed event (pre dribble-synthesis). */
  private final case class Parsed(
      event_id: Double, period_id: Int, minute: Int, second: Int,
      player_id: Int, team_id: Int, side: String,
      start_x: Double, start_y: Double, end_x: Double, end_y: Double,
      time_seconds: Double, type_name: String, result_name: String,
      result_id: Int, bodypart_id: Int, bodypart_name: String,
      assist: Boolean, keypass: Boolean)

  /** Action-type classification — F8, R/opta_spadl.R:229-283 (priority
    * order is significant).
    */
  private def actionType(eventName: String, qualKeys: Set[String],
      outcome: Boolean): String = {
    if (actionTypes.contains(eventName)) directTypeMap(eventName)
    else if (actionPass.contains(eventName)) {
      val freekick = qualKeys.contains(QFreekick)
      val cross = qualKeys.contains(QCross)
      val corner = qualKeys.contains(QCorner)
      val throwIn = qualKeys.contains(QThrowIn)
      if (throwIn) "throw_in"
      else if (corner && cross) "corner_crossed"
      else if (freekick && cross) "freekick_crossed"
      else if (cross) "cross"
      else if (freekick) "freekick_short"
      else if (corner) "corner_short"
      else "pass"
    } else if (actionShots.contains(eventName)) {
      if (qualKeys.contains(QShotPenalty)) "shot_penalty"
      else if (qualKeys.contains(QShotFreekick)) "shot_freekick"
      else "shot"
    } else if (actionTouch.contains(eventName) && !outcome) "bad_touch"
    else if (actionFoul.contains(eventName) && !outcome) "foul"
    else "non_action"
  }

  /** Result classification — F9, R/opta_spadl.R:297-319 (incl. Q1). */
  private def resultType(eventName: String, outcome: Boolean): String =
    eventName match {
      case "offside pass" => "offside"
      case "foul" => "fail"
      case "attempt saved" | "miss" | "post" => "fail"
      case "goal" => "success" // Q1: owngoal branch unreachable
      case "ball touch" => "fail"
      case _ => if (outcome) "success" else "fail"
    }

  def convert(events: Seq[OptaRawEvent]): Vector[SpadlAction] =
    convertWithSrc(events).map(_._1)

  /** Like [[convert]] but each action carries (src, needSrc): `src` is the
    * 0-based position (in the sorted, period-filtered event order) of its
    * source event — synthesized dribbles carry their NEXT action's
    * position; `needSrc` is the EARLIEST event position the action's
    * computation depends on — equal to src for originals, the pair's PREV
    * action's position for dribbles (pairs can span runs of non-action
    * events). Used by the streaming state function: an action with
    * src <= k is unaffected by any event at position > k+1 (max lookahead:
    * clearance end-fix W2 / dribble pairing W4 = 1 event), and a buffered
    * suffix from min(needSrc of pending) regenerates every pending action.
    * NOTE: src is NOT monotone along the output order — at timestamp ties
    * a dribble sorts after later-src originals (stable rbind semantics).
    */
  def convertWithSrc(events: Seq[OptaRawEvent]): Vector[(SpadlAction, Int, Int)] = {
    if (events.isEmpty) return Vector.empty
    val gameId = events.head.game_id

    // W1 chronological stable sort + P1 period filter (R/opta_spadl.R:59-61)
    val ordered = events.toVector
      .sortBy(e => (e.period_id, e.minute, e.second))
      .filter(e => e.period_id == 1 || e.period_id == 2)
    if (ordered.isEmpty) return Vector.empty

    // per-event parse (scale F1, owngoal flip F3, direction flip F2)
    val base: Vector[Parsed] = ordered.map { e =>
      val eventName = typeTable.getOrElse(e.type_id, "unknown")
      val qualKeys = e.qualifiers.keySet
      var sx = e.start_x / 100.0 * FieldLength
      var ex = e.end_x / 100.0 * FieldLength
      var sy = e.start_y / 100.0 * FieldWidth
      var ey = e.end_y / 100.0 * FieldWidth
      val bodypartId =
        if (qualKeys.exists(QHead.contains)) 1
        else if (qualKeys.contains(QOther)) 2
        else 0
      val typeName = actionType(eventName, qualKeys, e.outcome)
      val resultName = resultType(eventName, e.outcome)
      if (resultName == "owngoal") { // F3 (unreachable for Opta via Q1)
        ey = FieldWidth - ey; ex = FieldLength - ex
      }
      if (e.side == "away") { // F2
        sx = FieldLength - sx; ex = FieldLength - ex
        sy = FieldWidth - sy; ey = FieldWidth - ey
      }
      Parsed(e.event_id, e.period_id, e.minute, e.second, e.player_id,
        e.team_id, e.side, sx, sy, ex, ey,
        time_seconds = 60.0 * e.minute + e.second,
        type_name = typeName, result_name = resultName,
        result_id = resultIdByName(resultName),
        bodypart_id = bodypartId,
        bodypart_name = bodypartNameById(bodypartId),
        assist = e.assist, keypass = e.keypass)
    }

    // W2 clearance end-fix: next event's start; last row keeps its own end
    // (the recursion at R/opta_spadl.R:132-135 only runs for idx != nrows)
    val cleared = base.zipWithIndex.map { case (p, i) =>
      if (p.type_name == "clearance" && i != base.length - 1)
        p.copy(end_x = base(i + 1).start_x, end_y = base(i + 1).start_y)
      else p
    }

    // P2 non-action filter (R/opta_spadl.R:146); keep source positions
    val acts: Vector[(Parsed, Int)] = cleared.zipWithIndex
      .filter(_._1.type_name != "non_action")

    // W4 dribble synthesis (R/opta_spadl.R:151-191)
    val dribbles = acts.sliding(2).collect {
      case Vector((prev, prevSrc), (nex, nexSrc)) if {
        val dx = prev.end_x - nex.start_x
        val dy = prev.end_y - nex.start_y
        val d2 = dx * dx + dy * dy
        prev.team_id == nex.team_id &&
          d2 >= MinDribbleLength * MinDribbleLength &&
          d2 <= MaxDribbleLength * MaxDribbleLength &&
          (nex.time_seconds - prev.time_seconds) < MaxDribbleDuration
      } =>
        (nex.copy(
          time_seconds = 0.5 * (prev.time_seconds + nex.time_seconds),
          start_x = prev.end_x, start_y = prev.end_y,
          end_x = nex.start_x, end_y = nex.start_y,
          bodypart_id = 0, bodypart_name = "foot",
          type_name = "dribble",
          result_name = "success", result_id = resultIdByName("success")),
          nexSrc, prevSrc)
    }.toVector

    // rbind(events, dribbles) then STABLE re-sort by (period, time)
    // (R/opta_spadl.R:189-190) — equal keys keep concat order, so a dribble
    // sorts after every event sharing its (period_id, time_seconds).
    val merged = (acts.map { case (p, s) => (p, s, s) } ++ dribbles)
      .sortBy { case (p, _, _) => (p.period_id, p.time_seconds) } // stable

    merged.zipWithIndex.map { case ((p, src, needSrc), i) =>
      (SpadlAction(
        game_id = gameId, event_id = p.event_id, action_idx = i + 1,
        period_id = p.period_id, minute = p.minute, second = p.second,
        time_seconds = p.time_seconds, player_id = p.player_id,
        team_id = p.team_id, home_team_id = events.head.home_team_id,
        side = p.side, start_x = p.start_x, start_y = p.start_y,
        end_x = p.end_x, end_y = p.end_y,
        type_id = actionIdByName(p.type_name), type_name = p.type_name,
        result_id = p.result_id, result_name = p.result_name,
        bodypart_id = p.bodypart_id, bodypart_name = p.bodypart_name,
        assist = p.assist, keypass = p.keypass), src, needSrc)
    }
  }
}
