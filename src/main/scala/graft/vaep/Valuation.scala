package graft.vaep

import graft.model.{SpadlAction, SpadlConfig, ValuedAction}
import org.apache.spark.sql.DataFrame

/** Deterministic probability scorer + VAEP action values for standard SPADL.
  *
  * The reference scores two pretrained binary classifiers — P(score within
  * 10 actions), P(concede within 10 actions) — via mlr3/xgboost RDS models
  * (/root/reference/R/spadl.R:108-134) that are opaque binaries; the engine
  * capability is "apply a per-row probability model" (SURVEY.md §7.5.4), so
  * we ship a fixed-weight logistic scorer as the committed model resource.
  * Scorer inputs are feature-frame values (team!=home flipped coordinates,
  * running goalscore_diff).
  *
  * The VAEP delta (W9) lives once, in [[ValuationCore.deltas]]. The batch
  * path ([[value]]), the streaming state function and atomic SPADL
  * ([[AtomicValuation]]) all run it, so batch and stream agree bitwise.
  */
object Valuation {

  // committed scorer weights (the engine's "model resource")
  final val SB = -2.0
  final val SWEndDist = -0.055
  final val SWShot = 1.4
  final val SWSuccess = 0.25
  final val SWGsDiff = 0.08
  final val CB = -3.2
  final val CWStartDist = 0.018
  final val CWEndDist = -0.03
  final val CWFail = 0.4
  final val CWGsDiff = -0.05

  // StrictMath, not math.exp: Math.exp's JIT intrinsic can differ by
  // 1-2 ULP across platforms, and the committed golden digests
  // (golden_valued.tsv) were generated with StrictMath's exp.
  @inline def sigmoid(z: Double): Double = 1.0 / (1.0 + StrictMath.exp(-z))

  /** P(score within 10 actions). */
  def scoreP(endDist: Double, isShot: Boolean, isSuccess: Boolean,
      gsDiff: Double): Double =
    sigmoid(SB + SWEndDist * endDist + SWShot * b2d(isShot) +
      SWSuccess * b2d(isSuccess) + SWGsDiff * gsDiff)

  /** P(concede within 10 actions). */
  def concedeP(startDist: Double, endDist: Double, isFail: Boolean,
      gsDiff: Double): Double =
    sigmoid(CB + CWStartDist * startDist + CWEndDist * endDist +
      CWFail * b2d(isFail) + CWGsDiff * gsDiff)

  @inline private[vaep] def b2d(b: Boolean): Double = if (b) 1.0 else 0.0

  /** Distance from (x, y) to the goal, after mirroring the pitch for the
    * away team so every team attacks the same goal.
    */
  private[vaep] def goalDist(x: Double, y: Double, away: Boolean): Double = {
    val dx = math.abs(SpadlConfig.GoalX -
      (if (away) SpadlConfig.FieldLength - x else x))
    val dy = math.abs(SpadlConfig.GoalY -
      (if (away) SpadlConfig.FieldWidth - y else y))
    math.sqrt(dx * dx + dy * dy)
  }

  /** (P(score), P(concede)) of one action at goalscore difference `gsDiff`. */
  private[vaep] def probs(a: SpadlAction,
      gsDiff: Double): (Double, Double) = {
    val away = a.team_id != a.home_team_id
    val eDist = goalDist(a.end_x, a.end_y, away)
    (scoreP(eDist, a.type_name.contains("shot"), a.result_name == "success",
        gsDiff),
      concedeP(goalDist(a.start_x, a.start_y, away), eDist,
        a.result_name == "fail", gsDiff))
  }

  /** Adds scores/concedes probabilities + VAEP values to a SPADL action
    * frame. Input must carry the [[SpadlAction]] columns (extra columns are
    * ignored); output is exactly the [[ValuedAction]] columns. Each game is
    * valued by [[ValuationCore]] in `action_idx` order after one exchange
    * by game, so batch and streaming output come from the same code.
    */
  def value(actions: DataFrame): DataFrame = {
    val spark = actions.sparkSession
    import spark.implicits._
    actions.as[SpadlAction].groupByKey(_.game_id)
      .flatMapGroups((_, it) =>
        ValuationCore.value(it.toVector.sortBy(_.action_idx)))
      .toDF()
  }
}

/** Pure per-game valuation core: the one VAEP implementation. [[deltas]] is
  * the formula (Decroos et al., KDD 2019; delegated at
  * the reference's R/model_data.R:26-32) for any action type:
  *
  *   offensive(a_i) = P_s(a_i) - prev, prev = P_s(a_{i-1}) if same team else
  *   P_c(a_{i-1}); prev := 0 when |t_i - t_{i-1}| > 10 s or a_{i-1} was a
  *   goal or an own goal; the first action of a game uses prev = 0.
  *   defensive(a_i) = -(P_c(a_i) - prev'), prev' symmetric.
  *   vaep = offensive + defensive.
  *
  * The scorer reads the running goalscore difference before the action;
  * team A is the game's first acting team. Standard SPADL ([[value]], run
  * per game by [[Valuation.value]] and by the streaming state function)
  * and atomic SPADL ([[AtomicValuation.value]]) differ only in their scorer
  * and their goal tests.
  */
object ValuationCore {

  /** O(1) resumable valuation state — the "stateful sliding-window
    * aggregate over the preceding k actions" of the north star, reduced to
    * its minimal carry: the running goalscore and the previous action's
    * probabilities/flags (VAEP's window is k=1 plus running counters).
    */
  final case class Carry(
      teamA: Int, gsA: Int, gsB: Int,
      havePrev: Boolean, prevTeam: Int, prevTs: Double,
      prevS: Double, prevC: Double, prevGoal: Boolean)
  object Carry {
    val empty: Carry = Carry(-1, 0, 0, false, -1, 0.0, 0.0, 0.0, false)
  }

  /** One action's probabilities and VAEP values, named as output columns. */
  final case class Values(scores: Double, concedes: Double,
      offensive_value: Double, defensive_value: Double, vaep_value: Double)

  def value(actions: Seq[SpadlAction]): Vector[ValuedAction] =
    valueWithCarry(actions, Carry.empty)._1

  /** Value `actions` continuing from `carry`; returns the valued actions
    * and the carry AFTER EACH position (carries(i) = state after action i),
    * so a caller emitting only a stable prefix can resume from exactly the
    * emitted boundary. Bitwise-identical to a single whole-game pass.
    */
  def valueWithCarry(actions: Seq[SpadlAction],
      carry: Carry): (Vector[ValuedAction], Vector[Carry]) =
    deltas(actions, carry)(_.team_id, _.time_seconds,
      shotWith(_, "success"), shotWith(_, "owngoal"))(Valuation.probs) {
      (a, v) => ValuedAction(a.game_id, a.event_id, a.action_idx,
        a.period_id, a.minute, a.second, a.time_seconds, a.player_id,
        a.team_id, a.home_team_id, a.side, a.start_x, a.start_y, a.end_x,
        a.end_y, a.type_id, a.type_name, a.result_id, a.result_name,
        a.bodypart_id, a.bodypart_name, a.assist, a.keypass, v.scores,
        v.concedes, v.offensive_value, v.defensive_value, v.vaep_value)
    }

  private def shotWith(a: SpadlAction, result: String): Boolean =
    a.type_name.contains("shot") && a.result_name == result

  /** The VAEP loop over one game's actions in order, continuing from
    * `carry`. `team`, `time`, `goal` and `owngoal` read an action; `probs`
    * scores it at its team's goalscore difference; `emit` builds the output
    * row. Returns the rows and the carry after each position.
    */
  private[vaep] def deltas[A, B](actions: Seq[A], carry: Carry)(
      team: A => Int, time: A => Double, goal: A => Boolean,
      owngoal: A => Boolean)(
      probs: (A, Double) => (Double, Double))(
      emit: (A, Values) => B): (Vector[B], Vector[Carry]) = {
    if (actions.isEmpty) return (Vector.empty, Vector.empty)
    val teamA = if (carry.teamA == -1) team(actions.head) else carry.teamA
    val out = Vector.newBuilder[B]
    val carries = Vector.newBuilder[Carry]
    var c = carry
    actions.foreach { a =>
      val t = team(a)
      val ts = time(a)
      val teamIsA = t == teamA
      val p = probs(a, (if (teamIsA) c.gsA - c.gsB else c.gsB - c.gsA)
        .toDouble)
      val reset = !c.havePrev || c.prevGoal || math.abs(ts - c.prevTs) > 10.0
      val sameTeam = t == c.prevTeam
      val prevS = if (reset) 0.0 else if (sameTeam) c.prevS else c.prevC
      val prevC = if (reset) 0.0 else if (sameTeam) c.prevC else c.prevS
      val off = p._1 - prevS
      val dfn = -(p._2 - prevC)
      out += emit(a, Values(p._1, p._2, off, dfn, off + dfn))
      val isGoal = goal(a)
      val isOwngoal = owngoal(a)
      c = Carry(teamA,
        if ((isGoal && teamIsA) || (isOwngoal && !teamIsA)) c.gsA + 1
        else c.gsA,
        if ((isGoal && !teamIsA) || (isOwngoal && teamIsA)) c.gsB + 1
        else c.gsB,
        true, t, ts, p._1, p._2, isGoal || isOwngoal)
      carries += c
    }
    (out.result(), carries.result())
  }
}
