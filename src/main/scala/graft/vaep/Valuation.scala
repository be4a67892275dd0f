package graft.vaep

import graft.model.{SpadlAction, SpadlConfig, ValuedAction}
import org.apache.spark.sql.DataFrame

/** Deterministic probability scorer + VAEP action values.
  *
  * The reference scores two pretrained binary classifiers — P(score within
  * 10 actions), P(concede within 10 actions) — via mlr3/xgboost RDS models
  * (/root/reference/R/spadl.R:108-134) that are opaque binaries; the engine
  * capability is "apply a per-row probability model" (SURVEY.md §7.5.4), so
  * we ship a fixed-weight logistic scorer as the committed model resource.
  * The VAEP delta (W9) follows the public socceraction formula (Decroos et
  * al., KDD 2019; delegated at /root/reference/R/model_data.R:26-32):
  *
  *   offensive(a_i) = P_s(a_i) - prev, prev = P_s(a_{i-1}) if same team else
  *   P_c(a_{i-1}); prev := 0 when |t_i - t_{i-1}| > 10 s or a_{i-1} was a
  *   goal; the first action of a game uses prev = 0 (raw probability).
  *   defensive(a_i) = -(P_c(a_i) - prev'), prev' symmetric.
  *   vaep = offensive + defensive.
  *
  * Scorer inputs are feature-frame values (team!=home flipped coordinates,
  * running goalscore_diff). The batch path ([[value]]) and the streaming
  * state function both run [[ValuationCore]], so they agree bitwise.
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

  @inline private def b2d(b: Boolean): Double = if (b) 1.0 else 0.0

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

/** Pure per-game valuation core: the one VAEP implementation for standard
  * SPADL, run per game by [[Valuation.value]] (batch) and inside the
  * streaming state function.
  */
object ValuationCore {
  import Valuation._

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

  def value(actions: Seq[SpadlAction]): Vector[ValuedAction] =
    valueWithCarry(actions, Carry.empty)._1

  /** Value `actions` continuing from `carry`; returns the valued actions
    * and the carry AFTER EACH position (carries(i) = state after action i),
    * so a caller emitting only a stable prefix can resume from exactly the
    * emitted boundary. Bitwise-identical to a single whole-game pass.
    */
  def valueWithCarry(actions: Seq[SpadlAction],
      carry: Carry): (Vector[ValuedAction], Vector[Carry]) = {
    if (actions.isEmpty) return (Vector.empty, Vector.empty)
    val as = actions.toVector
    val teamA = if (carry.teamA == -1) as.head.team_id else carry.teamA
    var gsA = carry.gsA
    var gsB = carry.gsB
    val out = Vector.newBuilder[ValuedAction]
    val carries = Vector.newBuilder[Carry]
    var havePrev = carry.havePrev
    var prevTeam = carry.prevTeam
    var prevTs = carry.prevTs
    var prevS = carry.prevS
    var prevC = carry.prevC
    var prevGoal = carry.prevGoal
    as.foreach { a =>
      val isGoal = a.type_name.contains("shot") && a.result_name == "success"
      val isOwngoal = a.type_name.contains("shot") && a.result_name == "owngoal"
      val teamIsA = a.team_id == teamA
      val gsTeam = if (teamIsA) gsA else gsB
      val gsOpp = if (teamIsA) gsB else gsA
      val gsDiff = (gsTeam - gsOpp).toDouble
      val flip = a.team_id != a.home_team_id
      def fx(v: Double) = if (flip) SpadlConfig.FieldLength - v else v
      def fy(v: Double) = if (flip) SpadlConfig.FieldWidth - v else v
      def dist(x: Double, y: Double) = {
        val dx = math.abs(SpadlConfig.GoalX - x)
        val dy = math.abs(SpadlConfig.GoalY - y)
        math.sqrt(dx * dx + dy * dy)
      }
      val sDist = dist(fx(a.start_x), fy(a.start_y))
      val eDist = dist(fx(a.end_x), fy(a.end_y))
      val p_s = scoreP(eDist, a.type_name.contains("shot"),
        a.result_name == "success", gsDiff)
      val p_c = concedeP(sDist, eDist, a.result_name == "fail", gsDiff)
      val (off, dfn) =
        if (!havePrev) (p_s - 0.0, -(p_c - 0.0))
        else {
          val sameTeam = a.team_id == prevTeam
          val tooLong = math.abs(a.time_seconds - prevTs) > 10.0
          val pS = if (tooLong || prevGoal) 0.0 else if (sameTeam) prevS else prevC
          val pC = if (tooLong || prevGoal) 0.0 else if (sameTeam) prevC else prevS
          (p_s - pS, -(p_c - pC))
        }
      out += ValuedAction(a.game_id, a.event_id, a.action_idx, a.period_id,
        a.minute, a.second, a.time_seconds, a.player_id, a.team_id,
        a.home_team_id, a.side, a.start_x, a.start_y, a.end_x, a.end_y,
        a.type_id, a.type_name, a.result_id, a.result_name, a.bodypart_id,
        a.bodypart_name, a.assist, a.keypass, p_s, p_c, off, dfn, off + dfn)
      if ((isGoal && teamIsA) || (isOwngoal && !teamIsA)) gsA += 1
      if ((isGoal && !teamIsA) || (isOwngoal && teamIsA)) gsB += 1
      havePrev = true
      prevTeam = a.team_id
      prevTs = a.time_seconds
      prevS = p_s
      prevC = p_c
      prevGoal = a.type_name.contains("shot") &&
        (a.result_name == "success" || a.result_name == "owngoal")
      carries += Carry(teamA, gsA, gsB, havePrev, prevTeam, prevTs,
        prevS, prevC, prevGoal)
    }
    (out.result(), carries.result())
  }
}
