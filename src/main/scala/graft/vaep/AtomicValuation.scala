package graft.vaep

import graft.model.AtomicAction
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Atomic-SPADL valuation — the `.get_vaep_values(type = "atomic")`
  * surface (/root/reference/R/model_data.R:26-32, delegated to
  * socceraction's atomic VAEP with pretrained learners shipped as opaque
  * RDS). As with [[Valuation]], the engine capability is "apply a per-row
  * probability model and the team-aware value delta"; the committed
  * logistic weights below are the engine's model resource.
  *
  * Atomic specifics (public socceraction atomic semantics):
  *  - results are REIFIED: `goal` / `owngoal` are atomic action TYPES, so
  *    goal detection and the running goalscore test `type_name`, never a
  *    result column (atomic rows have none);
  *  - location is (x, y) + movement (dx, dy): the scorer reads the start
  *    distance-to-goal and the end distance at (x+dx, y+dy).
  *
  * The value delta is the standard one: each game runs
  * [[ValuationCore.deltas]] with this scorer, after one exchange by game.
  */
object AtomicValuation {

  // committed atomic scorer weights (engine model resource)
  final val SB = -2.4
  final val SWEndDist = -0.06
  final val SWShotLike = 1.2 // shot / shot_penalty / shot_freekick atomics
  final val SWGoal = 2.5 // the goal atomic itself
  final val SWGsDiff = 0.07
  final val CB = -3.0
  final val CWStartDist = 0.016
  final val CWEndDist = -0.028
  final val CWTurnover = 0.5 // interception / out / owngoal atomics
  final val CWGsDiff = -0.045

  private val shotLike = Set("shot", "shot_penalty", "shot_freekick")
  private val turnover = Set("interception", "out", "owngoal")

  /** (P(score), P(concede)) of one atomic action at goalscore difference
    * `gsDiff`.
    */
  private def probs(a: AtomicAction, gsDiff: Double): (Double, Double) = {
    import Valuation.{b2d, goalDist, sigmoid}
    val away = a.team_id != a.home_team_id
    val endDist = goalDist(a.x + a.dx, a.y + a.dy, away)
    (sigmoid(SB + SWEndDist * endDist +
        SWShotLike * b2d(shotLike(a.type_name)) +
        SWGoal * b2d(a.type_name == "goal") + SWGsDiff * gsDiff),
      sigmoid(CB + CWStartDist * goalDist(a.x, a.y, away) +
        CWEndDist * endDist + CWTurnover * b2d(turnover(a.type_name)) +
        CWGsDiff * gsDiff))
  }

  /** Adds scores/concedes probabilities + VAEP values to an atomic frame
    * ([[graft.convert.AtomicConvert.toAtomic]] output): the [[AtomicAction]]
    * columns followed by those of [[ValuationCore.Values]]. Grouping by the
    * `game_id` column reuses the exchange of `toAtomic`'s window.
    */
  def value(atomic: DataFrame): DataFrame = {
    val spark = atomic.sparkSession
    import spark.implicits._
    atomic.groupBy(col("game_id")).as[Int, AtomicAction]
      .flatMapGroups((_, it) => valueGame(it.toVector.sortBy(_.atomic_idx)))
      .select(col("_1.*"), col("_2.*"))
  }

  /** Values one game's atomic actions, given in `atomic_idx` order. */
  def valueGame(actions: Seq[AtomicAction])
      : Vector[(AtomicAction, ValuationCore.Values)] =
    ValuationCore.deltas(actions, ValuationCore.Carry.empty)(_.team_id,
      _.time_seconds, _.type_name == "goal", _.type_name == "owngoal")(
      probs)((_, _))._1
}
