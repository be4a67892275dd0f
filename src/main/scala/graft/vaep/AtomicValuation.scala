package graft.vaep

import graft.model.SpadlConfig
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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
  *    distance-to-goal and the end distance at (x+dx, y+dy);
  *  - the value delta is the same team-aware formula as the standard path
  *    (offensive = P_s - prev, defensive = -(P_c - prev'), prev from the
  *    previous atomic action with the scores/concedes swap on team change,
  *    zeroed after a goal atomic or a >10 s gap).
  *
  * Plan shape: two Window stages over ONE (game_id, atomic_idx) exchange,
  * everything else codegen projections. Unlike the standard path, which
  * runs the scalar [[ValuationCore]] per game, this is the only atomic
  * implementation.
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

  private val w = Window.partitionBy("game_id").orderBy("atomic_idx")

  private def flipX(c: Column): Column =
    when(col("team_id") =!= col("home_team_id"),
      lit(SpadlConfig.FieldLength) - c).otherwise(c)
  private def flipY(c: Column): Column =
    when(col("team_id") =!= col("home_team_id"),
      lit(SpadlConfig.FieldWidth) - c).otherwise(c)

  private def distToGoal(x: Column, y: Column): Column = {
    val dx = abs(lit(SpadlConfig.GoalX) - x)
    val dy = abs(lit(SpadlConfig.GoalY) - y)
    sqrt(dx * dx + dy * dy)
  }

  /** Adds scores/concedes probabilities + VAEP values to an atomic frame
    * ([[graft.convert.AtomicConvert.toAtomic]] output).
    */
  def value(atomic: DataFrame): DataFrame = {
    val isGoal = col("type_name") === "goal"
    val isOwngoal = col("type_name") === "owngoal"
    // running goalscore BEFORE the current atomic (team_a = first row's)
    val teamA = first(col("team_id")).over(
      w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val teamIsA = col("team_id") === teamA
    def cumBefore(c: Column) = coalesce(
      sum(c.cast("int")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
      lit(0))
    val gsA = cumBefore((isGoal && teamIsA) || (isOwngoal && !teamIsA))
    val gsB = cumBefore((isGoal && !teamIsA) || (isOwngoal && teamIsA))
    val gsDiff = (when(teamIsA, gsA).otherwise(gsB) -
      when(teamIsA, gsB).otherwise(gsA)).cast("double")

    // flipped start + movement end (away dx/dy mirror with the axis)
    val sx = flipX(col("x"))
    val sy = flipY(col("y"))
    val ex = flipX(col("x") + col("dx"))
    val ey = flipY(col("y") + col("dy"))
    val startDist = distToGoal(sx, sy)
    val endDist = distToGoal(ex, ey)
    val shotLike = col("type_name").isin("shot", "shot_penalty",
      "shot_freekick")
    val turnover = col("type_name").isin("interception", "out", "owngoal")

    def sig(z: Column): Column = lit(1.0) / (lit(1.0) + exp(-z))
    val stage1 = atomic.select(col("*"), gsDiff.as("_gs"))
      .select(col("*"),
        sig(lit(SB) + lit(SWEndDist) * endDist +
          lit(SWShotLike) * shotLike.cast("double") +
          lit(SWGoal) * isGoal.cast("double") +
          lit(SWGsDiff) * col("_gs")).as("scores"),
        sig(lit(CB) + lit(CWStartDist) * startDist +
          lit(CWEndDist) * endDist +
          lit(CWTurnover) * turnover.cast("double") +
          lit(CWGsDiff) * col("_gs")).as("concedes"))
      .drop("_gs")

    val stage2 = stage1.select(col("*"),
      lag(col("team_id"), 1).over(w).as("_lteam"),
      lag(col("scores"), 1).over(w).as("_lscores"),
      lag(col("concedes"), 1).over(w).as("_lconcedes"),
      lag(col("time_seconds"), 1).over(w).as("_lts"),
      lag(col("type_name").isin("goal", "owngoal"), 1).over(w).as("_lgoal"))

    val sameTeam = col("team_id") === col("_lteam")
    val tooLong = abs(col("time_seconds") - col("_lts")) > lit(10.0)
    def prevP(same: Column, other: Column): Column = coalesce(
      when(tooLong || col("_lgoal"), lit(0.0))
        .otherwise(when(sameTeam, same).otherwise(other)),
      lit(0.0))

    val off = col("scores") - prevP(col("_lscores"), col("_lconcedes"))
    val dfn = -(col("concedes") - prevP(col("_lconcedes"), col("_lscores")))
    stage2.select(col("*"),
        off.as("offensive_value"), dfn.as("defensive_value"),
        (off + dfn).as("vaep_value"))
      .drop("_lteam", "_lscores", "_lconcedes", "_lts", "_lgoal")
  }
}
