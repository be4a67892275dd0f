package graft.features

import graft.model.SpadlConfig
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lag-window ML features + lead-window labels over SPADL actions — pure
  * Catalyst window expressions (one shuffle by game_id, then everything
  * stays inside whole-stage codegen).
  *
  * The exact feature set is fixed by the reference's in-repo builder
  * /root/reference/R/features_old.R:7-119 (SURVEY.md §2.5 W7, §2.7 F13-F15),
  * with its quirks replicated verbatim:
  *  - Q5: `bodypart_id_*` and `result_id_*` lag features are computed from
  *    `type_id` (features_old.R:29-33).
  *  - Q6: goal angles use atan(dy/dx) with absolute distances — NaN on the
  *    goal spot, pi/2 on the goal line (features_old.R:207,226).
  *  - the feature frame re-flips coordinates for `team_id != home_team_id`
  *    (features_old.R:153-169) even though conversion already normalized
  *    direction-of-play: replicated.
  *  - `time_seconds` features use `minute*60 + second`, NOT the SPADL
  *    `time_seconds` column (features_old.R:258,332) — they differ on
  *    synthesized dribbles, whose minute/second are copied from the next
  *    action while time_seconds is the pair midpoint (R/opta_spadl.R:170).
  *
  * Labels (lead windows, k=9 -> 10 actions incl. current) follow
  * /root/reference/R/labels_old.R:18-51 with SQL ternary-logic OR matching
  * R's `|` NA semantics exactly, so `na.drop` removes the same rows.
  */
object Features {

  private val w = Window.partitionBy("game_id").orderBy("action_idx")

  /** a0..a{n-1} lag family of an expression (the reference's delegated
    * builder parametrizes this as `nb_prev_actions`, default 3 — the
    * in-repo R twin features_old.R hardcodes the default).
    */
  private def lagsN(c: Column, name: String, n: Int): Seq[(String, Column)] =
    (0 until n).map(i =>
      s"${name}_a$i" -> (if (i == 0) c else lag(c, i).over(w)))

  /** Feature-frame coordinates: re-flip for team != home
    * (features_old.R:153-169).
    */
  def featCoord(xy: Column, fieldDim: Double, isAway: Column): Column =
    when(isAway, lit(fieldDim) - xy).otherwise(xy)

  /** Adds the full feature+label frame. Input: SPADL action columns.
    * Output columns are all cast to double like the reference's
    * `dt[, lapply(.SD, as.numeric)]` (R/spadl.R:97), keyed by
    * (game_id, event_id, action_idx).
    */
  def trainingFrame(actions: DataFrame, withLabels: Boolean = true,
      nbPrevActions: Int = 3, nrActions: Int = 10,
      carry: Seq[(String, String)] = Nil): DataFrame = {
    require(nbPrevActions >= 1 && nrActions >= 1,
      s"nbPrevActions/nrActions must be >= 1")
    def lag3(c: Column, name: String) = lagsN(c, name, nbPrevActions)
    val flip = col("team_id") =!= col("home_team_id")
    val sx = featCoord(col("start_x"), SpadlConfig.FieldLength, flip)
    val sy = featCoord(col("start_y"), SpadlConfig.FieldWidth, flip)
    val ex = featCoord(col("end_x"), SpadlConfig.FieldLength, flip)
    val ey = featCoord(col("end_y"), SpadlConfig.FieldWidth, flip)

    def distX(x: Column) = abs(lit(SpadlConfig.GoalX) - x)
    def distY(y: Column) = abs(lit(SpadlConfig.GoalY) - y)
    def dist(x: Column, y: Column) =
      sqrt(distX(x) * distX(x) + distY(y) * distY(y))
    // Q6: R computes atan(dy/dx); dx=0 -> atan(Inf)=pi/2, 0/0 -> NaN.
    // Guarded explicitly so ANSI mode (Spark 4 default) can't throw.
    def angle(x: Column, y: Column) =
      when(distX(x) === 0.0 && distY(y) === 0.0, lit(Double.NaN))
        .when(distX(x) === 0.0, lit(math.Pi / 2))
        .otherwise(atan(distY(y) / distX(x)))

    val timeSec = col("minute") * 60 + col("second") // NOT time_seconds
    val timeOverall = (col("period_id") - 1) * 2700 + timeSec

    val isGoal = col("type_name").contains("shot") &&
      col("result_name") === "success"
    val isOwngoal = col("type_name").contains("shot") &&
      col("result_name") === "owngoal"
    val teamA = first(col("team_id")).over(
      w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val teamIsA = col("team_id") === teamA
    val goalsA = (isGoal && teamIsA) || (isOwngoal && !teamIsA)
    val goalsB = (isGoal && !teamIsA) || (isOwngoal && teamIsA)
    def cumBefore(c: Column) = coalesce(
      sum(c.cast("int")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
      lit(0))
    val gsA = cumBefore(goalsA)
    val gsB = cumBefore(goalsB)
    val gsTeam = when(teamIsA, gsA).otherwise(gsB)
    val gsOpp = when(teamIsA, gsB).otherwise(gsA)

    val cols = scala.collection.mutable.ArrayBuffer.empty[(String, Column)]
    cols ++= lag3(col("type_id"), "type_id")
    cols ++= lag3(col("type_id"), "bodypart_id") // Q5
    cols ++= lag3(col("type_id"), "result_id") // Q5
    cols ++= lag3(sx, "start_x")
    cols ++= lag3(sy, "start_y")
    cols ++= lag3(ex, "end_x")
    cols ++= lag3(ey, "end_y")
    SpadlConfig.actiontypes.map(_._2).distinct.foreach { n =>
      cols ++= lag3(col("type_name") === n, s"type_$n")
    }
    SpadlConfig.bodyparts.map(_._2).foreach { n =>
      cols ++= lag3(col("bodypart_name") === n, s"bodypart_$n")
    }
    SpadlConfig.results.map(_._2).foreach { n =>
      cols ++= lag3(col("result_name") === n, s"result_$n")
    }
    cols ++= lag3(dist(sx, sy), "start_dist_to_goal")
    cols ++= lag3(angle(sx, sy), "start_angle_to_goal")
    cols ++= lag3(dist(ex, ey), "end_dist_to_goal")
    cols ++= lag3(angle(ex, ey), "end_angle_to_goal")
    (1 until nbPrevActions).foreach { i =>
      cols += s"team_$i" -> (col("team_id") === lag(col("team_id"), i).over(w))
    }
    cols ++= lag3(ex - sx, "dx")
    cols ++= lag3(ey - sy, "dy")
    cols ++= lag3(sqrt((ex - sx) * (ex - sx) + (ey - sy) * (ey - sy)), "movement")
    (1 until nbPrevActions).foreach { i =>
      cols += s"time_delta_$i" -> (timeSec - lag(timeSec, i).over(w))
    }
    // space deltas: previous end - current start (features_old.R:272-303);
    // column order preserved from the fixed-3 builder: dx/dy pairs first,
    // then the movement norms
    (1 until nbPrevActions).foreach { i =>
      cols += s"dx_a0$i" -> (lag(ex, i).over(w) - sx)
      cols += s"dy_a0$i" -> (lag(ey, i).over(w) - sy)
    }
    (1 until nbPrevActions).foreach { i =>
      cols += s"mov_a0$i" -> sqrt(
        (lag(ex, i).over(w) - sx) * (lag(ex, i).over(w) - sx) +
          (lag(ey, i).over(w) - sy) * (lag(ey, i).over(w) - sy))
    }
    cols += "goalscore_team" -> gsTeam
    cols += "goalscore_opponent" -> gsOpp
    cols += "goalscore_diff" -> (gsTeam - gsOpp)
    cols ++= lag3(col("period_id"), "period_id")
    cols ++= lag3(timeSec, "time_seconds")
    cols ++= lag3(timeOverall, "time_seconds_overall")

    if (withLabels) {
      // labels_old.R:18-51 — SQL OR's ternary logic == R's `|` NA logic
      val scores = (1 until nrActions).foldLeft(isGoal: Column) { (acc, k) =>
        acc ||
          (lag(isGoal, -k).over(w) &&
            (lag(col("team_id"), -k).over(w) === col("team_id"))) ||
          (lag(isOwngoal, -k).over(w) &&
            (lag(col("team_id"), -k).over(w) =!= col("team_id")))
      }
      val concedes = (1 until nrActions).foldLeft(isOwngoal: Column) { (acc, k) =>
        acc || lag(isOwngoal, -k).over(w)
      }
      cols += "scores" -> scores
      cols += "concedes" -> concedes
    }

    // ONE projection (a withColumn loop would stack ~165 Projects and make
    // analysis quadratic); every feature cast to double like the reference's
    // all-numeric coercion. na.drop treats NaN as missing, matching R's
    // is.na(NaN) == TRUE (model_data.R:23).
    val keyed = Seq("game_id", "event_id", "action_idx").map(col) ++
      cols.map { case (n, c) => c.cast("double").as(n) } ++
      carry.map { case (src, out) => col(src).cast("double").as(out) }
    actions.select(keyed: _*).na.drop()
  }

  /** Mirror of the reference's `Spadl$get_model_data(nb_prev_actions,
    * nr_actions, labels, add_predictions)` (R/spadl.R:72-145): the
    * feature+label frame, and — like the reference with
    * `add_predictions = TRUE` — the `scores`/`concedes` label columns
    * REPLACED by the committed model's predicted probabilities
    * (R/spadl.R:132-135; the valued SPADL side is [[graft.vaep.Valuation]]).
    */
  def modelData(actions: DataFrame, nbPrevActions: Int = 3,
      nrActions: Int = 10, labels: Boolean = true,
      addPredictions: Boolean = true): DataFrame = {
    if (!addPredictions)
      trainingFrame(actions, labels, nbPrevActions, nrActions)
    else {
      // NO join: value the actions first, then build the feature frame
      // DIRECTLY on the valued rows, carrying the predicted
      // scores/concedes through under temp names, and only then replace
      // the label columns (the reference overwrites them with the
      // probabilities AFTER the labels shaped the row set,
      // R/spadl.R:132-135 — so the NA-drop still filters on labels). A
      // join of the 165-column frame back onto a same-lineage predictions
      // frame sent the optimizer's constraint propagation exponential —
      // one linear plan instead.
      trainingFrame(graft.vaep.Valuation.value(actions),
        withLabels = labels, nbPrevActions, nrActions,
        carry = Seq("scores" -> "p_scores", "concedes" -> "p_concedes"))
        .drop("scores", "concedes")
        .withColumnRenamed("p_scores", "scores")
        .withColumnRenamed("p_concedes", "concedes")
    }
  }
}
