package graft

import graft.convert.{AtomicConvert, SpadlPipeline}
import graft.fixtures.FixtureGen
import graft.model.AtomicAction
import graft.vaep.AtomicValuation
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Atomic VAEP semantics: reified goal types drive the goalscore and the
  * prev-zeroing, the team-aware delta swaps scores/concedes on change of
  * possession, the DataFrame entry point equals the per-game core bitwise,
  * and the plan keeps the standard path's one-exchange shape.
  */
class AtomicValuationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def atom(idx: Int, tn: String, team: Int, ts: Double,
      x: Double = 50, y: Double = 30, dx: Double = 5, dy: Double = 0) =
    (1, idx.toDouble, idx, 1, ts, 10, 0, tn, team * 100 + 1, team,
      x, y, dx, dy, 0, "foot", idx)

  private def frame(rows: Seq[(Int, Double, Int, Int, Double, Int, Int,
      String, Int, Int, Double, Double, Double, Double, Int, String, Int)])
      : DataFrame = {
    import spark.implicits._
    rows.toDF("game_id", "event_id", "action_idx", "period_id",
      "time_seconds", "home_team_id", "type_id", "type_name", "player_id",
      "team_id", "x", "y", "dx", "dy", "bodypart_id", "bodypart_name",
      "atomic_idx")
  }

  test("first atomic uses raw probabilities; values in (0,1); vaep = off+def") {
    val df = AtomicValuation.value(frame(Seq(
      atom(1, "pass", 10, 0), atom(2, "receival", 10, 2))))
    val rows = df.orderBy("atomic_idx").collect()
    val r1 = rows(0)
    assert(r1.getAs[Double]("offensive_value") == r1.getAs[Double]("scores"))
    assert(r1.getAs[Double]("defensive_value") == -r1.getAs[Double]("concedes"))
    rows.foreach { r =>
      val s = r.getAs[Double]("scores"); val c = r.getAs[Double]("concedes")
      assert(s > 0 && s < 1 && c > 0 && c < 1)
      assert(r.getAs[Double]("vaep_value") ==
        r.getAs[Double]("offensive_value") + r.getAs[Double]("defensive_value"))
    }
  }

  test("goal atomic zeroes the next prev and moves the goalscore") {
    val df = AtomicValuation.value(frame(Seq(
      atom(1, "shot", 10, 0),
      atom(2, "goal", 10, 1),
      atom(3, "pass", 10, 3), // prev was a goal atomic => prev = 0
      atom(4, "pass", 10, 5)))) // now gsDiff = +1 for team 10
    val rows = df.orderBy("atomic_idx").collect()
    val r3 = rows(2)
    assert(r3.getAs[Double]("offensive_value") == r3.getAs[Double]("scores"),
      "prev must be zeroed right after a goal atomic")
    // goalscore after the goal shifts the scorer input: the same pass at
    // gsDiff=+1 scores differently than in a goal-less control game
    val control = AtomicValuation.value(frame(Seq(
      atom(1, "shot", 10, 0), atom(2, "receival", 10, 1),
      atom(3, "pass", 10, 3))))
      .orderBy("atomic_idx").collect()(2)
    assert(r3.getAs[Double]("scores") != control.getAs[Double]("scores"),
      "goalscore diff must feed the scorer")
  }

  test("team switch swaps scores/concedes in the prev term") {
    val df = AtomicValuation.value(frame(Seq(
      atom(1, "pass", 10, 0),
      atom(2, "interception", 20, 2)))) // possession change
    val rows = df.orderBy("atomic_idx").collect()
    val r1 = rows(0); val r2 = rows(1)
    val expectedOff = r2.getAs[Double]("scores") - r1.getAs[Double]("concedes")
    assert(r2.getAs[Double]("offensive_value") == expectedOff,
      "prev for a team change must come from the opponent's concedes")
  }

  test(">10s gap zeroes the prev term") {
    val df = AtomicValuation.value(frame(Seq(
      atom(1, "pass", 10, 0), atom(2, "pass", 10, 20))))
    val r2 = df.orderBy("atomic_idx").collect()(1)
    assert(r2.getAs[Double]("offensive_value") == r2.getAs[Double]("scores"))
  }

  test("DataFrame atomic valuation == per-game core, bitwise, any partitioning") {
    import spark.implicits._
    val actions = FixtureGen.corpus(6, 100).flatMap { g =>
      SpadlPipeline.convertDoc(g.doc.doc_id, g.doc.tokens,
        g.keypasses.map(k => SpadlPipeline.Kp(k.event_id, k.pass_type)))
    }
    val atomic = AtomicConvert.toAtomic(spark.createDataset(actions).toDF())
      .as[AtomicAction].collect().toSeq
    assert(atomic.map(_.game_id).distinct.size == 6)
    val truth = atomic.groupBy(_.game_id).values.flatMap(as =>
        AtomicValuation.valueGame(as.sortBy(_.atomic_idx)))
      .toSeq.sortBy { case (a, _) => (a.game_id, a.atomic_idx) }
    for (parts <- Seq(1, 7)) {
      val got = AtomicValuation.value(
          spark.createDataset(atomic).toDF().repartition(parts))
        .collect().toSeq
        .sortBy(r => (r.getAs[Int]("game_id"), r.getAs[Int]("atomic_idx")))
      assert(got.size == truth.size)
      got.zip(truth).foreach { case (r, (a, v)) =>
        val at = s"(${a.game_id},${a.atomic_idx}) parts=$parts"
        assert(r == Row.fromSeq(a.productIterator.toSeq ++
          v.productIterator.toSeq), at)
        // bitwise: compare raw double bits, not approximate equality
        v.productIterator.zipWithIndex.foreach { case (d: Double, i) =>
          assert(java.lang.Double.doubleToLongBits(d) ==
            java.lang.Double.doubleToLongBits(r.getDouble(17 + i)), at)
        }
      }
    }
  }

  test("plan: atomic valuation shares the conversion's ONE exchange by game") {
    import spark.implicits._
    val games = graft.fixtures.FixtureGen.corpus(4, 80)
    val actions = graft.convert.SpadlPipeline.convert(spark,
      spark.createDataset(games.map(_.doc))).toDF()
    val df = AtomicValuation.value(
      graft.convert.AtomicConvert.toAtomic(actions))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges\n$plan")
  }
}
