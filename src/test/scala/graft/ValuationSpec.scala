package graft

import graft.convert.SpadlPipeline
import graft.fixtures.FixtureGen
import graft.model.{SpadlAction, ValuedAction}
import graft.vaep.{Valuation, ValuationCore}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** W9 valuation: DataFrame entry point == pure core path BITWISE (the
  * float-determinism requirement of SURVEY.md §7.5.5 — identical output at
  * any parallelism), plus semantic pins for the VAEP formula.
  */
class ValuationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def fixtureActions: Seq[SpadlAction] =
    FixtureGen.corpus(6, 100).flatMap { g =>
      SpadlPipeline.convertDoc(g.doc.doc_id, g.doc.tokens,
        g.keypasses.map(k => SpadlPipeline.Kp(k.event_id, k.pass_type)))
    }

  test("DataFrame valuation == core valuation, bitwise, any partitioning") {
    import spark.implicits._
    val actions = fixtureActions
    val truth = actions.groupBy(_.game_id).values.flatMap(as =>
      ValuationCore.value(as.toVector.sortBy(_.action_idx)))
      .toSeq.sortBy(a => (a.game_id, a.action_idx))
    for (parts <- Seq(1, 7)) {
      val got = Valuation.value(
          spark.createDataset(actions).toDF().repartition(parts))
        .as[ValuedAction].collect().toSeq
        .sortBy(a => (a.game_id, a.action_idx))
      assert(got.size == truth.size)
      got.zip(truth).foreach { case (a, b) =>
        // bitwise: compare raw double bits, not approximate equality
        assert(java.lang.Double.doubleToLongBits(a.vaep_value) ==
          java.lang.Double.doubleToLongBits(b.vaep_value),
          s"vaep bits differ at (${a.game_id},${a.action_idx}) parts=$parts")
        assert(a == b, s"(${a.game_id},${a.action_idx}) parts=$parts")
      }
    }
  }

  test("first action of a game uses raw probability (prev = 0)") {
    val a = action(1, team = 10, ts = 0.0)
    val v = ValuationCore.value(Seq(a))
    assert(v.head.offensive_value == v.head.scores)
    assert(v.head.defensive_value == -v.head.concedes)
  }

  test("same-team prev uses lag scores; opponent flips to concedes") {
    val a1 = action(1, team = 10, ts = 0.0)
    val a2 = action(2, team = 10, ts = 5.0)
    val v = ValuationCore.value(Seq(a1, a2))
    assert(v(1).offensive_value == v(1).scores - v(0).scores)
    val b2 = action(2, team = 20, ts = 5.0)
    val w = ValuationCore.value(Seq(a1, b2))
    assert(w(1).offensive_value == w(1).scores - w(0).concedes)
  }

  test("prev zeroed when gap > 10 s or after a goal") {
    val a1 = action(1, team = 10, ts = 0.0)
    val a2 = action(2, team = 10, ts = 11.0) // too long ago
    val v = ValuationCore.value(Seq(a1, a2))
    assert(v(1).offensive_value == v(1).scores)
    val g1 = action(1, team = 10, ts = 0.0, tn = "shot", rn = "success")
    val g2 = action(2, team = 10, ts = 5.0)
    val w = ValuationCore.value(Seq(g1, g2))
    assert(w(1).offensive_value == w(1).scores) // prev was a goal
  }

  private def action(idx: Int, team: Int, ts: Double,
      tn: String = "pass", rn: String = "success"): SpadlAction =
    SpadlAction(1, idx.toDouble, idx, 1, 0, ts.toInt, ts, team * 100, team,
      10, if (team == 10) "home" else "away", 50, 30, 60, 35,
      0, tn, 1, rn, 0, "foot", assist = false, keypass = false)
}
