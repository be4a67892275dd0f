package graft.fixtures

import graft.codec.TokenCodec
import graft.codec.TokenCodec.{OptaWire, InstatWire}
import graft.model._
import scala.util.Random
import scala.collection.mutable.ArrayBuffer

/** Deterministic fixture generator — FIXTURES.md §5.
  *
  * Seeded `Random(42 + gameIndex)`, no wall-clock. Generated games cover, by
  * construction, every conversion trigger: each Opta pass-refinement branch
  * (/root/reference/R/opta_spadl.R:249-263), each shot branch (264-272),
  * dribble pairs straddling the 3m/60m/10s thresholds (spadl_config.json:
  * 44-46), clearances needing next-event ends, goals, cards and offside
  * sequences for InStat result attribution (R/instat_spadl.R:432-489), NA
  * end positions (R/instat_spadl.R:84-112) incl. last-row fallback.
  */
object FixtureGen {

  final case class Game(doc: TokenDoc, keypasses: Seq[KeypassRow])

  /** Deterministic Zipf-ish source pick: hot "opta" dominates (skew axis). */
  def sourceFor(gameIdx: Int): String =
    if (gameIdx % 4 == 3) "instat" else "opta"

  def game(gameIdx: Int, nEventsTarget: Int = 120): Game = {
    if (sourceFor(gameIdx) == "opta") optaGame(gameIdx, nEventsTarget)
    else Game(instatGame(gameIdx, nEventsTarget), Nil)
  }

  def corpus(nGames: Int, eventsPerGame: Int = 120): Vector[Game] =
    (0 until nGames).map(game(_, eventsPerGame)).toVector

  // ------------------------------------------------------------------ Opta

  def optaGame(gameIdx: Int, nEventsTarget: Int): Game = {
    val rnd = new Random(42 + gameIdx)
    val gameId = 1000 + gameIdx
    val home = 10
    val away = 20
    val events = ArrayBuffer.empty[OptaWire]
    val keypasses = ArrayBuffer.empty[KeypassRow]
    var eventId = 0
    def nextId(): Int = { eventId += 1; eventId }
    def player(team: Int): Int = team * 100 + rnd.nextInt(11) + 1

    var period = 1
    var minute = 0
    var second = 0
    def tick(maxStep: Int = 20): Unit = {
      // occasionally zero-step to exercise the stable sort on equal keys
      val step = if (rnd.nextInt(10) == 0) 0 else 1 + rnd.nextInt(maxStep)
      second += step
      if (second >= 60) { minute += second / 60; second = second % 60 }
      if (period == 1 && minute >= 45) { period = 2; minute = 45; second = 0 }
    }
    def xy(): (Int, Int) = (rnd.nextInt(10001), rnd.nextInt(10001))

    def add(typeId: Int, team: Int, outcome: Boolean,
        quals: Vector[(Int, Int)], per: Int = period, mi: Int = -1,
        se: Int = -1): OptaWire = {
      val (x, y) = xy()
      val w = OptaWire(nextId(), typeId, per,
        if (mi >= 0) mi else minute, if (se >= 0) se else second,
        player(team), team, outcome, x, y, quals)
      events += w
      w
    }
    def passQuals(endX: Int, endY: Int, extra: Vector[Int] = Vector.empty) =
      Vector(140 -> endX, 141 -> endY) ++ extra.map(_ -> 1)

    // scripted openers covering every pass/shot refinement branch
    val teams = Vector(home, away)
    def t(): Int = teams(rnd.nextInt(2))

    // throw_in > corner_crossed > freekick_crossed > cross > freekick_short
    // > corner_short > pass (priority chain)
    add(1, t(), outcome = true, passQuals(5000, 5000, Vector(107))); tick()
    add(1, t(), outcome = true, passQuals(9800, 200, Vector(6, 2))); tick()
    add(1, t(), outcome = true, passQuals(8000, 3000, Vector(5, 2))); tick()
    add(1, t(), outcome = false, passQuals(9000, 4000, Vector(2))); tick()
    add(1, t(), outcome = true, passQuals(4000, 4000, Vector(5))); tick()
    add(1, t(), outcome = true, passQuals(9900, 100, Vector(6))); tick()
    add(1, t(), outcome = true, passQuals(5500, 5200)); tick()
    // offside pass
    add(2, t(), outcome = false, passQuals(7000, 5000)); tick()
    // shots: penalty / freekick / open play, goal, with head/other bodyparts
    add(13, t(), outcome = false, Vector(9 -> 1)); tick() // miss penalty
    add(15, t(), outcome = false, Vector(26 -> 1, 146 -> 9500, 147 -> 4800)); tick()
    add(16, t(), outcome = true, Vector(102 -> 4500, 15 -> 1)); tick() // headed goal
    add(14, t(), outcome = false, Vector(21 -> 1)); tick() // post, "other"
    // direct types + clearance needing next start
    add(7, t(), outcome = true, Vector.empty); tick()
    add(8, t(), outcome = false, Vector.empty); tick()
    add(12, t(), outcome = true, Vector.empty); tick() // clearance
    add(1, t(), outcome = true, passQuals(6000, 6000)); tick()
    add(11, t(), outcome = true, Vector.empty); tick() // keeper claim
    add(41, t(), outcome = true, Vector.empty); tick() // keeper punch
    add(74, t(), outcome = false, Vector.empty); tick() // blocked pass
    add(52, t(), outcome = true, Vector.empty); tick() // keeper pick-up
    // ball touch / foul with both outcomes (outcome=true => non_action)
    add(61, t(), outcome = false, Vector.empty); tick()
    add(61, t(), outcome = true, Vector.empty); tick()
    add(4, t(), outcome = false, Vector.empty); tick()
    add(4, t(), outcome = true, Vector.empty); tick()
    // non-actions sprinkled in
    add(5, t(), outcome = true, Vector.empty); tick()
    add(17, t(), outcome = false, Vector.empty); tick()
    add(32, t(), outcome = true, Vector.empty, per = 1, mi = 0, se = 0)
    // dribble-threshold pairs: same team, consecutive passes with gaps just
    // around 3m and 60m and around the 10s bound
    val dribTeam = home
    def pairAt(endX: Int, endY: Int, nextX: Int, nextY: Int, dt: Int): Unit = {
      tick()
      events += OptaWire(nextId(), 1, period, minute, second,
        player(dribTeam), dribTeam, true, 1000, 1000,
        Vector(140 -> endX, 141 -> endY))
      val t2 = minute * 60 + second + dt
      events += OptaWire(nextId(), 1, period, t2 / 60, t2 % 60,
        player(dribTeam), dribTeam, true, nextX, nextY,
        Vector(140 -> 5000, 141 -> 5000))
      minute = t2 / 60; second = t2 % 60
    }
    // gap ~= 4.2m (in), dt 5 => dribble
    pairAt(2000, 2000, 2400, 2000, 5)
    // gap just under 3m => no dribble
    pairAt(3000, 3000, 3200, 3000, 5)
    // gap > 60m => no dribble
    pairAt(1000, 1000, 9000, 9000, 5)
    // in-range gap but dt = 10 (not < 10) => no dribble
    pairAt(4000, 4000, 4500, 4000, 10)
    // in-range gap, dt 9 => dribble
    pairAt(4000, 4000, 4500, 4000, 9)

    // filler: random open play until target, incl. period 2 and some
    // keypass/assist rows
    while (events.length < nEventsTarget) {
      tick()
      val team = t()
      val roll = rnd.nextInt(100)
      val w =
        if (roll < 55) {
          val q = passQuals(rnd.nextInt(10001), rnd.nextInt(10001),
            if (rnd.nextInt(8) == 0) Vector(2) else Vector.empty)
          add(1, team, rnd.nextInt(4) > 0, q)
        } else if (roll < 62) add(3, team, rnd.nextBoolean(), Vector.empty)
        else if (roll < 68) add(7, team, rnd.nextBoolean(), Vector.empty)
        else if (roll < 74) add(8, team, rnd.nextBoolean(), Vector.empty)
        else if (roll < 80) add(12, team, rnd.nextBoolean(), Vector.empty)
        else if (roll < 86) {
          val q = if (rnd.nextInt(3) == 0) Vector(15 -> 1) else Vector.empty
          add(15, team, false, q)
        } else if (roll < 90) add(16, team, true,
          Vector(102 -> rnd.nextInt(10001)))
        else if (roll < 94) add(61, team, rnd.nextBoolean(), Vector.empty)
        else if (roll < 97) add(10, team, true, Vector.empty)
        else add(49, team, true, Vector.empty) // ball recovery -> non_action
      // timed on the stream's event-time axis (SpadlStream.toStreamEvents)
      if (w.type_id == 1 && rnd.nextInt(10) == 0)
        keypasses += KeypassRow(s"$gameId", w.event_id,
          if (rnd.nextBoolean()) "key" else "assisst",
          3600.0 * (w.period_id - 1) + 60.0 * w.minute + w.second)
    }

    val tokens = TokenCodec.encodeOpta(home, events.toSeq)
    Game(TokenDoc(gameId.toString, tokens, tokens.length, "opta"),
      keypasses.toSeq)
  }

  // ---------------------------------------------------------------- InStat

  def instatGame(gameIdx: Int, nEventsTarget: Int): TokenDoc = {
    val rnd = new Random(42 + gameIdx)
    val gameId = 1000 + gameIdx
    val home = 30
    val away = 40
    val events = ArrayBuffer.empty[InstatWire]
    var id = 0
    def nid(): Int = { id += 1; id }
    def player(team: Int): Int = team * 100 + rnd.nextInt(11) + 1
    var half = 1
    var sec = 0
    def tick(max: Int = 15): Unit = {
      sec += (if (rnd.nextInt(12) == 0) 0 else 1 + rnd.nextInt(max))
      if (half == 1 && sec > 2650) { half = 2; sec = 0 }
    }
    def pos(): (Int, Int) = (rnd.nextInt(10501), rnd.nextInt(6801))
    def add(team: Int, actionId: Int, gat: Int = 0, std: Int = 1,
        attack: Int = 0, outcome: Boolean = true, body: Int = 1,
        posId: Int = 5, dest: Boolean = true, pl: Int = -1): InstatWire = {
      val (x, y) = pos()
      val (dx, dy) = if (dest) pos() else (-1, -1)
      val w = InstatWire(nid(), half, sec, team,
        if (pl >= 0) pl else player(team), posId, actionId, gat, std, attack,
        outcome, body, x, y, dx, dy)
      events += w
      w
    }
    val teams = Vector(home, away)
    def t(): Int = teams(rnd.nextInt(2))

    // scripted coverage
    add(t(), 1011, gat = 1, std = 1) // pass
    tick()
    // corner crossed: corner start then a "cross" named action
    add(t(), 1011, gat = 1, std = 5, attack = 1); tick(3)
    add(t(), 26001, gat = 26, std = 1); tick()
    // corner short: corner start then non-cross
    add(t(), 1011, gat = 1, std = 5, attack = 1); tick(3)
    add(t(), 1011, gat = 1, std = 1); tick()
    // freekicks: several so the misaligned predecessor filter has material
    add(t(), 1011, gat = 1, std = 3, attack = 1); tick(3)
    add(t(), 26002, gat = 26, std = 1); tick() // next is cross
    add(t(), 27000, gat = 27, std = 1); tick() // ball out before next fk
    add(t(), 1011, gat = 1, std = 4, attack = 1); tick(3)
    add(t(), 1011, gat = 1, std = 1); tick()
    add(t(), 5010, gat = 4, std = 4, attack = 1); tick() // fk shot
    add(t(), 1011, gat = 1, std = 3, attack = 1); tick()
    // shots: open play, penalty, goal (goal NOT near game end)
    add(t(), 5010, gat = 4, std = 1, body = 1); tick()
    add(t(), 5020, gat = 4, std = 6, body = 1); tick() // penalty wide
    val scorer = t()
    add(scorer, 8010, gat = 4, std = 1, body = 3); tick() // headed goal
    add(t(), 8020, gat = 4, std = 1); tick() // own goal
    // card sequence: foul then yellow card same player
    val fouler = player(home)
    add(home, 3010, gat = 0, std = 1, outcome = false, pl = fouler); tick(2)
    add(home, 3020, gat = 0, std = 1, pl = fouler); tick()
    // red card, different player (no attribution)
    add(away, 3030, gat = 0, std = 1); tick()
    // offside within 10s of a pass
    add(t(), 1011, gat = 1, std = 1); tick(2)
    add(t(), 2020, gat = 0, std = 1); tick(2)
    add(t(), 3040, gat = 0, std = 1); tick()
    // NA-end coverage: tackle/take_on/dribble/clearance without dest
    add(t(), 2031, dest = false); tick() // tackle -> own start
    add(t(), 21000, dest = false); tick() // take_on+dribble (Q3)
    add(t(), 9000, dest = false); tick() // clearance -> next start
    add(t(), 1012, gat = 1, std = 1, outcome = false); tick()
    add(t(), 6020, dest = false); tick()
    add(t(), 10000, dest = false, body = -1); tick() // bad touch, NA body
    add(t(), 13040, posId = 31, dest = false); tick()
    add(t(), 7000, posId = 31, dest = false); tick()
    add(t(), 13011, posId = 31, dest = false); tick()
    // throw in
    add(t(), 1011, gat = 1, std = 2, body = 5); tick()

    // filler
    while (events.length < nEventsTarget - 2) {
      tick()
      val team = t()
      val roll = rnd.nextInt(100)
      if (roll < 55) add(team, if (rnd.nextInt(4) > 0) 1011 else 1012,
        gat = 1, std = 1, outcome = roll % 4 > 0,
        body = Vector(1, 2, 3, 5)(rnd.nextInt(4)))
      else if (roll < 62) add(team, 21000, dest = rnd.nextBoolean())
      else if (roll < 68) add(team, 2052, outcome = false, dest = false)
      else if (roll < 74) add(team, 6020, dest = rnd.nextBoolean())
      else if (roll < 80) add(team, 9000, dest = rnd.nextBoolean())
      else if (roll < 86) add(team, 5010, gat = 4, std = 1)
      else if (roll < 90) add(team, 10000, outcome = false, dest = false)
      else if (roll < 95) add(team, 1011, gat = 1, std = 2)
      else add(team, 27000, gat = 27, std = 1, dest = false)
    }
    // deterministic tail: a throw-in with NA dest as the LAST convertible
    // action exercises the last-row fallback, then a status row (dropped by
    // Q4) so goals never sit on the final sorted row
    tick(); add(t(), 1011, gat = 1, std = 2, dest = false)
    tick(); add(t(), 18000, gat = 18, std = 1, dest = false)

    val tokens = TokenCodec.encodeInstat(home, events.toSeq)
    TokenDoc(gameId.toString, tokens, tokens.length, "instat")
  }
}
