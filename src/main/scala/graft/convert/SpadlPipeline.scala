package graft.convert

import graft.codec.TokenCodec
import graft.model._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Batch decode+convert pipeline over the engine input table
  * `(doc_id, tokens, n_tok, source)` (BASELINE.json `input_hint`).
  *
  * Shape (SURVEY.md §3.1): scan -> [keypass side join J1] -> per-doc token
  * decode -> per-game SPADL conversion, as ONE typed Dataset transform. The
  * per-game conversion is embarrassingly parallel over `doc_id` (the
  * reference's `lapply(game_ids, ...)` axis, R/opta_spadl.R:14-37) — no
  * shuffle is needed beyond the keypass join: decode+convert is a narrow
  * flatMap over the scan partitions, so the plan scales linearly with input
  * splits at any cluster size.
  */
/** Deterministic winner when one event has several keypass rows (e.g. both
  * 'key' and 'assisst'): prefer 'assisst' over 'key' over anything else,
  * ties by string. Used by BOTH the batch path (collect_list order is
  * nondeterministic) and the streaming state function (which applies a
  * game's stored keypass rows, delivered in any order, when it converts)
  * so batch == stream bitwise parity holds.
  */
object KpWinner {
  def rank(pt: String): Int = pt match {
    case "assisst" => 0 // sic, R/opta_events.R:96
    case "key" => 1
    case _ => 2
  }
  def pick(a: String, b: String): String =
    if (rank(a) < rank(b) || (rank(a) == rank(b) && a <= b)) a else b
  def pickAll(pts: Seq[String]): String = pts.reduce(pick)
}

object SpadlPipeline {

  /** Keypass tuple carried per doc after the side-stream aggregation. */
  final case class Kp(event_id: Int, pass_type: String)
  /** not private: Catalyst codegen must reach the deserializer */
  final case class DocWithKp(
      doc_id: String, tokens: Array[Int], source: String,
      kps: Option[Seq[Kp]])

  /** Sets the flag a keypass row's `pass_type` names on an Opta event:
    * 'key' -> `keypass`, 'assisst' (sic, R/opta_events.R:96) -> `assist`.
    */
  def withKeypass(r: OptaRawEvent, passType: Option[String]): OptaRawEvent =
    passType match {
      case Some("key") => r.copy(keypass = true)
      case Some("assisst") => r.copy(assist = true)
      case _ => r
    }

  /** The winning pass_type per event id ([[KpWinner]]). */
  private def kpByEvent(kps: Seq[Kp]): Map[Int, String] =
    kps.groupBy(_.event_id)
      .map { case (k, v) => k -> KpWinner.pickAll(v.map(_.pass_type)) }

  /** J1: aggregate the outcome stream per doc, then a single equi left join
    * on doc_id (shuffle-hash/broadcast by size — Catalyst + AQE pick).
    * Without a keypass table every doc gets null `kps`.
    */
  private def docsWithKp(docs: Dataset[TokenDoc],
      keypass: Option[Dataset[KeypassRow]]): Dataset[DocWithKp] = {
    val spark = docs.sparkSession
    import spark.implicits._
    keypass match {
      case Some(kp) =>
        val kpAgg = kp.groupBy($"doc_id")
          .agg(collect_list(struct($"event_id", $"pass_type")).as("kps"))
        docs.join(kpAgg, Seq("doc_id"), "left")
          .select($"doc_id", $"tokens", $"source", $"kps").as[DocWithKp]
      case None =>
        docs.select($"doc_id", $"tokens", $"source",
          lit(null).cast("array<struct<event_id:int,pass_type:string>>").as("kps"))
          .as[DocWithKp]
    }
  }

  /** Decode one doc and convert it to SPADL actions (pure; shared with the
    * streaming state function).
    */
  def convertDoc(docId: String, tokens: Array[Int],
      kps: Seq[Kp]): Vector[SpadlAction] = {
    val gameId = docId.toInt
    TokenCodec.decode(tokens) match {
      case TokenCodec.OptaGame(home, wires) =>
        val byEvent = kpByEvent(kps)
        OptaGameConverter.convert(wires.map(w => withKeypass(
          TokenCodec.toOptaRaw(gameId, home, w), byEvent.get(w.event_id))))
      case TokenCodec.InstatGame(home, wires) =>
        InstatGameConverter.convert(gameId, home, wires.map(TokenCodec.toInstatRaw))
    }
  }

  /** Batch conversion: token docs (+ optional keypass side table) ->
    * Dataset[SpadlAction].
    */
  def convert(spark: SparkSession, docs: Dataset[TokenDoc],
      keypass: Option[Dataset[KeypassRow]] = None): Dataset[SpadlAction] = {
    import spark.implicits._
    docsWithKp(docs, keypass)
      .flatMap(d => convertDoc(d.doc_id, d.tokens, d.kps.getOrElse(Nil)))
  }

  /** Flat InStat event row — input of the declarative Catalyst conversion
    * (InstatConvertBatch); `seq` is the 0-based document position.
    */
  final case class InstatFlatEvent(
      game_id: Int, home_team_id: Int, seq: Int,
      id: Int, half: Int, second: Double, team_id: Int, player_id: Int,
      position_id: Int, action_id: Int, generic_action_type_id: Int,
      standart_id: Int, attack_status_id: Int, outcome: Boolean,
      body_id: Int, pos_x: Double, pos_y: Double,
      pos_dest_x: Option[Double], pos_dest_y: Option[Double],
      action_name: String)

  /** Decode InStat docs into a FLAT raw-event Dataset (one row per event,
    * with `seq` for stable ordering) — the input of the declarative
    * Catalyst conversion path (InstatConvertBatch).
    */
  def decodeInstatEvents(spark: SparkSession,
      docs: Dataset[TokenDoc]): Dataset[InstatFlatEvent] = {
    import spark.implicits._
    docs.filter(_.source == "instat").flatMap { d =>
      TokenCodec.decode(d.tokens) match {
        case TokenCodec.InstatGame(home, wires) =>
          val gameId = d.doc_id.toInt
          wires.zipWithIndex.map { case (w, i) =>
            val r = TokenCodec.toInstatRaw(w)
            InstatFlatEvent(gameId, home, i, r.id, r.half, r.second,
              r.team_id, r.player_id, r.position_id, r.action_id,
              r.generic_action_type_id, r.standart_id, r.attack_status_id,
              r.outcome, r.body_id, r.pos_x, r.pos_y,
              r.pos_dest_x, r.pos_dest_y, r.action_name)
          }
        case _ => Vector.empty
      }
    }
  }

  /** Decode Opta docs into a FLAT raw-event Dataset (one row per event,
    * with `seq` for stable ordering) — the input of the declarative
    * Catalyst conversion path (OptaConvertBatch).
    */
  def decodeOptaEvents(spark: SparkSession, docs: Dataset[TokenDoc],
      keypass: Option[Dataset[KeypassRow]] = None): Dataset[OptaRawEvent] = {
    import spark.implicits._
    docsWithKp(docs, keypass).filter(_.source == "opta").flatMap { d =>
      val gameId = d.doc_id.toInt
      val byEvent = kpByEvent(d.kps.getOrElse(Nil))
      TokenCodec.decode(d.tokens) match {
        case TokenCodec.OptaGame(home, wires) =>
          wires.zipWithIndex.map { case (w, i) => withKeypass(
            TokenCodec.toOptaRaw(gameId, home, w, i), byEvent.get(w.event_id))
          }
        case _ => Vector.empty
      }
    }
  }
}
