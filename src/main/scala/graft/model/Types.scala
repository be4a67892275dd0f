package graft.model

/** Core data model of the engine.
  *
  * The engine ingests an Iceberg-shaped table of pre-tokenized event
  * sequences `(doc_id, tokens, n_tok, source)` (BASELINE.json `input_hint`),
  * decodes each sequence into provider-specific raw events, converts them to
  * canonical SPADL action rows, and values each action (VAEP).
  *
  * Schemas mirror the reference's tibbles:
  *  - Opta raw event: /root/reference/R/opta_events.R:101-119
  *  - InStat raw event: /root/reference/R/instat_spadl.R:43-64 and
  *    /root/reference/inst/extdata/instat_config.json:2-16
  *  - SPADL action: /root/reference/R/opta_spadl.R:121-148,
  *    /root/reference/R/instat_spadl.R:140-158
  */

/** One row of the engine input table (one tokenized game document). */
final case class TokenDoc(
    doc_id: String,
    tokens: Array[Int],
    n_tok: Int,
    source: String
)

/** Keypass/assist side-stream row — mirrors the `playerKeyPasses` Mongo
  * collection joined at /root/reference/R/opta_events.R:26-30. In streaming
  * these rows are the keypass stream that the per-game state keeps and
  * applies (`SpadlStream.valuedActions`).
  */
final case class KeypassRow(
    doc_id: String,
    event_id: Int,
    pass_type: String, // "key" | "assisst" (sic — reference spelling, R/opta_events.R:96)
    event_time_sec: Double
)

/** Decoded Opta raw event (pre-conversion). `qualifiers` holds the ragged
  * qualifier bag as key -> value (value "1" for presence-only qualifiers).
  */
final case class OptaRawEvent(
    game_id: Int,
    event_id: Double,
    type_id: Int,
    period_id: Int,
    minute: Int,
    second: Int,
    player_id: Int,
    team_id: Int,
    outcome: Boolean,
    start_x: Double, // percent-of-pitch, as delivered by the feed
    start_y: Double,
    end_x: Double, // already resolved via qualifier priority (F10) at decode
    end_y: Double,
    assist: Boolean,
    keypass: Boolean,
    side: String,
    home_team_id: Int,
    qualifiers: Map[String, String],
    seq: Int = 0 // position in the document (stable tie-break for sorts)
)

/** Decoded InStat raw event (pre-conversion). Coordinates are metres on the
  * 105x68 pitch (the InStat path never rescales — R/instat_spadl.R:492-499
  * flips raw values directly). `pos_dest_*` are None when the feed has no
  * end position (codec sentinel -1).
  */
final case class InstatRawEvent(
    id: Int,
    half: Int,
    second: Double,
    team_id: Int,
    player_id: Int,
    position_id: Int,
    action_id: Int,
    generic_action_type_id: Int,
    standart_id: Int,
    attack_status_id: Int,
    outcome: Boolean,
    body_id: Int,
    pos_x: Double,
    pos_y: Double,
    pos_dest_x: Option[Double],
    pos_dest_y: Option[Double],
    action_name: String
)

/** Canonical SPADL action row — the engine's central type (SURVEY.md §1.3).
  * `action_idx` is the 1-based per-game ordinal after final ordering; the
  * exactly-once sink key is (doc_id=game_id, action_idx).
  */
final case class SpadlAction(
    game_id: Int,
    event_id: Double,
    action_idx: Int,
    period_id: Int,
    minute: Int,
    second: Int,
    time_seconds: Double,
    player_id: Int,
    team_id: Int,
    home_team_id: Int,
    side: String,
    start_x: Double,
    start_y: Double,
    end_x: Double,
    end_y: Double,
    type_id: Int,
    type_name: String,
    result_id: Int,
    result_name: String,
    bodypart_id: Int,
    bodypart_name: String,
    assist: Boolean,
    keypass: Boolean
)

/** Atomic SPADL action ([[graft.convert.AtomicConvert.toAtomic]] output,
  * SURVEY.md §2.9): results are reified as action types, positions are a
  * start (x, y) plus a movement (dx, dy), and `atomic_idx` is the 1-based
  * per-game ordinal.
  */
final case class AtomicAction(
    game_id: Int,
    event_id: Double,
    action_idx: Int,
    period_id: Int,
    time_seconds: Double,
    home_team_id: Int,
    type_id: Int,
    type_name: String,
    player_id: Int,
    team_id: Int,
    x: Double,
    y: Double,
    dx: Double,
    dy: Double,
    bodypart_id: Int,
    bodypart_name: String,
    atomic_idx: Int
)

/** SPADL action enriched with model probabilities and VAEP values
  * (/root/reference/R/spadl.R:132-140).
  */
final case class ValuedAction(
    game_id: Int,
    event_id: Double,
    action_idx: Int,
    period_id: Int,
    minute: Int,
    second: Int,
    time_seconds: Double,
    player_id: Int,
    team_id: Int,
    home_team_id: Int,
    side: String,
    start_x: Double,
    start_y: Double,
    end_x: Double,
    end_y: Double,
    type_id: Int,
    type_name: String,
    result_id: Int,
    result_name: String,
    bodypart_id: Int,
    bodypart_name: String,
    assist: Boolean,
    keypass: Boolean,
    scores: Double,
    concedes: Double,
    offensive_value: Double,
    defensive_value: Double,
    vaep_value: Double
)
