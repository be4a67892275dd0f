package graft.tools

import graft.fixtures.FixtureGen
import graft.streaming.{ExactlyOnceSink, SpadlStream, StreamJob}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.sql.Timestamp

/** End-to-end drive of the streaming job against a file source: phase 1
  * processes half the input then "crashes"; phase 2 restarts from the
  * checkpoint with the remainder + watermark sentinels. Prints sink
  * contents, lineage and metrics. Usage:
  *   sbt "runMain graft.tools.RunStream [nGames] [outRoot]"
  */
object RunStream {
  def main(args: Array[String]): Unit = {
    // probe mode: `runMain graft.tools.RunStream resume <root>` restarts
    // the job on an existing checkpoint with NO new input — must be a no-op
    if (args.length == 2 && args(0) == "resume") { resumeProbe(args(1)); return }
    val nGames = if (args.length > 0) args(0).toInt else 8
    val root = if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("graft_stream").toString
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val Base = 1704067200000L
    val games = FixtureGen.corpus(nGames, 120)
    val all = games.flatMap(g => SpadlStream.toStreamEvents(g.doc, Base))
      .sortBy(e => (e.event_time.getTime, e.doc_id, e.seq))
    val (h, t) = all.splitAt(all.size / 2)
    def sentinel(i: Int, d: Int) = SpadlStream.StreamEvent(s"99$i", "opta",
      0, 10, i, new Timestamp(Base + d * 86400000L),
      Array(1, 1, 3, 0, 0, 1, 10, 1, 5000, 5000, 0), None)

    val srcDir = s"$root/src"; val outDir = s"$root/out"; val ck = s"$root/ck"
    spark.createDataset(h).repartition(2).write.mode("overwrite")
      .parquet(s"$srcDir/p1")
    val metrics = new StreamJob.EmitMetricsListener
    spark.streams.addListener(metrics)

    def stream = spark.readStream
      .schema(spark.createDataset(all).schema)
      .option("maxFilesPerTrigger", "2")
      .parquet(s"$srcDir/*")
      .as[SpadlStream.StreamEvent]

    println(s"[stream] phase 1: ${h.size} events")
    val q1 = StreamJob.start(spark, stream, outDir, ck,
      trigger = Trigger.AvailableNow())
    q1.awaitTermination(120000); q1.stop()
    val sink = new ExactlyOnceSink(outDir)
    val afterP1 = sink.read(spark)
    println(s"[stream] after crash: committed_batches=${sink.committedBatchIds().size} sink_rows=${afterP1.count()}")

    println(s"[stream] phase 2: +${t.size} events + sentinels, restart from checkpoint")
    spark.createDataset(t).repartition(2).write.parquet(s"$srcDir/p2")
    (1 to 3).foreach(i => spark.createDataset(Seq(sentinel(i, 29 + i)))
      .write.parquet(s"$srcDir/s$i"))
    val q2 = StreamJob.start(spark, stream, outDir, ck,
      trigger = Trigger.AvailableNow(), metrics = Some(metrics))
    q2.awaitTermination(180000); q2.stop()

    val out = sink.read(spark)
    val batchRows = games.map { g =>
      graft.vaep.ValuationCore.value(
        graft.convert.SpadlPipeline.convertDoc(g.doc.doc_id, g.doc.tokens,
          g.keypasses.map(k => graft.convert.SpadlPipeline.Kp(k.event_id, k.pass_type)))).size
    }.sum
    println(s"[stream] final sink_rows=${out.count()} batch_truth_rows=$batchRows")
    println(s"[stream] duplicate keys=${out.count() - out.select("game_id", "action_idx").distinct().count()}")
    println(s"[stream] committed_batches=${sink.committedBatchIds().size} input_rows_seen=${metrics.totalInputRows} state_rows_last=${metrics.totalStateRows} late_rows=${metrics.lateRows} lost_kp_upgrades=${metrics.lostUpgrades}")
    out.groupBy("_batch_id").count().orderBy(col("_batch_id"))
      .show(50, false)
    out.orderBy(col("game_id"), col("action_idx"))
      .select("game_id", "action_idx", "type_name", "vaep_value",
        "_batch_id", "_lineage_partition").show(8, false)
    println(s"[stream] root=$root")
    spark.stop()
  }

  private def resumeProbe(root: String): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val sink = new ExactlyOnceSink(s"$root/out")
    val before = sink.read(spark).count()
    val probe = Seq(SpadlStream.StreamEvent("x", "opta", 0, 10, 0,
      new Timestamp(0), Array(0), None))
    val stream = spark.readStream
      .schema(spark.createDataset(probe).schema)
      .parquet(s"$root/src/*")
      .as[SpadlStream.StreamEvent]
    val q = StreamJob.start(spark, stream, s"$root/out", s"$root/ck",
      trigger = Trigger.AvailableNow())
    q.awaitTermination(60000); q.stop()
    val after = sink.read(spark).count()
    val dups = sink.read(spark).count() -
      sink.read(spark).select("game_id", "action_idx").distinct().count()
    println(s"[stream] resume-probe rows_before=$before rows_after=$after dup_keys=$dups")
    spark.stop()
  }
}
