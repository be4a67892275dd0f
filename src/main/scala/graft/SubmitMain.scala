package graft

import graft.convert.SpadlPipeline
import graft.streaming.{SpadlStream, StreamJob}
import graft.vaep.Valuation
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/** Production entry point for `spark-submit` (the north rule's deployment
  * shape). The session comes from the submit conf (master, executor counts,
  * shuffle partitions are cluster concerns — nothing hardcoded here).
  *
  * Modes:
  *   stream <eventsDir> <outDir> <checkpointDir> [keypassDir]
  *     Structured-Streaming CEP over raw-event rows (SpadlStream.StreamEvent
  *     schema): watermark -> stateful convert+valuate -> exactly-once sink,
  *     resumable from <checkpointDir>. Runs continuously (ProcessingTime
  *     trigger) until stopped; set --conf spark.graft.availableNow=true for
  *     a drain-and-exit run.
  *   batch <docsDir> <outDir> [keypassDir]
  *     Batch convert+valuate of the token-doc table to parquet.
  *
  * Example:
  *   spark-submit --class graft.SubmitMain --master yarn \
  *     --num-executors N playeractionspark.jar \
  *     stream s3a://bucket/events s3a://bucket/spadl s3a://bucket/ck
  *
  * Object-store paths work end to end: the exactly-once sink's commit
  * ledger goes through the Hadoop FileSystem resolved from the output URI
  * (one marker file per batch, no append/rename), so s3a:// and hdfs://
  * behave like file://.
  */
object SubmitMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: (stream <events> <out> <ck> [kp]) | " +
      "(batch <docs> <out> [kp])")
    val builder = SparkSession.builder().appName("playeractionspark")
    // spark-submit injects spark.master; fall back to local[*] only when
    // launched outside submit (dev/driver smoke runs)
    if (sys.props.get("spark.master").isEmpty)
      builder.master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    args(0) match {
      case "stream" =>
        val Array(_, eventsDir, outDir, ckDir) = args.take(4)
        val keypass = args.lift(4).map(d => spark.readStream
          .schema("doc_id string, event_id int, pass_type string, event_time timestamp")
          .parquet(d))
        val events = spark.readStream
          .schema(spark.createDataset(Seq.empty[SpadlStream.StreamEvent]).schema)
          .parquet(eventsDir)
          .as[SpadlStream.StreamEvent]
        val trigger =
          if (spark.conf.getOption("spark.graft.availableNow").contains("true"))
            Trigger.AvailableNow()
          else Trigger.ProcessingTime(
            spark.conf.getOption("spark.graft.triggerMs").getOrElse("0").toLong)
        val metrics = new StreamJob.EmitMetricsListener
        spark.streams.addListener(metrics)
        val q = StreamJob.start(spark, events, outDir, ckDir, keypass,
          watermarkDelay = spark.conf
            .getOption("spark.graft.watermark").getOrElse("10 seconds"),
          sessionGap = spark.conf
            .getOption("spark.graft.sessionGap")
            .getOrElse(SpadlStream.DefaultSessionGap),
          trigger = trigger, metrics = Some(metrics))
        q.awaitTermination()

      case "batch" =>
        val Array(_, docsDir, outDir) = args.take(3)
        val docs = spark.read.parquet(docsDir).as[graft.model.TokenDoc]
        val kp = args.lift(3).map(d =>
          spark.read.parquet(d).as[graft.model.KeypassRow])
        Valuation.value(SpadlPipeline.convert(spark, docs, kp).toDF())
          .write.mode("overwrite").parquet(outDir)

      case other =>
        throw new IllegalArgumentException(s"unknown mode $other")
    }
    spark.stop()
  }
}
