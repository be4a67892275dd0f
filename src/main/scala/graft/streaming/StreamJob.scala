package graft.streaming

import graft.model.ValuedAction
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

/** End-to-end streaming job wiring: state -> exactly-once sink +
  * checkpoint + emitted-row metrics.
  */
object StreamJob {

  /** Per-batch metrics listener: one JSON object per micro-batch, built
    * from its `StreamingQueryProgress`, passed to `emit` (stdout by
    * default):
    * {{{
    * {"batchId":3,"inputRows":1200,"stateRows":64,"lateRows":0,
    *  "lostUpgrades":0,"watermark":"2024-01-01T00:41:10.000Z",
    *  "durationMs":{"addBatch":410,"walCommit":2,"commitOffsets":2,
    *                "triggerExecution":470},"stateCommitMs":9,
    *  "stateMemoryBytes":1843200}
    * }}}
    * `inputRows`, `lateRows` (rows Spark dropped as behind the watermark,
    * `numRowsDroppedByWatermark`), `lostUpgrades` and `stateCommitMs` (the
    * state operators' `commitTimeMs`) count that batch; `stateRows` is the
    * state size after it and `stateMemoryBytes` the memory the state
    * stores report using then (the sum of their `memoryUsedBytes`). When
    * [[start]] is given the listener it wires in the engine's
    * lost-keypass-upgrade accumulator, so a parity-margin break is visible
    * per batch instead of only inside state unit tests.
    */
  final class EmitMetricsListener(emit: String => Unit = println(_))
      extends StreamingQueryListener {
    @volatile var totalInputRows = 0L
    @volatile var totalStateRows = 0L
    @volatile var batches = 0L
    /** rows Spark dropped as behind the watermark, summed over batches and
      * state operators (`numRowsDroppedByWatermark`). */
    @volatile var lateRows = 0L
    @volatile private[streaming] var lostAcc:
        Option[org.apache.spark.util.LongAccumulator] = None
    /** keypass upgrades that missed their already-emitted region — any
      * nonzero value is a parity loss vs the batch path. */
    def lostUpgrades: Long = lostAcc.map(_.sum).getOrElse(0L)
    private var lostBefore = 0L
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit =
      lostBefore = lostUpgrades
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      import org.json4s.JsonDSL._
      val p = e.progress
      val so = p.stateOperators
      val late = so.map(_.numRowsDroppedByWatermark).sum
      val lost = lostUpgrades
      batches += 1
      totalInputRows += p.numInputRows
      if (so.nonEmpty) totalStateRows = so.map(_.numRowsTotal).sum
      lateRows += late
      def ms(k: String): Option[Long] = Option(p.durationMs.get(k)).map(_.toLong)
      val line = ("batchId" -> p.batchId) ~ ("inputRows" -> p.numInputRows) ~
        ("stateRows" -> totalStateRows) ~ ("lateRows" -> late) ~
        ("lostUpgrades" -> (lost - lostBefore)) ~
        ("watermark" -> Option(p.eventTime.get("watermark"))) ~
        ("durationMs" -> ("addBatch" -> ms("addBatch")) ~
          ("walCommit" -> ms("walCommit")) ~
          ("commitOffsets" -> ms("commitOffsets")) ~
          ("triggerExecution" -> ms("triggerExecution"))) ~
        ("stateCommitMs" -> so.map(_.commitTimeMs).sum) ~
        ("stateMemoryBytes" -> so.map(_.memoryUsedBytes).sum)
      lostBefore = lost
      emit(org.json4s.jackson.JsonMethods.compact(line))
    }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Start the full job: events stream -> valued actions -> exactly-once
    * sink, resumable from `checkpointDir`. Unless the session already binds
    * `fs.AbstractFileSystem.file.impl` (as a session conf or a
    * `spark.hadoop.` one), this sets it on the session to
    * [[ForkFreeLocalFs]], so the query's offset, commit and source logs
    * and its state-store files on `file:` checkpoints are written without
    * starting a process per file. An `outDir` of the form
    * `iceberg:<catalog.db.table>` routes each micro-batch through
    * [[IcebergMergeSink]] (cluster path, requires a configured Iceberg
    * catalog); any filesystem URI uses [[ExactlyOnceSink]] (parquet +
    * commit markers over the Hadoop FileSystem).
    */
  def start(spark: SparkSession, events: Dataset[SpadlStream.StreamEvent],
      outDir: String, checkpointDir: String,
      keypass: Option[org.apache.spark.sql.DataFrame] = None,
      watermarkDelay: String = "10 seconds",
      sessionGap: String = SpadlStream.DefaultSessionGap,
      trigger: Trigger = Trigger.AvailableNow(),
      metrics: Option[EmitMetricsListener] = None): StreamingQuery = {
    val sinkWrite: (org.apache.spark.sql.DataFrame, Long) => Unit =
      if (outDir.startsWith("iceberg:")) {
        val merge = new IcebergMergeSink(outDir.stripPrefix("iceberg:"))
        merge.write
      } else {
        val sink = new ExactlyOnceSink(outDir)
        sink.write
      }
    val fsKey = ForkFreeLocalFs.ImplKey
    if (spark.conf.getOption(fsKey).isEmpty &&
        !spark.sparkContext.getConf.contains(s"spark.hadoop.$fsKey"))
      spark.conf.set(fsKey, classOf[ForkFreeLocalFs].getName)
    // telemetry accumulator, surfaced per batch by the metrics listener
    val lostAcc = metrics.map(_ =>
      spark.sparkContext.longAccumulator("graft.lost_kp_upgrades"))
    metrics.foreach(_.lostAcc = lostAcc)
    val valued: Dataset[ValuedAction] =
      SpadlStream.valuedActions(spark, events, keypass, watermarkDelay,
        sessionGap, lostUpgrades = lostAcc)
    valued.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch((batch: Dataset[ValuedAction], batchId: Long) =>
        sinkWrite(batch.toDF(), batchId))
      .start()
  }
}
