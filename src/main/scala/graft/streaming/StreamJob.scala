package graft.streaming

import graft.model.ValuedAction
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

/** End-to-end streaming job wiring: state -> exactly-once sink +
  * checkpoint + emitted-row metrics.
  */
object StreamJob {

  /** Per-round metrics listener: rows/sec, state size, emitted counts —
    * the "per-partition lineage + emitted-row metrics" of the north rule
    * (lineage columns land in the sink; aggregate progress logs here).
    * When [[start]] is given the listener it also wires in the engine's
    * lost-keypass-upgrade accumulator (round-3 VERDICT #8), so a
    * parity-margin break is visible in the per-batch telemetry line
    * instead of only inside state unit tests.
    */
  final class EmitMetricsListener extends StreamingQueryListener {
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
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      batches += 1
      totalInputRows += e.progress.numInputRows
      val so = e.progress.stateOperators
      if (so.nonEmpty) totalStateRows = so.map(_.numRowsTotal).sum
      lateRows += so.map(_.numRowsDroppedByWatermark).sum
      println(s"[graft-stream-metrics] batch=${e.progress.batchId} " +
        s"inputRows=${e.progress.numInputRows} stateRows=$totalStateRows " +
        s"lateRows=$lateRows lostUpgrades=$lostUpgrades")
    }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Start the full job: events stream -> valued actions -> exactly-once
    * sink, resumable from `checkpointDir`. An `outDir` of the form
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
