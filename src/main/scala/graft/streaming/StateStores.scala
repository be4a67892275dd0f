package graft.streaming

import org.apache.spark.sql.SparkSession

/** State-store provider selection for the streaming state layer.
  *
  * The default HDFS-backed provider keeps every key's state on the JVM
  * heap — fine for tests, fatal at the 10^12-sequence design scale
  * (BASELINE.json), where in-flight per-game state must spill to local
  * disk. RocksDB is the spill answer (SURVEY.md §4): state lives
  * off-heap in a local RocksDB instance per state partition, keys are
  * evicted to SST files under memory pressure, and checkpoints ship the
  * RocksDB snapshot/changelog instead of heap-object deltas. The flat
  * primitive-array [[SpadlStream.GameBuf]] encoding matters twice here:
  * besides being the fast path for the Catalyst encoder, it serializes
  * to a single compact byte blob per key, which is exactly the shape a
  * RocksDB value wants (one get/put per key per batch, no per-element
  * codec work). Its changelog and snapshot uploads go through the same
  * checkpoint file manager as the heap provider's delta files, so on a
  * `file:` checkpoint they too run on the [[ForkFreeLocalFs]] binding that
  * [[StreamJob.start]] sets.
  *
  * Selection: set [[RocksDBConfs]] on the session, with `spark.conf.set`
  * or as `--conf` options of `spark-submit` for `SubmitMain`. The provider
  * is a per-QUERY setting read at stream start from the session conf, so
  * it composes with an existing SparkSession — no context restart needed.
  */
object StateStores {
  val ProviderConf = "spark.sql.streaming.stateStore.providerClass"

  val RocksDBProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Production-tuned RocksDB configuration. Two knobs matter enormously
    * once state is large (measured: a 2-core stream drain went from
    * >580 s — timeout — to normal wall with these on a 9.8M-row join
    * state):
    *  - changelog checkpointing: commit ships only the batch's changelog
    *    to the checkpoint; the full RocksDB snapshot is uploaded
    *    asynchronously by the maintenance thread. Without it every
    *    micro-batch commit re-snapshots the ENTIRE store — O(state) per
    *    batch instead of O(delta) — a cost a large per-game state
    *    cannot afford.
    *  - trackTotalNumberOfRows=false: skips the extra get-per-put used
    *    only for the numRowsTotal metric; a put-heavy workload (session
    *    state) pays ~2x write amplification for a progress-log nicety
    *    otherwise.
    */
  val RocksDBConfs: Map[String, String] = Map(
    ProviderConf -> RocksDBProvider,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true",
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" ->
      "false",
    // Block cache sized to keep a batch's TOUCHED state resident. The
    // Spark default is 8 MB per instance: once the maintenance thread has
    // flushed the memtable to SST (its timing is asynchronous under
    // changelog checkpointing), the join eviction's per-key random gets
    // thrash an 8 MB cache and pay a block decompression PER ACCESS —
    // measured as a 20-30x pure-CPU blowup of the emission batch
    // (797 s vs ~25 s task CPU for identical work), appearing
    // non-deterministically depending on whether the flush won the race.
    // Sizing rule at the design scale: blockCache >= per-partition hot
    // state (keys touched per batch x row width), bounded by executor
    // memory / state partitions per executor.
    "spark.sql.streaming.stateStore.rocksdb.blockCacheSizeMB" -> "256")

  /** human-readable name of the provider a session would use now. */
  def active(spark: SparkSession): String =
    if (spark.conf.getOption(ProviderConf).contains(RocksDBProvider)) "rocksdb"
    else "hdfs-heap"
}
