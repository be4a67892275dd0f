package perfbench

import graft.SparkEntry
import graft.codec.TokenCodec
import graft.convert.SpadlPipeline
import graft.features.Features
import graft.fixtures.FixtureGen
import graft.model.{SpadlAction, TokenDoc, ValuedAction}
import graft.streaming.{SpadlStream, StreamJob}
import graft.vaep.{Valuation, ValuationCore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Benchmark harness for the engine's production layer stacks.
  *
  * One JVM runs one workload: it builds seeded inputs, warms up, then runs
  * whole rounds of the workload's operations until `--seconds` have passed
  * and writes `result.json` (timings, counts, per-layer trace) plus the
  * outputs of the last round and the single-threaded scalar truth into
  * `--work`. `run.py` checks those outputs with DuckDB and prints the
  * metrics.
  *
  * Usage: Main --workload <stream_valued|query_suite>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --cores <n>
  *   --t0-ms <epoch ms of process start> [--tables <dir>]
  */
object Main {

  /** FixtureGen game count and events per game of the stream workload. */
  val StreamGames = 128
  val EventsPerGame = 400

  /** Suite queries: ROADMAP targets over the four operator modules, each
    * with the tables it scans (for the suite's input rows per second).
    * q59_dedup_clusters is left out: on the sf0.1-shaped pair graph its
    * connected-components loop exceeds its round bound on some seeds and
    * throws (README, Query list).
    */
  val Suite: Seq[(String, Seq[String])] = Seq(
    "q25_simhash" -> Seq("documents"),
    "q26_ngram_jaccard" -> Seq("documents"),
    "q40_embedding_neardup" -> Seq("embeddings"),
    "q45_percentiles" -> Seq("lineitem"),
    "q50_contamination" -> Seq("documents"),
    "q52_neardup_survivors" -> Seq("embeddings"),
    "q54_repetition_quality" -> Seq("documents"),
    "q55_span_dedup" -> Seq("documents"),
    "q60_source_overlap" -> Seq("documents"))

  /** Queries outside the suite that warm the JVM before its first runs. */
  val WarmQueries = Seq("q21_dedup_exact", "q32_embedding_norms")

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, cores: Int, t0Ms: Long, tables: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--work"), need("--cores").toInt,
      need("--t0-ms").toLong, m.getOrElse("--tables", ""))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    new File(a.work).mkdirs()
    val spark = session(a)
    val result =
      try a.workload match {
        case "stream_valued" => Stream.run(spark, a)
        case "query_suite" => Queries.run(spark, a)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally spark.stop()
    Files.write(Paths.get(a.work, "result.json"),
      Serialization.write(result)(DefaultFormats).getBytes(StandardCharsets.UTF_8))
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ----------------------------------------------------------- helpers

  def now(): Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Operations of the timed phases: attempted, and failed (thrown). */
  final class Ops {
    var attempted = 0
    var failed = 0
    /** Runs `f`; a failure is counted and logged, and gives None. */
    def attempt[T](what: String)(f: => T): Option[T] = {
      attempted += 1
      try Some(f) catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"[perfbench] $what failed: $e")
          None
      }
    }
  }

  /** Runs `round` until `seconds` have passed (at least `minRounds`). */
  def rounds(seconds: Double, minRounds: Int)(round: Int => Unit): Int = {
    val t0 = now()
    var n = 0
    while (n < minRounds || secs(t0) < seconds) { round(n); n += 1 }
    n
  }

  /** Set-up progress line in the JVM log: seconds since process start. */
  def phase(name: String): Unit = System.err.println(f"[perfbench] $name%s at " +
    f"${(System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%.2f s")

  def rmrf(path: String): Unit = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty)
      .foreach(c => rmrf(c.getPath))
    f.delete()
  }

  /** Game indices of a seed: a disjoint block of FixtureGen's index space
    * per seed, aligned to 4 so every seed has the same Opta/InStat mix.
    */
  def gameBase(seed: Long): Int = (Math.floorMod(seed, 10000L) * 10000L).toInt

  def corpus(seed: Long, n: Int): Vector[FixtureGen.Game] = {
    val base = gameBase(seed)
    (0 until n).map(i => FixtureGen.game(base + i, EventsPerGame)).toVector
  }

  def kpsOf(g: FixtureGen.Game): Seq[SpadlPipeline.Kp] =
    g.keypasses.map(k => SpadlPipeline.Kp(k.event_id, k.pass_type))

  /** Single-threaded scalar path: decode + convert (with keypasses) +
    * ValuationCore, no Spark.
    */
  def scalarTruth(games: Seq[FixtureGen.Game]): Vector[(Vector[SpadlAction], Vector[ValuedAction])] =
    games.map { g =>
      val actions = SpadlPipeline.convertDoc(g.doc.doc_id, g.doc.tokens, kpsOf(g))
      actions -> ValuationCore.value(actions)
    }.toVector

  /** Next-10-actions labels recomputed in plain Scala with SQL ternary
    * logic: Some(true) when a qualifying goal lies within the horizon,
    * None when the horizon runs past the game's end without one.
    */
  final case class LabelRow(game_id: Int, action_idx: Int,
      scores: Option[Boolean], concedes: Option[Boolean])

  def labels(actions: Vector[SpadlAction], horizon: Int = 10): Vector[LabelRow] = {
    def shot(a: SpadlAction) = a.type_name.contains("shot")
    def goal(a: SpadlAction) = shot(a) && a.result_name == "success"
    def own(a: SpadlAction) = shot(a) && a.result_name == "owngoal"
    val n = actions.size
    actions.indices.map { i =>
      val a = actions(i)
      val ahead = (i until math.min(n, i + horizon)).map(actions)
      val open = i + horizon > n
      val scores = goal(a) || ahead.drop(1).exists(b =>
        (goal(b) && b.team_id == a.team_id) || (own(b) && b.team_id != a.team_id))
      val concedes = ahead.exists(own)
      def tri(v: Boolean) = if (v) Some(true) else if (open) None else Some(false)
      LabelRow(a.game_id, a.action_idx, tri(scores), tri(concedes))
    }.toVector
  }

  /** Single-threaded layer probes over the corpus: decode, decode+convert,
    * valuation (the baseline of one core without Spark).
    */
  def scalarProbe(games: Seq[FixtureGen.Game]): Map[String, Any] = {
    def time(f: => Unit): Double = {
      f // JIT warm pass
      val xs = (1 to 3).map { _ => val t = now(); f; secs(t) * 1000 }
      median(xs)
    }
    var sink = 0L
    val decodeMs = time(games.foreach(g => sink += TokenCodec.decode(g.doc.tokens).hashCode))
    val convertMs = time(games.foreach(g =>
      sink += SpadlPipeline.convertDoc(g.doc.doc_id, g.doc.tokens, kpsOf(g)).size))
    val actions = games.map(g => SpadlPipeline.convertDoc(g.doc.doc_id, g.doc.tokens, kpsOf(g)))
    val vaepMs = time(actions.foreach(as => sink += ValuationCore.value(as).size))
    require(sink != 0L)
    Map("codec_decode_ms" -> decodeMs,
      "convert_ms" -> math.max(0.0, convertMs - decodeMs),
      "vaep_core_ms" -> vaepMs,
      "tokens" -> games.map(_.doc.n_tok).sum)
  }

  /** Nodes of a physical plan, descending into the current (after
    * execution: final) stage plans of adaptive execution.
    */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  /** Per-stage task statistics from a SparkListener (trace mode only). */
  final class StageStats extends org.apache.spark.scheduler.SparkListener {
    import org.apache.spark.scheduler._
    private val taskMs = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]
    private val done = ArrayBuffer.empty[Map[String, Double]]
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      taskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      val ts = taskMs.remove(i.stageId).getOrElse(ArrayBuffer.empty).map(_.toDouble)
      done += Map(
        "tasks" -> i.numTasks.toDouble,
        "task_max_ms" -> (if (ts.isEmpty) 0.0 else ts.max),
        "task_median_ms" -> (if (ts.isEmpty) 0.0 else median(ts.toSeq)),
        "run_ms" -> m.executorRunTime.toDouble,
        "shuffle_read_bytes" -> (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead).toDouble,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
        "gc_ms" -> m.jvmGCTime.toDouble)
    }
    def stages: Seq[Map[String, Double]] = synchronized(done.toSeq)
    /** Totals over every completed stage; max/median over stages. */
    def summary: Map[String, Double] = synchronized {
      def sum(k: String) = done.map(_(k)).sum
      Map("stages" -> done.size.toDouble, "tasks" -> sum("tasks"),
        "task_max_ms" -> (if (done.isEmpty) 0.0 else done.map(_("task_max_ms")).max),
        "task_median_ms" -> (if (done.isEmpty) 0.0 else median(done.map(_("task_median_ms")).toSeq)),
        "shuffle_read_mb" -> sum("shuffle_read_bytes") / 1e6,
        "shuffle_write_mb" -> sum("shuffle_write_bytes") / 1e6,
        "spill_mb" -> sum("spill_bytes") / 1e6,
        "gc_ms" -> sum("gc_ms"),
        "executor_run_ms" -> sum("run_ms"))
    }
  }

  def stageTrace(st: Option[StageStats]): Map[String, Any] =
    st.map(s => Map("stages" -> s.summary, "stage_list" -> s.stages)).getOrElse(Map.empty)

  /** Installs the stage listener in trace mode; waits for the listener
    * bus before reading it.
    */
  def withStages[T](spark: SparkSession, trace: Boolean)(f: => T): (T, Option[StageStats]) = {
    val st = if (trace) Some(new StageStats) else None
    st.foreach(spark.sparkContext.addSparkListener)
    val r = f
    if (trace) Thread.sleep(1000) // let the asynchronous listener bus drain
    st.foreach(spark.sparkContext.removeSparkListener)
    (r, st)
  }

  def common(a: Args, setupEndMs: Long, ops: Ops): Map[String, Any] =
    Map("workload" -> a.workload, "seed" -> a.seed,
      "attempted" -> ops.attempted, "failed" -> ops.failed,
      "setup_s" -> (setupEndMs - a.t0Ms) / 1000.0, "cores" -> a.cores)
}

/** stream_valued: time-ordered event files drained by StreamJob.start into
  * ExactlyOnceSink with AvailableNow.
  */
object Stream {
  import Main._

  val Base = 1704067200000L

  /** far-future rows: they advance the watermark so every session closes */
  def sentinel(i: Int): SpadlStream.StreamEvent =
    SpadlStream.StreamEvent(s"99$i", "opta", 0, 10, i,
      new Timestamp(Base + (29 + i) * 86400000L),
      Array(1, 1, 3, 0, 0, 1, 10, 1, 5000, 5000, 0), None)

  val EventFiles = 4
  val WarmDrains = 3
  /** Longer than Opta's half-time gap on the event-time axis (period 2
    * starts at +3600 s), so a game's session stays open across it.
    */
  val SessionGap = "2 hours"

  def run(spark: SparkSession, a: Args): Map[String, Any] = {
    import spark.implicits._
    phase("session")
    // the keypass side stream is left out (see README): truth without it
    val games = corpus(a.seed, StreamGames).map(_.copy(keypasses = Nil))
    val truth = scalarTruth(games)
    spark.createDataset(truth.flatMap(_._2)).write.mode("overwrite")
      .parquet(s"${a.work}/truth/valued")
    val src = s"${a.work}/input/events"
    val nEvents = writeInput(spark, games, src)
    phase("input")
    // warm-up: the first drain pays the cold start (JIT, codegen, state
    // store and file-source initialisation), and drains keep speeding up
    // for a few more
    (0 until WarmDrains).foreach(i => drain(spark, a, src, s"warm$i"))
    phase("warm-up")
    val setupEnd = System.currentTimeMillis()

    val ops = new Ops
    val walls = ArrayBuffer.empty[Double]
    val batchMs = ArrayBuffer.empty[Double]
    var last: Option[Drain] = None
    val (n, stages) = withStages(spark, a.trace) {
      rounds(a.seconds, 4) { i =>
        // each round drains into a sink of its own; the last good one is
        // kept for the check
        ops.attempt(s"drain $i")(drain(spark, a, src, s"run$i")) match {
          case Some(d) =>
            last.foreach(p => { rmrf(p.sink); rmrf(p.checkpoint) })
            last = Some(d)
            walls += d.wall
            batchMs ++= d.dataBatchMs
          case None =>
            rmrf(s"${a.work}/out/run$i"); rmrf(s"${a.work}/out/ck_run$i")
        }
      }
    }
    val good = last.getOrElse(throw new IllegalStateException("every drain failed"))
    val e2e = Map(
      "rows_per_s" -> nEvents / median(walls.toSeq),
      "latency_s" -> median(batchMs.toSeq) / 1000.0)
    val trace = if (!a.trace) Map.empty[String, Any] else {
      // truth for the training-frame check of a traced run
      spark.createDataset(truth.flatMap(t => labels(t._1))).write.mode("overwrite")
        .parquet(s"${a.work}/truth/labels")
      stageTrace(stages) + ("layers" -> Map(
        "streaming" -> good.trace,
        "scalar" -> scalarProbe(games),
        "spark" -> prefixRuns(spark, games, s"${a.work}/trace"),
        // the training frame over the drained sink: the features layer
        "features" -> featuresProbe(spark, good.sink, s"${a.work}/out/training")))
    }
    common(a, setupEnd, ops) ++ Map("e2e" -> e2e, "rounds" -> n,
      "events" -> nEvents, "walls_s" -> walls.toSeq,
      "late_rows" -> good.lateRows, "lost_kp_upgrades" -> good.lostUpgrades,
      "sink" -> good.sink, "trace" -> trace)
  }

  /** The Spark cost of each batch layer over the same games: prefix runs
    * of scan -> `SpadlPipeline.convert` into a noop sink, then plus
    * `Valuation.value`, then into parquet; each the median of 3 runs.
    */
  def prefixRuns(spark: SparkSession, games: Seq[FixtureGen.Game],
      dir: String): Map[String, Any] = {
    import spark.implicits._
    val docsPath = s"$dir/docs"
    spark.createDataset(spark.sparkContext.parallelize(games.map(_.doc), spark
      .sparkContext.defaultParallelism * 4)).write.mode("overwrite").parquet(docsPath)
    def valued(): DataFrame = Valuation.value(converted())
    def converted(): DataFrame =
      SpadlPipeline.convert(spark, spark.read.parquet(docsPath).as[TokenDoc]).toDF()
    def time(write: => Unit): Double = {
      write // warm pass
      median((1 to 3).map { _ => val t = now(); write; secs(t) })
    }
    val convertS = time(converted().write.format("noop").mode("overwrite").save())
    val valueS = time(valued().write.format("noop").mode("overwrite").save())
    val parquetS = time(valued().write.mode("overwrite").parquet(s"$dir/valued"))
    Map("convert_noop_s" -> convertS, "value_noop_s" -> valueS,
      "value_parquet_s" -> parquetS,
      "vaep_s" -> math.max(0.0, valueS - convertS),
      "parquet_s" -> math.max(0.0, parquetS - valueS))
  }

  val actionCols: Seq[String] = org.apache.spark.sql.Encoders
    .product[SpadlAction].schema.fieldNames.toSeq

  /** The training frame (`Features.modelData`, labels kept) over the valued
    * rows at `valuedPath`: build, analysis and planning, and execution into
    * parquet at `out` (which the traced run's check reads), timed apart.
    */
  def featuresProbe(spark: SparkSession, valuedPath: String,
      out: String): Map[String, Any] = {
    val t0 = now()
    val frame = Features.modelData(
      spark.read.parquet(valuedPath).select(actionCols.map(col): _*),
      addPredictions = false)
    val buildMs = secs(t0) * 1000
    val t1 = now()
    frame.queryExecution.executedPlan
    val planMs = secs(t1) * 1000
    val t2 = now()
    frame.write.mode("overwrite").parquet(out)
    Map("build_ms" -> buildMs, "plan_ms" -> planMs, "exec_parquet_s" -> secs(t2),
      "columns" -> frame.columns.length, "path" -> out)
  }

  /** Writes the games' events as time-ordered files, then the sentinel
    * files; returns the event count.
    */
  def writeInput(spark: SparkSession, games: Seq[FixtureGen.Game],
      src: String): Long = {
    import spark.implicits._
    val events = games.flatMap(g => SpadlStream.toStreamEvents(g.doc, Base))
      .sortBy(e => (e.event_time.getTime, e.doc_id, e.seq))
    val chunk = math.max(1, (events.size + EventFiles - 1) / EventFiles)
    events.grouped(chunk).zipWithIndex.foreach { case (c, i) =>
      spark.createDataset(c).coalesce(1).write.mode("overwrite").parquet(f"$src/p$i%03d")
    }
    (1 to 3).foreach { i =>
      spark.createDataset(Seq(sentinel(i))).write.mode("overwrite")
        .parquet(s"$src/zz_s$i")
    }
    events.size.toLong
  }

  final case class Drain(wall: Double, dataBatchMs: Seq[Double],
      lateRows: Long, lostUpgrades: Long, trace: Map[String, Any],
      sink: String, checkpoint: String)

  def drain(spark: SparkSession, a: Args, src: String, tag: String): Drain = {
    import spark.implicits._
    val out = s"${a.work}/out/$tag"
    val ck = s"${a.work}/out/ck_$tag"
    rmrf(out); rmrf(ck)
    val progress = ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized(progress += e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    // sink write time: the parquet write commands the sink issues per batch
    val sinkMs = new java.util.concurrent.atomic.AtomicLong()
    val writes = new QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit =
        if (qe.analyzed.toString.contains(out)) sinkMs.addAndGet(ns / 1000000L)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    val metrics = new StreamJob.EmitMetricsListener
    spark.streams.addListener(listener)
    spark.streams.addListener(metrics)
    if (a.trace) spark.listenerManager.register(writes)
    val wall = try {
      val schema = spark.createDataset(Seq(sentinel(0))).schema
      val events = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$src/*").as[SpadlStream.StreamEvent]
      val t = now()
      val q = StreamJob.start(spark, events, out, ck, None,
        sessionGap = SessionGap, trigger = Trigger.AvailableNow(), metrics = Some(metrics))
      val finished = try q.awaitTermination(150000L) finally q.stop()
      val wall = secs(t)
      require(finished, s"stream drain '$tag' did not finish in 150 s")
      q.exception.foreach(e => throw e)
      // progress events are delivered asynchronously
      val deadline = now() + 5000000000L
      while (progress.synchronized(progress.isEmpty ||
          progress.last.batchId < q.lastProgress.batchId) && now() < deadline)
        Thread.sleep(20)
      wall
    } finally {
      spark.streams.removeListener(listener)
      spark.streams.removeListener(metrics)
      if (a.trace) spark.listenerManager.unregister(writes)
    }
    val ps = progress.synchronized(progress.toVector)
    val data = ps.filter(_.numInputRows > 0)
    def dur(k: String) = data.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
    def ops(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      ps.map(p => p.stateOperators.map(f).sum)
    val trace: Map[String, Any] = if (!a.trace) Map.empty else Map(
      "batches" -> ps.size, "data_batches" -> data.size,
      "add_batch_ms" -> dur("addBatch").sum,
      "wal_commit_ms" -> dur("walCommit").sum,
      "commit_offsets_ms" -> dur("commitOffsets").sum,
      "query_planning_ms" -> dur("queryPlanning").sum,
      "trigger_execution_ms" -> dur("triggerExecution").sum,
      "state_rows_max" -> ops(_.numRowsTotal.toDouble).max,
      "state_memory_mb_max" -> ops(_.memoryUsedBytes.toDouble).max / 1e6,
      "state_commit_ms" -> ops(_.commitTimeMs.toDouble).sum,
      "sink_write_ms" -> sinkMs.get().toDouble,
      "late_rows" -> metrics.lateRows,
      "lost_kp_upgrades" -> metrics.lostUpgrades)
    Drain(wall, dur("triggerExecution"), metrics.lateRows, metrics.lostUpgrades,
      trace, out, ck)
  }
}

/** query_suite: the listed engine queries over the seeded tables, first
  * runs after warm-up on other queries, then warm passes into a noop sink.
  */
object Queries {
  import Main._

  def run(spark: SparkSession, a: Args): Map[String, Any] = {
    val dir = a.tables
    phase("session")
    val tableRows: Map[String, Long] = Seq("documents", "embeddings", "lineitem")
      .map(t => t -> spark.read.parquet(s"$dir/$t.parquet").count()).toMap
    WarmQueries.foreach(q => wall(spark, q, dir, None))
    phase("warm-up")
    val setupEnd = System.currentTimeMillis()

    val ops = new Ops
    val first = scala.collection.mutable.Map.empty[String, Double]
    val warm = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
    val (passes, stages) = withStages(spark, a.trace) {
      // first runs write the results the oracle check reads
      Suite.foreach { case (q, _) =>
        ops.attempt(s"$q first run")(wall(spark, q, dir, Some(s"${a.work}/out/$q")))
          .foreach(first(q) = _)
      }
      rounds(a.seconds - first.values.sum, 2) { i =>
        Suite.foreach { case (q, _) =>
          ops.attempt(s"$q pass $i")(wall(spark, q, dir, None))
            .foreach(warm.getOrElseUpdate(q, ArrayBuffer.empty) += _)
        }
      }
    }
    // a query that failed on every pass has no median and counts in
    // neither sum
    val warmMed = warm.map { case (q, xs) => q -> median(xs.toSeq) }.toMap
    val suiteS = warmMed.values.sum
    val inputRows = Suite.collect { case (q, ts) if warmMed.contains(q) =>
      ts.map(tableRows).sum }.sum
    val e2e = Map(
      "rows_per_s" -> inputRows / suiteS,
      "latency_s" -> first.values.sum,
      "query_suite_s" -> suiteS)
    val oracle = SparkEntry.oracleSql
    val trace = if (!a.trace) Map.empty[String, Any] else stageTrace(stages) +
      ("layers" -> Map("operators" -> Suite.map { case (q, _) => q -> split(spark, q, dir) }.toMap))
    common(a, setupEnd, ops) ++
      Map("e2e" -> e2e, "rounds" -> passes, "first_s" -> first.toMap,
        "warm_median_s" -> warmMed, "table_rows" -> tableRows,
        // the oracle check reads the queries whose first run wrote a result
        "oracle_sql" -> first.keys.map(q => q -> oracle(q)).toMap,
        "trace" -> trace)
  }

  /** Wall time of one query, build included, into the noop sink or into
    * parquet at `out`.
    */
  def wall(spark: SparkSession, q: String, dir: String, out: Option[String]): Double = {
    val t = now()
    val w = SparkEntry.queries(q)(spark, dir).write.mode("overwrite")
    out match {
      case Some(path) => w.parquet(path)
      case None => w.format("noop").save()
    }
    secs(t)
  }

  /** Build / analyse+plan / execute split of one warm query, with the
    * final adaptive plan's exchange and join counts and shuffle bytes.
    */
  def split(spark: SparkSession, q: String, dir: String): Map[String, Any] = {
    val t0 = now()
    val df = SparkEntry.queries(q)(spark, dir)
    val buildMs = secs(t0) * 1000
    val t1 = now()
    val plan = df.queryExecution.executedPlan
    val planMs = secs(t1) * 1000
    val t2 = now()
    plan.execute().foreach(_ => ())
    val execMs = secs(t2) * 1000
    val nodes = planNodes(plan)
    val shuffleBytes = nodes.collect { case e: ShuffleExchangeExec =>
      e.metrics.get("dataSize").map(_.value).getOrElse(0L)
    }.sum
    Map("build_ms" -> buildMs, "plan_ms" -> planMs, "exec_ms" -> execMs,
      "shuffle_mb" -> shuffleBytes / 1e6,
      "exchanges" -> nodes.count(_.isInstanceOf[Exchange]),
      "broadcast_hash_joins" -> nodes.count(_.isInstanceOf[BroadcastHashJoinExec]),
      "sort_merge_joins" -> nodes.count(_.isInstanceOf[SortMergeJoinExec]))
  }
}
