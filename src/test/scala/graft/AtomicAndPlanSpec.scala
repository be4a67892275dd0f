package graft

import graft.convert.{AtomicConvert, SpadlPipeline}
import graft.fixtures.FixtureGen
import graft.model.SpadlAction
import graft.streaming.StreamJob
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Atomic conversion semantics (§2.9), partitioning/salting invariance,
  * and physical-plan assertions (broadcasts, pushdown, window fusion).
  */
class AtomicAndPlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def act(idx: Int, team: Int = 10, player: Int = -1,
      tn: String = "pass", tid: Int = 0, rn: String = "success",
      sx: Double = 10, sy: Double = 10, ex: Double = 30,
      ey: Double = 20): SpadlAction =
    SpadlAction(1, idx.toDouble, idx, 1, 0, idx, idx.toDouble,
      if (player > 0) player else team * 100 + idx, team, 10,
      if (team == 10) "home" else "away", sx, sy, ex, ey, tid, tn, 1, rn,
      0, "foot", assist = false, keypass = false)

  private def atomic(as: Seq[SpadlAction]): Seq[Row] = {
    import spark.implicits._
    AtomicConvert.toAtomic(spark.createDataset(as).toDF())
      .orderBy("game_id", "atomic_idx").collect().toSeq
  }

  test("atomic: positions become deltas; base rows keep types") {
    val rows = atomic(Seq(act(1, rn = "fail", ex = 30, ey = 20),
      act(2, team = 20, tn = "tackle", tid = 0, rn = "success")))
    val base = rows.head
    assert(base.getAs[String]("type_name") == "pass")
    assert(base.getAs[Double]("x") == 10 && base.getAs[Double]("dx") == 20)
    assert(base.getAs[Double]("dy") == 10)
    assert(!rows.head.schema.fieldNames.contains("result_name"))
  }

  test("atomic: successful pass to same team -> receival by next player") {
    val rows = atomic(Seq(act(1, player = 7), act(2, player = 8)))
    val rec = rows.find(_.getAs[String]("type_name") == "receival").get
    assert(rec.getAs[Int]("player_id") == 8)
    assert(rec.getAs[Double]("x") == 30 && rec.getAs[Double]("dx") == 0)
    assert(rec.getAs[Int]("atomic_idx") == 2) // right after its pass
  }

  test("atomic: failed pass to opponent -> interception; to nobody -> out") {
    val inter = atomic(Seq(act(1, rn = "fail"),
      act(2, team = 20, player = 99, tn = "interception", tid = 10)))
    val i = inter.find(_.getAs[String]("type_name") == "interception")
    // the intercepting atomic (from the failed pass) is attributed to 99
    assert(i.exists(r => r.getAs[Int]("player_id") == 99 &&
      r.getAs[Int]("team_id") == 20 && r.getAs[Int]("atomic_idx") == 2))
    val out = atomic(Seq(act(1, rn = "fail"), act(2, player = 5)))
    assert(out.exists(_.getAs[String]("type_name") == "out"))
  }

  test("atomic: shots reify goal/owngoal; cards reify card atomics") {
    val rows = atomic(Seq(
      act(1, tn = "shot", tid = 11, rn = "success"),
      act(2, tn = "shot", tid = 11, rn = "owngoal"),
      act(3, tn = "tackle", tid = 0, rn = "yellow_card")))
    val names = rows.map(_.getAs[String]("type_name"))
    assert(names.contains("goal") && names.contains("owngoal") &&
      names.contains("yellow_card"))
    val goal = rows.find(_.getAs[String]("type_name") == "goal").get
    assert(goal.getAs[Int]("type_id") == AtomicConvert.atomicIdByName("goal"))
  }

  test("batch conversion output is invariant to partitioning and salting") {
    import spark.implicits._
    val games = FixtureGen.corpus(6, 100)
    val docs = spark.createDataset(games.map(_.doc))
    def run(ds: org.apache.spark.sql.Dataset[graft.model.TokenDoc]) =
      SpadlPipeline.convert(spark, ds).collect().toSeq
        .sortBy(a => (a.game_id, a.action_idx))
    val base = run(docs.repartition(1))
    val wide = run(docs.repartition(13))
    val salted = run(docs.repartition(8,
      pmod(hash(col("doc_id"), col("n_tok")), lit(8))))
    assert(base == wide)
    assert(base == salted)
  }

  test("driver entry point returns rows (flagship player index)") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.toSet == Set("player_id", "index"))
  }

  test("plan: dimension joins broadcast; filters push to parquet scan") {
    val q3 = SparkEntry.queries("q03_join_segment")(spark,
      "/root/testdata/sf0.001")
    val p3 = q3.queryExecution.executedPlan.toString
    assert(p3.contains("BroadcastHashJoin"), "q03 should broadcast customer")
    val q2 = SparkEntry.queries("q02_filter_project")(spark,
      "/root/testdata/sf0.001")
    val p2 = q2.queryExecution.executedPlan.toString
    assert(p2.contains("PushedFilters") && p2.contains("l_shipdate"),
      "q02 filters must reach the parquet scan")
    assert(p2.contains("ReadSchema") &&
      !p2.contains("l_returnflag"), "q02 must prune unused columns")
  }

  test("plan: documents/embeddings scans prune columns and push filters") {
    val q27 = SparkEntry.queries("q27_token_counts")(spark,
      "/root/testdata/sf0.001")
    val p27 = q27.queryExecution.executedPlan.toString
    // token counting touches (source, text) only — lang/n_chars must not
    // survive into the parquet ReadSchema
    assert(p27.contains("ReadSchema") && !p27.contains("n_chars"),
      s"q27 must prune n_chars from the documents scan")
    val q33 = SparkEntry.queries("q33_cosine_topk")(spark,
      "/root/testdata/sf0.001")
    val p33 = q33.queryExecution.executedPlan.toString
    assert(p33.contains("PushedFilters") && p33.contains("vec_id"),
      "q33's query-vector filter must reach the embeddings scan")
    assert(p33.contains("TakeOrderedAndProject"),
      "q33 top-k must be a TakeOrdered, not a global sort")
  }

  test("plan: new curation/similarity ops broadcast + push down as designed") {
    // q50: corpus grams probed against a BROADCAST eval-gram set — the
    // corpus must never shuffle into the contamination join
    val q50 = SparkEntry.queries("q50_contamination")(spark,
      "/root/testdata/sf0.001")
    val p50 = q50.queryExecution.executedPlan.toString
    assert(p50.contains("BroadcastHashJoin"),
      "q50 must broadcast the eval-set grams")
    // q49: the stratified-sample filter is stateless — no exchange at all
    // before the final presentation sort
    val q49 = SparkEntry.queries("q49_stratified_sample")(spark,
      "/root/testdata/sf0.001")
    val p49 = q49.queryExecution.executedPlan.toString
    val preSort = p49.split("Sort")(0)
    assert(!preSort.contains("Exchange hashpartitioning"),
      s"q49 sampling must not shuffle:\n$p49")
    // q48: the probed-clusters table and the query vector broadcast; the
    // corpus side is a scan, not an exchange-fed join build
    val q48 = SparkEntry.queries("q48_ivf_search")(spark,
      "/root/testdata/sf0.001")
    val p48 = q48.queryExecution.executedPlan.toString
    assert(p48.contains("BroadcastHashJoin") ||
      p48.contains("BroadcastNestedLoopJoin"),
      "q48 must broadcast the probed-cluster list + query vector")
    assert(p48.contains("TakeOrderedAndProject"),
      "q48 top-k must be a TakeOrdered, not a global sort")
    // q51: the split assignment is a stateless hash classify — exactly ONE
    // hash exchange (the split x lang aggregation), nothing else
    val q51 = SparkEntry.queries("q51_hash_split")(spark,
      "/root/testdata/sf0.001")
    val p51 = q51.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p51).size == 1,
      s"q51 must shuffle exactly once (the aggregation):\n$p51")
    // q53: micro-int quantization audit — posexplode + map-side partial
    // aggregation, ONE hash exchange by label
    val q53 = SparkEntry.queries("q53_quantize_error")(spark,
      "/root/testdata/sf0.001")
    val p53 = q53.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p53).size == 1,
      s"q53 must shuffle exactly once (the label aggregation):\n$p53")
    // q52: the survivor selection is an ANTI-join of the corpus against the
    // (small) dropped-id list — it must stay an anti-join, not materialize
    // survivors via a positive join + distinct
    val q52 = SparkEntry.queries("q52_neardup_survivors")(spark,
      "/root/testdata/sf0.001")
    val p52 = q52.queryExecution.executedPlan.toString
    assert(p52.contains("LeftAnti"),
      s"q52 must drop via anti-join:\n$p52")
    // q54: two explode->partial-agg cascades joined on doc_id — partial
    // aggregation must compact map-side (no corpus broadcast, no
    // cartesian), and the doc_id join of two co-partitioned aggregates
    // must be a hash join, not nested-loop
    val q54 = SparkEntry.queries("q54_repetition_quality")(spark,
      "/root/testdata/sf0.001")
    val p54 = q54.queryExecution.executedPlan.toString
    assert(!p54.contains("CartesianProduct") &&
      !p54.contains("BroadcastNestedLoopJoin"),
      s"q54 must not cross-join:\n$p54")
    assert(p54.contains("partial_count") || p54.contains("partial"),
      s"q54 aggregations must have map-side partials:\n$p54")
    // q55: the gram-frequency count must be ONE window over the
    // gram-keyed exchange (the canonical substring-dedup partition) —
    // never a gram self-join, never a corpus broadcast
    val q55 = SparkEntry.queries("q55_span_dedup")(spark,
      "/root/testdata/sf0.001")
    val p55 = q55.queryExecution.executedPlan.toString
    assert(p55.contains("Window"),
      s"q55 gram count must be a window, not a self-join:\n$p55")
    assert(!p55.contains("Join"),
      s"q55 must contain no join at all:\n$p55")
    // q56: the cumsum window must run over the 256-bucket aggregate, never
    // the corpus — so the ONLY corpus-wide exchange is the (source, bucket)
    // aggregation; everything above operates on the tiny bucket table
    val q56 = SparkEntry.queries("q56_mixture_budget")(spark,
      "/root/testdata/sf0.001")
    val p56 = q56.queryExecution.executedPlan.toString
    assert(p56.contains("Window"),
      s"q56 budget cumsum must be a window over the bucket table:\n$p56")
    assert(!p56.contains("CartesianProduct") &&
      !p56.contains("BroadcastNestedLoopJoin"),
      s"q56 must not cross-join:\n$p56")
    // q57: the funnel is ONE corpus scan -> explode(4) -> one aggregation;
    // exactly one hash exchange (the 4-row stage agg), no join
    val q57 = SparkEntry.queries("q57_filter_funnel")(spark,
      "/root/testdata/sf0.001")
    val p57 = q57.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p57).size == 1,
      s"q57 must shuffle exactly once (the stage aggregation):\n$p57")
    assert(!p57.contains("Join"),
      s"q57 must contain no join:\n$p57")
    // q58: packing is per-(source, shard) — the cumsum window and both
    // aggregations key on the shard exchange; no join, no corpus broadcast
    val q58 = SparkEntry.queries("q58_packing_stats")(spark,
      "/root/testdata/sf0.001")
    val p58 = q58.queryExecution.executedPlan.toString
    assert(p58.contains("Window"),
      s"q58 packing cumsum must be a window:\n$p58")
    assert(!p58.contains("Join"),
      s"q58 must contain no join:\n$p58")
    // q60: the source-pair matrix must come from the bounded per-gram
    // source-set aggregation, NEVER a self-join of the gram table
    val q60 = SparkEntry.queries("q60_source_overlap")(spark,
      "/root/testdata/sf0.001")
    val p60 = q60.queryExecution.executedPlan.toString
    assert(!p60.contains("Join"),
      s"q60 must aggregate per-gram source sets, not self-join grams:\n$p60")
    assert(p60.contains("collect_set"),
      s"q60 must fold sources into a bounded set per gram:\n$p60")
    // q61: the grid sweep must run over the tiny score HISTOGRAM, never
    // explode the corpus by |grid| — so the corpus contributes exactly one
    // hash exchange (the score aggregation); the second exchange is the
    // 9-row threshold rollup; and there is no join anywhere
    val q61 = SparkEntry.queries("q61_threshold_sweep")(spark,
      "/root/testdata/sf0.001")
    val p61 = q61.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p61).size == 2,
      s"q61 must shuffle exactly twice (histogram + grid rollup):\n$p61")
    assert(!p61.contains("Join"),
      s"q61 must contain no join:\n$p61")
    // q62: one window pass over the doc-keyed positions with the
    // vocabulary hash BROADCAST onto them — no shuffled dictionary join,
    // no self-join
    val q62 = SparkEntry.queries("q62_winnow_sample")(spark,
      "/root/testdata/sf0.001")
    val p62 = q62.queryExecution.executedPlan.toString
    assert(p62.contains("Window"),
      s"q62 trailing-min must be a window:\n$p62")
    assert(p62.contains("BroadcastHashJoin"),
      s"q62 dictionary must broadcast:\n$p62")
    assert(!p62.contains("SortMergeJoin"),
      s"q62 must not shuffle the token positions for the dict join:\n$p62")
    // q63: PQ assignment is posexplode -> (vec, subspace) partial agg ->
    // 32-row rollup — exactly two exchanges, no join, no cartesian
    val q63 = SparkEntry.queries("q63_pq_assign")(spark,
      "/root/testdata/sf0.001")
    val p63 = q63.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p63).size == 2,
      s"q63 must shuffle exactly twice (per-vec agg + rollup):\n$p63")
    assert(!p63.contains("Join"), s"q63 must contain no join:\n$p63")
  }

  test("q59: transitive clusters merge a<b<c chains that q52 over-drops") {
    // the sf0.001 embeddings contain planted near-dup chains; the cluster
    // assignment must (a) cover exactly the pair-graph endpoints, (b) label
    // every member with the component minimum, and (c) produce at least one
    // cluster of size >= 3 (a transitive chain — the case q52's
    // non-transitive keep-first rule cannot represent)
    val dir = "/root/testdata/sf0.001"
    val pairs = graft.operators.Similarity.neardupLsh(
        graft.operators.T.load(spark, dir, "embeddings"))
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val clusters = SparkEntry.queries("q59_dedup_clusters")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val verts = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    assert(clusters.map(_._2).sum == verts.length,
      "cluster sizes must cover exactly the pair-graph endpoints")
    assert(clusters.forall { case (cid, _, mx) => cid <= mx },
      "cluster_id must be the component minimum")
    assert(clusters.exists(_._2 >= 3),
      "expected at least one transitive chain (cluster of size >= 3)")
    // every pair's endpoints must land in the same cluster: rebuild the
    // membership map by union-find over the pairs and compare counts
    val parent = scala.collection.mutable.Map(verts.map(v => v -> v): _*)
    def find(v: Long): Long = {
      var r = v; while (parent(r) != r) r = parent(r); r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = verts.groupBy(find).map { case (_, vs) =>
      (vs.min, vs.length.toLong, vs.max) }.toSet
    assert(clusters.toSet == expected,
      "q59 clusters must equal union-find ground truth over the pairs")
  }

  test("plan: modelData = stacked windows over ONE exchange by game") {
    import spark.implicits._
    val df = spark.createDataset(
      FixtureGen.corpus(2, 60).map(_.doc)).toDF()
    val actions = graft.convert.SpadlPipeline.convert(spark,
      df.as[graft.model.TokenDoc]).toDF()
    val md = graft.features.Features.modelData(actions)
    md.collect()
    val plan = md.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // exactly two exchanges: the valuation's grouping (it hashes the key
    // column groupByKey appends, not game_id) and ONE hash-by-game
    // exchange feeding every feature window pass — a join-based
    // formulation would add exchanges (and blew up the optimizer's
    // constraint propagation; see Features.modelData)
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toVector
    assert(exchanges.size == 2, s"expected 2 exchanges:\n$plan")
    assert(exchanges.count(_.contains("Exchange hashpartitioning(game_id")) == 1,
      s"expected 1 by-game exchange:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "modelData must not contain a cross join")
  }

  test("plan: valuation = ONE exchange by game, no Window node") {
    import spark.implicits._
    val df = spark.createDataset(Seq(act(1), act(2))).toDF()
    val plan = graft.vaep.Valuation.value(df).queryExecution
      .executedPlan.toString
    // the scalar core values each game after one grouping exchange; the
    // formula is never re-expressed as window expressions
    assert(!plan.contains("Window"), s"unexpected Window node:\n$plan")
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
  }
}
