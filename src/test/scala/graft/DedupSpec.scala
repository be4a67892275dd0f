package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Semantic guarantees of the dedup/similarity candidate generators that
  * the oracles check only on the test tables: exact duplicates are ALWAYS
  * candidates (identical signatures survive any banding), near-duplicates
  * verify above the Jaccard threshold, unrelated docs don't flood the
  * candidate set, and the bucket cap drops exactly the oversized buckets.
  */
class DedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private val base = "the quick brown fox jumps over the lazy dog " +
    "while seventeen sleepy cats watch from a warm stone wall near the river"
  // one-word edit of `base` — high 3-gram Jaccard, not exact
  private val nearDup = base.replace("warm", "cold")
  private val other = "completely different content about spark catalyst " +
    "optimizer rules and whole stage code generation for analytic queries"

  private val corpus = docs(
    0L -> base, 1L -> base, // exact dups
    2L -> nearDup,
    3L -> other, 4L -> (other + " with a tail"),
    5L -> "tiny doc", // < 3 words: fallback shingle
    6L -> "tiny doc")

  test("exact duplicates are always MinHash candidates") {
    val got = Dedup.minhashCandidates(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((0L, 1L)), s"candidates missed (0,1): $got")
    assert(got.contains((5L, 6L)), s"candidates missed (5,6): $got")
  }

  test("bucket cap: an oversized bucket yields no pairs, a full one all " +
    "of its pairs, and an id pair sharing two bands comes out once") {
    import spark.implicits._
    val cap = 4
    val over = (0L to cap.toLong).map(id => (id, 0, 1L)) // cap + 1 ids
    val full = (10L until 10L + cap).map(id => (id, 0, 2L)) // exactly cap
    val twice = Seq((20L, 0, 3L), (21L, 0, 3L), (20L, 1, 3L), (21L, 1, 3L))
    val rows = (over ++ full ++ twice).toDF("id", "band", "key")
    val got = Dedup.bucketPairs(rows, cap, "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val fullPairs = for (x <- full.map(_._1); y <- full.map(_._1) if x < y)
      yield (x, y)
    assert(fullPairs.size == cap * (cap - 1) / 2)
    assert(got.sorted == (fullPairs :+ ((20L, 21L))).sorted, s"pairs: $got")
  }

  test("near-duplicate pair verifies above the Jaccard threshold") {
    val out = Dedup.ngramJaccard(corpus)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out.get((0L, 1L)).contains(1.0), s"exact pair jaccard != 1: $out")
    // one-word edit over ~23 words: 3 shingles differ of ~21
    val nd = out.get((0L, 2L)).orElse(out.get((1L, 2L)))
    assert(nd.exists(j => j > 0.7 && j < 1.0),
      s"near-dup pair missing or out of range: $out")
    assert(!out.keySet.exists { case (x, y) =>
      Set(x, y).subsetOf(Set(0L, 1L, 2L)) && Set(x, y).contains(3L) },
      s"unrelated doc paired with base cluster: $out")
  }

  test("SimHash: identical docs at Hamming 0, unrelated docs not paired") {
    // NOTE: a one-word edit on a ~23-distinct-word doc legitimately flips
    // more than maxHamming bits (vote margins are O(1) at this vocabulary
    // size), so near-dup recall is only asserted for exact duplicates here;
    // SimHash's sweet spot is large-vocabulary documents.
    val out = Dedup.simhashCandidates(corpus)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Number](2).longValue))
      .toMap
    assert(out.get((0L, 1L)).contains(0L), s"exact pair hamming != 0: $out")
    assert(out.get((5L, 6L)).contains(0L), s"tiny exact pair missing: $out")
    assert(!out.contains((0L, 3L)) && !out.contains((1L, 3L)),
      s"unrelated docs paired: $out")
  }

  test("identical embeddings share an LSH signature and verify at cosine 1") {
    import spark.implicits._
    val e = Seq(
      (0L, Array(1.0f, 2.0f, -3.0f, 0.5f), 0),
      (1L, Array(1.0f, 2.0f, -3.0f, 0.5f), 0), // exact dup
      (2L, Array(1.01f, 2.0f, -3.0f, 0.5f), 0), // near dup
      (3L, Array(-5.0f, 0.1f, 4.0f, -2.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val sig = Similarity.intLshSignature(e, 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(0L) == sig(1L), "identical vectors must share the signature")
    val pairs = Similarity.neardupLsh(e)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.get((0L, 1L)).contains(1.0), s"exact pair cosine != 1: $pairs")
  }

  /** Min reachable id per vertex of `pairs`, by a local union-find. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    pairs.flatMap(p => Seq(p._1, p._2)).distinct.map(v => v -> find(v)).toMap
  }

  private def components(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Similarity.connectedComponents(pairs.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("connected components converge on a 64-vertex path with ids " +
    "sorted along it (q59 regression: plain propagation needs 63 rounds " +
    "here and fails the 16-round require)") {
    import spark.implicits._
    // path 0-1-2-...-63 (diameter 63) plus one separate triangle and one
    // isolated pair: min-reachable labels are 0, 100, 200
    val path = (0L until 63L).map(i => (i, i + 1))
    val extra = Seq((100L, 101L), (101L, 102L), (100L, 102L), (200L, 201L))
    val lbl = components(path ++ extra)
    (0L to 63L).foreach(v => assert(lbl(v) == 0L, s"path vertex $v -> ${lbl(v)}"))
    Seq(100L, 101L, 102L).foreach(v => assert(lbl(v) == 100L))
    Seq(200L, 201L).foreach(v => assert(lbl(v) == 200L))
  }

  test("connected components match a local union-find on random graphs") {
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { g =>
      val n = 20 + rnd.nextInt(30)
      val pairs = Vector.fill(10 + rnd.nextInt(50))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
      val got = components(pairs)
      val truth = unionFind(pairs)
      assert(got == truth, s"graph $g: spark=$got truth=$truth")
    }
  }

  test("connected components on a 100-vertex path with shuffled ids match " +
    "union-find (pending: the rounds grow with the diameter when ids are " +
    "not sorted along the chain, so the 20-round bound throws; ROADMAP " +
    "direction 1)") {
    val ids = new scala.util.Random(7).shuffle((0L until 100L).toVector)
    val path = ids.zip(ids.tail)
    pendingUntilFixed {
      assert(components(path) == unionFind(path))
    }
  }
}
