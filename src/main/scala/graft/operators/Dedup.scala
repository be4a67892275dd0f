package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication suite over the `documents` table — exact, bag-of-words,
  * n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale notes (100 TB design point):
  *  - exact / bag dedup: one hash-shuffle on a 128-bit digest; group sizes
  *    are tiny (true duplicates), no skew risk beyond pathological
  *    empty-text keys.
  *  - MinHash LSH: band signatures explode each doc into B rows (B=4 here),
  *    the candidate join is a self-equi-join on (band, key) — the
  *    classic shingle->minhash->band->bucket-join plan. Bucket sizes are
  *    bounded by near-duplicate cluster size, not corpus size; a
  *    `count > cap` guard drops degenerate buckets (boilerplate spam)
  *    before the quadratic within-bucket pairing ([[bucketPairs]], shared
  *    with the embedding near-dup blocking of `Similarity`).
  *  - SimHash: 64-bit signature per doc; candidate pairs via banded 16-bit
  *    chunks, verified by Hamming distance.
  */
object Dedup {

  /** Sorted distinct whitespace tokens — word-order-invariant content key. */
  private def bagKey(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(split(text, " ")))))

  // cross-engine arithmetic hash family constants — declared BEFORE `defs`
  // (the q26 oracle string is built while `defs` is constructed)
  private[operators] val HashM = 1000003L   // prime modulus, ~2^20
  private[operators] val BandM = 2147483647L // 2^31-1 band-key modulus
  private val JacPerms = 16
  private val JacBands = 4
  private val JacCap = 64
  private val JacThreshold = 0.5

  /** md5-hashed DISTINCT-WORD dictionary of a documents table: hash once
    * per VOCABULARY entry (heavy-tailed-small vs the corpus), broadcast
    * back onto the exploded tokens.
    *
    * Deliberately NOT persisted (reverses the round-4 "session dict
    * cache"): a `.persist` here makes the CacheManager splice an
    * InMemoryRelation into EVERY lineage that contains this subtree, and
    * an IMR scan defeats AQE exchange-stage reuse for every exchange
    * above it — measured at sf0.1: q26's candidate subtree executed 4x
    * (40 file scans, zero ReusedExchange) with the cached dict vs 1x
    * (17 scans, 3 reuses) without, 4.4 s vs 2.0 s warm, q25 2.6 s vs
    * 1.9 s. Left in-plan, the dictionary build is one vocab-sized
    * shuffle whose query stage AQE reuses across the diamond consumers
    * (both self-join sides + the verify stage see ONE build), which is
    * also the 100-TB-correct shape: reuse beats caching when the cache
    * itself disables reuse.
    */
  private[operators] def hashedDict(docs: DataFrame): DataFrame = docs
    .select(explode(array_distinct(split(col("text"), " "))).as("wd"))
    .distinct()
    .select(col("wd"),
      conv(substring(md5(col("wd")), 1, 15), 16, 10).cast("long").as("h1"),
      conv(substring(md5(col("wd")), 16, 1), 16, 10).cast("long").as("h2"))

  val defs: Seq[QueryDef] = Seq(
    // -------------------------------------------------- exact duplicate sets
    QueryDef("q21_dedup_exact",
      (s, d) => {
        val grouped = T.load(s, d, "documents")
          .groupBy(col("source"), md5(col("text")).as("content_hash"))
          .agg(count(lit(1)).as("n"))
        grouped.groupBy(col("source"))
          .agg(sum(col("n")).as("n_docs"),
            count(lit(1)).as("n_distinct"),
            (sum(col("n")) - count(lit(1))).as("n_exact_dups"))
          .orderBy(col("source"))
      },
      Some("""WITH g AS (SELECT source, md5(text) AS h, count(*) AS n
          FROM documents GROUP BY source, md5(text))
        SELECT source, CAST(sum(n) AS BIGINT) AS n_docs, count(*) AS n_distinct,
          CAST(sum(n) - count(*) AS BIGINT) AS n_exact_dups
        FROM g GROUP BY source ORDER BY source""")),

    // ------------------------------------- word-bag (order-invariant) dedup
    QueryDef("q22_dedup_bag",
      (s, d) => T.load(s, d, "documents")
        .groupBy(bagKey(col("text")).as("bag_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_members"))
        .filter(col("n_members") > 1)
        .orderBy(col("bag_hash")),
      Some("""SELECT
          md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
            AS bag_hash,
          min(doc_id) AS keep_id, count(*) AS n_members
        FROM documents
        GROUP BY 1 HAVING count(*) > 1
        ORDER BY bag_hash""")),

    // ------------------------- exact-dedup survivor scan (keep min doc_id)
    QueryDef("q23_dedup_survivors",
      (s, d) => {
        val w = Window.partitionBy(md5(col("text")))
          .orderBy(col("doc_id"))
        T.load(s, d, "documents")
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_unique"), sum(col("n_chars")).as("sum_chars"))
          .orderBy(col("lang"))
      },
      Some("""WITH r AS (SELECT lang, n_chars,
          row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
        FROM documents)
        SELECT lang, count(*) AS n_unique,
          CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM r WHERE rk = 1 GROUP BY lang ORDER BY lang""")),

    // ----------------------------------- MinHash + LSH band join: the
    // candidate pairs of the arithmetic MinHash stage, which the oracle's
    // shared CTE chain replays bit-for-bit
    QueryDef("q24_minhash_lsh",
      (s, d) => minhashCandidates(T.load(s, d, "documents"))
        .orderBy(col("doc_a"), col("doc_b")),
      Some(s"WITH $minhashCtes\nSELECT doc_a, doc_b FROM cand ORDER BY 1, 2")),

    // ------------------------------------------------ SimHash near-dup.
    // 64-bit word hashes come from md5 (60 bits from hex[1..15] + 4 from
    // hex[16]) so the DuckDB oracle replays the identical signature.
    QueryDef("q25_simhash",
      (s, d) => simhashCandidates(T.load(s, d, "documents")),
      Some(simhashOracle)),

    // ---------------------------- n-gram Jaccard verification of candidates.
    // Candidates are q24's MinHash pairs, so the whole pipeline — shingle ->
    // minhash -> band -> bucket-join -> exact-Jaccard verify — is replayed
    // verbatim by the DuckDB oracle.
    QueryDef("q26_ngram_jaccard",
      (s, d) => ngramJaccard(T.load(s, d, "documents")),
      Some(ngramJaccardOracle))
  )

  /** DuckDB mirror of [[simhashCandidates]] — same md5-derived 64-bit word
    * hashes, bit votes, 16-bit banding, Hamming verify. Bit 63's weight is
    * Long.MinValue on both engines (shiftleft wrap / literal BIGINT min),
    * combined with bitwise OR so no signed addition can overflow.
    */
  private lazy val simhashOracle: String = {
    val voteCols = (0 until 64).map { bit =>
      val src = if (bit < 60) s"(h1 >> $bit)" else s"(h2 >> ${bit - 60})"
      s"CAST(sum(CASE WHEN ($src & 1) = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v$bit"
    }.mkString(",\n      ")
    val simTerms = (0 until 64).map { bit =>
      val weight = if (bit == 63) "CAST(-9223372036854775808 AS BIGINT)"
        else s"CAST(${1L << bit} AS BIGINT)"
      s"(CASE WHEN v$bit > 0 THEN $weight ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" | ")
    s"""WITH wds AS (SELECT doc_id,
       |    unnest(list_distinct(string_split(text, ' '))) AS wd
       |  FROM documents),
       |h AS (SELECT doc_id,
       |    CAST('0x' || substring(md5(wd), 1, 15) AS BIGINT) AS h1,
       |    CAST('0x' || substring(md5(wd), 16, 1) AS BIGINT) AS h2
       |  FROM wds),
       |votes AS (SELECT doc_id,
       |      $voteCols
       |  FROM h GROUP BY doc_id),
       |sim AS (SELECT doc_id, $simTerms AS simhash FROM votes),
       |banded AS (SELECT doc_id, simhash, band,
       |    (simhash >> (band * 16)) & 65535 AS chunk
       |  FROM sim, (SELECT unnest([0, 1, 2, 3]) AS band)),
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    bit_count(xor(a.simhash, b.simhash)) AS hamming
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, hamming FROM pairs
       |WHERE hamming <= 6 ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Polynomial rolling hash of a string column: fold (acc*31 + ascii) mod
    * 1000003 over the characters, via split-to-chars — O(n), unlike a
    * positional substr(s, i, 1) loop which is O(i) per char = O(n^2) per
    * doc (measured 3.7s vs 0.4s at sf0.1 on q30). The identical
    * arithmetic is expressible in DuckDB (see [[polyHashSql]]); engine
    * parity on edge cases verified: Spark split('','')=[] and DuckDB
    * string_split('','')=[''] with ascii('')=0 both fold to 0.
    *
    * ASCII/BMP-corpus assumption (round-2 ADVICE): Spark's empty-regex
    * split (>= 3.4, SPARK-40194) yields UTF-16 code units — a non-BMP
    * character becomes two surrogate halves — while DuckDB string_split
    * yields code points, so the per-char fold agrees only on
    * single-code-unit text. The same assumption holds for the md5 word
    * hashes in q25/q26 (whole-word md5 agrees on any UTF-8, but the
    * whitespace tokenization does not on exotic spaces). The `documents`
    * corpus is ASCII by construction; normalize non-ASCII text upstream
    * (e.g. drop multi-code-unit chars on BOTH engines) before relying on
    * cross-engine hash equality elsewhere.
    */
  def polyHash(s: Column): Column =
    aggregate(transform(split(s, ""), ch => ascii(ch).cast("long")),
      lit(0L), (acc, c) => pmod(acc * 31L + c, lit(HashM)))

  /** DuckDB twin of [[polyHash]] over the SQL expression `e`. */
  def polyHashSql(e: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split($e, ''),
       |        pc -> CAST(ascii(pc) AS BIGINT))),
       |      (acc, c) -> (acc * 31 + c) % $HashM)""".stripMargin


  /** Capped bucket self-join: `rows` holds `(id, band, key)`; every pair
    * of ids sharing a (band, key) bucket of at most `cap` members becomes
    * one `(a, b)` row with a < b, once however many bands it shares. The
    * cap drops degenerate buckets (boilerplate, hot cells) before the
    * quadratic within-bucket pairing. [[bucketPairsSql]] is its DuckDB
    * twin.
    */
  private[graft] def bucketPairs(rows: DataFrame, cap: Int, a: String,
      b: String): DataFrame = {
    val sized = rows
      .withColumn("bn",
        count(lit(1)).over(Window.partitionBy("band", "key")))
      .filter(col("bn") <= cap)
      // materialize ONE exchange on the join key: both self-join sides and
      // the final sort's range sampler then read the same shuffle output
      // (AQE stage reuse) instead of re-executing the signature subtree
      .repartition(col("band"), col("key"))
    sized.select(col("id").as(a), col("band"), col("key"))
      .join(sized.select(col("id").as(b), col("band"), col("key")),
        Seq("band", "key"))
      .filter(col(a) < col(b))
      .select(col(a), col(b))
      .distinct()
  }

  /** `sized` and `cand` CTEs of [[bucketPairs]] over the CTE `rows`. */
  private[operators] def bucketPairsSql(rows: String, cap: Int, a: String,
      b: String): String =
    s"""sized AS (SELECT *, count(*) OVER (PARTITION BY band, key) AS bn
       |  FROM $rows),
       |cand AS (SELECT DISTINCT x.id AS $a, y.id AS $b
       |  FROM sized x JOIN sized y
       |    ON x.band = y.band AND x.key = y.key AND x.id < y.id
       |  WHERE x.bn <= $cap AND y.bn <= $cap)""".stripMargin

  /** 64-bit SimHash from word-feature hashes; near-dup candidates = equal
    * 16-bit chunk (4-banded) verified by Hamming distance <= 6.
    *
    * Bit votes run as 64 codegen'd SUM columns over the exploded distinct
    * word hashes (exact int sums — commutative, so partial aggregation is
    * deterministic), instead of 64 interpreted array passes per doc; same
    * simhash values, ~whole-stage-compiled plan.
    */
  def simhashCandidates(docs: DataFrame, maxHamming: Int = 6): DataFrame = {
    // hash once per VOCABULARY entry, not per occurrence: distinct words
    // are a tiny fraction of corpus tokens (heavy-tailed vocabulary), so
    // the md5 digests are computed on the deduped word dictionary (cached
    // per session via [[hashedDict]]) and broadcast back onto the exploded
    // tokens — at 100 TB this turns trillions of md5 calls into
    // |vocabulary| calls + a broadcast-hash probe per token (drop the
    // hint if the dictionary outgrows the broadcast threshold; the join
    // then degrades to a narrow shuffle)
    val wd = docs.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("wd"))
    val hashed = wd.join(broadcast(hashedDict(docs)), Seq("wd"))
      .select(col("doc_id"), col("h1"), col("h2"))
    val voteCols = (0 until 64).map { bit =>
      val src = if (bit < 60) shiftright(col("h1"), bit)
        else shiftright(col("h2"), bit - 60)
      sum(when(src.bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$bit")
    }
    val votes = hashed.groupBy(col("doc_id"))
      .agg(voteCols.head, voteCols.tail: _*)
    val sim = votes.select(col("doc_id"),
      (0 until 64).map { bit =>
        when(col(s"v$bit") > 0, shiftleft(lit(1L), bit)).otherwise(lit(0L))
      }.reduce(_ bitwiseOR _).as("simhash"))
    // The band self-join runs on DISTINCT SIGNATURES, not docs (guide §8:
    // decide on the lightweight proxy, attach the payload once): docs with
    // equal simhashes — entire near-duplicate cohorts by construction —
    // collapse to one representative row carrying their doc_id list, so a
    // hot 16-bit chunk joins |distinct sigs| rows instead of |docs| (the
    // doc-level join produced 2.18M candidate pairs at sf0.1; the sig-level
    // one a few thousand, with hamming computed once per signature PAIR
    // instead of once per doc pair). The doc lists re-expand only for
    // surviving sig pairs — whose cross products are exactly the output.
    // collect_list state is bounded by the identical-sig cohort size, the
    // same bound the (required) pairwise output already imposes.
    val sigDocs = sim.groupBy(col("simhash"))
      .agg(collect_list(col("doc_id")).as("docs"))
    val banded = sigDocs.select(col("simhash"), col("docs"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * 16).bitwiseAND(0xFFFFL).as("chunk"))
      }: _*)).as("bb"))
      .select(col("simhash"), col("docs"), col("bb.band"), col("bb.chunk"))
      // one materialized exchange feeds both self-join sides (AQE stage
      // reuse — the signature subtree runs ONCE)
      .repartition(col("band"), col("chunk"))
    val a = banded.as("a")
    val b = banded.as("b")
    val sigPairs = a.join(b, col("a.band") === col("b.band") &&
        col("a.chunk") === col("b.chunk") &&
        col("a.simhash") <= col("b.simhash"))
      .select(col("a.simhash").as("sig_a"), col("b.simhash").as("sig_b"),
        col("a.docs").as("docs_a"), col("b.docs").as("docs_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      // band-level dedup at the sig-pair grain (a pair matching in two
      // bands appears twice); a doc pair maps to exactly ONE sig pair, so
      // no doc-level distinct is needed after expansion
      .groupBy(col("sig_a"), col("sig_b"))
      .agg(first(col("docs_a")).as("docs_a"),
        first(col("docs_b")).as("docs_b"),
        first(col("hamming")).as("hamming"))
    sigPairs
      .select(col("sig_a"), col("sig_b"), col("hamming"),
        explode(col("docs_a")).as("da"), col("docs_b"))
      .select(col("sig_a"), col("sig_b"), col("hamming"), col("da"),
        explode(col("docs_b")).as("db"))
      // identity sig pair (sig_a = sig_b) crosses a list with itself:
      // da < db keeps each within-cohort pair once; cross-sig pairs are
      // unique already and only need id-order normalization
      .filter(col("sig_a") =!= col("sig_b") || col("da") < col("db"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** DuckDB word hash for the arithmetic MinHash: the first 15 hex digits
    * of md5 parsed as an integer, mod HashM — the `h1` of [[hashedDict]]
    * mod HashM on the Spark side. One native expression per word, no
    * per-char lambda loop (the nested char-fold's per-word array
    * allocations dominated q26's runtime).
    */
  private def mdWordHashSql(e: String): String =
    s"(CAST('0x' || substring(md5($e), 1, 15) AS BIGINT) % $HashM)"


  /** MinHash candidate pairs `(doc_a, doc_b)`: word-composed shingle
    * hashes -> 16 LCG-permuted codegen'd MIN columns -> 4 banded fold-keys
    * -> capped bucket self-join. Every hash is integer arithmetic over md5
    * word digests, so the DuckDB oracle ([[minhashCtes]]) replays it
    * bit-for-bit. The 16 permutations are universal hashes over the
    * exploded shingle hashes, aggregated as codegen'd MIN columns with
    * map-side partial aggregation — one narrow shuffle of pre-aggregated
    * per-doc rows.
    */
  def minhashCandidates(docs: DataFrame): DataFrame = {
    // WINDOW-LEAD shingle composition: posexplode the words, hash each
    // occurrence with a CODEGEN'D md5 projection, then compose the
    // 3-shingle hash from lead(wh,1)/lead(wh,2) over (doc_id, pos) — the
    // whole stage compiles (no interpreted HOF lambdas; the transform +
    // element_at form cost 2x the wall at sf0.1). One exchange total: the
    // window's hash-partition on doc_id is reused by the signature groupBy.
    val w = Window.partitionBy("doc_id").orderBy("pos")
    // hash once per VOCABULARY entry (see simhashCandidates): md5 runs on
    // the deduped dictionary, broadcast back onto the token positions
    val words = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "wd")))
    // wh = h1 mod HashM — derived from the SAME cached dictionary q25
    // broadcasts, so the two queries share one vocabulary hash pass
    val dict = hashedDict(docs)
      .select(col("wd"), pmod(col("h1"), lit(HashM)).as("wh"))
    val hm = words.join(broadcast(dict), Seq("wd"))
      .select(col("doc_id"), col("pos"), col("wh"))
      .select(col("doc_id"), col("pos"), col("wh"),
        lead(col("wh"), 1).over(w).as("h2"),
        lead(col("wh"), 2).over(w).as("h3"))
      .select(col("doc_id"),
        // identical arithmetic to the per-array fold, classified by the
        // lead-null pattern alone (h3 null <=> within 2 of the doc tail),
        // which spares the window a second unbounded count(*) frame:
        // h3 set -> a full 3-shingle; h3 null at pos 0 -> the <3-word
        // fallback (h2 null = 1-word doc, else the 2-word fold); h3 null
        // at pos > 0 -> a tail position of a >= 2-word doc, dropped
        when(col("h3").isNotNull,
          pmod(pmod(col("wh") * 131 + col("h2"), lit(HashM)) * 131 +
            col("h3"), lit(HashM)))
          .otherwise(when(col("pos") === 0,
            when(col("h2").isNull, col("wh"))
              .otherwise(pmod(col("wh") * 131 + col("h2"), lit(HashM)))))
          .as("hm"))
      .filter(col("hm").isNotNull)
    val permCols = (0 until JacPerms).map(p =>
      min(pmod(col("hm") * (2 * p + 3) + (7 * p + 1), lit(HashM))).as(s"m$p"))
    val rpb = JacPerms / JacBands
    val keys = hm.groupBy(col("doc_id"))
      .agg(permCols.head, permCols.tail: _*)
      .select(col("doc_id").as("id"),
        explode(array((0 until JacBands).map { b =>
          val key = (0 until rpb).foldLeft(lit(7L): Column)((acc, r) =>
            pmod(acc * 131L + col(s"m${b * rpb + r}"), lit(BandM)))
          struct(lit(b).as("band"), key.as("key"))
        }: _*)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.key"))
    bucketPairs(keys, JacCap, "doc_a", "doc_b")
  }

  /** Exact n-gram Jaccard over arithmetic-MinHash candidates (verify
    * stage); candidate pairs stay narrow through the distinct, shingle
    * arrays re-join after.
    */
  def ngramJaccard(docs: DataFrame): DataFrame = {
    val cands = minhashCandidates(docs)
    // verify on the (bounded) candidate pairs with per-DOC distinct shingle
    // sets built ONCE via the same codegen window-lead shape as the
    // signature stage — the old per-pair HOF shingle build evaluated
    // interpreted (measured 1.4 ms/pair = the dominant q26 cost), and a doc
    // in k pairs rebuilt its set k times. Restricted to docs that actually
    // appear in a candidate pair, so at 100 TB the shingle work stays
    // O(candidate docs), never O(corpus).
    val ids = cands
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val shTbl = docs.join(broadcast(ids), Seq("doc_id"))
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "wd")))
      .select(col("doc_id"), col("pos"), col("wd"),
        lead(col("wd"), 1).over(w).as("w2"),
        lead(col("wd"), 2).over(w).as("w3"))
      .select(col("doc_id"),
        // identical shingle set to wordShingles, classified by the
        // lead-null pattern (see the signature stage above): full 3-gram
        // strings where w3 is set; a <3-word doc contributes its whole
        // text (the single-space re-join of all words IS the text for
        // split-by-' ')
        when(col("w3").isNotNull,
          concat_ws(" ", col("wd"), col("w2"), col("w3")))
          .otherwise(when(col("pos") === 0,
            when(col("w2").isNull, col("wd"))
              .otherwise(concat_ws(" ", col("wd"), col("w2")))))
          .as("sh"))
      .filter(col("sh").isNotNull)
      .groupBy(col("doc_id"))
      .agg(collect_set(col("sh")).as("sh"))
    // shTbl is O(candidate docs) — small by the bucket cap — so BOTH
    // verify joins broadcast it, and the identical build subtree means the
    // second join reuses the first's BroadcastExchange instead of
    // exchanging the candidate pairs twice
    val shT = shTbl.select(col("doc_id").as("sid"), col("sh").as("ssh"))
    cands
      .join(broadcast(shT), col("doc_a") === col("sid"))
      .select(col("doc_a"), col("doc_b"), col("ssh").as("sh_a"))
      .join(broadcast(shT), col("doc_b") === col("sid"))
      .select(col("doc_a"), col("doc_b"), col("sh_a"), col("ssh").as("sh_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      .withColumn("jaccard", round(col("inter").cast("double") / col("uni"), 6))
      .filter(col("jaccard") >= JacThreshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      // one materialized exchange so the sort sampler reuses the verify
      // output instead of re-executing it (AQE stage reuse)
      .repartition(col("doc_a"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** DuckDB mirror of [[minhashCandidates]], the CTE chain `w` .. `cand`:
    * same word hashes, shingle folds, permutations, band folds and bucket
    * cap. `cand` holds the candidate pairs (q24); `w` the split words
    * (q26's shingle sets).
    */
  private lazy val minhashCtes: String = {
    val rpb = JacPerms / JacBands
    val permCols = (0 until JacPerms).map { p =>
      s"list_min(list_transform(hms, hh -> (hh * ${2 * p + 3} + ${7 * p + 1}) % $HashM)) AS m$p"
    }.mkString(",\n      ")
    val keyCols = (0 until JacBands).map { b =>
      val expr = (0 until rpb).foldLeft("7")((acc, r) =>
        s"(($acc * 131 + m${b * rpb + r}) % $BandM)")
      s"$expr AS k$b"
    }.mkString(",\n      ")
    val keyCase = (0 until JacBands).map(b =>
      s"WHEN $b THEN k$b").mkString(" ")
    s"""w AS (SELECT doc_id, text, string_split(text, ' ') AS words
       |  FROM documents),
       |wh AS (SELECT doc_id, len(words) AS nw, list_transform(words, wx ->
       |    ${mdWordHashSql("wx")}) AS whs FROM w),
       |hs AS (SELECT doc_id, CASE WHEN nw >= 3
       |    THEN list_transform(generate_series(1, CAST(nw - 2 AS INT)),
       |      g -> ((((whs[g] * 131 + whs[g+1]) % $HashM) * 131 + whs[g+2]) % $HashM))
       |    ELSE [list_reduce(list_prepend(CAST(0 AS BIGINT), whs),
       |      (acc2, h2) -> (acc2 * 131 + h2) % $HashM)] END AS hms FROM wh),
       |sig AS (SELECT doc_id,
       |      $permCols
       |  FROM hs),
       |keys AS (SELECT doc_id,
       |      $keyCols
       |  FROM sig),
       |bands AS (SELECT doc_id AS id, band, CASE band $keyCase END AS key
       |  FROM keys, (SELECT unnest([${(0 until JacBands).mkString(", ")}]) AS band)),
       |${bucketPairsSql("bands", JacCap, "doc_a", "doc_b")}""".stripMargin
  }

  /** DuckDB mirror of [[ngramJaccard]]: the [[minhashCtes]] candidates,
    * same shingle sets and Jaccard verify.
    */
  private lazy val ngramJaccardOracle: String =
    s"""WITH $minhashCtes,
       |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(words) >= 3
       |    THEN list_transform(generate_series(1, CAST(len(words) - 2 AS INT)),
       |      g -> concat_ws(' ', words[g], words[g+1], words[g+2]))
       |    ELSE [text] END) AS sh FROM w),
       |j AS (SELECT doc_a, doc_b,
       |    len(list_intersect(sa.sh, sb.sh)) AS inter,
       |    len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS uni
       |  FROM cand
       |  JOIN sh sa ON sa.doc_id = doc_a
       |  JOIN sh sb ON sb.doc_id = doc_b)
       |SELECT doc_a, doc_b,
       |  round(CAST(inter AS DOUBLE) / uni, 6) AS jaccard
       |FROM j WHERE round(CAST(inter AS DOUBLE) / uni, 6) >= $JacThreshold
       |ORDER BY doc_a, doc_b""".stripMargin
}
