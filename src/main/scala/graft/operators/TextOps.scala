package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over `documents`:
  * language-ID (stopword/n-gram heuristic), quality scoring, token counting
  * (whitespace + BPE-ish regex), document fingerprinting.
  *
  * Everything is built from codegen'd `functions._` / higher-order array
  * functions — no UDFs — so the plan whole-stage-compiles and all counts are
  * exact integers (deterministic for the DuckDB oracle compare).
  */
object TextOps {

  /** tiny per-language marker lexicons for the heuristic language ID */
  private val markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "with", "fast"),
    "es" -> Seq("el", "la", "de", "rapido", "tabla"),
    "fr" -> Seq("le", "la", "et", "vite", "table"),
    "de" -> Seq("der", "die", "und", "schnell", "tabelle"),
    "zh" -> Seq("biao", "kuai", "he", "da", "xiao"))

  private def words(text: Column): Column = split(text, " ")

  /** The word n-grams of the word array `ws` in order (each the
    * space-joined run of `n` words starting at 1, 2, ...); empty when `ws`
    * has fewer than `n` words. `transform` is an interpreted lambda, so
    * reference the result once per row.
    */
  private def wordGrams(ws: Column, n: Int): Column =
    when(size(ws) >= n,
        transform(sequence(lit(1), size(ws) - (n - 1)),
          i => array_join(slice(ws, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  private def countIn(text: Column, vocab: Seq[String]): Column =
    size(filter(words(text), w => w.isin(vocab: _*)))

  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "in", "to", "is")

  /** q43: REAL frame sampling over a multi-frame media container. Each doc
    * becomes a 4-frame GRFV "video" (real PNG frames behind a seekable
    * offset index); the sampler decodes ONLY frames 0 and 2 (stride 2) —
    * the unsampled frames are never decompressed, which is what makes
    * stride sampling a scan-cost reducer at 100 TB. `frame_checksum` is the
    * sum of DECODED raster samples of the sampled frames; the oracle
    * predicts it arithmetically from the deterministic pixel synthesis, so
    * a broken encode, index seek or decode all fail the hash gate.
    */
  val frameSample: QueryDef = QueryDef("q43_frame_sample",
    (s, d) => {
      import s.implicits._
      T.load(s, d, "documents")
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val video = MediaCodec.encodeVideo(text, nFrames = 4)
          val (total, sampled, checksum) = MediaCodec.sampleVideo(video, stride = 2)
          (id, MediaCodec.hex8(video).take(8), total, sampled, checksum)
        })
        .toDF("doc_id", "container_magic", "n_frames", "n_sampled",
          "frame_checksum")
        .orderBy(col("doc_id"))
    },
    // frame f in {0,2}, pixel i in 0..63: ascii(text[(f*17 + i) % len]);
    // flattened: j in 0..127, f = (j // 64) * 2, i = j % 64
    Some("""SELECT doc_id,
        '47524656' AS container_magic,
        CAST(4 AS INT) AS n_frames,
        CAST(2 AS INT) AS n_sampled,
        CAST(list_sum(list_transform(generate_series(0, 127),
          j -> ascii(substring(text,
            CAST(((j // 64) * 2 * 17 + (j % 64)) % length(text) AS INT) + 1,
            1)))) AS BIGINT) AS frame_checksum
      FROM documents ORDER BY doc_id"""))

  val defs: Seq[QueryDef] = Seq(
    // ------------------------------------------- token counting (exact)
    QueryDef("q27_token_counts",
      (s, d) => T.load(s, d, "documents")
        .withColumn("ws_tokens", size(words(col("text"))))
        .withColumn("re_tokens",
          size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0))))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws_tokens")).as("sum_ws_tokens"),
          sum(col("re_tokens")).as("sum_re_tokens"))
        .orderBy(col("source")),
      Some("""SELECT source, count(*) AS n_docs,
        CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_ws_tokens,
        CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+'))) AS BIGINT) AS sum_re_tokens
        FROM documents GROUP BY source ORDER BY source""")),

    // --------------------------------- quality scoring (ratios, exact ints)
    QueryDef("q28_quality_scores",
      (s, d) => {
        val ws = words(col("text"))
        val nWords = size(ws)
        val nStop = size(filter(ws, w => w.isin(stopwords: _*)))
        val meanLenX100 = round(
          (col("n_chars").cast("double") * 100) / nWords, 0).cast("long")
        T.load(s, d, "documents")
          .withColumn("n_words", nWords)
          .withColumn("n_stop", nStop)
          .withColumn("mean_wordlen_x100", meanLenX100)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_words")).as("sum_words"),
            sum(col("n_stop")).as("sum_stop"),
            sum(col("mean_wordlen_x100")).as("sum_mwl"))
          .orderBy(col("lang"))
      },
      Some("""WITH q AS (SELECT lang,
          len(string_split(text, ' ')) AS n_words,
          len(list_filter(string_split(text, ' '),
            w -> w IN ('the','a','of','and','in','to','is'))) AS n_stop,
          CAST(round(n_chars * 100.0 / len(string_split(text, ' ')), 0)
            AS BIGINT) AS mean_wordlen_x100
        FROM documents)
        SELECT lang, count(*) AS n_docs,
          CAST(sum(n_words) AS BIGINT) AS sum_words,
          CAST(sum(n_stop) AS BIGINT) AS sum_stop,
          CAST(sum(mean_wordlen_x100) AS BIGINT) AS sum_mwl
        FROM q GROUP BY lang ORDER BY lang""")),

    // ----------------------------------------- heuristic language ID
    QueryDef("q29_lang_id",
      (s, d) => {
        val scored = markers.toSeq.sortBy(_._1).foldLeft(
          T.load(s, d, "documents")) { case (df, (l, vocab)) =>
          df.withColumn(s"score_$l", countIn(col("text"), vocab))
        }
        // argmax by score, ties by language name (greatest-struct trick)
        val pick = greatest(markers.keys.toSeq.sorted.map(l =>
          struct(col(s"score_$l").as("score"),
            lit(markersRank(l)).as("rank"), lit(l).as("lang"))): _*)
        scored.withColumn("pred_lang", pick.getField("lang"))
          .groupBy(col("lang"), col("pred_lang"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("lang"), col("pred_lang"))
      },
      Some(langIdOracle)),

    // -------------------------------- fingerprint: deterministic digests —
    // md5 over the salted record + a polynomial ROLLING hash of the text
    // (the Karp-Rabin fold (acc*31 + ascii) % 1000003; replaced round 1's
    // crc32, absent from DuckDB 1.0, so this is now fully oracle-backed)
    QueryDef("q30_fingerprints",
      (s, d) => T.load(s, d, "documents")
        .select(col("doc_id"),
          md5(concat_ws("|", col("lang"), col("source"), col("text")))
            .as("fingerprint"),
          Dedup.polyHash(col("text")).as("rolling_hash"))
        .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id,
        md5(concat_ws('|', lang, source, text)) AS fingerprint,
        ${Dedup.polyHashSql("text")} AS rolling_hash
        FROM documents ORDER BY doc_id""")),

    // ---------------------------- corpus term stats: top-5 terms per lang
    QueryDef("q41_term_freq",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val terms = T.load(s, d, "documents")
          .select(col("lang"), explode(words(col("text"))).as("term"))
          .groupBy(col("lang"), col("term"))
          .agg(count(lit(1)).as("tf"),
            countDistinct(lit(1)).as("_one")) // exercise distinct agg path
          .drop("_one")
        val w = Window.partitionBy("lang")
          .orderBy(col("tf").desc, col("term"))
        terms.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 5)
          .select(col("lang"), col("rk"), col("term"), col("tf"))
          .orderBy(col("lang"), col("rk"))
      },
      Some("""WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS term
          FROM documents),
        f AS (SELECT lang, term, count(*) AS tf FROM t GROUP BY lang, term),
        r AS (SELECT lang, term, tf, row_number() OVER
          (PARTITION BY lang ORDER BY tf DESC, term) AS rk FROM f)
        SELECT lang, rk, term, tf FROM r WHERE rk <= 5
        ORDER BY lang, rk""")),

    // -------------- multimodal decode: REAL image encode + decode (no stub
    // since round 3). Each doc gets a deterministic grayscale PNG payload
    // (pixel i = ascii(text[i % len]), dims from doc_id) synthesized and
    // then DECODED with the JDK's javax.imageio inside a typed
    // mapPartitions (the Scala shape of a Pandas-UDF-over-mapInPandas
    // batch). Every output column is decode-derived: `magic` is the first 8
    // payload bytes (the fixed PNG signature proves a real PNG came out),
    // width/height come from the decoded image, pixel_sum from the decoded
    // raster. The oracle predicts all of them arithmetically, so any break
    // in the encode->decode roundtrip fails the hash gate. See MediaCodec.
    QueryDef("q31_multimodal_meta",
      (s, d) => {
        import s.implicits._
        T.load(s, d, "documents")
          .select(col("doc_id"), col("text"), col("lang"))
          .as[(Long, String, String)]
          .mapPartitions(_.map { case (id, text, lang) =>
            val payload = MediaCodec.encodePng(id, text)
            val (w, h, pxSum) = MediaCodec.decodeStats(payload)
            (id, MediaCodec.hex8(payload), w, h, w * h, pxSum, lang)
          })
          .toDF("doc_id", "magic", "width", "height", "n_pixels",
            "pixel_sum", "lang")
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
        '89504E470D0A1A0A' AS magic,
        CAST(8 + doc_id % 9 AS INT) AS width,
        CAST(8 + (doc_id // 9) % 9 AS INT) AS height,
        CAST((8 + doc_id % 9) * (8 + (doc_id // 9) % 9) AS INT) AS n_pixels,
        CAST(list_sum(list_transform(
          generate_series(0,
            CAST((8 + doc_id % 9) * (8 + (doc_id // 9) % 9) AS INT) - 1),
          i -> ascii(substring(text, CAST(i % length(text) AS INT) + 1, 1))))
          AS BIGINT) AS pixel_sum,
        lang
        FROM documents ORDER BY doc_id"""))
    ,

    // --------------- deterministic stratified sampling (training-data
    // curation): keep a document iff a stable 16-bit hash of its id falls
    // under its language stratum's rate. Stateless hash filter — fully
    // pushdown-able, zero shuffle, and REPRODUCIBLE: re-running the
    // pipeline (or re-sampling after a crash) selects the identical
    // sample, which is what makes hash sampling the curation primitive at
    // 100 TB (a rand() sample is neither pushdown-able nor stable).
    QueryDef("q49_stratified_sample",
      (s, d) => {
        val rates: Map[String, Int] = Map("en" -> 32768, "es" -> 16384,
          "fr" -> 16384, "de" -> 16384, "zh" -> 8192) // of 65536
        val h16 = conv(substring(md5(
          concat(lit("strat|"), col("doc_id").cast("string"))), 1, 4),
          16, 10).cast("long")
        T.load(s, d, "documents")
          .withColumn("h16", h16)
          .withColumn("rate",
            coalesce(element_at(typedLit(rates), col("lang")), lit(8192))
              .cast("long"))
          .filter(col("h16") < col("rate"))
          .select(col("doc_id"), col("lang"), col("h16"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, lang,
          CAST('0x' || substring(md5('strat|' || CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) AS h16
        FROM documents
        WHERE CAST('0x' || substring(md5('strat|' || CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
          < (CASE lang WHEN 'en' THEN 32768 WHEN 'es' THEN 16384
             WHEN 'fr' THEN 16384 WHEN 'de' THEN 16384 WHEN 'zh' THEN 8192
             ELSE 8192 END)
        ORDER BY doc_id""")),

    // --------------- benchmark-contamination check: corpus documents that
    // share any word 5-gram with the "eval set" (doc_id < 20 stands in for
    // a held-out benchmark). The eval side's distinct grams are SMALL by
    // construction (eval sets are thousands of docs, not billions), so the
    // join broadcasts — at 100 TB this is one narrow gram projection of the
    // corpus probed against a broadcast eval-gram set, never a shuffle of
    // the corpus. Per-doc gram dedup happens ROW-LOCALLY via array_distinct
    // before the explode (a doc's grams all live in its own row), which is
    // exactly the relation the old cross-doc `.distinct()` produced — so the
    // corpus-wide dedup exchange is gone and the broadcast probe filter is
    // the FIRST thing the corpus rows meet (guide §2.4/§3.2: the only
    // pre-join work on the big side is row-local).
    QueryDef("q50_contamination",
      (s, d) => {
        val docs = T.load(s, d, "documents")
        def grams(df: DataFrame): DataFrame =
          df.select(col("doc_id"), explode(array_distinct(
            wordGrams(words(col("text")), 5))).as("gram"))
        val evalG = grams(docs.filter(col("doc_id") < 20))
          .select(col("doc_id").as("eval_doc"), col("gram"))
        val corpusG = grams(docs.filter(col("doc_id") >= 20))
        corpusG.join(broadcast(evalG), Seq("gram"))
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("gram")).as("n_shared_grams"),
            countDistinct(col("eval_doc")).as("n_eval_docs"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH g AS (SELECT doc_id, unnest(list_transform(
            generate_series(1, greatest(len(string_split(text, ' ')) - 4, 0)),
            i -> array_to_string(list_slice(string_split(text, ' '), i, i + 4), ' '))) AS gram
          FROM documents),
        e AS (SELECT DISTINCT doc_id AS eval_doc, gram FROM g WHERE doc_id < 20),
        c AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id >= 20)
        SELECT c.doc_id, count(DISTINCT c.gram) AS n_shared_grams,
          count(DISTINCT e.eval_doc) AS n_eval_docs
        FROM c JOIN e ON c.gram = e.gram
        GROUP BY c.doc_id ORDER BY c.doc_id""")),

    // --------------- deterministic train/val/test split (80/10/10): the
    // assignment is a pure function of doc_id (16-bit md5 prefix, domain
    // 'split|' distinct from q49's 'strat|'), so it is REPRODUCIBLE across
    // reruns/backfills, pushdown-able (a training reader filters its split
    // at the scan), and leakage-free by construction — a document can
    // never change split when the corpus grows, unlike any rand() or
    // row_number() split. Per-split x lang counts audit the balance.
    QueryDef("q51_hash_split",
      (s, d) => {
        val h16 = conv(substring(md5(
          concat(lit("split|"), col("doc_id").cast("string"))), 1, 4),
          16, 10).cast("long")
        T.load(s, d, "documents")
          .withColumn("split",
            when(h16 < 52429, "train").when(h16 < 58982, "val")
              .otherwise("test"))
          .groupBy(col("split"), col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
          .orderBy(col("split"), col("lang"))
      },
      Some("""WITH h AS (SELECT lang, n_chars,
          CAST('0x' || substring(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) AS h16
        FROM documents)
        SELECT CASE WHEN h16 < 52429 THEN 'train'
            WHEN h16 < 58982 THEN 'val' ELSE 'test' END AS split,
          lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM h GROUP BY 1, lang ORDER BY split, lang""")),

    // --------------- Gopher-style repetition quality audit (Rae et al.
    // 2021 §A1.1): per-doc top-word mass and duplicate-2-gram excess, the
    // two cheapest repetition filters a curation pipeline runs before
    // anything model-based. All counts are exact integers and the flag is
    // an integer comparison (no float thresholds), so the DuckDB oracle
    // replays it bit-for-bit. Scale shape: ONE explode->partial-agg
    // cascade keyed (doc_id, term) then doc_id — map-side combine does
    // most of the work — joined on doc_id with a ROW-LOCAL (shuffle-free)
    // 2-gram arithmetic branch; nothing corpus-wide ever broadcasts.
    QueryDef("q54_repetition_quality",
      (s, d) => {
        // The 2-gram statistics are pure array arithmetic on ONE document's
        // own row (total = size, dup excess = size - size(array_distinct)),
        // so that branch is ROW-LOCAL — no explode, no 2-gram shuffle at
        // all; the old second explode->groupBy->groupBy cascade (two
        // exchanges of full 2-gram strings) is gone. top_word_n still needs
        // the per-(doc, word) count, which the remaining word cascade
        // provides; the doc_id join then attaches the local branch. (The
        // local stats can NOT ride through the word explode as extra
        // columns: Catalyst collapses the projections and re-evaluates the
        // per-doc gram arithmetic once per exploded WORD row — measured
        // 119 s vs 1.8 s at sf0.1.) The gram-building transform() is an
        // INTERPRETED lambda, so it must be evaluated exactly once per doc:
        // n_2grams is pure arithmetic (= max(n_words - 1, 0) — no gram
        // strings needed), and only dup_2gram_excess touches the built
        // array; the naive size(g2)/filter(size(g2)) forms inlined the
        // transform into 4 sibling expressions (pushed filter included)
        // and cost 4x. The old inner join dropped docs with no 2-grams
        // (< 2 words); `n_2grams > 0` replicates that row set.
        val docs = T.load(s, d, "documents")
        val ws = words(col("text"))
        val g2 = wordGrams(ws, 2)
        val n2 = greatest(size(ws) - 1, lit(0)).cast("long")
        val w1 = docs.select(col("doc_id"), explode(ws).as("w"))
          .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n_words"),
            count(lit(1)).as("n_distinct_words"),
            max(col("c")).as("top_word_n"))
        val g2local = docs.select(col("doc_id"),
          n2.as("n_2grams"),
          (n2 - size(array_distinct(g2)).cast("long"))
            .as("dup_2gram_excess"))
        w1.join(g2local, Seq("doc_id"))
          .filter(col("n_2grams") > 0)
          .withColumn("flag_repetitive",
            ((col("top_word_n") * 5 > col("n_words")) ||
              (col("dup_2gram_excess") * 10 > col("n_2grams")))
              .cast("int"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
          FROM documents),
        wc AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w),
        ws AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
            count(*) AS n_distinct_words, CAST(max(c) AS BIGINT) AS top_word_n
          FROM wc GROUP BY doc_id),
        g AS (SELECT doc_id, unnest(list_transform(
            generate_series(1, greatest(len(string_split(text, ' ')) - 1, 0)),
            i -> array_to_string(list_slice(string_split(text, ' '), i, i + 1), ' '))) AS g
          FROM documents),
        gc AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g),
        gs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_2grams,
            CAST(sum(c) - count(*) AS BIGINT) AS dup_2gram_excess
          FROM gc GROUP BY doc_id)
        SELECT ws.doc_id, n_words, n_distinct_words, top_word_n, n_2grams,
          dup_2gram_excess,
          CAST(CASE WHEN top_word_n * 5 > n_words
            OR dup_2gram_excess * 10 > n_2grams THEN 1 ELSE 0 END AS INT)
            AS flag_repetitive
        FROM ws JOIN gs ON ws.doc_id = gs.doc_id ORDER BY ws.doc_id""")),

    // --------------- exact span-level dedup detector (Lee et al. 2022,
    // "Deduplicating Training Data Makes Language Models Better"): a doc's
    // word-8-grams shared verbatim with ANY other doc, the MapReduce form
    // of suffix-array substring dedup — gram -> doc-count via one keyed
    // aggregation (window over the gram partition), then per-doc shared
    // fraction. Complements q21-q26/q40 (doc-level detect) at SPAN
    // granularity: a doc that is 50% copied from another doc but globally
    // unique passes every doc-level filter and is caught here. Scale
    // shape: row-local (doc, gram) dedup -> window count over gram ->
    // doc agg = two narrow exchanges of (doc_id, gram) pairs; the
    // gram-keyed shuffle is the canonical substring-dedup partition.
    // No all-pairs anything.
    QueryDef("q55_span_dedup",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = T.load(s, d, "documents")
        val ws = words(col("text"))
        // (doc_id, gram) dedup is ROW-LOCAL: all of a doc's grams sit in
        // its own row, so array_distinct before the explode produces the
        // exact relation the old cross-doc `.distinct()` did — minus its
        // corpus-wide exchange. The gram-keyed window is then the FIRST
        // (and only) shuffle of the gram table (guide §2.4).
        val grams = docs.select(col("doc_id"),
          explode(array_distinct(wordGrams(ws, 8))).as("gram"))
        grams
          .withColumn("nd",
            count(lit(1)).over(Window.partitionBy(col("gram"))))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("shared_grams"))
          .withColumn("flag_dup",
            (col("shared_grams") * 2 > col("n_grams")).cast("int"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH g AS (SELECT doc_id, unnest(list_transform(
            generate_series(1, greatest(len(string_split(text, ' ')) - 7, 0)),
            i -> array_to_string(list_slice(string_split(text, ' '), i, i + 7), ' '))) AS gram
          FROM documents),
        gd AS (SELECT DISTINCT doc_id, gram FROM g),
        n AS (SELECT doc_id, gram,
            count(*) OVER (PARTITION BY gram) AS nd FROM gd)
        SELECT doc_id, count(*) AS n_grams,
          CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
            AS shared_grams,
          CAST(CASE WHEN CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)
              AS BIGINT) * 2
            > count(*) THEN 1 ELSE 0 END AS INT) AS flag_dup
        FROM n GROUP BY doc_id ORDER BY doc_id""")),

    // --------------- per-source token-budget sampler (corpus mixing): fill
    // each source's token budget by picking the smallest HASH-BUCKET
    // threshold whose cumulative token mass reaches the budget. This is the
    // scale-correct form of budgeted sampling: production can't sort a
    // source's trillion docs by hash to cut exactly at the budget — instead
    // docs land in 256 md5-prefix buckets (a pure doc_id function, domain
    // 'mix|'), ONE corpus-wide groupBy(source, bucket) with map-side
    // partials produces a 256-row-per-source table, the cumsum window runs
    // over THAT (never the corpus), and the production selection filter is
    // `bucket <= threshold` — reproducible under corpus growth and
    // pushdown-able at the scan, overshoot bounded by one bucket (~1/256 of
    // the source's mass).
    QueryDef("q56_mixture_budget",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val budget = 3000L
        val bucket = conv(substring(md5(
          concat(lit("mix|"), col("doc_id").cast("string"))), 1, 2),
          16, 10).cast("long")
        val bt = T.load(s, d, "documents")
          .select(col("source"), bucket.as("b"),
            size(words(col("text"))).cast("long").as("t"))
          .groupBy(col("source"), col("b"))
          .agg(count(lit(1)).as("nd"), sum(col("t")).as("tok"))
        val w = Window.partitionBy("source").orderBy("b")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = bt.select(col("source"), col("b"),
          sum(col("nd")).over(w).as("cnd"), sum(col("tok")).over(w).as("ctok"))
        // threshold = first bucket reaching the budget; a source whose whole
        // mass is under budget selects everything (its last bucket)
        val thr = cum.groupBy(col("source")).agg(
          coalesce(min(when(col("ctok") >= budget, col("b"))), max(col("b")))
            .as("thr_b"))
        cum.join(thr, Seq("source"))
          .filter(col("b") === col("thr_b"))
          .select(col("source"), col("thr_b").as("threshold_bucket"),
            col("cnd").as("n_docs_selected"),
            col("ctok").as("tokens_selected"),
            greatest(col("ctok") - budget, lit(0L)).as("overshoot_tokens"))
          .orderBy(col("source"))
      },
      Some("""WITH bt AS (SELECT source,
          CAST('0x' || substring(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 2) AS BIGINT) AS b,
          count(*) AS nd,
          CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tok
        FROM documents GROUP BY 1, 2),
        cum AS (SELECT source, b,
          CAST(sum(nd) OVER (PARTITION BY source ORDER BY b) AS BIGINT) AS cnd,
          CAST(sum(tok) OVER (PARTITION BY source ORDER BY b) AS BIGINT) AS ctok
        FROM bt),
        thr AS (SELECT source,
          coalesce(min(CASE WHEN ctok >= 3000 THEN b END), max(b)) AS thr_b
        FROM cum GROUP BY source)
        SELECT cum.source, thr_b AS threshold_bucket, cnd AS n_docs_selected,
          ctok AS tokens_selected,
          greatest(ctok - 3000, 0) AS overshoot_tokens
        FROM cum JOIN thr ON cum.source = thr.source AND cum.b = thr.thr_b
        ORDER BY cum.source""")),

    // --------------- curation filter-funnel audit: the standard pre-model
    // filter chain (min length -> min words -> sane avg word length -> low
    // digit fraction) applied CUMULATIVELY, reporting survivors and
    // surviving token mass after each stage — the first dashboard any
    // curation run looks at (where did my corpus go?). All predicates are
    // exact integer comparisons on one projected row (no explode, no
    // per-stage pass): the doc explodes into 4 tiny (stage, pass) structs
    // and ONE map-side-combined aggregation produces the 4-row funnel.
    // 100-TB shape: single corpus scan, whole-stage codegen, 4-row result.
    QueryDef("q57_filter_funnel",
      (s, d) => {
        val nw = size(words(col("text"))).cast("long")
        val ndig = (col("n_chars") -
          length(regexp_replace(col("text"), "[0-9]", ""))).cast("long")
        val base = T.load(s, d, "documents")
          .select(col("n_chars"), nw.as("nw"), ndig.as("ndig"))
        val p1 = col("n_chars") >= 100L
        val p2 = p1 && col("nw") >= 20L
        val p3 = p2 && col("n_chars") >= col("nw") * 2 &&
          col("n_chars") <= col("nw") * 10
        val p4 = p3 && col("ndig") * 5 < col("n_chars")
        val stages = Seq("1_minlen" -> p1, "2_minwords" -> p2,
          "3_wordshape" -> p3, "4_digits" -> p4)
        base.select(explode(array(stages.map { case (n, p) =>
            struct(lit(n).as("stage"), p.cast("long").as("pass"),
              when(p, col("nw")).otherwise(0L).as("tok"))
          }: _*)).as("st"))
          .groupBy(col("st.stage").as("stage"))
          .agg(sum(col("st.pass")).as("n_pass"),
            sum(col("st.tok")).as("tokens_pass"))
          .orderBy(col("stage"))
      },
      Some("""WITH b AS (SELECT n_chars,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
          CAST(n_chars - len(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS ndig
        FROM documents),
        p AS (SELECT nw,
          CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END AS p1,
          CASE WHEN n_chars >= 100 AND nw >= 20 THEN 1 ELSE 0 END AS p2,
          CASE WHEN n_chars >= 100 AND nw >= 20 AND n_chars >= nw * 2
            AND n_chars <= nw * 10 THEN 1 ELSE 0 END AS p3,
          CASE WHEN n_chars >= 100 AND nw >= 20 AND n_chars >= nw * 2
            AND n_chars <= nw * 10 AND ndig * 5 < n_chars THEN 1 ELSE 0 END AS p4
        FROM b),
        u AS (
          SELECT '1_minlen' AS stage, CAST(sum(p1) AS BIGINT) AS n_pass,
            CAST(sum(p1 * nw) AS BIGINT) AS tokens_pass FROM p
          UNION ALL SELECT '2_minwords', CAST(sum(p2) AS BIGINT),
            CAST(sum(p2 * nw) AS BIGINT) FROM p
          UNION ALL SELECT '3_wordshape', CAST(sum(p3) AS BIGINT),
            CAST(sum(p3 * nw) AS BIGINT) FROM p
          UNION ALL SELECT '4_digits', CAST(sum(p4) AS BIGINT),
            CAST(sum(p4 * nw) AS BIGINT) FROM p)
        SELECT stage, n_pass, tokens_pass FROM u ORDER BY stage""")),

    // --------------- sequence-packing audit (concat-and-chunk, L=512):
    // docs concatenate in doc_id order and split into fixed 512-token
    // training sequences; the audit reports sequences produced, docs split
    // across a sequence boundary (they lose coherence) and padding waste.
    // Packing is SEQUENTIAL, so the scale unit is the shard (doc_id >> 8 —
    // production packs per input file): each (source, shard) packs
    // independently and in parallel, the cumsum window runs over bounded
    // shard partitions (never a whole source), and per-source totals are an
    // ordinary second aggregation. Boundary test is pure modular
    // arithmetic (before % L + t > L), sequence count is a shift
    // ((st + 511) >> 9) — every number exact on both engines.
    QueryDef("q58_packing_stats",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val base = T.load(s, d, "documents")
          .select(col("source"), shiftright(col("doc_id"), 8).as("shard"),
            col("doc_id"), size(words(col("text"))).cast("long").as("t"))
        val w = Window.partitionBy("source", "shard").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        val c = base
          .withColumn("before", coalesce(sum(col("t")).over(w), lit(0L)))
          .withColumn("crosses",
            (pmod(col("before"), lit(512L)) + col("t") > 512L).cast("long"))
        val sh = c.groupBy(col("source"), col("shard"))
          .agg(count(lit(1)).as("nd"), sum(col("t")).as("st"),
            sum(col("crosses")).as("nsplit"))
        sh.groupBy(col("source"))
          .agg(sum(col("nd")).as("n_docs"),
            sum(col("st")).as("total_tokens"),
            sum(shiftright(col("st") + 511L, 9)).as("n_sequences"),
            sum(col("nsplit")).as("n_split_docs"),
            (sum(shiftright(col("st") + 511L, 9)) * 512 - sum(col("st")))
              .as("pad_tokens"))
          .orderBy(col("source"))
      },
      Some("""WITH b AS (SELECT source, doc_id >> 8 AS shard, doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS t
        FROM documents),
        c AS (SELECT source, shard, t,
          COALESCE(CAST(sum(t) OVER (PARTITION BY source, shard
            ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            AS BIGINT), 0) AS before
        FROM b),
        sh AS (SELECT source, shard, count(*) AS nd,
          CAST(sum(t) AS BIGINT) AS st,
          CAST(sum(CASE WHEN (before % 512) + t > 512 THEN 1 ELSE 0 END)
            AS BIGINT) AS nsplit
        FROM c GROUP BY source, shard)
        SELECT source, CAST(sum(nd) AS BIGINT) AS n_docs,
          CAST(sum(st) AS BIGINT) AS total_tokens,
          CAST(sum((st + 511) >> 9) AS BIGINT) AS n_sequences,
          CAST(sum(nsplit) AS BIGINT) AS n_split_docs,
          CAST(sum((st + 511) >> 9) AS BIGINT) * 512
            - CAST(sum(st) AS BIGINT) AS pad_tokens
        FROM sh GROUP BY source ORDER BY source""")),

    // --------------- cross-source overlap matrix: for every source pair,
    // how many distinct word-8-grams they share — the inter-corpus
    // contamination dashboard (is src_web a superset of src_books?) that
    // sits above q50's corpus-vs-evalset check. Scale shape: per-doc gram
    // dedup is row-local; the gram-keyed aggregation (the table's ONLY
    // exchange) folds each gram's source list into a SET BOUNDED BY THE
    // SOURCE COUNT (tens) — NEVER a self-join on the gram table, so a
    // popular gram costs O(S) state, not O(S^2) join rows — and only the
    // ≤ S^2/2 pair rows ever leave the aggregation. The oracle replays the
    // same matrix via the equivalent (and small-data-safe) gram self-join.
    QueryDef("q60_source_overlap",
      (s, d) => {
        val docs = T.load(s, d, "documents")
        val ws = words(col("text"))
        // per-doc gram dedup is row-local (array_distinct); the cross-doc
        // (source, gram) dedup the old `.distinct()` exchange paid for is
        // already subsumed by collect_set below — sets are duplicate-
        // insensitive and partial collect_set dedups map-side — so the
        // gram-keyed aggregation is the ONLY shuffle of the gram table.
        val grams = docs.select(col("source"),
          explode(array_distinct(wordGrams(ws, 8))).as("gram"))
        grams.groupBy(col("gram"))
          .agg(sort_array(collect_set(col("source"))).as("ss"))
          .filter(size(col("ss")) >= 2)
          .select(explode(flatten(transform(col("ss"), a =>
              transform(filter(col("ss"), b => b > a),
                b => struct(a.as("source_a"), b.as("source_b")))))).as("p"))
          .groupBy(col("p.source_a").as("source_a"),
            col("p.source_b").as("source_b"))
          .agg(count(lit(1)).as("shared_grams"))
          .orderBy(col("source_a"), col("source_b"))
      },
      Some("""WITH g AS (SELECT DISTINCT source, unnest(list_transform(
            generate_series(1, greatest(len(string_split(text, ' ')) - 7, 0)),
            i -> array_to_string(list_slice(string_split(text, ' '), i, i + 7), ' '))) AS gram
          FROM documents),
        p AS (SELECT a.source AS source_a, b.source AS source_b
          FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source)
        SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS shared_grams
        FROM p GROUP BY 1, 2 ORDER BY 1, 2""")),

    // --------------- filter-threshold calibration sweep: the survival
    // curve (docs + tokens surviving) over a grid of stopword-ratio
    // thresholds, the artifact a curation team reads before committing a
    // quality cutoff. Scale shape: the corpus is aggregated ONCE into a
    // <= 1001-row score histogram (score = stopword per-mille, an exact
    // integer); the grid sweep then runs conditional aggs over that tiny
    // histogram — NOT an explode-by-grid over the corpus, which would
    // scan |grid| x 100 TB. Adding a threshold to the grid costs zero
    // additional corpus work.
    QueryDef("q61_threshold_sweep",
      (s, d) => {
        val ws = words(col("text"))
        val score = floor(
          size(filter(ws, w => w.isin(stopwords: _*))) * 1000 / size(ws))
          .cast("long")
        val hist = T.load(s, d, "documents")
          .select(score.as("score"), size(ws).cast("long").as("t"))
          .groupBy(col("score"))
          .agg(count(lit(1)).as("nd"), sum(col("t")).as("nt"))
        val grid = (0 to 400 by 50).map(lit(_))
        hist.select(explode(array(grid: _*)).as("threshold"),
            col("score"), col("nd"), col("nt"))
          .groupBy(col("threshold"))
          .agg(sum(when(col("score") >= col("threshold"), col("nd"))
              .otherwise(0L)).as("n_docs_surviving"),
            sum(when(col("score") >= col("threshold"), col("nt"))
              .otherwise(0L)).as("n_tokens_surviving"))
          .orderBy(col("threshold"))
      },
      Some("""WITH h AS (SELECT
          CAST(floor(len(list_filter(string_split(text, ' '),
              w -> w IN ('the','a','of','and','in','to','is'))) * 1000
            / len(string_split(text, ' '))) AS BIGINT) AS score,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS t
        FROM documents),
        hist AS (SELECT score, count(*) AS nd, CAST(sum(t) AS BIGINT) AS nt
          FROM h GROUP BY score),
        grid AS (SELECT unnest(generate_series(0, 400, 50)) AS threshold)
        SELECT CAST(threshold AS INT) AS threshold,
          CAST(sum(CASE WHEN score >= threshold THEN nd ELSE 0 END) AS BIGINT)
            AS n_docs_surviving,
          CAST(sum(CASE WHEN score >= threshold THEN nt ELSE 0 END) AS BIGINT)
            AS n_tokens_surviving
        FROM grid CROSS JOIN hist GROUP BY 1 ORDER BY 1""")),

    // --------------- winnowing-style fingerprint sampling (Schleimer,
    // Wilkerson, Aiken 2003): per token position, the word's md5-derived
    // hash; a position is SELECTED when its hash is the minimum of the
    // trailing w=4 window — a deterministic locality-sensitive sample
    // whose density concentrates near 1/w, giving a plagiarism-index-
    // style sketch at a fraction of the full fingerprint set. Scale
    // shape: vocabulary-hash broadcast (same dict as q25/q26) + ONE
    // window pass per doc partition + per-source conditional aggs — no
    // shuffle beyond the doc-keyed sort and final tiny rollup.
    QueryDef("q62_winnow_sample",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = T.load(s, d, "documents")
        val dict = Dedup.hashedDict(docs)
          .select(col("wd"), col("h1").as("wh"))
        val w = Window.partitionBy("doc_id").orderBy("pos")
          .rowsBetween(-3, 0)
        val sel = docs
          .select(col("doc_id"), col("source"),
            posexplode(words(col("text"))).as(Seq("pos", "wd")))
          .join(broadcast(dict), Seq("wd"))
          .withColumn("wmin", min(col("wh")).over(w))
          .withColumn("selected", (col("wh") === col("wmin")).cast("long"))
        sel.groupBy(col("source"))
          .agg(count(lit(1)).as("n_positions"),
            sum(col("selected")).as("n_selected"),
            countDistinct(when(col("selected") === 1L, col("wh")))
              .as("n_distinct_sel_hashes"))
          .orderBy(col("source"))
      },
      Some("""WITH p AS (SELECT doc_id, source, pos, wd
          FROM (SELECT doc_id, source,
            unnest(string_split(text, ' ')) AS wd,
            unnest(generate_series(0, len(string_split(text, ' ')) - 1)) AS pos
          FROM documents)),
        h AS (SELECT doc_id, source, pos,
          CAST('0x' || substring(md5(wd), 1, 15) AS BIGINT) AS wh FROM p),
        m AS (SELECT doc_id, source, wh,
          CASE WHEN wh = min(wh) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) THEN 1 ELSE 0 END
            AS selected
          FROM h)
        SELECT source, count(*) AS n_positions,
          CAST(sum(selected) AS BIGINT) AS n_selected,
          count(DISTINCT CASE WHEN selected = 1 THEN wh END)
            AS n_distinct_sel_hashes
        FROM m GROUP BY source ORDER BY source"""))
  ) :+ frameSample


  private def markersRank(l: String): Int =
    markers.keys.toSeq.sorted.indexOf(l)

  /** DuckDB mirror of the argmax-by-(score, rank) language pick. */
  private lazy val langIdOracle: String = {
    val scoreExprs = markers.toSeq.sortBy(_._1).map { case (l, vocab) =>
      val inList = vocab.map(v => s"'$v'").mkString(",")
      s"len(list_filter(string_split(text, ' '), w -> w IN ($inList))) AS score_$l"
    }.mkString(",\n          ")
    val langs = markers.keys.toSeq.sorted
    val maxExpr = s"greatest(${langs.map(l => s"score_$l").mkString(", ")})"
    // ties resolve to the alphabetically-LAST language (same as the Spark
    // side's greatest-over-(score, rank) structs) => CASE in reverse order
    val caseExpr = langs.reverse.init.map(l =>
      s"WHEN score_$l = m THEN '$l'").mkString(" ")
    s"""WITH s AS (SELECT lang,
          $scoreExprs
        FROM documents),
        p AS (SELECT lang, $maxExpr AS m,
          CASE $caseExpr ELSE '${langs.head}' END AS pred_lang FROM s)
        SELECT lang, pred_lang, count(*) AS n
        FROM p GROUP BY lang, pred_lang ORDER BY lang, pred_lang"""
  }
}
