package graft.operators

import graft.core.Checkpoints._
import graft.{Query, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table: token counting,
  * per-language stats, quality scoring, fingerprinting, and a heuristic
  * n-gram/stopword language-ID — the building blocks a large-scale
  * training-data pipeline runs before dedup/filtering.
  *
  * Everything stays inside whole-stage codegen: tokenization is
  * `split`, per-token work uses higher-order array functions
  * (`transform`/`filter`/`aggregate`), no UDFs in the hot path. At 100 TB
  * these are embarrassingly parallel map-side operators — no shuffle at
  * all except the final small aggregations.
  */
object TextAnalysis {

  private def docs(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.loadBalanced(s, dir, "documents")

  // -- q30: token counting --------------------------------------------------
  val q30 = Query.sql(
    "q30_doc_tokens",
    (s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        length(col("text")).cast("long").as("len_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("n_unique"))
        .orderBy("doc_id"),
    """SELECT doc_id, LENGTH(text) AS len_chars,
      |  len(string_split(text, ' ')) AS n_tokens,
      |  len(list_distinct(string_split(text, ' '))) AS n_unique
      |FROM documents ORDER BY doc_id""".stripMargin)

  // -- q31: per-language stats ----------------------------------------------
  val q31 = Query.sql(
    "q31_lang_stats",
    (s, dir) =>
      docs(s, dir).groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy("lang"),
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
      |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)

  // -- q32: quality scoring (length/stopword/uniqueness ratios) -------------
  //   The score mirrors heuristic quality filters in web-scale corpus
  //   cleaning: stopword presence and vocabulary diversity.
  val q32 = Query.sql(
    "q32_quality_score",
    (s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        expr("size(split(text, ' '))").cast("long").as("n_tokens"),
        expr("size(filter(split(text, ' '), w -> w IN ('the', 'a')))")
          .cast("long").as("n_stopwords"),
        expr("""CAST(size(filter(split(text, ' '), w -> w IN ('the', 'a'))) AS DOUBLE)
               | / size(split(text, ' '))""".stripMargin).as("stopword_ratio"),
        expr("""CAST(size(array_distinct(split(text, ' '))) AS DOUBLE)
               | / size(split(text, ' '))""".stripMargin).as("uniq_ratio"))
        .withColumn("quality",
          col("stopword_ratio") * lit(0.5) + col("uniq_ratio") * lit(0.5))
        .orderBy("doc_id"),
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS n_tokens,
      |  len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a')))
      |    AS n_stopwords,
      |  CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a')))
      |    AS DOUBLE) / len(string_split(text, ' ')) AS stopword_ratio,
      |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |    / len(string_split(text, ' ')) AS uniq_ratio,
      |  CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a')))
      |    AS DOUBLE) / len(string_split(text, ' ')) * 0.5
      |  + CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |    / len(string_split(text, ' ')) * 0.5 AS quality
      |FROM documents ORDER BY doc_id""".stripMargin)

  // -- q33: document fingerprinting (content hash) --------------------------
  val q33 = Query.sql(
    "q33_fingerprint",
    (s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        md5(col("text")).as("fp"),
        substring(md5(col("text")), 1, 4).as("fp_bucket"))
        .orderBy("doc_id"),
    """SELECT doc_id, md5(text) AS fp, SUBSTRING(md5(text), 1, 4) AS fp_bucket
      |FROM documents ORDER BY doc_id""".stripMargin)

  // -- q34: heuristic language ID (stopword-hit argmax) ---------------------
  //   Same deterministic scoring logic on both engines; demonstrates the
  //   langid operator shape (tokenize → per-language evidence → argmax).
  val q34 = Query.sql(
    "q34_langid",
    (s, dir) =>
      docs(s, dir).select(col("doc_id"), col("lang"),
          expr("""CASE
            |  WHEN size(filter(split(text, ' '), w -> w IN ('the', 'a'))) >
            |       size(filter(split(text, ' '), w -> w IN ('data', 'table')))
            |    THEN 'en_stopword'
            |  WHEN size(filter(split(text, ' '), w -> w IN ('data', 'table'))) > 0
            |    THEN 'tech_jargon'
            |  ELSE 'unknown'
            |END""".stripMargin).as("predicted"))
        .groupBy("lang", "predicted")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted"),
    """SELECT lang, predicted, COUNT(*) AS n FROM (
      |  SELECT lang, CASE
      |    WHEN len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) >
      |         len(list_filter(string_split(text, ' '), w -> w IN ('data', 'table')))
      |      THEN 'en_stopword'
      |    WHEN len(list_filter(string_split(text, ' '), w -> w IN ('data', 'table'))) > 0
      |      THEN 'tech_jargon'
      |    ELSE 'unknown'
      |  END AS predicted
      |  FROM documents)
      |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin)

  // -- q36: corpus token frequency ------------------------------------------
  val q36 = Query.sql(
    "q36_token_freq",
    (s, dir) =>
      docs(s, dir)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word")
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("word"))
        .limit(50),
    """SELECT word, COUNT(*) AS n FROM (
      |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |GROUP BY word ORDER BY n DESC, word LIMIT 50""".stripMargin)

  // -- q37: character n-gram profile (the langid building block) ------------
  val q37 = Query.sql(
    "q37_char_trigrams",
    (s, dir) =>
      docs(s, dir)
        .select(explode(expr(
          "transform(sequence(1, greatest(length(text) - 2, 1)), i -> substring(text, i, 3))"))
          .as("trigram"))
        .groupBy("trigram")
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("trigram"))
        .limit(30),
    """SELECT trigram, COUNT(*) AS n FROM (
      |  SELECT unnest(list_transform(generate_series(1, greatest(LENGTH(text) - 2, 1)),
      |    i -> substring(text, i, 3))) AS trigram
      |  FROM documents)
      |GROUP BY trigram ORDER BY n DESC, trigram LIMIT 30""".stripMargin)

  // -- q38: text normalization (the cleaning pass before dedup) -------------
  val q38 = Query.sql(
    "q38_normalize",
    (s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
          " +", " ").as("norm_text"))
        .select(col("doc_id"), md5(col("norm_text")).as("norm_fp"),
          length(col("norm_text")).cast("long").as("norm_len"))
        .orderBy("doc_id"),
    """SELECT doc_id, md5(norm_text) AS norm_fp, LENGTH(norm_text) AS norm_len
      |FROM (SELECT doc_id,
      |        regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
      |          ' +', ' ', 'g') AS norm_text
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin)

  // -- q39: sequence packing (concat-and-chunk into token budgets) ----------
  //   The pretraining data-prep op: documents are laid end-to-end per
  //   language (deterministic doc_id order) and chunked into 2048-token
  //   context windows; a document's window is its exclusive prefix-sum of
  //   tokens divided by the budget. One window computation, all integer
  //   arithmetic — identical on both engines.
  val q39 = Query.sql(
    "q39_pack_sequences",
    (s, dir) => {
      val budget = 2048
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      docs(s, dir)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("prefix_tokens",
          coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .withColumn("window_id", (col("prefix_tokens") / budget).cast("long"))
        .groupBy("lang", "window_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .orderBy("lang", "window_id")
    },
    """WITH toks AS (
      |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
      |  FROM documents),
      |packed AS (
      |  SELECT lang,
      |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      // 2048 AS BIGINT) AS window_id,
      |    n_tokens
      |  FROM toks)
      |SELECT lang, window_id, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
      |FROM packed GROUP BY lang, window_id ORDER BY lang, window_id""".stripMargin)

  // -- q75: BPE-ish regex tokenizer -----------------------------------------
  //   GPT-2-style pre-tokenization shape: letter runs | digit runs | single
  //   punctuation, via regexp_extract_all (codegen'd, no UDF). Runs over
  //   events.props (JSON strings) because that column actually mixes all
  //   three classes. Identical regex semantics in DuckDB's RE2 for this
  //   class-only pattern.
  val q75 = Query.sql(
    "q75_regex_tokens",
    (s, dir) => {
      val pieces = expr("""regexp_extract_all(props, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)""")
      Tables.load(s, dir, "events")
        .select(col("event_type"), pieces.as("pieces"))
        .select(col("event_type"),
          size(col("pieces")).cast("long").as("n_pieces"),
          size(filter(col("pieces"), p => p.rlike("^[0-9]+$"))).cast("long").as("n_digit"),
          size(filter(col("pieces"), p => p.rlike("^[a-z]+$"))).cast("long").as("n_alpha"))
        .groupBy("event_type")
        .agg(sum(col("n_pieces")).cast("long").as("total_pieces"),
          sum(col("n_digit")).cast("long").as("digit_pieces"),
          sum(col("n_alpha")).cast("long").as("alpha_pieces"))
        .orderBy("event_type")
    },
    """WITH p AS (
      |  SELECT event_type,
      |    regexp_extract_all(props, '[a-z]+|[0-9]+|[^a-z0-9 ]') AS pieces
      |  FROM events)
      |SELECT event_type,
      |  CAST(SUM(len(pieces)) AS BIGINT) AS total_pieces,
      |  CAST(SUM(len(list_filter(pieces, x -> regexp_matches(x, '^[0-9]+$'))))
      |    AS BIGINT) AS digit_pieces,
      |  CAST(SUM(len(list_filter(pieces, x -> regexp_matches(x, '^[a-z]+$'))))
      |    AS BIGINT) AS alpha_pieces
      |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin)

  // -- q76: rolling-hash document fingerprint -------------------------------
  //   Polynomial rolling hash over the character stream (base 31 mod 1e9+7)
  //   — the incremental-update fingerprint family (Rabin-Karp) used for
  //   chunk-level dedup; doc-level here. One sequential fold per document,
  //   map-side only. acc*31 + code stays < 2^35: no overflow under ANSI.
  val q76 = Query.sql(
    "q76_rolling_fingerprint",
    (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          expr("""aggregate(split(text, ''), CAST(0 AS BIGINT),
            |  (acc, c) -> (acc * 31 + ascii(c)) % 1000000007)""".stripMargin)
            .as("fingerprint"))
        .orderBy("doc_id"),
    """SELECT doc_id,
      |  list_reduce([CAST(0 AS BIGINT)] || list_transform(string_split(text, ''),
      |    c -> CAST(ascii(c) AS BIGINT)),
      |    (acc, c) -> (acc * 31 + c) % 1000000007) AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin)

  // -- q79: overlapping token chunks ----------------------------------------
  //   Fixed-size token windows with stride < size (64-token chunks, stride
  //   48 → 16-token overlap) — the chunker for retrieval corpora and
  //   long-document pretraining. Pure map-side explode; each chunk carries
  //   a digest so downstream chunk-level dedup needs no text.
  val q79 = Query.sql(
    "q79_chunk_overlap",
    (s, dir) => {
      val t = split(col("text"), " ")
      docs(s, dir)
        .select(col("doc_id"), t.as("t"))
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("t")), lit(48)),
            st => struct(
              ((st - 1) / 48).cast("long").as("chunk_no"),
              size(slice(col("t"), st, lit(64))).cast("long").as("n_tokens"),
              md5(concat_ws(" ", slice(col("t"), st, lit(64)))).as("digest"))))
            .as("c"))
        .select(col("doc_id"), col("c.chunk_no"), col("c.n_tokens"), col("c.digest"))
        .orderBy("doc_id", "chunk_no")
    },
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |st AS (SELECT doc_id, t, unnest(generate_series(1, len(t), 48)) AS s
      |       FROM d)
      |SELECT doc_id, CAST((s - 1) // 48 AS BIGINT) AS chunk_no,
      |  CAST(len(t[s:s+63]) AS BIGINT) AS n_tokens,
      |  md5(array_to_string(t[s:s+63], ' ')) AS digest
      |FROM st ORDER BY doc_id, chunk_no""".stripMargin)

  // -- q26: sequence-length histogram (power-of-two buckets) ----------------
  //   Batch planning for training: how many docs land in each context-size
  //   bucket, per language. The bucket is the highest power of two ≤
  //   n_tokens, computed as bit-length (length of the binary string) — pure
  //   integer arithmetic, identical in DuckDB, no float log2.
  val q26 = Query.sql(
    "q26_length_histogram",
    (s, dir) =>
      docs(s, dir)
        .select(col("lang"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("bucket_lo",
          call_function("shiftleft", lit(1L),
            (length(call_function("bin", col("n_tokens"))) - 1).cast("int")))
        .groupBy("lang", "bucket_lo")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
        .orderBy("lang", "bucket_lo"),
    """WITH t AS (
      |  SELECT lang, len(string_split(text, ' ')) AS n_tokens FROM documents)
      |SELECT lang,
      |  CAST(1 << (length(bin(n_tokens)) - 1) AS BIGINT) AS bucket_lo,
      |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
      |FROM t GROUP BY lang, bucket_lo ORDER BY lang, bucket_lo""".stripMargin)

  /** Adjacent-token bigrams of a token-array column; empty for one-token
    * docs (Spark's `sequence(1, 0)` counts DOWN, so the guard is load-
    * bearing — DuckDB's `generate_series(1, 0)` is already empty).
    */
  private def bigramsExpr(t: String): String =
    s"""IF(size($t) < 2, array(),
       |  transform(sequence(1, size($t) - 1),
       |    i -> concat(element_at($t, i), ' ', element_at($t, i + 1))))""".stripMargin

  // -- q35: collocation mining (top bigrams with integer-exact lift) --------
  //   lift = count(ab) * total_tokens / (count(a) * count(b)): one
  //   correctly-rounded double division over exact int64 products, so both
  //   engines agree bit-for-bit — no log/PMI float chains.
  val q35 = Query.sql(
    "q35_collocations",
    (s, dir) => {
      // ONE tokenization pass produces unigrams and bigrams together as
      // (kind, gram) pairs — the corpus scan + explode shuffle happen once
      // instead of twice. The split array is bound as a lambda variable
      // (`transform(array(split(..)), t -> ...)`) so projection collapse
      // cannot re-inline the split per element. The aggregated gram table
      // is vocabulary-sized (tiny vs corpus at any scale) — cache it; the
      // token total, top-30 bigrams and unigram lookups all derive from it
      // without touching the documents again.
      val grams = docs(s, dir).select(explode(expr(
        """flatten(transform(array(split(text, ' ')), t ->
          |  concat(
          |    transform(t, w -> named_struct('k', 0, 'g', w)),
          |    IF(size(t) < 2, array(),
          |      transform(sequence(1, size(t) - 1), i -> named_struct(
          |        'k', 1,
          |        'g', concat(element_at(t, i), ' ', element_at(t, i + 1))))))))
          |""".stripMargin)).as("p"))
        .select(col("p.k").as("k"), col("p.g").as("g"))
      // Cache the vocabulary-sized gram table only for the duration of the
      // three bounded collects below (total, top-30, ≤60 word counts), then
      // unpersist — q53/q55 pattern; a cache that outlives its query pins
      // executor memory for the whole session. Everything collected is
      // constant-size at any corpus scale, so the driver sets stay bounded.
      val counts = grams.groupBy("k", "g").agg(count(lit(1)).as("c")).cache()
      try {
        val total = counts.filter(col("k") === 0)
          .agg(sum(col("c")).cast("long")).first().getLong(0)
        val top = counts.filter(col("k") === 1)
          .orderBy(desc("c"), asc("g")).limit(30)
          .select(col("g"), col("c")).collect()
          .map(r => (r.getString(0), r.getLong(1)))
        val words = top.flatMap(_._1.split(" ", 2)).distinct.toSeq
        val wordCount = counts
          .filter(col("k") === 0 && col("g").isin(words: _*))
          .select(col("g"), col("c")).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        import s.implicits._
        top.toSeq.map { case (bigram, cab) =>
          val Array(wa, wb) = bigram.split(" ", 2)
          // long product cast to double, divided by a long product — the
          // same single correctly-rounded division both engines perform.
          (bigram, cab, (cab * total).toDouble / (wordCount(wa) * wordCount(wb)))
        }.toDF("bigram", "cab", "lift")
          .orderBy(desc("cab"), asc("bigram"))
      } finally counts.unpersist()
    },
    """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
      |total AS (SELECT CAST(SUM(len(t)) AS BIGINT) AS n FROM toks),
      |uni AS (
      |  SELECT unnest(t) AS w FROM toks),
      |cw AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
      |bi AS (
      |  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
      |    i -> t[i] || ' ' || t[i + 1])) AS bigram
      |  FROM toks),
      |top AS (
      |  SELECT bigram, COUNT(*) AS cab FROM bi GROUP BY bigram
      |  ORDER BY cab DESC, bigram LIMIT 30)
      |SELECT bigram, cab,
      |  CAST(cab * total.n AS DOUBLE) / (a.c * b.c) AS lift
      |FROM top CROSS JOIN total
      |JOIN cw a ON a.w = string_split(bigram, ' ')[1]
      |JOIN cw b ON b.w = string_split(bigram, ' ')[2]
      |ORDER BY cab DESC, bigram""".stripMargin)

  // -- q87: repetition quality signals (Gopher-style) -----------------------
  //   Two of the standard web-corpus repetition filters: the duplicate-
  //   token fraction (1 − distinct/total) and the fraction of bigram slots
  //   taken by the single most frequent bigram. Per-doc token stats are
  //   map-side; only (doc_id, bigram) pairs shuffle, with map-side combine.
  val q87 = Query.sql(
    "q87_repetition_signals",
    (s, dir) => {
      val base = docs(s, dir).select(col("doc_id"),
        split(col("text"), " ").as("t"))
      val stats = base.select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        size(array_distinct(col("t"))).cast("long").as("n_distinct"))
      val topBigram = base
        .select(col("doc_id"), explode(expr(bigramsExpr("t"))).as("bigram"))
        .groupBy("doc_id", "bigram").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max(col("c")).as("top_bigram_cnt"))
      stats.join(topBigram, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          ((col("n_tokens") - col("n_distinct")).cast("double") / col("n_tokens"))
            .as("dup_token_frac"),
          when(col("n_tokens") > 1,
            coalesce(col("top_bigram_cnt"), lit(0L)).cast("double")
              / (col("n_tokens") - 1)).otherwise(lit(0.0))
            .as("top_bigram_frac"))
        .orderBy("doc_id")
    },
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |stats AS (
      |  SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_distinct
      |  FROM d),
      |bi AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
      |    i -> t[i] || ' ' || t[i + 1])) AS bigram
      |  FROM d),
      |top AS (
      |  SELECT doc_id, MAX(c) AS top_bigram_cnt FROM (
      |    SELECT doc_id, bigram, COUNT(*) AS c FROM bi GROUP BY doc_id, bigram)
      |  GROUP BY doc_id)
      |SELECT s.doc_id, n_tokens,
      |  CAST(n_tokens - n_distinct AS DOUBLE) / n_tokens AS dup_token_frac,
      |  CASE WHEN n_tokens > 1
      |    THEN CAST(COALESCE(top_bigram_cnt, 0) AS DOUBLE) / (n_tokens - 1)
      |    ELSE 0.0 END AS top_bigram_frac
      |FROM stats s LEFT JOIN top USING (doc_id)
      |ORDER BY doc_id""".stripMargin)

  // -- q98: BPE pair statistics (the inner step of tokenizer training) ------
  //   The merge a BPE trainer would pick next: adjacent character pairs
  //   weighted by corpus word frequency. The corpus-scale half of tokenizer
  //   induction — the merge LOOP runs on the aggregated vocabulary
  //   (operators.BpeTrainer); this query is its first iteration, verified
  //   value-exact. Pure integer counting, top-10 by weight with a
  //   lexicographic tie-break.
  val q98 = Query.sql(
    "q98_bpe_pairs",
    (s, dir) => {
      val vocab = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
        .filter(length(col("w")) >= 2)
      vocab
        .select(col("n"), explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
        .groupBy("pair").agg(sum(col("n")).as("pair_count"))
        .orderBy(desc("pair_count"), asc("pair"))
        .limit(10)
    },
    """WITH vocab AS (
      |  SELECT w, COUNT(*) AS n FROM (
      |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  GROUP BY w HAVING LENGTH(w) >= 2),
      |pairs AS (
      |  SELECT n, unnest(list_transform(generate_series(1, LENGTH(w) - 1),
      |    i -> substring(w, i, 2))) AS pair
      |  FROM vocab)
      |SELECT pair, CAST(SUM(n) AS BIGINT) AS pair_count
      |FROM pairs GROUP BY pair ORDER BY pair_count DESC, pair LIMIT 10""".stripMargin)

  // -- q106: vocabulary coverage / OOV rate ---------------------------------
  //   The tokenizer-prep metric: build the corpus top-K vocabulary
  //   (count-desc, token-asc — deterministic ties), then measure each
  //   document's out-of-vocabulary token fraction and aggregate per
  //   language. The vocabulary is K rows however big the corpus, so it
  //   BROADCASTS back to the token stream; the only data-sized shuffles
  //   are the map-side-combined token count and the per-doc regroup.
  val q106 = {
    val D = org.apache.spark.sql.types.DecimalType(18, 6)
    Query.sql(
      "q106_vocab_coverage",
      (s, dir) => {
        val toks = docs(s, dir).select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("w"))
        val vocab = toks.groupBy("w").agg(count(lit(1)).as("c"))
          .orderBy(desc("c"), asc("w")).limit(20)
          .select(col("w"), lit(1).as("in_vocab"))
        val perDoc = toks.join(broadcast(vocab), Seq("w"), "left")
          .groupBy("doc_id", "lang")
          .agg(count(lit(1)).as("n"),
            sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
          .select(col("lang"),
            (col("n_oov").cast("double") / col("n")).as("oov_frac"))
        perDoc.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            (sum(col("oov_frac").cast(D)).cast("double") / count(lit(1)))
              .as("mean_oov_frac"),
            max(col("oov_frac")).as("max_oov_frac"))
          .orderBy("lang")
      },
      """WITH toks AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |vocab AS (
        |  SELECT w FROM toks GROUP BY w
        |  ORDER BY COUNT(*) DESC, w LIMIT 20),
        |perdoc AS (
        |  SELECT doc_id, lang, COUNT(*) AS n,
        |    SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS n_oov
        |  FROM toks t LEFT JOIN vocab v ON t.w = v.w
        |  GROUP BY doc_id, lang),
        |fracs AS (
        |  SELECT lang, CAST(n_oov AS DOUBLE) / n AS oov_frac FROM perdoc)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CAST(oov_frac AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
        |    AS mean_oov_frac,
        |  MAX(oov_frac) AS max_oov_frac
        |FROM fracs GROUP BY lang ORDER BY lang""".stripMargin)
  }

  // -- q116: inverted index build (term → df + posting-list head) -----------
  //   The retrieval-side corpus structure: document frequency per term and
  //   the first 5 postings. Bounded state by construction: ranking inside
  //   the term partition (row_number ≤ 5) feeds a conditional collect_list,
  //   so at most 5 doc ids are ever buffered per term — a viral term with
  //   a billion postings costs the same aggregation state as a rare one.
  //   The window sort and the aggregation share ONE shuffle on the term.
  val q116 = Query.sql(
    "q116_inverted_index",
    (s, dir) => {
      val toks = docs(s, dir).select(col("doc_id"),
        explode(expr("array_distinct(split(text, ' '))")).as("term"))
      val ranked = toks.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("term").orderBy("doc_id")))
      ranked.groupBy("term")
        .agg(count(lit(1)).as("df"),
          array_join(
            transform(
              sort_array(collect_list(when(col("rn") <= 5, col("doc_id")))),
              d => d.cast("string")),
            ",").as("postings_head"))
        .orderBy(desc("df"), asc("term")).limit(30)
    },
    """WITH toks AS (
      |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |ranked AS (
      |  SELECT term, doc_id,
      |    row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
      |  FROM toks)
      |SELECT term, COUNT(*) AS df,
      |  array_to_string(list_sort(list(doc_id) FILTER (WHERE rn <= 5)), ',')
      |    AS postings_head
      |FROM ranked GROUP BY term
      |ORDER BY df DESC, term LIMIT 30""".stripMargin)

  // -- q118: bigram-LM quality score (CCNet-style perplexity proxy) ---------
  //   Train a corpus-level bigram MLE model, then score each document by
  //   the mean probability of its bigrams under that model — the classic
  //   "train a small LM on the corpus, drop documents the model finds
  //   surprising" curation filter (CCNet / Wenzek et al. 2019 use KenLM
  //   perplexity; the mean-probability form keeps the math log-free and
  //   oracle-exact). Scale design: the model is two aggregations — c2 by
  //   (w1,w2), and c1(w1) derived FROM c2 by a second tiny agg, never a
  //   second corpus scan; scoring re-joins bigram occurrences to the model
  //   co-partitioned on the bigram key. Determinism: each probability is
  //   one IEEE division of exact integers, then floor-scaled to a BIGINT
  //   (floor truncates identically in both engines — no decimal rounding
  //   mode in play), so the per-doc sum is order-independent integer math.
  val q118 = Query.sql(
    "q118_lm_score",
    (s, dir) => {
      val bi = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(toks) - 2), " +
            "i -> struct(toks[i] AS w1, toks[i + 1] AS w2))")).as("bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      // Collapse the bigram stream to per-(doc, bigram) counts FIRST and
      // materialize: the model side (c2 → c1) and the scoring join both
      // consume this frame, so the corpus is tokenized ONCE (previously
      // the explode subtree was inlined into both branches = 3 corpus
      // scans), and the scoring join carries one row per distinct bigram
      // per doc instead of one per occurrence.
      val bc = bi.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("bn"))
        .barrier()
      val c2 = bc.groupBy("w1", "w2").agg(sum(col("bn")).as("c2"))
      val c1 = c2.groupBy("w1").agg(sum(col("c2")).as("c1"))
      bc.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
        .select(col("doc_id"), col("bn"),
          expr("bn * CAST(FLOOR(c2 / c1 * 1e15) AS BIGINT)").as("sp"))
        .groupBy("doc_id")
        .agg(sum(col("bn")).as("n_bigrams"), sum(col("sp")).as("ssum"))
        .select(col("doc_id"), col("n_bigrams"),
          expr("CAST(ssum AS DOUBLE) / CAST(n_bigrams AS DOUBLE) / 1e15")
            .as("avg_p"))
        .orderBy("doc_id")
    },
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |biu AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ts) - 1),
      |    i -> {'w1': ts[i], 'w2': ts[i + 1]})) AS bg
      |  FROM toks),
      |bi AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM biu),
      |c2t AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY w1, w2),
      |c1t AS (SELECT w1, SUM(c2) AS c1 FROM c2t GROUP BY w1),
      |scored AS (
      |  SELECT doc_id, CAST(FLOOR(c2 / c1 * 1e15) AS BIGINT) AS sp
      |  FROM bi JOIN c2t USING (w1, w2) JOIN c1t USING (w1))
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  CAST(SUM(sp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e15 AS avg_p
      |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin)

  // -- q144: heavy hitters (tokens above a global frequency share) ----------
  //   The threshold variant of q36: every token whose count exceeds total/k,
  //   with its corpus share — the vocabulary-pruning / stopword-discovery
  //   primitive. Exact plan: one map-side-combined token count (shuffle is
  //   one row per DISTINCT token) plus a one-row total that broadcasts back
  //   for the integer threshold compare (cnt·k > total — no float in the
  //   gate). When the vocabulary itself is too large to shuffle, the
  //   bounded-state Misra–Gries sketch (functions.MisraGries, spec-pinned
  //   guarantees) produces the ≤ k−1 candidate set first and this same
  //   plan verifies exact counts for candidates only.
  val q144 = Query.sql(
    "q144_heavy_hitters",
    (s, dir) => {
      val toks = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("word"))
      val counts = toks.groupBy("word").agg(count(lit(1)).as("cnt"))
      val total = counts.agg(sum(col("cnt")).as("total"))
      counts.crossJoin(broadcast(total))
        .filter(col("cnt") * 200 > col("total"))
        .select(col("word"), col("cnt"),
          (col("cnt").cast("double") / col("total").cast("double"))
            .as("share"))
        .orderBy(desc("cnt"), asc("word"))
    },
    """WITH counts AS (
      |  SELECT word, COUNT(*) AS cnt FROM (
      |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  GROUP BY word),
      |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM counts)
      |SELECT word, cnt,
      |  CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS share
      |FROM counts CROSS JOIN tot
      |WHERE cnt * 200 > total
      |ORDER BY cnt DESC, word""".stripMargin)

  // -- q171: token-overlap F1 scoring (eval-harness primitive) --------------
  //   The SQuAD-style set-F1 between candidate and reference texts, run
  //   table-scale: each doc scored against the next doc of its language
  //   (a deterministic pairing that needs no second table). With distinct
  //   token sets, F1 = 2·PR/(P+R) collapses to 2·|∩| / (|cand| + |ref|) —
  //   one integer division to double per pair. Per-language mean F1 goes
  //   through the DECIMAL accumulator (a raw double sum would be
  //   partition-order-dependent). One shuffle on lang for the lead
  //   window, one for the rollup.
  val q171 = {
    val D = org.apache.spark.sql.types.DecimalType(18, 6)
    Query.sql(
      "q171_token_f1",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy("doc_id")
        val d = docs(s, dir).select(col("doc_id"), col("lang"),
          array_distinct(split(col("text"), " ")).as("toks"))
        val pairs = d
          .withColumn("ref_toks", lead(col("toks"), 1).over(w))
          .filter(col("ref_toks").isNotNull)
          .withColumn("inter",
            size(array_intersect(col("toks"), col("ref_toks"))))
          .withColumn("f1",
            lit(2.0) * col("inter").cast("double") /
              (size(col("toks")) + size(col("ref_toks"))).cast("double"))
        pairs.groupBy("lang")
          .agg(count(lit(1)).as("n_pairs"),
            (sum(col("f1").cast(D)).cast("double") /
              count(lit(1)).cast("double")).as("mean_f1"),
            max(col("f1")).as("max_f1"))
          .orderBy("lang")
      },
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    list_distinct(string_split(text, ' ')) AS toks
        |  FROM documents),
        |p AS (
        |  SELECT lang, toks,
        |    lead(toks) OVER (PARTITION BY lang ORDER BY doc_id) AS ref_toks
        |  FROM d),
        |f AS (
        |  SELECT lang,
        |    CAST(2 AS DOUBLE)
        |      * CAST(len(list_intersect(toks, ref_toks)) AS DOUBLE)
        |      / CAST(len(toks) + len(ref_toks) AS DOUBLE) AS f1
        |  FROM p WHERE ref_toks IS NOT NULL)
        |SELECT lang, COUNT(*) AS n_pairs,
        |  CAST(SUM(CAST(f1 AS DECIMAL(18,6))) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS mean_f1,
        |  MAX(f1) AS max_f1
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin)
  }

  // -- q172: collocation detection by lift (log-free PMI ranking) -----------
  //   "Which word pairs co-occur far more than chance?" — bigram lift
  //   n·c(xy) / (c(x)·c(y)), which orders pairs EXACTLY like PMI
  //   (log is monotone) without a single runtime log, so the ranking is
  //   oracle-exact. One explode pass feeds both the bigram and unigram
  //   counts; the unigram join is a broadcast against the bigram table's
  //   modest survivor set (support ≥ 5 prunes first). All integers until
  //   one exact division.
  val q172 = Query.sql(
    "q172_collocations",
    (s, dir) => {
      val toks = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("ts"))
      val uni = toks.select(explode(col("ts")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cw"))
      val tot = uni.agg(sum(col("cw")).as("n"))
      val bi = toks
        .select(explode(expr(
          """transform(sequence(1, greatest(size(ts) - 1, 1)),
            |  i -> struct(element_at(ts, i) AS w1,
            |    element_at(ts, least(i + 1, size(ts))) AS w2))""".stripMargin))
          .as("b"))
        .filter(col("b.w1") =!= col("b.w2"))
        .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .agg(count(lit(1)).as("cxy")).filter(col("cxy") >= 5)
      bi.join(uni.select(col("w").as("w1"), col("cw").as("cx")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("cw").as("cy")), Seq("w2"))
        .crossJoin(broadcast(tot))
        .select(col("w1"), col("w2"), col("cxy"),
          ((col("n") * col("cxy")).cast("double") /
            (col("cx") * col("cy")).cast("double")).as("lift"))
        .orderBy(desc("lift"), desc("cxy"), asc("w1"), asc("w2"))
        .limit(20)
    },
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts
      |              FROM documents),
      |uni AS (
      |  SELECT w, COUNT(*) AS cw FROM (
      |    SELECT unnest(ts) AS w FROM toks) GROUP BY w),
      |tot AS (SELECT CAST(SUM(cw) AS BIGINT) AS n FROM uni),
      |bi AS (
      |  SELECT b.w1, b.w2, COUNT(*) AS cxy FROM (
      |    SELECT unnest(list_transform(
      |      generate_series(1, greatest(len(ts) - 1, 1)),
      |      i -> {'w1': ts[i], 'w2': ts[least(i + 1, len(ts))]})) AS b
      |    FROM toks) t
      |  WHERE b.w1 <> b.w2
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 5)
      |SELECT w1, w2, cxy,
      |  CAST(n * cxy AS DOUBLE) / CAST(cx * cy AS DOUBLE) AS lift
      |FROM bi
      |JOIN (SELECT w AS w1, cw AS cx FROM uni) u1 USING (w1)
      |JOIN (SELECT w AS w2, cw AS cy FROM uni) u2 USING (w2)
      |CROSS JOIN tot
      |ORDER BY lift DESC, cxy DESC, w1, w2 LIMIT 20""".stripMargin)

  // -- q183: skip-gram pair counts (word2vec data prep) ---------------------
  //   (center, context) co-occurrence counts for window size 2 — the
  //   table embedding training reads. Pairs are built map-side per doc
  //   with an EXPLICIT validity flag per offset (the `least` index clamp
  //   alone would alias edge pairs into the wrong offset and double-count
  //   them); one pair-keyed shuffle with map-side combine does the rest.
  //   Positive offsets only — symmetrizing doubles every count and
  //   changes no ranking.
  val q183 = {
    def off(o: Int, spark: Boolean): String =
      if (spark)
        s"""transform(sequence(1, greatest(size(ts) - $o, 1)), i ->
           |  struct(element_at(ts, i) AS w1,
           |    element_at(ts, least(i + $o, size(ts))) AS w2,
           |    i + $o <= size(ts) AS ok))""".stripMargin
      else
        s"""list_transform(generate_series(1, greatest(len(ts) - $o, 1)), i ->
           |  {'w1': ts[i], 'w2': ts[least(i + $o, len(ts))],
           |   'ok': i + $o <= len(ts)})""".stripMargin
    Query.sql(
      "q183_skipgrams",
      (s, dir) =>
        docs(s, dir)
          .select(split(col("text"), " ").as("ts"))
          .select(explode(expr(
            s"filter(concat(${off(1, true)}, ${off(2, true)}), x -> x.ok)"))
            .as("p"))
          .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(desc("cnt"), asc("w1"), asc("w2"))
          .limit(20),
      s"""WITH toks AS (SELECT string_split(text, ' ') AS ts FROM documents),
         |pairs AS (
         |  SELECT unnest(list_filter(
         |    flatten([${off(1, false)}, ${off(2, false)}]), x -> x.ok)) AS p
         |  FROM toks)
         |SELECT p.w1 AS w1, p.w2 AS w2, COUNT(*) AS cnt
         |FROM pairs GROUP BY 1, 2
         |ORDER BY cnt DESC, w1, w2 LIMIT 20""".stripMargin)
  }

  // -- q188: encoding / mojibake audit --------------------------------------
  //   Per-document character-class census: ASCII, control, replacement
  //   (U+FFFD — the fingerprint of a bad decode), digit and whitespace
  //   counts, plus an ascii_ratio and a mojibake flag. Pure map-side
  //   expression work (regexp_replace length deltas — codegen'd, no UDF);
  //   the per-class patterns are explicit byte-range classes that mean the
  //   same thing to Java regex and RE2. The first gate a 100 TB crawl
  //   passes through before any tokenization.
  val q188 = Query.sql(
    "q188_encoding_audit",
    (s, dir) => {
      def stripped(pat: String) =
        length(col("text")) - length(regexp_replace(col("text"), pat, ""))
      docs(s, dir)
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
          stripped("[^\\x00-\\x7F]").cast("long").as("n_non_ascii"),
          stripped("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]").cast("long")
            .as("n_control"),
          stripped("�").cast("long").as("n_replacement"),
          stripped("[0-9]").cast("long").as("n_digit"))
        .withColumn("ascii_ratio",
          (col("n_chars") - col("n_non_ascii")).cast("double") /
            col("n_chars").cast("double"))
        .withColumn("mojibake",
          col("n_replacement") > 0 || col("n_control") > 0 ||
            col("n_non_ascii") * 2 > col("n_chars"))
        .orderBy("doc_id")
    },
    """SELECT doc_id, LENGTH(text) AS n_chars,
      |  LENGTH(text) - LENGTH(regexp_replace(text, '[^\x00-\x7F]', '', 'g'))
      |    AS n_non_ascii,
      |  LENGTH(text) - LENGTH(regexp_replace(text,
      |    '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS n_control,
      |  LENGTH(text) - LENGTH(regexp_replace(text, '\x{FFFD}', '', 'g'))
      |    AS n_replacement,
      |  LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g'))
      |    AS n_digit,
      |  CAST(LENGTH(regexp_replace(text, '[^\x00-\x7F]', '', 'g')) AS DOUBLE)
      |    / CAST(LENGTH(text) AS DOUBLE) AS ascii_ratio,
      |  LENGTH(text) - LENGTH(regexp_replace(text, '\x{FFFD}', '', 'g')) > 0
      |    OR LENGTH(text) - LENGTH(regexp_replace(text,
      |         '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) > 0
      |    OR (LENGTH(text) - LENGTH(regexp_replace(text, '[^\x00-\x7F]', '',
      |         'g'))) * 2 > LENGTH(text) AS mojibake
      |FROM documents ORDER BY doc_id""".stripMargin)

  // -- q189: Simpson lexical diversity (log-free entropy proxy) -------------
  //   Per document over its token distribution: repeat probability
  //   Σc²/N² (Simpson index), diversity 1−Σc², and the effective
  //   vocabulary size N²/Σc² (the Rényi-2 analogue of perplexity —
  //   exp(H₂) without ever taking a log, so the numbers stay exact
  //   BIGINT rationals until one IEEE division). The token explode is
  //   the only shuffle and it is keyed on doc_id — embarrassingly
  //   parallel at any corpus size.
  val q189 = Query.sql(
    "q189_lexical_diversity",
    (s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          sum(col("c") * col("c")).as("sum_sq"))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          (col("sum_sq").cast("double") /
            (col("n_tokens") * col("n_tokens")).cast("double"))
            .as("simpson"),
          ((col("n_tokens") * col("n_tokens")).cast("double") /
            col("sum_sq").cast("double")).as("effective_vocab"))
        .orderBy("doc_id")
    },
    """WITH c AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |cc AS (SELECT doc_id, tok, COUNT(*) AS c FROM c GROUP BY doc_id, tok)
      |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
      |  COUNT(*) AS n_distinct,
      |  CAST(CAST(SUM(c * c) AS BIGINT) AS DOUBLE) /
      |    CAST(CAST(SUM(c) AS BIGINT) * CAST(SUM(c) AS BIGINT) AS DOUBLE)
      |    AS simpson,
      |  CAST(CAST(SUM(c) AS BIGINT) * CAST(SUM(c) AS BIGINT) AS DOUBLE) /
      |    CAST(CAST(SUM(c * c) AS BIGINT) AS DOUBLE) AS effective_vocab
      |FROM cc GROUP BY doc_id ORDER BY doc_id""".stripMargin)

  // -- q193: Flesch reading-ease scoring -------------------------------------
  //   The classic readability formula from exact integer counts: words
  //   (whitespace tokens), sentences (terminal-punctuation runs, min 1)
  //   and syllables (vowel-group runs — the standard heuristic). All three
  //   are map-side regexp counts (codegen'd, no UDF); the two divisions
  //   are BIGINT÷BIGINT (IEEE-exact) and the final affine combination is
  //   written with identical literals on both engines, so the doubles are
  //   bit-identical. Grade bands via thresholds on that exact value.
  val q193 = Query.sql(
    "q193_readability",
    (s, dir) => {
      docs(s, dir)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_words"),
          greatest(expr("regexp_count(text, '[.!?]+')"), lit(1))
            .cast("long").as("n_sentences"),
          expr("regexp_count(lower(text), '[aeiouy]+')").cast("long")
            .as("n_syllables"))
        .withColumn("flesch",
          lit(206.835) -
            lit(1.015) * (col("n_words").cast("double") /
              col("n_sentences").cast("double")) -
            lit(84.6) * (col("n_syllables").cast("double") /
              col("n_words").cast("double")))
        .withColumn("grade",
          when(col("flesch") >= 70, "easy")
            .when(col("flesch") >= 50, "standard")
            .when(col("flesch") >= 30, "difficult")
            .otherwise("very_difficult"))
        .orderBy("doc_id")
    },
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |  CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
      |    AS n_sentences,
      |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
      |    AS n_syllables,
      |  206.835
      |    - 1.015 * (CAST(len(string_split(text, ' ')) AS DOUBLE) /
      |        CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
      |          AS DOUBLE))
      |    - 84.6 * (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
      |          AS DOUBLE) /
      |        CAST(len(string_split(text, ' ')) AS DOUBLE)) AS flesch,
      |  CASE
      |    WHEN 206.835
      |      - 1.015 * (CAST(len(string_split(text, ' ')) AS DOUBLE) /
      |          CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
      |            AS DOUBLE))
      |      - 84.6 * (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
      |            AS DOUBLE) /
      |          CAST(len(string_split(text, ' ')) AS DOUBLE)) >= 70
      |      THEN 'easy'
      |    WHEN 206.835
      |      - 1.015 * (CAST(len(string_split(text, ' ')) AS DOUBLE) /
      |          CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
      |            AS DOUBLE))
      |      - 84.6 * (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
      |            AS DOUBLE) /
      |          CAST(len(string_split(text, ' ')) AS DOUBLE)) >= 50
      |      THEN 'standard'
      |    WHEN 206.835
      |      - 1.015 * (CAST(len(string_split(text, ' ')) AS DOUBLE) /
      |          CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
      |            AS DOUBLE))
      |      - 84.6 * (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
      |            AS DOUBLE) /
      |          CAST(len(string_split(text, ' ')) AS DOUBLE)) >= 30
      |      THEN 'difficult'
      |    ELSE 'very_difficult' END AS grade
      |FROM documents ORDER BY doc_id""".stripMargin)

  // -- q194: tokenizer fertility by language ---------------------------------
  //   Subword pieces per whitespace word (the "fertility" a tokenizer
  //   team tracks per language — high fertility means the vocab under-
  //   serves that language and its documents cost more context budget).
  //   Uses the q75 GPT-2-style pre-tokenizer as the subword proxy. Both
  //   counts are map-side; one constant-size per-language aggregate; the
  //   ratio is an exact BIGINT division.
  val q194 = Query.sql(
    "q194_tokenizer_fertility",
    (s, dir) => {
      docs(s, dir)
        .select(col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_words"),
          size(expr(
            "regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
            .cast("long").as("n_pieces"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("total_words"),
          sum(col("n_pieces")).as("total_pieces"))
        .withColumn("fertility",
          col("total_pieces").cast("double") /
            col("total_words").cast("double"))
        .orderBy("lang")
    },
    """WITH d AS (
      |  SELECT lang, len(string_split(text, ' ')) AS n_words,
      |    len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))
      |      AS n_pieces
      |  FROM documents)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_words) AS BIGINT) AS total_words,
      |  CAST(SUM(n_pieces) AS BIGINT) AS total_pieces,
      |  CAST(CAST(SUM(n_pieces) AS BIGINT) AS DOUBLE) /
      |    CAST(CAST(SUM(n_words) AS BIGINT) AS DOUBLE) AS fertility
      |FROM d GROUP BY lang ORDER BY lang""".stripMargin)

  // -- q204: corpus datasheet (one-row dataset card) -------------------------
  //   The summary block a dataset card publishes, computed in one pass
  //   plus constant-size side aggregates: doc/token/char totals, exact
  //   duplicate rate, the language distribution flattened to a canonical
  //   string (sorted "lang:count|…" — list outputs would break the
  //   column-hash compare, and a pipe-joined string is what a card
  //   template interpolates anyway), and the dominant source with its
  //   share. Every piece is a tiny aggregate crossed onto one row; the
  //   only data-sized work is the corpus scan itself.
  val q204 = Query.sql(
    "q204_corpus_datasheet",
    (s, dir) => {
      val d = docs(s, dir)
      val base = d.agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
        sum(col("n_chars")).as("total_chars"),
        countDistinct(col("text")).as("n_distinct_texts"),
        countDistinct(col("lang")).as("n_langs"))
      val langDist = d.groupBy("lang").agg(count(lit(1)).as("c"))
        .agg(concat_ws("|",
          sort_array(collect_list(concat(col("lang"), lit(":"), col("c")))))
          .as("lang_dist"))
      val topSrc = d.groupBy("source").agg(count(lit(1)).as("c"))
        .agg(max(struct(col("c").as("c"), col("source").as("s"))).as("b"))
        .select(col("b.s").as("top_source"), col("b.c").as("top_source_docs"))
      base.crossJoin(langDist).crossJoin(topSrc)
        .select(col("n_docs"), col("n_tokens"), col("total_chars"),
          (col("total_chars").cast("double") / col("n_docs").cast("double"))
            .as("avg_chars"),
          ((col("n_docs") - col("n_distinct_texts")).cast("double") /
            col("n_docs").cast("double")).as("dup_rate"),
          col("n_langs"), col("lang_dist"),
          col("top_source"),
          (col("top_source_docs").cast("double") /
            col("n_docs").cast("double")).as("top_source_share"))
    },
    """WITH base AS (
      |  SELECT COUNT(*) AS n_docs,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
      |    CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |    COUNT(DISTINCT text) AS n_distinct_texts,
      |    COUNT(DISTINCT lang) AS n_langs
      |  FROM documents),
      |ld AS (
      |  SELECT string_agg(lang || ':' || c, '|' ORDER BY lang || ':' || c)
      |    AS lang_dist
      |  FROM (SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang)),
      |ts AS (
      |  SELECT source AS top_source, c AS top_source_docs
      |  FROM (SELECT source, COUNT(*) AS c FROM documents GROUP BY source)
      |  ORDER BY c DESC, source DESC LIMIT 1)
      |SELECT n_docs, n_tokens, total_chars,
      |  CAST(total_chars AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avg_chars,
      |  CAST(n_docs - n_distinct_texts AS DOUBLE) / CAST(n_docs AS DOUBLE)
      |    AS dup_rate,
      |  n_langs, lang_dist, top_source,
      |  CAST(top_source_docs AS DOUBLE) / CAST(n_docs AS DOUBLE)
      |    AS top_source_share
      |FROM base CROSS JOIN ld CROSS JOIN ts""".stripMargin)

  // -- q212: cross-lingual vocabulary overlap matrix -------------------------
  //   Pairwise shared-type counts and Jaccard between language
  //   vocabularies — the loanword/script-sharing signal that predicts how
  //   much a shared tokenizer vocabulary can be compacted across
  //   languages. The distinct (lang, token) list is bounded by
  //   Σ|vocab_lang| and materialized once; the self-join is co-partitioned
  //   on the token and per-token quadratic in |langs| (a constant). Output
  //   is C(|langs|,2) rows at any corpus size.
  val q212 = Query.sql(
    "q212_vocab_overlap",
    (s, dir) => {
      val dl = docs(s, dir)
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .distinct()
        .barrier() // bounded (Σ per-lang vocab); read 3×
      val sizes = dl.groupBy("lang").agg(count(lit(1)).as("v"))
      dl.as("a").join(dl.as("b"),
          col("a.tok") === col("b.tok") && col("a.lang") < col("b.lang"))
        .groupBy(col("a.lang").as("lang_a"), col("b.lang").as("lang_b"))
        .agg(count(lit(1)).as("shared"))
        .join(broadcast(sizes).withColumnRenamed("lang", "lang_a")
          .withColumnRenamed("v", "vocab_a"), "lang_a")
        .join(broadcast(sizes).withColumnRenamed("lang", "lang_b")
          .withColumnRenamed("v", "vocab_b"), "lang_b")
        .select(col("lang_a"), col("lang_b"), col("vocab_a"), col("vocab_b"),
          col("shared"),
          (col("shared").cast("double") /
            (col("vocab_a") + col("vocab_b") - col("shared")).cast("double"))
            .as("jaccard"))
        .orderBy("lang_a", "lang_b")
    },
    """WITH raw AS (
      |  SELECT lang, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |dl AS (SELECT DISTINCT lang, tok FROM raw),
      |sz AS (SELECT lang, COUNT(*) AS v FROM dl GROUP BY lang),
      |ov AS (
      |  SELECT a.lang AS lang_a, b.lang AS lang_b, COUNT(*) AS shared
      |  FROM dl a JOIN dl b ON a.tok = b.tok AND a.lang < b.lang
      |  GROUP BY 1, 2)
      |SELECT lang_a, lang_b, sa.v AS vocab_a, sb.v AS vocab_b, shared,
      |  CAST(shared AS DOUBLE) / CAST(sa.v + sb.v - shared AS DOUBLE)
      |    AS jaccard
      |FROM ov JOIN sz sa ON sa.lang = lang_a JOIN sz sb ON sb.lang = lang_b
      |ORDER BY lang_a, lang_b""".stripMargin)

  // -- q222: language-profile cosine (frequency-weighted similarity) ---------
  //   q212 asks "which words do two languages SHARE"; this asks "how
  //   similarly do they USE them": cosine between per-language token-count
  //   vectors. Dot products and norms are BIGINT sums over the token-
  //   co-partitioned join (each factor < 2^53 → exact double conversion);
  //   sqrt and the final division are single IEEE steps with identical
  //   expression text. Output C(|langs|,2) rows at any corpus size.
  val q222 = Query.sql(
    "q222_lang_profile_cosine",
    (s, dir) => {
      val tc = docs(s, dir)
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("lang", "tok").agg(count(lit(1)).as("c"))
        .barrier() // bounded (Σ per-lang vocab); read 3×
      val norms = tc.groupBy("lang")
        .agg(sum(col("c") * col("c")).as("n2"))
      tc.as("a").join(tc.as("b"),
          col("a.tok") === col("b.tok") && col("a.lang") < col("b.lang"))
        .groupBy(col("a.lang").as("lang_a"), col("b.lang").as("lang_b"))
        .agg(sum(col("a.c") * col("b.c")).as("dot"))
        .join(broadcast(norms).withColumnRenamed("lang", "lang_a")
          .withColumnRenamed("n2", "n2a"), "lang_a")
        .join(broadcast(norms).withColumnRenamed("lang", "lang_b")
          .withColumnRenamed("n2", "n2b"), "lang_b")
        .select(col("lang_a"), col("lang_b"), col("dot"),
          (col("dot").cast("double") /
            (sqrt(col("n2a").cast("double")) *
              sqrt(col("n2b").cast("double")))).as("cosine"))
        .orderBy("lang_a", "lang_b")
    },
    """WITH raw AS (
      |  SELECT lang, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |tc AS (SELECT lang, tok, COUNT(*) AS c FROM raw GROUP BY 1, 2),
      |norms AS (
      |  SELECT lang, CAST(SUM(c * c) AS BIGINT) AS n2 FROM tc
      |  GROUP BY lang),
      |dots AS (
      |  SELECT a.lang AS lang_a, b.lang AS lang_b,
      |    CAST(SUM(a.c * b.c) AS BIGINT) AS dot
      |  FROM tc a JOIN tc b ON a.tok = b.tok AND a.lang < b.lang
      |  GROUP BY 1, 2)
      |SELECT lang_a, lang_b, dot,
      |  CAST(dot AS DOUBLE) /
      |    (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
      |    AS cosine
      |FROM dots
      |JOIN norms na ON na.lang = lang_a
      |JOIN norms nb ON nb.lang = lang_b
      |ORDER BY lang_a, lang_b""".stripMargin)

  // -- q224: corpus drift via total-variation distance ----------------------
  //   TV(p, q) = ½ Σ_tok |p(tok) − q(tok)| between per-source token
  //   distributions — the drift monitor that decides "did source X's
  //   language shift away from source Y's" before a training mix is
  //   refreshed. Fully exact until one final division: with p = c_a/N_a
  //   the numerator is Σ|c_a·N_b − c_b·N_a| over the union vocab, split
  //   as inner-join terms plus the disjoint mass (N_a − Σ_inter c_a)·N_b
  //   (and symmetrically), so only token pairs present in BOTH corpora
  //   ever join — no full-outer over the union vocab. Every product and
  //   sum stays under 2·N_a·N_b (< 2^53 up to ~3·10^7 tokens/source), so
  //   BIGINT→DOUBLE conversion is exact and the single IEEE division
  //   matches the oracle bit-for-bit. One token-keyed shuffle; totals are
  //   a broadcast. Output is C(|sources|, 2) rows at any corpus size.
  val q224 = Query.sql(
    "q224_tv_drift",
    (s, dir) => {
      val tc = docs(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
        .barrier() // bounded (Σ per-source vocab); read 2×
      val totals = tc.groupBy("source").agg(sum("c").as("n"))
      val ta = tc.join(broadcast(totals), "source")
      val inter = ta.as("a").join(ta.as("b"),
          col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(
          sum(abs(col("a.c") * col("b.n") - col("b.c") * col("a.n")))
            .as("s_inter"),
          sum(col("a.c")).as("ia"), sum(col("b.c")).as("ib"))
      // pair spine from the totals cross (tiny): fully-disjoint source
      // pairs must surface as tv = 1, not drop out of the token join
      broadcast(totals).toDF("src_a", "na")
        .crossJoin(broadcast(totals).toDF("src_b", "nb"))
        .filter(col("src_a") < col("src_b"))
        .join(inter, Seq("src_a", "src_b"), "left")
        .select(col("src_a"), col("src_b"),
          (coalesce(col("s_inter"), lit(0L)) +
            (col("na") - coalesce(col("ia"), lit(0L))) * col("nb") +
            (col("nb") - coalesce(col("ib"), lit(0L))) * col("na"))
            .as("tv_num"),
          ((coalesce(col("s_inter"), lit(0L)) +
            (col("na") - coalesce(col("ia"), lit(0L))) * col("nb") +
            (col("nb") - coalesce(col("ib"), lit(0L))) * col("na"))
            .cast("double") /
            (lit(2L) * col("na") * col("nb")).cast("double")).as("tv"))
        .orderBy("src_a", "src_b")
    },
    """WITH raw AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |tc AS (SELECT source, tok, COUNT(*) AS c FROM raw GROUP BY 1, 2),
      |tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM tc GROUP BY 1),
      |ta AS (SELECT tc.source, tok, c, n FROM tc JOIN tot USING (source)),
      |pr AS (
      |  SELECT a.source AS src_a, b.source AS src_b,
      |    CAST(SUM(ABS(a.c * b.n - b.c * a.n)) AS BIGINT) AS s_inter,
      |    CAST(SUM(a.c) AS BIGINT) AS ia, CAST(SUM(b.c) AS BIGINT) AS ib
      |  FROM ta a JOIN ta b ON a.tok = b.tok AND a.source < b.source
      |  GROUP BY 1, 2),
      |spine AS (
      |  SELECT na.source AS src_a, na.n AS na, nb.source AS src_b, nb.n AS nb
      |  FROM tot na CROSS JOIN tot nb WHERE na.source < nb.source)
      |SELECT src_a, src_b,
      |  CAST(COALESCE(s_inter, 0) + (na - COALESCE(ia, 0)) * nb +
      |       (nb - COALESCE(ib, 0)) * na AS BIGINT) AS tv_num,
      |  CAST(COALESCE(s_inter, 0) + (na - COALESCE(ia, 0)) * nb +
      |       (nb - COALESCE(ib, 0)) * na AS DOUBLE) /
      |    CAST(2 * na * nb AS DOUBLE) AS tv
      |FROM spine LEFT JOIN pr USING (src_a, src_b)
      |ORDER BY src_a, src_b""".stripMargin)

  // -- q228: inter-rater agreement (Cohen's kappa) between quality rules ----
  //   Before swapping one corpus-quality filter for another, measure how
  //   much they actually agree beyond chance. Rater A: the metadata
  //   length rule (n_chars >= 300). Rater B: the lexical-diversity rule
  //   (distinct tokens >= half the tokens, decided by integer
  //   cross-multiplication — no ratio float). With confusion counts
  //   n11/n10/n01/n00 and marginals a1 = n11+n10 etc.,
  //     kappa = (N·(n11+n00) − (a1·b1 + a0·b0)) / (N² − (a1·b1 + a0·b0))
  //   — all BIGINT (exact through N ≈ 9·10^7 docs; widen the two final
  //   products to DECIMAL(38,0) beyond that), one IEEE division at the
  //   end. Map-side classification + a single 1-row aggregate: no
  //   shuffle of the text at all.
  val q228 = Query.sql(
    "q228_rater_kappa",
    (s, dir) => {
      val rated = docs(s, dir).select(
        (col("n_chars") >= 300).cast("long").as("a"),
        (size(array_distinct(split(col("text"), " "))).cast("long") * 2 >=
          size(split(col("text"), " ")).cast("long")).cast("long").as("b"))
      rated.agg(
          count(lit(1)).as("n"),
          sum(col("a") * col("b")).as("n11"),
          sum(col("a") * (lit(1L) - col("b"))).as("n10"),
          sum((lit(1L) - col("a")) * col("b")).as("n01"),
          sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).as("n00"))
        .select(col("n11"), col("n10"), col("n01"), col("n00"),
          ((col("n11") + col("n00")).cast("double") /
            col("n").cast("double")).as("po"),
          (((col("n") * (col("n11") + col("n00"))) -
            ((col("n11") + col("n10")) * (col("n11") + col("n01")) +
             (col("n01") + col("n00")) * (col("n10") + col("n00"))))
            .cast("double") /
           ((col("n") * col("n")) -
            ((col("n11") + col("n10")) * (col("n11") + col("n01")) +
             (col("n01") + col("n00")) * (col("n10") + col("n00"))))
            .cast("double")).as("kappa"))
    },
    """WITH rated AS (
      |  SELECT
      |    CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a,
      |    CASE WHEN len(list_distinct(string_split(text, ' '))) * 2 >=
      |              len(string_split(text, ' ')) THEN 1 ELSE 0 END AS b
      |  FROM documents),
      |cm AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(a * b) AS BIGINT) AS n11,
      |    CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
      |    CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
      |    CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
      |  FROM rated)
      |SELECT n11, n10, n01, n00,
      |  CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE) AS po,
      |  CAST(n * (n11 + n00) -
      |       ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
      |    AS DOUBLE) /
      |  CAST(n * n -
      |       ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
      |    AS DOUBLE) AS kappa
      |FROM cm""".stripMargin)

  // -- q240: Heaps-law vocabulary-growth curve ------------------------------
  //   How fast does the vocabulary grow as the corpus grows? The classic
  //   V(n) ≈ K·n^β diagnostic that sizes tokenizer vocabularies and
  //   predicts dedup returns. Corpus order = doc_id; the curve samples 10
  //   equal doc-id deciles. The scalable core is "term first seen at" =
  //   min(doc_id) per term — one shuffle keyed by term with map-side
  //   combine; the decile bucketing is arithmetic on a 2-value bound row
  //   broadcast as a literal-sized cross join, and the cumulative sums run
  //   over the 10-row bucket histogram, never the corpus (q233's bounded-
  //   window pattern).
  val q240 = {
    import org.apache.spark.sql.expressions.Window
    Query.sql(
      "q240_vocab_growth",
      (s, dir) => {
        val d = docs(s, dir)
        def bkt(c: String) =
          expr(s"CAST(FLOOR(($c - lo) * 10 / (hi - lo + 1)) AS BIGINT)")
        val tok = d.select(col("doc_id"),
          explode(split(col("text"), " ")).as("term"))
        // One row per doc (split keeps empties, so exploded-row count ==
        // len(string_split)); small enough to checkpoint, and it carries
        // the doc-id bounds so the corpus is scanned exactly twice (ntok
        // rollup + term-first rollup), not four times.
        val perDoc = tok.groupBy("doc_id")
          .agg(count(lit(1)).cast("long").as("ntok"))
          .barrier()
        val bounds = perDoc.agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
        val docStats = perDoc.crossJoin(broadcast(bounds))
          .select(bkt("doc_id").as("bucket"), col("ntok"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_docs"), sum("ntok").as("tokens"))
        val newTerms = tok
          .groupBy("term").agg(min("doc_id").as("first_doc"))
          .crossJoin(broadcast(bounds))
          .select(bkt("first_doc").as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("new_terms"))
        val w = Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, 0)
        docStats.join(newTerms, Seq("bucket"), "left")
          .select(col("bucket"), col("n_docs"), col("tokens"),
            coalesce(col("new_terms"), lit(0L)).as("new_terms"))
          // ≤ 10 rows BY CONSTRUCTION (bucket = FLOOR(rel·10/range) ∈
          // 0..9) — static analysis sees a doc_id-derived grouping key,
          // so declare and runtime-enforce the bound before the 10-row
          // cumulative windows
          .boundedBarrier(10)
          .withColumn("cum_tokens", sum("tokens").over(w))
          .withColumn("cum_vocab", sum("new_terms").over(w))
          .orderBy("bucket")
      },
      """WITH b AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents),
        |dk AS (
        |  SELECT CAST(FLOOR((doc_id - lo) * 10 / (hi - lo + 1)) AS BIGINT)
        |      AS bucket,
        |    len(string_split(text, ' ')) AS ntok
        |  FROM documents CROSS JOIN b),
        |ds AS (
        |  SELECT bucket, COUNT(*) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS tokens
        |  FROM dk GROUP BY bucket),
        |tok AS (
        |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
        |  FROM documents),
        |firsts AS (SELECT term, MIN(doc_id) AS fd FROM tok GROUP BY term),
        |nt AS (
        |  SELECT CAST(FLOOR((fd - lo) * 10 / (hi - lo + 1)) AS BIGINT)
        |      AS bucket,
        |    COUNT(*) AS new_terms
        |  FROM firsts CROSS JOIN b GROUP BY 1)
        |SELECT ds.bucket, n_docs, tokens,
        |  COALESCE(new_terms, 0) AS new_terms,
        |  CAST(SUM(tokens) OVER (ORDER BY ds.bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_tokens,
        |  CAST(SUM(COALESCE(new_terms, 0)) OVER (ORDER BY ds.bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_vocab
        |FROM ds LEFT JOIN nt ON ds.bucket = nt.bucket
        |ORDER BY ds.bucket""".stripMargin)
  }

  // -- q262: Gopher-style quality-rule battery ------------------------------
  //   The Rae et al. 2021 (Gopher §A.1.1) corpus-filter battery, adapted
  //   to single-line synthetic docs: per document, five independent rules
  //   — word-count bounds, mean-word-length bounds, distinct-token ratio,
  //   top-token dominance, stopword presence — each decided by INTEGER
  //   cross-multiplication (10·distinct ≥ 3·n, never a float ratio at the
  //   boundary), then a per-source rollup of per-rule failure counts and
  //   the pass-all count.
  //
  //   Plan: tokenize once into per-(doc, tok) counts (one doc-keyed
  //   shuffle carrying distinct tokens, not occurrences), derive every
  //   per-doc statistic from that rollup in a second doc-keyed
  //   aggregation, flag map-side, and roll up to sources. The rule
  //   thresholds are plan literals — at 100 TB this is two aggregations
  //   and a 20-row output.
  val q262 = Query.sql(
    "q262_gopher_rules",
    (s, dir) => {
      val tc = docs(s, dir)
        .select(col("doc_id"), col("source"),
          explode(split(col("text"), " ")).as("tok"))
        .groupBy("doc_id", "source", "tok").agg(count(lit(1)).as("c"))
      val per = tc.groupBy("doc_id", "source")
        .agg(sum(col("c")).as("nw"),
          sum(col("c") * length(col("tok"))).as("sum_len"),
          count(lit(1)).as("nd"),
          max(col("c")).as("maxc"),
          sum(when(col("tok").isin("the", "a"), col("c")).otherwise(0L))
            .as("stopc"))
      per
        .withColumn("f_wc", (col("nw") < 40 || col("nw") > 100000).cast("int"))
        .withColumn("f_mwl", (col("sum_len") < col("nw") * 3 ||
          col("sum_len") > col("nw") * 10).cast("int"))
        .withColumn("f_dr", (col("nd") * 10 < col("nw") * 3).cast("int"))
        .withColumn("f_top", (col("maxc") * 10 > col("nw")).cast("int"))
        .withColumn("f_stop", (col("stopc") < 2).cast("int"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("f_wc")).as("fail_wordcount"),
          sum(col("f_mwl")).as("fail_meanwordlen"),
          sum(col("f_dr")).as("fail_distinctratio"),
          sum(col("f_top")).as("fail_topdominance"),
          sum(col("f_stop")).as("fail_stopwords"),
          sum(when(col("f_wc") + col("f_mwl") + col("f_dr") + col("f_top") +
            col("f_stop") === 0, 1L).otherwise(0L)).as("n_pass_all"))
        .orderBy("source")
    },
    """WITH tc AS (
      |  SELECT doc_id, source, tok, COUNT(*) AS c
      |  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
      |        FROM documents)
      |  GROUP BY 1, 2, 3),
      |per AS (
      |  SELECT doc_id, source,
      |    SUM(c) AS nw,
      |    SUM(c * length(tok)) AS sum_len,
      |    COUNT(*) AS nd,
      |    MAX(c) AS maxc,
      |    SUM(CASE WHEN tok IN ('the', 'a') THEN c ELSE 0 END) AS stopc
      |  FROM tc GROUP BY 1, 2),
      |flags AS (
      |  SELECT source,
      |    CASE WHEN nw < 40 OR nw > 100000 THEN 1 ELSE 0 END AS f_wc,
      |    CASE WHEN sum_len < nw * 3 OR sum_len > nw * 10 THEN 1 ELSE 0 END AS f_mwl,
      |    CASE WHEN nd * 10 < nw * 3 THEN 1 ELSE 0 END AS f_dr,
      |    CASE WHEN maxc * 10 > nw THEN 1 ELSE 0 END AS f_top,
      |    CASE WHEN stopc < 2 THEN 1 ELSE 0 END AS f_stop
      |  FROM per)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(f_wc) AS BIGINT) AS fail_wordcount,
      |  CAST(SUM(f_mwl) AS BIGINT) AS fail_meanwordlen,
      |  CAST(SUM(f_dr) AS BIGINT) AS fail_distinctratio,
      |  CAST(SUM(f_top) AS BIGINT) AS fail_topdominance,
      |  CAST(SUM(f_stop) AS BIGINT) AS fail_stopwords,
      |  CAST(SUM(CASE WHEN f_wc + f_mwl + f_dr + f_top + f_stop = 0
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_all
      |FROM flags GROUP BY source ORDER BY source""".stripMargin)

  // -- q268: stupid-backoff bigram LM scoring -------------------------------
  //   q118's bigram MLE with Brants et al. 2007 "stupid backoff": a bigram
  //   unseen in the model (here: singleton bigrams, the held-out proxy —
  //   a bigram whose only occurrence is the one being scored would
  //   otherwise score itself) backs off to 0.4 × unigram MLE. Score terms
  //   stay exact: seen branch (c2 · 1e12) div c1, backoff branch
  //   (c(w2) · 4·10¹¹) div N — integer floor division both engines; the
  //   per-doc mean is one final double division.
  //
  //   Plan: identical shuffle structure to q118 (per-(doc,bigram) rollup
  //   feeds model AND scoring — one corpus tokenization), plus a broadcast
  //   1-row N and a unigram join keyed on w2. The backoff CASE is
  //   map-side.
  val q268 = Query.sql(
    "q268_stupid_backoff",
    (s, dir) => {
      val bc = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(toks) - 2), " +
            "i -> struct(toks[i] AS w1, toks[i + 1] AS w2))")).as("bg"))
        .groupBy(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .agg(count(lit(1)).as("bn"))
        .barrier()
      val c2 = bc.groupBy("w1", "w2").agg(sum(col("bn")).as("c2"))
      val c1 = c2.groupBy("w1").agg(sum(col("c2")).as("c1"))
      val uni = c2.groupBy("w2").agg(sum(col("c2")).as("cu"))
      val nTot = uni.agg(sum(col("cu")).as("ntot"))
      bc.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
        .join(uni, Seq("w2")).crossJoin(broadcast(nTot))
        .select(col("doc_id"), col("bn"),
          expr("""bn * (CASE WHEN c2 > 1 THEN (c2 * 1000000000000) div c1
                 |ELSE (cu * 400000000000) div ntot END)""".stripMargin)
            .as("sp"))
        .groupBy("doc_id")
        .agg(sum(col("bn")).as("n_bigrams"), sum(col("sp")).as("ssum"))
        .select(col("doc_id"), col("n_bigrams"),
          expr("CAST(ssum AS DOUBLE) / CAST(n_bigrams AS DOUBLE) / 1e12")
            .as("avg_score"))
        .orderBy("doc_id")
    },
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |bi AS (
      |  SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(generate_series(1, len(ts) - 1),
      |        i -> {'w1': ts[i], 'w2': ts[i + 1]})) AS bg
      |    FROM toks)),
      |bc AS (
      |  SELECT doc_id, w1, w2, COUNT(*) AS bn FROM bi GROUP BY 1, 2, 3),
      |c2t AS (SELECT w1, w2, CAST(SUM(bn) AS BIGINT) AS c2
      |        FROM bc GROUP BY 1, 2),
      |c1t AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2t GROUP BY 1),
      |unit AS (SELECT w2, CAST(SUM(c2) AS BIGINT) AS cu FROM c2t GROUP BY 1),
      |nt AS (SELECT CAST(SUM(cu) AS BIGINT) AS ntot FROM unit),
      |scored AS (
      |  SELECT doc_id, bn,
      |    bn * (CASE WHEN c2 > 1 THEN (c2 * 1000000000000) // c1
      |          ELSE (cu * 400000000000) // ntot END) AS sp
      |  FROM bc JOIN c2t USING (w1, w2) JOIN c1t USING (w1)
      |  JOIN unit USING (w2) CROSS JOIN nt)
      |SELECT doc_id, CAST(SUM(bn) AS BIGINT) AS n_bigrams,
      |  CAST(CAST(SUM(sp) AS BIGINT) AS DOUBLE) /
      |    CAST(SUM(bn) AS DOUBLE) / 1e12 AS avg_score
      |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin)

  // -- q324: Zipf-fit audit (rank × frequency constancy) --------------------
  //   A natural corpus follows Zipf's law: f(r) ≈ C/r, i.e. rank×frequency
  //   is roughly constant. Machine-generated or template-heavy corpora
  //   break it — so the per-rank-decile spread of C = f·r is a cheap
  //   generation-artifact detector. Kept LOG-FREE deliberately: the repo's
  //   determinism contract avoids libm (ln is not guaranteed correctly
  //   rounded across engines); f·r is exact BIGINT arithmetic. Scale: the
  //   ranked set is the VOCABULARY (bounded), not the corpus — one
  //   map-side-combined token count, then a window over |vocab| rows
  //   truncated to the top 100.
  val q324 = Query.sql(
    "q324_zipf_fit",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(desc("f"), asc("token"))
      docs(s, dir)
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("f"))
        .withColumn("r", row_number().over(w).cast("long"))
        .filter(col("r") <= 100)
        .select(((col("r") - 1) / lit(10)).cast("long").as("decile"),
          (col("f") * col("r")).as("c"))
        .groupBy("decile")
        .agg(min(col("c")).as("c_min"), max(col("c")).as("c_max"),
          (sum(col("c")).cast("double") / 10.0).as("c_avg"))
        .orderBy("decile")
    },
    """WITH tf AS (
      |  SELECT token, COUNT(*) AS f FROM (
      |    SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |  GROUP BY token),
      |ranked AS (
      |  SELECT f, row_number() OVER (ORDER BY f DESC, token) AS r FROM tf)
      |SELECT CAST((r - 1) // 10 AS BIGINT) AS decile,
      |  CAST(MIN(f * r) AS BIGINT) AS c_min,
      |  CAST(MAX(f * r) AS BIGINT) AS c_max,
      |  CAST(SUM(f * r) AS DOUBLE) / 10.0 AS c_avg
      |FROM ranked WHERE r <= 100 GROUP BY 1 ORDER BY decile""".stripMargin)

  // -- q360: Kneser–Ney smoothed bigram LM scoring ---------------------------
  //   q118's MLE scorer upgraded to the smoothing real LM-based curation
  //   filters use: interpolated Kneser–Ney (Kneser & Ney 1995; the
  //   Chen & Goodman 1998 formulation) with absolute discount d = 0.75 —
  //   P(w₂|w₁) = (c(w₁w₂) − d)/c(w₁•) + d·N₁₊(w₁,•)/c(w₁•) · N₁₊(•,w₂)/B,
  //   where N₁₊ are distinct-continuation counts and B the distinct-bigram
  //   total. KN's continuation probability is what separates it from
  //   naive backoff: a word seen in MANY contexts ("York" vs "Francisco")
  //   scores differently even at equal unigram frequency.
  //
  //   Exactness: with d = 3/4 every term is rational, so the whole
  //   probability collapses to ONE integer fraction
  //     [(4·c₂ − 3)·B + 3·N₁₊(w₁,•)·N₁₊(•,w₂)] / (4·c₁·B)
  //   — numerator and denominator exact BIGINTs (≤ ~4e12 at sf1, far under
  //   2⁵³, so the single IEEE division + floor-scale is bit-identical in
  //   both engines), and the per-doc sum is order-free integer math.
  //
  //   Scale design (100 TB): one tokenize pass (the q118 bc frame reused by
  //   model and scoring); the KN model adds only aggregations OVER THE
  //   DISTINCT-BIGRAM table (c₁/N₁₊-forward share one w₁ aggregation;
  //   N₁₊-backward is one w₂ aggregation; B one broadcast row) — model
  //   cost scales with vocabulary², not corpus size; scoring joins stay
  //   co-partitioned on the bigram/w₁/w₂ keys.
  val q360 = Query.sql(
    "q360_kn_lm_score",
    (s, dir) => {
      val bi = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(toks) - 2), " +
            "i -> struct(toks[i] AS w1, toks[i + 1] AS w2))")).as("bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      val bc = bi.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("bn"))
        .barrier() // one tokenize pass feeds model AND scoring (q118)
      val c2 = bc.groupBy("w1", "w2").agg(sum(col("bn")).as("c2")).barrier()
      // c(w1•) and N1+(w1,•) out of ONE aggregation over distinct bigrams
      val byW1 = c2.groupBy("w1")
        .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1f"))
      val byW2 = c2.groupBy("w2").agg(count(lit(1)).as("n1b"))
      val btot = c2.agg(count(lit(1)).as("bt"))
      bc.join(c2, Seq("w1", "w2")).join(byW1, Seq("w1"))
        .join(byW2, Seq("w2")).crossJoin(broadcast(btot))
        .select(col("doc_id"), col("bn"),
          expr("""bn * CAST(FLOOR(
            |  CAST((4 * c2 - 3) * bt + 3 * n1f * n1b AS DOUBLE)
            |  / CAST(4 * c1 * bt AS DOUBLE) * 1e15) AS BIGINT)"""
            .stripMargin).as("sp"))
        .groupBy("doc_id")
        .agg(sum(col("bn")).as("n_bigrams"), sum(col("sp")).as("ssum"))
        .select(col("doc_id"), col("n_bigrams"),
          expr("CAST(ssum AS DOUBLE) / CAST(n_bigrams AS DOUBLE) / 1e15")
            .as("avg_p_kn"))
        .orderBy("doc_id")
    },
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |biu AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ts) - 1),
      |    i -> {'w1': ts[i], 'w2': ts[i + 1]})) AS bg
      |  FROM toks),
      |bi AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM biu),
      |c2t AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
      |        FROM bi GROUP BY w1, w2),
      |w1t AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1,
      |          CAST(COUNT(*) AS BIGINT) AS n1f
      |        FROM c2t GROUP BY w1),
      |w2t AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1b
      |        FROM c2t GROUP BY w2),
      |bt AS (SELECT CAST(COUNT(*) AS BIGINT) AS bt FROM c2t),
      |scored AS (
      |  SELECT doc_id, CAST(FLOOR(
      |    CAST((4 * c2 - 3) * bt + 3 * n1f * n1b AS DOUBLE)
      |    / CAST(4 * c1 * bt AS DOUBLE) * 1e15) AS BIGINT) AS sp
      |  FROM bi JOIN c2t USING (w1, w2) JOIN w1t USING (w1)
      |    JOIN w2t USING (w2) CROSS JOIN bt)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  CAST(SUM(sp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e15 AS avg_p_kn
      |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin)

  // -- q367: feature hashing (the hashing trick) -----------------------------
  //   Weinberger et al. 2009 ("Feature Hashing for Large Scale Multitask
  //   Learning") / Vowpal-Wabbit-style text features: every token maps to
  //   bucket md5('fh:'·tok) % 64 with a ±1 sign from an independent hash
  //   bit, and the doc's feature vector is the signed count per bucket —
  //   FIXED dimensionality with no vocabulary table, the property that
  //   makes it the standard featurizer when the vocab would not fit
  //   anywhere. The sign makes bucket collisions cancel in expectation
  //   (the paper's unbiasedness trick). Emits per doc: nnz, ‖φ‖₁ and the
  //   sparse vector as a canonical "b:φ" string (list columns cannot ride
  //   the hash compare).
  //
  //   Scale: one explode + one (doc, bucket) map-side-combined sum; no
  //   vocabulary state anywhere — the featurizer is embarrassingly
  //   map-side however large the corpus.
  val q367 = Query.sql(
    "q367_feature_hashing",
    (s, dir) => {
      val tf = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .select(col("doc_id"),
          expr("CAST(conv(substring(md5(concat('fh:', tok)), 1, 6), 16, 10)" +
            " AS BIGINT) % 64").as("b"),
          expr("CASE WHEN CAST(conv(substring(md5(concat('sg:', tok)), 1, 1)" +
            ", 16, 10) AS BIGINT) % 2 = 0 THEN CAST(1 AS BIGINT)" +
            " ELSE CAST(-1 AS BIGINT) END").as("sg"))
      tf.groupBy("doc_id", "b").agg(sum(col("sg")).as("phi"))
        .filter(col("phi") =!= 0)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("nnz"), sum(abs(col("phi"))).as("l1"),
          expr("array_join(transform(array_sort(collect_list(" +
            "named_struct('b', b, 'phi', phi))), " +
            "s -> concat(CAST(s.b AS STRING), ':', CAST(s.phi AS STRING)))" +
            ", ',')").as("features"))
        .orderBy("doc_id")
    },
    """WITH tf AS (
      |  SELECT doc_id,
      |    ('0x' || substring(md5('fh:' || tok), 1, 6))::BIGINT % 64 AS b,
      |    CASE WHEN ('0x' || substring(md5('sg:' || tok), 1, 1))::BIGINT
      |      % 2 = 0 THEN 1 ELSE -1 END AS sg
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |        FROM documents)),
      |feats AS (
      |  SELECT doc_id, b, CAST(SUM(sg) AS BIGINT) AS phi
      |  FROM tf GROUP BY doc_id, b HAVING SUM(sg) <> 0)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nnz,
      |  CAST(SUM(abs(phi)) AS BIGINT) AS l1,
      |  string_agg(CAST(b AS VARCHAR) || ':' || CAST(phi AS VARCHAR), ','
      |    ORDER BY b) AS features
      |FROM feats GROUP BY doc_id ORDER BY doc_id""".stripMargin)

  // -- q368: fastText-style text classifier (perceptron on hashed features) -
  //   q359's distributed batch perceptron composed with q367's hashing
  //   trick — the full shape of a trained-from-scratch text quality/domain
  //   classifier (fastText / DCLM-style linear model over hashed
  //   bag-of-words). Target: the fastText sanity task — recover a
  //   token-content rule ("mentions spark/query/join ≥ 3 times", a
  //   topicality gate) THROUGH the hashed features, where sign collisions
  //   are the only obstacle; the synthetic corpus shares one vocabulary
  //   across langs, so a metadata label would have no linear signal at
  //   all. Features: 64 signed-count buckets plus a constant bias bucket
  //   (b = 64, φ = 1 on every doc). Two synchronous batch rounds + a
  //   final eval row, all BIGINT (the features are already integers — no
  //   scaling step at all).
  //
  //   This table is the oracle-pinned MONITORING readout of the training
  //   machinery (the round-t miscls column evaluates w_{t−1}); the batch
  //   update is known to oscillate at the majority class on imbalanced
  //   data, which is exactly why production fits use per-shard ONLINE
  //   epochs with cross-shard weight mixing —
  //   [[graft.operators.TextClassifier.ipmFit]] (McDonald et al. 2010),
  //   spec-verified to learn this same rule to ≥ 0.85 accuracy. The
  //   sequential within-shard pass is not ANSI-SQL-expressible, so the
  //   oracle pins the synchronous form and the spec pins the IPM fit —
  //   the same split as kmeansFit (q135 pins one Lloyd step).
  //
  //   Scale design: weights live as a 64-row table joined on the bucket
  //   id, so each round's margin pass is a SPARSE dot product — one
  //   (doc, bucket) join + per-doc sum, never a dense per-row array — and
  //   the update aggregates misclassified docs by bucket. State per round:
  //   65 rows.
  val q368 = {
    Query.sql(
      "q368_fasttext_classifier",
      (s, dir) => {
        // Featurization: the label y is a deterministic per-doc function
        // of the same split(text) the tokenizer explodes, so it rides the
        // ONE exploded scan as a groupBy key instead of a second
        // documents scan joined back (both xf branches consume the same
        // (doc_id, y, b) exchange via ReuseExchange). Precondition: text
        // is never NULL. explode(split(NULL)) yields no rows, so a
        // NULL-text doc would get no features and no bias row and drop
        // out of training and eval; an empty text still splits to [""],
        // one token, so it keeps its bias row. The documents table has no
        // NULL texts at any SF.
        val base = docs(s, dir)
          .select(col("doc_id"),
            expr("CAST(CASE WHEN size(filter(split(text, ' '), " +
              "w -> w IN ('spark', 'query', 'join'))) >= 3 " +
              "THEN 1 ELSE -1 END AS BIGINT)").as("y"),
            explode(split(col("text"), " ")).as("tok"))
          .select(col("doc_id"), col("y"),
            expr("CAST(conv(substring(md5(concat('fh:', tok)), 1, 6), 16, " +
              "10) AS BIGINT) % 64").as("b"),
            expr("CASE WHEN CAST(conv(substring(md5(concat('sg:', tok)), 1," +
              " 1), 16, 10) AS BIGINT) % 2 = 0 THEN CAST(1 AS BIGINT)" +
              " ELSE CAST(-1 AS BIGINT) END").as("sg"))
        val grouped = base.groupBy("doc_id", "y", "b")
          .agg(sum(col("sg")).as("phi"))
        val xf = grouped.filter(col("phi") =!= 0)
          .select(col("doc_id"), col("b"), col("phi"), col("y"))
          .unionByName(grouped.select("doc_id", "y").distinct()
            .select(col("doc_id"), lit(64L).as("b"),
              lit(1L).as("phi"), col("y")))
          .barrier() // featurize once; every round + the eval re-reads it
        val w0 = s.range(65).select(col("id").as("b"), lit(0L).as("w"))
        def step(w: DataFrame, round: Int): (DataFrame, DataFrame) = {
          val margins = xf.join(broadcast(w), Seq("b"))
            .groupBy("doc_id", "y")
            .agg(sum(col("phi") * col("w")).as("m"))
            .select(col("doc_id"), col("y"), (col("y") * col("m")).as("margin"))
            .barrier() // one (id, y, margin) row per doc, read 2× per round
          val upd = margins.filter(col("margin") <= 0)
            .select("doc_id", "y")
            .join(xf.select("doc_id", "b", "phi"), Seq("doc_id"))
            .groupBy("b").agg(sum(col("y") * col("phi")).as("dw"))
          val nw = w.join(upd, Seq("b"), "left")
            .select(col("b"),
              (col("w") + coalesce(col("dw"), lit(0L))).as("w"))
            .barrier() // 65 rows: the round's state
          val stats = nw
            .agg(sum(abs(col("w"))).as("weight_l1"),
              max(when(col("b") === 64, col("w"))).as("bias"))
            .crossJoin(broadcast(
              margins.filter(col("margin") <= 0)
                .agg(count(lit(1)).as("miscls"))))
            .select(lit(round.toLong).as("rnd"), col("miscls"),
              col("weight_l1"), col("bias"))
          (stats, nw)
        }
        val (s1, w1) = step(w0, 1)
        val (s2, w2) = step(w1, 2)
        val eval = xf.join(broadcast(w2), Seq("b"))
          .groupBy("doc_id", "y")
          .agg(sum(col("phi") * col("w")).as("m"))
          .agg(sum(when(col("y") * col("m") <= 0, 1L).otherwise(0L))
            .as("miscls"))
          .crossJoin(broadcast(w2.agg(
            sum(abs(col("w"))).as("weight_l1"),
            max(when(col("b") === 64, col("w"))).as("bias"))))
          .select(lit(3L).as("rnd"), col("miscls"), col("weight_l1"),
            col("bias"))
        s1.unionByName(s2).unionByName(eval).orderBy("rnd")
      },
      """WITH tf AS (
        |  SELECT doc_id,
        |    ('0x' || substring(md5('fh:' || tok), 1, 6))::BIGINT % 64 AS b,
        |    CASE WHEN ('0x' || substring(md5('sg:' || tok), 1, 1))::BIGINT
        |      % 2 = 0 THEN 1 ELSE -1 END AS sg
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)),
        |yd AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN len(list_filter(string_split(text, ' '),
        |      w -> w IN ('spark', 'query', 'join'))) >= 3
        |      THEN 1 ELSE -1 END AS BIGINT) AS y
        |  FROM documents),
        |xf AS (
        |  SELECT f.doc_id, y.y, f.b, f.phi
        |  FROM (SELECT doc_id, b, CAST(SUM(sg) AS BIGINT) AS phi
        |        FROM tf GROUP BY doc_id, b HAVING SUM(sg) <> 0) f
        |  JOIN yd y USING (doc_id)
        |  UNION ALL
        |  SELECT doc_id, y, CAST(64 AS BIGINT), CAST(1 AS BIGINT) FROM yd),
        |-- round 1: w = 0 ⇒ every margin is 0 ⇒ every doc updates
        |u1 AS (SELECT b, CAST(SUM(y * phi) AS BIGINT) AS w
        |       FROM xf GROUP BY b),
        |s1 AS (
        |  SELECT CAST(1 AS BIGINT) AS rnd,
        |    (SELECT COUNT(*) FROM yd) AS miscls,
        |    (SELECT CAST(SUM(abs(w)) AS BIGINT) FROM u1) AS weight_l1,
        |    (SELECT CAST(MAX(CASE WHEN b = 64 THEN w END) AS BIGINT)
        |     FROM u1) AS bias),
        |m2 AS (
        |  SELECT x.doc_id, x.y,
        |    x.y * CAST(SUM(x.phi * u1.w) AS BIGINT) AS margin
        |  FROM xf x JOIN u1 USING (b) GROUP BY x.doc_id, x.y),
        |u2 AS (
        |  SELECT x.b, CAST(SUM(x.y * x.phi) AS BIGINT) AS dw
        |  FROM xf x JOIN (SELECT doc_id FROM m2 WHERE margin <= 0) mm
        |    USING (doc_id)
        |  GROUP BY x.b),
        |w2 AS (
        |  SELECT u1.b, u1.w + COALESCE(u2.dw, 0) AS w
        |  FROM u1 LEFT JOIN u2 USING (b)),
        |s2 AS (
        |  SELECT CAST(2 AS BIGINT) AS rnd,
        |    (SELECT COUNT(*) FROM m2 WHERE margin <= 0) AS miscls,
        |    (SELECT CAST(SUM(abs(w)) AS BIGINT) FROM w2) AS weight_l1,
        |    (SELECT CAST(MAX(CASE WHEN b = 64 THEN w END) AS BIGINT)
        |     FROM w2) AS bias),
        |m3 AS (
        |  SELECT x.doc_id, x.y,
        |    x.y * CAST(SUM(x.phi * w2.w) AS BIGINT) AS margin
        |  FROM xf x JOIN w2 USING (b) GROUP BY x.doc_id, x.y),
        |s3 AS (
        |  SELECT CAST(3 AS BIGINT) AS rnd,
        |    (SELECT COUNT(*) FROM m3 WHERE margin <= 0) AS miscls,
        |    (SELECT CAST(SUM(abs(w)) AS BIGINT) FROM w2) AS weight_l1,
        |    (SELECT CAST(MAX(CASE WHEN b = 64 THEN w END) AS BIGINT)
        |     FROM w2) AS bias)
        |SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
        |ORDER BY rnd""".stripMargin)
  }

  // -- q369: Good–Turing frequency re-estimation ------------------------------
  //   The classic unseen-mass estimator (Good 1953; the smoothing KN built
  //   on): from the corpus word-TRIGRAM counts (the synthetic corpus'
  //   closed 32-word vocabulary has no rare unigrams; its trigram space
  //   shows the real Zipf tail — N₁ ≈ 9.4k at sf0.01), the frequency-of-
  //   frequencies table N_r, the adjusted count r* = (r+1)·N_{r+1}/N_r,
  //   and the leave-one-out unseen probability mass P₀ = N₁/N — what a
  //   curation pipeline reports as "how much of this corpus' n-gram space
  //   have we NOT seen yet" (q106's OOV rate is the downstream symptom;
  //   this is the estimate ahead of time).
  //
  //   Exactness: counts-of-counts are two exact aggregations; r* and P₀
  //   are single divisions of exact BIGINTs. The N_{r+1} lookup joins on
  //   r+1 (NOT a lead window — rows are absent for empty frequency
  //   classes, where r* is genuinely undefined → NULL in both engines).
  //   Scale: token counts shuffle one row per distinct token with map-side
  //   combine; everything after is ≤ max-count rows.
  val q369 = Query.sql(
    "q369_good_turing",
    (s, dir) => {
      val counts = docs(s, dir)
        .select(split(col("text"), " ").as("ts"))
        .filter(size(col("ts")) >= 3)
        .select(explode(expr(
          "transform(sequence(0, size(ts) - 3), " +
            "i -> concat(ts[i], ' ', ts[i + 1], ' ', ts[i + 2]))")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
        .barrier() // N_r table + the N total both fold this
      val nr = counts.groupBy(col("c").as("r"))
        .agg(count(lit(1)).as("n_r"))
      val tot = counts.agg(sum(col("c")).as("n_tokens"))
      val n1 = nr.filter(col("r") === 1)
        .select(col("n_r").as("n_1"))
      nr.join(nr.select(col("r").as("r1"), col("n_r").as("n_r1")),
          col("r") + 1 === col("r1"), "left")
        .crossJoin(broadcast(tot)).crossJoin(broadcast(n1))
        .filter(col("r") <= 10)
        .select(col("r"), col("n_r"),
          ((col("r") + 1).cast("double") * col("n_r1").cast("double") /
            col("n_r").cast("double")).as("r_star"),
          (col("n_1").cast("double") / col("n_tokens").cast("double"))
            .as("p0"))
        .orderBy("r")
    },
    """WITH counts AS (
      |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
      |    SELECT unnest(list_transform(generate_series(1, len(ts) - 2),
      |      i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2])) AS tok
      |    FROM (SELECT string_split(text, ' ') AS ts FROM documents)
      |    WHERE len(ts) >= 3)
      |  GROUP BY tok),
      |nr AS (SELECT c AS r, CAST(COUNT(*) AS BIGINT) AS n_r
      |       FROM counts GROUP BY c),
      |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens FROM counts),
      |n1 AS (SELECT n_r AS n_1 FROM nr WHERE r = 1)
      |SELECT a.r, a.n_r,
      |  CAST(a.r + 1 AS DOUBLE) * CAST(b.n_r AS DOUBLE)
      |    / CAST(a.n_r AS DOUBLE) AS r_star,
      |  CAST(n_1 AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS p0
      |FROM nr a LEFT JOIN nr b ON a.r + 1 = b.r
      |CROSS JOIN tot CROSS JOIN n1
      |WHERE a.r <= 10
      |ORDER BY a.r""".stripMargin)

  val all: Seq[Query] =
    Seq(q26, q30, q31, q32, q33, q34, q35, q36, q37, q38, q39, q75, q76, q79,
      q87, q98, q106, q116, q118, q144, q171, q172, q183, q188, q189,
      q193, q194, q204, q212, q222, q224, q228, q240, q262, q268, q324,
      q360, q367, q368, q369)
}
