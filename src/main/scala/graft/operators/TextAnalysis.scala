package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables._

/** Text-analysis operators for a large-scale training-data pipeline:
  * token counting, quality scoring, language signals, fingerprinting.
  * All are single-pass narrow transforms (no shuffle) built from codegen'd
  * builtin functions — they scale linearly with input splits at 100 TB.
  */
object TextAnalysis {

  /** Whitespace tokens of a text column (single-space-joined corpora). */
  def tokens(c: Column): Column = split(c, " ")

  /** Canonical text normalization used before hashing/fingerprinting:
    * lowercase + collapse whitespace runs + trim.
    */
  def normalize(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** MD5 content fingerprint of normalized text — the exact-dedup key. */
  def fingerprint(c: Column): Column = md5(normalize(c))

  // txt01 — token counting: whitespace tokens, chars, avg token length.
  def txt01TokenCount(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .select(
        $"doc_id",
        size(tokens($"text")).cast("long").as("n_tokens"),
        length($"text").cast("long").as("n_chars_measured"),
        (length($"text").cast("double") / size(tokens($"text"))).as("chars_per_token"))
      .orderBy($"doc_id")
  }

  val txt01Sql: String =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |  CAST(LENGTH(text) AS BIGINT) AS n_chars_measured,
      |  CAST(LENGTH(text) AS DOUBLE) / len(string_split(text, ' ')) AS chars_per_token
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // txt02 — quality scoring: stopword ratio, type-token ratio, flag short
  // docs. Pure per-row expressions (higher-order functions, no UDF).
  def txt02Quality(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = tokens($"text")
    val nTok = size(toks)
    val nStop = size(filter_hof(toks))
    documents(s, d)
      .select(
        $"doc_id",
        nTok.cast("long").as("n_tokens"),
        (nStop.cast("double") / nTok).as("stopword_ratio"),
        (size(array_distinct(toks)).cast("double") / nTok).as("type_token_ratio"),
        when(nTok < 30, lit("short")).otherwise(lit("ok")).as("len_class"))
      .orderBy($"doc_id")
  }

  /** tokens ∈ {the, a} — a deterministic stand-in stopword list. */
  private def filter_hof(toks: Column): Column =
    filter(toks, t => t === "the" || t === "a")

  val txt02Sql: String =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |  CAST(len(list_filter(string_split(text, ' '), t -> t = 'the' OR t = 'a')) AS DOUBLE)
      |    / len(string_split(text, ' ')) AS stopword_ratio,
      |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |    / len(string_split(text, ' ')) AS type_token_ratio,
      |  CASE WHEN len(string_split(text, ' ')) < 30 THEN 'short' ELSE 'ok' END AS len_class
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // txt03 — language distribution + per-language stats (lang-ID consumers).
  def txt03LangStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_chars").as("total_chars"),
        sum(size(tokens($"text")).cast("long")).as("total_tokens"))
      .orderBy($"lang")
  }

  val txt03Sql: String =
    """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
      |FROM documents GROUP BY lang
      |ORDER BY lang""".stripMargin

  // txt04 — content fingerprinting: md5 over normalized text (the key used
  // by exact dedup); also first-token as a cheap shingle anchor.
  def txt04Fingerprint(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .select(
        $"doc_id",
        fingerprint($"text").as("fp"),
        element_at(tokens($"text"), 1).as("first_token"))
      .orderBy($"doc_id")
  }

  val txt04Sql: String =
    """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
      |  string_split(text, ' ')[1] AS first_token
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // txt05 — heuristic language-ID (n-gram/stopword-evidence style): score
  // docs by occurrence of per-language marker tokens and pick argmax.
  // Deterministic and SQL-expressible so the oracle can check it; a real
  // pipeline would swap in a larger marker table (broadcast join) — same
  // plan shape.
  def txt05LangId(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = tokens($"text")
    def score(words: String*): Column =
      size(filter(toks, t => words.map(w => t === w).reduce(_ || _)))
    // marker sets chosen from the synthetic vocabulary; evidence = counts
    val sEn = score("the", "a", "fast", "slow")
    val sData = score("data", "row", "column", "table")
    val guess = when(sEn > sData, lit("en_like"))
      .when(sData > sEn, lit("data_like"))
      .otherwise(lit("tie"))
    documents(s, d)
      .select($"doc_id", $"lang", sEn.cast("long").as("s_en"),
        sData.cast("long").as("s_data"), guess.as("lang_guess"))
      .orderBy($"doc_id")
  }

  val txt05Sql: String =
    """SELECT doc_id, lang,
      |  CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the','a','fast','slow'))) AS BIGINT) AS s_en,
      |  CAST(len(list_filter(string_split(text, ' '), t -> t IN ('data','row','column','table'))) AS BIGINT) AS s_data,
      |  CASE
      |    WHEN len(list_filter(string_split(text, ' '), t -> t IN ('the','a','fast','slow')))
      |       > len(list_filter(string_split(text, ' '), t -> t IN ('data','row','column','table'))) THEN 'en_like'
      |    WHEN len(list_filter(string_split(text, ' '), t -> t IN ('data','row','column','table')))
      |       > len(list_filter(string_split(text, ' '), t -> t IN ('the','a','fast','slow'))) THEN 'data_like'
      |    ELSE 'tie' END AS lang_guess
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // txt06 — PII redaction: scrub email- and phone-shaped substrings before
  // training. The corpus has no PII, so deterministic synthetic PII is
  // appended per doc and then redacted — the oracle checks both the
  // redacted content (by fingerprint) and the redaction counts. Patterns
  // stay in the Java∩RE2 regex subset so both engines agree.
  def txt06PiiRedact(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emailRe = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]+"
    val phoneRe = "[0-9]{3}-[0-9]{4}"
    val dirty = concat($"text",
      lit(" contact user"), $"doc_id", lit("@example.com or 555-"),
      lpad($"doc_id".cast("string"), 4, "0"))
    val redacted = regexp_replace(regexp_replace(dirty, emailRe, "<EMAIL>"), phoneRe, "<PHONE>")
    documents(s, d).select(
      $"doc_id",
      md5(redacted).as("redacted_fp"),
      size(split(dirty, emailRe)).cast("long").minus(1).as("n_emails"),
      size(split(redacted, "<PHONE>", -1)).cast("long").minus(1).as("n_phones"))
      .orderBy($"doc_id")
  }

  val txt06Sql: String =
    """WITH dirty_t AS (
      |  SELECT doc_id,
      |    text || ' contact user' || doc_id || '@example.com or 555-' || lpad(CAST(doc_id AS VARCHAR), 4, '0') AS dirty
      |  FROM documents),
      |red AS (
      |  SELECT doc_id, dirty,
      |    regexp_replace(regexp_replace(dirty, '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]+', '<EMAIL>', 'g'),
      |      '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted
      |  FROM dirty_t)
      |SELECT doc_id, md5(redacted) AS redacted_fp,
      |  CAST(len(regexp_extract_all(dirty, '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]+')) AS BIGINT) AS n_emails,
      |  CAST(len(string_split(redacted, '<PHONE>')) - 1 AS BIGINT) AS n_phones
      |FROM red
      |ORDER BY doc_id""".stripMargin

  // txt07 — deterministic train/val/test split assignment: hash-bucket on
  // md5(doc_id) (content-independent, stable across runs and engines —
  // the property a training pipeline needs so resharding or re-crawling
  // never migrates a document between splits). 5% test / 10% val / 85%
  // train; reported as per-(split, lang) doc and token counts. Pure
  // narrow transform + one small agg — no shuffle of the corpus text.
  def txt07SplitAssign(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bucket = conv(substring(md5($"doc_id".cast("string")), 1, 4), 16, 10)
      .cast("long") % 100
    documents(s, d)
      .withColumn("split",
        when(bucket < 5, "test").when(bucket < 15, "val").otherwise("train"))
      .groupBy($"split", $"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens($"text")).cast("long")).as("n_tokens"))
      .orderBy($"split", $"lang")
  }

  val txt07Sql: String =
    """WITH assigned AS (
      |  SELECT lang, text,
      |    CASE WHEN ('0x' || md5(CAST(doc_id AS VARCHAR))[1:4])::BIGINT % 100 < 5 THEN 'test'
      |         WHEN ('0x' || md5(CAST(doc_id AS VARCHAR))[1:4])::BIGINT % 100 < 15 THEN 'val'
      |         ELSE 'train' END AS split
      |  FROM documents)
      |SELECT split, lang, COUNT(*) AS n_docs,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |FROM assigned
      |GROUP BY split, lang
      |ORDER BY split, lang""".stripMargin

  /** Per-gram repeat statistics of a gram array, computed WITHOUT a
    * shuffle: sort the array, then a single `aggregate` fold counts runs of
    * identical grams — max run length = the top gram's count, and the sum
    * of runs ≥ 2 = grams occurring more than once. O(g log g) per document
    * inside whole-stage codegen; at 100 TB this keeps repetition scoring a
    * narrow map over the corpus instead of a (doc, gram) shuffle.
    * Returns struct(maxrun, dup).
    */
  private def runStats(grams: Column): Column = {
    val zero = struct(lit("").as("prev"), lit(0L).as("run"),
      lit(0L).as("maxrun"), lit(0L).as("dup"))
    def flushMax(acc: Column) = greatest(acc.getField("maxrun"), acc.getField("run"))
    def flushDup(acc: Column) = acc.getField("dup") +
      when(acc.getField("run") >= 2, acc.getField("run")).otherwise(lit(0L))
    aggregate(
      array_sort(grams),
      zero,
      (acc, x) => when(x === acc.getField("prev"),
        struct(acc.getField("prev").as("prev"), (acc.getField("run") + 1).as("run"),
          acc.getField("maxrun").as("maxrun"), acc.getField("dup").as("dup")))
        .otherwise(
          struct(x.as("prev"), lit(1L).as("run"),
            flushMax(acc).as("maxrun"), flushDup(acc).as("dup"))),
      acc => struct(flushMax(acc).as("maxrun"), flushDup(acc).as("dup")))
  }

  // txt08 — repetition-based quality signals (the Gopher-style "repetitive
  // document" filters a training pipeline applies before dedup): fraction
  // of bigrams taken by the single most frequent bigram, and fraction of
  // trigrams that occur more than once. The corpus is single-space token
  // text, so grams are token n-grams. Zero corpus shuffle (see runStats);
  // the only exchange is the gate's output ORDER BY.
  def txt08Repetition(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = tokens($"text")
    // sliding n-grams via zip_with against the shifted array: the tail
    // entries pair with null, concat propagates the null, filter drops it
    val biRaw = zip_with(toks, slice(toks, lit(2), size(toks)),
      (a, b) => concat(a, lit(" "), b))
    val triRaw = zip_with(biRaw, slice(toks, lit(3), size(toks)),
      (g, t) => concat(g, lit(" "), t))
    def dense(g: Column): Column = filter(g, x => x.isNotNull)
    documents(s, d)
      .filter(size(toks) >= 3)
      .select($"doc_id", dense(biRaw).as("bi"), dense(triRaw).as("tri"))
      .select(
        $"doc_id",
        size($"bi").cast("long").as("n_bigrams"),
        (runStats($"bi").getField("maxrun").cast("double") / size($"bi"))
          .as("top_bigram_frac"),
        (runStats($"tri").getField("dup").cast("double") / size($"tri"))
          .as("dup_trigram_frac"))
      .orderBy($"doc_id")
  }

  val txt08Sql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |g AS (
      |  SELECT doc_id,
      |    list_transform(generate_series(1, len(toks) - 1),
      |      i -> toks[i] || ' ' || toks[i + 1]) AS bi,
      |    list_transform(generate_series(1, len(toks) - 2),
      |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) AS tri
      |  FROM t),
      |bic AS (
      |  SELECT doc_id, gram, COUNT(*) AS cnt
      |  FROM (SELECT doc_id, unnest(bi) AS gram FROM g) GROUP BY doc_id, gram),
      |bis AS (
      |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
      |    CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS top_bigram_frac
      |  FROM bic GROUP BY doc_id),
      |tric AS (
      |  SELECT doc_id, gram, COUNT(*) AS cnt
      |  FROM (SELECT doc_id, unnest(tri) AS gram FROM g) GROUP BY doc_id, gram),
      |tris AS (
      |  SELECT doc_id,
      |    CAST(COALESCE(SUM(cnt) FILTER (WHERE cnt >= 2), 0) AS DOUBLE)
      |      / CAST(SUM(cnt) AS DOUBLE) AS dup_trigram_frac
      |  FROM tric GROUP BY doc_id)
      |SELECT b.doc_id, b.n_bigrams, b.top_bigram_frac, tris.dup_trigram_frac
      |FROM bis b JOIN tris USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // txt09 — BPE-ish regex token counting (the brief's second tokenizer
  // class beside whitespace tokens): letter runs, digit runs, and single
  // punctuation marks, GPT-2-pretokenizer style. The corpus is pure
  // [a-z ] text, so (txt06 precedent) a deterministic raw suffix with
  // version numbers / prices / punctuation is appended per doc before
  // tokenizing — that is exactly the text shape a crawled corpus has and
  // the whitespace tokenizer undercounts. Patterns stay in the Java∩RE2
  // subset so Spark and DuckDB agree. Narrow codegen'd map, no shuffle.
  def txt09BpeTokens(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val raw = concat($"text", lit(" v"), $"doc_id", lit(".2 costs $"),
      $"doc_id" % 100, lit(".99, ok!"))
    def n(pat: String): Column = size(regexp_extract_all(raw, lit(pat), lit(0)))
    val nWord = n("[a-z]+")
    val nNum = n("[0-9]+")
    val nPunct = n("[^a-z0-9 ]")
    documents(s, d)
      .select(
        $"doc_id",
        (nWord + nNum + nPunct).cast("long").as("n_bpe_tokens"),
        nWord.cast("long").as("n_word_runs"),
        nNum.cast("long").as("n_digit_runs"),
        nPunct.cast("long").as("n_punct"),
        ((nWord + nNum + nPunct).cast("double") / size(tokens($"text")))
          .as("bpe_per_ws_token"))
      .orderBy($"doc_id")
  }

  val txt09Sql: String =
    """WITH raw_t AS (
      |  SELECT doc_id, text,
      |    text || ' v' || doc_id || '.2 costs $' || (doc_id % 100) || '.99, ok!' AS raw
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(raw, '[a-z]+')) + len(regexp_extract_all(raw, '[0-9]+'))
      |     + len(regexp_extract_all(raw, '[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens,
      |  CAST(len(regexp_extract_all(raw, '[a-z]+')) AS BIGINT) AS n_word_runs,
      |  CAST(len(regexp_extract_all(raw, '[0-9]+')) AS BIGINT) AS n_digit_runs,
      |  CAST(len(regexp_extract_all(raw, '[^a-z0-9 ]')) AS BIGINT) AS n_punct,
      |  CAST(len(regexp_extract_all(raw, '[a-z]+')) + len(regexp_extract_all(raw, '[0-9]+'))
      |     + len(regexp_extract_all(raw, '[^a-z0-9 ]')) AS DOUBLE)
      |    / len(string_split(text, ' ')) AS bpe_per_ws_token
      |FROM raw_t
      |ORDER BY doc_id""".stripMargin

  // txt10 — deterministic domain-mixture sampling: each source gets a
  // target keep-rate (here a formula over the source id; in production a
  // broadcast weights table — same plan), and a doc survives iff its
  // content-independent md5(doc_id) bucket clears the rate. Uses a
  // DIFFERENT md5 window (chars 5-8) than txt07's split assignment so
  // sampling and split membership stay independent. This is how a
  // training pipeline hits a target mixture reproducibly: resharding,
  // re-crawling, or engine swaps never change which docs are kept.
  // Narrow filter + one slim agg — the corpus text never shuffles.
  def txt10MixtureSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rate = lit(100) - lit(4) * substring($"source", 4, 10).cast("int")
    val bucket = conv(substring(md5($"doc_id".cast("string")), 5, 4), 16, 10)
      .cast("long") % 100
    documents(s, d)
      .withColumn("keep_rate", rate)
      .filter(bucket < rate)
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs_kept"),
        sum(size(tokens($"text")).cast("long")).as("n_tokens_kept"),
        first($"keep_rate").cast("long").as("keep_rate_pct"))
      .orderBy($"source")
  }

  val txt10Sql: String =
    """WITH sampled AS (
      |  SELECT source, text,
      |    100 - 4 * CAST(source[4:] AS INT) AS keep_rate
      |  FROM documents
      |  WHERE ('0x' || md5(CAST(doc_id AS VARCHAR))[5:8])::BIGINT % 100
      |        < 100 - 4 * CAST(source[4:] AS INT))
      |SELECT source, COUNT(*) AS n_docs_kept,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens_kept,
      |  CAST(MIN(keep_rate) AS BIGINT) AS keep_rate_pct
      |FROM sampled
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // txt11 — token-budget sequence packing: assign each doc to a pack
  // bucket by a third md5 window (chars 9-12), order docs within the
  // bucket deterministically, and cut sequences where the running token
  // count crosses the budget. seq_id = floor((cumsum - n_tok) / budget)
  // is the "chunked greedy" packing a per-writer-task packer produces.
  // The window is PER-BUCKET (buckets ≈ writer parallelism), so no
  // global sort and every window's state is bounded — the shape that
  // holds at 100 TB, where a single ORDER BY over the corpus would not.
  def txt11SeqPack(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val budget = 2048
    val bucket = conv(substring(md5($"doc_id".cast("string")), 9, 4), 16, 10)
      .cast("long") % 8
    val nTok = size(tokens($"text")).cast("long")
    val w = Window.partitionBy($"pack_bucket").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents(s, d)
      .select($"doc_id", bucket.as("pack_bucket"), nTok.as("n_tok"))
      .withColumn("cum", sum($"n_tok").over(w))
      .withColumn("seq_id", (($"cum" - $"n_tok") / budget).cast("long"))
      .groupBy($"pack_bucket", $"seq_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tok").as("n_tokens"),
        (sum($"n_tok").cast("double") / budget).as("fill_frac"))
      .orderBy($"pack_bucket", $"seq_id")
  }

  val txt11Sql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    ('0x' || md5(CAST(doc_id AS VARCHAR))[9:12])::BIGINT % 8 AS pack_bucket,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |packed AS (
      |  SELECT pack_bucket, n_tok,
      |    CAST(FLOOR((SUM(n_tok) OVER (PARTITION BY pack_bucket ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok) / 2048.0) AS BIGINT) AS seq_id
      |  FROM toks)
      |SELECT pack_bucket, seq_id, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      |  CAST(SUM(n_tok) AS DOUBLE) / 2048 AS fill_frac
      |FROM packed
      |GROUP BY pack_bucket, seq_id
      |ORDER BY pack_bucket, seq_id""".stripMargin

  // txt12 — corpus-statistics LM quality score (the CCNet-style filter):
  // a bigram model TRAINED ON THE CORPUS ITSELF scores every document by
  // its mean bigram conditional probability P(w2|w1) = c(w1 w2) / c(w1 ·).
  // Documents full of corpus-typical word transitions score high;
  // boilerplate/gibberish scores low — the corpus-driven complement to the
  // doc-local quality ops (txt02 ratios, txt08 repetition).
  //
  // Scale shape (plan-asserted in PlanShapeSpec): the corpus-sized
  // pair-instance stream hash-aggregates into the bigram table c2, and the
  // prefix counts c1 = Σ_w2 c2 derive from c2, never by re-aggregating
  // instances LOGICALLY — physically Spark recomputes the shared c2
  // lineage (column pruning makes the subtrees non-canonical, so neither
  // ReuseExchange nor a window helps; a measured window-over-c2 variant
  // was 1.7x SLOWER at sf0.1 than the recompute, because the window's
  // partition sort and the lost broadcast of the score table dwarf one
  // extra codegen'd explode+hash-agg pass). The asserted bound: at most
  // two (w1, w2) pair shuffles, everything past c2 vocabulary-sized,
  // nothing corpus-grown broadcast. The score join's hot bigrams
  // ("the …" at 100 TB) ride on AQE skew-join splitting when the table
  // outgrows broadcast — skewJoin.enabled is asserted alongside the
  // shape. Determinism: integer-ppm arithmetic throughout (floor
  // division, like sim06's quantizer) — no cross-engine floating-point
  // rounding to disagree on.
  def txt12LmQuality(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = documents(s, d)
      .filter(size(tokens($"text")) >= 2)
      .select($"doc_id", explode(expr(
        "transform(sequence(0, size(split(text, ' ')) - 2), " +
          "i -> struct(split(text, ' ')[i] AS w1, split(text, ' ')[i + 1] AS w2))")).as("bg"))
      .select($"doc_id", $"bg.w1", $"bg.w2")
    val c2 = pairs.groupBy($"w1", $"w2").agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy($"w1").agg(sum($"c2").as("c1"))
    val scoreTbl = c2.join(c1, "w1")
      .select($"w1", $"w2", expr("(1000000 * c2) div c1").as("ppm"))
    pairs
      .join(scoreTbl, Seq("w1", "w2"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum($"ppm").as("_sum"))
      .select($"doc_id", $"n_bigrams", expr("_sum div n_bigrams").as("score_ppm"))
      .orderBy($"doc_id")
  }

  val txt12Sql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |pairs AS (
      |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t)),
      |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM pairs GROUP BY w1, w2),
      |c1 AS (SELECT w1, COUNT(*) AS c1 FROM pairs GROUP BY w1)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  CAST(SUM((1000000 * c2.c2) // c1.c1) // COUNT(*) AS BIGINT) AS score_ppm
      |FROM pairs JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // txt13 — BM25 keyword relevance scoring: every document scored against
  // a fixed query-term set (the sparse/retrieval-side text op; sim09 fuses
  // it with dense ANN). Corpus statistics (N, per-term document frequency,
  // total token count) come from ONE slim aggregation whose single row is
  // broadcast back over the corpus; scoring is then a narrow per-row map —
  // the corpus text never shuffles, which is the 100 TB shape (a real
  // query set is a broadcast table; same plan).
  //
  // Determinism (txt12 precedent): classic BM25's idf is ln of the
  // Robertson–Sparck-Jones odds; ln is transcendental and not identically
  // rounded across engines, so the idf here is the RSJ odds itself,
  // (N - df + 0.5)/(df + 0.5), un-logged — per-term monotone-identical
  // ranking. All corpus sums are over integers (exact in any order), and
  // the per-row score uses only +,*,/ (IEEE-exact) in one fixed
  // association order mirrored by the oracle, so the doubles are
  // bit-identical cross-engine.
  val bm25Terms: Seq[String] = Seq("fast", "data", "table")

  /** Per-document BM25-RSJ scores for an arbitrary query-term set, UNSORTED
    * — the composable form ([[txt13Bm25]] adds the gate's ORDER BY;
    * [[graft.operators.Similarity.sim09HybridRrf]] feeds it straight into a
    * top-k cut, where a sort here would only add a useless range exchange).
    * The gate keeps the fixed [[bm25Terms]] seq; production callers pass
    * their own query terms — same one-broadcast-stats-row, narrow-map plan
    * for any term set.
    */
  def bm25Scores(s: SparkSession, d: String,
                 terms: Seq[String] = bm25Terms): DataFrame = {
    import s.implicits._
    val toks = tokens($"text")
    val base = documents(s, d).select(
      ($"doc_id" +: size(toks).cast("long").as("dl") +: terms.map(t =>
        size(filter(toks, x => x === t)).cast("long").as(s"tf_$t"))): _*)
    val statAggs = count(lit(1)).as("n") +: sum($"dl").as("sumdl") +:
      terms.map(t => sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t"))
    val stats = base.agg(statAggs.head, statAggs.tail: _*)
    def dbl(c: Column): Column = c.cast("double")
    // k1 = 1.2, b = 0.75; norm = k1 * ((1-b) + b * dl/avgdl)
    def termScore(t: String): Column = {
      val tf = dbl(col(s"tf_$t")); val df = dbl(col(s"df_$t"))
      val idf = (dbl($"n") - df + lit(0.5)) / (df + lit(0.5))
      val norm = lit(1.2) * (lit(0.25) + lit(0.75) * (dbl($"dl") / (dbl($"sumdl") / dbl($"n"))))
      idf * ((tf * lit(2.2)) / (tf + norm))
    }
    base.crossJoin(broadcast(stats))
      .select(
        ($"doc_id" +: $"dl".as("n_tokens") +:
          terms.map(t => col(s"tf_$t")) :+
          terms.map(termScore).reduceLeft(_ + _).as("bm25")): _*)
  }

  def txt13Bm25(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    bm25Scores(s, d).orderBy($"doc_id")
  }

  val txt13Sql: String = {
    val tfCols = bm25Terms.map(t =>
      s"CAST(len(list_filter(string_split(text, ' '), x -> x = '$t')) AS BIGINT) AS tf_$t")
      .mkString(",\n      |    ")
    val dfCols = bm25Terms.map(t =>
      s"SUM(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS df_$t").mkString(", ")
    val scores = bm25Terms.map(t =>
      s"""(((CAST(n AS DOUBLE) - CAST(df_$t AS DOUBLE) + 0.5) / (CAST(df_$t AS DOUBLE) + 0.5))
         |    * ((CAST(tf_$t AS DOUBLE) * 2.2)
         |       / (CAST(tf_$t AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE)))))))""".stripMargin)
      .mkString("\n      |  + ")
    s"""WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
      |    $tfCols
      |  FROM documents),
      |stats AS (
      |  SELECT COUNT(*) AS n, SUM(dl) AS sumdl, $dfCols FROM t)
      |SELECT doc_id, dl AS n_tokens, ${bm25Terms.map(t => s"tf_$t").mkString(", ")},
      |  $scores AS bm25
      |FROM t, stats
      |ORDER BY doc_id""".stripMargin
  }

  // ---- persisted inverted keyword index (the sparse-retrieval scale path)
  //
  // txt13/bm25Scores score by SCANNING the corpus — correct, one narrow
  // pass, but a retrieval system answering many queries wants the classic
  // inverted-file shape instead: postings (term, doc_id, tf, dl) persisted
  // once, a query reading ONLY its terms' postings. dl is DENORMALIZED
  // into every posting (the impact-ordered-posting trick: everything
  // needed to score a hit rides the posting row) so query-time scoring
  // joins nothing corpus-sized — just the broadcast per-term df row and
  // the one-row corpus stats. Postings are hash-bucketed by term into
  // `tb = pmod(hash(term), nBuckets)` partition directories rather than
  // directory-per-term (a 100 TB corpus has millions of distinct terms;
  // 64-ish directories prune just as well because query terms are
  // plan-time literals — the probe's `tb IN (...)` is STATIC partition
  // pruning, no DPP machinery needed) — the same layout contract as
  // sim05's cell directories.
  //
  // Build cost: one (term, doc_id) aggregation of the exploded token
  // stream — the single corpus-sized shuffle, paid at BUILD time, slim
  // (term, doc_id, dl) rows. Rebuild on corpus drift; a corpus that
  // changes in place is the CDC-maintained index's job (below).

  def textIndexBuckets: Int = 64

  /** Build the index over `docs` as one `seg=base` segment: postings,
    * per-term df and corpus stats, plus the `_nbuckets` marker.
    */
  def buildTextIndex(docs: DataFrame, indexDir: String,
                     nBuckets: Int = textIndexBuckets): Unit = {
    val s = docs.sparkSession
    import s.implicits._
    // a (re)build starts a NEW index: earlier segments described a corpus
    // that no longer exists — the buildAnnIndex wipe contract
    val root = new org.apache.hadoop.fs.Path(indexDir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    val base = docs
      .select($"doc_id", size(tokens($"text")).cast("long").as("dl"),
        explode(tokens($"text")).as("term"))
    base.groupBy($"term", $"doc_id", $"dl").agg(count(lit(1)).as("tf"))
      .withColumn("tb", pmod(hash($"term"), lit(nBuckets)))
      .write.mode("overwrite").partitionBy("tb")
      .parquet(s"$indexDir/postings/seg=base")
    // per-term document frequency — recomputed from the written postings
    // (slim read, no second corpus tokenization), bucketed like them
    s.read.parquet(s"$indexDir/postings/seg=base")
      .groupBy($"term").agg(count(lit(1)).as("df"))
      .withColumn("tb", pmod(hash($"term"), lit(nBuckets)))
      .write.mode("overwrite").partitionBy("tb")
      .parquet(s"$indexDir/termstats/seg=base")
    // corpus stats over ALL the docs (zero-match docs count toward n and
    // sumdl — the txt13 statistics contract)
    docs.select(size(tokens($"text")).cast("long").as("dl"))
      .agg(count(lit(1)).as("n"), sum($"dl").as("sumdl"))
      .write.mode("overwrite").parquet(s"$indexDir/stats/seg=base")
    writeBucketMarker(fs, indexDir, nBuckets)
  }

  /** The index's RECORDED term-bucket count (`_nbuckets` at the root).
    * The bucket count became a runtime property when re-bucketing
    * ([[rebucketCdcTextIndex]]) arrived: a probe pruning with the wrong
    * count reads the wrong directories and silently misses postings, so
    * the layout records its own count and the probes verify against it
    * by name. Indexes built
    * before the marker existed return None (verification skipped).
    */
  def textIndexBucketCount(s: SparkSession, indexDir: String): Option[Int] = {
    val marker = new org.apache.hadoop.fs.Path(indexDir, "_nbuckets")
    val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
    try {
      if (!fs.exists(marker)) None
      else {
        val in = fs.open(marker)
        val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        // an empty or garbled marker is NOT "no marker": the layout
        // claims a recorded count it cannot state — fail by name
        // instead of letting ''.toInt's NumberFormatException escape
        // through every probe/append/compact
        try Some(raw.toInt)
        catch { case _: NumberFormatException =>
          throw new IllegalStateException(
            s"corrupt _nbuckets marker at $marker ('$raw' is not an int) — " +
              "the index layout is damaged; rebuild or restore the marker")
        }
      }
    } catch { case _: java.io.IOException => None }
  }

  private def writeBucketMarker(fs: org.apache.hadoop.fs.FileSystem,
                                root: String, nBuckets: Int): Unit = {
    val out = fs.create(
      new org.apache.hadoop.fs.Path(root, "_nbuckets"), true)
    try out.write(nBuckets.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The query terms' bucket ids, computed by Spark's own hash expression
    * over a local relation at plan-build time (constant-folded — no job):
    * the ONE derivation both the build's partitionBy column and the
    * probe's pruning literals share, so they can never drift.
    */
  private def termBuckets(s: SparkSession, terms: Seq[String],
                          nBuckets: Int): Seq[Int] = {
    val row = s.range(1)
      .select(terms.map(t => pmod(hash(lit(t)), lit(nBuckets))): _*).head()
    terms.indices.map(row.getInt).distinct
  }

  /** Top-k BM25-RSJ candidates from the PERSISTED index: reads only the
    * query terms' posting buckets (static partition pruning), scores each
    * hit against broadcast df/corpus stats, folds per-doc term scores in
    * SORTED TERM ORDER (collect_list order is nondeterministic; the
    * array_sort fixes the double-addition order so the oracle's
    * `list(sc ORDER BY term)` fold is bit-identical), and cuts to top-k
    * with ranks via [[Similarity.rankedTopK]] — per-partition top-k, no
    * corpus-sized sort. Only docs matching >= 1 term appear (retrieval
    * semantics); the corpus text is never touched.
    */
  def bm25TopKViaIndex(s: SparkSession, indexDir: String, terms: Seq[String],
                       k: Int, nBuckets: Int = textIndexBuckets,
                       excludeDocId: Long = Long.MinValue): DataFrame = {
    import s.implicits._
    // pruning with a bucket count that differs from the layout's reads
    // the wrong directories and silently MISSES postings — fail by name
    // against the recorded count instead (absent on pre-marker indexes)
    textIndexBucketCount(s, indexDir).foreach(recorded =>
      require(recorded == nBuckets,
        s"probe asked for $nBuckets term buckets but the index at $indexDir " +
          s"records $recorded (re-bucketed?) — pass the recorded count"))
    val tbs = termBuckets(s, terms, nBuckets)
    // n/sumdl/df are long sums over the `seg=` directories (one,
    // `seg=base`, for a one-shot build) — exact in any order
    val stats = s.read.parquet(s"$indexDir/stats")
      .agg(sum($"n").as("n"), sum($"sumdl").as("sumdl"))
    val tstats = s.read.parquet(s"$indexDir/termstats")
      .filter($"tb".isin(tbs: _*) && $"term".isin(terms: _*))
      .groupBy($"term").agg(sum($"df").as("df"))
    val posts = s.read.parquet(s"$indexDir/postings")
      .filter($"tb".isin(tbs: _*) && $"term".isin(terms: _*))
      .filter($"doc_id" =!= excludeDocId)
      .select($"term", $"doc_id", $"dl", $"tf")
    bm25ScoreTopK(posts, tstats, stats, k)
  }

  /** The BM25-RSJ scoring core shared by [[bm25TopKViaIndex]] and
    * [[bm25TopKViaCdcIndex]]: `posts` = (term, doc_id, dl, tf) pruned
    * hits, `tstats` = per-term df (≤ |query terms| rows — broadcast),
    * `stats` = one (n, sumdl) row. Per-doc term scores fold in SORTED
    * TERM ORDER so the double addition is bit-identical to the oracle's
    * `list(sc ORDER BY term)` fold; top-k cuts per-partition via
    * rankedTopK — never a corpus-sized global sort.
    */
  private def bm25ScoreTopK(posts: DataFrame, tstats: DataFrame,
                            stats: DataFrame, k: Int): DataFrame = {
    import posts.sparkSession.implicits._
    def dbl(c: Column): Column = c.cast("double")
    val idf = (dbl($"n") - dbl($"df") + lit(0.5)) / (dbl($"df") + lit(0.5))
    val norm = lit(1.2) * (lit(0.25) +
      lit(0.75) * (dbl($"dl") / (dbl($"sumdl") / dbl($"n"))))
    val sc = idf * ((dbl($"tf") * lit(2.2)) / (dbl($"tf") + norm))
    val perDoc = posts.join(broadcast(tstats), "term").crossJoin(broadcast(stats))
      .select($"doc_id", struct($"term", sc.as("sc")).as("ts"))
      .groupBy($"doc_id")
      .agg(aggregate(array_sort(collect_list($"ts")), lit(0.0),
        (acc, x) => acc + x.getField("sc")).as("bm25"))
    Similarity.rankedTopK(perDoc, $"bm25", $"doc_id", k, "r_sparse")
  }

  // ---- CDC-maintained text index (cdcm4) -------------------------------
  //
  // The one-shot index above assumes docs are immutable; a CDC stream
  // UPDATES and DELETES them. The CDC index handles both
  // with MERGE-ON-READ versioning (the Lucene/Delta shape, built from
  // Spark primitives): postings rows carry the writing version, and a
  // slim per-segment DOC LOG records (doc_id, ver, deleted, dl) for
  // every key the batch touched. Nothing is ever rewritten on ingest —
  // append cost stays O(batch) — and the probe reconstructs liveness:
  // latest version per doc from the doc log (one argmax over slim
  // rows), postings joined on (doc_id, ver) so stale versions drop out,
  // df/n/sumdl recomputed from LIVE rows only. Probe results are
  // therefore exactly a full rebuild over the latest images — the
  // freshness contract cdcm4 puts under the DuckDB oracle.

  /** Append one CDC micro-batch's per-key latest images to the index.
    * `images` must hold one row per touched key: (doc_id, text, ver,
    * deleted), with `ver` strictly increasing across a key's successive
    * batches (the batch id — stream order makes it monotone). Replaying
    * a batch rewrites exactly its own segment — idempotent — unless a
    * fold already consumed it: [[Layout.append]] then skips it (false).
    * Returns true iff a segment was written.
    */
  def appendCdcTextSegment(images: DataFrame, indexDir: String,
                           segment: String,
                           nBuckets: Int = textIndexBuckets): Boolean = {
    val s = images.sparkSession
    import s.implicits._
    Layout.append(s, indexDir, segment) { out =>
      // the FIRST append defines the recorded bucket count (the text twin
      // of the ANN index's first-batch quantizer contract); every later
      // append must match it or its rows land in directories the probes
      // never prune to — silently unsearchable
      textIndexBucketCount(s, out.dir) match {
        case Some(recorded) => require(recorded == nBuckets,
          s"append bucketed by $nBuckets but the index at $indexDir records " +
            s"$recorded term buckets (re-bucketed?) — pass the recorded count")
        case None => writeBucketMarker(new org.apache.hadoop.fs.Path(indexDir)
          .getFileSystem(s.sparkContext.hadoopConfiguration), out.dir, nBuckets)
      }
      Seq(
        () => out.write("postings", images.filter(!$"deleted")
          .select($"doc_id", $"ver",
            size(tokens($"text")).cast("long").as("dl"),
            explode(tokens($"text")).as("term"))
          .groupBy($"term", $"doc_id", $"ver", $"dl")
          .agg(count(lit(1)).as("tf"))
          .withColumn("tb", pmod(hash($"term"), lit(nBuckets)))
          // cluster by bucket before the partitionBy write: without this
          // every task writes into every bucket dir (tasks x buckets small
          // files PER SEGMENT — a steady stream melts the probe's read
          // cost); with it each bucket's rows land in O(1) files
          .repartition($"tb"), "tb"),
        // the doc log records DELETES too (a tombstone is a version); slim
        // rows — a handful of files per segment, not one per task
        () => out.write("doclog", images.select($"doc_id", $"ver", $"deleted",
            when($"deleted", lit(0L))
              .otherwise(size(tokens($"text")).cast("long")).as("dl"))
          .coalesce(4)))
    }
  }

  /** The CDC text index's recorded term-bucket count: the `_nbuckets` of
    * its committed generation ([[Layout.committedView]]).
    */
  def cdcTextIndexBucketCount(s: SparkSession, indexDir: String): Option[Int] =
    Layout.committedView(s, indexDir).flatMap(v => textIndexBucketCount(s, v.dir))

  /** Fold the CDC index to a live-only single base segment: superseded
    * and deleted versions' postings are DROPPED (the only operation that
    * ever removes them — ingest is append-only), the doc log collapses
    * to one row per live doc, tombstones vanish (no older segment
    * remains for them to mask). Probe results are unchanged by
    * construction — the probe's liveness join already ignored everything
    * compaction removes (spec-pinned) — but the probe's doc-log scan
    * shrinks from O(touched-versions) to O(live docs) and the pruned
    * posting read loses its seg fan-out (O(1) directories per bucket
    * again). Committed through [[Layout.fold]].
    */
  def compactCdcTextIndex(s: SparkSession, indexDir: String,
                          nBuckets: Int = textIndexBuckets): Unit = {
    import s.implicits._
    cdcTextIndexBucketCount(s, indexDir).foreach(recorded =>
      require(recorded == nBuckets,
        s"compact asked for $nBuckets term buckets but the index at $indexDir " +
          s"records $recorded (re-bucketed?) — pass the recorded count"))
    // posting files live inside their `tb=` directories, so read tasks
    // carry one bucket's rows and the partitionBy write lands them back
    // without an exchange
    foldCdcTextIndex(s, indexDir, nBuckets)(
      _.select($"term", $"doc_id", $"ver", $"dl", $"tf", $"tb"))
  }

  /** RE-BUCKET the CDC-maintained index: rewrite the postings under a
    * NEW term-bucket count — one postings-sized shuffle, no corpus or
    * change-stream re-read. `nBuckets` is fixed when the index is
    * created, and a corpus grown 100× wants its per-bucket postings
    * files back down to probe-sized reads without a full rebuild. A
    * re-bucket subsumes a compact (reading every posting row anyway, it
    * drops superseded and tombstoned versions and collapses the doc log
    * for free), so it commits through the same [[Layout.fold]]. The new
    * generation carries the new `_nbuckets` marker; subsequent appends and probes verify
    * against it by name — under live ingest this runs exactly where the
    * compactors do (the serialized foreachBatch maintenance window or a
    * maintenance job), and an append still carrying the old count after
    * the fold fails loudly instead of writing unsearchable rows.
    */
  def rebucketCdcTextIndex(s: SparkSession, indexDir: String,
                           newBuckets: Int): Unit = {
    require(newBuckets > 0, s"newBuckets must be positive, got $newBuckets")
    import s.implicits._
    // the one unavoidable shuffle: rows MOVE buckets
    foldCdcTextIndex(s, indexDir, newBuckets)(
      _.select($"term", $"doc_id", $"ver", $"dl", $"tf")
        .withColumn("tb", pmod(hash($"term"), lit(newBuckets)))
        .repartition($"tb"))
  }

  /** The one body of [[compactCdcTextIndex]] and [[rebucketCdcTextIndex]]:
    * the doc-log argmax pins each live doc's version, the (doc_id, ver)
    * join keeps only those postings, and the doc log collapses to the
    * live rows. `postings` turns the live postings into the staged rows
    * partitioned by `tb`; the staged tree records `nBuckets`.
    */
  private def foldCdcTextIndex(s: SparkSession, indexDir: String,
                               nBuckets: Int)(postings: DataFrame => DataFrame): Unit = {
    import s.implicits._
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    Layout.fold(s, indexDir) { (view, out) =>
      val live = Layout.latestLive(view.read("doclog"), "doc_id", "dl")
        .persist() // feeds the posting filter AND the folded doc log
      try {
        // both staging legs read the cached `live` frame and commit
        // with the fold. They run one after the other, doclog
        // first, so the doclog write builds the cache: an adaptive write
        // that finds a cached frame not yet built launches a job to build
        // it, so two legs started together could both launch one (the
        // job count varied run to run), and a separate job pinning the
        // cache costs one job more per fold than this order
        out.write("doclog", live)
        out.write("postings", postings(view.read("postings")
            .join(live.select($"doc_id", $"ver"), Seq("doc_id", "ver"))), "tb")
        writeBucketMarker(fs, out.dir, nBuckets)
      } finally live.unpersist()
    }
  }

  /** Per-bucket LIVE posting occupancy of the CDC text index — the
    * measurement that decides WHEN to run [[rebucketCdcTextIndex]]. A
    * probe reads its query terms' buckets whole, so the biggest bucket
    * IS the probe's read cost; when the corpus outgrows the recorded
    * count the right move is visible here as per-bucket posting counts
    * past the probe-read budget (rule of thumb: re-bucket ~4× when the
    * MEAN bucket's live postings exceed what one probe task should
    * scan). Returns (tb, n_postings) over LIVE versions only, empty
    * buckets included with 0 so skew reads directly off the k rows.
    * Cost: the doc-log argmax + one slim bucketed count — the postings
    * are read (they must be — liveness is per row) but never shuffled
    * except as counts.
    */
  def cdcTextIndexStats(s: SparkSession, indexDir: String): DataFrame = {
    import s.implicits._
    val (nb, occupancy) = liveBucketOccupancy(s, indexDir)
    s.range(nb).select($"id".cast("int").as("tb"))
      .join(occupancy, Seq("tb"), "left")
      .select($"tb", coalesce($"n_postings", lit(0L)).as("n_postings"))
  }

  /** (recorded bucket count, per-bucket LIVE posting counts — occupied
    * buckets only) over the committed two-leg view: the policy must
    * never threshold on a torn in-flight append's half-written batch.
    * The ONE place the doclog-argmax/liveness-join/occupancy semantics
    * live — [[cdcTextIndexStats]] (zero-filled frame) and
    * [[cdcTextIndexAdvice]] (collected counts) both derive from it.
    */
  private def liveBucketOccupancy(s: SparkSession,
                                  indexDir: String): (Int, DataFrame) = {
    import s.implicits._
    val view = Layout.committedView(s, indexDir)
      .getOrElse(Layout.missingIndex(indexDir))
    val nb = textIndexBucketCount(s, view.dir).getOrElse(textIndexBuckets)
    val live = Layout.latestLive(view.read("doclog"), "doc_id")
    val occupancy = view.read("postings")
      .join(live.select($"doc_id", $"ver"), Seq("doc_id", "ver"))
      .groupBy($"tb").agg(count(lit(1)).as("n_postings"))
    (nb, occupancy)
  }

  /** The executable form of [[cdcTextIndexStats]]'s trigger prose:
    * `rebucket` is true when the BIGGEST bucket's live postings exceed
    * `probeReadBudget` — a probe reads its terms' buckets whole, so
    * the biggest bucket IS the probe's read cost. `suggestedBuckets`
    * grows the recorded count 4× at a time (the Scaladoc's rule of
    * thumb) until the PROJECTED mean under uniform term hashing fits
    * the budget; growth is capped at 2^20 buckets so a pathological
    * budget can't demand a per-term directory. The stats frame is
    * nBuckets rows by construction — a bounded driver-side collect.
    */
  final case class TextMaintenanceAdvice(rebucket: Boolean,
                                         suggestedBuckets: Int,
                                         nBuckets: Int, maxBucket: Long,
                                         meanBucket: Double,
                                         totalPostings: Long, reason: String)

  def textMaintenanceAdvice(stats: DataFrame,
                            probeReadBudget: Long = 1L << 20): TextMaintenanceAdvice =
    textMaintenanceAdviceOf(
      stats.select("tb", "n_postings").collect().map(_.getLong(1)),
      probeReadBudget)

  /** [[cdcTextIndexAdvice]]'s default probe-read budget: this share of
    * the index's live postings.
    */
  private[graft] val textBudgetFraction = 0.25

  /** One-pass stats→advice for the fractional-budget policy the gates
    * run (budget = max(1, totalPostings · fraction)): the occupancy DAG
    * executes ONCE and both the budget and the advice derive from the
    * same collected rows. The two-step form (`stats.agg(sum).head()`
    * for the budget, then [[textMaintenanceAdvice]]'s collect for the
    * advice) runs the full index measurement twice per decision — pure
    * overhead at fold-consideration cadence (guide §1.2: don't compute
    * things you throw away). Advice values are identical: for
    * non-negative totals `(total * 0.25).toLong == total / 4`.
    */
  def cdcTextIndexAdvice(s: SparkSession, indexDir: String,
                         budgetFraction: Double = textBudgetFraction): TextMaintenanceAdvice = {
    // [[liveBucketOccupancy]]'s frame, with the empty-bucket zero-fill
    // done on the k collected rows instead of a range join (one fewer
    // join per measurement; the advice only folds sum/max/length, so
    // row order is immaterial). tb is read type-agnostically — the
    // partition column is usually inferred IntegerType, but a session
    // with partitionColumnTypeInference off reads it as string.
    val (nb, occupancy) = liveBucketOccupancy(s, indexDir)
    val occupied = occupancy
      .collect().map(r => r.get(0).toString.toInt -> r.getLong(1)).toMap
    val counts = Array.tabulate(nb)(tb => occupied.getOrElse(tb, 0L))
    val budget = math.max(1L, (counts.sum * budgetFraction).toLong)
    textMaintenanceAdviceOf(counts, budget)
  }

  private def textMaintenanceAdviceOf(counts: Array[Long],
                                      probeReadBudget: Long): TextMaintenanceAdvice = {
    val rows = counts
    val nb = rows.length
    val total = rows.sum
    val maxBucket = if (nb == 0) 0L else rows.max
    val mean = if (nb == 0) 0.0 else total.toDouble / nb
    val over = maxBucket > probeReadBudget
    // always grow at least one 4× step: a hash-skewed bucket only
    // splits under a DIFFERENT modulus, so re-bucketing at the same
    // count is never the advice
    var suggested = if (over) math.min(1 << 20, nb * 4) else nb
    while (over && suggested < (1 << 20) &&
        total.toDouble / suggested > probeReadBudget) suggested *= 4
    val reason =
      if (over) s"biggest bucket $maxBucket postings > probe read budget $probeReadBudget"
      else "healthy"
    TextMaintenanceAdvice(over, suggested, nb, maxBucket, mean, total, reason)
  }

  /** Top-k BM25 over the CDC-maintained index, exactly as fresh as the
    * last appended batch. Plan shape at scale: the doc-log argmax is one
    * shuffle of slim 4-long rows (the only corpus-proportional step —
    * periodic compaction ([[compactCdcTextIndex]]) folds the log to live
    * rows); the liveness join's posting side is bucket-pruned to the
    * query terms, so AQE broadcasts it and the corpus-sized side never
    * shuffles twice; scoring is [[bm25ScoreTopK]]'s pruned-hits path.
    */
  def bm25TopKViaCdcIndex(s: SparkSession, indexDir: String,
                          terms: Seq[String], k: Int,
                          nBuckets: Int = textIndexBuckets): DataFrame = {
    import s.implicits._
    // one pinned manifest version (Layout.committedView): a torn
    // in-flight append is invisible and a fold renames nothing away
    val view = Layout.committedView(s, indexDir)
      .getOrElse(Layout.missingIndex(indexDir))
    // same drift guard as [[bm25TopKViaIndex]]: the wrong bucket count
    // prunes to the wrong directories and silently misses postings
    textIndexBucketCount(s, view.dir).foreach(recorded =>
      require(recorded == nBuckets,
        s"probe asked for $nBuckets term buckets but the index at $indexDir " +
          s"records $recorded (re-bucketed?) — pass the recorded count"))
    val live = Layout.latestLive(view.read("doclog"), "doc_id", "dl")
    val stats = live.agg(count(lit(1)).as("n"), sum($"dl").as("sumdl"))
    val tbs = termBuckets(s, terms, nBuckets)
    val posts = view.read("postings")
      .filter($"tb".isin(tbs: _*) && $"term".isin(terms: _*))
      .join(live.select($"doc_id", $"ver"), Seq("doc_id", "ver"))
      .select($"term", $"doc_id", $"dl", $"tf")
    // df from LIVE postings only — a stale or deleted version must not
    // inflate document frequency
    val tstats = posts.groupBy($"term").agg(count(lit(1)).as("df"))
    bm25ScoreTopK(posts, tstats, stats, k)
  }

  // txt18 — the index MAINTENANCE lifecycle under the oracle: the gate's
  // index is the CDC text index fed the corpus as three insert-only
  // batches (70% + 20% + 10%), then compacted back to a single base
  // segment — and only then probed. Every maintenance step is exact by
  // construction (the doc-log liveness and long-sum stats are order-free,
  // compaction keeps every live posting), so the probe must hash-match
  // the same full-corpus BM25 the one-shot build would give; a regression
  // in append bookkeeping, segment layout, or the fold's publish surfaces
  // HERE as a hash mismatch rather than only in a spec. k=100 with the
  // (bm25, doc_id) total order keeps the cut deterministic cross-engine.
  def txt18IndexLifecycle(s: SparkSession, d: String): DataFrame =
    bm25TopKViaCdcIndex(s, PersistedIndexes.textIndexLifecycle(s, d),
      bm25Terms, 100)

  val txt18Sql: String =
    s"""WITH ${bm25IndexOracleCtes(bm25Terms, "pt.doc_id IS NOT NULL")}
       |SELECT doc_id, bm25,
       |  CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS r_sparse
       |FROM sagg
       |QUALIFY r_sparse <= 100
       |ORDER BY r_sparse""".stripMargin

  // txt19 — EXACT heavy hitters via sketch-prune + exact-verify, the
  // two-phase pattern that makes "which terms dominate the corpus" viable
  // at 100 TB: a naive groupBy(term) shuffles the corpus's FULL distinct
  // vocabulary (billions of keys on web-scale text); here a Misra-Gries
  // sketch (graft.functions.HeavyHitters, a typed Aggregator — bounded
  // map-side state, mergeable partials, ONE slim row to the driver side
  // of the plan) first reduces the candidate set to <= capacity terms,
  // and only candidate-matching tokens enter the exact count. The result
  // is provably EXACT, not approximate: MG guarantees any term with true
  // frequency > n/capacity survives the sketch, and the gate's output
  // threshold (count * 200 > n, i.e. > 0.5% of all tokens) is strictly
  // above n/capacity with capacity = 400 — so the sketch can never drop a
  // true heavy hitter, and the exact phase discards any false positives.
  // That is why a plain GROUP BY / HAVING oracle can hash-match it.
  def txt19HeavyHitters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, d)
    // corpus token total: narrow per-row size() + one tiny agg (no explode)
    val total = docs.agg(sum(size(tokens($"text"))).cast("long")).as[Long].head()
    val tokPairs = docs.select($"doc_id", explode(tokens($"text")).as("term"))
    // phase 1 — sketch: bounded-memory candidate terms, capacity 400
    val mg = new graft.functions.HeavyHitters(capacity = 400, k = 400)
    val cands = tokPairs.select($"term").as[String]
      .select(mg.toColumn)
      .flatMap(_.map(_._1))
      .toDF("term")
    // phase 2 — exact verify: only candidate terms pay the count shuffle
    tokPairs.join(broadcast(cands), Seq("term"), "left_semi")
      .groupBy($"term")
      .agg(count(lit(1)).as("n_occurrences"),
        count_distinct($"doc_id").as("n_docs"))
      .filter($"n_occurrences" * lit(200L) > lit(total))
      .orderBy($"n_occurrences".desc, $"term")
  }

  val txt19Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tot AS (SELECT COUNT(*) AS n FROM tok)
      |SELECT term, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
      |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      |FROM tok, tot
      |GROUP BY term, tot.n
      |HAVING COUNT(*) * 200 > tot.n
      |ORDER BY n_occurrences DESC, term""".stripMargin

  // txt20 — deterministic STRATIFIED sampling (exactly n per stratum)
  // with BOUNDED aggregation state, no per-stratum window: ranking inside
  // a stratum with row_number().over(partitionBy(lang)) would move every
  // row of a hot stratum through one task (strata are few and huge at
  // 100 TB — the canonical skew shape). Instead each doc gets a
  // deterministic md5 draw, (draw, doc_id) is packed into one long, and
  // the bounded graft_min_k aggregate keeps the n smallest per stratum
  // with O(n) state and map-side partials — every map task collapses its
  // slice of a stratum to <= n values BEFORE the shuffle, so the exchange
  // carries <= n·numMapTasks rows per stratum no matter how hot it is.
  // Packing: draw is the first 40 md5 bits, doc_id the low 20 bits —
  // (draw, doc_id) lexicographic order survives the pack exactly while
  // doc_id < 2^20; out-of-range ids raise by name rather than sampling
  // wrong (at true 100 TB cardinality you'd widen the pack to two longs).
  def txt20StratifiedSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val n = 20
    val draw = conv(substring(md5($"doc_id".cast("string")), 1, 10), 16, 10)
      .cast("long")
    val key = when($"doc_id" >= lit(1L << 20),
        raise_error(concat(lit("txt20: doc_id exceeds 20-bit pack: "), $"doc_id")))
      .otherwise(draw * lit(1L << 20) + $"doc_id")
    documents(s, d)
      .select($"lang", key.as("key"))
      .groupBy($"lang")
      .agg(call_function("graft_min_k", $"key", lit(n)).as("ks"))
      .select($"lang", posexplode($"ks"))
      .select($"lang", ($"pos" + 1).cast("long").as("sample_rank"),
        pmod($"col", lit(1L << 20)).cast("long").as("doc_id"))
      .orderBy($"lang", $"sample_rank")
  }

  val txt20Sql: String =
    """WITH drawn AS (
      |  SELECT lang, doc_id,
      |    ('0x' || md5(CAST(doc_id AS VARCHAR))[1:10])::BIGINT AS draw
      |  FROM documents),
      |ranked AS (
      |  SELECT lang, doc_id,
      |    row_number() OVER (PARTITION BY lang ORDER BY draw, doc_id) AS r
      |  FROM drawn)
      |SELECT lang, CAST(r AS BIGINT) AS sample_rank, doc_id
      |FROM ranked WHERE r <= 20
      |ORDER BY lang, sample_rank""".stripMargin

  /** The inverted-index probe's DuckDB oracle as a CTE block (no leading
    * WITH): recompute per-(term, doc) postings, per-term df and corpus
    * stats from the documents table, score with the txt13 BM25-RSJ
    * formula, fold per-doc term scores in sorted term order — the
    * [[bm25TopKViaIndex]] contract. ONE definition shared by sim09b's
    * oracle and txt18's, so a scoring fix can never reach one and
    * silently miss the other (the latestImageOracle discipline).
    * `sscWhere` is the candidate-exclusion predicate (`pt.doc_id <> 0`
    * for the query-doc exclusion; a vacuous predicate for none).
    */
  def bm25IndexOracleCtes(terms: Seq[String], sscWhere: String,
                          docsRel: String = "documents"): String = {
    val postings = terms.map(t =>
      s"""SELECT doc_id, dl, '$t' AS term,
         |      CAST(len(list_filter(string_split(text, ' '), x -> x = '$t')) AS BIGINT) AS tf
         |    FROM (SELECT doc_id, text, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
         |          FROM $docsRel)""".stripMargin)
      .mkString("\n    UNION ALL\n    ")
    s"""pt AS (SELECT doc_id, dl, term, tf FROM (
       |    $postings
       |  ) WHERE tf > 0),
       |sstats AS (SELECT COUNT(*) AS n, SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS sumdl
       |           FROM $docsRel),
       |sdf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM pt GROUP BY term),
       |ssc AS (SELECT pt.doc_id, pt.term,
       |          (((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
       |           * ((CAST(tf AS DOUBLE) * 2.2)
       |              / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))))) AS sc
       |        FROM pt JOIN sdf USING (term), sstats
       |        WHERE $sscWhere),
       |sagg AS (SELECT doc_id,
       |           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(sc ORDER BY term)),
       |                       (x, y) -> x + y) AS bm25
       |         FROM ssc GROUP BY doc_id)""".stripMargin
  }

  // txt16 — RAG-style document chunking: fixed-width character windows
  // (200 chars) sliding by 150 (50-char overlap), the retrieval-corpus
  // preparation step between curation and embedding. Character windows —
  // not token windows — keep the op tokenizer-agnostic and the arithmetic
  // integer-exact in both engines. The whole op is one NARROW per-row
  // transform (sequence → posexplode → substr): no join, no aggregate,
  // and the only exchange is the gate's output sort. At 100 TB chunking
  // is embarrassingly parallel in the scan stage, and the chunk stream
  // feeds the embedding/indexing stages partition-locally — a chunk
  // never needs to see any row but its own document.
  val txt16ChunkSize = 200
  val txt16Overlap = 50
  def txt16Chunking(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val step = txt16ChunkSize - txt16Overlap
    // last window start = step * floor(max(len - overlap - 1, 0) / step):
    // every chunk but the last contributes `step` fresh chars; a doc
    // shorter than one window still yields its single (short) chunk
    val starts = sequence(lit(0),
      expr(s"greatest(length(text) - ${txt16Overlap + 1}, 0) div $step").cast("int"))
    documents(s, d)
      .select($"doc_id", $"text", posexplode(starts).as(Seq("chunk_id", "ci")))
      .select($"doc_id", $"chunk_id",
        $"text".substr($"chunk_id" * lit(step) + lit(1), lit(txt16ChunkSize))
          .as("chunk_text"))
      .withColumn("n_chunk_chars", length($"chunk_text"))
      .orderBy($"doc_id", $"chunk_id")
  }

  val txt16Sql: String =
    s"""WITH s AS (
       |  SELECT doc_id, text,
       |    greatest(length(text) - ${txt16Overlap + 1}, 0) // ${txt16ChunkSize - txt16Overlap} AS nmax
       |  FROM documents),
       |e AS (SELECT doc_id, text, unnest(range(0, nmax + 1)) AS chunk_id FROM s)
       |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       |  substr(text, CAST(chunk_id * ${txt16ChunkSize - txt16Overlap} + 1 AS BIGINT), $txt16ChunkSize) AS chunk_text,
       |  CAST(length(substr(text, CAST(chunk_id * ${txt16ChunkSize - txt16Overlap} + 1 AS BIGINT), $txt16ChunkSize)) AS INT) AS n_chunk_chars
       |FROM e
       |ORDER BY doc_id, chunk_id""".stripMargin

  // txt17 — per-document TF-IDF keyword extraction: each document's top-3
  // terms by tf × RSJ-idf, the classic keyword/tag stage (faceted corpus
  // browsing, topic balancing, weak labels for mixture design). The idf is
  // txt13's un-logged RSJ odds (N - df + 0.5)/(df + 0.5) — transcendental-
  // free, so scores are bit-identical cross-engine; per-term ranking is
  // monotone-identical to log-idf TF-IDF (see COVERAGE.md on the BM25-RSJ
  // deviation, which this column inherits deliberately).
  //
  // Scale shape: the corpus text never moves — it is exploded to slim
  // (doc_id, term) rows in the scan stage, and every exchange after that
  // carries counted-down aggregates: (1) tf = groupBy(doc_id, term) with
  // map-side partial counts, (2) df = groupBy(term) over the already-
  // aggregated tf stream (|vocab| rows out), (3) the per-doc top-3 window
  // partitioned BY DOC — millions of ≤|doc-vocab| partitions, AQE-
  // splittable, never a global sort. The df join keys on term, so AQE
  // broadcasts it when the vocab is small and shuffle-joins when it
  // isn't; N rides a one-row broadcast like every stats frame here.
  def txt17TfidfKeywords(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, d)
    val tf = docs.select($"doc_id", explode(tokens($"text")).as("term"))
      .filter($"term" =!= "")
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val dfx = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = tf.join(dfx, "term").crossJoin(broadcast(n))
      .select($"doc_id", $"term", $"tf",
        ($"tf".cast("double") *
          (($"n".cast("double") - $"df".cast("double") + lit(0.5)) /
            ($"df".cast("double") + lit(0.5)))).as("tfidf"))
    val w = Window.partitionBy($"doc_id").orderBy($"tfidf".desc, $"term")
    scored.withColumn("rnk", row_number().over(w)).filter($"rnk" <= 3)
      .select($"doc_id", $"rnk", $"term", $"tf", $"tfidf")
      .orderBy($"doc_id", $"rnk")
  }

  val txt17Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM tok
      |  WHERE term <> '' GROUP BY doc_id, term),
      |dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |scored AS (
      |  SELECT t.doc_id, t.term, t.tf,
      |    CAST(t.tf AS DOUBLE)
      |      * ((CAST(n.n AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
      |         / (CAST(d.df AS DOUBLE) + 0.5)) AS tfidf
      |  FROM tf t JOIN dfx d USING (term), n),
      |ranked AS (
      |  SELECT doc_id, term, tf, tfidf,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
      |  FROM scored)
      |SELECT doc_id, CAST(rnk AS INT) AS rnk, term, tf, tfidf
      |FROM ranked WHERE rnk <= 3
      |ORDER BY doc_id, rnk""".stripMargin

  // txt14 — composite quality gate (the Gopher/FineWeb-style accept/
  // reject stage): every document is tested against a fixed rule set
  // built from the doc-local signals (length, stopword density, lexical
  // diversity, mean word length, top-bigram repetition) and leaves with a
  // keep/drop verdict plus the comma-joined list of the rules it failed —
  // the per-rule observability a curation pipeline needs to tune
  // thresholds. One narrow codegen'd map over the corpus (runStats folds
  // bigram repetition inside the row, txt08's trick); zero shuffle except
  // the gate's output sort. Thresholds compare IEEE-exact rational
  // doubles, so both engines agree at the boundaries.
  /** The txt14 rule set as (condition, rule-name) pairs over a `text`
    * column — shared by the per-doc gate and the txt15 pipeline so the two
    * can never apply different thresholds.
    */
  private[operators] def gateRules: Seq[(Column, String)] = {
    val text = col("text")
    val toks = tokens(text)
    val nTok = size(toks).cast("long")
    val biRaw = zip_with(toks, slice(toks, lit(2), size(toks)),
      (a, b) => concat(a, lit(" "), b))
    val bi = filter(biRaw, x => x.isNotNull)
    val topBigram = when(nTok >= 2,
      runStats(bi).getField("maxrun").cast("double") / size(bi)).otherwise(lit(0.0))
    val stopRatio = size(filter(toks, t => t === "the" || t === "a")).cast("double") / nTok
    val ttr = size(array_distinct(toks)).cast("double") / nTok
    // single-space-joined text: chars = sum(word lens) + (n-1) separators
    val meanWordLen = (length(text).cast("double") - (nTok.cast("double") - lit(1.0))) /
      nTok.cast("double")
    Seq(
      (nTok < 30, "short"),
      (stopRatio < 0.015, "low_stopword"),
      (ttr < 0.30, "low_diversity"),
      (meanWordLen < 3.0 || meanWordLen > 10.0, "word_len"),
      (topBigram > 0.18, "repetitive"))
  }

  /** The txt14 drop predicate (any rule fails). */
  private[operators] def gateDrop: Column = gateRules.map(_._1).reduce(_ || _)

  def txt14QualityGate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rules = gateRules
    val reasons = concat_ws(",", rules.map { case (c, name) =>
      when(c, lit(name)) }: _*)
    documents(s, d)
      .select(
        $"doc_id",
        size(tokens($"text")).cast("long").as("n_tokens"),
        when(rules.map(_._1).reduce(_ || _), lit("drop")).otherwise(lit("keep"))
          .as("verdict"),
        reasons.as("reject_reasons"))
      .orderBy($"doc_id")
  }

  val txt14Sql: String =
    """WITH t AS (
      |  SELECT doc_id, text, string_split(text, ' ') AS toks,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |bic AS (
      |  SELECT doc_id, MAX(cnt) AS topcnt, CAST(SUM(cnt) AS BIGINT) AS n_bi
      |  FROM (SELECT doc_id, gram, COUNT(*) AS cnt
      |        FROM (SELECT doc_id,
      |                unnest(list_transform(generate_series(1, len(toks) - 1),
      |                  i -> toks[i] || ' ' || toks[i + 1])) AS gram
      |              FROM t WHERE len(toks) >= 2)
      |        GROUP BY doc_id, gram)
      |  GROUP BY doc_id),
      |sig AS (
      |  SELECT t.doc_id, t.n_tok,
      |    CAST(len(list_filter(t.toks, x -> x = 'the' OR x = 'a')) AS DOUBLE)
      |      / t.n_tok AS stop_ratio,
      |    CAST(len(list_distinct(t.toks)) AS DOUBLE) / t.n_tok AS ttr,
      |    (CAST(LENGTH(t.text) AS DOUBLE) - (CAST(t.n_tok AS DOUBLE) - 1.0))
      |      / CAST(t.n_tok AS DOUBLE) AS mean_wl,
      |    CASE WHEN t.n_tok >= 2
      |         THEN CAST(bic.topcnt AS DOUBLE) / bic.n_bi ELSE 0.0 END AS top_bigram
      |  FROM t LEFT JOIN bic USING (doc_id))
      |SELECT doc_id, n_tok AS n_tokens,
      |  CASE WHEN n_tok < 30 OR stop_ratio < 0.015 OR ttr < 0.30
      |         OR mean_wl < 3.0 OR mean_wl > 10.0 OR top_bigram > 0.18
      |       THEN 'drop' ELSE 'keep' END AS verdict,
      |  concat_ws(',',
      |    CASE WHEN n_tok < 30 THEN 'short' END,
      |    CASE WHEN stop_ratio < 0.015 THEN 'low_stopword' END,
      |    CASE WHEN ttr < 0.30 THEN 'low_diversity' END,
      |    CASE WHEN mean_wl < 3.0 OR mean_wl > 10.0 THEN 'word_len' END,
      |    CASE WHEN top_bigram > 0.18 THEN 'repetitive' END) AS reject_reasons
      |FROM sig
      |ORDER BY doc_id""".stripMargin

  // txt15 — the end-to-end curation pipeline as ONE declarative plan
  // (dd07's framing for the text side): quality gate (txt14's exact rule
  // set) → exact dedup (dd01's min-doc_id survivor per content
  // fingerprint) → deterministic split assignment (txt07's md5 window) →
  // source-mixture sampling (txt10's independent md5 window) → per-(split,
  // source) doc/token counts. Plan shape: narrow gate + fingerprint map,
  // ONE fp hash-shuffle whose min(struct) survivor pick partial-aggregates
  // map-side (hot duplicate content collapses before the exchange — dd11's
  // lesson), then a slim two-column aggregation; the corpus text never
  // shuffles (the struct carries only doc_id/source/token count). Catalyst
  // sees the whole pipeline at once, so column pruning reaches the scan.
  def txt15CurationPipeline(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val kept = documents(s, d).filter(!gateDrop)
    val surv = kept
      .select(fingerprint($"text").as("fp"),
        struct($"doc_id", $"source",
          size(tokens($"text")).cast("long").as("n_tok")).as("rec"))
      .groupBy($"fp").agg(min($"rec").as("rec"))
      .select($"rec.doc_id".as("doc_id"), $"rec.source".as("source"),
        $"rec.n_tok".as("n_tok"))
    val splitBucket = conv(substring(md5($"doc_id".cast("string")), 1, 4), 16, 10)
      .cast("long") % 100
    val sampleBucket = conv(substring(md5($"doc_id".cast("string")), 5, 4), 16, 10)
      .cast("long") % 100
    val rate = lit(100) - lit(4) * substring($"source", 4, 10).cast("int")
    surv
      .withColumn("split",
        when(splitBucket < 5, "test").when(splitBucket < 15, "val")
          .otherwise("train"))
      .filter(sampleBucket < rate)
      .groupBy($"split", $"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
      .orderBy($"split", $"source")
  }

  val txt15Sql: String =
    """WITH t AS (
      |  SELECT doc_id, source, text, string_split(text, ' ') AS toks,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |bic AS (
      |  SELECT doc_id, MAX(cnt) AS topcnt, CAST(SUM(cnt) AS BIGINT) AS n_bi
      |  FROM (SELECT doc_id, gram, COUNT(*) AS cnt
      |        FROM (SELECT doc_id,
      |                unnest(list_transform(generate_series(1, len(toks) - 1),
      |                  i -> toks[i] || ' ' || toks[i + 1])) AS gram
      |              FROM t WHERE len(toks) >= 2)
      |        GROUP BY doc_id, gram)
      |  GROUP BY doc_id),
      |sig AS (
      |  SELECT t.doc_id, t.source, t.text, t.n_tok,
      |    CAST(len(list_filter(t.toks, x -> x = 'the' OR x = 'a')) AS DOUBLE)
      |      / t.n_tok AS stop_ratio,
      |    CAST(len(list_distinct(t.toks)) AS DOUBLE) / t.n_tok AS ttr,
      |    (CAST(LENGTH(t.text) AS DOUBLE) - (CAST(t.n_tok AS DOUBLE) - 1.0))
      |      / CAST(t.n_tok AS DOUBLE) AS mean_wl,
      |    CASE WHEN t.n_tok >= 2
      |         THEN CAST(bic.topcnt AS DOUBLE) / bic.n_bi ELSE 0.0 END AS top_bigram
      |  FROM t LEFT JOIN bic USING (doc_id)),
      |kept AS (
      |  SELECT doc_id, source, text, n_tok FROM sig
      |  WHERE NOT (n_tok < 30 OR stop_ratio < 0.015 OR ttr < 0.30
      |             OR mean_wl < 3.0 OR mean_wl > 10.0 OR top_bigram > 0.18)),
      |surv AS (
      |  SELECT doc_id, source, n_tok FROM (
      |    SELECT doc_id, source, n_tok,
      |      row_number() OVER (
      |        PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
      |        ORDER BY doc_id) AS rn
      |    FROM kept) WHERE rn = 1),
      |sampled AS (
      |  SELECT doc_id, source, n_tok,
      |    CASE WHEN ('0x' || md5(CAST(doc_id AS VARCHAR))[1:4])::BIGINT % 100 < 5 THEN 'test'
      |         WHEN ('0x' || md5(CAST(doc_id AS VARCHAR))[1:4])::BIGINT % 100 < 15 THEN 'val'
      |         ELSE 'train' END AS split
      |  FROM surv
      |  WHERE ('0x' || md5(CAST(doc_id AS VARCHAR))[5:8])::BIGINT % 100
      |        < 100 - 4 * CAST(source[4:] AS INT))
      |SELECT split, source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      |FROM sampled
      |GROUP BY split, source
      |ORDER BY split, source""".stripMargin

  // txt21 — per-source BOILERPLATE detection (the RefinedWeb/CCNet
  // pre-dedup pass: navigation chrome, cookie banners, license footers
  // repeat across a source's documents and must be found before they
  // pollute n-gram statistics): the 3-word shingle with the highest
  // DOCUMENT frequency per source (graft_shingles is per-doc distinct, so
  // df counts documents, not occurrences), with its penetration in ppm.
  // The argmax is two map-side-combined aggregates + a slim equi-join —
  // deliberately NOT a per-source rank window: sources are few and huge
  // at 100 TB, and a window partitioned by source hands one task an
  // entire source's shingle vocabulary (the hot-stratum trap txt20
  // dodges the same way). Ties break to the lexicographically smallest
  // shingle on both engines.
  def txt21Boilerplate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = graft.core.Tables.documents(s, d)
    val dfreq = docs
      .select($"source", explode(Dedup.shingles($"text")).as("shingle"))
      .groupBy($"source", $"shingle").agg(count(lit(1)).as("df"))
    val mx = dfreq.groupBy($"source").agg(max($"df").as("max_df"))
      .select($"source".as("mx_source"), $"max_df")
    val pick = dfreq.join(mx,
        $"source" === $"mx_source" && $"df" === $"max_df")
      .groupBy($"source")
      .agg(min($"shingle").as("boilerplate_shingle"), max($"df").as("df"))
    val nd = docs.groupBy($"source").agg(count(lit(1)).as("n_docs"))
    pick.join(nd, "source")
      .select($"source", $"n_docs", $"boilerplate_shingle", $"df",
        expr("df * 1000000 div n_docs").as("df_ppm"))
      .orderBy($"source")
  }

  val txt21Sql: String =
    s"""WITH base AS (SELECT doc_id, source, ${Dedup.duckShingles} AS sh
       |  FROM documents),
       |ex AS (SELECT source, unnest(sh) AS shingle FROM base),
       |dfp AS (SELECT source, shingle, COUNT(*) AS df FROM ex GROUP BY 1, 2),
       |mx AS (SELECT source, MAX(df) AS max_df FROM dfp GROUP BY 1),
       |pick AS (
       |  SELECT d.source, MIN(d.shingle) AS boilerplate_shingle,
       |    MAX(d.df) AS df
       |  FROM dfp d JOIN mx USING (source)
       |  WHERE d.df = mx.max_df GROUP BY d.source),
       |nd AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1)
       |SELECT p.source, n.n_docs, p.boilerplate_shingle,
       |  CAST(p.df AS BIGINT) AS df,
       |  CAST(p.df * 1000000 // n.n_docs AS BIGINT) AS df_ppm
       |FROM pick p JOIN nd n USING (source)
       |ORDER BY source""".stripMargin

  // txt22 — TEMPERATURE-FLATTENED mixture weights (the multilingual
  // sampling schedule of mT5/XLM-R: raw language shares p are flattened
  // to p^α so low-resource languages are upsampled; α = 0.5 here, i.e.
  // sqrt — chosen because IEEE sqrt is correctly rounded and therefore
  // bit-identical across engines, where a general pow(p, α) is not
  // guaranteed to be). Everything after the one sqrt is integer: weights
  // floor-scale to micro-units and shares are truncating-divided ppm, so
  // the cross-engine hash is exact and the weights are reproducible
  // regardless of summation order. One slim aggregate + a broadcast
  // one-row total — the corpus is scanned once for counts and never
  // shuffled.
  def txt22MixtureWeights(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val counts = graft.core.Tables.documents(s, d)
      .groupBy($"lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("weight_e6",
        floor(sqrt($"n_docs".cast("double")) * 1e6).cast("long"))
    val tot = counts.agg(sum($"weight_e6").as("tw"))
    counts.crossJoin(broadcast(tot))
      .select($"lang", $"n_docs", $"weight_e6",
        expr("weight_e6 * 1000000 div tw").as("share_ppm"))
      .orderBy($"lang")
  }

  val txt22Sql: String =
    """WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
      |w AS (
      |  SELECT lang, n_docs,
      |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0) AS BIGINT) AS weight_e6
      |  FROM c),
      |t AS (SELECT SUM(weight_e6) AS tw FROM w)
      |SELECT lang, n_docs, weight_e6,
      |  CAST(weight_e6 * 1000000 // tw AS BIGINT) AS share_ppm
      |FROM w, t
      |ORDER BY lang""".stripMargin

  // txt23 — distributed BPE MERGE TRAINING, two unrolled iterations under
  // the exact oracle: the tokenizer-training primitive (Sennrich BPE) as
  // Spark jobs. Each iteration counts adjacent token pairs over the
  // frequency-weighted DISTINCT-word vocabulary (classic BPE trains on
  // word types × counts, so the corpus is touched once for the vocab and
  // never again), picks the top pair (count desc, pair asc — exact
  // integer ties), and applies the merge TOKEN-LEVEL with leftmost-
  // greedy non-overlap semantics. String replace over a space-joined
  // representation would be WRONG once tokens are multi-char (searching
  // "t h" as a substring also matches inside "st h", corrupting token
  // boundaries), so the merge is positional: match starts are grouped
  // into runs of consecutive positions (overlap is only possible inside
  // an equal-token run), the run keeps every second match
  // (gaps-and-islands + parity — exactly leftmost-greedy), kept starts
  // emit the merged token, their successors drop, everything else
  // passes through, and the list rebuilds ordered by position. Windows
  // partition by WORD — vocabulary-bounded partitions of word length,
  // never corpus-sized. Output: the top-5 pair table of each iteration
  // (the rank-1 row is the merge actually applied). The driver holds
  // only the top pair between iterations — bounded-coordinator.
  def txt23BpeMerges(s: SparkSession, d: String,
                     iterations: Int = 2, show: Int = 5): DataFrame = {
    import s.implicits._
    val wf = graft.core.Tables.documents(s, d)
      .select(explode(split($"text", " ")).as("w"))
      .filter(length($"w") > 0)
      .groupBy($"w").agg(count(lit(1)).as("f"))
      .select($"w", $"f", split($"w", "").as("t"))
      .persist()
    try {
      var cur = wf.select($"w", $"f", $"t")
      val out = scala.collection.mutable.ListBuffer.empty[(Int, Int, String, Long)]
      for (it <- 1 to iterations) {
        // ANSI guard: size(t) >= 2 BEFORE sequence(0, size-2) — a 1-token
        // word would yield the DESCENDING sequence(0,-1) and element_at(0)
        val pairs = cur.filter(size($"t") >= 2)
          .select($"f", explode(expr(
            "transform(sequence(0, size(t) - 2), " +
              "i -> concat(element_at(t, i + 1), ' ', element_at(t, i + 2)))"))
            .as("pair"))
          .groupBy($"pair").agg(sum($"f").as("cnt"))
        val top = pairs.orderBy($"cnt".desc, $"pair").limit(show).collect()
        top.zipWithIndex.foreach { case (r, i) =>
          out += ((it, i + 1, r.getString(0), r.getLong(1)))
        }
        if (it < iterations) {
          val Array(x, y) = top.head.getString(0).split(" ", 2)
          cur = mergePair(cur, x, y)
        }
      }
      out.toSeq.toDF("it", "rank", "pair", "cnt").orderBy($"it", $"rank")
    } finally wf.unpersist()
  }

  /** Apply one BPE merge (x, y) → xy to every word's token list with
    * leftmost-greedy non-overlap semantics (see [[txt23BpeMerges]]).
    */
  private def mergePair(cur: DataFrame, x: String, y: String): DataFrame = {
    val s = cur.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val byW = Window.partitionBy($"w").orderBy($"p")
    val pos = cur.select($"w", $"f", posexplode($"t").as(Seq("p", "tok")))
      .withColumn("nxt", lead($"tok", 1).over(byW))
    val keepSet = pos
      .filter($"tok" === lit(x) && $"nxt" === lit(y))
      .withColumn("isl", $"p" - row_number().over(byW))
      .withColumn("kp",
        (($"p" - min($"p").over(Window.partitionBy($"w", $"isl"))) % 2) === 0)
      .select($"w", $"p", $"kp")
    pos.join(keepSet, Seq("w", "p"), "left")
      .withColumn("k", coalesce($"kp", lit(false)))
      .withColumn("consumed", coalesce(lag($"k", 1).over(byW), lit(false)))
      .filter(!$"consumed")
      .select($"w", $"f", $"p",
        when($"k", lit(x + y)).otherwise($"tok").as("tok2"))
      .groupBy($"w", $"f")
      .agg(transform(array_sort(collect_list(struct($"p", $"tok2"))),
        c => c.getField("tok2")).as("t"))
  }

  val txt23Sql: String = {
    // one iteration's pair count / top-5 / merge, templated over the
    // input vocab CTE name; the merge mirrors the engine's positional
    // leftmost-greedy islands logic exactly
    def pairCte(sp: String, n: Int): String =
      s"""p$n AS (
         |  SELECT pair, CAST(SUM(f) AS BIGINT) AS cnt FROM (
         |    SELECT f, unnest([t[i] || ' ' || t[i + 1] for i in range(1, len(t))]) AS pair
         |    FROM (SELECT string_split(sp, ' ') AS t, f FROM $sp) z)
         |  GROUP BY pair),
         |t$n AS (
         |  SELECT pair, cnt, rnk FROM (
         |    SELECT pair, cnt, row_number() OVER (ORDER BY cnt DESC, pair) AS rnk
         |    FROM p$n) zz WHERE rnk <= 5)""".stripMargin
    def mergeCte(spIn: String, n: Int, spOut: String): String =
      s"""top$n AS (
         |  SELECT split_part(pair, ' ', 1) AS x, split_part(pair, ' ', 2) AS y
         |  FROM t$n WHERE rnk = 1),
         |pos$n AS (
         |  SELECT w, f, unnest(t) AS tok, generate_subscripts(t, 1) AS p
         |  FROM (SELECT sp AS w, f, string_split(sp, ' ') AS t FROM $spIn) z),
         |ld$n AS (
         |  SELECT *, lead(tok) OVER (PARTITION BY w ORDER BY p) AS nxt FROM pos$n),
         |mm$n AS (
         |  SELECT w, p, p - row_number() OVER (PARTITION BY w ORDER BY p) AS isl
         |  FROM ld$n, top$n WHERE tok = top$n.x AND nxt = top$n.y),
         |kk$n AS (
         |  SELECT w, p, ((p - MIN(p) OVER (PARTITION BY w, isl)) % 2 = 0) AS kp
         |  FROM mm$n),
         |rr$n AS (
         |  SELECT q.w, q.f, q.p,
         |    CASE WHEN COALESCE(k.kp, false) THEN tt.x || tt.y ELSE q.tok END AS tok2,
         |    COALESCE(lag(COALESCE(k.kp, false))
         |      OVER (PARTITION BY q.w ORDER BY q.p), false) AS consumed
         |  FROM ld$n q LEFT JOIN kk$n k ON k.w = q.w AND k.p = q.p, top$n tt),
         |$spOut AS (
         |  SELECT string_agg(tok2, ' ' ORDER BY p) AS sp, f
         |  FROM rr$n WHERE NOT consumed GROUP BY w, f)""".stripMargin
    s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       |wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM toks
       |       WHERE len(w) > 0 GROUP BY w),
       |sp0 AS (SELECT array_to_string([w[i] for i in range(1, len(w) + 1)], ' ') AS sp, f
       |        FROM wf),
       |${pairCte("sp0", 1)},
       |${mergeCte("sp0", 1, "sp1")},
       |${pairCte("sp1", 2)}
       |SELECT * FROM (
       |  SELECT CAST(1 AS INTEGER) AS it, CAST(rnk AS INTEGER) AS rank, pair, cnt FROM t1
       |  UNION ALL
       |  SELECT CAST(2 AS INTEGER), CAST(rnk AS INTEGER), pair, cnt FROM t2) u
       |ORDER BY it, rank""".stripMargin
  }

  // txt24 — WEIGHTED sampling: priority sampling (Duffield-Lund-Thorup),
  // the size-biased complement of txt20's uniform per-stratum draw —
  // "sample documents proportionally to length" is the curation move
  // when token budget, not doc count, is the constraint. Each doc gets
  // priority w/u (w = token count, u a deterministic md5-derived draw,
  // txt20's convention); the n largest priorities are the sample. All
  // arithmetic is exact fixed-point: prio = (w << 40) div u with u in
  // [1, 2^30] — no float division for engines to disagree on, and the
  // Spark guard raises BY NAME if w ever approaches the 2^23 overflow
  // bound instead of silently wrapping. The top-n cut is rankedTopK
  // (per-partition TakeOrdered + a bounded n·P merge — the corpus is
  // never globally sorted or shuffled; sim09's scale shape).
  def txt24PrioritySample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val n = 25
    val draw = conv(substring(md5($"doc_id".cast("string")), 1, 10), 16, 10)
      .cast("long")
    val docs = documents(s, d)
      .select($"doc_id", size(tokens($"text")).cast("long").as("n_tokens"))
      .withColumn("n_tokens",
        when($"n_tokens" >= lit(1L << 23),
          raise_error(concat(lit("txt24: token count exceeds 23-bit "),
            lit("priority bound: "), $"n_tokens")))
        .otherwise($"n_tokens"))
      .withColumn("u", pmod(draw, lit(1L << 30)) + lit(1L))
      .withColumn("prio", expr(s"n_tokens * ${1L << 40}L div u"))
    Similarity.rankedTopK(docs, $"prio", $"doc_id", n, "sample_rank")
      .select($"doc_id", $"n_tokens", $"prio", $"sample_rank")
      .orderBy($"sample_rank")
  }

  val txt24Sql: String =
    s"""WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    (('0x' || md5(CAST(doc_id AS VARCHAR))[1:10])::BIGINT
      |      % ${1L << 30}) + 1 AS u
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, n_tokens,
      |    CAST((n_tokens * ${1L << 40}) // u AS BIGINT) AS prio,
      |    row_number() OVER (
      |      ORDER BY (n_tokens * ${1L << 40}) // u DESC, doc_id)
      |      AS sample_rank
      |  FROM t)
      |SELECT doc_id, n_tokens, prio, CAST(sample_rank AS BIGINT) AS sample_rank
      |FROM r WHERE sample_rank <= 25
      |ORDER BY sample_rank""".stripMargin

  // txt25 — DETERMINISTIC EPOCH SHUFFLE + SHARD ASSIGNMENT: what every
  // training reader does per epoch — give each document a pseudo-random
  // but REPRODUCIBLE position (seeded by epoch, so epoch 2 is a
  // different permutation than epoch 1, and any worker can recompute
  // its shard without coordination). Draw = md5(doc_id ‖ ':' ‖ epoch);
  // shard = draw mod nShards (workers read disjoint shards), position =
  // rank of draw within the shard. The rank window partitions BY SHARD —
  // shards are the unit of worker parallelism, and each holds ~1/nShards
  // of the corpus, so no single task ever sees the whole table (at
  // 100 TB nShards is thousands; here 8). All integer/md5 arithmetic —
  // DuckDB replays the exact permutation.
  def txt25EpochShuffle(s: SparkSession, d: String, epoch: Int = 2,
                        nShards: Int = 8): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val draw = conv(substring(md5(
      concat($"doc_id".cast("string"), lit(":"), lit(epoch))), 1, 12), 16, 10)
      .cast("long")
    val w = Window.partitionBy($"shard").orderBy($"draw", $"doc_id")
    documents(s, d)
      .select($"doc_id", draw.as("draw"))
      .withColumn("shard", pmod($"draw", lit(nShards.toLong)))
      .withColumn("position", row_number().over(w).cast("long"))
      .select($"shard", $"position", $"doc_id")
      .orderBy($"shard", $"position")
  }

  val txt25Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    ('0x' || md5(CAST(doc_id AS VARCHAR) || ':2')[1:12])::BIGINT AS draw
      |  FROM documents)
      |SELECT draw % 8 AS shard,
      |  CAST(row_number() OVER (PARTITION BY draw % 8 ORDER BY draw, doc_id)
      |    AS BIGINT) AS position,
      |  doc_id
      |FROM t
      |ORDER BY shard, position""".stripMargin

  // txt26 — TERM-DISTRIBUTION DRIFT between two corpus partitions (the
  // new-crawl-vs-reference monitor: distribution shift between crawls,
  // sources, or time slices is the signal that retrains quality filters
  // and reweights mixtures). Halves split deterministically by doc_id
  // parity; each term's frequency is expressed in ppm OF ITS HALF's
  // token total (truncating integer division — exact), and the report is
  // the top-20 terms by absolute ppm delta, FULL OUTER joined so a term
  // collapsing to zero (or newly appearing) registers as full-magnitude
  // drift instead of vanishing from the join. Scale shape: token
  // streams partial-aggregate into vocabulary-sized count tables before
  // the one term-keyed exchange; the two one-row totals ride in as
  // literals; the cut is a TakeOrdered, never a global sort.
  def txt26TermDrift(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = documents(s, d)
      .select(($"doc_id" % 2).as("half"), explode(tokens($"text")).as("term"))
    val counts = toks.groupBy($"half", $"term").agg(count(lit(1)).as("c"))
    val totals = counts.groupBy($"half").agg(sum($"c").as("t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = counts.filter($"half" === 0)
      .select($"term", expr(s"c * 1000000L div ${totals(0L)}L").as("ppm_a"))
    val b = counts.filter($"half" === 1)
      .select($"term", expr(s"c * 1000000L div ${totals(1L)}L").as("ppm_b"))
    a.join(b, Seq("term"), "full_outer")
      .select($"term",
        coalesce($"ppm_a", lit(0L)).as("ppm_a"),
        coalesce($"ppm_b", lit(0L)).as("ppm_b"))
      .withColumn("drift_ppm", abs($"ppm_a" - $"ppm_b"))
      .orderBy($"drift_ppm".desc, $"term")
      .limit(20)
  }

  val txt26Sql: String =
    """WITH toks AS (
      |  SELECT doc_id % 2 AS half, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |counts AS (
      |  SELECT half, term, COUNT(*) AS c FROM toks GROUP BY half, term),
      |totals AS (SELECT half, SUM(c) AS t FROM counts GROUP BY half),
      |ppm AS (
      |  SELECT c.term, c.half, CAST((c.c * 1000000) // t.t AS BIGINT) AS ppm
      |  FROM counts c JOIN totals t ON c.half = t.half)
      |SELECT COALESCE(a.term, b.term) AS term,
      |  COALESCE(a.ppm, 0) AS ppm_a, COALESCE(b.ppm, 0) AS ppm_b,
      |  ABS(COALESCE(a.ppm, 0) - COALESCE(b.ppm, 0)) AS drift_ppm
      |FROM (SELECT term, ppm FROM ppm WHERE half = 0) a
      |FULL OUTER JOIN (SELECT term, ppm FROM ppm WHERE half = 1) b
      |  ON a.term = b.term
      |ORDER BY drift_ppm DESC, term
      |LIMIT 20""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "txt26_term_drift" -> txt26TermDrift _,
    "txt25_epoch_shuffle" -> ((s: SparkSession, d: String) => txt25EpochShuffle(s, d)),
    "txt24_priority_sample" -> txt24PrioritySample _,
    "txt23_bpe_merges" -> ((s: SparkSession, d: String) => txt23BpeMerges(s, d)),
    "txt21_boilerplate" -> txt21Boilerplate _,
    "txt22_mixture_weights" -> txt22MixtureWeights _,
    "txt15_curation_pipeline" -> txt15CurationPipeline _,
    "txt16_chunking" -> txt16Chunking _,
    "txt17_tfidf_keywords" -> txt17TfidfKeywords _,
    "txt18_index_lifecycle" -> txt18IndexLifecycle _,
    "txt19_heavy_hitters" -> txt19HeavyHitters _,
    "txt20_stratified_sample" -> txt20StratifiedSample _,
    "txt14_quality_gate" -> txt14QualityGate _,
    "txt13_bm25" -> txt13Bm25 _,
    "txt12_lm_quality" -> txt12LmQuality _,
    "txt09_bpe_tokens" -> txt09BpeTokens _,
    "txt10_mixture_sample" -> txt10MixtureSample _,
    "txt11_seq_pack" -> txt11SeqPack _,
    "txt08_repetition" -> txt08Repetition _,
    "txt07_split_assign" -> txt07SplitAssign _,
    "txt06_pii_redact" -> txt06PiiRedact _,
    "txt01_token_count" -> txt01TokenCount _,
    "txt02_quality" -> txt02Quality _,
    "txt03_lang_stats" -> txt03LangStats _,
    "txt04_fingerprint" -> txt04Fingerprint _,
    "txt05_lang_id" -> txt05LangId _)

  def oracles: Map[String, String] = Map(
    "txt26_term_drift" -> txt26Sql,
    "txt25_epoch_shuffle" -> txt25Sql,
    "txt24_priority_sample" -> txt24Sql,
    "txt23_bpe_merges" -> txt23Sql,
    "txt21_boilerplate" -> txt21Sql,
    "txt22_mixture_weights" -> txt22Sql,
    "txt15_curation_pipeline" -> txt15Sql,
    "txt16_chunking" -> txt16Sql,
    "txt17_tfidf_keywords" -> txt17Sql,
    "txt14_quality_gate" -> txt14Sql,
    "txt13_bm25" -> txt13Sql,
    "txt18_index_lifecycle" -> txt18Sql,
    "txt19_heavy_hitters" -> txt19Sql,
    "txt20_stratified_sample" -> txt20Sql,
    "txt12_lm_quality" -> txt12Sql,
    "txt09_bpe_tokens" -> txt09Sql,
    "txt10_mixture_sample" -> txt10Sql,
    "txt11_seq_pack" -> txt11Sql,
    "txt08_repetition" -> txt08Sql,
    "txt07_split_assign" -> txt07Sql,
    "txt06_pii_redact" -> txt06Sql,
    "txt01_token_count" -> txt01Sql,
    "txt02_quality" -> txt02Sql,
    "txt03_lang_stats" -> txt03Sql,
    "txt04_fingerprint" -> txt04Sql,
    "txt05_lang_id" -> txt05Sql)
}
