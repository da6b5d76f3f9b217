package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Query
import graft.functions.RollingHash
import graft.sources.Tables

/** Text analysis for LLM training-data curation: language ID (stopword
  * heuristic), quality scoring, token counting (whitespace + BPE-ish
  * regex), and document fingerprinting. All per-row scalar pipelines —
  * embarrassingly parallel, no shuffle except the final presentation sort;
  * at 100 TB these run as a single scan stage inside whole-stage codegen.
  */
object TextAnalysis {

  private val Stopwords = Seq("the", "a", "an", "of", "and", "in", "to", "is")

  /** Token-delimited stopword matcher. \A/\z anchors, not ^/$: Java's $
    * also matches before a final line terminator, so "the\n" would count
    * here but not in the oracle's token-equality filter. Shared by the
    * stats and quality-gate queries (their semantics must agree).
    */
  private[operators] val StopRe =
    "(?:\\A| )(?:" + Stopwords.mkString("|") + ")(?= |\\z)"

  /** Per-document stats + quality score + n-gram-heuristic language ID.
    * Ratios are int/int divisions (deterministic IEEE); the composite score
    * is rounded to 6dp.
    *
    * The stopword count is a codegen'd regexp rather than a
    * `filter(ts, lambda)` higher-order function: one HOF in the projection
    * forces the WHOLE Project to interpreted evaluation (HOFs have no
    * doGenCode), which also loses codegen's subexpression elimination — the
    * repeated `split(text)` was then re-evaluated once per output column.
    * With every expression codegen-able the scan→project pipeline is a
    * single WholeStageCodegen stage (asserted in PlanSpec) and split() runs
    * once per row.
    */
  def statsQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val ts = split(col("text"), " ")
    val nTokens = size(ts).cast(LongType)
    val nDistinct = size(array_distinct(ts)).cast(LongType)
    val nChars = length(col("text")).cast(LongType)
    // chars excluding the single separator spaces
    val nLetters = (nChars - (nTokens - 1)).cast(DoubleType)
    // a token equals a stopword iff it is space/edge-delimited in the raw
    // text (tokens are single-space splits, so the forms are equivalent;
    // the oracle keeps the list_filter spelling)
    val nStop = size(regexp_extract_all(col("text"), lit(StopRe), lit(0)))
      .cast(LongType)
    val stopRatio = nStop.cast(DoubleType) / nTokens
    val avgTokLen = nLetters / nTokens
    val ttr = nDistinct.cast(DoubleType) / nTokens // type-token ratio
    val quality = round(
      lit(0.5) * stopRatio + lit(0.3) * ttr
        + lit(0.2) * (avgTokLen / (avgTokLen + lit(1.0))), 6)
    Tables(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        nTokens.as("n_tokens"),
        nDistinct.as("n_distinct"),
        nStop.as("n_stopwords"),
        round(stopRatio, 6).as("stopword_ratio"),
        round(avgTokLen, 6).as("avg_token_len"),
        quality.as("quality_score"),
        when(stopRatio >= 0.02, "en").otherwise("und").as("lang_pred"))
      .orderBy("doc_id")
  }

  private[operators] val stopList =
    Stopwords.map(s => s"'$s'").mkString("[", ", ", "]")

  // curation-gate thresholds — shared with the composed pipeline in
  // [[Curation]] so the standalone gate and the pipeline can't drift
  private[operators] val MinTokens = 30
  private[operators] val MaxTokens = 80
  private[operators] val MinStopRatio = 0.01
  private[operators] val MinTtr = 0.4

  /** The quality gate as a reusable stage: metric projection + threshold
    * filter over any (doc_id, text) relation. Single codegen'd scan.
    */
  private[operators] def qualityGate(df: DataFrame): DataFrame = {
    val ts = split(col("text"), " ")
    val nTokens = size(ts).cast(LongType)
    val ttr = size(array_distinct(ts)).cast(DoubleType) / nTokens
    val stopRatio = size(regexp_extract_all(col("text"), lit(StopRe), lit(0)))
      .cast(DoubleType) / nTokens
    df.select(col("doc_id"), nTokens.as("n_tokens"),
        round(stopRatio, 6).as("stopword_ratio"), round(ttr, 6).as("ttr"))
      .filter(col("n_tokens").between(MinTokens, MaxTokens)
        && col("stopword_ratio") >= MinStopRatio && col("ttr") >= MinTtr)
  }

  /** The gate in DuckDB dialect over a named (doc_id, text) relation —
    * one definition feeding both the standalone and the pipeline oracle.
    */
  private[operators] def qualityGateSql(rel: String): String =
    s"""SELECT doc_id, n_tokens, stopword_ratio, ttr FROM (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    round(len(list_filter(string_split(text, ' '),
       |        t -> list_contains($stopList, t))) * 1.0
       |      / len(string_split(text, ' ')), 6) AS stopword_ratio,
       |    round(len(list_distinct(string_split(text, ' '))) * 1.0
       |      / len(string_split(text, ' ')), 6) AS ttr
       |  FROM $rel)
       |WHERE n_tokens BETWEEN $MinTokens AND $MaxTokens
       |  AND stopword_ratio >= $MinStopRatio AND ttr >= $MinTtr""".stripMargin

  private val statsQualityOracle =
    s"""WITH base AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
       |    CAST(len(list_filter(string_split(text, ' '),
       |      t -> list_contains($stopList, t))) AS BIGINT) AS n_stopwords,
       |    CAST(length(text) AS BIGINT) AS n_chars
       |  FROM documents)
       |SELECT doc_id, n_tokens, n_distinct, n_stopwords,
       |  round(n_stopwords * 1.0 / n_tokens, 6) AS stopword_ratio,
       |  round((n_chars - (n_tokens - 1)) * 1.0 / n_tokens, 6) AS avg_token_len,
       |  round(0.5 * (n_stopwords * 1.0 / n_tokens)
       |      + 0.3 * (n_distinct * 1.0 / n_tokens)
       |      + 0.2 * (((n_chars - (n_tokens - 1)) * 1.0 / n_tokens)
       |               / (((n_chars - (n_tokens - 1)) * 1.0 / n_tokens) + 1.0)), 6)
       |    AS quality_score,
       |  CASE WHEN n_stopwords * 1.0 / n_tokens >= 0.02 THEN 'en' ELSE 'und' END
       |    AS lang_pred
       |FROM base ORDER BY doc_id""".stripMargin

  /** Token counting two ways: whitespace split and a BPE-ish regex
    * tokenizer (letter runs / digit runs / single other chars).
    */
  def tokenCount(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("n_ws_tokens"),
        size(regexp_extract_all(col("text"),
          lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
          .cast(LongType).as("n_bpe_tokens"))
      .orderBy("doc_id")

  private val tokenCountOracle =
    """SELECT doc_id,
      | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
      | CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
      |   AS n_bpe_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Document fingerprints: md5 (cryptographic) + polynomial rolling hash
    * via the native codegen'd [[graft.functions.RollingHash]] expression.
    * The rolling fold starts at the first byte to match DuckDB's
    * list_reduce, making even the custom expression oracle-checkable.
    */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        md5(col("text")).as("md5_hex"),
        RollingHash(col("text")).as("rolling_hash"))
      .orderBy("doc_id")

  private val fingerprintOracle =
    """SELECT doc_id, md5(text) AS md5_hex,
      | list_reduce(list_transform(string_split(text, ''),
      |               c -> CAST(unicode(c) AS BIGINT)),
      |             (acc, x) -> (acc * 31 + x) % 2147483647) AS rolling_hash
      |FROM documents ORDER BY doc_id""".stripMargin

  /** The curation gate itself: keep documents passing the quality
    * thresholds a training-data pipeline would apply (length band, minimum
    * stopword rate, lexical diversity). Pure scan→filter — predicate
    * evaluation is codegen'd per row, and at 100 TB this composes with the
    * stats projection into the same single pass.
    */
  def qualityFilter(spark: SparkSession, sfDir: String): DataFrame =
    qualityGate(Tables(spark, sfDir, "documents"))
      .orderBy("doc_id")

  private val qualityFilterOracle =
    qualityGateSql("documents") + "\nORDER BY doc_id"

  private val RedactWords = Seq("customer", "order", "part")
  private val redactRe = "\\b(?:" + RedactWords.mkString("|") + ")\\b"

  /** Entity redaction: replace a word set with a placeholder token and
    * count the replacements — the PII-scrub shape (the pattern here targets
    * the corpus's entity words; a real pipeline swaps in email/phone/id
    * regexes, same plan). Fingerprints keep the output narrow; `\b` is
    * ASCII word-boundary in both engines' regex dialects.
    */
  def redact(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(redactRe), lit(0)))
          .cast(LongType).as("n_redacted"),
        md5(regexp_replace(col("text"), redactRe, "<ENT>"))
          .as("redacted_md5"))
      .orderBy("doc_id")

  private val redactOracle =
    s"""SELECT doc_id,
       | CAST(len(regexp_extract_all(text, '$redactRe')) AS BIGINT)
       |   AS n_redacted,
       | md5(regexp_replace(text, '$redactRe', '<ENT>', 'g')) AS redacted_md5
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Pairwise edit distance over adjacent documents — levenshtein as the
    * character-level near-dup verifier (the n-gram/MinHash pipelines are
    * the candidate generators; edit distance is the expensive exact check
    * you run on survivors). O(len²) per pair keeps it strictly a
    * post-pruning operator at scale — never all-pairs.
    */
  def editDistance(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    d.as("a")
      .join(d.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
      .select(
        col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        levenshtein(col("a.text"), col("b.text")).cast(LongType).as("edit_dist"),
        (greatest(length(col("a.text")), length(col("b.text")))
          - levenshtein(col("a.text"), col("b.text")))
          .cast(LongType).as("max_len_minus_dist"))
      .orderBy("i")
  }

  private val editDistanceOracle =
    """SELECT a.doc_id AS i, b.doc_id AS j,
      | CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
      | CAST(greatest(length(a.text), length(b.text))
      |      - levenshtein(a.text, b.text) AS BIGINT) AS max_len_minus_dist
      |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      |ORDER BY i""".stripMargin

  /** Gopher-style repetition signals — the quality dimension the ratio
    * heuristics in `text_stats_quality` don't see: a document can have a
    * healthy length and stopword rate yet be one phrase repeated hundreds
    * of times. Emits, per document, the token counts plus the most-frequent
    * word-bigram's count, and flags a document when the top bigram owns
    * ≥ 25% of all bigram slots or when distinct tokens cover ≤ half the
    * token slots (integer-arithmetic thresholds — no float drift).
    *
    * Shape: the array-derived per-doc stats stay in the codegen'd scan;
    * the top-bigram count is the one part that genuinely needs an
    * aggregation — explode to (doc, bigram-hash) and hash-aggregate with
    * map-side combine, so the shuffle carries per-partition (doc, bigram)
    * partials, never raw token streams. The join back to the scan-side
    * stats is per-doc-keyed on both sides (co-partitioned at scale).
    */
  def repetition(spark: SparkSession, sfDir: String): DataFrame = {
    val ts = split(col("text"), " ")
    val base = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), ts.as("ts"))
      .filter(size(col("ts")) >= 2)
    val bigramCounts = base
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("ts")) - 1),
        i => xxhash64(concat_ws(" ",
          element_at(col("ts"), i), element_at(col("ts"), i + 1)))))
        .as("bh"))
      .groupBy(col("doc_id"), col("bh")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_bigram_n"), sum(col("c")).as("n_bigrams"))
    base
      .select(col("doc_id"), size(col("ts")).cast(LongType).as("n_tokens"),
        size(array_distinct(col("ts"))).cast(LongType).as("n_distinct"))
      .join(bigramCounts, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        col("top_bigram_n"), col("n_bigrams"),
        (col("top_bigram_n") * 4 >= col("n_bigrams")
          || col("n_distinct") * 2 <= col("n_tokens")).as("repetitive"))
      .orderBy("doc_id")
  }

  private val repetitionOracle =
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |bg AS (
      |  SELECT doc_id, ts[i] || ' ' || ts[i+1] AS b
      |  FROM tok, unnest(range(1, len(ts))) AS u(i)),
      |bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
      |bs AS (SELECT doc_id, max(c) AS top_bigram_n,
      |              CAST(sum(c) AS BIGINT) AS n_bigrams
      |       FROM bc GROUP BY doc_id),
      |base AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
      |                CAST(len(list_distinct(ts)) AS BIGINT) AS n_distinct
      |         FROM tok)
      |SELECT base.doc_id, n_tokens, n_distinct, top_bigram_n, n_bigrams,
      |  (top_bigram_n * 4 >= n_bigrams OR n_distinct * 2 <= n_tokens)
      |    AS repetitive
      |FROM base JOIN bs USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** TF-IDF top terms — the classic "what is this document about" scoring:
    * term frequency × inverse document frequency, top 3 terms per doc.
    * The idf is the LINEAR form N/df rather than ln(N/df): it induces the
    * same per-document ranking (monotone in tf and 1/df), and it keeps the
    * score an exact rational-in-double — cross-engine log() is libm-
    * dependent in the last ulp, which a hash-compared oracle can't absorb.
    *
    * Shape: one token explode → (doc, term) hash aggregate (map-side
    * combined), the document-frequency table derived from it by a second
    * aggregate on term, joined back on term — at 100 TB the vocabulary is
    * orders of magnitude smaller than the corpus, so the df table
    * BROADCASTS and the only big shuffle is the (doc, term) aggregate;
    * the per-doc top-3 is a rank window on the doc-partitioned result.
    */
  def tfidfTopTerms(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    tf.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(total))
      .withColumn("tfidf", col("tf").cast(DoubleType)
        * (col("n_docs").cast(DoubleType) / col("df").cast(DoubleType)))
      .withColumn("rank", row_number().over(byDoc).cast(LongType))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
        col("tfidf"))
      .orderBy("doc_id", "rank")
  }

  private val tfidfTopTermsOracle =
    """WITH tf AS (
      |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |        FROM documents)
      |  GROUP BY doc_id, term),
      |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
      |          FROM tf GROUP BY term),
      |total AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, term, tf, df,
      |    CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
      |      AS tfidf
      |  FROM tf JOIN dfreq USING (term) CROSS JOIN total)
      |SELECT doc_id, CAST(rn AS BIGINT) AS rank, term, tf, df, tfidf
      |FROM (SELECT *, row_number() OVER (
      |        PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
      |      FROM scored)
      |WHERE rn <= 3
      |ORDER BY doc_id, rank""".stripMargin

  /** Inverted index build — token → sorted doc-id posting list + document
    * frequency, the search-engine core and the retrieval half of
    * dedup-by-query. One explode and ONE shuffle keyed by token with
    * map-side partial collect_set; posting lists ride the shuffle as sets,
    * never re-sorted globally. The df >= 10 cut drops the hapax tail that
    * dominates vocabulary size (Zipf) — at 100 TB the same build shards
    * each posting list by doc-id range and delta-encodes, but the plan
    * shape (explode → hash agg) is already the scale-correct one. Postings
    * serialize via array_join: the harness comparator hashes scalars only.
    */
  def invertedIndex(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token"))
      .agg(
        countDistinct(col("doc_id")).as("doc_freq"),
        array_join(transform(sort_array(collect_set(col("doc_id"))),
          _.cast(StringType)), ",").as("postings"))
      .filter(col("doc_freq") >= 10)
      .orderBy("token")

  private val invertedIndexOracle =
    """SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq,
      | array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS postings
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |      FROM documents)
      |GROUP BY token
      |HAVING count(DISTINCT doc_id) >= 10
      |ORDER BY token""".stripMargin

  /** Corpus-level bigram collocation scoring — which word pairs co-occur
    * more than chance, the statistic behind phrase mining and
    * tokenizer-merge candidates. Bigrams come from a per-row
    * transform/explode (no self-join on position); pair and unigram counts
    * are two hash aggregations; the vocabulary-sized count tables join on
    * the words. Scored by LIFT = n_pair·N / (n_w1·n_w2) rather than
    * log-PMI: every operand is an exact BIGINT below 2^53 and the single
    * IEEE division is exactly rounded, so the score is bit-identical in
    * any engine — libm's log carries no such guarantee (same determinism
    * rule as SURVEY.md §7.4). Monotone in PMI, so ranking is unchanged.
    */
  def bigramLift(spark: SparkSession, sfDir: String): DataFrame = {
    val ts = split(col("text"), " ")
    val base = Tables(spark, sfDir, "documents")
      .select(ts.as("ts")).filter(size(col("ts")) >= 2)
    val pairCounts = base
      .select(explode(transform(
        sequence(lit(1), size(col("ts")) - 1),
        i => struct(element_at(col("ts"), i).as("w1"),
          element_at(col("ts"), i + 1).as("w2")))).as("b"))
      .select(col("b.w1"), col("b.w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair"))
    val uniCounts = base.select(explode(col("ts")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n_w"))
    val total = uniCounts.agg(sum(col("n_w")).as("n_total"))
    pairCounts
      .join(uniCounts.select(col("w").as("w1"), col("n_w").as("n_w1")), "w1")
      .join(uniCounts.select(col("w").as("w2"), col("n_w").as("n_w2")), "w2")
      .crossJoin(broadcast(total))
      .filter(col("n_pair") >= 3)
      .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"), col("n_w2"),
        ((col("n_pair") * col("n_total")).cast(DoubleType)
          / (col("n_w1") * col("n_w2")).cast(DoubleType)).as("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(100)
  }

  private val bigramLiftOracle =
    """WITH tok AS (
      |  SELECT string_split(text, ' ') AS ts FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |bg AS (SELECT ts[i] AS w1, ts[i+1] AS w2
      |       FROM tok, unnest(range(1, len(ts))) AS u(i)),
      |pc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
      |       FROM bg GROUP BY 1, 2),
      |uc AS (SELECT w, CAST(count(*) AS BIGINT) AS n_w
      |       FROM (SELECT unnest(ts) AS w FROM tok) GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_w) AS BIGINT) AS n_total FROM uc)
      |SELECT w1, w2, n_pair, u1.n_w AS n_w1, u2.n_w AS n_w2,
      |  CAST(n_pair * n_total AS DOUBLE)
      |    / CAST(u1.n_w * u2.n_w AS DOUBLE) AS lift
      |FROM pc JOIN uc u1 ON pc.w1 = u1.w
      |        JOIN uc u2 ON pc.w2 = u2.w
      |        CROSS JOIN tot
      |WHERE n_pair >= 3
      |ORDER BY lift DESC, w1, w2
      |LIMIT 100""".stripMargin

  /** Two-pass heavy hitters — the scale pattern for "which tokens dominate
    * the corpus" when the token key space is too large to groupBy exactly:
    * pass 1 runs the mergeable Misra–Gries sketch
    * ([[graft.functions.MisraGries]]) over hashed tokens — a fixed-size
    * (≤ capacity entries) partial per map task, no full-key-space
    * shuffle — and pass 2 broadcast-semi-joins the candidate set back and
    * counts EXACTLY, so the output is deterministic and oracle-gated even
    * though sketch estimates are merge-order-dependent. Soundness: MG
    * guarantees every item with count > n/(capacity+1) survives pass 1, so
    * with threshold share 1/40 > 1/(64+1) the candidate set provably
    * contains every qualifying token; the exact filter then discards
    * sketch noise. Hash collisions only ADD occurrences to a candidate
    * hash (can never evict a heavy token), and pass 2 groups by the token
    * STRING, so colliders are counted separately and filtered exactly.
    *
    * At harness vocabulary (31 tokens < capacity) eviction never fires in
    * pass 1; the eviction and merge-cut guarantee paths are exercised on
    * planted skewed data in RelationalSpec ("Misra-Gries sketch ...").
    */
  def heavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    val tokens = Tables(spark, sfDir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .select(col("token"), xxhash64(col("token")).as("h"))
    val cands = tokens.agg(graft.functions.MisraGries(col("h"), 64).as("s"))
      .select(explode(col("s")).as("c"))
      .select(col("c.item").as("h"))
    val total = tokens.agg(count(lit(1)).as("total"))
    tokens.join(broadcast(cands), Seq("h"), "left_semi")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"))
      .crossJoin(broadcast(total))
      .filter(col("n_occurrences") * 40 > col("total"))
      .select(col("token"), col("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("token"))
  }

  private val heavyHittersOracle =
    """WITH tok AS (
      |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
      |tot AS (SELECT count(*) AS total FROM tok)
      |SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences
      |FROM tok, tot
      |GROUP BY token, tot.total
      |HAVING count(*) * 40 > tot.total
      |ORDER BY n_occurrences DESC, token""".stripMargin

  /** Fuzzy entity-resolution join under substitution noise — the record-
    * linkage primitive (OCR'd titles, typo'd names, dirty catalog feeds
    * matched back to a clean master). A deterministic "dirty" side is
    * derived from the corpus itself (two characters overwritten — OCR-style
    * substitution noise), then matched back WITHOUT an all-pairs scan:
    *
    *  1. BLOCK: each 36-char title splits into 3 aligned 12-char segments;
    *     by pigeonhole, substitution distance ≤ 2 ⇒ at least one segment
    *     survives verbatim — so candidates come from an EQUI-join on
    *     (segment_index, segment_text). This is the whole scale story: the
    *     shuffle carries (segments × docs), never docs², and the blocking
    *     key is content-derived so co-partitioning is free. (For general
    *     INDEL noise the same pigeonhole needs PassJoin's positional
    *     substring windows — noted, not needed for aligned substitutions.)
    *  2. VERIFY: `levenshtein` only on candidates (measured: ~1.4k
    *     candidates for 1k dirty rows at sf0.1 — vs 5M all-pairs).
    *  3. RESOLVE: keep-best per dirty row (min distance, then min id) —
    *     one row_number window over the candidate set.
    */
  private val FzSegLen = 12
  private val FzNSeg = 3
  private val FzTitleLen = FzSegLen * FzNSeg

  /** 36-char titles over the documents corpus (shared by both fuzzy-join
    * variants). */
  private def fzTitles(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .filter(length(col("text")) >= FzTitleLen)
      .select(col("doc_id"), substring(col("text"), 1, FzTitleLen).as("t"))

  /** Fixed-position segments of `tCol`, offset by each shift in `shifts`
    * (PassJoin's position window; `Seq(0)` = aligned substitution-only
    * blocking). Emits (…, i, s) rows for the blocking equi-join.
    */
  private def fzSegmented(
      df: DataFrame, tCol: String, shifts: Seq[Int]): DataFrame =
    df.withColumn("seg", explode(array((for {
        i <- 0 until FzNSeg
        d <- shifts
        if i * FzSegLen + 1 + d >= 1
      } yield struct(lit(i).as("i"),
        substring(col(tCol), i * FzSegLen + 1 + d, FzSegLen).as("s"))): _*)))
      .select(df.columns.map(col) :+ col("seg.i").as("i")
        :+ col("seg.s").as("s"): _*)

  /** Candidate verify + keep-best resolution (shared): banded levenshtein
    * filter (the ThresholdLevenshteinRule target — asserted in PlanSpec),
    * exact distance for survivors only, min-(dist, id) winner per dirty
    * row.
    */
  private def fzResolve(cand: DataFrame): DataFrame = {
    val byBest = Window.partitionBy(col("dirty_id"))
      .orderBy(col("dist"), col("clean_id"))
    cand
      .filter(levenshtein(col("t_dirty"), col("t_clean")) <= 2)
      .withColumn("dist",
        levenshtein(col("t_dirty"), col("t_clean")).cast(LongType))
      .withColumn("rn", row_number().over(byBest))
      .filter(col("rn") === 1)
      .select(col("dirty_id"), col("clean_id"), col("dist"))
      .orderBy("dirty_id")
  }

  def fuzzyBlockedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = fzTitles(spark, sfDir)
    val clean = docs
      .select(col("doc_id").as("clean_id"), col("t").as("t_clean"))
    val dirty = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("dirty_id"),
        concat(substring(col("t"), 1, 6), lit("#"),
          substring(col("t"), 8, 11), lit("#"),
          substring(col("t"), 20, 17)).as("t_dirty"))
    val cand = fzSegmented(dirty, "t_dirty", Seq(0))
      .join(fzSegmented(clean, "t_clean", Seq(0)), Seq("i", "s"))
      .select(col("dirty_id"), col("t_dirty"), col("clean_id"), col("t_clean"))
      .distinct()
    fzResolve(cand)
  }

  /** The INDEL-general fuzzy join — full PassJoin position-window
    * blocking (Li, Deng, Feng: PassJoin, VLDB'12). Substitution-only
    * noise keeps segments aligned, so [[fuzzyBlockedJoin]] joins on exact
    * positions; an insertion or deletion SHIFTS everything after it, and
    * the pigeonhole becomes: for distance ≤ τ, some clean segment appears
    * verbatim in the dirty string within ±τ of its home position. The
    * dirty side therefore emits each segment window at shifts −τ..τ
    * (2τ+1 = 5 keys per segment — constant fan-out, still an equi-join,
    * still never docs²) and the same banded verify + keep-best resolve
    * the candidates. Corruption here is one deletion + one insertion, so
    * every aligned-only key for the tail segments misses — this query
    * fails under [[fuzzyBlockedJoin]]'s blocking by construction.
    */
  def fuzzyIndelJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = fzTitles(spark, sfDir)
    val clean = docs
      .select(col("doc_id").as("clean_id"), col("t").as("t_clean"))
    // delete char 8, insert '#' before the char at 26: distance 2, pure
    // indel — every character from position 8 on sits at a shifted index
    val dirty = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("dirty_id"),
        concat(substring(col("t"), 1, 7), substring(col("t"), 9, 17),
          lit("#"), substring(col("t"), 26, 11)).as("t_dirty"))
    val cand = fzSegmented(dirty, "t_dirty", -2 to 2)
      .join(fzSegmented(clean, "t_clean", Seq(0)), Seq("i", "s"))
      .select(col("dirty_id"), col("t_dirty"), col("clean_id"), col("t_clean"))
      .distinct()
    fzResolve(cand)
  }

  private val fuzzyIndelJoinOracle =
    """WITH docs AS (
      |  SELECT doc_id, substr(text, 1, 36) AS t FROM documents
      |  WHERE length(text) >= 36),
      |clean AS (SELECT doc_id AS clean_id, t AS t_clean FROM docs),
      |dirty AS (
      |  SELECT doc_id AS dirty_id,
      |    concat(substr(t,1,7), substr(t,9,17), '#', substr(t,26,11))
      |      AS t_dirty
      |  FROM docs WHERE doc_id % 5 = 0),
      |cseg AS (
      |  SELECT clean_id, t_clean, i.range AS i,
      |    substr(t_clean, CAST(i.range*12+1 AS INT), 12) AS s
      |  FROM clean, range(0, 3) i),
      |dseg AS (
      |  SELECT dirty_id, t_dirty, i.range AS i,
      |    substr(t_dirty, CAST(i.range*12+1+d.range AS INT), 12) AS s
      |  FROM dirty, range(0, 3) i, range(-2, 3) d
      |  WHERE i.range*12+1+d.range >= 1),
      |cand AS (
      |  SELECT DISTINCT dirty_id, t_dirty, clean_id, t_clean
      |  FROM dseg JOIN cseg USING (i, s)),
      |ver AS (
      |  SELECT dirty_id, clean_id,
      |    CAST(levenshtein(t_dirty, t_clean) AS BIGINT) AS dist,
      |    row_number() OVER (PARTITION BY dirty_id
      |      ORDER BY levenshtein(t_dirty, t_clean), clean_id) AS rn
      |  FROM cand WHERE levenshtein(t_dirty, t_clean) <= 2)
      |SELECT dirty_id, clean_id, dist FROM ver WHERE rn = 1
      |ORDER BY dirty_id""".stripMargin

  private val fuzzyBlockedJoinOracle =
    """WITH docs AS (
      |  SELECT doc_id, substr(text, 1, 36) AS t FROM documents
      |  WHERE length(text) >= 36),
      |clean AS (SELECT doc_id AS clean_id, t AS t_clean FROM docs),
      |dirty AS (
      |  SELECT doc_id AS dirty_id,
      |    concat(substr(t,1,6), '#', substr(t,8,11), '#', substr(t,20,17))
      |      AS t_dirty
      |  FROM docs WHERE doc_id % 5 = 0),
      |cseg AS (
      |  SELECT clean_id, t_clean, i.range AS i,
      |    substr(t_clean, CAST(i.range*12+1 AS INT), 12) AS s
      |  FROM clean, range(0, 3) i),
      |dseg AS (
      |  SELECT dirty_id, t_dirty, i.range AS i,
      |    substr(t_dirty, CAST(i.range*12+1 AS INT), 12) AS s
      |  FROM dirty, range(0, 3) i),
      |cand AS (
      |  SELECT DISTINCT dirty_id, t_dirty, clean_id, t_clean
      |  FROM dseg JOIN cseg USING (i, s)),
      |ver AS (
      |  SELECT dirty_id, clean_id,
      |    CAST(levenshtein(t_dirty, t_clean) AS BIGINT) AS dist,
      |    row_number() OVER (PARTITION BY dirty_id
      |      ORDER BY levenshtein(t_dirty, t_clean), clean_id) AS rn
      |  FROM cand WHERE levenshtein(t_dirty, t_clean) <= 2)
      |SELECT dirty_id, clean_id, dist FROM ver WHERE rn = 1
      |ORDER BY dirty_id""".stripMargin

  /** Per-document token-rarity score — the unigram-LM quality proxy
    * (documents dominated by corpus-rare tokens score high; boilerplate
    * scores low), the scan-level companion to `text_tfidf_topterms`'
    * per-term ranking. True perplexity needs logs, and transcendental
    * functions are NOT bit-portable across libm implementations — so the
    * score is the mean INVERSE document frequency `avg(N / df(token))`,
    * rank-equivalent for gating: each N/df is one IEEE division of exact
    * integers (correctly rounded, engine-independent), rounded to 6dp and
    * routed through DECIMAL so the per-doc mean is order-independent.
    *
    * Shape: one token explode + hash agg builds the df table (vocabulary-
    * sized — broadcast), a second explode joins tokens against it, and a
    * per-doc aggregate finishes. Two corpus scans, no sort; the df table
    * is the only shared state, exactly the TF-IDF layout.
    */
  def rarityScore(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val df = toks.groupBy(col("tok"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    toks
      .join(broadcast(df), "tok")
      .crossJoin(broadcast(n))
      .select(col("doc_id"),
        round(col("n_docs").cast(DoubleType) / col("df").cast(DoubleType), 6)
          .cast(DecimalType(24, 6)).as("ridf"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        // exact decimal sum -> ONE deterministic double division by the
        // count (decimal/decimal division scale rules differ per engine)
        (sum(col("ridf")).cast(DoubleType) / count(lit(1))).as("rarity"))
      .orderBy("doc_id")
  }

  private val rarityScoreOracle =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |dfreq AS (
      |  SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      |  FROM toks GROUP BY tok),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
      |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(CAST(round(CAST(n.n_docs AS DOUBLE) / CAST(d.df AS DOUBLE), 6)
      |    AS DECIMAL(24,6))) AS DOUBLE) / count(*) AS rarity
      |FROM toks t JOIN dfreq d ON t.tok = d.tok, n
      |GROUP BY t.doc_id
      |ORDER BY t.doc_id""".stripMargin

  /** Normalization-keyed exact dedup — the robustness layer plain
    * `dropDuplicates(text)` lacks: case, runs of whitespace, and
    * surrounding junk make byte-distinct copies of the same content
    * (the single most common near-dup class in crawled corpora, and the
    * cheapest to kill — no shingles, no LSH, just a canonical key).
    * Variants are planted deterministically (every 7th doc upper-cased,
    * every 13th whitespace-doubled and padded), the key is
    * lower ∘ collapse-spaces ∘ trim, and the output proves the win:
    * groups distinct under the RAW key that collapse under the
    * normalized key. Key derivation is per-row codegen'd string work;
    * the dedup is the same single content-key shuffle as `dedup_exact`.
    */
  def normalizedDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, upper(col("text")))
          .when(col("doc_id") % 13 === 0,
            concat(lit("  "), regexp_replace(col("text"), " ", "  "), lit(" ")))
          .otherwise(col("text")).as("raw"))
    val normKey = trim(regexp_replace(lower(col("raw")), " +", " "))
    val groups = docs
      .select(col("doc_id"), col("raw"), normKey.as("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_variants"),
        countDistinct(col("raw")).as("n_raw_distinct"),
        min(col("doc_id")).as("representative"))
    groups.agg(
        count(lit(1)).as("n_normalized_groups"),
        sum(col("n_variants")).as("n_docs"),
        sum(when(col("n_raw_distinct") > 1, 1L).otherwise(0L))
          .as("n_groups_only_normalization_catches"),
        sum(col("n_raw_distinct") - 1).as("n_dupes_missed_by_raw_key"))
  }

  private val normalizedDedupOracle =
    """WITH docs AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN upper(text)
      |         WHEN doc_id % 13 = 0 THEN
      |           concat('  ', regexp_replace(text, ' ', '  ', 'g'), ' ')
      |         ELSE text END AS raw
      |  FROM documents),
      |groups AS (
      |  SELECT trim(regexp_replace(lower(raw), ' +', ' ', 'g')) AS k,
      |    CAST(count(*) AS BIGINT) AS n_variants,
      |    CAST(count(DISTINCT raw) AS BIGINT) AS n_raw_distinct
      |  FROM docs GROUP BY 1)
      |SELECT CAST(count(*) AS BIGINT) AS n_normalized_groups,
      |  CAST(sum(n_variants) AS BIGINT) AS n_docs,
      |  CAST(count(*) FILTER (WHERE n_raw_distinct > 1) AS BIGINT)
      |    AS n_groups_only_normalization_catches,
      |  CAST(sum(n_raw_distinct - 1) AS BIGINT) AS n_dupes_missed_by_raw_key
      |FROM groups""".stripMargin

  /** Language-ID evaluation against ground truth — the model-eval-in-SQL
    * pattern (here scoring the stopword heuristic the quality pipeline
    * uses against the corpus's labeled `lang` column): per-(truth,
    * prediction) confusion cells plus exact-ratio precision for the 'en'
    * class. Every metric is integer counts + one rounded IEEE division —
    * evaluation numbers that hash identically are what lets a corpus
    * release pin its quality claims.
    */
  def langIdEval(spark: SparkSession, sfDir: String): DataFrame = {
    val nTokens = size(split(col("text"), " "))
    val nStop = size(regexp_extract_all(col("text"), lit(StopRe), lit(0)))
    val pred = when(nStop.cast(DoubleType) / nTokens >= 0.02, "en")
      .otherwise("und")
    Tables(spark, sfDir, "documents")
      .select(col("lang").as("truth"), pred.as("pred"))
      .groupBy(col("truth"), col("pred"))
      .agg(count(lit(1)).as("n"))
      .withColumn("truth_total",
        sum(col("n")).over(Window.partitionBy(col("truth"))))
      .select(col("truth"), col("pred"), col("n"),
        round(col("n").cast(DoubleType) * 100 / col("truth_total"), 6)
          .as("pct_of_truth"))
      .orderBy("truth", "pred")
  }

  private val langIdEvalOracle =
    s"""WITH scored AS (
       |  SELECT lang AS truth,
       |    CASE WHEN len(list_filter(string_split(text, ' '),
       |        t -> list_contains($stopList, t))) * 1.0
       |        / len(string_split(text, ' ')) >= 0.02
       |      THEN 'en' ELSE 'und' END AS pred
       |  FROM documents),
       |cells AS (
       |  SELECT truth, pred, CAST(count(*) AS BIGINT) AS n
       |  FROM scored GROUP BY truth, pred)
       |SELECT truth, pred, n,
       |  round(CAST(n AS DOUBLE) * 100
       |    / sum(n) OVER (PARTITION BY truth), 6) AS pct_of_truth
       |FROM cells ORDER BY truth, pred""".stripMargin

  /** CCNet-style language-model quality score, integer-exact: per-document
    * mean bigram surprisal against a corpus bigram model. A document whose
    * bigrams are all corpus-common scores low (fluent/boilerplate); one
    * full of never-seen-together pairs scores high (noise or novelty) —
    * the same signal CCNet gets from a KenLM perplexity, here from the
    * corpus itself with no external model.
    *
    * Determinism: log2 is taken at integer resolution as a BINARY BIT
    * LENGTH (`length(bin(n))`), so the per-occurrence surprisal
    * `bitlen(n_prefix) - bitlen(n_pair)` is exact integer arithmetic in
    * both engines — no float logs to mismatch. The single division (mean)
    * divides two exact BIGINTs once.
    *
    * Scale shape: the model is built FROM the pair counts (one explode +
    * hash agg with map-side combine; prefix counts re-aggregate the pair
    * table, not the corpus), then scoring is one equi-join of bigram
    * occurrences to the model on (w1, w2) — the standard model-scoring
    * join, hash-partitioned on the bigram key. A skewed stopword bigram
    * shows up as a hot key; AQE skew split handles it (asserted for the
    * engine in PlanSpec's skew suite). Nothing is ever docs².
    */
  def bigramSurprisal(spark: SparkSession, sfDir: String): DataFrame = {
    val ts = split(col("text"), " ")
    val bg = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), ts.as("ts")).filter(size(col("ts")) >= 2)
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(1), size(col("ts")) - 1),
          i => struct(element_at(col("ts"), i).as("w1"),
            element_at(col("ts"), i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
    val pairCounts = bg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_pair"))
    val model = pairCounts
      .withColumn("n_prefix",
        sum(col("n_pair")).over(Window.partitionBy(col("w1"))))
      .select(col("w1"), col("w2"),
        (length(bin(col("n_prefix"))) - length(bin(col("n_pair"))))
          .cast(LongType).as("s"))
    bg.join(model, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("s")).as("sum_surprisal"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_surprisal"),
        (col("sum_surprisal").cast(DoubleType)
          / col("n_bigrams").cast(DoubleType)).as("avg_surprisal"))
      .orderBy(col("avg_surprisal").desc, col("doc_id"))
      .limit(100)
  }

  private val bigramSurprisalOracle =
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |bg AS (SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
      |       FROM tok, unnest(range(1, len(ts))) AS u(i)),
      |pc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
      |       FROM bg GROUP BY 1, 2),
      |model AS (
      |  SELECT w1, w2,
      |    CAST(length(bin(CAST(sum(n_pair) OVER (PARTITION BY w1) AS BIGINT)))
      |       - length(bin(n_pair)) AS BIGINT) AS s
      |  FROM pc),
      |sc AS (SELECT doc_id, s FROM bg JOIN model USING (w1, w2))
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |  CAST(sum(s) AS BIGINT) AS sum_surprisal,
      |  CAST(sum(s) AS DOUBLE) / count(*) AS avg_surprisal
      |FROM sc GROUP BY doc_id
      |ORDER BY avg_surprisal DESC, doc_id
      |LIMIT 100""".stripMargin

  // ---- BPE tokenizer training --------------------------------------------

  private val BpeRounds = 5

  /** Byte-pair-encoding merge training (Sennrich et al. 2016) — the
    * tokenizer-training step of an LLM data pipeline: starting from
    * characters, repeatedly merge the most frequent adjacent symbol pair,
    * emitting the learned merge table (the `merges.txt` a BPE tokenizer
    * ships). Ties break lexicographically so the vocabulary is a pure
    * function of the corpus.
    *
    * Scale shape — the classic BPE trick: the corpus is scanned exactly
    * ONCE, to build the word-frequency dictionary; every merge round then
    * runs over the DICTIONARY (vocabulary-cardinality-sized, millions of
    * rows at 100 TB — never corpus-sized). A round is one pair-explode +
    * hash agg, a 1-row TakeOrderedAndProject (the argmax pair), and a
    * broadcast of that row back over the dictionary for the merge rewrite —
    * no driver-side data movement at all (the argmax stays a 1-row
    * RELATION, crossJoin-broadcast, not a collect). Each round
    * `localCheckpoint`s the rewritten dictionary to truncate lineage,
    * exactly like the propagation loop in `dedup_cluster_assign`.
    *
    * The merge rewrite is two passes of space-delimited string replace:
    * one `replace(' '||seq||' ', ' a b ', ' ab ')` merges greedy
    * left-to-right but misses occurrences whose leading space was consumed
    * by the previous match's trailing space (" a b a b " → " ab a b ");
    * a second identical pass catches exactly those (two adjacent missed
    * occurrences cannot exist — the first would have matched in pass one),
    * reproducing BPE's non-overlapping greedy merge. Both engines'
    * `replace` share these scan semantics, so the oracle unrolls the same
    * five rounds in SQL.
    */
  def bpeTrain(spark: SparkSession, sfDir: String): DataFrame =
    bpeFit(spark, sfDir)._2.reduce(_ unionByName _).orderBy("round")

  /** The shared BPE training fold: returns the dictionary AFTER all
    * merge rounds (each word's seq is its merged token sequence) plus
    * the per-round merge rows — [[bpeTrain]] emits the merge table,
    * [[bpeEncode]] replays the final dictionary over the corpus. */
  private def bpeFit(
      spark: SparkSession, sfDir: String): (DataFrame, Seq[DataFrame]) = {
    val vocab0 = Tables(spark, sfDir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      .select(array_join(split(col("word"), ""), " ").as("seq"), col("wc"))
    var vocab = vocab0.localCheckpoint(true)
    var merges = Seq.empty[DataFrame]
    for (r <- 1 to BpeRounds) {
      val ts = split(col("seq"), " ")
      val best = vocab
        .select(col("wc"), ts.as("ts"))
        .filter(size(col("ts")) >= 2)
        .select(col("wc"), explode(transform(
          sequence(lit(1), size(col("ts")) - 1),
          i => struct(element_at(col("ts"), i).as("lhs"),
            element_at(col("ts"), i + 1).as("rhs")))).as("p"))
        .groupBy(col("p.lhs"), col("p.rhs"))
        .agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("lhs"), col("rhs")).limit(1)
        .select(col("lhs").as("b_lhs"), col("rhs").as("b_rhs"),
          col("cnt").as("b_cnt"))
        .localCheckpoint(true) // 1 row: pin the round's argmax
      merges = merges :+ best.select(lit(r.toLong).as("round"),
        col("b_lhs").as("lhs"), col("b_rhs").as("rhs"),
        col("b_cnt").as("pair_count"))
      val search = concat(lit(" "), col("b_lhs"), lit(" "), col("b_rhs"),
        lit(" "))
      val merged = concat(lit(" "), col("b_lhs"), col("b_rhs"), lit(" "))
      def pass(c: Column): Column = call_function("replace", c, search, merged)
      vocab = vocab.crossJoin(broadcast(best))
        .select(trim(pass(pass(concat(lit(" "), col("seq"), lit(" ")))))
          .as("seq"), col("wc"))
        .localCheckpoint(true)
    }
    (vocab, merges)
  }

  /** BPE APPLY (`text_bpe_encode`) — the production half a tokenization
    * pipeline actually runs at 100 TB: encode the corpus with the learned
    * merge list and report per-document token counts plus the merged-
    * symbol rate (how much of the stream the learned vocab absorbed —
    * the compression the merges bought).
    *
    * Scale shape — encode the DICTIONARY, not the corpus: the training
    * fold's final dictionary ([[bpeFit]]) already holds every word's
    * merged token sequence (the ordered merge rewrites applied
    * vocabulary-sized, broadcast per round). Per-word token stats are
    * computed once per DISTINCT word; the corpus is then a single
    * explode + hash join against that dictionary + per-doc hash agg —
    * exactly how a production tokenizer amortizes: vocab-sized encode
    * work, corpus-sized only in the replay join. The oracle unrolls the
    * same five rewrite passes as CTEs ([[bpeTrainOracle]]'s discipline)
    * and re-derives the word from its seq (merges only delete spaces,
    * so `replace(seq, ' ', '')` inverts the char split). */
  def bpeEncode(spark: SparkSession, sfDir: String): DataFrame = {
    val (vocab, _) = bpeFit(spark, sfDir)
    val encoded = vocab.select(
      regexp_replace(col("seq"), " ", "").as("word"),
      size(split(col("seq"), " ")).cast(LongType).as("w_tokens"),
      size(filter(split(col("seq"), " "), t => length(t) >= 2))
        .cast(LongType).as("w_merged"))
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .join(encoded, "word")
      .groupBy(col("doc_id"))
      .agg(sum(col("w_tokens")).as("n_tokens"),
        sum(col("w_merged")).as("n_merged"))
      .withColumn("merged_rate",
        col("n_merged").cast(DoubleType) / col("n_tokens"))
      .orderBy("doc_id")
  }

  // lazy: references [[bpeCteChain]], which is declared later in the file
  // (object-val init order); the chain is SHARED with the training oracle
  // rather than spliced out of it by string surgery, so a reworded
  // training projection can no longer silently corrupt this one
  private lazy val bpeEncodeOracle: String =
    bpeCteChain + ",\n" +
      s"""enc AS MATERIALIZED (
         |  SELECT replace(seq, ' ', '') AS word,
         |    CAST(len(string_split(seq, ' ')) AS BIGINT) AS w_tokens,
         |    CAST(len(list_filter(string_split(seq, ' '),
         |      t -> length(t) >= 2)) AS BIGINT) AS w_merged
         |  FROM v$BpeRounds)
         |SELECT d.doc_id, CAST(sum(e.w_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(e.w_merged) AS BIGINT) AS n_merged,
         |  CAST(sum(e.w_merged) AS DOUBLE) / CAST(sum(e.w_tokens) AS DOUBLE)
         |    AS merged_rate
         |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |      FROM documents) d
         |JOIN enc e ON d.word = e.word
         |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  /** The CTE chain (v0 char-split word table + per-round p/b/v rewrite
    * CTEs) SHARED by [[bpeTrainOracle]] and [[bpeEncodeOracle]] — each
    * appends its own final projection. */
  private val bpeCteChain: String = {
    val rounds = (1 to BpeRounds).map { r =>
      val pv = s"v${r - 1}"
      // the argmax pair rides in as scalar subqueries; two replace passes
      // per the boundary-space analysis in the Scala docstring. MATERIALIZED
      // is load-bearing: each round references the previous ~6×, so an
      // inlining planner would otherwise expand the chain exponentially.
      val l = s"(SELECT lhs FROM b$r)"
      val h = s"(SELECT rhs FROM b$r)"
      s"""p$r AS MATERIALIZED (
         |  SELECT ts[i] AS lhs, ts[i+1] AS rhs, CAST(sum(wc) AS BIGINT) AS cnt
         |  FROM (SELECT string_split(seq, ' ') AS ts, wc FROM $pv),
         |       unnest(range(1, len(ts))) AS u(i)
         |  GROUP BY 1, 2),
         |b$r AS MATERIALIZED (SELECT lhs, rhs, cnt FROM p$r
         |        ORDER BY cnt DESC, lhs, rhs LIMIT 1),
         |v$r AS MATERIALIZED (
         |  SELECT trim(replace(replace(' ' || seq || ' ',
         |      ' ' || $l || ' ' || $h || ' ', ' ' || $l || $h || ' '),
         |      ' ' || $l || ' ' || $h || ' ', ' ' || $l || $h || ' '))
         |    AS seq, wc
         |  FROM $pv)""".stripMargin
    }.mkString(",\n")
    s"""WITH v0 AS MATERIALIZED (
       |  SELECT array_to_string(string_split(word, ''), ' ') AS seq,
       |         CAST(count(*) AS BIGINT) AS wc
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  GROUP BY 1),
       |$rounds""".stripMargin
  }

  private val bpeTrainOracle: String = {
    val out = (1 to BpeRounds)
      .map(r => s"SELECT CAST($r AS BIGINT) AS round, lhs, rhs," +
        s" cnt AS pair_count FROM b$r")
      .mkString("\nUNION ALL\n")
    s"""$bpeCteChain
       |SELECT * FROM (
       |$out)
       |ORDER BY round""".stripMargin
  }

  // ---- BM25 ranked retrieval ---------------------------------------------

  private val Bm25K = 10
  private val Bm25Queries = Seq(
    (1L, "spark"), (1L, "join"),
    (2L, "window"), (2L, "agg"),
    (3L, "slow"), (3L, "scan"), (3L, "fast"))

  /** BM25 ranked retrieval — the query side of the [[invertedIndex]] story:
    * score documents against a small query workload with Okapi BM25
    * (k1=1.2, b=0.75) and return each query's top-10. This is the
    * lexical-retrieval primitive of RAG/data-curation stacks (mine
    * documents matching a probe query before embedding rerank).
    *
    * Determinism — BM25 without transcendentals: the standard idf uses
    * `ln`, which is not bit-portable across libms (ARCHITECTURE.md trap
    * list), so this uses the RATIONAL Robertson idf
    * `(N − df + ½)/(df + ½) = (2N−2df+1)/(2df+1)` — the same
    * monotone-in-df ordering, expressed as one exact-integer ratio. The
    * tf saturation term clears its fractional constants the same way:
    * `tf·(k1+1)/(tf + k1(1−b+b·dl/avgdl))` with k1=6/5, b=3/4 multiplies
    * through by `10·Σdl` into `22·Σdl·tf / (10·Σdl·tf + 3·Σdl + 9·dl·N)`
    * — every operand BIGINT, two correctly-rounded IEEE divisions and one
    * multiply, rounded to 6dp and decimal-summed per (query, doc).
    *
    * Scale shape: the query workload and the per-term df table are tiny
    * broadcast dims; scoring is one corpus token scan joined against them
    * (map-side), and the per-query top-10 goes through the bounded heap —
    * the exchange carries ≤ k docs per (query × task), never the scored
    * posting lists.
    */
  def bm25TopK(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.BoundedTopK
    val qterms = Bm25Queries.toDF("qid", "tok")
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"), col("ts"), size(col("ts")).cast(LongType).as("dl"))
    val stats = docs.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("ts")).as("tok"))
      .join(broadcast(qterms), "tok")
      .groupBy(col("qid"), col("tok"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
    val dfRel = tf.select(col("tok"), col("doc_id")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfRel), "tok").crossJoin(broadcast(stats))
      .select(col("qid"), col("doc_id"),
        round(
          ((lit(2) * col("n_docs") - lit(2) * col("df") + lit(1))
            .cast(DoubleType)
            / (lit(2) * col("df") + lit(1)).cast(DoubleType))
            * ((lit(22) * col("sum_dl") * col("tf")).cast(DoubleType)
              / (lit(10) * col("sum_dl") * col("tf") + lit(3) * col("sum_dl")
                + lit(9) * col("dl") * col("n_docs")).cast(DoubleType)), 6)
          .cast(DecimalType(24, 6)).as("contrib"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("contrib")).cast(DoubleType).as("score"))
      .groupBy(col("qid"))
      .agg(BoundedTopK(col("score"), col("doc_id"), Bm25K).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), (col("pos") + 1).cast(LongType).as("rank"),
        col("col.id").as("doc_id"), col("col.score").as("score"))
      .orderBy("qid", "rank")
  }

  private val bm25TopKOracle: String = {
    val vals = Bm25Queries
      .map { case (q, t) => s"($q, '$t')" }.mkString(", ")
    s"""WITH q(qid, tok) AS (VALUES $vals),
       |docs AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |d AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl FROM docs),
       |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |                 CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
       |toks AS (SELECT doc_id, unnest(ts) AS tok FROM docs),
       |tf AS (
       |  SELECT CAST(q.qid AS BIGINT) AS qid, q.tok, t.doc_id, d.dl,
       |         CAST(count(*) AS BIGINT) AS tf
       |  FROM toks t JOIN q ON t.tok = q.tok JOIN d ON t.doc_id = d.doc_id
       |  GROUP BY 1, 2, 3, 4),
       |dfr AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
       |        FROM tf GROUP BY 1),
       |sc AS (
       |  SELECT qid, tf.doc_id,
       |    round(CAST(2 * n_docs - 2 * df + 1 AS DOUBLE)
       |            / CAST(2 * df + 1 AS DOUBLE)
       |        * CAST(22 * sum_dl * tf AS DOUBLE)
       |            / CAST(10 * sum_dl * tf + 3 * sum_dl + 9 * dl * n_docs
       |                   AS DOUBLE), 6) AS contrib
       |  FROM tf JOIN dfr USING (tok), stats),
       |agg AS (
       |  SELECT qid, doc_id,
       |    CAST(sum(CAST(contrib AS DECIMAL(24, 6))) AS DOUBLE) AS score
       |  FROM sc GROUP BY 1, 2)
       |SELECT qid, CAST(rn AS BIGINT) AS rank, doc_id, score
       |FROM (SELECT *, row_number() OVER (
       |        PARTITION BY qid ORDER BY score DESC, doc_id) AS rn
       |      FROM agg)
       |WHERE rn <= $Bm25K
       |ORDER BY qid, rank""".stripMargin
  }

  // ---- corpus drift monitoring -------------------------------------------

  private val DriftRef = "src0"
  private val DriftCur = "src2"

  /** Token-distribution drift monitor — the data-quality alarm a
    * continuously-fed corpus runs between a reference slice and the
    * current intake (here: two sources standing in for last-month vs
    * this-month): per-token two-sample divergence
    * `(n₁N₂ − n₂N₁)² / (N₁·N₂·(n₁+n₂))` (the per-cell χ² term), with the
    * top-20 most-drifted tokens reported. A distribution shift in the
    * feed shows up as a handful of tokens carrying most of the statistic
    * — the actionable form of "the data changed".
    *
    * Determinism: all operands are exact BIGINT counts CAST to double
    * (correctly rounded, identical cross-engine — `n₁N₂−n₂N₁` stays well
    * under 2⁵³ here and the squares/products are the same IEEE ops in the
    * same order in both engines), one division, rounded to 6dp. At
    * corpus scales where the raw difference itself would exceed 2⁵³ the
    * counts route through DECIMAL(38,0) first — same discipline as
    * `ref_replica_checksums`.
    *
    * Scale shape: one map-side-combined hash aggregate over the two
    * slices' token stream (the filter rides the scan), two broadcast
    * scalars, one TakeOrderedAndProject — the corpus is scanned once.
    */
  def driftMonitor(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables(spark, sfDir, "documents")
      .filter(col("source").isin(DriftRef, DriftCur))
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
    val counts = toks.groupBy(col("tok")).agg(
      count(when(col("source") === DriftRef, 1)).as("n_ref"),
      count(when(col("source") === DriftCur, 1)).as("n_cur"))
    val totals = counts.agg(sum(col("n_ref")).as("t_ref"),
      sum(col("n_cur")).as("t_cur"))
    counts.crossJoin(broadcast(totals))
      .select(col("tok"), col("n_ref"), col("n_cur"),
        round(
          ((col("n_ref") * col("t_cur") - col("n_cur") * col("t_ref"))
            .cast(DoubleType)
            * (col("n_ref") * col("t_cur") - col("n_cur") * col("t_ref"))
              .cast(DoubleType))
            / (col("t_ref").cast(DoubleType) * col("t_cur").cast(DoubleType)
              * (col("n_ref") + col("n_cur")).cast(DoubleType)), 6)
          .as("drift_score"))
      .orderBy(col("drift_score").desc, col("tok"))
      .limit(20)
  }

  private val driftMonitorOracle =
    s"""WITH toks AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS tok
       |  FROM documents WHERE source IN ('$DriftRef', '$DriftCur')),
       |counts AS (
       |  SELECT tok,
       |    CAST(count(*) FILTER (WHERE source = '$DriftRef') AS BIGINT)
       |      AS n_ref,
       |    CAST(count(*) FILTER (WHERE source = '$DriftCur') AS BIGINT)
       |      AS n_cur
       |  FROM toks GROUP BY tok),
       |tot AS (SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref,
       |               CAST(sum(n_cur) AS BIGINT) AS t_cur FROM counts)
       |SELECT tok, n_ref, n_cur,
       |  round(CAST(n_ref * t_cur - n_cur * t_ref AS DOUBLE)
       |      * CAST(n_ref * t_cur - n_cur * t_ref AS DOUBLE)
       |      / (CAST(t_ref AS DOUBLE) * CAST(t_cur AS DOUBLE)
       |         * CAST(n_ref + n_cur AS DOUBLE)), 6) AS drift_score
       |FROM counts, tot
       |ORDER BY drift_score DESC, tok
       |LIMIT 20""".stripMargin

  // ---- vocabulary growth (Heaps' law) ------------------------------------

  private val VocabBuckets = 10

  /** Vocabulary-growth curve (Heaps' law) — the corpus statistic behind
    * "how much NEW text is this feed actually adding": docs are split
    * into 10 equal id-ordered intake slices, and per slice the report
    * gives its token volume, how many never-before-seen token types it
    * introduced, and the cumulative token/vocabulary totals. A healthy
    * crawl shows the sublinear Heaps curve; a flattening new-type count
    * means the feed is recycling content (and the marginal slice is
    * dedup fodder), a spike means a domain shift — the same alarm family
    * as `text_drift_monitor`, at the whole-corpus granularity.
    *
    * Determinism: pure integer counts; the slice of a token's FIRST
    * appearance is a min over its bucket ids — associative, shuffle-safe.
    *
    * Scale shape: one token scan feeding two map-side-combined hash
    * aggregates (per-bucket volume; per-type min-bucket, re-aggregated to
    * bucket counts), then cumulative sums by unpartitioned window over
    * the 10-row bucket relation — corpus-sized work is hash aggregation
    * only, the window is constant-size. The doc-count scalar rides in by
    * broadcast so bucketing stays on the scan.
    */
  def vocabGrowth(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(spark, sfDir, "documents")
    val n = docs.agg(max(col("doc_id")).as("mx"))
    val toks = docs.crossJoin(broadcast(n))
      .select(
        floor((col("doc_id") * VocabBuckets).cast(DoubleType)
          / (col("mx") + 1)).as("bucket"),
        explode(split(col("text"), " ")).as("tok"))
    val perBucket = toks.groupBy(col("bucket"))
      .agg(count(lit(1)).as("toks"))
    val newTypes = toks.groupBy(col("tok"))
      .agg(min(col("bucket")).as("fb"))
      .groupBy(col("fb").as("bucket"))
      .agg(count(lit(1)).as("new_types"))
    perBucket.join(newTypes, Seq("bucket"), "left_outer")
      .select(col("bucket"), col("toks"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .withColumn("cum_tokens",
        sum(col("toks")).over(Window.orderBy("bucket")))
      .withColumn("vocab_size",
        sum(col("new_types")).over(Window.orderBy("bucket")))
      .orderBy("bucket")
  }

  private val vocabGrowthOracle =
    s"""WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
       |toks AS (
       |  SELECT CAST(floor(doc_id * $VocabBuckets * 1.0 / (mx + 1)) AS BIGINT)
       |           AS bucket,
       |         unnest(string_split(text, ' ')) AS tok
       |  FROM documents, mx),
       |pb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS toks
       |       FROM toks GROUP BY bucket),
       |fs AS (SELECT fb AS bucket, CAST(count(*) AS BIGINT) AS new_types
       |       FROM (SELECT tok, min(bucket) AS fb FROM toks GROUP BY tok)
       |       GROUP BY fb)
       |SELECT pb.bucket, pb.toks,
       |  coalesce(fs.new_types, 0) AS new_types,
       |  CAST(sum(pb.toks) OVER (ORDER BY pb.bucket) AS BIGINT) AS cum_tokens,
       |  CAST(sum(coalesce(fs.new_types, 0)) OVER (ORDER BY pb.bucket)
       |    AS BIGINT) AS vocab_size
       |FROM pb LEFT JOIN fs ON pb.bucket = fs.bucket
       |ORDER BY pb.bucket""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("text_stats_quality",
      "per-doc token stats, quality score, stopword-heuristic language ID",
      statsQuality, Some(statsQualityOracle)),
    Query("text_token_count",
      "whitespace + BPE-ish regex token counts",
      tokenCount, Some(tokenCountOracle)),
    Query("text_fingerprint",
      "md5 + codegen'd polynomial rolling-hash fingerprints",
      fingerprint, Some(fingerprintOracle)),
    Query("text_quality_filter",
      "curation gate: length band + stopword rate + lexical diversity",
      qualityFilter, Some(qualityFilterOracle)),
    Query("text_redact",
      "entity redaction with replacement counts and fingerprints",
      redact, Some(redactOracle)),
    Query("text_edit_distance",
      "levenshtein edit distance, the post-pruning exact near-dup check",
      editDistance, Some(editDistanceOracle)),
    Query("text_repetition",
      "Gopher-style repetition signals: top-bigram share + distinct-token cover",
      repetition, Some(repetitionOracle)),
    Query("text_tfidf_topterms",
      "TF-IDF top-3 terms per document (linear idf, broadcast df table)",
      tfidfTopTerms, Some(tfidfTopTermsOracle)),
    Query("text_inverted_index",
      "inverted index: token -> sorted doc-id postings + doc frequency",
      invertedIndex, Some(invertedIndexOracle)),
    Query("text_bigram_lift",
      "corpus bigram collocations scored by division-exact lift",
      bigramLift, Some(bigramLiftOracle)),
    Query("text_heavy_hitters",
      "two-pass heavy hitters: MG sketch candidates + exact verify counts",
      heavyHitters, Some(heavyHittersOracle)),
    Query("text_fuzzy_join",
      "fuzzy entity resolution: segment blocking + levenshtein + keep-best",
      fuzzyBlockedJoin, Some(fuzzyBlockedJoinOracle)),
    Query("text_rarity_score",
      "per-doc mean inverse document frequency (unigram quality proxy)",
      rarityScore, Some(rarityScoreOracle)),
    Query("text_fuzzy_join_indel",
      "PassJoin position-window blocking: indel-robust fuzzy join",
      fuzzyIndelJoin, Some(fuzzyIndelJoinOracle)),
    Query("dedup_normalized_key",
      "normalization-keyed exact dedup: case/whitespace variants collapse",
      normalizedDedup, Some(normalizedDedupOracle)),
    Query("text_langid_eval",
      "confusion cells + exact ratios: lang-ID heuristic vs ground truth",
      langIdEval, Some(langIdEvalOracle)),
    Query("text_bigram_surprisal",
      "CCNet-style LM quality score: integer-exact mean bigram surprisal",
      bigramSurprisal, Some(bigramSurprisalOracle)),
    Query("text_bpe_train",
      "BPE tokenizer training: 5 most-frequent-pair merges over the dict",
      bpeTrain, Some(bpeTrainOracle)),
    Query("text_bpe_encode",
      "BPE apply: dictionary-encoded corpus, tokens/doc + merged rate",
      bpeEncode, Some(bpeEncodeOracle)),
    Query("text_bm25_topk",
      "BM25 ranked retrieval: rational-idf top-10 per query via bounded heap",
      bm25TopK, Some(bm25TopKOracle)),
    Query("text_drift_monitor",
      "token-distribution drift: per-token chi-square term, top-20 drifted",
      driftMonitor, Some(driftMonitorOracle)),
    Query("text_vocab_growth",
      "Heaps-law vocabulary growth over 10 intake slices, cumulative",
      vocabGrowth, Some(vocabGrowthOracle)),
  )
}
