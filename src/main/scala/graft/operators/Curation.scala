package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GlobalOrder, Query}
import graft.sources.Tables

/** Corpus-curation operators a training-data pipeline runs AFTER the
  * per-document analyses in [[TextAnalysis]] and the pair-finding in
  * [[Dedup]]: deterministic train/valid/test splitting, token-window
  * chunking, and the end-to-end curation pipeline composing quality gate +
  * exact dedup + benchmark decontamination.
  *
  * Scale notes (100 TB):
  *  - the split is HASH-based, not RNG-based: reproducible under any
  *    partitioning/retry, no shuffle at all (a per-row projection), and
  *    re-rollable by salting the hash input with a version string;
  *  - chunking is a per-row explode — linear work, no shuffle, and the
  *    chunk relation inherits the corpus partitioning;
  *  - the pipeline stages are each the scale shape proven by their
  *    standalone queries: one content-key shuffle (dedup), one broadcast
  *    semi-join (decontamination), one codegen'd scan (quality gate).
  */
object Curation {

  // ---- deterministic train/valid/test split -----------------------------

  /** 80/10/10 split on the first 16 bits of md5(doc_id): stable across
    * engines (md5 is standardized, unlike engine-native hash functions),
    * uniform, and independent of doc_id ordering. conv() parses the hex
    * slice; both sides emit BIGINT.
    */
  def trainTestSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = (conv(substring(md5(col("doc_id").cast(StringType)), 1, 4),
      16, 10).cast(LongType) % 10).as("bucket")
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), bucket)
      .withColumn("split",
        when(col("bucket") <= 7, "train")
          .when(col("bucket") === 8, "valid")
          .otherwise("test"))
      .orderBy("doc_id")
  }

  private val trainTestSplitOracle =
    """SELECT doc_id, bucket,
      | CASE WHEN bucket <= 7 THEN 'train'
      |      WHEN bucket = 8 THEN 'valid'
      |      ELSE 'test' END AS split
      |FROM (
      |  SELECT doc_id,
      |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
      |         AS BIGINT) % 10 AS bucket
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  // ---- deterministic epoch shuffle + shard export ------------------------

  /** Reproducible EPOCH SHUFFLE and SHARD ASSIGNMENT — the training
    * export's last step: every epoch the corpus must be read in a fresh
    * pseudo-random order, identical across re-runs, retries, and
    * cluster sizes. `rand(seed)` CANNOT provide that in Spark: it is
    * evaluated per partition-and-row-position, so a task retry or a
    * different input split re-deals the epoch. The scalable answer is a
    * KEYED hash permutation: order by md5(seed ‖ doc_id) — a pure
    * function of the data, stable under any partitioning. Sharding
    * hash-assigns each document to one of 8 output shards from the same
    * key (shards are near-equal by uniformity — no sequential bin-pack
    * pass), and the within-shard position is a window over the shard:
    * 8 independent partitions, NO global single-partition sort. At
    * 100 TB this is one shuffle on the shard key; a trainer reading
    * shard files in (shard, pos) order replays the exact permutation. */
  def epochShuffle(spark: SparkSession, sfDir: String): DataFrame = {
    val key = conv(substring(md5(concat(lit("epoch7:"),
      col("doc_id").cast(StringType))), 1, 8), 16, 10).cast(LongType)
    val tokens = greatest(lit(1), length(col("text")) -
      length(translate(col("text"), " ", "")) + 1).cast(LongType)
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), key.as("k"), tokens.as("tokens"))
      .withColumn("shard", pmod(col("k"), lit(8L)))
      .withColumn("pos", row_number()
        .over(Window.partitionBy(col("shard"))
          .orderBy(col("k"), col("doc_id"))).cast(LongType))
      .select(col("shard"), col("pos"), col("doc_id"), col("tokens"))
      .orderBy("shard", "pos")
  }

  private val epochShuffleOracle =
    """WITH keyed AS (
      |  SELECT doc_id,
      |    CAST(concat('0x',
      |      substr(md5('epoch7:' || CAST(doc_id AS VARCHAR)), 1, 8))
      |      AS BIGINT) AS k,
      |    greatest(1, length(text) - length(replace(text, ' ', '')) + 1)
      |      AS tokens
      |  FROM documents)
      |SELECT k % 8 AS shard,
      |  row_number() OVER (PARTITION BY k % 8 ORDER BY k, doc_id) AS pos,
      |  doc_id, CAST(tokens AS BIGINT) AS tokens
      |FROM keyed
      |ORDER BY shard, pos""".stripMargin

  /** Stratified deterministic sampling — downsample over-represented
    * strata (here: keep 1/2 of English, 1/10 of everything else), the
    * language/source rebalancing step of corpus curation. Same md5-bucket
    * mechanism as the split (reproducible, shuffle-free, engine-portable);
    * the lang is salted into the hash so a document's keep/drop decision is
    * independent across strata re-assignments. Rates live in a tiny
    * broadcast dim — at 100 TB that's the per-source sampling config table.
    */
  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val rates = Seq(("en", 32768L)).toDF("lang", "keep_below") // of 65536
    val bucket = conv(substring(
      md5(concat(col("doc_id").cast(StringType), lit(":"), col("lang"))),
      1, 4), 16, 10).cast(LongType)
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), bucket.as("bucket"))
      .join(broadcast(rates), Seq("lang"), "left_outer")
      .filter(col("bucket") < coalesce(col("keep_below"), lit(6554L)))
      .select(col("doc_id"), col("lang"), col("bucket"))
      .orderBy("doc_id")
  }

  private val stratifiedSampleOracle =
    """SELECT doc_id, lang, bucket FROM (
      |  SELECT doc_id, lang,
      |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':' || lang), 1, 4))
      |         AS BIGINT) AS bucket
      |  FROM documents)
      |WHERE bucket < CASE WHEN lang = 'en' THEN 32768 ELSE 6554 END
      |ORDER BY doc_id""".stripMargin

  // ---- token-window chunking --------------------------------------------

  private val ChunkSize = 32
  private val Stride = 24 // 8-token overlap between adjacent chunks

  /** Split each document into overlapping token windows (size 32, stride
    * 24) — the context-window packing step before tokenization. Windows
    * start at 1, 1+S, 1+2S, … until the document END is covered — no token
    * is ever dropped (a packing step that silently loses the tail of every
    * document whose length isn't on the stride grid would corrupt the
    * corpus); only the final window may be short. Chunks are emitted as
    * md5 fingerprints + token counts to keep the relation narrow.
    */
  def chunkDocuments(spark: SparkSession, sfDir: String): DataFrame = {
    val ts = split(col("text"), " ")
    // last start = first stride point at or past (n - C + 1): the stop
    // bound (n - C) + S is ≥ that point and < the start after it
    val starts = sequence(lit(1),
      greatest(size(ts) - ChunkSize, lit(0)) + Stride, lit(Stride))
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), ts.as("ts"), explode(starts).as("s"))
      .select(col("doc_id"),
        col("s").cast(LongType).as("chunk_start"),
        size(slice(col("ts"), col("s"), lit(ChunkSize))).cast(LongType)
          .as("n_chunk_tokens"),
        md5(concat_ws(" ", slice(col("ts"), col("s"), lit(ChunkSize))))
          .as("chunk_md5"))
      .orderBy("doc_id", "chunk_start")
  }

  private val chunkDocumentsOracle =
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |ch AS (
       |  SELECT doc_id, CAST(s AS BIGINT) AS chunk_start,
       |         ts[s : s + ${ChunkSize - 1}] AS chunk
       |  FROM tok,
       |       unnest(range(1, greatest(len(ts) - $ChunkSize, 0) + $Stride + 1,
       |                    $Stride)) AS u(s))
       |SELECT doc_id, chunk_start,
       |  CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
       |  md5(array_to_string(chunk, ' ')) AS chunk_md5
       |FROM ch ORDER BY doc_id, chunk_start""".stripMargin

  // ---- sequence packing ---------------------------------------------------

  private val PackCapacity = 256 // tokens per training sequence
  private val PackShards = 8

  /** GPT-style sequence packing — the step that turns a curated corpus into
    * fixed-length training sequences: documents are concatenated in a
    * deterministic order and the token stream is cut every `PackCapacity`
    * tokens, so a document may straddle two (or more) adjacent sequences.
    * Emitted as one row per (document × sequence it occupies) with the
    * token count it contributes — the manifest a sequence-builder reads.
    *
    * Scale shape: packing is per-SHARD (doc_id mod 8), not global — a
    * global token cumsum would serialize the corpus through one partition;
    * per-shard cumsums need one shuffle on the shard key and the shard
    * count scales with the cluster. Within a shard: window cumsum + a
    * sequence/explode over each doc's [first, last] sequence ids — linear,
    * no further shuffle. Only the final sequence of each shard may be
    * short; every other sequence holds exactly `PackCapacity` tokens
    * (property-tested in CurationSpec).
    */
  def packSequences(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cap = lit(PackCapacity.toLong)
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), (col("doc_id") % PackShards).as("shard"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
      // zero-token docs occupy no sequence; without this guard a doc whose
      // tok_start lands exactly on a capacity boundary would make
      // sequence(k, k-1) emit a DESCENDING 2-row range (DuckDB's range()
      // returns empty there, so the oracle would diverge)
      .filter(col("n_tokens") > 0)
      .withColumn("tok_start", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("seq_id", explode(sequence(
        floor(col("tok_start") / cap),
        floor((col("tok_start") + col("n_tokens") - 1) / cap))))
      .select(col("shard"), col("seq_id"), col("doc_id"),
        (least((col("seq_id") + 1) * cap, col("tok_start") + col("n_tokens"))
          - greatest(col("seq_id") * cap, col("tok_start")))
          .as("n_tokens_in_seq"))
      .orderBy("shard", "seq_id", "doc_id")
  }

  private val packSequencesOracle =
    s"""WITH toks AS (
       |  SELECT doc_id, doc_id % $PackShards AS shard,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents
       |  WHERE len(string_split(text, ' ')) > 0),
       |pos AS (
       |  SELECT *, CAST(coalesce(sum(n_tokens) OVER (
       |      PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS tok_start
       |  FROM toks)
       |SELECT shard, seq_id, doc_id,
       |  least((seq_id + 1) * $PackCapacity, tok_start + n_tokens)
       |    - greatest(seq_id * $PackCapacity, tok_start) AS n_tokens_in_seq
       |FROM pos,
       |     unnest(range(tok_start // $PackCapacity,
       |                  (tok_start + n_tokens - 1) // $PackCapacity + 1))
       |       AS u(seq_id)
       |ORDER BY shard, seq_id, doc_id""".stripMargin

  // ---- end-to-end curation pipeline -------------------------------------

  /** The composed curation pass over the planted-duplicate corpus:
    * exact dedup (min-id representative) → benchmark decontamination
    * (drop docs sharing a word-8-gram with the eval set, docs 0..9) →
    * quality gate (length band + stopword rate + lexical diversity).
    * Every stage is the standalone query's plan; composing them changes
    * nothing about their scale shapes — the dedup shuffle, the broadcast
    * anti-join, and the final codegen'd scan pipeline back-to-back.
    */
  def curationPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = Dedup.docsWithDups(spark, sfDir)
    // 1. exact dedup: deterministic min-id representative per content
    val reps = corpus.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val deduped = corpus.join(reps, Seq("doc_id"), "left_semi")
    // 2. decontamination: drop docs sharing an 8-gram with the bench set
    // (Dedup.hashedGrams8 — the same contamination unit as the standalone
    // dedup_decontaminate query)
    val benchGrams = Dedup.hashedGrams8(
      Tables(spark, sfDir, "documents").filter(col("doc_id") < 10))
      .select(col("g")).distinct()
    val contaminated = Dedup.hashedGrams8(deduped)
      .join(broadcast(benchGrams), Seq("g"))
      .select(col("doc_id")).distinct()
    val clean = deduped.join(contaminated, Seq("doc_id"), "left_anti")
    // 3. quality gate — TextAnalysis.qualityGate, the text_quality_filter
    // stage itself (shared thresholds and metric definitions)
    TextAnalysis.qualityGate(clean)
      .orderBy("doc_id")
  }

  // single line: a wrapped continuation starting with "||" would lose its
  // first pipe to the outer oracle's stripMargin
  private val gram8Sql =
    (0 until 8).map(j => s"ts[i+$j]").mkString("||' '||")

  private val curationPipelineOracle =
    s"""WITH corpus AS (${Dedup.docsWithDupsSql}),
       |reps AS (SELECT min(doc_id) AS doc_id FROM corpus GROUP BY text),
       |dedup AS (SELECT c.* FROM corpus c JOIN reps USING (doc_id)),
       |cg AS (
       |  SELECT DISTINCT doc_id, $gram8Sql AS g
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM dedup),
       |       unnest(range(1, len(ts) - 6)) AS u(i)),
       |bg AS (
       |  SELECT DISTINCT $gram8Sql AS g
       |  FROM (SELECT string_split(text, ' ') AS ts FROM documents
       |        WHERE doc_id < 10),
       |       unnest(range(1, len(ts) - 6)) AS u(i)),
       |contaminated AS (SELECT DISTINCT cg.doc_id FROM cg JOIN bg USING (g)),
       |clean AS (
       |  SELECT * FROM dedup
       |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated))
       |${TextAnalysis.qualityGateSql("clean")}
       |ORDER BY doc_id""".stripMargin

  // ---- per-domain quota sampling ----------------------------------------

  private val DomainQuota = 10

  /** Per-domain quota sampling — the domain-balancing step of web-corpus
    * curation: no single source may contribute more than `DomainQuota`
    * documents, and within a domain the LONGEST documents win (length as
    * the quality proxy here; any scalar score slots in), tie-broken by
    * doc_id so the selection is reproducible.
    *
    * Shape: one shuffle on the domain key, then a per-domain top-k. At
    * harness scale a rank window is exact and cheap; at 100 TB a skewed
    * mega-domain would make its window partition the straggler, so the
    * production variant pre-prunes with a per-PARTITION top-k partial
    * aggregate (each map task keeps at most `DomainQuota` rows per domain
    * it sees) before the per-domain exact rank — same output, shuffle
    * bounded at quota × partitions per domain instead of the domain's full
    * row count.
    */
  def domainQuota(spark: SparkSession, sfDir: String): DataFrame = {
    val byDomain = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("rank_in_domain", row_number().over(byDomain).cast(LongType))
      .filter(col("rank_in_domain") <= DomainQuota)
      .orderBy("source", "rank_in_domain")
  }

  /** Deterministic uniform k-per-group reservoir sample: rank every doc by
    * a 48-bit md5-derived score (uniform, engine-portable, re-rollable by
    * salting the hash input) and keep each language's top-5 through the
    * bounded-heap aggregate [[graft.functions.BoundedTopK]]. Contrast with
    * [[domainQuota]]'s rank window, which shuffles and sorts EVERY row of
    * every group: here the map side already caps each group at k rows, so
    * the exchange carries ≤ k·groups·tasks rows — per-group sampling that
    * survives a 100 TB corpus with billions of docs per language. 48 hex
    * bits fit a Double exactly (< 2^53), so the score is bit-stable across
    * engines.
    */
  def reservoirSampleGroup(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.BoundedTopK
    val score = conv(substring(md5(col("doc_id").cast(StringType)), 1, 12),
      16, 10).cast(DoubleType)
    Tables(spark, sfDir, "documents")
      .select(col("lang"), score.as("h"), col("doc_id"))
      .groupBy(col("lang"))
      .agg(BoundedTopK(col("h"), col("doc_id"), 5).as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast(LongType).as("rank"),
        col("col.id").as("doc_id"))
      .orderBy("lang", "rank")
  }

  private val reservoirSampleGroupOracle =
    """SELECT lang, CAST(rn AS BIGINT) AS rank, doc_id
      |FROM (SELECT lang, doc_id,
      |        row_number() OVER (PARTITION BY lang ORDER BY
      |          CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
      |            AS BIGINT) DESC,
      |          doc_id) AS rn
      |      FROM documents)
      |WHERE rn <= 5
      |ORDER BY lang, rank""".stripMargin

  private val domainQuotaOracle =
    s"""SELECT doc_id, source, n_chars, rank_in_domain FROM (
       |  SELECT doc_id, source, n_chars,
       |    CAST(row_number() OVER (
       |      PARTITION BY source ORDER BY n_chars DESC, doc_id) AS BIGINT)
       |      AS rank_in_domain
       |  FROM documents)
       |WHERE rank_in_domain <= $DomainQuota
       |ORDER BY source, rank_in_domain""".stripMargin

  /** Domain mixture weights — the pre-training data-recipe computation
    * (Pile/LLaMA-style): given a TARGET mixture over sources and the
    * actual token inventory, find the largest total token budget B* at
    * which every source can meet its share without upsampling
    * (rate ≤ 1), then each source's sampling rate and expected token
    * yield. `B* = min_s floor(tokens_s · W / w_s)` — the bottleneck
    * source sets the budget; everything else downsamples.
    *
    * Determinism: B*, the per-source yields, and the shares are pure
    * integer arithmetic (floor div); the only fractional output, `rate`,
    * is ONE IEEE division of two exact-integer-valued operands (correctly
    * rounded, engine-independent) rounded to 6dp. Target weights derive
    * from the source name (index+1) — in production they're a tiny config
    * dim, broadcast exactly like the computed aggregate here. One
    * hash aggregate over the corpus + three broadcast scalars: the corpus
    * is scanned once, everything downstream is group-cardinality-sized.
    */
  def mixtureWeights(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables(spark, sfDir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast(LongType)).as("tokens"))
      .withColumn("weight",
        regexp_extract(col("source"), "(\\d+)", 1).cast(LongType) + 1)
    val tot = toks.agg(sum(col("weight")).as("w_total"))
    val withTot = toks.crossJoin(broadcast(tot))
    val bstar = withTot
      .agg(min(expr("(tokens * w_total) div weight")).as("bstar"))
    withTot.crossJoin(broadcast(bstar))
      .select(
        col("source"), col("n_docs"), col("tokens"), col("weight"),
        round(
          (col("bstar") * col("weight")).cast(DoubleType)
            / (col("w_total") * col("tokens")).cast(DoubleType), 6)
          .as("rate"),
        expr("(bstar * weight) div w_total").as("sampled_tokens"))
      .orderBy("source")
  }

  private val mixtureWeightsOracle =
    """WITH toks AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens,
      |    CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) + 1 AS weight
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(sum(weight) AS BIGINT) AS w_total FROM toks),
      |bs AS (SELECT CAST(min((tokens * w_total) // weight) AS BIGINT) AS bstar
      |       FROM toks, tot)
      |SELECT source, n_docs, tokens, weight,
      |  round(CAST(bstar * weight AS DOUBLE)
      |    / CAST(w_total * tokens AS DOUBLE), 6) AS rate,
      |  CAST((bstar * weight) // w_total AS BIGINT) AS sampled_tokens
      |FROM toks, tot, bs
      |ORDER BY source""".stripMargin

  /** Weighted (PPS) systematic sample — `curation_sample_reservoir` draws
    * UNIFORMLY; training-data subsampling usually wants inclusion odds
    * proportional to a SIZE measure (tokens here ≈ n_chars), so that the
    * sample covers the corpus by volume, not by document count. The
    * systematic method: lay every document's weight on one line (window
    * cumsum in doc_id order), drop K equally-spaced marks, keep the
    * documents the marks land in. All-integer selection arithmetic
    * (`(cum*K) div total` changing across a document's weight span ⇔ a
    * mark lies inside it), so the draw is deterministic, replayable, and
    * bit-identical in the DuckDB oracle — no RNG, no transcendentals
    * (the A-ES exponential-keys alternative needs pow/log, which
    * ARCHITECTURE.md's determinism traps rule out cross-engine).
    *
    * The running sum and the total come from [[graft.GlobalOrder]]: a
    * range sort on doc_id, one job for each sorted partition's weight
    * sum, then a narrow pass adding each document's prefix — no
    * single-partition window. The sort and the count run when this is
    * called; the weight total enters the plan as a literal, and a table
    * with no weight (empty, or all zero) samples nothing.
    */
  def ppsSample(spark: SparkSession, sfDir: String): DataFrame = {
    val K = 50
    val docs = Tables(spark, sfDir, "documents").select("doc_id", "n_chars")
    val order = GlobalOrder(docs, Seq(col("doc_id")), Some("n_chars"))
    val total = order.weightTotal
    order.indexed("_i", "cum_before")
      .filter(if (total == 0L) lit(false)
        else expr(s"(cum_before * $K) div $total")
          < expr(s"((cum_before + n_chars) * $K) div $total"))
      .select(col("doc_id"), col("n_chars"))
      .orderBy("doc_id")
  }

  private val ppsSampleOracle =
    """WITH c AS (
      |  SELECT doc_id, n_chars,
      |    coalesce(sum(n_chars) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS cum_before,
      |    sum(n_chars) OVER () AS total
      |  FROM documents)
      |SELECT doc_id, n_chars FROM c
      |WHERE (cum_before * 50) // total
      |    < ((cum_before + n_chars) * 50) // total
      |ORDER BY doc_id""".stripMargin

  private val SpanMod = 20 // ~5% of tokens open a span
  private val SpanLen = 3

  /** T5-style SPAN CORRUPTION sample generation — the denoising-objective
    * data op: deterministic pseudo-noise picks span-start tokens
    * (md5(doc:pos) bucket, the same seedless-reproducibility device as
    * [[trainTestSplit]]), each start corrupts [[SpanLen]] tokens,
    * OVERLAPPING spans merge into islands, and every island is replaced
    * in the input by an ordinal sentinel while the target interleaves
    * sentinels with the original spans — exactly the encoder/decoder pair
    * a T5/UL2 pipeline materializes. Reproducible under repartitioning by
    * construction: no RNG state, every decision a pure function of
    * (doc_id, pos).
    *
    * Plan shape: posexplode → two windows keyed on doc (coverage = max of
    * start flags over the trailing [[SpanLen]] rows; island ids = running
    * sum of covered-rise edges — the gaps-and-islands device) → ordered
    * reassembly via sort_array(collect_list(struct)) per doc/island. All
    * per-doc linear work behind ONE doc-keyed shuffle; at 100 TB this
    * rides the same partitioning as every other per-document op.
    */
  def spanCorrupt(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val trail = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(-(SpanLen - 1), 0)
    val flagged = toks
      .withColumn("start",
        when(conv(substring(md5(concat_ws(":", col("doc_id"), col("pos"))),
          1, 4), 16, 10).cast(LongType) % SpanMod === 0, 1).otherwise(0))
      .withColumn("covered", max(col("start")).over(trail))
      .withColumn("rise",
        when(col("covered") === 1
          && coalesce(lag(col("covered"), 1).over(byPos), lit(0)) === 0, 1)
          .otherwise(0))
      .withColumn("island", sum(col("rise")).over(byPos))
    def ordered(payload: Column, order: Column): Column =
      array_join(transform(
        sort_array(collect_list(struct(order.as("o"), payload.as("p")))),
        x => x.getField("p")), " ")
    val inputs = flagged
      .withColumn("emit",
        when(col("covered") === 0, col("tok"))
          .when(col("rise") === 1,
            concat(lit("<extra_id_"),
              (col("island") - 1).cast(StringType), lit(">"))))
      .filter(col("emit").isNotNull)
      .groupBy(col("doc_id"))
      .agg(ordered(col("emit"), col("pos")).as("input_text"))
    val targets = flagged.filter(col("covered") === 1)
      .groupBy(col("doc_id"), col("island"))
      .agg(concat(lit("<extra_id_"),
        (col("island") - 1).cast(StringType), lit("> "),
        ordered(col("tok"), col("pos"))).as("piece"))
      .groupBy(col("doc_id"))
      .agg(ordered(col("piece"), col("island")).as("target_text"),
        count(lit(1)).as("n_spans"))
    inputs.join(targets, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("input_text"),
        coalesce(col("target_text"), lit("")).as("target_text"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"))
      .orderBy("doc_id")
  }

  private val spanCorruptOracle =
    s"""WITH toks AS (
       |  SELECT doc_id, i - 1 AS pos, ts[i] AS tok
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |       unnest(range(1, len(ts) + 1)) AS u(i)),
       |flagged AS (
       |  SELECT doc_id, pos, tok,
       |    CASE WHEN CAST(concat('0x', substr(md5(
       |        CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)),
       |        1, 4)) AS BIGINT) % $SpanMod = 0 THEN 1 ELSE 0 END AS start
       |  FROM toks),
       |cov AS (
       |  SELECT *, max(start) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN ${SpanLen - 1} PRECEDING AND CURRENT ROW)
       |      AS covered
       |  FROM flagged),
       |isl AS (
       |  SELECT *, CAST(sum(rise) OVER (PARTITION BY doc_id ORDER BY pos)
       |      AS BIGINT) AS island
       |  FROM (SELECT *, CASE WHEN covered = 1 AND
       |          coalesce(lag(covered) OVER (PARTITION BY doc_id
       |            ORDER BY pos), 0) = 0
       |        THEN 1 ELSE 0 END AS rise FROM cov)),
       |inputs AS (
       |  SELECT doc_id, string_agg(
       |      CASE WHEN covered = 0 THEN tok
       |           ELSE '<extra_id_' || CAST(island - 1 AS VARCHAR) || '>'
       |      END, ' ' ORDER BY pos) AS input_text
       |  FROM isl WHERE covered = 0 OR rise = 1 GROUP BY doc_id),
       |pieces AS (
       |  SELECT doc_id, island,
       |    '<extra_id_' || CAST(island - 1 AS VARCHAR) || '> ' ||
       |      string_agg(tok, ' ' ORDER BY pos) AS piece
       |  FROM isl WHERE covered = 1 GROUP BY doc_id, island),
       |targets AS (
       |  SELECT doc_id, string_agg(piece, ' ' ORDER BY island)
       |      AS target_text,
       |    CAST(count(*) AS BIGINT) AS n_spans
       |  FROM pieces GROUP BY doc_id)
       |SELECT i.doc_id AS doc_id, i.input_text,
       |  coalesce(t.target_text, '') AS target_text,
       |  coalesce(t.n_spans, 0) AS n_spans
       |FROM inputs i LEFT JOIN targets t ON i.doc_id = t.doc_id
       |ORDER BY i.doc_id""".stripMargin

  /** k-anonymity suppression gate — the privacy screen a curated corpus
    * release runs over its quasi-identifier columns: a (lang, source)
    * group is publishable only if at least K documents share it;
    * smaller groups would let an attacker re-identify contributors, so
    * their rows are SUPPRESSED and reported only as one aggregate row
    * (count + volume — never the identifying values). One hash aggregate
    * over the corpus + a tiny partition of the group table; at 100 TB
    * the group relation is quasi-identifier-cardinality-sized, not
    * corpus-sized, so the gate costs one map-side-combined pass.
    */
  def kAnonymity(spark: SparkSession, sfDir: String): DataFrame = {
    val K = 5
    val groups = Tables(spark, sfDir, "documents")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
    val kept = groups.filter(col("n") >= K)
    val suppressed = groups.filter(col("n") < K)
      .agg(coalesce(sum(col("n")), lit(0L)).as("n"),
        coalesce(sum(col("sum_chars")), lit(0L)).as("sum_chars"))
      .select(lit("_SUPPRESSED").as("lang"), lit("_SUPPRESSED").as("source"),
        col("n"), col("sum_chars"))
    kept.unionByName(suppressed).orderBy("lang", "source")
  }

  private val kAnonymityOracle =
    """WITH g AS (
      |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |  FROM documents GROUP BY lang, source)
      |SELECT lang, source, n, sum_chars FROM g WHERE n >= 5
      |UNION ALL
      |SELECT '_SUPPRESSED' AS lang, '_SUPPRESSED' AS source,
      |  CAST(coalesce(sum(n), 0) AS BIGINT) AS n,
      |  CAST(coalesce(sum(sum_chars), 0) AS BIGINT) AS sum_chars
      |FROM g WHERE n < 5
      |ORDER BY lang, source""".stripMargin

  /** l-diversity — the gate k-anonymity provably misses: a group can hold
    * K+ documents and STILL leak the sensitive attribute if all of them
    * share one value (the attacker learns it without re-identifying
    * anyone — the classic homogeneity attack). Quasi-identifier here is
    * `source`; sensitive attribute is `lang`: a source is publishable
    * only when it has ≥K docs AND ≥L distinct langs; failing sources are
    * suppressed into one aggregate row. Same 100 TB shape as
    * [[kAnonymity]]: the group relation is source-cardinality-sized, one
    * map-side-combined pass over the corpus (count_distinct partials are
    * bounded by lang cardinality per group).
    */
  def lDiversity(spark: SparkSession, sfDir: String): DataFrame = {
    val K = 5
    val L = 2
    val groups = Tables(spark, sfDir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("sum_chars"))
    val kept = groups.filter(col("n") >= K && col("n_langs") >= L)
    val suppressed = groups.filter(col("n") < K || col("n_langs") < L)
      .agg(coalesce(sum(col("n")), lit(0L)).as("n"),
        // a suppressed row must not leak per-group diversity either —
        // report the distinct-lang count across the whole suppressed set
        coalesce(max(col("n_langs")), lit(0L)).as("n_langs"),
        coalesce(sum(col("sum_chars")), lit(0L)).as("sum_chars"))
      .select(lit("_SUPPRESSED").as("source"), col("n"), col("n_langs"),
        col("sum_chars"))
    kept.unionByName(suppressed).orderBy("source")
  }

  private val lDiversityOracle =
    """WITH g AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n,
      |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |  FROM documents GROUP BY source)
      |SELECT source, n, n_langs, sum_chars FROM g
      |WHERE n >= 5 AND n_langs >= 2
      |UNION ALL
      |SELECT '_SUPPRESSED' AS source,
      |  CAST(coalesce(sum(n), 0) AS BIGINT) AS n,
      |  CAST(coalesce(max(n_langs), 0) AS BIGINT) AS n_langs,
      |  CAST(coalesce(sum(sum_chars), 0) AS BIGINT) AS sum_chars
      |FROM g WHERE n < 5 OR n_langs < 2
      |ORDER BY source""".stripMargin

  /** Cluster-aware (leakage-free) train/valid/test split — the
    * contamination guard [[trainTestSplit]] lacks: hashing doc_id sends
    * near-duplicate documents to DIFFERENT splits, so test examples leak
    * into training through their dups and eval scores inflate. Here the
    * split key is the document's near-dup CLUSTER representative
    * ([[Dedup.clusterComponents]] — min-label connected component over the
    * near-dup edge set), so every member of a cluster lands in the same
    * split by construction; the property is spec-pinned (one distinct
    * split per component) in CurationSpec.
    *
    * Scale shape: component assignment is the propagation loop proven by
    * `dedup_cluster_assign` (per-round join + groupBy, pointer jumping,
    * checkpointed lineage); the split itself is the same shuffle-free
    * md5-bucket projection as [[trainTestSplit]], just keyed on
    * `component` instead of `doc_id`.
    */
  def leakageFreeSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = (conv(
      substring(md5(col("component").cast(StringType)), 1, 4),
      16, 10).cast(LongType) % 10)
    Dedup.clusterComponents(spark, sfDir)
      .select(col("doc_id"), col("component"), bucket.as("bucket"))
      .withColumn("split",
        when(col("bucket") <= 7, "train")
          .when(col("bucket") === 8, "valid")
          .otherwise("test"))
      .select(col("doc_id"), col("component"), col("split"))
      .orderBy("doc_id")
  }

  private val leakageFreeSplitOracle =
    s"""WITH RECURSIVE
       |${Dedup.componentCtes},
       |comp AS (
       |  SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id)
       |SELECT doc_id, component,
       |  CASE WHEN bucket <= 7 THEN 'train'
       |       WHEN bucket = 8 THEN 'valid'
       |       ELSE 'test' END AS split
       |FROM (
       |  SELECT doc_id, component,
       |    CAST(concat('0x', substr(md5(CAST(component AS VARCHAR)), 1, 4))
       |         AS BIGINT) % 10 AS bucket
       |  FROM comp)
       |ORDER BY doc_id""".stripMargin

  // ---- DSIR-style importance resampling ----------------------------------

  private val DsirBuckets = 1024L
  private val DsirTarget = "src1"

  /** DSIR-style importance resampling ("Data Selection for Language Models
    * via Importance Resampling", Xie et al. 2023): score every document by
    * how much more likely its hashed-unigram features are under a TARGET
    * domain's distribution than under the raw corpus distribution, then
    * keep the highest-scoring documents. The target here is the `src1`
    * source slice standing in for "quality domain" (in production: a
    * Wikipedia/books sample); features are md5-hashed unigram buckets
    * (DSIR's hashed n-gram model at n=1).
    *
    * Determinism: the log-likelihood ratio is taken at integer BIT-LENGTH
    * resolution — per-bucket score
    * `s_b = [bitlen(n_tgt_b+1) − bitlen(N_tgt+1)] − [bitlen(n_raw_b+1) −
    * bitlen(N_raw+1)]` — so per-doc sums are exact BIGINT arithmetic in
    * both engines (the same trick as `text_bigram_surprisal`; float logs
    * are not bit-portable). The only division is the final mean: one IEEE
    * division of two exact integers, correctly rounded everywhere.
    *
    * Scale shape: the importance model is BUCKET-cardinality-sized (1024
    * rows — at 100 TB, 10^5-10^6 buckets), built with one map-side-combined
    * hash aggregate over the token stream and broadcast back over a second
    * codegen'd scan; per-doc scoring is a broadcast join + hash agg, and
    * the final selection is a bounded top-k (TakeOrderedAndProject), so
    * nothing global is ever sorted and the corpus is scanned exactly twice.
    */
  def dsirResample(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("tok"))
      .withColumn("b",
        conv(substring(md5(col("tok")), 1, 4), 16, 10).cast(LongType)
          % DsirBuckets)
    val stats = toks.groupBy(col("b")).agg(
      count(lit(1)).as("n_raw"),
      count(when(col("source") === DsirTarget, 1)).as("n_tgt"))
    val totals = stats.agg(sum(col("n_raw")).as("nr_tot"),
      sum(col("n_tgt")).as("nt_tot"))
    def bitlen(c: Column): Column = length(bin(c))
    val model = stats.crossJoin(broadcast(totals))
      .select(col("b"),
        ((bitlen(col("n_tgt") + 1) - bitlen(col("nt_tot") + 1))
          - (bitlen(col("n_raw") + 1) - bitlen(col("nr_tot") + 1)))
          .cast(LongType).as("s"))
    toks.join(broadcast(model), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("s")).as("llr"))
      .select(col("doc_id"), col("n_tokens"), col("llr"),
        (col("llr").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .as("avg_llr"))
      .orderBy(col("avg_llr").desc, col("doc_id"))
      .limit(100)
  }

  private val dsirResampleOracle =
    s"""WITH toks AS (
       |  SELECT doc_id, source,
       |    CAST(concat('0x', substr(md5(tok), 1, 4)) AS BIGINT)
       |      % $DsirBuckets AS b
       |  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
       |        FROM documents)),
       |stats AS (
       |  SELECT b, CAST(count(*) AS BIGINT) AS n_raw,
       |    CAST(count(*) FILTER (WHERE source = '$DsirTarget') AS BIGINT)
       |      AS n_tgt
       |  FROM toks GROUP BY b),
       |tot AS (SELECT CAST(sum(n_raw) AS BIGINT) AS nr_tot,
       |               CAST(sum(n_tgt) AS BIGINT) AS nt_tot FROM stats),
       |model AS (
       |  SELECT b,
       |    CAST((length(bin(n_tgt + 1)) - length(bin(nt_tot + 1)))
       |       - (length(bin(n_raw + 1)) - length(bin(nr_tot + 1)))
       |      AS BIGINT) AS s
       |  FROM stats, tot)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(s) AS BIGINT) AS llr,
       |  CAST(sum(s) AS DOUBLE) / count(*) AS avg_llr
       |FROM toks JOIN model USING (b)
       |GROUP BY doc_id
       |ORDER BY avg_llr DESC, doc_id
       |LIMIT 100""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("curation_epoch_shuffle",
      "deterministic epoch shuffle + shard export: keyed-hash permutation, no rand(seed)",
      epochShuffle, Some(epochShuffleOracle)),
    Query("curation_split",
      "deterministic md5-hash 80/10/10 train/valid/test split",
      trainTestSplit, Some(trainTestSplitOracle)),
    Query("curation_sample_stratified",
      "deterministic stratified downsampling by language (md5 buckets)",
      stratifiedSample, Some(stratifiedSampleOracle)),
    Query("curation_chunk",
      "overlapping token-window chunking (size 32, stride 24)",
      chunkDocuments, Some(chunkDocumentsOracle)),
    Query("curation_span_corrupt",
      "T5 span corruption: hash-noise islands → sentinel input/target pair",
      spanCorrupt, Some(spanCorruptOracle)),
    Query("curation_pack_sequences",
      "GPT-style sequence packing: per-shard token cumsum → capacity cuts",
      packSequences, Some(packSequencesOracle)),
    Query("curation_pipeline",
      "composed curation: exact dedup → decontaminate → quality gate",
      curationPipeline, Some(curationPipelineOracle)),
    Query("curation_domain_quota",
      "per-domain quota sampling: keep the top-10 longest docs per source",
      domainQuota, Some(domainQuotaOracle)),
    Query("curation_sample_reservoir",
      "deterministic uniform k-per-group sample via md5 score + bounded heap",
      reservoirSampleGroup, Some(reservoirSampleGroupOracle)),
    Query("curation_mixture_weights",
      "domain mixture recipe: bottleneck budget, rates, expected yields",
      mixtureWeights, Some(mixtureWeightsOracle)),
    Query("curation_k_anonymity",
      "k-anonymity gate: sub-K quasi-identifier groups suppressed to one row",
      kAnonymity, Some(kAnonymityOracle)),
    Query("curation_l_diversity",
      "l-diversity gate: homogeneous-sensitive-value groups suppressed too",
      lDiversity, Some(lDiversityOracle)),
    Query("curation_pps_sample",
      "weighted systematic sample: integer PPS marks, RNG-free, replayable",
      ppsSample, Some(ppsSampleOracle)),
    Query("curation_split_leakage_free",
      "cluster-aware split: near-dup cluster members share one split",
      leakageFreeSplit, Some(leakageFreeSplitOracle)),
    Query("curation_dsir_resample",
      "DSIR importance resampling: integer-exact hashed-unigram LLR top-100",
      dsirResample, Some(dsirResampleOracle)),
  )
}
