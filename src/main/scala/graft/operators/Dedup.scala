package graft.operators

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Query, Session}
import graft.functions.DotProduct
import graft.sources.Tables

/** Deduplication for LLM training-data pipelines: exact, n-gram Jaccard,
  * MinHash+LSH, SimHash, and embedding-cosine near-dup. All pure
  * DataFrame/higher-order-function plans — no UDFs, no driver-side loops.
  *
  * Scale notes (100 TB):
  *  - exact dedup is a hash groupBy on the content key — one shuffle of
  *    (key, id) pairs, map-side combined;
  *  - the all-pairs shingle self-join (`dedup_ngram_jaccard`) is the
  *    verification primitive: at scale it only ever runs on LSH candidates,
  *    never on the full corpus. `dedup_minhash_lsh` is the scale path: cost
  *    is O(docs × bands) for bucketing plus intersections on bucket
  *    collisions only;
  *  - SimHash pairs join on 16-bit blocks (pigeonhole: hamming ≤ 3 ⇒ one of
  *    4 blocks equal), so the join key is selective — no cartesian;
  *  - embedding near-dup has two entries: `dedup_embedding_lsh` is the
  *    default/scale path (multi-table sign-LSH bucketing, candidates only
  *    ever pay an exact cosine); `dedup_embedding` is the brute-force
  *    all-pairs baseline it is verified against.
  */
object Dedup {

  /** The harness documents table has no exact duplicates, so dedup queries
    * plant them deterministically: a second copy (doc_id + 100000) of every
    * 10th document.
    */
  private[operators] def docsWithDups(
      spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    d.unionByName(
      d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text")))
  }

  private[operators] val docsWithDupsSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0"""
      .stripMargin

  /** Exact dedup: group on content, keep the smallest id (deterministic
    * representative — dropDuplicates' "first row wins" is partition-order
    * dependent and unreproducible at scale).
    */
  def exactDedup(spark: SparkSession, sfDir: String): DataFrame =
    docsWithDups(spark, sfDir)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"))
      .orderBy("doc_id")

  private val exactDedupOracle =
    s"""SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_copies
       |FROM ($docsWithDupsSql)
       |GROUP BY text ORDER BY doc_id""".stripMargin

  /** Distinct word-3-shingles per document (the unit of near-dup overlap),
    * keyed by xxhash64 of the shingle text: every downstream use (self-join,
    * size counts, intersection counts) needs only shingle EQUALITY, and
    * 8-byte long keys shuffle/compare ~3× faster than ~25-byte strings.
    * A hash collision would perturb a Jaccard count; at 2⁻⁶⁴ per pair
    * (~10⁻⁸ across the corpus) that is far below any operational concern —
    * the same trade every production MinHash pipeline makes.
    */
  private def shingles(spark: SparkSession, sfDir: String): DataFrame =
    shinglesOf(Tables(spark, sfDir, "documents"))

  /** Same shingle relation over any (doc_id, text) input — the corpus and
    * the benchmark set of the fuzzy decontamination share one definition.
    */
  private def shinglesOf(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), split(col("text"), " ").as("ts"))
    .filter(size(col("ts")) >= 3)
    .select(col("doc_id"),
      explode(transform(shingleArr(col("ts")), s => xxhash64(s))).as("shingle"))

  /** Distinct word n-shingles of a token array (as strings). */
  private[operators] def shingleArr(ts: Column, n: Int = 3): Column =
    array_distinct(transform(
      sequence(lit(1), size(ts) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(j => element_at(ts, i + j)): _*)))

  /** Exact n-gram Jaccard near-dup: all pairs sharing a shingle, scored
    * |A∩B| / |A∪B|, threshold 0.5. Integer-ratio arithmetic — bitwise
    * deterministic across engines.
    */
  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    // materialize once: the shingle relation feeds both sides of the
    // intersect self-join plus the size aggregate — at scale this is a
    // persisted/bucketed intermediate table, not a cache
    val sh = shingles(spark, sfDir).cache()
    withJaccard(intersectCounts(sh), sizes(sh))
      .filter(col("jaccard") >= 0.5)
      .orderBy("i", "j")
  }

  /** (i, j, c) intersection counts over every ordered doc pair sharing
    * a shingle — THE exact all-pairs leg [[ngramJaccard]],
    * [[ngramContainment]] and [[simhashRecall]] all gate through (one
    * definition where three copies had grown). Single
    * shuffle-join on the shingle key + map-side-combined count: the
    * intersection sizes come straight off the self-join, no separate
    * candidate materialization (that 3-way shape only pays off when a
    * pre-filter — LSH — has already shrunk the pair space).
    * SHUFFLE_HASH: a sort on the high-cardinality shingle key buys
    * nothing (the probe is a pure equality lookup) and measured ~2.3×
    * slower than hash join here. */
  private def intersectCounts(sh: DataFrame): DataFrame =
    sh.as("a").hint("SHUFFLE_HASH")
      .join(sh.as("b").hint("SHUFFLE_HASH"),
        col("a.shingle") === col("b.shingle")
          && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("c"))

  private def sizes(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))

  /** jaccard = c / (|A| + |B| − c) for (i, j, c) intersection counts.
    * The size table is one narrow (doc_id, n) row per doc; broadcasting it
    * avoids shuffling the pair relation twice. Past the broadcast threshold
    * (≈100M+ docs) drop the hint and AQE picks a shuffle join on doc_id.
    */
  private def withJaccard(inter: DataFrame, sz: DataFrame): DataFrame =
    inter
      .join(broadcast(sz.as("na")), col("i") === col("na.doc_id"))
      .join(broadcast(sz.as("nb")), col("j") === col("nb.doc_id"))
      .select(col("i"), col("j"),
        (col("c").cast(DoubleType) / (col("na.n") + col("nb.n") - col("c")))
          .as("jaccard"))

  /** Exact Jaccard for the given (i, j) pairs only — the LSH verify stage:
    * intersections are computed just for candidates, which is the whole
    * point of LSH at scale (candidates ≪ all pairs).
    *
    * The verify shuffles the shingle relation on doc_id (SHUFFLE_HASH, as
    * in the banding). Past the point where that shuffle dominates — a
    * corpus-scale shingle relation against a small candidate set — the
    * variant is to broadcast the candidate pairs against two shingle SCANS
    * (zero corpus shuffle). Both variants were measured at bench scale and
    * the shuffle join won there (the broadcast/semi-prune extra stages cost
    * ~50% of the whole query); the crossover needs candidates ≪ corpus by
    * orders of magnitude, which LSH delivers at 100 TB but the harness
    * corpus does not.
    */
  private def jaccardScore(
      spark: SparkSession, pairs: DataFrame, sh: DataFrame): DataFrame = {
    val inter = pairs.hint("SHUFFLE_HASH")
      .join(sh.as("sa").hint("SHUFFLE_HASH"), col("i") === col("sa.doc_id"))
      .join(sh.as("sb").hint("SHUFFLE_HASH"),
        col("j") === col("sb.doc_id")
          && col("sa.shingle") === col("sb.shingle"))
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("c"))
    withJaccard(inter, sizes(sh))
  }

  /** The oracle spelling of [[intersectCounts]] + [[sizes]]: word
    * 3-shingles, per-doc sizes, ordered-pair intersection counts —
    * one CTE prologue the three exact-leg oracles share (the
    * admission oracle's cross-chunk variant differs in the pair
    * condition and stays its own text). */
  private val exactPairCte =
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      | sh AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s
      |        FROM tok, unnest(range(1, len(ts) - 1)) AS u(i)),
      | sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      | inter AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
      |           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |           GROUP BY 1, 2)""".stripMargin

  private val ngramJaccardOracle = exactPairCte + "\n" +
    """SELECT i, j, c * 1.0 / (sa.n + sb.n - c) AS jaccard
      |FROM inter JOIN sz sa ON i = sa.doc_id JOIN sz sb ON j = sb.doc_id
      |WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5
      |ORDER BY i, j""".stripMargin

  // ---- n-gram containment -----------------------------------------------

  /** N-gram CONTAINMENT near-dup — the asymmetric companion to
    * [[ngramJaccard]]: `|A∩B| / |A|` (and the mirror direction), which
    * flags a short document wholly embedded in a long one. Jaccard
    * provably misses that case (a 20-shingle doc inside a 2000-shingle
    * doc has j ≈ 0.01 but containment 1.0) and quote-inclusion /
    * boilerplate-wrapping duplication is exactly that shape, which is why
    * production corpus dedup (e.g. the suffix-array and Dolma-style
    * passes) track containment alongside Jaccard. Emits both directions
    * plus Jaccard for pairs where either containment ≥ 0.9.
    *
    * Scale shape: identical to [[ngramJaccard]] — one SHUFFLE_HASH
    * self-join on the 8-byte shingle key with a map-side-combined pair
    * count, sizes broadcast onto the pair relation. At 100 TB this runs
    * on LSH candidates only (the [[minhashLsh]] division of labor); note
    * MinHash estimates JACCARD, so a containment-targeted recall pass
    * over extreme size ratios uses the smaller doc's shingles as the
    * probe set — the candidate join is the same plan either way.
    */
  def ngramContainment(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = shingles(spark, sfDir).cache()
    val sz = sizes(sh)
    intersectCounts(sh)
      .join(broadcast(sz.as("na")), col("i") === col("na.doc_id"))
      .join(broadcast(sz.as("nb")), col("j") === col("nb.doc_id"))
      .select(col("i"), col("j"),
        (col("c").cast(DoubleType) / col("na.n")).as("cont_i_in_j"),
        (col("c").cast(DoubleType) / col("nb.n")).as("cont_j_in_i"),
        (col("c").cast(DoubleType) / (col("na.n") + col("nb.n") - col("c")))
          .as("jaccard"))
      .filter(col("cont_i_in_j") >= 0.9 || col("cont_j_in_i") >= 0.9)
      .orderBy("i", "j")
  }

  private val ngramContainmentOracle = exactPairCte + "\n" +
    """SELECT i, j, CAST(c AS DOUBLE) / sa.n AS cont_i_in_j,
      |       CAST(c AS DOUBLE) / sb.n AS cont_j_in_i,
      |       CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
      |FROM inter JOIN sz sa ON i = sa.doc_id JOIN sz sb ON j = sb.doc_id
      |WHERE CAST(c AS DOUBLE) / sa.n >= 0.9 OR CAST(c AS DOUBLE) / sb.n >= 0.9
      |ORDER BY i, j""".stripMargin

  // ---- MinHash + LSH ----------------------------------------------------

  private val NumPerms = 64
  // 32 bands × 2 rows: s-curve threshold (1/32)^(1/2) ≈ 0.18, i.e. recall-
  // generous for the 0.5 cut — miss probability (1−j²)³² ≈ 1e-4 even for a
  // pair sitting exactly at j=0.5 (16×4 banding put the threshold AT the
  // cut, where borderline pairs miss ~36% of the time). The price is more
  // candidates at low j; the exact-Jaccard verify stage trims them, which
  // is the intended division of labor at scale anyway.
  private val NumBands = 32

  /** (doc_id, 64-long minhash signature) per document, computed as a single
    * codegen'd hash aggregate over the exploded shingle relation: one
    * min(xxhash64(seed_i, shingle)) per "permutation", partial-aggregated
    * map-side. This is the scale shape — the per-shingle work stays inside
    * whole-stage codegen (a nested higher-order-function version was ~30×
    * slower under the interpreted lambda evaluator).
    *
    * Each permutation is an INDEPENDENT 64-bit hash (the seed column varies
    * the function, textbook k-hash MinHash). A linear family
    * ((a·h+b) mod P) with h ≪ P is NOT min-wise independent — a·h+b < 2P
    * wraps at most once, so every "permutation" nearly preserves the
    * ordering by h and the 64 mins collapse onto whichever doc shingle has
    * the smallest base hash (observed empirically: a j=0.96 pair agreed on
    * only 5/64 components before this was replaced).
    */
  private def signatures(sh: DataFrame): DataFrame = {
    val mins = (0 until NumPerms).map(i =>
      min(xxhash64(lit(i), col("shingle"))).as(s"s$i"))
    sh.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until NumPerms).map(i => col(s"s$i")): _*).as("sig"))
  }

  /** MinHash LSH near-dup: band the signatures, bucket-join, verify
    * candidates with exact Jaccard. Same output contract as
    * `dedup_ngram_jaccard`; the 32×2 banding recovers every ≥0.5 pair in
    * the harness corpus (miss probability (1−j²)³² ≤ 1e-4 at the j=0.5
    * cut, ~1e-36 at j=0.96), and the banding is deterministic, so the
    * DuckDB exact-Jaccard oracle applies verbatim; verified at sf0.01.
    */
  /** (doc_id, bucket) LSH band keys for a signature table. Bucket key =
    * one long hashing (band index, band's signature slice): collapsing the
    * composite (band, key-string) join key into 8 bytes keeps the shuffle
    * narrow; band index inside the hash keeps buckets from distinct bands
    * disjoint.
    */
  private def bandsOf(sig: DataFrame): DataFrame = sig.select(
    col("doc_id"),
    explode(transform(sequence(lit(0), lit(NumBands - 1)), j =>
      xxhash64(j, slice(col("sig"), j * lit(NumPerms / NumBands) + 1,
        lit(NumPerms / NumBands))))).as("bucket"))

  def minhashLsh(spark: SparkSession, sfDir: String): DataFrame = {
    // the shingle relation feeds the signature aggregate AND the verify
    // stage; the signature table feeds both band-join sides — materialize
    // each once (at scale: persisted signature index, bucketed by band key)
    val sh = shingles(spark, sfDir).cache()
    val sig = signatures(sh).cache()
    val bands = bandsOf(sig)
    val candidates = bands.as("x").hint("SHUFFLE_HASH")
      .join(bands.as("y").hint("SHUFFLE_HASH"),
        col("x.bucket") === col("y.bucket")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("i"), col("y.doc_id").as("j"))
      .distinct()
    jaccardScore(spark, candidates, sh)
      .filter(col("jaccard") >= 0.5)
      .orderBy("i", "j")
  }

  // ---- SimHash ----------------------------------------------------------

  /** (doc_id, simhash) with the 64-bit fingerprint split into two 32-bit
    * halves (packing into one long would overflow bit 63 under ANSI).
    * Token-frequency-weighted majority vote per bit over xxhash64(token),
    * shaped as explode → 64 ±1 vote sums in ONE codegen'd hash aggregate
    * (partial-aggregated map-side; a nested higher-order-function version
    * ran ~20× slower under the interpreted lambda evaluator). A set bit
    * votes +1, an unset bit −1; majority (ties set) ⇔ sum ≥ 0.
    */
  private def simhashes(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .select(col("doc_id"), xxhash64(col("t")).as("h"))
    val votes = (0 until 64).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"v$b"))
    def half(off: Int): Column =
      (0 until 32).map(b =>
        when(col(s"v${b + off}") >= 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _)
    toks.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), half(0).as("lo"), half(32).as("hi"))
  }

  /** SimHash near-dup: pairs at hamming distance ≤ 3. The join is banded —
    * 4 × 16-bit blocks; distance ≤ 3 guarantees ≥1 equal block
    * (pigeonhole), so the bucket join is complete, never cartesian. No
    * oracle (engine-specific hash); SimHashSpec asserts the planted
    * near-dup pairs are recovered.
    */
  def simhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    // the 64-bit majority vote is the expensive scan; the banded self-join
    // references it on both sides × 4 blocks — materialize the tiny
    // signature table instead of recomputing it 8×
    val sh = simhashes(spark, sfDir).cache()
      .withColumn("blocks",
        expr("""array(
          |  struct(0 as blk, shiftright(lo, 0)  & 65535 as v),
          |  struct(1 as blk, shiftright(lo, 16) & 65535 as v),
          |  struct(2 as blk, shiftright(hi, 0)  & 65535 as v),
          |  struct(3 as blk, shiftright(hi, 16) & 65535 as v))""".stripMargin))
    val blocks = sh.select(col("doc_id"), col("lo"), col("hi"),
      explode(col("blocks")).as("b"))
      .select(col("doc_id"), col("lo"), col("hi"),
        col("b.blk").as("blk"), col("b.v").as("v"))
    blocks.as("x")
      .join(blocks.as("y"),
        col("x.blk") === col("y.blk") && col("x.v") === col("y.v")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("i"), col("y.doc_id").as("j"),
        (bit_count(expr("x.lo ^ y.lo")) + bit_count(expr("x.hi ^ y.hi")))
          .cast(LongType).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy("i", "j")
  }

  /** The SimHash detector GATED by an exact leg (the sketch-gating
    * device): WHICH pairs hamming ≤ 3 flags is a
    * function of xxhash64, so no cross-engine oracle can name the pair
    * list itself — instead the registered query emits the EXACT
    * strong-pair leg (word-3-shingle Jaccard ≥ 0.9, row-for-row
    * DuckDB-computable) with one detector-derived band column: the
    * recall of [[simhashPairs]] over those strong pairs is ≥ 0.5,
    * constant across rows, `TRUE` in the oracle. Measured recall at
    * sf0.01 is 0.72 (18/25 strong pairs at hamming ≤ 3) — the band
    * sits well below it, so the gate trips on a broken detector (zero
    * or near-zero overlap), not on hash-sensitive wiggle. The exact
    * all-pairs leg exists only to GATE: at corpus scale the detector
    * (banded 16-bit blocks, bucketed equi-join) is the path, exactly
    * as the MinHash verify stage runs on LSH candidates only.
    */
  def simhashRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = shingles(spark, sfDir).cache()
    val strong = withJaccard(intersectCounts(sh), sizes(sh))
      .filter(col("jaccard") >= 0.9)
    val detected = simhashPairs(spark, sfDir)
      .select(col("i"), col("j"), lit(1L).as("d"))
    // the strong-pair ⋈ detector relation feeds BOTH the recall
    // aggregate and the output rows — checkpoint it or the dominant
    // shingle self-join and the whole detector run twice
    val joined = strong.join(detected, Seq("i", "j"), "left")
      .localCheckpoint(true)
    val recall = joined.agg(
      (coalesce(sum(col("d")), lit(0L)).cast(DoubleType) /
        count(lit(1))).as("recall"))
    joined.crossJoin(broadcast(recall))
      .select(col("i"), col("j"), col("jaccard"),
        (col("recall") >= 0.5).as("recall_band"))
      .orderBy("i", "j")
  }

  private val simhashRecallOracle = exactPairCte + "\n" +
    """SELECT i, j, c * 1.0 / (sa.n + sb.n - c) AS jaccard,
      |       TRUE AS recall_band
      |FROM inter JOIN sz sa ON i = sa.doc_id JOIN sz sb ON j = sb.doc_id
      |WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.9
      |ORDER BY i, j""".stripMargin

  // ---- benchmark decontamination ----------------------------------------

  /** Benchmark decontamination — the training-data op that scrubs eval-set
    * leakage: flag every corpus document sharing at least one word-8-gram
    * with the benchmark set (8–13-gram overlap is the standard test-set
    * contamination criterion). Benchmark = docs 0..9; the corpus plants
    * copies of them (doc_id+100000) so hits exist deterministically.
    *
    * Scale shape: benchmark 8-gram sets are tiny relative to the corpus —
    * the hashed benchmark-gram relation broadcasts, so this is ONE corpus
    * scan + broadcast semi-join-style aggregation, no corpus shuffle on
    * gram keys. (A benchmark too large to broadcast falls back to a
    * shuffle join on the 8-byte gram hash.)
    */
  /** Distinct hashed word-8-grams per doc — the contamination unit, shared
    * by `dedup_decontaminate` and the composed pipeline in [[Curation]]
    * (one definition: the two must agree on what counts as contamination).
    */
  private[operators] def hashedGrams8(df: DataFrame): DataFrame = df
    .select(col("doc_id"), split(col("text"), " ").as("ts"))
    .filter(size(col("ts")) >= 8)
    .select(col("doc_id"),
      explode(transform(shingleArr(col("ts"), 8), s => xxhash64(s)))
        .as("g"))

  def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    def grams(df: DataFrame): DataFrame = hashedGrams8(df)
    val d = Tables(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    val corpus = d.filter(col("doc_id") >= 10)
      .unionByName(d.filter(col("doc_id") < 10)
        .select((col("doc_id") + 100000).as("doc_id"), col("text")))
    val benchGrams = grams(d.filter(col("doc_id") < 10))
      .select(col("g")).distinct()
    grams(corpus)
      .join(broadcast(benchGrams), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  private val decontaminateOracle =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id >= 10
      |  UNION ALL
      |  SELECT doc_id + 100000, text FROM documents WHERE doc_id < 10),
      |cg AS (
      |  SELECT DISTINCT doc_id,
      |    ts[i]||' '||ts[i+1]||' '||ts[i+2]||' '||ts[i+3]||' '||ts[i+4]
      |      ||' '||ts[i+5]||' '||ts[i+6]||' '||ts[i+7] AS g
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM corpus),
      |       unnest(range(1, len(ts) - 6)) AS u(i)),
      |bg AS (
      |  SELECT DISTINCT
      |    ts[i]||' '||ts[i+1]||' '||ts[i+2]||' '||ts[i+3]||' '||ts[i+4]
      |      ||' '||ts[i+5]||' '||ts[i+6]||' '||ts[i+7] AS g
      |  FROM (SELECT string_split(text, ' ') AS ts FROM documents
      |        WHERE doc_id < 10),
      |       unnest(range(1, len(ts) - 6)) AS u(i))
      |SELECT cg.doc_id, CAST(count(*) AS BIGINT) AS n_shared
      |FROM cg JOIN bg USING (g)
      |GROUP BY cg.doc_id ORDER BY cg.doc_id""".stripMargin

  /** Fuzzy benchmark decontamination — the contamination exact 8-gram
    * overlap misses: a PARAPHRASED or truncated eval document shares few
    * exact 8-grams with its source but keeps a high 3-gram Jaccard. The
    * fixture plants a truncated copy (first 80% of tokens) of each eval doc
    * in the corpus; detection = MinHash signatures on BOTH sides, LSH
    * banding with the benchmark's band table BROADCAST (the eval set is
    * tiny — the corpus never shuffles on the bucket key), then exact-Jaccard
    * verify of the candidates at the 0.5 cut. Deterministic banding, so the
    * all-pairs exact-Jaccard oracle applies verbatim, exactly as in
    * `dedup_minhash_lsh`.
    */
  def decontaminateFuzzy(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    val evalDocs = d.filter(col("doc_id") < 10)
    val ts = split(col("text"), " ")
    val truncated = evalDocs.select(
      (col("doc_id") + 100000).as("doc_id"),
      concat_ws(" ", slice(ts, lit(1),
        ceil(size(ts) * 0.8).cast(IntegerType))).as("text"))
    val corpus = d.filter(col("doc_id") >= 10).unionByName(truncated)
    val shCorpus = shinglesOf(corpus).cache()
    val shEval = shinglesOf(evalDocs).cache()
    val candidates = bandsOf(signatures(shCorpus)).as("x")
      .join(broadcast(bandsOf(signatures(shEval)).as("y")),
        col("x.bucket") === col("y.bucket"))
      .select(col("x.doc_id").as("i"), col("y.doc_id").as("j"))
      .distinct()
    jaccardScore(spark, candidates, shCorpus.unionByName(shEval))
      .filter(col("jaccard") >= 0.5)
      .orderBy("i", "j")
  }

  private val decontaminateFuzzyOracle =
    """WITH ed AS (SELECT doc_id, text FROM documents WHERE doc_id < 10),
      |corpus AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id >= 10
      |  UNION ALL
      |  SELECT doc_id + 100000,
      |    array_to_string(ts[1:CAST(ceil(len(ts) * 0.8) AS INT)], ' ')
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM ed)),
      |shc AS (
      |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM corpus),
      |       unnest(range(1, len(ts) - 1)) AS u(i)),
      |she AS (
      |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM ed),
      |       unnest(range(1, len(ts) - 1)) AS u(i)),
      |szc AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
      |sze AS (SELECT doc_id, count(*) AS n FROM she GROUP BY doc_id),
      |inter AS (
      |  SELECT shc.doc_id AS i, she.doc_id AS j, count(*) AS c
      |  FROM shc JOIN she ON shc.s = she.s
      |  GROUP BY 1, 2)
      |SELECT i, j, c * 1.0 / (szc.n + sze.n - c) AS jaccard
      |FROM inter JOIN szc ON i = szc.doc_id JOIN sze ON j = sze.doc_id
      |WHERE c * 1.0 / (szc.n + sze.n - c) >= 0.5
      |ORDER BY i, j""".stripMargin

  /** Near-dup suppression keeping the BEST copy — production dedup keeps
    * the highest-quality member of each matched pair, not the smallest id:
    * from the exact word-3-gram Jaccard pairs (≥ 0.5), each pair's worse
    * member (shorter text, tie-broken toward the larger doc_id) is dropped,
    * and the corpus minus all dropped members survives.
    *
    * Shape: the pair relation is LSH-sized (≪ corpus), so the dropped-id
    * set broadcasts into an anti-join against one corpus scan — no corpus
    * shuffle. Greedy pairwise suppression (not per-cluster argmax) is the
    * standard production choice: it needs no connected-components pass and
    * over-drops only within already-matched groups.
    */
  def keepBestDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("n_chars"))
    val pairs = ngramJaccard(spark, sfDir).select(col("i"), col("j"))
    // quality attaches via two corpus scans against the BROADCAST pair
    // relation (pairs ≪ corpus — the corpus is never the broadcast side
    // and never shuffles)
    val withQa = docs
      .join(broadcast(pairs), col("doc_id") === col("i"))
      .select(col("i"), col("j"), col("n_chars").as("qa"))
    val dropped = docs
      .join(broadcast(withQa), col("doc_id") === col("j"))
      .select(when(col("qa") < col("n_chars"), col("i"))
        .when(col("qa") > col("n_chars"), col("j"))
        .otherwise(greatest(col("i"), col("j"))).as("doc_id"))
      .distinct()
    docs.join(broadcast(dropped), Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  private val keepBestDedupOracle =
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      | sh AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s
      |        FROM tok, unnest(range(1, len(ts) - 1)) AS u(i)),
      | sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      | inter AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
      |           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |           GROUP BY 1, 2),
      | pairs AS (
      |   SELECT i, j FROM inter
      |   JOIN sz sa ON i = sa.doc_id JOIN sz sb ON j = sb.doc_id
      |   WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5),
      | dropped AS (
      |   SELECT DISTINCT
      |     CASE WHEN qa.n_chars < qb.n_chars THEN i
      |          WHEN qa.n_chars > qb.n_chars THEN j
      |          ELSE greatest(i, j) END AS doc_id
      |   FROM pairs
      |   JOIN documents qa ON i = qa.doc_id
      |   JOIN documents qb ON j = qb.doc_id)
      |SELECT doc_id, n_chars FROM documents
      |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
      |ORDER BY doc_id""".stripMargin

  // ---- embedding near-dup ----------------------------------------------

  /** Embeddings with planted exact-duplicate vectors (vec_id + 100000 for
    * every 10th), norms precomputed once per vector — every pair stage
    * downstream is then a single codegen'd dot product + multiply/divide.
    */
  private def augmentedEmbeddings(
      spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("e"))
      .withColumn("norm", sqrt(DotProduct(col("e"), col("e"))))
    e.unionByName(
      e.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 100000).as("vec_id"), col("e"), col("norm")))
  }

  /** Embedding-cosine near-dup over the brute-force pair space. Cosine in
    * double precision, rounded to 6dp so Spark's fold and the oracle's
    * list_cosine_similarity agree. This is the oracle-checkable BASELINE:
    * the all-pairs nested-loop join is quadratic, so the default entry at
    * scale is `dedup_embedding_lsh` below (verified against this one).
    */
  def embeddingNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    val aug = augmentedEmbeddings(spark, sfDir).cache()
    // the nested-loop pair join parallelizes over left partitions — spread
    // the (tiny) left side across the cluster instead of 1-2 file splits
    aug.repartition(spark.sparkContext.defaultParallelism).as("a")
      .join(aug.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
        round(DotProduct(col("a.e"), col("b.e"))
          / (col("a.norm") * col("b.norm")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= 0.99)
      .orderBy("i", "j")
  }

  // 6 hash tables × 8 hyperplanes (64-dim): a pair at the cosine-0.99
  // threshold disagrees on one plane with p = acos(0.99)/π ≈ 0.045, so it
  // collides in a given table with (1−p)⁸ ≈ 0.69 and is missed by ALL
  // tables with (1−0.69)⁶ ≈ 9e-4. EXACT duplicates (the planted set, and
  // the only ≥0.99 pairs in the harness corpus) have identical signatures
  // in every table — recall 1.0 by construction, so the brute-force oracle
  // applies verbatim. At 100 TB, planes-per-table grows with log(corpus)
  // to hold bucket occupancy flat; the plan shape is unchanged.
  private val EmbLshTables = 6
  private val EmbLshPlanes = 8

  /** Fixed seeded hyperplanes shared by all tables (table t uses slice
    * [t·8, t·8+8)); deterministic across runs and engines.
    */
  private val embPlanes: Seq[Seq[Double]] = {
    val rnd = new Random(0x5eed5L)
    Seq.fill(EmbLshTables * EmbLshPlanes)(Seq.fill(64)(rnd.nextGaussian()))
  }

  /** Bucketed embedding near-dup — the scale path: multi-table sign-LSH
    * buckets generate candidates (bucket-equality equi-join, never
    * cartesian), an exact-cosine pass verifies them. Same output contract
    * and oracle as `dedup_embedding`; precision is exact by construction
    * (every emitted pair passed the exact cosine), recall per the banding
    * analysis above. Cost: O(vectors × tables) bucketing + collisions only.
    */
  def embeddingNearDupLsh(spark: SparkSession, sfDir: String): DataFrame = {
    // the augmented relation feeds bucketing AND both verify sides — at
    // scale this is a persisted signature-indexed table, not a cache
    val aug = augmentedEmbeddings(spark, sfDir).cache()
    // per-table 8-bit signature, offset by table id so buckets from
    // distinct tables never collide; one long key keeps the shuffle narrow
    def bucket(t: Int): Column =
      (0 until EmbLshPlanes).map { k =>
        when(DotProduct(col("e"),
          typedLit(embPlanes(t * EmbLshPlanes + k))) > 0, lit(1L << k))
          .otherwise(lit(0L))
      }.reduce(_ + _) + lit((t + 1).toLong << EmbLshPlanes)
    val buckets = aug.select(col("vec_id"),
      explode(array((0 until EmbLshTables).map(bucket): _*)).as("bucket"))
    // SHUFFLE_HASH as in the minhash banding: pure equality probe on a
    // high-cardinality key — sorting buys nothing
    val cand = buckets.as("x").hint("SHUFFLE_HASH")
      .join(buckets.as("y").hint("SHUFFLE_HASH"),
        col("x.bucket") === col("y.bucket")
          && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("i"), col("y.vec_id").as("j"))
      .distinct()
    cand
      .join(aug.as("a"), col("i") === col("a.vec_id"))
      .join(aug.as("b"), col("j") === col("b.vec_id"))
      .select(col("i"), col("j"),
        round(DotProduct(col("a.e"), col("b.e"))
          / (col("a.norm") * col("b.norm")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= 0.99)
      .orderBy("i", "j")
  }

  /** Cosine similarity of two double arrays: codegen'd dot products, same
    * left-to-right accumulation as the HOF form and the DuckDB oracle.
    */
  private[operators] def cosine(a: Column, b: Column): Column =
    DotProduct(a, b) / (sqrt(DotProduct(a, a)) * sqrt(DotProduct(b, b)))

  private val embeddingNearDupOracle =
    """WITH aug AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000, CAST(embedding AS DOUBLE[]) FROM embeddings
      |  WHERE vec_id % 10 = 0)
      |SELECT a.vec_id AS i, b.vec_id AS j,
      |       round(list_cosine_similarity(a.e, b.e), 6) AS cos_sim
      |FROM aug a JOIN aug b ON a.vec_id < b.vec_id
      |WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.99
      |ORDER BY i, j""".stripMargin

  /** Dedup cluster assignment — the step AFTER pair finding: near-dup
    * PAIRS must become CLUSTERS with one representative each (pairs alone
    * over-delete: a~b and b~c must keep exactly one of {a,b,c}, which
    * requires the connected component, not the pair list). Implemented as
    * distributed min-label propagation over the edge relation: each round
    * every node takes the minimum label in its neighborhood — a join +
    * groupBy per round, converging in graph-diameter rounds. The fixture
    * edge set (consecutive docs chained within each id-decade, plus the
    * planted-duplicate edges) bounds the diameter at ~11 so plain
    * propagation converges in ≤ a dozen rounds; a 100 TB corpus graph uses
    * the same per-round plan under large-star/small-star reshaping
    * (O(log²) rounds) with per-round checkpointing to cut lineage. The
    * driver loop carries only the convergence COUNT — no data is ever
    * collected.
    */
  def clusterComponents(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables(spark, sfDir, "documents").select(col("doc_id"))
    val nodes = docsWithDups(spark, sfDir).select(col("doc_id").as("id"))
    val chain = base.as("a")
      .join(base.as("b"),
        col("b.doc_id") === col("a.doc_id") + 1
          && col("a.doc_id") % 10 =!= 9)
      .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst"))
    val dups = base.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("src"), (col("doc_id") + 100000).as("dst"))
    val edges = chain.unionByName(dups)
    val undirected = edges.unionByName(
      edges.select(col("dst").as("src"), col("src").as("dst"))).cache()
    // each round MUST cut lineage (localCheckpoint, not cache): round N's
    // logical plan references round N−1 twice, so without truncation the
    // plan doubles per round and Catalyst ANALYSIS time explodes
    // exponentially even though execution hits the cache (measured:
    // propagation round 7 took 111 s where rounds 1-5 took ~1 s). At
    // 100 TB the same call becomes a reliable checkpoint to the cluster
    // store.
    var labels = nodes.select(col("id"), col("id").as("comp"))
      .localCheckpoint(true)
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 32) {
      val neighborMin = undirected
        .join(labels, col("dst") === col("id"))
        .groupBy(col("src")).agg(min(col("comp")).as("ncomp"))
      val propagated = labels
        .join(neighborMin, labels("id") === neighborMin("src"), "left_outer")
        .select(col("id"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"))
      // pointer jumping: also adopt the current representative's OWN label
      // (labels are node ids, so label[comp] exists) — path halving turns
      // O(diameter) rounds into O(log diameter); each round is fixed-cost
      // job overhead at any scale, so rounds are the thing to minimize
      // lazy checkpoint: the convergence count below is the round's single
      // materializing action — it populates the checkpoint as a side
      // effect, so each round costs one job instead of two
      val next = propagated.as("x")
        .join(propagated
            .select(col("id").as("rid"), col("comp").as("rcomp")).as("r"),
          col("x.comp") === col("r.rid"), "left_outer")
        .select(col("x.id").as("id"),
          coalesce(col("r.rcomp"), col("x.comp")).as("comp"))
        .localCheckpoint(false)
      changed = next
        .join(labels.withColumnRenamed("comp", "prev"), "id")
        .filter(col("comp") =!= col("prev")).count()
      labels = next
      rounds += 1
    }
    // exiting by round cap rather than convergence means the labels are
    // WRONG — fail loudly rather than hand non-converged components to a
    // downstream consumer that has no way to notice
    if (changed > 0) throw new IllegalStateException(
      s"clusterComponents: round cap ($rounds) reached with $changed labels " +
        "still changing — components did not converge")
    labels.select(col("id").as("doc_id"), col("comp").as("component"))
      .orderBy("doc_id")
  }

  /** The component CTE chain (recursive reachability over the fixture edge
    * set), shared with [[Curation]]'s cluster-aware split oracle so both
    * oracles derive components from the one definition.
    */
  private[operators] val componentCtes =
    """nodes AS (
      |  SELECT doc_id AS id FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 FROM documents WHERE doc_id % 10 = 0),
      |e AS (
      |  SELECT a.doc_id AS src, b.doc_id AS dst
      |  FROM documents a JOIN documents b
      |    ON b.doc_id = a.doc_id + 1 AND a.doc_id % 10 <> 9
      |  UNION ALL
      |  SELECT doc_id, doc_id + 100000 FROM documents WHERE doc_id % 10 = 0),
      |ud AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
      |reach(id, r) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT reach.id, ud.dst FROM reach JOIN ud ON ud.src = reach.r)""".stripMargin

  private val clusterComponentsOracle =
    s"""WITH RECURSIVE
       |$componentCtes
       |SELECT id AS doc_id, min(r) AS component
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** Span-level duplication profiling — the statistic behind substring
    * dedup ("Deduplicating Training Data Makes Language Models Better"
    * trains on corpora whose repeated ~50-token SPANS are cut, not just
    * repeated documents): every 16-token window is hashed, windows seen in
    * ≥2 documents are marked, and each document reports its duplicated-
    * window ratio. Whole-doc dedup misses this entirely — boilerplate
    * headers/footers ride inside otherwise-unique pages.
    *
    * Scale shape: windows come from a per-row transform (no position
    * self-join), and the expensive relation — one md5 per window position —
    * is computed exactly ONCE: windows pre-aggregate to (wh, doc_id, c)
    * with map-side combine (in-document repeats collapse before the
    * exchange), the cross-doc count rides a window over `wh` on that
    * already-collapsed relation, and the per-doc ratio is a third, tiny
    * aggregate. The earlier groupBy + join-back shape escaped a double
    * md5 evaluation only via exchange reuse, still joined the FULL window
    * relation back against the dup set, and pre-aggregated nothing before
    * the exchange; this shape map-side-combines in-document repeats before
    * shuffling and drops the join entirely (A/B at sf0.1: ~5.2 s → ~4.7 s;
    * the gap widens with in-document repetition, which is exactly what
    * this statistic exists to find). The hash is md5
    * of the joined window text, so the oracle re-derives it
    * engine-portably; the ratio is one exact BIGINT/BIGINT IEEE division.
    */
  def spanOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ts = split(col("text"), " ")
    val wins = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), ts.as("ts"))
      .filter(size(col("ts")) >= 16)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("ts")) - 15),
        i => md5(concat_ws(" ", slice(col("ts"), i, lit(16)))))).as("wh"))
    val perDocCounts = wins
      .groupBy(col("wh"), col("doc_id")).agg(count(lit(1)).as("c"))
      .withColumn("nd", count(lit(1)).over(Window.partitionBy(col("wh"))))
    perDocCounts
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_windows"),
        sum(when(col("nd") >= 2, col("c")).otherwise(lit(0L)))
          .as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        (col("n_dup_windows").cast(DoubleType)
          / col("n_windows").cast(DoubleType)).as("dup_ratio"))
      .filter(col("n_dup_windows") > 0)
      .orderBy("doc_id")
  }

  private val spanOverlapOracle =
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
      |  WHERE len(string_split(text, ' ')) >= 16),
      |wins AS (
      |  SELECT doc_id, md5(array_to_string(ts[i:i+15], ' ')) AS wh
      |  FROM tok, unnest(range(1, len(ts) - 14)) AS u(i)),
      |cross_doc AS (
      |  SELECT wh FROM wins GROUP BY wh
      |  HAVING count(DISTINCT doc_id) >= 2)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
      |  CAST(count(CASE WHEN wh IN (SELECT wh FROM cross_doc) THEN 1 END)
      |    AS BIGINT) AS n_dup_windows,
      |  CAST(count(CASE WHEN wh IN (SELECT wh FROM cross_doc) THEN 1 END)
      |      AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS dup_ratio
      |FROM wins
      |GROUP BY doc_id
      |HAVING count(CASE WHEN wh IN (SELECT wh FROM cross_doc) THEN 1 END) > 0
      |ORDER BY doc_id""".stripMargin

  /** Substring-level dedup CUT — the acting half of [[spanOverlap]]'s
    * profiling (the "Deduplicating Training Data Makes Language Models
    * Better" recipe removes repeated ~50-token spans from the corpus, it
    * doesn't just count them): every 16-token window seen in ≥2 documents
    * marks its token positions covered, covered tokens are cut, and the
    * document is rebuilt from the survivors. Output per doc: token count,
    * cut count, and the cleaned text.
    *
    * Scale shape: the window relation is the SAME one-md5-per-position
    * transform as spanOverlap (no position self-join), collapsed to
    * (wh, doc, positions) with map-side combine before its one hash
    * shuffle; the cross-doc mark rides a window over `wh` on that
    * collapsed relation; covered positions then shuffle ONCE on doc_id
    * and the rebuild is a per-row array filter — linear end to end, no
    * all-pairs anywhere. The rebuild is position-based (`filter` with the
    * element index), so it is deterministic and engine-portable; the
    * oracle reproduces it with generate_subscripts + an ordered,
    * NULL-filtered string_agg.
    */
  def spanCut(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
    val wins = docs
      .filter(size(col("ts")) >= 16)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("ts")) - 15),
        i => struct(i.as("i"),
          md5(concat_ws(" ", slice(col("ts"), i, lit(16)))).as("wh")))).as("w"))
      .select(col("doc_id"), col("w.i").as("i"), col("w.wh").as("wh"))
    // collapse in-document repeats BEFORE the shuffle (positions ride
    // along as a list), then mark windows present in ≥2 docs
    val perDoc = wins.groupBy(col("wh"), col("doc_id"))
      .agg(collect_list(col("i")).as("starts"))
    val dup = perDoc
      .withColumn("nd", count(lit(1)).over(Window.partitionBy(col("wh"))))
      .filter(col("nd") >= 2)
    val covered = dup
      .select(col("doc_id"), explode(col("starts")).as("i"))
      .select(col("doc_id"), explode(sequence(col("i"), col("i") + 15)).as("pos"))
      .groupBy(col("doc_id")).agg(collect_set(col("pos")).as("cov"))
    docs.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("ts")).cast(LongType).as("n_tokens"),
        coalesce(size(col("cov")), lit(0)).cast(LongType).as("n_cut_tokens"),
        concat_ws(" ", filter(col("ts"), (t, idx) =>
          !coalesce(array_contains(col("cov"), idx + 1), lit(false))))
          .as("cleaned_text"))
      .orderBy("doc_id")
  }

  private val spanCutOracle =
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |wins AS (
      |  SELECT doc_id, i, md5(array_to_string(ts[i:i+15], ' ')) AS wh
      |  FROM tok, unnest(range(1, len(ts) - 14)) AS u(i)
      |  WHERE len(ts) >= 16),
      |dup AS (
      |  SELECT wh FROM wins GROUP BY wh
      |  HAVING count(DISTINCT doc_id) >= 2),
      |cov AS (
      |  SELECT DISTINCT doc_id, pos
      |  FROM wins, unnest(range(i, i + 16)) AS g(pos)
      |  WHERE wh IN (SELECT wh FROM dup)),
      |pos_tok AS (
      |  SELECT doc_id, unnest(ts) AS tok,
      |    generate_subscripts(ts, 1) AS pos
      |  FROM tok)
      |SELECT t.doc_id,
      |  CAST(len(t.ts) AS BIGINT) AS n_tokens,
      |  CAST((SELECT count(*) FROM cov c WHERE c.doc_id = t.doc_id)
      |    AS BIGINT) AS n_cut_tokens,
      |  coalesce((
      |    SELECT string_agg(p.tok, ' ' ORDER BY p.pos)
      |      FILTER (WHERE NOT EXISTS (SELECT 1 FROM cov c
      |        WHERE c.doc_id = p.doc_id AND c.pos = p.pos))
      |    FROM pos_tok p WHERE p.doc_id = t.doc_id), '') AS cleaned_text
      |FROM tok t
      |ORDER BY t.doc_id""".stripMargin

  // ---- online (streaming) near-dup admission -----------------------------

  /** ONLINE near-dup admission — the ingestion-time shape of
    * [[minhashLsh]]: documents arrive in micro-batches, each batch's
    * MinHash band keys probe a PERSISTED band index of everything seen so
    * far, and matches are reported as (arrival, earlier doc) pairs before
    * the batch's own bands are appended to the index. This is how a
    * continuously-fed corpus keeps itself deduplicated — the batch LSH
    * queries assume a complete corpus; a feed cannot wait for one.
    *
    * Contract: a document is flagged against every EARLIER ARRIVAL —
    * earlier batches via the index probe, earlier WAVES of its own
    * batch via an arrival-ordered (file-mtime-sequenced) intra-batch
    * self-join. A trigger may therefore admit several arrival waves at
    * once (amortizing the per-trigger fixed cost) with the SAME output
    * as one-wave-per-trigger; same-WAVE pairs remain the compaction
    * pass's job ([[minhashLsh]] over the batch). The candidate pairs
    * accumulate in a results area; exact-Jaccard verification runs
    * once at the end over the candidate docs only — banding
    * determinism makes the verified output independent of batch
    * boundaries, so the oracle is the cross-chunk restriction of the
    * exact-Jaccard pair set (the [[minhashLsh]] recall argument
    * applies verbatim).
    *
    * Scale shape: per batch, one band computation over the batch (tiny)
    * and one equi-join against the bucket-keyed index — at 100 TB the
    * index is bucket-partitioned like `sim_index_stream_update`'s and the
    * probe prunes to the batch's bucket set; nothing ever rescans the
    * accumulated corpus.
    */
  def streamMinhashDedup(spark: SparkSession, sfDir: String): DataFrame =
    // 4 waves per trigger (the lever the contract comment names):
    // the arrival-ordered intra-batch self-join makes the verified
    // output independent of batch boundaries, so ONE trigger admits the
    // whole staged arrival sequence and the per-trigger fixed cost
    // (offset/commit log, plan analysis, job scheduling — measured
    // ~1.0-1.8 s/trigger in bench.trace.json batch rows) is paid once,
    // not twice. DedupSpec drives the SAME body at 2 waves/trigger and
    // pins output equality, so the cross-trigger index-probe leg stays
    // exercised and provably equivalent.
    streamMinhashDedupWaves(spark, sfDir, filesPerTrigger = 4)

  /** The admission stream's staged arrival waves — exposed so Bench's
    * warmup can pre-stage them like the other chunked streaming fixtures
    * (staging is one-time test setup, fingerprint-cached on disk, not
    * part of the admission operator's cost). */
  private[graft] def stagedAdmissionChunks(
      spark: SparkSession, sfDir: String): java.io.File =
    Staging.stagedDir(
      "graft_dedup_chunks", sfDir, "4-mod-files;mtime-sequenced-v1") { d =>
      val base = ((System.currentTimeMillis() / 60000) * 60000)
      (0 until 4).foreach { g =>
        val tmp = new java.io.File(d, s"_tmp$g")
        Tables(spark, sfDir, "documents")
          .filter(col("doc_id") % 4 === g)
          .select(col("doc_id"), col("text"))
          .coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
        val part = tmp.listFiles().filter(_.getName.startsWith("part-")).head
        val dst = new java.io.File(d, s"chunk-$g.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        graft.sources.GraftParquetIO.deleteRecursively(tmp)
        // the ARRIVAL ORDER the admission stream sequences on — a
        // filesystem that cannot stamp distinct mtimes must fail the
        // staging loudly, not silently collapse waves into ties that
        // the strict '<' intra-batch join would skip
        require(dst.setLastModified(base + g * 1000L),
          s"cannot stamp arrival mtime on $dst")
      }
    }

  private[graft] def streamMinhashDedupWaves(spark: SparkSession,
      sfDir: String, filesPerTrigger: Int): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val chunks = stagedAdmissionChunks(spark, sfDir)
    // run-unique scratch (index + candidate results), reaped on JVM exit
    val scratch =
      graft.sources.GraftParquetIO.scratchDir("graft_dedup_stream", sfDir)
    val idx = new java.io.File(scratch, "band_index")
    val found = new java.io.File(scratch, "candidates")
    val schema = spark.read.parquet(chunks.getAbsolutePath).schema
    // ADMISSION ORDER inside a batch rides the file mtime — the staged
    // fixture's explicit sequencing contract ("mtime-sequenced-v1"),
    // i.e. the arrival timestamp a queue would carry. That lets a
    // trigger admit SEVERAL arrival waves at once (halving the
    // per-trigger fixed cost: offset/commit log, plan analysis, job
    // scheduling) while detecting cross-wave duplicates within the
    // batch exactly as if the waves had arrived one trigger apart:
    // earlier-wave docs probe the index only; later-wave docs probe
    // the index AND the batch's earlier waves (seq-ordered self-join).
    Session.withLeanDrain(spark) {
      val q = spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", filesPerTrigger.toString)
        .parquet(chunks.getAbsolutePath)
        .select(col("*"),
          col("_metadata.file_modification_time").as("arrival_ts"))
        .writeStream
        .outputMode("append")
        .foreachBatch { (b: DataFrame, _: Long) =>
          val s = b.sparkSession
          val seqs = b.select(col("doc_id"), col("arrival_ts"))
          // localCheckpoint: the band pipeline computes ONCE and feeds
          // the self-join, the index probe, and the index append
          // (measured against a write-then-read-back two-job shape —
          // the checkpoint wins at this batch size)
          val bands = bandsOf(signatures(shinglesOf(b.drop("arrival_ts"))))
            .join(broadcast(seqs), Seq("doc_id"))
            .localCheckpoint(true)
          val hasIndex = Option(idx.listFiles())
            .exists(_.exists(_.getName.endsWith(".parquet")))
          // cross-wave pairs WITHIN the batch, ordered by arrival; the
          // batch is broadcast-sized by definition, so neither side of
          // its self-join shuffles
          val intra = broadcast(bands.as("x"))
            .join(bands.as("y"), col("x.bucket") === col("y.bucket")
              && col("x.arrival_ts") < col("y.arrival_ts"))
            .select(col("x.doc_id").as("i"), col("y.doc_id").as("j"))
          // the BATCH side broadcasts against the accumulated index: a
          // micro-batch is tiny relative to the index by construction,
          // so the index — the big side, bucket-partitioned at scale —
          // never shuffles; candidate rows stay raw here (band
          // collisions duplicate pairs) and dedup ONCE after the drain
          // instead of paying a distinct shuffle per trigger
          val probed = if (hasIndex)
            intra.unionByName(broadcast(bands)
              .join(s.read.parquet(idx.getAbsolutePath)
                  .select(col("doc_id").as("earlier"), col("bucket")),
                Seq("bucket"))
              .select(col("earlier").as("i"), col("doc_id").as("j")))
            else intra
          probed.write.mode("append").parquet(found.getAbsolutePath)
          bands.drop("arrival_ts")
            .write.mode("append").parquet(idx.getAbsolutePath)
        }
        .trigger(Trigger.AvailableNow())
        .start()
      graft.streaming.StreamingOps.awaitDrained(q)
    }
    val hasCands = Option(found.listFiles())
      .exists(_.exists(_.getName.endsWith(".parquet")))
    if (!hasCands)
      return spark.emptyDataFrame
        .select(lit(0L).as("doc_id"), lit(0L).as("dup_of"),
          lit(0.0).as("jaccard")).limit(0)
    val pairs = spark.read.parquet(found.getAbsolutePath).distinct()
      .localCheckpoint(true)
    // verify-stage pruning AT THE SOURCE: only candidate docs are even
    // shingled, let alone shuffled, into the exact-Jaccard join —
    // candidates ≪ corpus is the LSH contract (at 100 TB this is the
    // difference between re-scanning and re-shuffling the corpus per
    // admission wave and a candidate-sized scan + join)
    val candidateIds = pairs.select(col("i").as("doc_id"))
      .union(pairs.select(col("j").as("doc_id"))).distinct()
    val sh = shinglesOf(Tables(spark, sfDir, "documents")
        .join(broadcast(candidateIds), Seq("doc_id"), "left_semi"))
      .cache() // feeds both intersect sides and the size aggregate
    jaccardScore(spark, pairs, sh)
      .filter(col("jaccard") >= 0.5)
      .select(col("j").as("doc_id"), col("i").as("dup_of"), col("jaccard"))
      .orderBy("doc_id", "dup_of")
  }

  private val streamMinhashDedupOracle =
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      | sh AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s
      |        FROM tok, unnest(range(1, len(ts) - 1)) AS u(i)),
      | sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      | inter AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
      |           FROM sh a JOIN sh b ON a.s = b.s
      |             AND (a.doc_id % 4) < (b.doc_id % 4)
      |           GROUP BY 1, 2)
      |SELECT j AS doc_id, i AS dup_of, c * 1.0 / (sa.n + sb.n - c) AS jaccard
      |FROM inter JOIN sz sa ON i = sa.doc_id JOIN sz sb ON j = sb.doc_id
      |WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5
      |ORDER BY doc_id, dup_of""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("dedup_exact",
      "exact dedup: hash-groupBy on content, min-id representative",
      exactDedup, Some(exactDedupOracle)),
    Query("dedup_ngram_jaccard",
      "exact word-3-gram Jaccard near-dup pairs (threshold 0.5)",
      ngramJaccard, Some(ngramJaccardOracle)),
    Query("dedup_containment",
      "asymmetric n-gram containment pairs: doc-inside-doc duplication",
      ngramContainment, Some(ngramContainmentOracle)),
    Query("dedup_minhash_lsh",
      "MinHash 64-perm + 32×2 LSH banding, exact-Jaccard verify",
      minhashLsh, Some(ngramJaccardOracle)),
    Query("dedup_simhash",
      "SimHash-64 banded hamming≤3 detector, oracle-gated by recall " +
        "band over the exact strong-pair (Jaccard≥0.9) leg",
      simhashRecall, Some(simhashRecallOracle)),
    Query("dedup_embedding",
      "embedding-cosine near-dup pairs ≥0.99, all-pairs baseline",
      embeddingNearDup, Some(embeddingNearDupOracle)),
    Query("dedup_embedding_lsh",
      "bucketed embedding near-dup: multi-table sign-LSH + exact-cosine verify",
      embeddingNearDupLsh, Some(embeddingNearDupOracle)),
    Query("dedup_decontaminate",
      "benchmark decontamination: word-8-gram overlap vs eval set",
      decontaminate, Some(decontaminateOracle)),
    Query("dedup_decontaminate_fuzzy",
      "fuzzy decontamination: MinHash LSH vs broadcast eval bands, Jaccard verify",
      decontaminateFuzzy, Some(decontaminateFuzzyOracle)),
    Query("dedup_keep_best",
      "near-dup suppression keeping the higher-quality member of each pair",
      keepBestDedup, Some(keepBestDedupOracle)),
    Query("dedup_cluster_assign",
      "connected components over dup edges: min-label propagation to a fixpoint",
      clusterComponents, Some(clusterComponentsOracle)),
    Query("dedup_span_overlap",
      "span-level duplication: cross-doc 16-token window hashes per doc",
      spanOverlap, Some(spanOverlapOracle)),
    Query("dedup_span_cut",
      "substring dedup: cut cross-doc duplicated windows, rebuild text",
      spanCut, Some(spanCutOracle)),
    Query("dedup_stream_admission",
      "online near-dup admission: batch bands probe the accumulated index",
      streamMinhashDedup, Some(streamMinhashDedupOracle)),
  )
}
