package graft.operators

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import org.apache.spark.sql.expressions.Window

import graft.Query
import graft.functions.DotProduct
import graft.sources.Tables

/** Similarity search over an embedding column (ARRAY<FLOAT>, 64-dim).
  *
  * Two paths:
  *  - `sim_topk_bruteforce`: exact cosine top-k against a broadcast probe —
  *    the correctness baseline, and at scale still the right shape for a
  *    single probe (one scan, per-partition top-k heaps, driver merges k
  *    rows — TakeOrderedAndProject, no full sort, no shuffle of the corpus);
  *  - `sim_ann_lsh`: random-hyperplane (sign) LSH — vectors bucketed by a
  *    signature; the probe searches only buckets within hamming distance 2
  *    of its own (multiprobe). At 100 TB the bucketed table is the index:
  *    pre-partitioned by signature, a probe touches a few buckets only;
  *  - `sim_ann_ivf`: inverted-file (IVF-flat) — vectors assigned to coarse
  *    centroid lists, probe searches its nprobe nearest lists, exact cosine
  *    re-rank. Deterministic end to end, so unlike most ANN it carries a
  *    full DuckDB oracle.
  */
object Similarity {

  private val Dim = 64
  // 8 planes ⇒ 256 buckets: sized to the 500-vector harness corpus so the
  // probe's multiprobe neighborhood holds ~10× the k it must return. At
  // 100 TB the plane count scales with corpus size (buckets ≈ n / target
  // bucket occupancy) — the plan shape is unchanged.
  private val NumPlanes = 8

  /** Fixed seeded random hyperplanes (deterministic across runs). */
  private val planes: Seq[Seq[Double]] = {
    val rnd = new Random(0x91a7e5L)
    Seq.fill(NumPlanes)(Seq.fill(Dim)(rnd.nextGaussian()))
  }

  private def asDouble(c: Column): Column = transform(c, x => x.cast(DoubleType))

  /** Exact brute-force cosine top-10 neighbors of probe vec_id=0. */
  def topkBruteforce(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("e"))
    val probe = e.filter(col("vec_id") === 0).select(col("e").as("probe"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"),
        round(Dedup.cosine(col("e"), col("probe")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  private val topkOracle =
    """SELECT b.vec_id,
      | round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                              CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
      |FROM embeddings a JOIN embeddings b ON b.vec_id <> 0
      |WHERE a.vec_id = 0
      |ORDER BY cos_sim DESC, b.vec_id LIMIT 10""".stripMargin

  /** Sign-LSH bucketed ANN: top-10 by exact cosine among candidates from
    * the probe's bucket and all buckets at hamming distance ≤ 2
    * (multiprobe). Fully deterministic (seeded literal hyperplanes,
    * left-to-right dot-product fold identical to DuckDB's, 6dp rounding
    * before the ordering), so the same bucket-prune logic is a DuckDB
    * oracle with the plane literals embedded in the SQL (the same
    * device `sim_ann_lsh_multi` has used since it landed);
    * SimilaritySpec additionally measures recall against
    * `sim_topk_bruteforce`.
    */
  def annLsh(spark: SparkSession, sfDir: String): DataFrame = {
    // signature: bit k = sign(v · plane_k), each dot a codegen'd DotProduct
    // against a literal plane (the nested higher-order-function form paid an
    // interpreted lambda call per element per plane); the packed value stays
    // < 2^16 — no overflow under ANSI
    val signature = (0 until NumPlanes).map(k =>
      when(DotProduct(col("e"), typedLit(planes(k))) > 0, lit(1L << k))
        .otherwise(lit(0L))).reduce(_ + _)
    val e = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .withColumn("bucket", signature)
    val probe = e.filter(col("vec_id") === 0)
      .select(col("e").as("probe"), col("bucket").as("pbucket"))
    e.filter(col("vec_id") =!= 0)
      .join(broadcast(probe),
        bit_count(expr("bucket ^ pbucket")) <= 2) // multiprobe: hamming ≤ 2
      .select(col("vec_id"),
        round(Dedup.cosine(col("e"), col("probe")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  private val annLshOracle: String = {
    val planeRows = planes.zipWithIndex
      .map { case (p, k) => s"($k, [${p.mkString(", ")}])" }
      .mkString(",\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       | FROM embeddings),
       |planes(k, p) AS (VALUES
       |$planeRows),
       |sigs AS (
       |  SELECT vec_id, CAST(sum(CASE WHEN list_dot_product(v, p) > 0
       |                        THEN 1 << k ELSE 0 END) AS BIGINT) AS bucket
       |  FROM e CROSS JOIN planes GROUP BY vec_id),
       |sb AS (SELECT e.vec_id, e.v, s.bucket FROM e JOIN sigs s USING (vec_id)),
       |probe AS (SELECT v AS pv, bucket AS pbucket FROM sb WHERE vec_id = 0)
       |SELECT sb.vec_id,
       |  round(list_cosine_similarity(pv, sb.v), 6) AS cos_sim
       |FROM sb CROSS JOIN probe
       |WHERE sb.vec_id <> 0 AND bit_count(xor(sb.bucket, pbucket)) <= 2
       |ORDER BY cos_sim DESC, sb.vec_id LIMIT 10""".stripMargin
  }

  // ---- IVF ---------------------------------------------------------------

  /** Every-100th vector doubles as a coarse centroid: deterministic, and at
    * harness scale a fair stand-in for offline k-means (IVF quality depends
    * on centroid placement; the PLAN — assign, prune to nprobe lists,
    * exact re-rank — is identical and is what this query exercises).
    */
  private val CentEvery = 100
  private val NProbe = 2

  /** IVF-flat ANN: vectors are assigned to their nearest coarse centroid
    * (inverted lists); the probe searches only its `NProbe` nearest lists
    * and re-ranks candidates by exact cosine. Fully deterministic (cosines
    * rounded to 6dp before every argmax, centroid-id tie-breaks), so the
    * same inverted-file logic is a DuckDB oracle.
    *
    * 100 TB shape: centroids come from offline k-means (tiny, broadcast);
    * assignment is one broadcast-join scan; the corpus is then WRITTEN
    * partitioned by list id, so a probe's scan prunes to nprobe partitions
    * (partition pruning does the candidate cut, not a runtime filter).
    */
  def annIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("e"))
    val cents = e.filter(pmod(col("vec_id"), lit(CentEvery)) === 1)
      .select(col("vec_id").as("cent_id"), col("e").as("c"))
    val sims = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("e"), col("cent_id"),
        round(Dedup.cosine(col("e"), col("c")), 6).as("sim"))
    val byVec = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("cent_id"))
    val assigned = sims
      .withColumn("rn", row_number().over(byVec))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("e"), col("cent_id"))
    // probe's nprobe nearest centroid lists (a handful of rows; the global
    // window is a single tiny partition by construction)
    val probeCents = sims.filter(col("vec_id") === 0)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("sim").desc, col("cent_id"))))
      .filter(col("rn") <= NProbe)
      .select(col("cent_id"))
    val probe = e.filter(col("vec_id") === 0).select(col("e").as("probe"))
    assigned.filter(col("vec_id") =!= 0)
      .join(broadcast(probeCents), Seq("cent_id"))
      .crossJoin(broadcast(probe))
      .select(col("vec_id"),
        round(Dedup.cosine(col("e"), col("probe")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  private val annIvfOracle =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id % $CentEvery = 1),
       |sims AS (SELECT e.vec_id, c.cent_id,
       |           round(list_cosine_similarity(e.v, c.cv), 6) AS sim
       |         FROM e CROSS JOIN c),
       |assigned AS (
       |  SELECT vec_id, cent_id FROM (
       |    SELECT vec_id, cent_id,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cent_id) AS rn
       |    FROM sims) WHERE rn = 1),
       |pc AS (
       |  SELECT cent_id FROM (
       |    SELECT cent_id, row_number() OVER (ORDER BY sim DESC, cent_id) AS rn
       |    FROM sims WHERE vec_id = 0) WHERE rn <= $NProbe),
       |probe AS (SELECT v FROM e WHERE vec_id = 0)
       |SELECT e.vec_id, round(list_cosine_similarity(e.v, probe.v), 6) AS cos_sim
       |FROM e JOIN assigned a ON e.vec_id = a.vec_id
       |JOIN pc ON a.cent_id = pc.cent_id
       |CROSS JOIN probe
       |WHERE e.vec_id <> 0
       |ORDER BY cos_sim DESC, e.vec_id LIMIT 10""".stripMargin

  /** [[annIvf]] with the inverted lists actually MATERIALIZED in the layout
    * the Scaladoc above promises: the assigned corpus is written
    * `partitionBy(cent_id)` once (staged, like an offline index build), and
    * the probe reads it back through a literal `cent_id IN (...)` filter,
    * so the candidate cut happens as STATIC partition pruning — directories
    * that aren't probed are skipped before any file IO (PlanSpec asserts
    * `PartitionFilters` on the scan). This is the piece the in-plan
    * [[annIvf]] variant can't show: at 100 TB the index is a table layout,
    * and a probe's cost is nprobe list scans, not a corpus scan that a
    * filter then discards.
    *
    * The probe router (nearest-nprobe centroid ids) IS collected to the
    * driver — deliberately: it is nprobe scalar ids derived from the tiny
    * broadcast centroid set, the exact computation a serving tier does to
    * route a query, and the literals are what make the pruning static.
    * Same result set as [[annIvf]], so the same DuckDB oracle gates it.
    */
  def annIvfPruned(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("e"))
    val cents = e.filter(pmod(col("vec_id"), lit(CentEvery)) === 1)
      .select(col("vec_id").as("cent_id"), col("e").as("c"))
    val sims = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("e"), col("cent_id"),
        round(Dedup.cosine(col("e"), col("c")), 6).as("sim"))
    val dir = Staging.stagedDir("graft_ivf_lists", sfDir,
      spec = s"cent$CentEvery-v1") { d =>
      val byVec = Window.partitionBy(col("vec_id"))
        .orderBy(col("sim").desc, col("cent_id"))
      sims.withColumn("rn", row_number().over(byVec))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("e"), col("cent_id"))
        .write.mode("overwrite").partitionBy("cent_id")
        .parquet(d.getAbsolutePath)
    }
    val probeCentIds = sims.filter(col("vec_id") === 0)
      .orderBy(col("sim").desc, col("cent_id"))
      .limit(NProbe)
      .select(col("cent_id"))
      .collect().map(_.getLong(0))
    val probe = e.filter(col("vec_id") === 0).select(col("e").as("probe"))
    spark.read.parquet(dir.getAbsolutePath)
      .filter(col("cent_id").isin(probeCentIds.map(java.lang.Long.valueOf): _*))
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"),
        round(Dedup.cosine(col("e"), col("probe")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  // ---- batch-probe ANN ---------------------------------------------------

  // fewer planes than the single-probe index: the multi query joins on
  // EXACT bucket keys (multiprobe = explicit neighbor-key fan-out, not a
  // hamming predicate), so bucket occupancy must stay ≥ k for the top-k to
  // be meaningful — 4 planes ⇒ 16 buckets ⇒ ~31 vectors/bucket at sf0.01
  private val MultiPlanes = 4
  private val multiPlanes: Seq[Seq[Double]] = {
    val rnd = new Random(0x5eedfaceL)
    Seq.fill(MultiPlanes)(Seq.fill(Dim)(rnd.nextGaussian()))
  }
  private val ProbeEvery = 50
  private val MultiK = 5

  /** Batch-probe ANN — the true 100 TB fan-out shape: top-k neighbors for a
    * probe SET (every 50th vector) through ONE bucket equi-join + per-probe
    * window top-k, instead of one broadcast scan per probe. Each probe
    * explodes into its own bucket key plus the 4 hamming-1 neighbor keys
    * (multiprobe as key fan-out), so candidate generation is a single
    * equi-join: broadcast at this probe count, shuffle-hash on the bucket
    * key when the probe set itself is large. A candidate's bucket equals
    * exactly one of a probe's 5 keys, so no pair is produced twice — no
    * dedup pass. Everything is deterministic (seeded literal hyperplanes,
    * left-to-right dot-product fold identical to DuckDB's, 6dp rounding
    * before every ordering), so unlike most ANN this carries a full DuckDB
    * oracle with the plane literals embedded in the SQL.
    */
  def annLshMulti(spark: SparkSession, sfDir: String): DataFrame = {
    val signature = (0 until MultiPlanes).map(k =>
      when(DotProduct(col("e"), typedLit(multiPlanes(k))) > 0, lit(1L << k))
        .otherwise(lit(0L))).reduce(_ + _)
    // the signature table feeds BOTH join sides — materialize it once (at
    // scale: the persisted bucketed signature index), same convention as
    // Dedup.minhashLsh
    val e = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .withColumn("bucket", signature)
      .cache()
    val probeKeys = Seq(col("bucket")) ++
      (0 until MultiPlanes).map(b => expr(s"bucket ^ ${1L << b}"))
    val probes = e.filter(pmod(col("vec_id"), lit(ProbeEvery)) === 0)
      .select(col("vec_id").as("probe_id"), col("e").as("p"),
        explode(array(probeKeys: _*)).as("bucket"))
    val byProbe = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    e.join(probes, Seq("bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(Dedup.cosine(col("e"), col("p")), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(byProbe).cast(LongType))
      .filter(col("rank") <= MultiK)
      .orderBy("probe_id", "rank")
  }

  private val annLshMultiOracle: String = {
    val planeRows = multiPlanes.zipWithIndex
      .map { case (p, k) => s"($k, [${p.mkString(", ")}])" }
      .mkString(",\n")
    val neighborKeys = (0 until MultiPlanes)
      .map(b => s"xor(bucket, ${1L << b})").mkString(", ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       | FROM embeddings),
       |planes(k, p) AS (VALUES
       |$planeRows),
       |sigs AS (
       |  SELECT vec_id, CAST(sum(CASE WHEN list_dot_product(v, p) > 0
       |                        THEN 1 << k ELSE 0 END) AS BIGINT) AS bucket
       |  FROM e CROSS JOIN planes GROUP BY vec_id),
       |sb AS (SELECT e.vec_id, e.v, s.bucket FROM e JOIN sigs s USING (vec_id)),
       |pk AS (
       |  SELECT vec_id AS probe_id, v AS pv,
       |    unnest([bucket, $neighborKeys]) AS bucket
       |  FROM sb WHERE vec_id % $ProbeEvery = 0),
       |cand AS (
       |  SELECT pk.probe_id, sb.vec_id,
       |    round(list_cosine_similarity(pk.pv, sb.v), 6) AS cos_sim
       |  FROM pk JOIN sb USING (bucket)
       |  WHERE sb.vec_id <> pk.probe_id)
       |SELECT probe_id, vec_id, cos_sim, CAST(rn AS BIGINT) AS rank
       |FROM (SELECT *, row_number() OVER (
       |        PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id) AS rn
       |      FROM cand)
       |WHERE rn <= $MultiK
       |ORDER BY probe_id, rank""".stripMargin
  }

  // ---- k-means training ---------------------------------------------------

  /** Seed stride: every 125th vector is an initial centroid — k scales
    * with the corpus (4 at sf0.01, 16 at sf0.1), deterministic, and the
    * standard "k-means‖ would go here" stand-in (like `CentEvery` for IVF).
    */
  private val KmSeedEvery = 125
  private val KmIters = 3
  /** Micro-unit quantization: components round to a 1e-6 grid so the
    * centroid-update sums run in exact BIGINT arithmetic — associative,
    * hence deterministic under ANY shuffle/partial-aggregation order, and
    * bit-identical in the DuckDB oracle. Raw double summation would make
    * the trained model depend on partitioning (and rounds 2-3 would then
    * diverge from any reference run).
    */
  private val KmScale = 1e6

  private def kmAssign(m: DataFrame, cents: DataFrame): DataFrame =
    m.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("q"), col("cent_id"),
        round(Dedup.cosine(col("v"), col("c")), 6).as("sim"))
      .groupBy(col("vec_id"))
      .agg(
        max(struct(col("sim"), (-col("cent_id")).as("neg_cid"))).as("best"),
        first(col("label")).as("label"), first(col("q")).as("q"))
      .select(col("vec_id"), col("label"), col("q"),
        (-col("best.neg_cid")).as("cluster"))

  private def kmUpdate(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cluster"), posexplode(col("q")))
      .groupBy(col("cluster"), col("pos"))
      .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
      .groupBy(col("cluster"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("s"), col("n")))),
        t => t.getField("s").cast(DoubleType)
          / t.getField("n").cast(DoubleType) / lit(KmScale)).as("c"))
      .select(col("cluster").as("cent_id"), col("c"))

  /** Distributed k-means training (spherical/cosine, Lloyd's algorithm,
    * 3 rounds) — the clustering that real curation pipelines run over
    * document embeddings for topic balancing and semantic dedup, and the
    * offline step that produces [[annIvf]]'s coarse centroids. Output is
    * the trained model summary: per-cluster size and dominant ground-truth
    * label (the harness embeddings carry labels, so purity is checkable).
    *
    * Scale shape per round: centroids are k×d (tiny, BROADCAST — the
    * corpus never shuffles for assignment); the argmax over k is a
    * map-side-combined max(struct) per vector; the update is
    * posexplode → hash aggregate on (cluster, dim) with map-side partial
    * sums — exactly MLlib's treeAggregate reformulated declaratively.
    * Every cosine is rounded to 6dp before the argmax and every sum is
    * exact BIGINT (see [[KmScale]]), so 3 chained rounds stay bit-stable —
    * which is what lets a full DuckDB oracle replay the training run.
    */
  def kmeansTrain(spark: SparkSession, sfDir: String): DataFrame = {
    val q0 = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"),
          x => round(x.cast(DoubleType) * KmScale).cast(LongType)).as("q"))
    val m = q0.select(col("vec_id"), col("label"), col("q"),
      transform(col("q"), v => v.cast(DoubleType) / KmScale).as("v"))
    var cents = m.filter(pmod(col("vec_id"), lit(KmSeedEvery)) === 1)
      .select(col("vec_id").as("cent_id"), col("v").as("c"))
    var assigned = kmAssign(m, cents)
    for (_ <- 2 to KmIters) {
      cents = kmUpdate(assigned)
      // assignment needs v again: re-derive from q (cheap projection)
      // rather than carrying the double array through every aggregate
      val mv = assigned.select(col("vec_id"), col("label"), col("q"),
        transform(col("q"), v => v.cast(DoubleType) / KmScale).as("v"))
      assigned = kmAssign(mv, cents)
    }
    assigned
      .groupBy(col("cluster"), col("label")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("cluster"))
      .agg(sum(col("cnt")).as("n_members"),
        max(struct(col("cnt"), (-col("label")).as("nl"))).as("top"))
      .select(col("cluster").as("cluster_id"), col("n_members"),
        (-col("top.nl")).cast(LongType).as("top_label"),
        col("top.cnt").as("top_label_n"))
      .orderBy("cluster_id")
  }

  private val kmeansTrainOracle = {
    def simStage(mRel: String, cRel: String): String =
      s"""SELECT m.vec_id, m.label, m.q, c.cent_id,
         |    round(list_dot_product(m.v, c.c)
         |      / (sqrt(list_dot_product(m.v, m.v)) * sqrt(list_dot_product(c.c, c.c))), 6)
         |      AS sim
         |  FROM $mRel m CROSS JOIN $cRel c""".stripMargin
    def assignStage(simRel: String): String =
      s"""SELECT vec_id, label, q, cent_id AS cluster,
         |    list_transform(q, y -> CAST(y AS DOUBLE) / 1000000.0) AS v
         |  FROM (SELECT *, row_number() OVER (
         |          PARTITION BY vec_id ORDER BY sim DESC, cent_id) AS rn
         |        FROM $simRel) WHERE rn = 1""".stripMargin
    def updateStage(aRel: String): String =
      s"""SELECT cluster AS cent_id, list(mean ORDER BY dim) AS c FROM (
         |  SELECT cluster, dim,
         |    CAST(sum(qv) AS DOUBLE) / count(*) / 1000000.0 AS mean
         |  FROM (SELECT cluster, unnest(q) AS qv,
         |          unnest(range(1, len(q) + 1)) AS dim FROM $aRel)
         |  GROUP BY cluster, dim) GROUP BY cluster""".stripMargin
    s"""WITH q0 AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS q
       |  FROM embeddings),
       |m AS (SELECT vec_id, label, q,
       |        list_transform(q, y -> CAST(y AS DOUBLE) / 1000000.0) AS v
       |      FROM q0),
       |c0 AS (SELECT vec_id AS cent_id, v AS c FROM m
       |       WHERE vec_id % $KmSeedEvery = 1),
       |sim1 AS (${simStage("m", "c0")}),
       |a1 AS (${assignStage("sim1")}),
       |c1 AS (${updateStage("a1")}),
       |sim2 AS (${simStage("a1", "c1")}),
       |a2 AS (${assignStage("sim2")}),
       |c2 AS (${updateStage("a2")}),
       |sim3 AS (${simStage("a2", "c2")}),
       |a3 AS (${assignStage("sim3")}),
       |pc AS (SELECT cluster, label, count(*) AS cnt FROM a3 GROUP BY 1, 2),
       |top AS (SELECT cluster, label, cnt,
       |          row_number() OVER (
       |            PARTITION BY cluster ORDER BY cnt DESC, label) AS rn,
       |          sum(cnt) OVER (PARTITION BY cluster) AS tot
       |        FROM pc)
       |SELECT cluster AS cluster_id, CAST(tot AS BIGINT) AS n_members,
       |  CAST(label AS BIGINT) AS top_label, CAST(cnt AS BIGINT) AS top_label_n
       |FROM top WHERE rn = 1 ORDER BY cluster_id""".stripMargin
  }

  // ---- product quantization (PQ-ADC) ------------------------------------

  private val PqM = 8          // subspaces (codes per vector)
  private val PqSubDim = Dim / PqM
  private val PqSeedEvery = 31 // sampled codebook stride
  private val PqK = 16         // centroids per subspace
  private val PqProbeId = 7L
  private val PqShortlist = 50

  /** Product-quantization ANN with asymmetric distance computation — the
    * memory-bound regime's index (Jégou et al., TPAMI 2011): each vector
    * compresses to [[PqM]] one-byte codes (32× smaller than the 64-float
    * raw vector), a probe precomputes a tiny per-subspace lookup table,
    * and approximate distance is M table lookups per candidate — no
    * float math against the corpus at query time.
    *
    * Pipeline (all on the exact 1e-6 BIGINT grid of [[KmScale]]-style
    * quantization, so every distance, argmin tiebreak, shortlist cut, and
    * re-rank is bit-identical cross-engine — a full DuckDB oracle replays
    * the whole index build):
    *  1. codebook: 16 centroids per subspace SAMPLED from the corpus at a
    *     fixed stride (the k-means refinement lives in `sim_kmeans_train`;
    *     sampled codebooks are the standard bootstrap);
    *  2. encode: per (vector, subspace) argmin over 16 centroids of the
    *     exact integer L2 — the codes relation IS the compressed index;
    *  3. ADC: the probe's 8×16 distance table broadcasts; approx distance
    *     = one equi-join on (subspace, code) + a sum per candidate;
    *  4. shortlist [[PqShortlist]] by ADC (TakeOrderedAndProject), exact
    *     re-rank on the full quantized vectors, top-10 out.
    *
    * Scale: the corpus-sized relations are `codes` (M bytes/vector) and
    * one scan to encode; the probe side is entirely broadcast (LUT is
    * 128 rows). Measured recall@10 = 0.4 vs exact on the harness's
    * near-uniform random embeddings (hostile to ANN; structured corpora
    * do far better) — the semantics, not the recall, are the contract.
    */
  def annPqAdc(spark: SparkSession, sfDir: String): DataFrame = {
    val micro = (c: Column) =>
      transform(c, x => round(x.cast(DoubleType) * lit(KmScale)).cast(LongType))
    val q = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), micro(col("embedding")).as("q"))
    val seeds = q
      .filter(col("vec_id") % PqSeedEvery === 0
        && col("vec_id") < PqSeedEvery * PqK)
      .select(expr(s"vec_id div $PqSeedEvery").as("cent_id"), col("q").as("c"))
    // distances expand |a−b|² = |a|² − 2a·b + |b|² over DOUBLE-typed
    // subvectors so the hot inner product runs through the codegen'd
    // DotProduct expression instead of an interpreted zip_with/aggregate
    // HOF pair (HOFs have no doGenCode; on the corpus×centroids×subspaces
    // relation that interpretation dominated the query). Exactness holds:
    // components are 1e-6-grid integers ≤ 2e6, every product ≤ 4e12 and
    // every sum ≤ 3.2e13 — integer-valued doubles below 2^53 add exactly
    // in ANY order, so the final cast back to BIGINT is lossless.
    def subVecs(vectors: DataFrame, idCol: String): DataFrame = vectors
      .withColumn("qd", transform(col("q"), _.cast(DoubleType)))
      .withColumn("m", explode(sequence(lit(0), lit(PqM - 1))))
      .select(col(idCol), col("m"),
        slice(col("qd"), col("m") * PqSubDim + 1, lit(PqSubDim)).as("sv"))
      .withColumn("n2", DotProduct(col("sv"), col("sv")))
    val centSubs = subVecs(
      seeds.select(col("cent_id"), col("c").as("q")), "cent_id")
      .select(col("cent_id"), col("m"), col("sv").as("cv"), col("n2").as("cn2"))
    def subDists(vectors: DataFrame): DataFrame =
      subVecs(vectors, "vec_id")
        .join(broadcast(centSubs), "m")
        .select(col("vec_id"), col("cent_id"), col("m"),
          (col("n2") - lit(2.0) * DotProduct(col("sv"), col("cv"))
            + col("cn2")).cast(LongType).as("d"))
    val codes = subDists(q)
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("d"), col("cent_id"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.cent_id").as("code"))
    // the LUT derives from the PROBE row only (16 cents × 8 subspaces =
    // 128 rows) — filtering the corpus-sized distance relation instead
    // would execute that whole relation a second time for 128 rows
    val lut = subDists(q.filter(col("vec_id") === PqProbeId))
      .select(col("m").as("pm"), col("cent_id").as("pcent"), col("d").as("pd"))
    val short = codes.filter(col("vec_id") =!= PqProbeId)
      .join(broadcast(lut), col("m") === col("pm") && col("code") === col("pcent"))
      .groupBy(col("vec_id"))
      .agg(sum(col("pd")).as("approx_dist"))
      .orderBy(col("approx_dist"), col("vec_id"))
      .limit(PqShortlist)
    val probeQ = q.filter(col("vec_id") === PqProbeId).select(col("q").as("pq"))
    val exactDist = aggregate(
      zip_with(col("q"), col("pq"), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, v) => acc + v)
    short.join(q, "vec_id")
      .crossJoin(broadcast(probeQ))
      .select(col("vec_id"), col("approx_dist"), exactDist.as("exact_dist"))
      .orderBy(col("exact_dist"), col("vec_id"))
      .limit(10)
  }

  private val annPqAdcOracle =
    s"""WITH q AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS q
       |  FROM embeddings),
       |seeds AS (
       |  SELECT vec_id // $PqSeedEvery AS cent_id, q AS c FROM q
       |  WHERE vec_id % $PqSeedEvery = 0
       |    AND vec_id < ${PqSeedEvery * PqK}),
       |pos AS (SELECT m.range AS m, j.range AS j
       |        FROM range(0, $PqM) m, range(1, ${PqSubDim + 1}) j),
       |dists AS (
       |  SELECT v.vec_id, s.cent_id, p.m,
       |    CAST(sum((v.q[CAST(p.m*$PqSubDim+p.j AS INT)]
       |              - s.c[CAST(p.m*$PqSubDim+p.j AS INT)])
       |           * (v.q[CAST(p.m*$PqSubDim+p.j AS INT)]
       |              - s.c[CAST(p.m*$PqSubDim+p.j AS INT)])) AS BIGINT) AS d
       |  FROM q v, seeds s, pos p
       |  GROUP BY v.vec_id, s.cent_id, p.m),
       |codes AS (
       |  SELECT vec_id, m, cent_id AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
       |                                 ORDER BY d, cent_id) AS rn
       |    FROM dists) WHERE rn = 1),
       |lut AS (SELECT cent_id, m, d FROM dists WHERE vec_id = $PqProbeId),
       |short AS (
       |  SELECT c.vec_id, CAST(sum(p.d) AS BIGINT) AS approx_dist
       |  FROM codes c JOIN lut p ON p.m = c.m AND p.cent_id = c.code
       |  WHERE c.vec_id <> $PqProbeId GROUP BY c.vec_id
       |  ORDER BY approx_dist, c.vec_id LIMIT $PqShortlist),
       |pq AS (SELECT q AS pq FROM q WHERE vec_id = $PqProbeId)
       |SELECT s.vec_id, s.approx_dist,
       |  (SELECT CAST(sum((v.q[CAST(j.range AS INT)] - p.pq[CAST(j.range AS INT)])
       |                 * (v.q[CAST(j.range AS INT)] - p.pq[CAST(j.range AS INT)]))
       |     AS BIGINT)
       |   FROM range(1, ${Dim + 1}) j) AS exact_dist
       |FROM short s JOIN q v ON v.vec_id = s.vec_id, pq p
       |ORDER BY exact_dist, s.vec_id LIMIT 10""".stripMargin

  /** ONLINE ANN index maintenance — the streaming half of the LSH index
    * story the batch queries assume prebuilt: embeddings arrive in
    * micro-batches (4 chunk files, one per trigger), each batch computes
    * its sign-LSH buckets and APPENDS to a bucket-partitioned parquet
    * index through foreachBatch — the standard continuous-ingest shape
    * (new vectors searchable after their batch commits, no index
    * rebuild). The probe then reads back ONLY its multiprobe bucket
    * DIRECTORIES (literal IN ⇒ static partition pruning, the
    * `sim_ann_ivf_pruned` discipline) and exact-reranks.
    *
    * Determinism: the planes are fixed literals (shared with
    * `sim_ann_lsh_multi`, so the oracle embeds the same constants), the
    * index CONTENT is independent of how batches appended it, and the
    * probe's cosine+tiebreak ordering is total — so an incrementally
    * built index answers bit-identically to a batch-built one, which is
    * exactly the property an online index must hold. The index rebuilds
    * per run (the build IS the op under test); a deployment would keep
    * the directory and compact per the `ref_compact_small_files` recipe.
    */
  def indexStreamUpdate(spark: SparkSession, sfDir: String): DataFrame = {
    val chunks = graft.operators.Staging.stagedDir(
      "graft_emb_chunks", sfDir, "4-range-files") { d =>
      Tables(spark, sfDir, "embeddings")
        .repartitionByRange(4, col("vec_id"))
        .write.mode("overwrite").parquet(d.getAbsolutePath)
    }
    // unlike Staging.stagedDir (fingerprint-locked, content-addressed)
    // the index is rebuilt on every run, in this process's own dir
    val idx = graft.sources.GraftParquetIO.scratchDir("graft_emb_index", sfDir)
    val signature = (0 until MultiPlanes).map(k =>
      when(DotProduct(col("e"), typedLit(multiPlanes(k))) > 0, lit(1L << k))
        .otherwise(lit(0L))).reduce(_ + _)
    val schema = spark.read.parquet(chunks.getAbsolutePath).schema
    graft.streaming.StreamingOps.drain(spark, spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(chunks.getAbsolutePath)
      .select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .withColumn("bucket", signature)
      .writeStream
      .outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode("append").partitionBy("bucket")
          .parquet(idx.getAbsolutePath)
      })()
    // probe prep: vector 0's embedding + its multiprobe keys (driver-side
    // scalars, like the IVF probe's centroid ids)
    val p0 = Tables(spark, sfDir, "embeddings")
      .filter(col("vec_id") === 0)
      .select(asDouble(col("embedding")).as("e"))
      .withColumn("bucket", signature)
      .head()
    val b0 = p0.getAs[Long]("bucket")
    val keys = b0 +: (0 until MultiPlanes).map(k => b0 ^ (1L << k))
    val probe = Tables(spark, sfDir, "embeddings")
      .filter(col("vec_id") === 0)
      .select(asDouble(col("embedding")).as("p"))
    spark.read.parquet(idx.getAbsolutePath)
      .filter(col("bucket").isin(keys: _*))
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"),
        round(Dedup.cosine(col("e"), col("p")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  private val indexStreamUpdateOracle: String = {
    val planeRows = multiPlanes.zipWithIndex
      .map { case (p, k) => s"($k, [${p.mkString(", ")}])" }
      .mkString(",\n")
    val neighborKeys = (0 until MultiPlanes)
      .map(b => s"xor(bucket, ${1L << b})").mkString(", ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       | FROM embeddings),
       |planes(k, p) AS (VALUES
       |$planeRows),
       |sigs AS (
       |  SELECT vec_id, CAST(sum(CASE WHEN list_dot_product(v, p) > 0
       |                        THEN 1 << k ELSE 0 END) AS BIGINT) AS bucket
       |  FROM e CROSS JOIN planes GROUP BY vec_id),
       |sb AS (SELECT e.vec_id, e.v, s.bucket FROM e JOIN sigs s USING (vec_id)),
       |pk AS (
       |  SELECT v AS pv, unnest([bucket, $neighborKeys]) AS bucket
       |  FROM sb WHERE vec_id = 0)
       |SELECT sb.vec_id,
       |  round(list_cosine_similarity(pk.pv, sb.v), 6) AS cos_sim
       |FROM pk JOIN sb USING (bucket)
       |WHERE sb.vec_id <> 0
       |ORDER BY cos_sim DESC, sb.vec_id
       |LIMIT 10""".stripMargin
  }

  /** Embedding quality screening — the sanity pass every vector corpus
    * needs BEFORE the expensive ops consume it (a batch of zero vectors
    * or a collapsed-norm label poisons cosine similarity silently):
    * per-label count, norm² spread (min/mean/max on the exact 1e-6
    * integer grid — one scan, one tiny aggregate), and degenerate-vector
    * counts (near-zero norm). The mean is the one division, exact
    * integer operands rounded once.
    */
  def embeddingQa(spark: SparkSession, sfDir: String): DataFrame = {
    val q = transform(col("embedding"),
      x => round(x.cast(DoubleType) * KmScale).cast(LongType))
    val n2 = aggregate(transform(q, v => v * v), lit(0L), (a, v) => a + v)
    Tables(spark, sfDir, "embeddings")
      .select(col("label"), n2.as("n2"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n"),
        min(col("n2")).as("min_norm_sq"),
        max(col("n2")).as("max_norm_sq"),
        round(sum(col("n2")).cast(DoubleType) / count(lit(1)), 2)
          .as("mean_norm_sq"),
        sum(when(col("n2") < 1000000L, 1L).otherwise(0L))
          .as("n_degenerate"))
      .orderBy("label")
  }

  private val embeddingQaOracle =
    """WITH q AS (
      |  SELECT label,
      |    list_reduce(list_transform(embedding,
      |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)
      |           * CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)),
      |      (a, b) -> a + b) AS n2
      |  FROM embeddings)
      |SELECT label, CAST(count(*) AS BIGINT) AS n,
      |  CAST(min(n2) AS BIGINT) AS min_norm_sq,
      |  CAST(max(n2) AS BIGINT) AS max_norm_sq,
      |  round(CAST(sum(n2) AS DOUBLE) / count(*), 2) AS mean_norm_sq,
      |  CAST(count(*) FILTER (WHERE n2 < 1000000) AS BIGINT) AS n_degenerate
      |FROM q GROUP BY label ORDER BY label""".stripMargin

  /** Contrastive hard-negative mining: for each probe vector, the top-5
    * most-similar corpus vectors carrying a DIFFERENT label — the
    * negatives that most confuse a contrastive model, which is exactly
    * what embedding-training pipelines mine per anchor.
    *
    * Shape: probes are broadcast (one scan of the corpus, no corpus
    * shuffle), and the per-probe top-k goes through the bounded-heap
    * aggregate [[graft.functions.BoundedTopK]] instead of a rank window —
    * the shuffle carries ≤ k candidates per (probe × map task), so a
    * 5-probe mine over 100 TB moves KBs, not the corpus. With millions of
    * anchors the broadcast flips to the ANN index path
    * ([[annIvfPruned]]: assign anchors to lists, mine within nprobe
    * lists) — the scoring and heap shapes here are unchanged.
    */
  def hardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.BoundedTopK
    val e = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("e"))
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("label").as("probe_label"),
        col("e").as("probe"))
    e.join(broadcast(probes), col("label") =!= col("probe_label"))
      .select(col("probe_id"), col("vec_id"),
        round(Dedup.cosine(col("e"), col("probe")), 6).as("cos_sim"))
      .groupBy(col("probe_id"))
      .agg(BoundedTopK(col("cos_sim"), col("vec_id"), 5).as("top"))
      .select(col("probe_id"), posexplode(col("top")))
      .select(col("probe_id"), (col("pos") + 1).cast(LongType).as("rank"),
        col("col.id").as("vec_id"), col("col.score").as("cos_sim"))
      .join(Tables(spark, sfDir, "embeddings").select(col("vec_id"), col("label")),
        "vec_id")
      .select(col("probe_id"), col("rank"), col("vec_id"), col("label"),
        col("cos_sim"))
      .orderBy("probe_id", "rank")
  }

  private val hardNegativesOracle =
    """WITH e AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
      |  FROM embeddings),
      |p AS (SELECT vec_id AS probe_id, label AS probe_label, e AS probe
      |      FROM e WHERE vec_id < 5),
      |scored AS (
      |  SELECT p.probe_id, e.vec_id, e.label,
      |    round(list_cosine_similarity(e.e, p.probe), 6) AS cos_sim
      |  FROM e JOIN p ON e.label <> p.probe_label),
      |ranked AS (
      |  SELECT probe_id, vec_id, label, cos_sim,
      |    row_number() OVER (
      |      PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id) AS rk
      |  FROM scored)
      |SELECT probe_id, CAST(rk AS BIGINT) AS rank, vec_id, label, cos_sim
      |FROM ranked WHERE rk <= 5
      |ORDER BY probe_id, rank""".stripMargin

  // ---- MMR diversity-aware selection -------------------------------------

  private val MmrRounds = 5

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein 1998) —
    * the diversity-aware pick a curation/retrieval pipeline runs where a
    * plain top-k would return five near-copies of the best hit: greedily
    * select the candidate maximizing
    * `λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)` with λ=½. The first
    * pick is the relevance argmax; each later round penalizes similarity
    * to everything already chosen.
    *
    * Determinism: rel and pairwise sims are 6dp-rounded cosines; with
    * λ=½ the score is `(rel − maxsim)/2` — one correctly-rounded IEEE
    * subtraction of identical doubles and a division by a power of two
    * (exact), so every round's argmax (tie-broken on vec_id) is
    * bit-identical cross-engine. No transcendentals, no RNG.
    *
    * Scale shape: MMR is inherently sequential in k, so each round must be
    * cheap — here one broadcast of the ≤k-row selected set over the
    * candidate scan, a max-aggregate, and a 1-row TakeOrderedAndProject;
    * the selected set stays a RELATION (crossJoin-broadcast, no driver
    * collect). At 100 TB the candidate set is an ANN shortlist (the
    * [[annLshMulti]]/[[annIvfPruned]] output), not the corpus — the round
    * shapes are unchanged.
    */
  def mmrSelect(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("e"))
    val probe = e.filter(col("vec_id") === 0)
      .select(col("e").as("probe"))
    val cand = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), col("e"),
        round(Dedup.cosine(col("e"), col("probe")), 6).as("rel"))
      .cache()
    // round 1: pure relevance argmax; score ≡ rel by the MMR definition
    // (the similarity penalty has nothing to range over yet)
    var picks = cand
      .orderBy(col("rel").desc, col("vec_id")).limit(1)
      .select(lit(1L).as("round"), col("vec_id"), col("e"), col("rel"),
        col("rel").as("mmr_score"))
      .localCheckpoint(true)
    for (r <- 2 to MmrRounds) {
      val sel = picks.select(col("vec_id").as("s_id"), col("e").as("s_e"))
      val next = cand
        .join(broadcast(sel), col("vec_id") === col("s_id"), "left_anti")
        .crossJoin(broadcast(sel))
        .select(col("vec_id"), col("e"), col("rel"),
          round(Dedup.cosine(col("e"), col("s_e")), 6).as("s"))
        .groupBy(col("vec_id"), col("rel"))
        .agg(first(col("e")).as("e"), max(col("s")).as("maxsim"))
        .select(col("vec_id"), col("e"), col("rel"),
          ((col("rel") - col("maxsim")) / 2).as("mmr_score"))
        .orderBy(col("mmr_score").desc, col("vec_id")).limit(1)
        .select(lit(r.toLong).as("round"), col("vec_id"), col("e"),
          col("rel"), col("mmr_score"))
        .localCheckpoint(true)
      picks = picks.unionByName(next).localCheckpoint(true)
    }
    picks.select(col("round"), col("vec_id"), col("rel"), col("mmr_score"))
      .orderBy("round")
  }

  private val mmrSelectOracle: String = {
    val rounds = (2 to MmrRounds).map { r =>
      val prev = s"sel${r - 1}"
      s"""n$r AS MATERIALIZED (
         |  SELECT c.vec_id, c.rel,
         |    (c.rel - max(round(list_cosine_similarity(c.e, s.e), 6))) / 2
         |      AS mmr_score
         |  FROM cand c, $prev s
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM $prev)
         |  GROUP BY c.vec_id, c.rel),
         |p$r AS MATERIALIZED (
         |  SELECT $r AS round, vec_id, rel, mmr_score FROM n$r
         |  ORDER BY mmr_score DESC, vec_id LIMIT 1),
         |sel$r AS MATERIALIZED (
         |  SELECT vec_id, e FROM $prev
         |  UNION ALL
         |  SELECT c.vec_id, c.e FROM cand c JOIN p$r USING (vec_id))"""
        .stripMargin
    }.mkString(",\n")
    val out = (2 to MmrRounds).map(r => s"SELECT * FROM p$r")
      .mkString("\nUNION ALL\n")
    s"""WITH cand AS MATERIALIZED (
       |  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS e,
       |    round(list_cosine_similarity(
       |      CAST(e.embedding AS DOUBLE[]),
       |      (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
       |       WHERE vec_id = 0)), 6) AS rel
       |  FROM embeddings e WHERE e.vec_id <> 0),
       |p1 AS MATERIALIZED (
       |  SELECT 1 AS round, vec_id, rel, rel AS mmr_score FROM cand
       |  ORDER BY rel DESC, vec_id LIMIT 1),
       |sel1 AS MATERIALIZED (
       |  SELECT c.vec_id, c.e FROM cand c JOIN p1 USING (vec_id)),
       |$rounds
       |SELECT CAST(round AS BIGINT) AS round, vec_id, rel, mmr_score
       |FROM (SELECT * FROM p1
       |      UNION ALL
       |$out)
       |ORDER BY round""".stripMargin
  }

  // ---- reciprocal-rank fusion --------------------------------------------

  private val RrfK = 60
  private val RrfDepth = 20

  /** Reciprocal-rank fusion (Cormack et al. 2009) — the hybrid-retrieval
    * combinator: two rankers score the same corpus for one probe (cosine
    * direction vs quantized-L2 magnitude-sensitive distance here — the
    * standard "two views" shape; lexical+dense fuses identically), and
    * each candidate's fused score is `Σ 1/(k + rank_i)` over the lists it
    * appears in (k=60, depth 20, union semantics — a doc on one list
    * still scores).
    *
    * Determinism: ranks are integers from totally-ordered (score, vec_id)
    * sorts; each 1/(60+r) is one correctly-rounded IEEE division and the
    * fused score one addition of identical doubles — bit-stable without
    * rounding. L2 runs on the 1e-6 integer grid (`round(x·10⁶)` per
    * component, exact in doubles), the PQ queries' discipline.
    *
    * Scale shape: each ranker is the brute-force corpus scan +
    * TakeOrderedAndProject here (at 100 TB: the ANN index paths — the
    * fusion input is each ranker's OUTPUT, depth-sized); the fusion
    * itself joins two depth-sized relations — driver-free, corpus-free.
    */
  def rrfFusion(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("e"))
      .withColumn("q", transform(col("e"), x => round(x * 1e6)))
    val probe = e.filter(col("vec_id") === 0)
      .select(col("e").as("pe"), col("q").as("pq"))
    val scored = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"),
        round(Dedup.cosine(col("e"), col("pe")), 6).as("cs"),
        (DotProduct(col("q"), col("q")) + DotProduct(col("pq"), col("pq"))
          - lit(2) * DotProduct(col("q"), col("pq"))).as("d"))
    // ranks are windows over the DEPTH-sized shortlists, not the corpus
    val ca = scored.orderBy(col("cs").desc, col("vec_id")).limit(RrfDepth)
      .withColumn("cos_rank",
        row_number().over(Window.orderBy(col("cs").desc, col("vec_id")))
          .cast(LongType))
      .select(col("vec_id"), col("cos_rank"))
    val cb = scored.orderBy(col("d"), col("vec_id")).limit(RrfDepth)
      .withColumn("l2_rank",
        row_number().over(Window.orderBy(col("d"), col("vec_id")))
          .cast(LongType))
      .select(col("vec_id").as("b_id"), col("l2_rank"))
    ca.join(cb, col("vec_id") === col("b_id"), "full_outer")
      .select(coalesce(col("vec_id"), col("b_id")).as("vec_id"),
        col("cos_rank"), col("l2_rank"),
        (coalesce(lit(1.0) / (lit(RrfK) + col("cos_rank")), lit(0.0))
          + coalesce(lit(1.0) / (lit(RrfK) + col("l2_rank")), lit(0.0)))
          .as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("vec_id"))
      .limit(10)
  }

  private val rrfFusionOracle =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |q AS (SELECT vec_id, list_transform(v, x -> round(x * 1000000)) AS qv
       |      FROM e),
       |cosl AS (
       |  SELECT vec_id, round(list_cosine_similarity(v,
       |    (SELECT v FROM e WHERE vec_id = 0)), 6) AS cs
       |  FROM e WHERE vec_id <> 0
       |  ORDER BY cs DESC, vec_id LIMIT $RrfDepth),
       |ca AS (SELECT vec_id,
       |         CAST(row_number() OVER (ORDER BY cs DESC, vec_id) AS BIGINT)
       |           AS cos_rank
       |       FROM cosl),
       |l2l AS (
       |  SELECT vec_id,
       |    list_dot_product(qv, qv)
       |      + (SELECT list_dot_product(qv, qv) FROM q WHERE vec_id = 0)
       |      - 2 * list_dot_product(qv,
       |            (SELECT qv FROM q WHERE vec_id = 0)) AS d
       |  FROM q WHERE vec_id <> 0
       |  ORDER BY d, vec_id LIMIT $RrfDepth),
       |cb AS (SELECT vec_id,
       |         CAST(row_number() OVER (ORDER BY d, vec_id) AS BIGINT)
       |           AS l2_rank
       |       FROM l2l)
       |SELECT coalesce(ca.vec_id, cb.vec_id) AS vec_id, cos_rank, l2_rank,
       |  coalesce(CAST(1 AS DOUBLE) / ($RrfK + cos_rank), 0)
       |    + coalesce(CAST(1 AS DOUBLE) / ($RrfK + l2_rank), 0) AS rrf_score
       |FROM ca FULL OUTER JOIN cb ON ca.vec_id = cb.vec_id
       |ORDER BY rrf_score DESC, vec_id LIMIT 10""".stripMargin

  // ---- SemDeDup: cluster-then-prune semantic dedup -----------------------

  private val SemTau = 0.95

  /** SemDeDup (Abbas et al. 2023) — semantic deduplication, the
    * dedup-family member the text-shingle passes can't express: cluster
    * the embedding space coarsely, then compare pairs ONLY within a
    * cluster and prune any vector whose cosine to an earlier cluster-mate
    * exceeds τ = 0.95. Paraphrases and re-encodings land in the same
    * cluster with high cosine but share few shingles, so this catches
    * what MinHash misses. Corpus is the dedup fixtures' planted-duplicate
    * augmentation (a +100000 copy of every 10th vector), clustered by the
    * same seed-stride centroids and exact-grid arithmetic as
    * [[kmeansTrain]] (one assignment round — SemDeDup needs a coarse
    * partition, not a converged model).
    *
    * Scale shape — the reason SemDeDup exists: the quadratic pair space is
    * confined to clusters (k scales with the corpus, so cluster size is
    * ~constant); assignment is a broadcast-centroid argmax riding one
    * corpus scan, the pair join one shuffle on cluster id. Nothing is
    * all-pairs; the within-cluster join IS the paper's cost model.
    */
  def semanticDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val q0 = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast(DoubleType) * KmScale).cast(LongType)).as("q"))
    val aug = q0.unionByName(
      q0.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 100000).as("vec_id"), col("q")))
    val m = aug.select(col("vec_id"),
      transform(col("q"), y => y.cast(DoubleType) / KmScale).as("v"))
    val cents = m.filter(pmod(col("vec_id"), lit(KmSeedEvery)) === 1)
      .select(col("vec_id").as("cent_id"), col("v").as("c"))
    val assigned = m.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), col("cent_id"),
        round(Dedup.cosine(col("v"), col("c")), 6).as("s"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("s"), (-col("cent_id")).as("nc"))).as("best"),
        first(col("v")).as("v"))
      .select(col("vec_id"), col("v"), (-col("best.nc")).as("cluster"))
    val pairs = assigned.as("x").hint("SHUFFLE_HASH")
      .join(assigned.as("y").hint("SHUFFLE_HASH"),
        col("x.cluster") === col("y.cluster")
          && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("i"), col("y.vec_id").as("j"),
        col("x.cluster").as("cluster_id"),
        round(Dedup.cosine(col("x.v"), col("y.v")), 6).as("sim"))
      .filter(col("sim") >= SemTau)
    // prune rule: the LATER id is dropped, citing its highest-cosine
    // earlier cluster-mate (tie → lowest id) — deterministic survivorship
    pairs.groupBy(col("j"))
      .agg(first(col("cluster_id")).as("cluster_id"),
        max(struct(col("sim"), (-col("i")).as("ni"))).as("best"))
      .select(col("j").as("vec_id"), col("cluster_id"),
        (-col("best.ni")).as("dup_of"), col("best.sim").as("sim"))
      .orderBy("vec_id")
  }

  private val semanticDedupOracle =
    s"""WITH q0 AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS q
       |  FROM embeddings),
       |aug AS (SELECT vec_id, q FROM q0
       |        UNION ALL
       |        SELECT vec_id + 100000, q FROM q0 WHERE vec_id % 10 = 0),
       |m AS (SELECT vec_id,
       |        list_transform(q, y -> CAST(y AS DOUBLE) / 1000000.0) AS v
       |      FROM aug),
       |c0 AS (SELECT vec_id AS cent_id, v AS c FROM m
       |       WHERE vec_id % $KmSeedEvery = 1),
       |sim AS (SELECT m.vec_id, m.v, c.cent_id,
       |          round(list_dot_product(m.v, c.c)
       |            / (sqrt(list_dot_product(m.v, m.v))
       |               * sqrt(list_dot_product(c.c, c.c))), 6) AS s
       |        FROM m CROSS JOIN c0 c),
       |a AS (SELECT vec_id, v, cluster FROM (
       |        SELECT vec_id, v, cent_id AS cluster,
       |          row_number() OVER (
       |            PARTITION BY vec_id ORDER BY s DESC, cent_id) AS rn
       |        FROM sim) WHERE rn = 1),
       |p AS (SELECT x.vec_id AS i, y.vec_id AS j, x.cluster AS cluster_id,
       |        round(list_cosine_similarity(x.v, y.v), 6) AS sim
       |      FROM a x JOIN a y
       |        ON x.cluster = y.cluster AND x.vec_id < y.vec_id
       |      WHERE round(list_cosine_similarity(x.v, y.v), 6) >= $SemTau)
       |SELECT vec_id, cluster_id, dup_of, sim FROM (
       |  SELECT j AS vec_id, cluster_id, i AS dup_of, sim,
       |    row_number() OVER (PARTITION BY j ORDER BY sim DESC, i) AS rn
       |  FROM p) WHERE rn = 1
       |ORDER BY vec_id""".stripMargin

  // ---- embedding-centroid drift monitor ----------------------------------

  private val DriftRefLabel = 0
  private val DriftCurLabel = 1

  /** Embedding-space drift monitor — the dense-modality twin of
    * `text_drift_monitor`: between a reference slice and the current
    * intake (label 0 vs label 1 stand in for last-month vs this-month, or
    * encoder v1 vs v2), compute each slice's centroid on the exact 1e-6
    * integer grid and report the 10 dimensions with the largest absolute
    * mean shift. A feed change or a silent encoder swap shows up as mass
    * concentrated on a few dimensions — the embedding-side "data changed"
    * alarm that gates index rebuilds.
    *
    * Determinism: per-dim sums are exact BIGINT on the grid; each mean is
    * sum → one cast → two IEEE divisions in a fixed order (the
    * [[kmUpdate]] discipline, bit-identical cross-engine); the shift is a
    * subtraction of identical doubles — no rounding needed anywhere.
    *
    * Scale shape: one filtered corpus scan, posexplode → map-side-combined
    * hash aggregate on the 64-row dim key, TakeOrderedAndProject. The
    * corpus never shuffles; state is dims × constants.
    */
  def embeddingDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val q = Tables(spark, sfDir, "embeddings")
      .filter(col("label").isin(DriftRefLabel, DriftCurLabel))
      .select(col("label"),
        posexplode(transform(col("embedding"),
          x => round(x.cast(DoubleType) * KmScale).cast(LongType))))
    q.groupBy(col("pos"))
      .agg(
        sum(when(col("label") === DriftRefLabel, col("col"))).as("s_ref"),
        count(when(col("label") === DriftRefLabel, 1)).as("n_ref"),
        sum(when(col("label") === DriftCurLabel, col("col"))).as("s_cur"),
        count(when(col("label") === DriftCurLabel, 1)).as("n_cur"))
      .select((col("pos") + 1).cast(LongType).as("dim"),
        (col("s_ref").cast(DoubleType) / col("n_ref") / KmScale).as("mean_ref"),
        (col("s_cur").cast(DoubleType) / col("n_cur") / KmScale).as("mean_cur"))
      .withColumn("shift", abs(col("mean_cur") - col("mean_ref")))
      .orderBy(col("shift").desc, col("dim"))
      .limit(10)
  }

  private val embeddingDriftOracle =
    s"""WITH q AS (
       |  SELECT label,
       |    unnest(list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))) AS qv,
       |    unnest(range(1, len(embedding) + 1)) AS dim
       |  FROM embeddings WHERE label IN ($DriftRefLabel, $DriftCurLabel)),
       |g AS (SELECT dim,
       |        CAST(sum(qv) FILTER (WHERE label = $DriftRefLabel) AS DOUBLE)
       |          / count(*) FILTER (WHERE label = $DriftRefLabel)
       |          / 1000000.0 AS mean_ref,
       |        CAST(sum(qv) FILTER (WHERE label = $DriftCurLabel) AS DOUBLE)
       |          / count(*) FILTER (WHERE label = $DriftCurLabel)
       |          / 1000000.0 AS mean_cur
       |      FROM q GROUP BY dim)
       |SELECT CAST(dim AS BIGINT) AS dim, mean_ref, mean_cur,
       |       abs(mean_cur - mean_ref) AS shift
       |FROM g ORDER BY shift DESC, dim LIMIT 10""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("sim_topk_bruteforce",
      "exact cosine top-10 vs broadcast probe (TakeOrderedAndProject)",
      topkBruteforce, Some(topkOracle)),
    Query("sim_ann_lsh_multi",
      "batch-probe ANN: probe set × bucket equi-join, per-probe top-5",
      annLshMulti, Some(annLshMultiOracle)),
    Query("sim_ann_lsh",
      "sign-LSH bucketed ANN top-10 with hamming≤2 multiprobe, " +
        "plane literals embedded in the oracle SQL",
      annLsh, Some(annLshOracle)),
    Query("sim_ann_ivf",
      "IVF-flat ANN: nearest-centroid lists, nprobe=2, exact re-rank",
      annIvf, Some(annIvfOracle)),
    Query("sim_ann_ivf_pruned",
      "IVF lists as a partitioned layout: probe scan prunes to nprobe dirs",
      annIvfPruned, Some(annIvfOracle)),
    Query("sim_kmeans_train",
      "distributed spherical k-means, 3 Lloyd rounds, exact-grid arithmetic",
      kmeansTrain, Some(kmeansTrainOracle)),
    Query("sim_ann_pq_adc",
      "product quantization: 8-byte codes, ADC lookup join, exact re-rank",
      annPqAdc, Some(annPqAdcOracle)),
    Query("sim_embedding_qa",
      "per-label embedding QA: norm spread + degenerate-vector counts",
      embeddingQa, Some(embeddingQaOracle)),
    Query("sim_index_stream_update",
      "online LSH index: micro-batch appends, pruned multiprobe read-back",
      indexStreamUpdate, Some(indexStreamUpdateOracle)),
    Query("sim_hard_negatives",
      "contrastive hard-negative mining: per-probe top-5 cross-label cosine",
      hardNegatives, Some(hardNegativesOracle)),
    Query("sim_mmr_select",
      "MMR diversity-aware selection: 5 greedy rounds, λ=1/2, tie-stable",
      mmrSelect, Some(mmrSelectOracle)),
    Query("sim_rrf_fusion",
      "reciprocal-rank fusion of cosine + quantized-L2 rankers, k=60",
      rrfFusion, Some(rrfFusionOracle)),
    Query("dedup_semantic",
      "SemDeDup: coarse-cluster embeddings, prune cosine>=0.95 in-cluster",
      semanticDedup, Some(semanticDedupOracle)),
    Query("sim_embedding_drift",
      "embedding-centroid drift: top-10 per-dim mean shift between slices",
      embeddingDrift, Some(embeddingDriftOracle)),
  )
}
