package graft

import org.apache.spark.sql.functions._

class CurationSpec extends SparkTestBase {

  test("split is complete, deterministic, and roughly 80/10/10") {
    val df = run("curation_split", SfOracle).cache()
    assert(df.count() == 500, "every document gets exactly one assignment")
    val counts = df.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 500)
    assert(counts("train") > counts.getOrElse("valid", 0L)
      && counts("train") > counts.getOrElse("test", 0L))
    // md5 is uniform: train should land near 400 of 500
    assert(counts("train") >= 350 && counts("train") <= 450,
      s"hash split should be ~80% train: $counts")
    // determinism: same input, same assignment
    val again = run("curation_split", SfOracle).collect().toSeq
    assert(df.collect().toSeq == again)
    df.unpersist()
  }

  test("leakage-free split never splits a near-dup cluster") {
    val df = run("curation_split_leakage_free", SfOracle).cache()
    assert(df.count() == 550, "all docs incl. planted dups get an assignment")
    // the defining property: one split per component — no cluster member
    // can ever land on the other side of the train/test boundary
    val crossed = df.groupBy("component")
      .agg(countDistinct(col("split")).as("n_splits"))
      .filter(col("n_splits") > 1).count()
    assert(crossed == 0, "a component straddles a split boundary")
    // the planted dup pairs (doc, doc+100000) are the concrete leak risk;
    // assert them directly, not just via the component invariant
    val leaked = df.as("a")
      .join(df.as("b"), col("b.doc_id") === col("a.doc_id") + 100000)
      .filter(col("a.split") =!= col("b.split")).count()
    assert(leaked == 0, "a planted duplicate crossed the split boundary")
    // still a usable split: train is the largest bucket
    val counts = df.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("train") > counts.getOrElse("valid", 0L)
      && counts("train") > counts.getOrElse("test", 0L), s"$counts")
    df.unpersist()
  }

  test("DSIR resample over-represents the target domain") {
    val docs = spark.read.parquet(s"$SfOracle/documents.parquet")
    val kept = run("curation_dsir_resample", SfOracle).cache()
    assert(kept.count() == 100)
    val keptTgt = kept.join(docs, "doc_id")
      .filter(col("source") === "src1").count().toDouble
    val corpusTgt = docs.filter(col("source") === "src1").count().toDouble /
      docs.count().toDouble
    assert(keptTgt / 100.0 > corpusTgt,
      s"target share in sample (${keptTgt / 100.0}) must exceed corpus " +
        s"share ($corpusTgt) or the importance weights are not selecting")
    // scores rank the output, most target-like first
    val scores = kept.orderBy(col("avg_llr").desc, col("doc_id"))
      .collect().map(_.getAs[Double]("avg_llr"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    kept.unpersist()
  }

  test("stratified sample keeps ~1/2 of en and ~1/10 of other strata") {
    val docs = spark.read.parquet(s"$SfOracle/documents.parquet")
    val kept = run("curation_sample_stratified", SfOracle).cache()
    val keptEn = kept.filter(col("lang") === "en").count().toDouble
    val allEn = docs.filter(col("lang") === "en").count().toDouble
    val keptOther = kept.filter(col("lang") =!= "en").count().toDouble
    val allOther = docs.filter(col("lang") =!= "en").count().toDouble
    assert(keptEn / allEn > 0.35 && keptEn / allEn < 0.65,
      s"en keep rate should be ~0.5, was ${keptEn / allEn}")
    assert(keptOther / allOther > 0.04 && keptOther / allOther < 0.18,
      s"non-en keep rate should be ~0.1, was ${keptOther / allOther}")
    // determinism: the same doc set every run
    assert(kept.collect().toSeq ==
      run("curation_sample_stratified", SfOracle).collect().toSeq)
    kept.unpersist()
  }

  test("chunks tile each document with stride 24 and width ≤ 32") {
    val df = run("curation_chunk", SfOracle).cache()
    assert(df.filter(col("n_chunk_tokens") > 32).count() == 0)
    assert(df.filter(pmod(col("chunk_start") - 1, lit(24)) =!= 0).count() == 0,
      "chunk starts must sit on the stride grid")
    // every document emits at least one chunk
    assert(df.select("doc_id").distinct().count() ==
      spark.read.parquet(s"$SfOracle/documents.parquet").count())
    // only a document's final chunk may be short
    val shortNonFinal = df
      .withColumn("max_start",
        max(col("chunk_start")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
      .filter(col("n_chunk_tokens") < 32
        && col("chunk_start") =!= col("max_start"))
      .count()
    assert(shortNonFinal == 0)
    // coverage: no token is dropped — the chunks reach each document's end
    val docTokens = spark.read.parquet(s"$SfOracle/documents.parquet")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
    val uncovered = df
      .groupBy("doc_id")
      .agg(max(col("chunk_start") + col("n_chunk_tokens") - 1).as("covered"))
      .join(docTokens, "doc_id")
      .filter(col("covered") =!= col("n"))
      .count()
    assert(uncovered == 0, "every document must be tiled through its last token")
    df.unpersist()
  }

  test("curation pipeline drops duplicates and contaminated docs, keeps quality") {
    val df = run("curation_pipeline", SfOracle).cache()
    // planted copies (doc_id+100000) lose to the min-id representative
    assert(df.filter(col("doc_id") >= 100000).count() == 0)
    // the bench docs 0..9 contaminate themselves out
    assert(df.filter(col("doc_id") < 10).count() == 0)
    // survivors are a subset of the standalone quality gate's survivors
    val quality = run("text_quality_filter", SfOracle)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val survivors = df.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors.subsetOf(quality),
      s"pipeline must only tighten the gate: extra=${survivors -- quality}")
    df.unpersist()
  }

  test("sequence packing conserves tokens and fills all non-final sequences") {
    val packed = run("curation_pack_sequences", SfOracle).cache()
    // conservation: per-document contributions sum to the document's tokens
    val perDoc = packed.groupBy("doc_id")
      .agg(sum("n_tokens_in_seq").as("packed_tokens"))
    val docs = spark.read.parquet(s"$SfOracle/documents.parquet")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    assert(perDoc.join(docs, "doc_id")
      .filter(col("packed_tokens") =!= col("n_tokens")).count() == 0,
      "every token must land in exactly one sequence slot")
    // capacity: every sequence except each shard's last holds exactly 256
    val perSeq = packed.groupBy("shard", "seq_id")
      .agg(sum("n_tokens_in_seq").as("fill"))
    val lastSeq = perSeq.groupBy("shard").agg(max("seq_id").as("last_seq"))
    val short = perSeq.join(lastSeq, "shard")
      .filter(col("seq_id") =!= col("last_seq") && col("fill") =!= 256)
    assert(short.count() == 0,
      s"non-final sequences must be full: ${short.collect().mkString(",")}")
    packed.unpersist()
  }

  test("span corruption round-trips: splicing targets into inputs rebuilds the doc") {
    // the denoising-pair contract: input sentinels and target pieces are
    // a lossless factorization of the original token stream
    val out = run("curation_span_corrupt", SfOracle).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    val orig = spark.read.parquet(s"$SfOracle/documents.parquet")
      .selectExpr("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet == orig.keySet)
    val sentinel = "<extra_id_(\\d+)>".r
    out.foreach { case (id, (input, target)) =>
      // parse target: "<extra_id_0> tok tok <extra_id_1> tok ..." → pieces
      val pieces = sentinel.findAllMatchIn(target).map(_.group(1).toInt)
        .toSeq.zip(sentinel.split(target).drop(1).map(_.trim).toSeq).toMap
      val rebuilt = input.split(" ").toSeq.flatMap { tok =>
        tok match {
          case sentinel(k) => pieces(k.toInt).split(" ").toSeq
          case t => Seq(t)
        }
      }.mkString(" ")
      assert(rebuilt == orig(id), s"doc $id must round-trip")
    }
    // and the corruption is actually happening on this fixture
    assert(out.values.count(_._2.nonEmpty) > out.size / 2,
      "most documents should carry at least one corrupted span")
  }

  test("domain quota keeps the 10 longest docs per source, ranked") {
    val rows = run("curation_domain_quota", SfOracle).collect()
    val bySource = rows.groupBy(_.getString(1))
    assert(bySource.size == 20, "all 20 sources must be represented")
    bySource.foreach { case (src, rs) =>
      assert(rs.length == 10, s"$src: quota is 10 of its 25 docs")
      val ranked = rs.sortBy(_.getLong(3))
      assert(ranked.map(_.getLong(3)).toSeq == (1L to 10L),
        s"$src: ranks must be 1..10")
      val lens = ranked.map(_.getLong(2))
      assert(lens.zip(lens.tail).forall { case (a, b) => a >= b },
        s"$src: selection must be longest-first")
    }
  }

  test("PPS sample of a table with no weight samples nothing") {
    // the weight total is a plan literal: 0 must not reach `div`
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    for ((name, rows) <- Seq("empty" -> docs.limit(0),
        "zero" -> docs.withColumn("n_chars", col("n_chars") * 0))) {
      val dir = java.nio.file.Files.createTempDirectory(s"pps_$name").toFile
      try {
        rows.write.parquet(s"$dir/documents.parquet")
        assert(graft.operators.Curation.ppsSample(spark, dir.toString)
          .count() == 0L, name)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
  }
}
