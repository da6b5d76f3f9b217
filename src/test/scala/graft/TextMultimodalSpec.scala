package graft

import org.apache.spark.sql.functions._

import graft.functions.RollingHash
import graft.operators.{MediaRecord, StubDecoder}

class TextMultimodalSpec extends SparkTestBase {

  test("RollingHash matches a hand-computed fold (and the oracle's list_reduce)") {
    import spark.implicits._
    // "abc": acc = 97; (97*31+98) % (2^31-1) = 3105; (3105*31+99) = 96354
    val got = Seq("abc").toDF("s")
      .select(RollingHash(col("s")).as("h")).head().getLong(0)
    assert(got == 96354L)
  }

  test("extensions register the native expressions for SQL use") {
    val h = spark.sql("SELECT rolling_hash('abc') AS h").head().getLong(0)
    assert(h == 96354L)
    val d = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head().getDouble(0)
    assert(d == 11.0)
  }

  test("RollingHash interpreted and codegen paths agree") {
    val df = spark.read.parquet(s"$Sf/documents.parquet").select(col("text"))
    val viaPlan = df.select(RollingHash(col("text")).as("h"))
      .collect().map(_.getLong(0))
    val viaEval = df.collect().map { r =>
      val bytes = r.getString(0).getBytes("UTF-8")
      var acc = if (bytes.nonEmpty) (bytes(0) & 0xff).toLong else 0L
      bytes.drop(1).foreach(b => acc = (acc * 31 + (b & 0xff)) % RollingHash.Mod)
      acc
    }
    assert(viaPlan.sameElements(viaEval))
  }

  test("text stats are internally consistent") {
    val bad = run("text_stats_quality")
      .filter(col("n_distinct") > col("n_tokens")
        || col("n_stopwords") > col("n_tokens")
        || col("stopword_ratio") < 0 || col("stopword_ratio") > 1
        || col("quality_score") < 0 || col("quality_score") > 1)
      .count()
    assert(bad == 0)
  }

  test("bigram surprisal is a non-negative integer sum with a sane mean") {
    // bitlen(n_prefix) >= bitlen(n_pair) because n_prefix >= n_pair, so
    // every per-occurrence surprisal — and hence each doc's sum and mean —
    // must be >= 0; the mean can never exceed the largest per-occurrence
    // value, which is bounded by the corpus bigram total's bit length (63)
    val bad = run("text_bigram_surprisal", SfOracle)
      .filter(col("sum_surprisal") < 0 || col("n_bigrams") < 1
        || col("avg_surprisal") < 0 || col("avg_surprisal") > 63)
      .count()
    assert(bad == 0)
    val rows = run("text_bigram_surprisal", SfOracle).collect()
      .map(_.getAs[Double]("avg_surprisal"))
    assert(rows.zip(rows.tail).forall { case (a, b) => a >= b },
      "output must rank most-surprising documents first")
  }

  test("BPE training learns the corpus's true argmax pair, monotonically") {
    val rows = run("text_bpe_train", SfOracle).collect()
    assert(rows.length == 5)
    val counts = rows.sortBy(_.getAs[Long]("round")).map(_.getAs[Long]("pair_count"))
    assert(counts.forall(_ > 0))
    // the max pair count can only fall round-over-round: merging the argmax
    // pair caps every newly-created pair at the merged pair's own count
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b },
      s"pair counts must be non-increasing: ${counts.mkString(",")}")
    // independent recomputation of round 1: the most frequent adjacent
    // character pair over the word-frequency dictionary
    val docs = spark.read.parquet(s"$SfOracle/documents.parquet")
    val top = docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count()
      .select(col("count"), split(col("w"), "").as("cs"))
      .filter(size(col("cs")) >= 2)
      .select(col("count"), explode(transform(
        sequence(lit(1), size(col("cs")) - 1),
        i => struct(element_at(col("cs"), i).as("l"),
          element_at(col("cs"), i + 1).as("r")))).as("p"))
      .groupBy(col("p.l"), col("p.r")).agg(sum("count").as("n"))
      .orderBy(col("n").desc, col("l"), col("r")).limit(1).collect()(0)
    val r1 = rows.find(_.getAs[Long]("round") == 1L).get
    assert(r1.getAs[String]("lhs") == top.getAs[String]("l")
      && r1.getAs[String]("rhs") == top.getAs[String]("r")
      && r1.getAs[Long]("pair_count") == top.getAs[Long]("n"),
      s"round-1 merge ${r1} must equal the independently-computed argmax $top")
  }

  test("drift monitor scores are non-negative, descending, and well-formed") {
    val rows = run("text_drift_monitor", SfOracle).collect()
    assert(rows.length == 20)
    val scores = rows.map(_.getAs[Double]("drift_score"))
    assert(scores.forall(_ >= 0) &&
      scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // a token only enters the counts table by occurring in one slice
    assert(rows.forall(r =>
      r.getAs[Long]("n_ref") + r.getAs[Long]("n_cur") > 0))
  }

  test("vocab growth buckets close over the corpus totals") {
    val rows = run("text_vocab_growth", SfOracle).collect()
    assert(rows.map(_.getAs[Long]("bucket")).toSeq == (0L until 10L))
    val docs = graft.sources.Tables(spark, SfOracle, "documents")
    val toks = docs.select(explode(split(col("text"), " ")).as("t"))
    val total = toks.count()
    val vocab = toks.distinct().count()
    assert(rows.map(_.getAs[Long]("toks")).sum == total)
    assert(rows.map(_.getAs[Long]("new_types")).sum == vocab,
      "every type is new in exactly one bucket")
    assert(rows.last.getAs[Long]("cum_tokens") == total)
    assert(rows.last.getAs[Long]("vocab_size") == vocab)
    val cum = rows.map(_.getAs[Long]("cum_tokens"))
    assert(cum.zip(cum.tail).forall { case (a, b) => a < b })
  }

  test("word-salad corpus: BPE-ish token count equals whitespace count") {
    // the harness documents are lowercase letter runs + single spaces, so
    // the regex tokenizer must agree exactly with the whitespace split
    val bad = run("text_token_count")
      .filter(col("n_bpe_tokens") =!= col("n_ws_tokens")).count()
    assert(bad == 0)
  }

  test("StubDecoder is deterministic and exact on a known payload") {
    val payload = Array.tabulate(130)(i => (i % 251).toByte) // 3 frames: 64+64+2
    val f = new StubDecoder(64).decode(MediaRecord(7L, payload))
    assert(f.doc_id == 7L && f.n_bytes == 130 && f.n_frames == 3)
    val m1 = (0 until 64).map(_ % 251).sum / 64.0
    val m2 = (64 until 128).map(_ % 251).sum / 64.0
    val m3 = (128 until 130).map(_ % 251).sum / 2.0
    assert(math.abs(f.feat_norm
      - math.sqrt(m1 * m1 + m2 * m2 + m3 * m3)) < 1e-12)
  }

  test("mm_frame_sample keeps every 4th frame") {
    val meta = run("mm_binary_meta").select(col("doc_id"), col("n_frames"))
    val sampled = run("mm_frame_sample")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_sampled"))
    val bad = meta.join(sampled, "doc_id")
      .filter(col("n_sampled") =!= ceil(col("n_frames") / 4.0).cast("long"))
      .count()
    assert(bad == 0)
  }

  test("mm_binary_file_source ingests every staged file with key-derived id") {
    val df = run("mm_binary_file_source").cache()
    assert(df.count() == 100, "one row per staged .bin file")
    assert(df.select("doc_id").collect().map(_.getLong(0)).toSeq ==
      (0L until 100L), "identity comes from the file key")
    // payload fingerprints must equal the parquet-side text fingerprints
    val meta = run("mm_binary_meta").filter(col("doc_id") < 100)
      .select(col("doc_id"), col("content_md5"))
    assert(df.select("doc_id", "content_md5").collect().toSeq ==
      meta.collect().toSeq, "file bytes must match the column payload")
    df.unpersist()
  }

  test("quality filter keeps a strict non-empty subset with passing metrics") {
    val kept = run("text_quality_filter", SfOracle).cache()
    val total = spark.read.parquet(s"$SfOracle/documents.parquet").count()
    assert(kept.count() > 0 && kept.count() < total,
      "thresholds must be selective but not empty")
    assert(kept.filter(col("n_tokens") < 30 || col("n_tokens") > 80
      || col("stopword_ratio") < 0.01 || col("ttr") < 0.4).count() == 0)
    kept.unpersist()
  }

  test("redaction counts match the entity occurrences and change the text") {
    val df = run("text_redact", SfOracle).cache()
    // redacted text differs from the original exactly when n_redacted > 0
    val orig = spark.read.parquet(s"$SfOracle/documents.parquet")
      .select(col("doc_id"), md5(col("text")).as("orig_md5"))
    val mismatch = df.join(orig, "doc_id")
      .filter((col("n_redacted") > 0) === (col("redacted_md5") === col("orig_md5")))
      .count()
    assert(mismatch == 0)
    assert(df.filter(col("n_redacted") > 0).count() > 0,
      "the corpus contains entity words; some docs must be redacted")
    df.unpersist()
  }

  test("streaming tumbling result equals the batch tumbling result") {
    val batch = run("win_time_tumbling").collect().map(_.toString).sorted
    val stream = run("stream_tumbling_counts").collect().map(_.toString).sorted
    assert(stream.sameElements(batch),
      "AvailableNow streaming over the same files must equal batch")
  }

  test("tf-idf ranks 3 terms per doc, score-descending, score consistent") {
    val rows = run("text_tfidf_topterms", SfOracle).collect()
    val byDoc = rows.groupBy(_.getLong(0))
    assert(byDoc.size == 500 && rows.length == 1500)
    byDoc.values.foreach { rs =>
      val ranked = rs.sortBy(_.getLong(1))
      assert(ranked.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L))
      val scores = ranked.map(_.getDouble(5))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      ranked.foreach(r => assert(
        r.getDouble(5) == r.getLong(3).toDouble * (500.0 / r.getLong(4))))
    }
  }

  test("batched embedding is batch-size invariant (the reproducibility contract)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.BinaryType
    val records = graft.sources.Tables(spark, SfOracle, "documents")
      .select(col("doc_id"), col("text").cast(BinaryType).as("payload"))
      .as[graft.operators.MediaRecord]
    def embedWith(batch: Int): Map[Long, Seq[Long]] = records
      .repartition(3)
      .mapPartitions { iter =>
        val model = new graft.operators.StubBatchEmbedder(8)
        iter.grouped(batch).flatMap(model.embedBatch)
      }
      .collect().map { case (id, v) => id -> v.toSeq }.toMap
    // results must not depend on how rows were grouped into model calls —
    // otherwise repartitioning (which changes batch boundaries) would
    // change the lake's embeddings
    assert(embedWith(32) == embedWith(7))
  }

  test("repetition signals are internally consistent per document") {
    val rows = run("text_repetition", SfOracle).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val (nTok, nDist) = (r.getLong(1), r.getLong(2))
      val (topBg, nBg) = (r.getLong(3), r.getLong(4))
      assert(nBg == nTok - 1, "bigram slots = token slots - 1")
      assert(nDist >= 1 && nDist <= nTok)
      assert(topBg >= 1 && topBg <= nBg)
      val flagged = r.getBoolean(5)
      assert(flagged == (topBg * 4 >= nBg || nDist * 2 <= nTok),
        "flag must follow its definition")
    }
  }
}
