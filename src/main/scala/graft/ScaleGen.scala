package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.FloatType

/** Dev tool: derive an N× scale dataset from a harness sfDir for empirical
  * scaling measurements (`sbt "runMain graft.ScaleGen <src> <dest> <N>"`).
  *
  * Construction rules (the point is honest exponents, not just more
  * bytes): each replica k shifts every join key by k·(max+1) so FK
  * integrity and join fan-out per key are preserved, and DATA-DEPENDENT
  * density is kept constant —
  *  - `documents.text` is Caesar-rotated per replica (letters only, word
  *    shape intact), so shingle/MinHash/SimHash duplicate structure
  *    repeats within each replica but never collides across replicas: a
  *    near-dup workload whose pair count scales ×N, not ×N².
  *  - `embeddings.embedding` gets a per-replica epsilon on component 0,
  *    so ANN bucket geometry is preserved but exact ties break.
  * Everything else (dims, events) is copied through once — they are
  * lookup sides, and the queries under measurement scale with facts.
  */
object ScaleGen {

  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Upper = Lower.toUpperCase

  def main(args: Array[String]): Unit = {
    val Array(src, dest, factorS) = args.take(3)
    val factor = factorS.toInt
    val spark = Session.local(Session.cpus(32), shufflePartitions = 32)

    def table(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$dest/$name.parquet")

    // lookup-side tables: copied through once
    for (t <- Seq("region", "nation", "supplier", "part"))
      write(table(t), t, 1)

    def replicate(name: String, parts: Int)(
        transform: (DataFrame, Int) => DataFrame): Unit = {
      val base = table(name)
      val out = (0 until factor).map(k => transform(base, k))
        .reduce(_.unionByName(_))
      write(out, name, parts)
    }

    def shifted(df: DataFrame, key: String, k: Int, stride: Long) =
      df.withColumn(key, col(key) + lit(k * stride))

    val custStride = table("customer").agg(max("c_custkey")).head.getLong(0) + 1
    val orderStride = table("orders").agg(max("o_orderkey")).head.getLong(0) + 1
    val docStride = table("documents").agg(max("doc_id")).head.getLong(0) + 1
    val vecStride = table("embeddings").agg(max("vec_id")).head.getLong(0) + 1

    replicate("customer", 4) { (df, k) => shifted(df, "c_custkey", k, custStride) }
    replicate("orders", 8) { (df, k) =>
      shifted(shifted(df, "o_orderkey", k, orderStride),
        "o_custkey", k, custStride)
    }
    replicate("lineitem", 16) { (df, k) =>
      shifted(df, "l_orderkey", k, orderStride)
    }
    replicate("documents", 4) { (df, k) =>
      val rot = k % 26
      val shiftedAlphabet =
        Lower.drop(rot) + Lower.take(rot) + Upper.drop(rot) + Upper.take(rot)
      shifted(df, "doc_id", k, docStride)
        .withColumn("text", translate(col("text"), Lower + Upper,
          shiftedAlphabet))
    }
    replicate("embeddings", 4) { (df, k) =>
      shifted(df, "vec_id", k, vecStride)
        .withColumn("embedding", transform_keys_epsilon(k))
    }

    // events: replicated along the TIME axis — replica k shifts ts by
    // k·(span + 1h) and ids by k·stride, so event-time density per
    // window, per-user session shape, and FK fan-in (user_id → the
    // replicated customer keys) all stay constant while the stream gets
    // N× LONGER. Time, not density, is the honest scale axis for
    // streaming operators: watermark-bounded state stays ∝ the in-flight
    // window while total processed volume grows ×N. (Copying events
    // through unchanged would make every streaming query
    // scale-INVARIANT — sf1 would drain the same stream as sf0.1.) The base
    // is ts-normalized first so the written lake carries NTZ micros
    // regardless of which raw type the installed jar yields.
    val evBase = graft.sources.Tables.normalizeEventTs(table("events"))
    val evStride = evBase.agg(max("event_id")).head.getLong(0) + 1
    val evBounds = evBase.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi")).head
    val spanSec = java.time.Duration.between(
      evBounds.getAs[java.time.LocalDateTime]("lo"),
      evBounds.getAs[java.time.LocalDateTime]("hi")).getSeconds + 3600
    val evOut = (0 until factor).map { k =>
      shifted(shifted(evBase, "event_id", k, evStride),
        "user_id", k, custStride)
        .withColumn("ts", col("ts") + expr(s"INTERVAL '${k * spanSec}' SECOND"))
    }.reduce(_.unionByName(_))
    write(evOut, "events", 8)
    println(s"SCALEGEN done: $dest at ${factor}x of $src")
    spark.stop()
  }

  /** component-0 epsilon: breaks exact ties across replicas without moving
    * any vector across a sign-LSH plane boundary in practice. */
  private def transform_keys_epsilon(k: Int) =
    transform(col("embedding"),
      (x, i) => when(i === 0, (x + lit(k * 1e-3f)).cast(FloatType))
        .otherwise(x))
}
