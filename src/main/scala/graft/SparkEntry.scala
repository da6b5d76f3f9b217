package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract (SURVEY.md §7): one named query per engine capability,
  * with DuckDB-oracle SQL where SQL-expressible. The registry is the
  * engine's public surface; the modules under graft.operators own the
  * implementations and their 100 TB scale notes.
  */
object SparkEntry {

  /** The registry by module, in registry order. */
  val families: Seq[(String, Seq[Query])] = Seq(
    "RefParity" -> RefParity.queries,
    "RefPipeline" -> RefPipeline.queries,
    "Lakehouse" -> Lakehouse.queries,
    "Relational" -> Relational.queries,
    "TimeWindows" -> TimeWindows.queries,
    "Dedup" -> Dedup.queries,
    "Similarity" -> Similarity.queries,
    "TextAnalysis" -> TextAnalysis.queries,
    "Curation" -> Curation.queries,
    "Multimodal" -> Multimodal.queries,
    "Graph" -> Graph.queries,
    "StreamingOps" -> graft.streaming.StreamingOps.queries)

  private[graft] val registry: Seq[Query] = families.flatMap(_._2)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RefParity.starEnrich(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 / §7.3. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
