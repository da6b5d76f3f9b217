package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named engine capability.
  *
  * `fn` builds a lazy Spark plan over the harness parquet tables in `sfDir`
  * (TESTDATA.md); `oracle` is equivalent ANSI SQL the driver runs in DuckDB
  * over the same tables (omitted for ops DuckDB can't express — engine-hash
  * based LSH signatures, streaming, approx sketches — which get a weaker
  * rows-only check per the driver contract).
  *
  * One exception to lazy: a query built on [[GlobalOrder]]
  * (`curation_pps_sample`) runs its sort and count jobs when `fn` is
  * called, and its plan carries the totals as literals.
  *
  * Determinism rules (SURVEY.md §7.4): no current_date(); every double
  * aggregation routes through DECIMAL (exact, order-independent) and is cast
  * back to DOUBLE at the end so Spark and DuckDB agree bitwise; every LIMIT
  * sits under a total order with a unique-key tiebreak.
  */
final case class Query(
    name: String,
    doc: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Query {
  /** Fixed snapshot date standing in for the reference's `date.today()`
    * (app.py:57,84,101) — parameterized as a literal for oracle determinism. */
  val SnapshotDate = "2026-08-12"
}
