package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.expressions.filter.{Not, Predicate}
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** Examples of the file verdict ([[GraftLakeStats.outcomes]]). */
class LakeStatsSpec extends AnyFunSuite {

  test("NOT (k = 5) prunes a file of only 5s and NULLs, exactly") {
    // a NULL k makes k = 5 NULL and NOT (k = 5) NULL too; a 5 makes it
    // FALSE: no row can be TRUE, so the file is skipped and the
    // predicate is decided (no residual re-check)
    val c = new GraftLakeStats.Collector(Seq(1), Seq(LongType))
    Seq(5L, null, 5L, null).foreach(v =>
      c.add(new GenericInternalRow(Array[Any](v)): InternalRow))
    val f = c.file("f.parquet", 0L, Seq("k"), None, 0)
    val p = new Not(new Predicate("=",
      Array(Expressions.column("k"), Expressions.literal(5L))))
    val n2i = Map("k" -> 1)
    assert(GraftLakeStats.outcomes(f, p, n2i) ==
      (GraftLakeStats.False | GraftLakeStats.Unknown))
    assert(!GraftLakeStats.mayMatch(f, Seq(p), n2i))
    assert(GraftLakeStats.decides(f, p, n2i))
  }
}
