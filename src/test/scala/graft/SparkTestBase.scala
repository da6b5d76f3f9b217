package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite, configured like the driver harness
  * (UTC, ANSI default on, nanos-as-long for the events table).
  */
trait SparkTestBase extends AnyFunSuite {
  val Sf: String = "/root/testdata/sf0.001"
  /** documents/embeddings differ per sf dir; data-dependent assertions on
    * them use the driver's correctness scale factor. */
  val SfOracle: String = "/root/testdata/sf0.01"

  lazy val spark: SparkSession = Session.local(4)

  def run(name: String, sf: String = Sf): org.apache.spark.sql.DataFrame =
    SparkEntry.queries(name)(spark, sf)

  /** All messages down the cause chain, concatenated (cycle-guarded) —
    * the one walker the conflict/constraint specs share instead of
    * per-test copies (review r20). */
  def causeMessages(x: Throwable): String = {
    var c: Throwable = x
    val sb = new StringBuilder
    var seen = List.empty[Throwable]
    while (c != null && !seen.exists(_ eq c)) {
      sb.append(Option(c.getMessage).getOrElse("")).append('\n')
      seen ::= c
      c = c.getCause
    }
    sb.toString
  }
}
