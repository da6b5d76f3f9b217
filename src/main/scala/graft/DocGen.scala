package graft

import java.nio.file.{Files, Paths}

/** Regenerates QUERIES.md from the Query registrations (dev tool — run
  * `sbt "runMain graft.DocGen"` after adding a query so the catalog can
  * never drift from the registry).
  */
object DocGen {
  def main(args: Array[String]): Unit = {
    val rows = SparkEntry.families
      .flatMap { case (m, qs) => qs.map(q => (q.name, m, q)) }
      .sortBy(_._1)
      .map { case (name, m, q) =>
        val oracle = if (q.oracle.isDefined) "yes" else "spec"
        s"| `$name` | $m | $oracle | ${q.doc} |"
      }
    val total = rows.size
    val gated = SparkEntry.families.flatMap(_._2).count(_.oracle.isDefined)
    // NOTE: the rows start with the markdown table pipe, which stripMargin
    // would eat — keep them out of the margin-stripped literal
    val gatedClause =
      if (gated == total)
        "every one of them\nDuckDB-oracle-gated (approx/LSH/engine-hash ops gate through exact\nlegs with error/recall bands)"
      else
        s"$gated of them\nDuckDB-oracle-gated (the rest are approx/LSH/engine-hash ops the driver\ncontract exempts, each spec-bounded instead)"
    val header =
      s"""# Query catalog
         |
         |All $total registry queries (`graft.SparkEntry.queries`), $gatedClause. Generated by
         |`sbt "runMain graft.DocGen"` from the `Query` registrations; SURVEY.md
         |§7.3 carries the design row for every entry and ARCHITECTURE.md the
         |plan-shape notes.
         |
         || query | module | oracle | what |
         || --- | --- | --- | --- |
         |""".stripMargin
    val md = header + rows.mkString("\n") + "\n"
    Files.writeString(Paths.get("QUERIES.md"), md)
    println(s"QUERIES.md: $total queries, $gated oracle-gated")
  }
}
