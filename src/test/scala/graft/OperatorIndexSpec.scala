package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.OperatorIndex

/** The generated operator index cannot drift: every queries-map key
  * must appear, oracle status must mirror oracleSql, and the ops
  * scaladoc convention (each operator cites its gate queries) must
  * keep yielding at least one source anchor for the vast majority of
  * queries. Pure — no SparkSession. */
class OperatorIndexSpec extends AnyFunSuite {

  private lazy val doc = OperatorIndex.generate()

  test("every SparkEntry.queries key appears in the generated index") {
    val missing = SparkEntry.queries.keys.filterNot(k =>
      doc.contains(s"| `$k` |"))
    assert(missing.isEmpty, s"index is missing: ${missing.mkString(", ")}")
  }

  test("oracle column mirrors oracleSql membership") {
    for (k <- SparkEntry.queries.keys) {
      val row = doc.linesIterator.find(_.contains(s"| `$k` |")).get
      if (SparkEntry.oracleSql.contains(k))
        assert(row.contains("DuckDB hash"), s"$k should be oracled")
      else assert(row.contains("rows-only"), s"$k should be rows-only")
    }
  }

  test("every query carries a source anchor (impl home or SparkEntry " +
      "registration)") {
    val rows = doc.linesIterator.filter(_.startsWith("| `q")).toSeq
    assert(rows.nonEmpty)
    val unanchored = rows.filterNot(_.contains(".scala:"))
    assert(unanchored.isEmpty,
      s"no anchor for: ${unanchored.take(5).mkString(" / ")}")
  }

  test("the COMMITTED docs/OPERATORS.md matches a fresh regeneration") {
    // without this, the committed artifact can silently drift from
    // the source it anchors (a code edit moves a cited line, the
    // in-memory checks above stay green, and the index points at the
    // wrong lines) — the README's "cannot drift" claim is only true
    // if CI compares the file itself
    val committed = java.nio.file.Files.readString(
      java.nio.file.Paths.get("docs/OPERATORS.md"))
    assert(committed == doc,
      "docs/OPERATORS.md is stale — run " +
        "`sbt \"runMain graft.tools.Docs\"` and commit it")
  }
}
