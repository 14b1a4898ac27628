package graft.tools

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Generator for `docs/OPERATORS.md`: the qNN → operator → file:line
  * index, derived mechanically from [[graft.SparkEntry.queries]] and a
  * scan of the source tree — so unlike the README's prose list it
  * cannot drift as the query set grows ([[Docs]] refreshes it;
  * OperatorIndexSpec asserts every queries-map key appears).
  *
  * Anchors are the source lines that MENTION the query id (scaladoc
  * convention throughout `ops/`: each operator cites the gate queries
  * it backs, e.g. "(q38 + q71 twin)") — the implementation homes a
  * reader wants; a query whose whole body lives in SparkEntry falls
  * back to its registration line there.
  */
object OperatorIndex {

  private val QKey = "^(q\\d+)_(.*)$".r

  /** All .scala files under `root`, stable order. The walk stream is
    * closed explicitly — iterator-draining alone leaks the OS
    * directory handles until GC. */
  private def sources(root: Path): Seq[Path] = {
    val stream = Files.walk(root)
    try stream.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .toSeq.sortBy(_.toString)
    finally stream.close()
  }

  /** Only operator-package files count as implementation homes: a
    * qNN mention in the harness mains (Bench, Verify, …) or in this
    * generator's own scaladoc is commentary, not a home — anchoring
    * there sends readers to unrelated comments. */
  private def isImplSource(root: Path, p: Path): Boolean = {
    val rel = root.relativize(p).toString
    rel.contains("/") && !rel.startsWith("tools/")
  }

  /** (file, line) anchors per qNN id: word-bounded mentions in source
    * comments/code. Implementation-home anchors (the ops scaladoc
    * citation convention) are preferred; when an operator's whole body
    * lives in SparkEntry, its registration line (`"qNN_slug" ->`) is
    * the fallback anchor — so every query resolves somewhere. */
  private[graft] def anchors(root: Path, ids: Seq[String])
      : Map[String, Seq[String]] = {
    val wanted = ids.toSet
    val rx = "\\bq(\\d+)\\b".r
    val impl = scala.collection.mutable.Map.empty[String, Vector[String]]
    val reg = scala.collection.mutable.Map.empty[String, Vector[String]]
    val regRx = "\"q(\\d+)_".r // the `"qNN_slug" ->` registration key
    for {
      p <- sources(root)
      isEntry = p.getFileName.toString.equals("SparkEntry.scala")
      if isEntry || isImplSource(root, p)
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      m <- (if (isEntry) regRx else rx).findAllMatchIn(line)
      id = s"q${m.group(1)}"
      if wanted(id)
    } {
      val rel = root.relativize(p).toString
      val tgt = if (isEntry) reg else impl
      tgt(id) = tgt.getOrElse(id, Vector.empty) :+ s"$rel:${i + 1}"
    }
    wanted.iterator.map { id =>
      id -> impl.getOrElse(id, reg.getOrElse(id, Vector.empty).take(1))
    }.toMap
  }

  /** The markdown document. `queries` and `oracles` are passed in so
    * the spec can call this pure part directly. */
  private[graft] def render(queryKeys: Seq[String], oracleKeys: Set[String],
      anchorsOf: Map[String, Seq[String]]): String = {
    val rows = queryKeys.sorted.map { key =>
      val (id, slug) = key match {
        case QKey(q, rest) => (q, rest)
        case other => (other, other)
      }
      // full list, no "(+N more)" truncation (r15 verdict polish): an
      // index row must be one-lookup useful, and the hidden anchors
      // were exactly the multi-home operators a reader needs most
      val anch = anchorsOf.getOrElse(id, Nil)
      val shown = anch.mkString("; ")
      val oracle = if (oracleKeys(key)) "DuckDB hash" else "rows-only"
      s"| `$key` | ${slug.replace('_', ' ')} | $oracle | $shown |"
    }
    // rows are concatenated OUTSIDE the stripMargin block: each row
    // starts with '|', which stripMargin would eat as a margin char
    "# Operator index\n" +
    s"""#
       #GENERATED — do not edit. Regenerate with
       #`sbt "runMain graft.tools.Docs"`. One row per
       #correctness-gate query in `SparkEntry.queries`; anchors are the
       #implementation-home source lines citing the query id (the ops
       #scaladoc convention), falling back to the SparkEntry
       #registration line when the whole body lives there.
       #
       #| query | operator | oracle | anchors (src/main/scala) |
       #|---|---|---|---|
       #""".stripMargin('#') +
      rows.mkString("\n") +
      s"\n\n${queryKeys.size} queries; ${oracleKeys.size} with DuckDB oracles.\n"
  }

  def generate(repoRoot: String = "."): String = {
    val keys = graft.SparkEntry.queries.keys.toSeq
    val ids = keys.collect { case QKey(q, _) => q }
    val root = Paths.get(repoRoot, "src", "main", "scala", "graft")
    render(keys, graft.SparkEntry.oracleSql.keySet, anchors(root, ids))
  }
}
