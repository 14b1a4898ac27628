package graft.tools

import java.nio.file.{Files, Paths}

/** Regenerates both committed, drift-guarded docs in one run —
  * `docs/OPERATORS.md` ([[OperatorIndex]]) and `docs/PLANSHAPES.md`
  * ([[PlanShapes]]) — so a change that moves code cannot refresh one
  * and leave the other stale. Run from the repo root:
  * `sbt "runMain graft.tools.Docs"`. */
object Docs {
  def main(args: Array[String]): Unit = {
    write("docs/OPERATORS.md", OperatorIndex.generate())
    val spark = PlanShapes.session()
    try write("docs/PLANSHAPES.md",
      PlanShapes.render(PlanShapes.snapshot(spark)))
    finally spark.stop()
  }

  private def write(path: String, text: String): Unit = {
    val out = Paths.get(path)
    Files.writeString(out, text)
    println(s"wrote ${out.toAbsolutePath}")
  }
}
