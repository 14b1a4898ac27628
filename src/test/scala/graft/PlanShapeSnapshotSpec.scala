package graft

import graft.tools.PlanShapes

/** Drift guard for the committed physical-plan skeletons (r15 verdict
  * task 4): a Spark upgrade, stats change or refactor that silently
  * flips a join strategy / loses a partial aggregate / changes a scan
  * anywhere on the gate surface fails here until docs/PLANSHAPES.md is
  * consciously regenerated in the same commit. Same contract as
  * OperatorIndexSpec's committed-file check. */
class PlanShapeSnapshotSpec extends SparkTestBase {

  test("the COMMITTED docs/PLANSHAPES.md matches a fresh regeneration") {
    val rows = PlanShapes.snapshot(spark)
    val fresh = PlanShapes.render(rows)
    val committed = java.nio.file.Files.readString(
      java.nio.file.Paths.get("docs/PLANSHAPES.md"))
    if (committed != fresh) {
      // name the drifted queries so the failure is actionable without
      // a manual file diff
      val HashRow = "## (\\S+) `([0-9a-f]+)`".r
      val old = HashRow.findAllMatchIn(committed)
        .map(m => m.group(1) -> m.group(2)).toMap
      // committed skeleton bodies, for the first-diff printout below
      val SkelRow = "## (\\S+) `[0-9a-f]+`\\n\\n    ([^\\n]*)".r
      val oldSkel = SkelRow.findAllMatchIn(committed)
        .map(m => m.group(1) -> m.group(2)).toMap
      val changed = rows.collect {
        case (n, h, _) if !old.get(n).contains(h) => n
      }
      val dropped = old.keySet -- rows.map(_._1).toSet
      val firstDiff = rows.collectFirst {
        case (n, h, sk) if !old.get(n).contains(h) =>
          s"\nfirst diff ($n):\n  committed: " +
            s"${oldSkel.getOrElse(n, "<absent>")}\n  fresh:     $sk"
      }.getOrElse("")
      fail("physical plan skeletons drifted — review the strategy " +
        "change, then regenerate with `sbt \"runMain " +
        "graft.tools.Docs\"` and commit the diff. Changed: " +
        s"${changed.mkString(", ")}" +
        (if (dropped.nonEmpty) s"; dropped: ${dropped.mkString(", ")}"
        else "") + firstDiff)
    }
  }
}
