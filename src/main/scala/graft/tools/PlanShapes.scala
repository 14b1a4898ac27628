package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

/** Generator for `docs/PLANSHAPES.md`: one physical-plan SKELETON per
  * correctness-gate query — the exec-node tree with expression ids,
  * literals and partition counts stripped — plus a stable hash per
  * query, committed and drift-guarded by PlanShapeSnapshotSpec (the
  * OperatorIndexSpec / MemoStabilitySpec contract).
  *
  * Why (r15 verdict task 4): the r15 unhinting changed 56 queries'
  * plans relying on AQE/stats to keep the same join strategy at test
  * scale — that held, but nothing guarded the NEXT Spark upgrade or a
  * stats change from silently flipping a join strategy (broadcast →
  * shuffle, hash → sort-merge) across the gate surface. With the
  * skeletons committed, any strategy flip fails CI until the snapshot
  * is consciously regenerated in the same commit — the ack mechanism
  * IS the regen.
  *
  * What the skeleton keeps (the planning decisions worth guarding):
  * node class, join type for joins, grouping-key NAMES for aggregates,
  * partitioning-key names for shuffles, the table file for parquet
  * scans. What it drops (noise that varies without meaning): expr ids,
  * literals, partition counts, WholeStageCodegen stage ids (codegen
  * wrappers and InputAdapters are elided entirely — fusion boundaries
  * shift with Spark minor versions without a strategy change).
  *
  * Determinism: snapshots are taken on the STATICALLY planned tree
  * (AQE off for the one planning call, as every sweep in
  * ScaleInvariantsSpec does) at the tests' SF with the tests' session
  * config — [[session]] builds it the way TestSpark does, so the
  * generator main and the drift spec plan identically. Memoized-index
  * scans appear as `MemoScan` leaves (their build plans are swept by
  * ScaleInvariantsSpec's own rules); cut() tables as `CutScan`.
  */
object PlanShapes {

  /** The test session's config — the same `GraftSession.builder` call
    * as TestSpark (SparkTestBase.scala): the snapshot is only stable if
    * the generator and the spec plan under the same config. */
  def session(): SparkSession = {
    val s = graft.GraftSession.builder("local[4]", 4)
      .appName("graft-planshapes")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The SF the tests run at — plan STRATEGIES at this scale are what
    * the committed snapshot pins. */
  val SfDir = "/root/testdata/sf0.001"

  private def aggLabel(p: SparkPlan, keys: Seq[
      org.apache.spark.sql.catalyst.expressions.Expression]): String =
    // SORTED names: grouping/partitioning keys are a SET physically
    // (hash of the tuple), and Catalyst emits them in nondeterministic
    // order across runs (observed: doc_id,pos,cp,gid vs
    // doc_id,cp,pos,gid on identical code) — order must not drift the
    // snapshot
    p.nodeName + keys.map {
      case ar: org.apache.spark.sql.catalyst.expressions
          .AttributeReference => ar.name
      case e => e.prettyName
    }.sorted.mkString("[", ",", "]")

  /** One node's label: class plus its planning-decision payload. */
  private def label(p: SparkPlan): String = p match {
    case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
      s"${j.nodeName}[${j.joinType}]"
    case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
      // partial/final both appear; the MODE is part of the shape (a
      // lost partial agg = a lost map-side combine), nodeName keeps it
      aggLabel(a, a.groupingExpressions)
    case e: Exchange =>
      val keys = e.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical
            .HashPartitioning => h.expressions.map {
          case ar: org.apache.spark.sql.catalyst.expressions
              .AttributeReference => ar.name
          case x => x.prettyName
        }.sorted // key-order nondeterminism, same as aggLabel
        case p => Seq(p.getClass.getSimpleName)
      }
      s"${e.nodeName}[${keys.mkString(",")}]"
    case f: FileSourceScanExec =>
      val t = f.relation.location.rootPaths.headOption
        .map(_.getName).getOrElse("fs")
      s"Scan[$t]"
    case _: org.apache.spark.sql.execution.columnar
        .InMemoryTableScanExec => "MemoScan"
    case r: RDDScanExec =>
      if (graft.GraftSession.cutOrigin(r.rdd.id).isDefined) "CutScan"
      else "RDDScan"
    case o => o.nodeName
  }

  /** Compact nested skeleton, codegen plumbing elided. */
  private[graft] def skeleton(p: SparkPlan): String = p match {
    case w: WholeStageCodegenExec => skeleton(w.child)
    case i: InputAdapter => skeleton(i.child)
    case r: ReusedExchangeExec => "ReusedExchange"
    case _ =>
      val kids = p.children.map(skeleton)
      if (kids.isEmpty) label(p)
      else label(p) + kids.mkString("(", ",", ")")
  }

  private def hash12(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString

  /** (query key -> (hash, skeleton)) over the full gate surface,
    * statically planned. The memoized indexes are CLEARED first and
    * rebuilt inside the same AQE-off window: an InMemoryRelation
    * remembers the outputPartitioning of the plan that BUILT it, so an
    * index built under AQE reports UnknownPartitioning and re-adds
    * exchanges above every MemoScan — the skeleton would then depend
    * on which suite happened to build the index first, not on the
    * code. */
  private[graft] def snapshot(spark: SparkSession)
      : Seq[(String, String, String)] = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    graft.ops.IndexMemo.clear()
    try graft.SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, fn) =>
        val sk = skeleton(fn(spark, SfDir).queryExecution.executedPlan)
        (name, hash12(sk), sk)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  private[graft] def render(rows: Seq[(String, String, String)]): String =
    "# Physical plan skeletons\n" +
    s"""#
       #GENERATED — do not edit. Regenerate with
       #`sbt "runMain graft.tools.Docs"` IN THE SAME COMMIT as a
       #plan-affecting change: PlanShapeSnapshotSpec fails CI on any
       #un-acked drift. One skeleton per gate query, statically planned
       #(AQE off) at ${SfDir} under the test session config; expression
       #ids, literals, partition counts and codegen wrappers stripped.
       #A hash change here means a physical STRATEGY changed — review
       #the skeleton diff before committing it.
       #""".stripMargin('#') +
      rows.map { case (name, h, sk) =>
        s"\n## $name `$h`\n\n    $sk\n"
      }.mkString +
      s"\n${rows.size} queries.\n"
}
