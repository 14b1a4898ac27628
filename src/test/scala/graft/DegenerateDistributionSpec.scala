package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.functions._

import graft.ops.{Curation, Profiling, TextOps}

/** The r14 verdict's degenerate-distribution hazard, closed: the
  * value-range subsplit devices (equi-depth histograms, tercile
  * cutoffs, scalableRank) bounded their per-task rows by VALUES PER
  * SUBSPLIT — a data-DEPENDENT bound that collapsed on a
  * near-constant column, where one subsplit re-concentrated the whole
  * table into a single sort task. The r15 rewrites make the bound
  * data-independent:
  *
  *  - histogram devices (equiDepthOf, groupedEquiDepth,
  *    sampledTercileCuts): rank windows run over the VALUE HISTOGRAM
  *    (per-task rows <= distinct values per subsplit, a constant of
  *    the value encoding; a constant column is a ONE-ROW histogram);
  *  - scalableRank (rows genuinely need individual ranks, e.g. RFM's
  *    per-customer quintiles): the row window partitions by
  *    (exact value, tie-key range), so a task holds <= tieStep rows
  *    by tie-key uniqueness NO MATTER how values distribute.
  *
  * This spec drives each device with adversarial constant-valued
  * inputs (exact-output checks — tie permutations must not move the
  * results) and sweeps the plans for the invariant itself: every
  * window either cumulates a value histogram or partitions by the
  * exact value column. The r14 row-rank forms fail the sweep (their
  * rank windows partitioned only by the value-RANGE subsplit over raw
  * rows).
  */
class DegenerateDistributionSpec extends SparkTestBase {
  import spark.implicits._

  /** Does this logical (pre-cut) plan produce a value histogram — an
    * Aggregate whose grouping includes `v` — modulo projections? */
  private def aggGroupsOn(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      v: String): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    p match {
      case a: Aggregate => a.groupingExpressions.exists(_.collectFirst {
        case ar: AttributeReference if ar.name == v => ar
      }.isDefined)
      case _: Project | _: Filter | _: SubqueryAlias =>
        aggGroupsOn(p.children.head, v)
      case _ => false
    }
  }

  /** The window's input is a histogram of `v` (its first sort
    * column): terminal aggregates must GROUP on v — merely being an
    * aggregate is not enough (a per-customer aggregate is still
    * corpus-scaled). cut() tables resolve through the
    * GraftSession.cutOrigin registry to their pre-cut plan. Broadcast
    * joins trace the streamed side (the build side multiplies rows
    * but is device-tiny — target subsplits, scalar totals); other
    * joins require both sides. */
  private def histogramFed(p: SparkPlan, v: String): Boolean = p match {
    case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
      a.groupingExpressions.exists(_.collectFirst {
        case ar: AttributeReference if ar.name == v => ar
      }.isDefined)
    case r: RDDScanExec =>
      GraftSession.cutOrigin(r.rdd.id).exists(aggGroupsOn(_, v))
    case r: ReusedExchangeExec => histogramFed(r.child, v)
    case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
      histogramFed(j.children(if (j.buildSide.toString == "BuildRight") 0
      else 1), v)
    case j: org.apache.spark.sql.execution.joins
        .BroadcastNestedLoopJoinExec =>
      histogramFed(j.children(if (j.buildSide.toString == "BuildRight") 0
      else 1), v)
    case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
      j.children.forall(histogramFed(_, v))
    case _: SortExec | _: Exchange | _: ProjectExec | _: FilterExec |
        _: WholeStageCodegenExec | _: InputAdapter | _: CoalesceExec |
        _: org.apache.spark.sql.execution.window.WindowExec =>
      histogramFed(p.children.head, v)
    case _ => false
  }

  /** Sweep every window in the plan for the data-independent task
    * bound. A window passes iff
    *  - its input is a histogram of its own first sort column
    *    (<= distinct values per subsplit per task), or
    *  - its partition spec contains BOTH an exact value column (from
    *    `valueCols`, the device's declared rank metrics) and the
    *    `__sub2` tie-range key — scalableRank's (v, tie DIV tieStep)
    *    shape, <= tieStep rows per task by tie-key uniqueness.
    * The r14 forms — rank windows over raw rows partitioned only by
    * the value-RANGE subsplit — satisfy neither. */
  private def assertBoundedWindows(mk: () => DataFrame, label: String,
      valueCols: Set[String] = Set.empty): Unit = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = mk().queryExecution.executedPlan
      val windows = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty, s"$label: device windows expected")
      val offenders = windows.filterNot { w =>
        val orderCol = w.orderSpec.headOption.flatMap(_.child.collectFirst {
          case ar: AttributeReference => ar.name
        })
        val partNames = w.partitionSpec.collect {
          case ar: AttributeReference => ar.name
        }.toSet
        val tieRangeRank = partNames.exists(valueCols) &&
          partNames("__sub2")
        orderCol.exists(v => histogramFed(w.child, v)) || tieRangeRank
      }
      assert(offenders.isEmpty,
        s"$label: window without a data-independent task bound " +
          "(rank over raw rows partitioned only by a value-range " +
          "subsplit — the r14 degenerate-distribution hazard): " +
          offenders.map(w => s"partitionBy(${w.partitionSpec.mkString(",")})" +
            s" over ${w.child.getClass.getSimpleName}"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("equi-depth on a constant column: one-row histogram tiles " +
      "exactly, no row ever ranked") {
    // when(...) keeps the constant NON-FOLDABLE: a literal column
    // would be constant-folded out of grouping/partition specs by the
    // optimizer, which is not the production degenerate case (a DATA
    // column whose values happen to be constant)
    def mk() = Profiling.equiDepthOf(
      spark.range(0, 5000)
        .select(when(col("id") >= 0, 3.5).otherwise(0.0).as("p")), 10)
    val rows = mk().collect()
    assert(rows.length == 10)
    assert(rows.map(_.getLong(0)).toSeq == (0L to 9L))
    assert(rows.forall(r => r.getLong(1) == 500L &&
      r.getDouble(2) == 3.5 && r.getDouble(3) == 3.5))
    assertBoundedWindows(() => mk(), "equiDepthOf(const)")
  }

  test("equi-depth histogram device matches the rank definition " +
      "under heavy ties") {
    val vals = (1 to 137).map(i => ((i * 37) % 50) / 2.0)
    val out = Profiling.equiDepthOf(vals.toDF("p"), 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    val expected = vals.sorted.zipWithIndex
      .map { case (v, i) => ((i.toLong * 10) / 137, v) }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (b, g) =>
        (b, g.size.toLong, g.map(_._2).min, g.map(_._2).max) }
    assert(out.toSeq == expected)
  }

  test("tercile cuts: constant, bimodal, spread and empty samples") {
    def const() = Curation.sampledTercileCuts(
      Seq.fill(300)(2.0).toDF("mean_nll"))
    val r = const().collect()(0)
    assert(r.getDouble(0) == 2.0 && r.getDouble(1) == 2.0)
    assertBoundedWindows(() => const(), "tercileCuts(const)")
    // bimodal across two subsplits: m=90, ranks 30 -> 1.0, 60 -> 2.0
    val bi = Curation.sampledTercileCuts(
      (Seq.fill(45)(1.0) ++ Seq.fill(45)(2.0)).toDF("mean_nll"))
      .collect()(0)
    assert(bi.getDouble(0) == 1.0 && bi.getDouble(1) == 2.0)
    // spread: 90 distinct values 0.1..9.0 -> 3.0 and 6.0
    val sp = Curation.sampledTercileCuts(
      (1 to 90).map(_ / 10.0).toDF("mean_nll")).collect()(0)
    assert(sp.getDouble(0) == 3.0 && sp.getDouble(1) == 6.0)
    // empty sample: both cutoffs NULL (labeling sends docs to "tail")
    val e = Curation.sampledTercileCuts(
      Seq.empty[Double].toDF("mean_nll")).collect()(0)
    assert(e.isNullAt(0) && e.isNullAt(1))
  }

  test("scalableRank on a constant column: exact ranks from " +
      "tie-range tasks") {
    def mk() = Profiling.scalableRank(
      spark.range(1, 10001)
        .select(when(col("id") >= 0, 42L).otherwise(0L).as("v"),
          col("id").as("t")),
      "v", "t", 1L << 22, "rk", tieStep = 256)
    // all 10k rows share ONE value and ONE level-1 subsplit: the r14
    // form sorted them in one task; now 40 tie-range groups of 256.
    // Ranks must equal the (v, t) order position exactly.
    val got = mk().select(col("t"), col("rk")).as[(Long, Long)]
      .collect().toMap
    assert(got.size == 10000 && (1L to 10000L).forall(t => got(t) == t))
    assertBoundedWindows(() => mk(), "scalableRank(const)", Set("v"))
  }

  test("scalableRank interleaved values and ties match the brute " +
      "order, across tie-range splits") {
    val rows = Profiling.scalableRank(
      spark.range(0, 1000).select((col("id") % 7).as("v"),
        col("id").as("t")),
      "v", "t", 4L, "rk", tieStep = 64)
      .select(col("v"), col("t"), col("rk")).as[(Long, Long, Long)]
      .collect()
    val expected = rows.map(r => (r._1, r._2)).sortBy(identity)
      .zipWithIndex.map { case (k, i) => (k, i + 1L) }.toMap
    assert(rows.length == 1000)
    assert(rows.forall { case (v, t, rk) => expected((v, t)) == rk })
  }

  test("the production value-range devices carry the invariant") {
    val d = sf("")
    for ((label, mk) <- Seq[(String, () => DataFrame)](
      "equiDepthHistogram" ->
        (() => Profiling.equiDepthHistogram(spark, d, 10)),
      "groupedEquiDepth" ->
        (() => Profiling.groupedEquiDepth(spark, d, 10)),
      "perplexityBuckets" ->
        (() => Curation.perplexityBuckets(spark, d)),
      "giniSpend" -> (() => Profiling.giniSpend(spark, d)),
      "lorenzDeciles" -> (() => Profiling.lorenzDeciles(spark, d)),
      "paretoShare" -> (() => Profiling.paretoShare(spark, d)),
      "rfmSegments" -> (() => Profiling.rfmSegments(spark, d)),
      // already histogram-based before r15 — pinned so a future edit
      // cannot degrade them back to row-level ranks
      "ksTest" -> (() => Profiling.ksTest(spark, d)),
      "mannWhitney" -> (() => Profiling.mannWhitney(spark, d)),
      "winsorizedMean" -> (() => Profiling.winsorizedMean(spark, d)),
      "madOutliers" -> (() => Profiling.madOutliers(spark, d)),
      "spearman" -> (() => Profiling.spearman(spark, d))))
      assertBoundedWindows(mk, label, Set("v", "rec", "freq", "mon"))
  }

  test("the text-score ranks carry the invariant") {
    // q185/q197 ranked raw rows in windows partitioned only by a
    // score sub-range (negq DIV 65536: ~16 sub-ranges over the whole
    // score range), and q237 ranked every vocabulary type
    val d = sf("")
    for ((label, mk, valueCols) <- Seq[(String, () => DataFrame, Set[String])](
      ("qualityTokenCurve", () => TextOps.qualityTokenCurve(spark, d),
        Set("negq")),
      ("qualityLengthGrid", () => TextOps.qualityLengthGrid(spark, d),
        Set("negq", "toks")),
      ("vocabCoverage", () => TextOps.vocabCoverage(spark, d), Set())))
      assertBoundedWindows(mk, label, valueCols)
  }
}
