package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, CollectList, CollectSet, Percentile}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.datasources.{
  HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.pipeline.{CorpusCuration, CoverMergeScrape, DeepScrape,
  Discovery, GenericIngest}
import graft.streaming.{IncrementalIngest, StreamOps}

/** Mechanical single-task-hazard sweep over EVERY gate query, the
  * flagship entry(), the pipeline dataflows and the streaming twins.
  *
  * The r13/r14 q119 lesson, generalized: plan shapes that funnel a
  * corpus-proportional row stream into ONE task are invisible at test
  * scale and fatal at 10^9 documents, and hand audits keep missing
  * them — q119 shipped for three rounds, and this sweep's first runs
  * falsified the r13 audit's "q119 was the only one" FOUR times
  * (q152's corpus/10-point fold, q165's joint-vocabulary fold, q64's
  * exact percentile buffer, q121's filterless rank window). So the
  * invariant is mechanical: every plan is checked for EIGHT shapes, and
  * the legitimate uses are CLOSED allowlists with per-entry
  * justifications, compared for exact equality — adding a new device
  * or dropping an allowlisted one fails CI until the list is
  * consciously edited (the MemoStabilitySpec / OperatorIndexSpec
  * drift-guard contract).
  *
  *  1. UNGROUPED collect_list/collect_set: the whole input
  *     materializes as one array in one task.
  *  2. Exact Percentile: buffers every group value in one task
  *     (group-row-sized; banned outright since q64's histogram
  *     rank device left zero users).
  *  3. GLOBAL windows (empty partition spec = single-partition sort)
  *     over un-aggregated, un-limited input.
  *  4. Windows partitioned ONLY by categorical keys (source, lang,
  *     event_type, municipality — corpus/|categories| rows per sort
  *     task) over such input.
  *  5. collect_list/collect_set GROUPED only by categorical keys over
  *     such input — corpus/|categories| rows per array buffer, and
  *     unlike a sort, an aggregation ARRAY cannot spill.
  *  6. Cartesian products with an unbounded side (rows-squared).
  *  7. Explicit broadcast() hints on a side whose CARDINALITY is not
  *     provably bounded at any corpus scale (r15): the planner's own
  *     size-based broadcast re-plans to a shuffle join at 1000x the
  *     data, but a hint is obeyed unconditionally — a forced broadcast
  *     of a corpus-proportional side is a guaranteed executor OOM.
  *  8. Row-returning driver actions (collect/head/take) over plans the
  *     same cardinality rule cannot bound (r15): captured live via a
  *     QueryExecutionListener while the full gate surface builds, so
  *     the "no unbounded collect in any hot path" claim is measured,
  *     not grepped — a corpus-scaled collect is a driver OOM.
  *
  * The IndexMemo boundary is closed in both directions (r15): build
  * plans register their pre-cache analyzed form (IndexMemo.builtPlans)
  * and are swept by the same rules in their own test below, and a
  * persisted index consumed under a broadcast hint (InMemoryRelation)
  * resolves through its cached BUILD plan, so rule 7's cardinality
  * argument is checked on what the index actually computes.
  * IndexMemoSpec and PlanShapeSpec keep their per-index footprint and
  * shape gates on top.
  *
  * What "bounded" means for the window gates: input that (modulo
  * sort/exchange/project/filter/codegen plumbing) comes from an
  * Aggregate (grouping-cardinality-sized), a Limit, Catalyst's own
  * WindowGroupLimit (the rank-limit pushdown — see NOTE below), a
  * generate/union/join of such inputs, or another window over one.
  * A cut() table (RDDScanExec / LogicalRDD) resolves MECHANICALLY
  * through GraftSession.cutOrigin to the plan that produced it (r15;
  * the r14 form trusted three by-name allowlist entries with prose
  * justifications) — an RDD scan nobody registered stays unbounded.
  */
class ScaleInvariantsSpec extends SparkTestBase {

  /** Plans whose tree legitimately carries an ungrouped
    * collect_list/collect_set — every entry's input is bounded by
    * construction, NOT corpus-proportional. Keep justifications
    * honest: this list is compared for EXACT equality. */
  private val boundedUngroupedCollects: Map[String, String] = Map(
    "q113_neyman_alloc" ->
      "per-stratum (lang) weight partials — category-sized",
    "q117_zipf_fit" ->
      "top-500 vocabulary after limit",
    "q135_chi2_independence" ->
      "lang x source contingency cells — category-sized",
    "q152_heaps_fit" ->
      "<=4096 doc_id-residue fold partials (two-level fold)",
    "q160_mutual_info" ->
      "lang x source contingency cells — category-sized",
    "q165_jsd" ->
      "<=4096 md5-bucket fold partials (two-level fold)",
    "q168_cramers_v" ->
      "lang x source contingency cells — category-sized")

  /** Partition keys that are CATEGORICAL (a handful of values at any
    * corpus size), so a window partitioned ONLY by them concentrates
    * corpus/|categories| rows into single sort tasks unless its input
    * is already bounded. High-cardinality keys (doc_id, user_id,
    * hashes, buckets, salts) are exempt: their groups are small and
    * the window's parallelism is the key's cardinality. municipality
    * and committee are the pipeline surfaces' categorical keys (~100
    * portals, 4 committees). */
  private val CategoricalKeys =
    Set("source", "lang", "event_type", "kind", "municipality",
      "committee")

  // NOTE on rank-limit windows: `row_number().over(...)` followed by
  // `filter(rn <= k)` is NOT a hazard — Catalyst's InferWindowGroupLimit
  // rewrites it with a map-side WindowGroupLimit(Partial) BEFORE the
  // exchange, so the shuffle and the per-group task carry k rows per
  // map partition, not the group (verified on the q99 plan). bounded()
  // treats WindowGroupLimitExec as a terminal OK, which mechanically
  // REQUIRES the filter pattern: a rank consumed without the filter
  // (the pre-r14 kmvDistinct `max(when(rn === k))` shape) gets no
  // group-limit and fails here.

  private def hasCollect(a: Aggregate): Boolean =
    a.aggregateExpressions.exists(_.collectFirst {
      case e: AggregateExpression
          if e.aggregateFunction.isInstanceOf[CollectList] ||
            e.aggregateFunction.isInstanceOf[CollectSet] => e
    }.isDefined)

  private def hasUngroupedCollect(plan: LogicalPlan): Boolean =
    plan.collectFirst {
      case a: Aggregate if a.groupingExpressions.isEmpty &&
          hasCollect(a) => a
    }.isDefined

  private def hasPercentile(plan: LogicalPlan): Boolean =
    plan.exists(_.expressions.exists(_.collectFirst {
      case e: AggregateExpression
          if e.aggregateFunction.isInstanceOf[Percentile] => e
    }.isDefined))

  private def isCategoricalAttr(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
    e match {
      case ar: org.apache.spark.sql.catalyst.expressions
          .AttributeReference => CategoricalKeys(ar.name)
      case _ => false
    }

  /** Logical-plan boundedness (the physical bounded() can't adjudicate
    * a grouped collect: its own partial/final agg pair satisfies the
    * aggregate terminal). Same house rules, logical nodes; cut()
    * tables resolve through the GraftSession.cutOrigin registry. */
  private def boundedL(p: LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    p match {
      case _: Aggregate => true
      case _: Deduplicate => true
      case _: GlobalLimit | _: LocalLimit => true
      case _: WindowGroupLimit => true
      case _: LocalRelation | _: OneRowRelation => true
      case l: LogicalRDD =>
        GraftSession.cutOrigin(l.rdd.id).exists(boundedL)
      case u: Union => u.children.forall(boundedL)
      case j: Join => j.children.forall(boundedL)
      // analyzed plans (streaming, memo build registrations) still
      // carry hint wrappers; a hint never changes cardinality
      case h: ResolvedHint => boundedL(h.child)
      case _: Project | _: Filter | _: Sort | _: Window | _: Generate |
          _: RepartitionOperation | _: SubqueryAlias =>
        boundedL(p.children.head)
      case _ => false
    }
  }

  /** Aggregates GROUPED only by categorical keys whose functions
    * include a collect over un-bounded input: corpus/|categories|
    * rows in one in-memory array buffer (and unlike a sort, an
    * aggregation array cannot spill). */
  private def categoricalCollectHazards(plan: LogicalPlan): Seq[Aggregate] =
    plan.collect {
      case a: Aggregate if a.groupingExpressions.nonEmpty &&
          a.groupingExpressions.forall(isCategoricalAttr) &&
          hasCollect(a) && !boundedL(a.child) => a
    }

  /** Is a global window's input bounded (never corpus-row-sized)?
    * Terminal OKs: aggregates, limits, local relations (driver-
    * literal-sized). Unions and joins are bounded iff every input is.
    * RDDScanExec (cut tables) resolves to its registered pre-cut
    * plan. */
  private def bounded(p: SparkPlan): Boolean = p match {
    case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
      true
    case _: GlobalLimitExec | _: LocalLimitExec |
        _: TakeOrderedAndProjectExec => true
    case _: LocalTableScanExec => true
    // Catalyst's rank-limit pushdown: the window's input is already
    // group-limited to k rows per map partition (see NOTE above)
    case _: org.apache.spark.sql.execution.window.WindowGroupLimitExec =>
      true
    case r: RDDScanExec =>
      GraftSession.cutOrigin(r.rdd.id).exists(boundedL)
    case r: ReusedExchangeExec => bounded(r.child)
    case _: SortExec | _: Exchange | _: ProjectExec | _: FilterExec |
        _: WholeStageCodegenExec | _: InputAdapter | _: CoalesceExec |
        _: GenerateExec |
        _: org.apache.spark.sql.execution.window.WindowExec =>
      bounded(p.children.head)
    case u: UnionExec => u.children.forall(bounded)
    // a join of bounded inputs is bounded (by their product at worst)
    case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
      j.children.forall(bounded)
    case _ => false
  }

  /** Global/categorical windows over unbounded input, physical form. */
  private def windowHazards(plan: SparkPlan): Seq[String] =
    plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if (w.partitionSpec.isEmpty ||
            w.partitionSpec.forall(isCategoricalAttr)) &&
            !bounded(w.child) =>
        s"window by ${w.partitionSpec.mkString(",")} " +
          s"over ${w.child.getClass.getSimpleName}"
    }

  /** The same window rule on a LOGICAL plan — for streaming frames,
    * whose physical micro-batch plans only exist per-batch. */
  private def windowHazardsL(plan: LogicalPlan): Seq[String] =
    plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if (w.partitionSpec.isEmpty ||
            w.partitionSpec.forall(isCategoricalAttr)) &&
            !boundedL(w.child) =>
        s"window by ${w.partitionSpec.mkString(",")}"
    }

  private def cartesianHazards(plan: SparkPlan): Seq[String] =
    plan.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec
          if !c.children.forall(bounded) =>
        "cartesian with unbounded side"
    }

  // ---- rule 7: forced broadcast of a scale-proportional side ----
  //
  // An EXPLICIT broadcast() hint is obeyed regardless of size — unlike
  // the planner's own size-based choice (which re-plans to a shuffle
  // join when the stats say so at 1000x the data), a hinted side is
  // collected to the driver and shipped to every executor even when it
  // is corpus-proportional. So the hint is only legitimate on a side
  // whose CARDINALITY is bounded at any corpus scale; everything else
  // must leave the strategy to Catalyst/AQE or gate the hint on a
  // measured count.

  /** Grouping keys whose cardinality is bounded at any corpus size, so
    * an Aggregate grouped ONLY by them is broadcast-safe. Deliberately
    * minimal, each entry justified:
    *  - `sub` / `__sub` / `__s`: the value-range subsplit device keys
    *    (count per VALUE sub-bucket — value-range-, not corpus-,
    *    cardinality; the q119/q133/q159 rank devices)
    *  - `g`: the grouped-device stratum label — o_orderpriority in
    *    shipLatency/groupedEquiDepth (5 values)
    *  - `month` / `o_year`: time-dimension keys — grow with wall
    *    clock, not with data volume
    *  - `dim`: vector dimension index (embedding width, fixed)
    *  - `label`: IVF / k-means centroid id (k fixed by the index)
    *  - `prediction`: Spark ML's reserved assignment column —
    *    cardinality = the model's k by construction (KMeans.fit
    *    aggregates by it and collects k centroid rows)
    * (NOT here: `b` — vocabulary-sized in the Kneser-Ney continuation
    * counts; `bucket` — hour buckets are time-bounded but LSH-style
    * buckets are not, and the name alone cannot tell them apart;
    * `t` / `term` / `gh` — vocabulary- or gram-sized.) */
  private val BroadcastSafeKeys: Set[String] = CategoricalKeys ++
    Set("sub", "__sub", "__s", "g", "month", "o_year", "dim", "label",
      "prediction")

  /** Scans of the two FIXED-cardinality tables (nation: 25 rows,
    * region: 5 — constant at every scale factor, unlike customer /
    * supplier / part / orders, which scale linearly with SF). */
  private def fixedDimScan(lr: LogicalRelation): Boolean =
    lr.relation match {
      case fs: HadoopFsRelation => fs.location.rootPaths.nonEmpty &&
        fs.location.rootPaths.forall(
          _.toString.matches(".*/(nation|region)\\.parquet/?"))
      case _ => false
    }

  /** Is this plan's CARDINALITY bounded at any corpus scale (safe to
    * force-broadcast)? Distinct from [[boundedL]], which adjudicates
    * single-TASK funnels: there an Aggregate is always a terminal OK
    * (its shuffle parallelizes by the group key), but an Aggregate
    * grouped by a high-cardinality key yields a corpus-sized RESULT —
    * fatal to broadcast. An Aggregate here is safe iff its grouping
    * keys are all bounded-cardinality OR its child is itself safe
    * (aggregation never grows a row count). Same resolution rules
    * otherwise: cut() tables resolve through GraftSession.cutOrigin;
    * an unregistered RDD scan stays unsafe. */
  private def broadcastSafeL(p: LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    p match {
      case a: Aggregate =>
        a.groupingExpressions.isEmpty ||
          a.groupingExpressions.forall {
            case ar: org.apache.spark.sql.catalyst.expressions
                .AttributeReference => BroadcastSafeKeys(ar.name)
            case _ => false
          } || broadcastSafeL(a.child)
      case d: Deduplicate => broadcastSafeL(d.child)
      // only a GLOBAL limit bounds total cardinality; LocalLimit and
      // WindowGroupLimit bound rows per partition / per window group,
      // so a per-group top-k over a corpus-scaled input is still
      // corpus-proportional — safe iff the child is safe (ADVICE r15)
      case _: GlobalLimit => true
      case l: LocalLimit => broadcastSafeL(l.child)
      case w: WindowGroupLimit => broadcastSafeL(w.child)
      case _: LocalRelation | _: OneRowRelation => true
      case r: Range => r.numElements <= BigInt(4000000L)
      case l: LogicalRDD =>
        GraftSession.cutOrigin(l.rdd.id).exists(broadcastSafeL)
      case lr: LogicalRelation => fixedDimScan(lr)
      // a memoized .persist() index: audit its BUILD plan (physical —
      // that is all InMemoryRelation retains) under the same rules
      case imr: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        broadcastSafeP(imr.cachedPlan)
      case u: Union => u.children.forall(broadcastSafeL)
      case j: Join => j.children.forall(broadcastSafeL)
      case h: ResolvedHint => broadcastSafeL(h.child)
      case _: Project | _: Filter | _: Sort | _: Window | _: Generate |
          _: RepartitionOperation | _: SubqueryAlias | _: Expand |
          _: Sample =>
        broadcastSafeL(p.children.head)
      case _ => false
    }
  }

  /** [[broadcastSafeL]] on a PHYSICAL plan — needed because an
    * InMemoryRelation (a persisted index) only retains its build plan
    * in physical form. Same cardinality rules, physical nodes; an
    * aggregate pair (partial/final) recurses like a single Aggregate. */
  private def broadcastSafeP(p: SparkPlan): Boolean = p match {
    case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
      a.groupingExpressions.isEmpty ||
        a.groupingExpressions.forall {
          case ar: org.apache.spark.sql.catalyst.expressions
              .AttributeReference => BroadcastSafeKeys(ar.name)
          case _ => false
        } || broadcastSafeP(a.child)
    // GlobalLimitExec / TakeOrderedAndProject bound the TOTAL row
    // count; LocalLimitExec bounds per partition only — recurse into
    // the child (ADVICE r15: a per-partition top-k over a corpus-
    // scaled input is corpus-proportional in total)
    case _: GlobalLimitExec | _: TakeOrderedAndProjectExec => true
    case l: LocalLimitExec => broadcastSafeP(l.child)
    case _: LocalTableScanExec => true
    case r: RangeExec => r.range.numElements <= BigInt(4000000L)
    case r: RDDScanExec =>
      GraftSession.cutOrigin(r.rdd.id).exists(broadcastSafeL)
    case f: FileSourceScanExec => f.relation.location.rootPaths.nonEmpty &&
      f.relation.location.rootPaths.forall(
        _.toString.matches(".*/(nation|region)\\.parquet/?"))
    case i: org.apache.spark.sql.execution.columnar
        .InMemoryTableScanExec => broadcastSafeP(i.relation.cachedPlan)
    case r: ReusedExchangeExec => broadcastSafeP(r.child)
    case u: UnionExec => u.children.forall(broadcastSafeP)
    case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
      j.children.forall(broadcastSafeP)
    case _: SortExec | _: Exchange | _: ProjectExec | _: FilterExec |
        _: WholeStageCodegenExec | _: InputAdapter | _: CoalesceExec |
        _: GenerateExec | _: ExpandExec | _: SampleExec |
        _: org.apache.spark.sql.execution.window.WindowExec |
        _: org.apache.spark.sql.execution.window.WindowGroupLimitExec =>
      broadcastSafeP(p.children.head)
    case _ => false
  }

  /** Compact triage signature of a hinted side: its top node (with
    * grouping keys for aggregates) plus the parquet leaves under it. */
  private def sigL(p: LogicalPlan): String = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val top = p match {
      case a: Aggregate => "Aggregate[" + a.groupingExpressions.map {
        case ar: org.apache.spark.sql.catalyst.expressions
            .AttributeReference => ar.name
        case e => e.sql
      }.mkString(",") + "]"
      case o => o.nodeName
    }
    val leaves = p.collectLeaves().map {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.headOption
          .map(_.getName).getOrElse("fs")
        case _ => "rel"
      }
      case l: LogicalRDD =>
        if (GraftSession.cutOrigin(l.rdd.id).isDefined) "cut" else "rdd"
      case o => o.nodeName
    }.distinct
    top + leaves.mkString("(", ",", ")")
  }

  /** Join sides carrying an explicit BROADCAST hint that are not
    * provably cardinality-bounded. Optimized plans fold hints into
    * Join.hint; analyzed (streaming) plans still carry ResolvedHint
    * nodes — both forms are matched. */
  private def forcedBroadcastHazards(plan: LogicalPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.{
      Join => LJoin, ResolvedHint, BROADCAST}
    plan.collect {
      case j: LJoin =>
        Seq((j.hint.leftHint, j.left), (j.hint.rightHint, j.right))
          .collect {
            case (Some(h), side) if h.strategy.contains(BROADCAST) &&
                !broadcastSafeL(side) =>
              s"forced broadcast of ${sigL(side)}"
          }
      case rh: ResolvedHint if rh.hints.strategy.contains(BROADCAST) &&
          !broadcastSafeL(rh.child) =>
        Seq(s"forced broadcast of ${sigL(rh.child)}")
    }.flatten
  }

  test("no gate query funnels corpus-proportional rows into one task") {
    val d = sf("")
    // static plans: AQE wraps the physical tree in an opaque
    // AdaptiveSparkPlanExec (same reasoning as PlanShapeSpec)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val collectOffenders = Seq.newBuilder[String]
    val windowOffenders = Seq.newBuilder[String]
    val percentileOffenders = Seq.newBuilder[String]
    val cartesianOffenders = Seq.newBuilder[String]
    val collectUsers = Set.newBuilder[String]
    try {
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        val df = fn(spark, d)
        // exact Percentile buffers EVERY group value in one task —
        // group-row-sized state. Zero gate queries use it since q64
        // moved to the value-histogram rank device; keep it that way.
        if (hasPercentile(df.queryExecution.optimizedPlan))
          percentileOffenders += name
        // a cartesian product with both sides corpus-scaled is the
        // rows-squared cousin of the single-task funnels (broadcast
        // crosses of scalar/strata tables plan as BNLJ and are fine)
        cartesianHazards(df.queryExecution.executedPlan)
          .foreach(h => cartesianOffenders += s"$name($h)")
        if (hasUngroupedCollect(df.queryExecution.optimizedPlan)) {
          collectUsers += name
          if (!boundedUngroupedCollects.contains(name))
            collectOffenders += name
        }
        categoricalCollectHazards(df.queryExecution.optimizedPlan)
          .foreach(_ => collectOffenders +=
            s"$name(categorical-grouped collect)")
        windowHazards(df.queryExecution.executedPlan)
          .foreach(h => windowOffenders += s"$name($h)")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(collectOffenders.result().isEmpty,
      "ungrouped corpus collect outside the justified allowlist " +
        s"(partition it or justify here): ${collectOffenders.result()}")
    assert(percentileOffenders.result().isEmpty,
      "exact Percentile (group-row-sized buffer) in a gate plan — " +
        "use the q64 value-histogram rank device: " +
        percentileOffenders.result())
    assert(cartesianOffenders.result().isEmpty,
      "cartesian product with an unbounded side in a gate plan: " +
        cartesianOffenders.result())
    assert(windowOffenders.result().isEmpty,
      "global window over un-aggregated, un-limited input " +
        s"(single-partition corpus sort): ${windowOffenders.result()}")
    // staleness: the allowlist must match reality EXACTLY, so a
    // rewrite that removes a justified use also prunes its entry
    assert(collectUsers.result() == boundedUngroupedCollects.keySet,
      "ungrouped-collect allowlist is stale: " +
        s"actual=${collectUsers.result().toSeq.sorted} " +
        s"listed=${boundedUngroupedCollects.keySet.toSeq.sorted}")
  }

  /** Gate queries whose plans legitimately carry a broadcast hint on a
    * side the structural rule cannot prove bounded. Every entry must
    * name WHY the side is bounded (or how the hint is gated on a
    * measured count); exact-equality staleness below. */
  private val justifiedForcedBroadcasts: Map[String, String] = Map(
    "q38_minhash_pairs" ->
      ("verify-join candidate list — hint applied only under the " +
        "MEASURED count (<= 5M, verifiedMd5NearDups candSide)"),
    "q39_ngram_jaccard_pairs" ->
      "same gated candSide as q38 (charJaccard declaration)",
    "q44_embed_near_dup" ->
      ("SRP candidate pairs — hint gated on measured count <= " +
        "maxBroadcastPairs (verifiedNearDupsFromBuckets)"),
    "q92_cms_estimate" ->
      "CMS cell table — depth x width rows, fixed by sketch params",
    "q115_dsir_weights" ->
      "DSIR bucket model — `buckets` (256) rows by pmod construction",
    "q154_transitions" ->
      "event-type pair totals — |types|^2 rows (categorical squared)",
    "q215_twonn_id" ->
      ("anchorCross — count-gated <= 200k rows per broadcast, " +
        "hash-chunked corpus passes above the bound"),
    "q229_hard_negatives" ->
      "anchorCross (same gate as q215)",
    "q247_dedup_roi" ->
      "gated candSide at two thresholds (verifiedMd5NearDups)",
    "q250_simhash_calibration" ->
      "gated candSide (verifiedMd5NearDups)")

  test("no gate query force-broadcasts a scale-proportional side") {
    val d = sf("")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val offenders = Seq.newBuilder[String]
    val users = Set.newBuilder[String]
    try {
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        val hits = forcedBroadcastHazards(
          fn(spark, d).queryExecution.optimizedPlan)
        if (hits.nonEmpty) {
          users += name
          if (!justifiedForcedBroadcasts.contains(name))
            hits.foreach(h => offenders += s"$name($h)")
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(offenders.result().isEmpty,
      "explicit broadcast() of a side that scales with the corpus — " +
        "drop the hint (let stats/AQE choose), gate it on a measured " +
        s"count, or justify here: ${offenders.result()}")
    assert(users.result() == justifiedForcedBroadcasts.keySet,
      "forced-broadcast allowlist is stale: " +
        s"actual=${users.result().toSeq.sorted} " +
        s"listed=${justifiedForcedBroadcasts.keySet.toSeq.sorted}")
  }

  /** Logical mirror of the cartesian rule for plans that only exist in
    * logical form (memo build registrations): a condition-less join
    * where NEITHER side is bounded is rows-squared; one bounded side
    * plans as a (linear) broadcast nested loop and passes. */
  private def cartesianHazardsL(plan: LogicalPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    plan.collect {
      case j: LJoin if j.condition.isEmpty &&
          !j.children.exists(boundedL) =>
        "cross join with both sides unbounded"
    }
  }

  /** Memo build tags whose registered plans legitimately carry a
    * flagged shape — same closed-allowlist contract as the query-level
    * lists. */
  private val justifiedBuildShapes: Map[String, String] = Map()

  test("memoized index build plans carry no single-task shapes") {
    // The IndexMemo boundary, mechanized: every build registers the
    // PRE-CACHE analyzed plans of what it pinned (IndexMemo
    // .builtPlans), so the same six logical rules sweep what the
    // indexes actually compute. Cleared first so the registry holds
    // EXACTLY the gate surface's builds — in a full suite run, other
    // specs' fixture-corpus builds would otherwise leak in and make
    // the staleness check order-dependent. Constructing every gate
    // DataFrame then re-triggers each build.
    graft.ops.IndexMemo.clear()
    val d = sf("")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
      fn(spark, d)
    }
    val built = graft.ops.IndexMemo.builtPlans
    assert(built.nonEmpty, "no memo build plans were registered — " +
      "the registry seam (IndexMemo.recordBuiltPlans) is broken")
    val offenders = Seq.newBuilder[String]
    val users = Set.newBuilder[String]
    built.toSeq.sortBy(_._1).foreach { case (tag, plans) =>
      val hits = plans.flatMap { p =>
        (if (hasUngroupedCollect(p)) Seq("ungrouped collect") else Nil) ++
          (if (hasPercentile(p)) Seq("exact Percentile") else Nil) ++
          categoricalCollectHazards(p)
            .map(_ => "categorical-grouped collect") ++
          windowHazardsL(p) ++
          cartesianHazardsL(p) ++
          forcedBroadcastHazards(p)
      }
      if (hits.nonEmpty) {
        users += tag
        if (!justifiedBuildShapes.contains(tag))
          hits.foreach(h => offenders += s"$tag($h)")
      }
    }
    assert(offenders.result().isEmpty,
      "single-task shape inside a memoized index build plan: " +
        offenders.result())
    assert(users.result() == justifiedBuildShapes.keySet,
      "build-shape allowlist is stale: " +
        s"actual=${users.result().toSeq.sorted} " +
        s"listed=${justifiedBuildShapes.keySet.toSeq.sorted}")
  }

  // ---- rule 9: skewed-key shuffle audit (r15 verdict task 6) ----
  //
  // The one scale-killer class the first eight rules don't see: a
  // shuffle join whose key distribution concentrates a large share of
  // rows under one value — at 100 TB that partition is a straggler (or
  // an executor OOM) no matter how clean the plan shape is. The rule:
  // collect every shuffle-join key TUPLE (per side) across the gate
  // surface; tuples with a hash/uuid component are uniform by
  // construction and pass; tuples of base-table columns are MEASURED
  // (top joint-value share at the test SF — a distribution property of
  // the generator, not of scale) and must stay under 5% or carry a
  // mitigation entry; tuples of derived intermediates must each carry
  // a closed-allowlist justification naming why the key is low-skew.
  // Broadcast joins never enter (no shuffle to skew); the memoized
  // builds' banded self-joins key on hash buckets by construction and
  // are swept as logical plans by the build-shape rule above.

  private val SkewShareLimit = 0.05

  /** Hash-family expressions: a key containing one is uniform by
    * construction at any scale. */
  private def hashDerived(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
    e.exists {
      case _: org.apache.spark.sql.catalyst.expressions.Md5 => true
      case _: org.apache.spark.sql.catalyst.expressions.Sha2 => true
      case _: org.apache.spark.sql.catalyst.expressions.Crc32 => true
      case _: org.apache.spark.sql.catalyst.expressions.Murmur3Hash => true
      case _: org.apache.spark.sql.catalyst.expressions.XxHash64 => true
      case _: org.apache.spark.sql.catalyst.expressions
          .MonotonicallyIncreasingID => true
      case _ => false
    }

  /** Closed allowlist: shuffle-join key tuples (one side's key column
    * names, sorted, "+"-joined) made of DERIVED intermediates the
    * base-table measurement cannot reach. Every entry must say why the
    * key is low-skew (or why skew cannot hurt: aggregated or
    * cardinality-capped sides) at corpus scale. Exact-equality
    * staleness. */
  private def justifiedDerivedJoinKeys: Map[String, String] = Map(
    // "__sub2+freq" / "__sub2+mon" (q159 scalableRank offsets joins)
    // left the list in r19: the independent-rank-table form projects
    // each pass to (o_custkey, v) first, and the narrow row side now
    // broadcasts its offsets join instead of shuffling — were a wider
    // fixture to re-tip the planner to a shuffle join, the exact-
    // equality sweep re-raises the entry with its original bound
    // (__sub2 = tie DIV 2^22 caps rows per key at tieStep)
    "c" ->
      ("modularity (q210): both sides grouped to ONE row per " +
        "community before the join — no per-key row mass to skew"),
    "cls" ->
      ("langIdEval (q180): byPred/byActual are each grouped to one " +
        "row per language class before the full-outer join"),
    // "cust" (butterflies q223) left the list in r19: the wedge
    // self-join now reads the c-hash-pinned hitsDir cache on both
    // sides, so it plans no shuffle-join on cust at all
    "expr:knownfloatingpointnormalized" ->
      ("dedupRoiCurve (q247): the key is the threshold literal over " +
        "per-threshold AGGREGATE tables — every side is <= " +
        "|thresholds| rows"),
    "id" ->
      ("rrfFusion (q268): full-outer join of two channels each " +
        "already bounded top-k (<= k rows per side)"),
    "sa+sb" ->
      ("kmvSourceJaccard (q231): source-pair key over k-bounded KMV " +
        "sketch rows — <= k entries per (sa, sb) per side"))

  /** Closed allowlist: measurable base-table key tuples whose top
    * joint-value share exceeds [[SkewShareLimit]], with the mitigation
    * that keeps the join safe (salt, pre-aggregation, AQE skew join).
    * Exact-equality staleness. Currently empty: every measured base
    * key (order/part/supp/doc/user keys) is generator-uniform under
    * 5%. */
  private def justifiedSkewedBaseKeys: Map[String, String] = Map()

  /** Column name -> base table, for every unambiguous column of the
    * ten synthetic tables. */
  private lazy val baseColumnTable: Map[String, String] = {
    val d = sf("")
    val cols = graft.Tables.names.flatMap { t =>
      graft.Tables.load(spark, d, t).schema.fieldNames.map(_ -> t)
    }
    cols.groupBy(_._1).collect {
      case (c, owners) if owners.map(_._2).distinct.size == 1 =>
        c -> owners.head._2
    }
  }

  /** Measured top joint-value share of a base-table column tuple.
    * Measured at sf0.01, NOT the plans' sf0.001: share is a
    * distribution property, but a key whose CARDINALITY scales with
    * SF (suppkey: 10 suppliers at sf0.001 -> a fake 10% top share)
    * needs enough keys for the share to mean skew rather than
    * small-population uniformity; for this generator shares only
    * shrink further with SF. */
  private def topShare(table: String, cols: Seq[String]): Double = {
    val df = graft.Tables.load(spark, "/root/testdata/sf0.01", table)
    val total = df.count().toDouble
    if (total == 0) 0.0
    else {
      val top = df.groupBy(cols.map(col): _*).count()
        .agg(max(col("count"))).head().getLong(0).toDouble
      top / total
    }
  }

  /** Classify one side's key tuple: None = uniform by construction
    * (hash component) or measured under the limit; Some(label ->
    * kind) = needs an allowlist entry. */
  private def classifyKeyTuple(keys: Seq[
      org.apache.spark.sql.catalyst.expressions.Expression],
      shareMemo: scala.collection.mutable.Map[String, Double])
      : Option[(String, String)] = {
    if (keys.exists(hashDerived)) return None
    val names = keys.map {
      case ar: org.apache.spark.sql.catalyst.expressions
          .AttributeReference => ar.name
      case e => s"expr:${e.prettyName}"
    }.sorted
    val label = names.mkString("+")
    val tables = names.flatMap(baseColumnTable.get).distinct
    if (names.forall(baseColumnTable.contains) && tables.size == 1) {
      val share = shareMemo.getOrElseUpdate(label,
        topShare(tables.head, names))
      if (share <= SkewShareLimit) None
      else Some(label -> f"measured-skew($share%.3f)")
    } else Some(label -> "derived")
  }

  test("no gate query shuffle-joins on a skewed or unvouched key") {
    val d = sf("")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val shareMemo = scala.collection.mutable.Map.empty[String, Double]
    // label -> (kind, example queries)
    val found = scala.collection.mutable.Map
      .empty[String, (String, Set[String])]
    try {
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        fn(spark, d).queryExecution.executedPlan.foreach {
          case j: org.apache.spark.sql.execution.joins
              .SortMergeJoinExec =>
            Seq(j.leftKeys, j.rightKeys).foreach(ks =>
              classifyKeyTuple(ks, shareMemo).foreach { case (l, k) =>
                val (_, qs) = found.getOrElse(l, (k, Set.empty[String]))
                found(l) = (k, qs + name)
              })
          case j: org.apache.spark.sql.execution.joins
              .ShuffledHashJoinExec =>
            Seq(j.leftKeys, j.rightKeys).foreach(ks =>
              classifyKeyTuple(ks, shareMemo).foreach { case (l, k) =>
                val (_, qs) = found.getOrElse(l, (k, Set.empty[String]))
                found(l) = (k, qs + name)
              })
          case _ => ()
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val allow = justifiedDerivedJoinKeys ++ justifiedSkewedBaseKeys
    val offenders = found.toSeq.sortBy(_._1).collect {
      case (l, (kind, qs)) if !allow.contains(l) =>
        s"$l [$kind] in ${qs.toSeq.sorted.take(4).mkString(",")}" +
          (if (qs.size > 4) s" (+${qs.size - 4})" else "")
    }
    assert(offenders.isEmpty,
      "shuffle-join key neither hash-derived, measured-low-skew, nor " +
        s"allowlisted:\n  ${offenders.mkString("\n  ")}")
    // staleness both ways: every allowlist entry must still have users
    assert(found.keySet == allow.keySet,
      "skew-key allowlist is stale: " +
        s"actual=${found.keySet.toSeq.sorted} " +
        s"listed=${allow.keySet.toSeq.sorted}")
  }

  /** Row-returning driver actions — the calls that materialize a
    * result IN the driver JVM. `count`/`reduce`-style scalar actions
    * are excluded (one row by construction); `head`/`take` embed
    * their own Limit in the captured plan. */
  private val DriverRowActions =
    Set("collect", "collectAsList", "head", "take", "toLocalIterator")

  /** Driver actions whose plans the cardinality rule cannot prove
    * bounded — same closed-allowlist contract, keyed by
    * funcName(signature). */
  private val justifiedDriverActions: Map[String, String] = Map()

  /** Run `body` with a QueryExecutionListener capturing every
    * row-returning driver action's optimized plan, draining the async
    * execution-listener bus before returning. */
  private def capturedDriverActions(body: => Unit)
      : Seq[(String, LogicalPlan)] = {
    val captured =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, LogicalPlan)]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        if (DriverRowActions(funcName))
          captured.add(funcName -> qe.optimizedPlan)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try body
    finally {
      // the execution-listener bus is async: drain it before
      // unregister. FAIL LOUDLY if the drain seam is gone (ADVICE
      // r15): a silent skip would let late-arriving action events
      // slip past rule 8 — a Spark upgrade must break this test, not
      // quietly disable it.
      try {
        val bus = spark.sparkContext.getClass
          .getMethod("listenerBus").invoke(spark.sparkContext)
        val drain = bus.getClass.getMethods
          .find(m => m.getName == "waitUntilEmpty" &&
            m.getParameterCount == 0)
        assert(drain.isDefined, "SparkContext.listenerBus no longer " +
          "exposes a zero-arg waitUntilEmpty — rule 8's async drain " +
          "is disabled; port capturedDriverActions to the new API")
        drain.foreach(_.invoke(bus))
      } finally spark.listenerManager.unregister(listener)
    }
    import scala.jdk.CollectionConverters._
    captured.iterator().asScala.toSeq
  }

  /** Assert every captured action's plan is cardinality-bounded,
    * against the given allowlist (shared by the gate and surface
    * driver-action tests). */
  private def assertActionsBounded(actions: Seq[(String, LogicalPlan)],
      allow: Map[String, String], what: String): Unit = {
    val offenders = Seq.newBuilder[String]
    val users = Set.newBuilder[String]
    actions.foreach { case (fn, plan) =>
      if (!broadcastSafeL(plan)) {
        val key = s"$fn(${sigL(plan)})"
        users += key
        if (!allow.contains(key)) offenders += key
      }
    }
    assert(offenders.result().distinct.isEmpty,
      s"driver action over a corpus-scaled plan (driver OOM at " +
        s"scale) in $what: ${offenders.result().distinct}")
    assert(users.result() == allow.keySet,
      s"driver-action allowlist for $what is stale: " +
        s"actual=${users.result().toSeq.sorted} " +
        s"listed=${allow.keySet.toSeq.sorted}")
  }

  test("driver-side actions only materialize cardinality-bounded " +
      "plans") {
    // The r14 verdict's "no unbounded .collect() in any hot path" was
    // prose over a grep; this is the claim mechanized. Every
    // row-returning action fired while constructing the full gate
    // surface (index builds collect centroids/codebooks/gates here)
    // must have a plan that is cardinality-bounded at ANY corpus
    // scale — the same [[broadcastSafeL]] criterion, because "fits in
    // the driver" and "fits in a broadcast" are the same bound.
    val actions = capturedDriverActions {
      graft.ops.IndexMemo.clear() // force every gate build's actions
      val d = sf("")
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
        fn(spark, d)
      }
    }
    assert(actions.nonEmpty,
      "no driver actions captured — the listener seam is broken " +
        "(index builds are known to collect centroids and gates)")
    assertActionsBounded(actions, justifiedDriverActions, "gate builds")
  }

  /** Per-round cut() plans the rules flag — same closed contract.
    * Every entry is one of the two runtime-gated broadcast devices:
    * Graph.perRoundSide (rank/frontier/label tables hinted only under
    * the MEASURED <=4M-node bound, shuffle path above) and
    * Similarity.anchorCross (anchors hinted under the measured <=200k
    * bound, hash-chunked corpus passes above). The sweep sees the
    * hint because fixture-scale counts sit under the gates. */
  private val justifiedCutShapes: Map[String, String] = Map(
    "Aggregate[node](InMemoryRelation,cut,Range): forced broadcast " +
      "of Aggregate[node](InMemoryRelation,cut,Range)" ->
      "perRoundSide rank table (<=4M gate)",
    "Aggregate[dst](InMemoryRelation,cut): forced broadcast of " +
      "Project(cut)" ->
      "perRoundSide frontier table (<=4M gate)",
    "Aggregate[node](InMemoryRelation,cut,Range): forced broadcast " +
      "of Project(cut)" ->
      "perRoundSide rank table (<=4M gate)",
    "Aggregate[dst](InMemoryRelation,cut): forced broadcast of " +
      "Aggregate[dst](InMemoryRelation,cut)" ->
      "perRoundSide frontier table (<=4M gate)",
    // HITS aRaw rounds (r18): the state-sizing repartition over the
    // AGGREGATED authority table puts RepartitionByExpression at the
    // cut plan's root; the flagged broadcast underneath is still the
    // same gated perRoundSide hub/auth table
    "RepartitionByExpression(InMemoryRelation,cut): forced broadcast " +
      "of Project(cut)" ->
      "perRoundSide hub table (<=4M gate)",
    "RepartitionByExpression(InMemoryRelation,cut): forced broadcast " +
      "of Filter(cut)" ->
      "perRoundSide hub table (<=4M gate)",
    "Aggregate[c](InMemoryRelation,cut): forced broadcast of " +
      "Project(cut)" ->
      "perRoundSide label table (<=4M gate)",
    "Aggregate[vec_id](embeddings.parquet): forced broadcast of " +
      "Project(embeddings.parquet)" ->
      "anchorCross anchors (<=200k gate, hash-chunked above)",
    // bfsHopsFrom rounds (registered deterministically since the r18
    // memo clear above): the state-sizing coalesce roots the cut plan
    // in a Repartition node; the flagged sides are the gated
    // perRoundSide frontier (Project over a cut) and visited set (the
    // union of already-cut frontiers)
    "Repartition(InMemoryRelation,cut): forced broadcast of " +
      "Project(cut)" ->
      "perRoundSide frontier/visited table (<=4M gate)",
    "Repartition(InMemoryRelation,cut): forced broadcast of " +
      "Union(cut)" ->
      "perRoundSide frontier/visited table (<=4M gate)",
    // union-free SSSP round (r19): the full-outer state fold roots the
    // cut plan in a Project over the state⋈contrib join; the flagged
    // broadcast is still the same gated perRoundSide state table
    "Project(cut,InMemoryRelation): forced broadcast of " +
      "Project(cut)" ->
      "perRoundSide dist table (<=4M gate)")

  test("per-round cut() plans carry no single-task shapes") {
    // Iterative operators' per-round joins exist only transiently —
    // no other sweep sees them — but every round's result passes
    // through GraftSession.cut(), which registers the pre-cut
    // OPTIMIZED plan. Construct the gate surface, then sweep every
    // plan registered DURING that pass (diff against the prior
    // snapshot, so other suites' fixture cuts can't leak in).
    // Memo cleared first (r18): a memoized build's per-round cuts
    // register only on its FIRST construction, so whether its shapes
    // reach this sweep used to depend on which test built the index
    // first — the closed allowlist then failed under testOnly
    // isolation and passed in full-suite order. Clearing makes the
    // registered-plan set (and the allowlist below) order-independent.
    graft.ops.IndexMemo.clear()
    val before = GraftSession.cutOriginSnapshot.keySet
    val d = sf("")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
      fn(spark, d)
    }
    val fresh = GraftSession.cutOriginSnapshot.view
      .filterKeys(!before(_)).values.toSeq
    assert(fresh.nonEmpty, "no cut() plans registered during the gate " +
      "pass — the cutOrigin seam is broken (iterative rounds cut)")
    val offenders = Seq.newBuilder[String]
    val users = Set.newBuilder[String]
    fresh.foreach { p =>
      val hits =
        (if (hasUngroupedCollect(p)) Seq("ungrouped collect") else Nil) ++
          (if (hasPercentile(p)) Seq("exact Percentile") else Nil) ++
          categoricalCollectHazards(p)
            .map(_ => "categorical-grouped collect") ++
          windowHazardsL(p) ++
          cartesianHazardsL(p) ++
          forcedBroadcastHazards(p)
      hits.foreach { h =>
        val key = s"${sigL(p)}: $h"
        users += key
        if (!justifiedCutShapes.contains(key)) offenders += key
      }
    }
    assert(offenders.result().distinct.isEmpty,
      "single-task shape in a per-round cut() plan: " +
        offenders.result().distinct)
    assert(users.result() == justifiedCutShapes.keySet,
      "cut-shape allowlist is stale: " +
        s"actual=${users.result().toSeq.sorted} " +
        s"listed=${justifiedCutShapes.keySet.toSeq.sorted}")
  }

  /** Driver actions fired by the pipeline surfaces that the
    * cardinality rule cannot bound (same contract as
    * [[justifiedDriverActions]]). */
  private val justifiedSurfaceDriverActions: Map[String, String] = Map()

  /** Pipeline surfaces whose plans legitimately hint a broadcast the
    * structural rule cannot prove bounded (same contract as
    * [[justifiedForcedBroadcasts]]). */
  private val justifiedSurfaceBroadcasts: Map[String, String] = Map(
    "ingest_candidates" ->
      "municipality-config CSV — a fixed ~100-row domain table",
    "ingest_todo" ->
      "same config dim through candidates()",
    "curation_curated" ->
      "gated candSide inside the near-dup stage (measured-count hint)",
    "curation_chunks" ->
      "same curation dataflow, chunked output")

  test("no flagship or pipeline surface funnels corpus rows into " +
      "one task") {
    // the surfaces a 100 TB user actually runs (r14 verdict): the
    // flagship entry(), both ingest dataflows, deep-scrape synthesis,
    // the cover merge, end-to-end corpus curation, discovery, and the
    // incremental ingest's batch projection. Fixture-sized inputs — the sweep
    // checks SHAPES, which don't change with scale.
    import spark.implicits._
    graft.parse.GraftFunctions.register(spark)
    val today = java.sql.Date.valueOf("2024-01-01")
    val csv = "src/test/resources/fixtures/municipalities.csv"
    val portals = "src/test/resources/fixtures/portals"
    val d001 = sf("")
    // a sink holding the fixture documents, so ingest_todo's anti-join
    // is planned against real held keys rather than pruned away
    val heldSink = java.nio.file.Files.createTempDirectory("graft_sweep_")
      .resolve("docs").toString
    GenericIngest.run(spark, csv, portals, heldSink, limitPerMuni = 1)
    val surfaces: Seq[(String, () => DataFrame)] = Seq(
      "entry_flagship" -> (() => SparkEntry.entry(spark)),
      "ingest_candidates" -> (() => GenericIngest.candidates(
        spark, csv, portals, "Oekonomi", "ALL", 100, today)),
      "ingest_todo" -> (() => GenericIngest.todo(GenericIngest.candidates(
        spark, csv, portals, "Oekonomi", "NEW", 100, today), heldSink)),
      "connector_candidates" -> (() => GenericIngest.connectorCandidates(
        spark, "src/test/resources/fixtures/portals3")),
      "deepscrape_docs" -> (() => DeepScrape.synthesizedDocs(spark,
        "src/test/resources/fixtures/kkpages", "listing", "kobenhavn")),
      "covermerge_docs" -> (() => CoverMergeScrape.mergedDocs(spark,
        "src/test/resources/fixtures/rksk", "ringkoebing_skjern",
        PdfFetcher())),
      "curation_curated" -> (() => CorpusCuration.curate(spark, d001)._1),
      "curation_chunks" ->
        (() => CorpusCuration.curateToChunks(spark, d001)._1),
      "discovery_candidates" -> (() => Discovery.candidateUrls(spark,
        Seq("aarhus", "silkeborg"))),
      "discovery_probe" -> (() => Discovery.probePortals(
        Discovery.candidateUrls(spark, Seq("aarhus", "silkeborg")),
        Discovery.StaticProber(Map.empty, 200))),
      "discovery_committees" -> (() => Discovery.discoverCommittees(
        Seq(("https://aarhus.dk",
          "<html><a data-value=\"ab12\">Økonomiudvalget</a></html>"))
          .toDF("base_url", "html"))),
      "incremental_candidates" -> (() => IncrementalIngest.toCandidates(
        Seq(("aarhus", "https://a.dk/vis?Referat-d.01-02-2024&id=x"))
          .toDF("municipality", "url"), "NEW", today)))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val offenders = Seq.newBuilder[String]
    val broadcastUsers = Set.newBuilder[String]
    // surface construction EXECUTES the dataflows' own driver actions
    // (curation counts its quality gate, deep-scrape collects its page
    // set) — capture them for the rule-8 boundedness check too
    val actions = capturedDriverActions {
      try {
        surfaces.foreach { case (name, mk) =>
          val df = mk()
          if (hasUngroupedCollect(df.queryExecution.optimizedPlan))
            offenders += s"$name(ungrouped collect)"
          if (hasPercentile(df.queryExecution.optimizedPlan))
            offenders += s"$name(exact Percentile)"
          categoricalCollectHazards(df.queryExecution.optimizedPlan)
            .foreach(_ => offenders +=
              s"$name(categorical-grouped collect)")
          cartesianHazards(df.queryExecution.executedPlan)
            .foreach(h => offenders += s"$name($h)")
          windowHazards(df.queryExecution.executedPlan)
            .foreach(h => offenders += s"$name($h)")
          val bHits =
            forcedBroadcastHazards(df.queryExecution.optimizedPlan)
          if (bHits.nonEmpty) {
            broadcastUsers += name
            if (!justifiedSurfaceBroadcasts.contains(name))
              bHits.foreach(h => offenders += s"$name($h)")
          }
        }
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
    assert(offenders.result().isEmpty,
      "single-task hazard in a flagship/pipeline surface: " +
        offenders.result())
    assert(broadcastUsers.result() == justifiedSurfaceBroadcasts.keySet,
      "surface forced-broadcast allowlist is stale: " +
        s"actual=${broadcastUsers.result().toSeq.sorted} " +
        s"listed=${justifiedSurfaceBroadcasts.keySet.toSeq.sorted}")
    assertActionsBounded(actions, justifiedSurfaceDriverActions,
      "pipeline surfaces")
  }

  test("streaming micro-batch plans carry no single-task aggregation " +
      "shapes") {
    // the streaming twins' physical plans exist only per micro-batch,
    // but every rule-1/2/4/5 shape is visible on the UNSTARTED logical
    // plan (collects, percentiles and windows are logical operators;
    // the keyed-state ops shuffle by their group key and hold O(k)
    // state per key by construction — StreamOpsSpec pins that).
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evTyped = MemoryStream[(Timestamp, String)]
    val evUser = MemoryStream[(Timestamp, Long)]
    val upd = MemoryStream[(Timestamp, Long, Double)]
    val keyed = MemoryStream[StreamOps.KeyedRow]
    val terms = MemoryStream[StreamOps.TermRow]
    val funnelEv = MemoryStream[StreamOps.FunnelEvent]
    val buckets = MemoryStream[StreamOps.BucketCount]
    val urls = MemoryStream[(Timestamp, String)]
    val texts = MemoryStream[(Timestamp, String, String)]
    val plans: Seq[(String, LogicalPlan)] = Seq(
      "windowed_counts" -> StreamOps.windowedEventCounts(
        evTyped.toDF().toDF("ts", "event_type")).queryExecution.analyzed,
      "session_counts" -> StreamOps.sessionCounts(
        evUser.toDF().toDF("ts", "user_id")).queryExecution.analyzed,
      "enrich_join" -> StreamOps.enrichJoin(
        evUser.toDF().toDF("ts", "user_id"),
        upd.toDF().toDF("uts", "u_user_id", "price"))
        .queryExecution.analyzed,
      "dedup_watermark" -> StreamOps.dedupWithinWatermark(
        urls.toDF().toDF("ts", "url"), Seq("url"))
        .queryExecution.analyzed,
      "near_dedup" -> StreamOps.nearDedupWithinWatermark(
        texts.toDF().toDF("ts", "url", "text"), "text")
        .queryExecution.analyzed,
      "first_seen" -> StreamOps.firstSeenDedup(keyed.toDS())
        .queryExecution.analyzed,
      "heavy_hitters" -> StreamOps.streamingHeavyHitters(terms.toDS())
        .queryExecution.analyzed,
      "funnel" -> StreamOps.streamingFunnel(funnelEv.toDS())
        .queryExecution.analyzed,
      "anomalies" -> StreamOps.streamingAnomalies(buckets.toDS())
        .queryExecution.analyzed)
    val offenders = plans.flatMap { case (name, p) =>
      (if (hasUngroupedCollect(p)) Seq(s"$name(ungrouped collect)")
      else Nil) ++
        (if (hasPercentile(p)) Seq(s"$name(exact Percentile)") else Nil) ++
        categoricalCollectHazards(p)
          .map(_ => s"$name(categorical-grouped collect)") ++
        windowHazardsL(p).map(h => s"$name($h)") ++
        forcedBroadcastHazards(p).map(h => s"$name($h)")
    }
    assert(offenders.isEmpty,
      s"single-task hazard in a streaming twin plan: $offenders")
  }
}
