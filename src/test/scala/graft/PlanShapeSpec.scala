package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

import graft.ops.{Dedup, Graph}

/** Plan-SHAPE regression gates: the scale invariants the verdict audits
  * by hand — ids-not-payloads shuffles in the banded joins, bounded
  * lineage on the iterative plans — expressed as asserts over the
  * physical/optimized plans, so a future edit that quietly
  * reintroduces a payload-carrying shuffle or an iters-deep join tower
  * fails CI instead of surfacing as a 100x regression on a cluster. */
class PlanShapeSpec extends SparkTestBase {
  import spark.implicits._

  /** Physical shuffles of a plan. AQE wraps the tree in an opaque
    * AdaptiveSparkPlanExec, so the invariant is checked on the
    * statically planned tree (the pruning being asserted is a static
    * property): AQE goes off for the planning of this one df. */
  private def shuffles(mk: => DataFrame): Seq[ShuffleExchangeExec] = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try mk.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("LSH banded self-join shuffles carry no array column") {
    // the exact build chain of buildLshPairIndex: shingle -> signature
    // -> band keys -> the build's (id, band, bucket) projection ->
    // self-join; sig (array) and sh (array) must be pruned out of
    // every exchange below the join
    val docs = graft.Tables.documents(spark, sf(""))
    val exploded =
      Dedup.explodedCharShingleHashes(docs, "doc_id", "text", 5)
    val index = Dedup.signatureIndex(exploded, 32)
    val banded = Dedup.bandKeys(index, 8, 4, "planaudit")
      .select($"id", $"band", $"bucket")
    def joined = banded.select($"band", $"bucket", $"id".as("id_a"))
      .join(banded.select($"band", $"bucket", $"id".as("id_b")),
        Seq("band", "bucket"))
      .filter($"id_a" < $"id_b")
    val exs = shuffles(joined)
    assert(exs.nonEmpty, "expected at least one shuffle in the banded join")
    val offenders = exs.flatMap(_.output)
      .filter(_.dataType.isInstanceOf[ArrayType])
    assert(offenders.isEmpty,
      s"banded shuffle ships array payloads: ${offenders.map(_.name)}")
  }

  test("simhash pigeonhole join shuffles carry only fixed-width columns") {
    Dedup.clearLshCache()
    // the memoized chunk index is built eagerly on first call; the
    // remaining per-call plan (equi-join + popcount) must shuffle only
    // fixed-width atomics
    val exs = shuffles(graft.ops.Curation.simhashMd5Pairs(spark,
      sf(""), seed = "planaudit|"))
    assert(exs.nonEmpty,
      "expected at least one shuffle in the pigeonhole pair plan")
    val offenders = exs.flatMap(_.output)
      .filter(a => a.dataType.isInstanceOf[ArrayType] ||
        a.dataType.typeName == "string")
    assert(offenders.isEmpty,
      s"pigeonhole join ships wide payloads: ${offenders.map(_.name)}")
    Dedup.clearLshCache()
  }

  test("pageRank's returned plan is cut: no join tower survives") {
    // every round ends in GraftSession.cut; the df handed back must sit
    // on materialized rank (LogicalRDD), not an iters-deep join chain.
    // If a future edit drops the cuts, 5 rounds leak >= 5 joins here.
    val ranked = Graph.pageRank(spark, sf(""), iters = 5, k = 10)
    val joins = ranked.queryExecution.optimizedPlan.collect {
      case j: Join => j
    }
    assert(joins.size <= 2,
      s"pageRank output plan carries ${joins.size} joins — lineage not cut")
  }

  test("two-level ranks: global windows only over aggregated buckets") {
    // the scalableRank / ksTest device: any Window with an EMPTY
    // partition spec (a single-partition global sort) is allowed only
    // above an Aggregate — i.e. over the sub-bucket offsets table
    // (value-range sized), never over the raw row stream. A future
    // edit that ranks rows with a bare Window.orderBy funnels the
    // whole table through one task and fails here. A grouped device
    // (groupedEquiDepth, by `g`) holds its offsets window to the same
    // rule per group: partitioned by the group keys alone.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for ((name, mk, groupKeys) <- Seq[(String, () => DataFrame, Set[String])](
        ("rfmSegments",
          () => graft.ops.Profiling.rfmSegments(spark, sf("")), Set()),
        ("mannWhitney",
          () => graft.ops.Profiling.mannWhitney(spark, sf("")), Set()),
        ("giniSpend",
          () => graft.ops.Profiling.giniSpend(spark, sf("")), Set()),
        ("perplexityBuckets",
          () => graft.ops.Curation.perplexityBuckets(spark, sf("")), Set()),
        ("qualityTokenCurve",
          () => graft.ops.TextOps.qualityTokenCurve(spark, sf("")), Set()),
        ("qualityLengthGrid",
          () => graft.ops.TextOps.qualityLengthGrid(spark, sf("")), Set()),
        ("vocabCoverage",
          () => graft.ops.TextOps.vocabCoverage(spark, sf("")), Set()),
        ("groupedEquiDepth",
          () => graft.ops.Profiling.groupedEquiDepth(spark, sf("")),
          Set("g")))) {
        val plan = mk().queryExecution.executedPlan
        val globals = plan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec
              if w.partitionSpec.forall {
                case a: org.apache.spark.sql.catalyst.expressions
                    .AttributeReference => groupKeys(a.name)
                case _ => false
              } => w
        }
        assert(globals.nonEmpty, s"$name: offset window expected")
        globals.foreach { w =>
          // the aggregate must be the window's DIRECT input (modulo
          // the sort/exchange/project/codegen plumbing Spark inserts),
          // not merely present somewhere deeper in the subtree — a
          // plan ranking raw rows above an unrelated upstream
          // aggregate must still fail this gate.
          import org.apache.spark.sql.execution._
          import org.apache.spark.sql.execution.exchange.Exchange
          @annotation.tailrec
          def feedsFromAggregate(p: SparkPlan): Boolean = p match {
            case _: aggregate.BaseAggregateExec => true
            case _: SortExec | _: Exchange | _: ProjectExec |
                _: FilterExec | _: WholeStageCodegenExec |
                _: InputAdapter | _: CoalesceExec =>
              feedsFromAggregate(p.children.head)
            case _ => false
          }
          assert(feedsFromAggregate(w.child),
            s"$name: global window over un-aggregated rows — " +
              "single-partition sort of the full table " +
              s"(window child: ${w.child.getClass.getSimpleName})")
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("perplexityBuckets: no ungrouped corpus-proportional collect") {
    // the r13 cutoff device put ~25% of all doc scores into ONE
    // sort_array(collect_list(...)) aggregate — a single task holding
    // tens of GB at 10^9 documents. The r14 subsplit-rank rewrite must
    // never regress: an Aggregate with EMPTY grouping whose functions
    // include collect_list/collect_set accumulates its whole input in
    // one task, and nothing in this plan's lineage is
    // corpus-independent (grouped collects — per-doc, per-bucket —
    // remain fine and are used elsewhere).
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.catalyst.expressions.aggregate.{
      AggregateExpression, CollectList, CollectSet}
    val plan = graft.ops.Curation.perplexityBuckets(spark, sf(""))
      .queryExecution.optimizedPlan
    val offenders = plan.collect {
      case a: Aggregate if a.groupingExpressions.isEmpty =>
        a.aggregateExpressions.flatMap(_.collect {
          case e: AggregateExpression
              if e.aggregateFunction.isInstanceOf[CollectList] ||
                e.aggregateFunction.isInstanceOf[CollectSet] => e
        })
    }.flatten
    assert(offenders.isEmpty,
      s"single-task whole-input collect in cutoff branch: $offenders")
  }

  test("hardNegatives shuffles bounded top-k state, no embedding arrays") {
    // the anchors broadcast (gated) and the only shuffle is the
    // per-anchor TopKByScore partial aggregation — k Scored entries
    // per partition, never candidate rows with their vectors. A
    // future edit that ranks with a window or ships embeddings
    // through the exchange fails here.
    val exs = shuffles(graft.ops.Similarity.hardNegatives(spark, sf("")))
    assert(exs.nonEmpty, "expected the top-k aggregation shuffle")
    val offenders = exs.flatMap(_.output).filter { a =>
      a.dataType match {
        case org.apache.spark.sql.types.ArrayType(et, _) =>
          // the bounded Seq[Scored] buffer is fine; raw float vectors
          // are not
          et == org.apache.spark.sql.types.FloatType
        case _ => false
      }
    }
    assert(offenders.isEmpty,
      s"hardNegatives ships embeddings through a shuffle: " +
        offenders.map(_.name).mkString(","))
  }

  test("bigramNll tokenizes once: no Window or Generate above the cut") {
    // r12 rewrite: ONE posexplode + ONE lead window, materialized by
    // GraftSession.cut; uni/bi/pairs all read the cut table. A future
    // edit that re-derives the token stream per consumer reintroduces
    // Generate (the tokenize explode) or Window (the lead sort) into
    // the returned plan — three corpus scans where one cut would do.
    val plan = graft.ops.TextOps.bigramNll(spark, sf(""))
      .queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, Window => LWindow}
    assert(plan.collect { case g: Generate => g }.isEmpty,
      "bigramNll re-tokenizes above the cut")
    assert(plan.collect { case w: LWindow => w }.isEmpty,
      "bigramNll re-sorts a lead window above the cut")
  }

  test("dupClusters' returned plan is cut: no per-round join chain") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val vertices = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("id")
    val labels = Dedup.connectedComponents(edges, vertices)
    val joins = labels.queryExecution.optimizedPlan.collect {
      case j: Join => j
    }
    assert(joins.size <= 2,
      s"dupClusters output plan carries ${joins.size} joins")
  }

  test("components' returned plan is cut and joins only on BIGINT ids") {
    // the min-label rounds each end in GraftSession.cut, so the census
    // handed back must read a materialized label table — zero joins —
    // and every intermediate (had the cuts leaked) would still move
    // only (node, lab) BIGINT pairs, never payloads
    val census = Graph.components(spark, sf(""), rounds = 6)
    val plan = census.queryExecution.optimizedPlan
    val joins = plan.collect { case j: Join => j }
    assert(joins.isEmpty,
      s"components output plan carries ${joins.size} joins — lineage not cut")
    val wide = plan.output.filterNot(a =>
      a.dataType == org.apache.spark.sql.types.LongType)
    assert(wide.isEmpty, s"non-BIGINT census columns: $wide")
  }

  test("forecastRevenueChange scan is pruned and date-pushed (q252)") {
    // the Q6 shape is the pushdown benchmark: a scan that reads more
    // than the 4 referenced columns, or one that lost its shipdate
    // bounds, re-reads the whole fact at 100 TB
    // static plan (same reasoning as `shuffles`: AQE hides the tree)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val scans = try {
      graft.ops.Relational.forecastRevenueChange(spark, sf(""))
        .queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(scans.size == 1)
    val cols = scans.head.output.map(_.name).toSet
    assert(cols == Set("l_quantity", "l_extendedprice", "l_discount",
      "l_shipdate"), s"scan reads $cols")
    val pushed = scans.head.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("l_shipdate"),
      s"shipdate bounds not pushed: $pushed")
    assert(pushed.contains("l_quantity"),
      s"quantity bound not pushed: $pushed")
  }

  test("valueMoments is one joinless aggregate over a 2-column scan (q266)") {
    // the moments profile must stay a single scan + map-side-combined
    // aggregate: a join or a third scanned column means the power-sum
    // device regressed into something that re-reads the fact at scale
    val df = graft.ops.Profiling.valueMoments(spark, sf(""))
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: Join => j
    }
    assert(joins.isEmpty, s"moments plan grew ${joins.size} joins")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val scans = try {
      df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(scans.size == 1)
    val cols = scans.head.output.map(_.name).toSet
    assert(cols == Set("event_type", "value"), s"scan reads $cols")
  }

  test("importantParts reuses the per-part exchange: one lineitem " +
      "scan (q255)") {
    // the global-total branch and the filter branch both hang off the
    // per-part aggregate; exchange reuse must collapse them onto ONE
    // lineitem scan — two scans means the HAVING-over-global shape
    // re-reads the fact table at 100 TB
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan = try {
      graft.ops.Relational.importantParts(spark, sf(""))
        .queryExecution.executedPlan
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val lineitemScans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.metadata.getOrElse("Location", "").contains("lineitem") =>
        f
    }
    assert(lineitemScans.size == 1,
      s"expected one reused lineitem scan, found ${lineitemScans.size}")
    val reused = plan.collect {
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        r
    }
    assert(reused.nonEmpty, "per-part exchange was not reused")
  }

  test("basketRules' basket-count side is broadcast, never shuffled (q267)") {
    // the 1-row n_baskets scalar must ride a broadcast exchange; if it
    // ever lands in a shuffle the plan degraded to a general join on a
    // corpus-wide scalar
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan = try {
      graft.ops.Graph.basketRules(spark, sf("")).queryExecution
        .executedPlan
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val bcast = plan.collect {
      case b: org.apache.spark.sql.execution.joins
        .BroadcastNestedLoopJoinExec => b
    }
    assert(bcast.nonEmpty, "n_baskets cross join lost its broadcast")
    val shuffled = plan.collect {
      case e: ShuffleExchangeExec
        if e.output.map(_.name).contains("n_baskets") => e
    }
    assert(shuffled.isEmpty, "n_baskets row travelled through a shuffle")
  }

  test("fanoutRegrain: repartitions a 1-split scan by the key, " +
      "no-ops at/above the session's parallelism, rows identical") {
    // the r17 device behind the gram/token/vector fan-outs: its two
    // contractual halves are (a) a scan whose split count is below
    // spark.sql.shuffle.partitions gains a hash repartition on the
    // key, with the row SET untouched, and (b) an input already at or
    // above that parallelism passes through with NO added exchange —
    // the 100 TB no-op half, which keeps the device out of
    // corpus-scale plans entirely
    val docs = graft.Tables.documents(spark, sf("documents"))
    assert(docs.rdd.getNumPartitions <
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val regrained = graft.GraftSession.fanoutRegrain(docs, col("doc_id"))
    assert(regrained.rdd.getNumPartitions ==
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    assert(regrained.select(col("doc_id")).collect().map(_.getLong(0))
      .sorted.sameElements(
        docs.select(col("doc_id")).collect().map(_.getLong(0)).sorted))
    // already-parallel input: the SAME dataset object comes back
    val wide = docs.repartition(64, col("doc_id"))
    assert(graft.GraftSession.fanoutRegrain(wide, col("doc_id"))
      eq wide)
  }
}
