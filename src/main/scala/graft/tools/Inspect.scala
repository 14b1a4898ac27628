package graft.tools

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.col

import graft.{GraftSession, SparkEntry}
import graft.ops.{Graph, IndexMemo}

/** The one developer-tool entry point. Each subcommand explains a plan
  * the engine really runs, on one [[GraftSession.local]] session at
  * `SPARK_GRAFT_SF_DIR` (default sf0.1, the source [[graft.Bench]]
  * reads):
  *
  *   - `plan <query...>` runs each named gate query, then prints its
  *     formatted FINAL adaptive plan — the join strategies and
  *     partition coalescing AQE chose at run time, not its
  *     pre-execution guess.
  *   - `memo <query...>` clears [[IndexMemo]], runs the queries once,
  *     then for each memo tag prints the build bill (wall seconds,
  *     nested builds bill both tags) and the physical plan each of the
  *     tag's pinned caches was built with.
  *   - `rounds [family...]` explains one steady-state round of each
  *     fixpoint family (default: all of [[Families]]) over the real
  *     pinned inputs, with the per-round broadcast choice the operator
  *     makes and whether the round's cut runs adaptively. The plan
  *     explained is the one the cut executes ([[GraftSession.cutPlan]]).
  *     A query-level explain cannot show these: every round passes
  *     through a lineage cut, so the query's plan reads an opaque
  *     checkpoint scan.
  *
  * Run from the repo root: `sbt "runMain graft.tools.Inspect plan
  * q01_pricing_summary"`. Per-query timing is `sbt "runMain graft.Bench
  * <query...>"`; the pinned-grain sweep is `sbt "testOnly
  * graft.PinnedGrainSpec"`. */
object Inspect {

  val Families: Seq[String] =
    Seq("sssp", "components", "lpa", "hits", "pagerank")

  private val Usage =
    "plan <query...> | memo <query...> | rounds [family...]"

  /** `SPARK_GRAFT_SF_DIR`, else the sf0.1 directory beside the sf0.001
    * one the committed plan snapshots are taken at. */
  private def envSfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
    Paths.get(PlanShapes.SfDir).resolveSibling("sf0.1").toString)

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val code = try run(spark, args.toSeq) finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** Runs one subcommand on `spark` (left running) and returns the exit
    * code: 0, or 2 after printing the valid choices to stderr when the
    * subcommand, a query or a family is unknown. */
  def run(spark: SparkSession, args: Seq[String],
      sfDir: String = envSfDir): Int = args match {
    case "plan" +: names => withQueries("plan", names) { qs =>
      qs.foreach { case (name, fn) =>
        header(name)
        explainRun(fn(spark, sfDir))
      }
    }
    case "memo" +: names => withQueries("memo", names) { qs =>
      IndexMemo.clear()
      qs.foreach { case (_, fn) => fn(spark, sfDir).count() }
      memoBuilds()
    }
    case "rounds" +: fams =>
      val unknown = fams.filterNot(Families.contains)
      if (unknown.nonEmpty)
        usageError(s"unknown family ${unknown.mkString(", ")}; " +
          s"families: ${Families.mkString(", ")}")
      else {
        rounds(spark, sfDir,
          if (fams.isEmpty) Families.toSet else fams.toSet)
        0
      }
    case _ =>
      usageError(s"unknown subcommand ${args.headOption.getOrElse("")}; " +
        s"usage: Inspect $Usage")
  }

  private def usageError(msg: String): Int = {
    Console.err.println(s"Inspect: $msg")
    2
  }

  private def withQueries(sub: String, names: Seq[String])(
      body: Seq[(String, SparkEntry.Q)] => Unit): Int = {
    if (names.isEmpty)
      usageError(s"$sub needs at least one query; " +
        s"queries: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
    else SparkEntry.select(names).fold(usageError,
      qs => { body(qs); 0 })
  }

  private def header(title: String): Unit =
    println(s"\n========== $title ==========")

  /** Runs `df`, so an adaptive plan prints as AQE's final one. */
  private def explainRun(df: DataFrame): Unit = {
    df.collect()
    df.explain("formatted")
  }

  private def memoBuilds(): Unit = {
    val pinned = IndexMemo.pinnedSnapshot.groupMap(_._1)(_._2)
    val bill = IndexMemo.buildNanosByTag.toSeq.sortBy(-_._2)
    bill.foreach { case (tag, ns) =>
      header(f"$tag: built in ${ns / 1e9}%.3f s")
      val caches = pinned.getOrElse(tag, Nil)
      if (caches.isEmpty) println("(no live pinned cache)")
      caches.zipWithIndex.foreach { case (df, i) =>
        println(s"-- pinned cache ${i + 1} of ${caches.size}: build plan")
        println(buildPlan(df))
      }
    }
  }

  /** The physical plan a pinned cache was built with, read off its
    * InMemoryRelation. The build's logical plan is never re-planned:
    * the cache manager would answer it with a scan of the cache. */
  private def buildPlan(df: DataFrame): String =
    df.sparkSession.sessionState.executePlan(df.queryExecution.analyzed)
      .withCachedData.collectFirst {
        case r: InMemoryRelation => r.cachedPlan.treeString
      }.getOrElse("(not a cached relation)")

  /** One section per family: build the operator's real round inputs,
    * run ONE real round for a representative materialized state (later
    * rounds all see a cut round output; the initial state is a
    * synthetic seed), then explain the NEXT round's expression — both
    * half-rounds for HITS. The header names the node count and the
    * state side the operator's broadcast gate picks for it, and
    * whether the round's cut runs adaptively or its static plan (no
    * shuffle for AQE to re-plan). The components and LPA sections add
    * a `-- runs:` line naming the form their operators run at that
    * node count: under the gate, driver-held labels, so the explained
    * cut round is the form above it. What to look for: whether the
    * per-round aggregation plans an Exchange between
    * its partial and final HashAggregate (none when the pinned edge
    * table's hash partitioning reaches it through the broadcast join),
    * and that the state-side Exchange moves node-sized rows, never
    * edge-grain partials. */
  private def rounds(spark: SparkSession, sfDir: String,
      fams: Set[String]): Unit = {
    def section(family: String, nNodes: Long, form: Option[String] = None)(
        rounds: (String, DataFrame)*): Unit = {
      val side =
        if (Graph.broadcastsRoundSide(nNodes)) "broadcast"
        else "shuffled (above the broadcast bound)"
      val cuts = rounds.map { case (label, df) =>
        (label, GraftSession.cutPlan(df))
      }
      val modes = cuts.map { case (label, df) =>
        val adaptive = df.queryExecution.executedPlan
          .isInstanceOf[AdaptiveSparkPlanExec]
        label -> (if (adaptive) "adaptive" else "static")
      }
      val cut = modes.map(_._2).distinct match {
        case Seq(mode) => s"round cut $mode"
        case _ => modes.map { case (l, m) => s"$l cut $m" }.mkString(", ")
      }
      header(s"$family: $nNodes nodes, $cut, state side $side")
      form.foreach(f => println(s"-- runs: $f"))
      cuts.foreach { case (label, df) =>
        println(s"-- $label")
        explainRun(df)
      }
    }
    if (fams("sssp")) {
      val (edges, dist0, n) = Graph.ssspRoundInputs(spark, sfDir)
      val dist1 = GraftSession.cut(Graph.ssspRound(edges, dist0, n))
      section("sssp", n)(
        "relaxation round" -> Graph.ssspRound(edges, dist1, n))
    }
    if (fams("components") || fams("lpa")) {
      val (und, lab0, n, _) = Graph.labelPropRoundInputs(spark, sfDir)
      val form = Some(Graph.labelRoundsForm(n))
      if (fams("components")) {
        val lab1 = GraftSession.cut(Graph.componentsRound(und, lab0, n))
        section("components", n, form)(
          "min-label round" -> Graph.componentsRound(und, lab1, n))
      }
      if (fams("lpa")) {
        val lab1 = GraftSession.cut(Graph.lpaRound(und, lab0, n))
        section("lpa", n, form)(
          "voting round" -> Graph.lpaRound(und, lab1, n))
      }
    }
    if (fams("hits")) {
      val (dir, dirC, hub0, nHubs, stateParts) =
        Graph.hitsRoundInputs(spark, sfDir)
      val auth1 = GraftSession.cut(
        Graph.hitsAuthRound(dir, hub0, nHubs, stateParts))
        .select(col("sup"), col("ar").as("a"))
      val hub1 = GraftSession.cut(Graph.hitsHubRound(dirC, auth1, nHubs))
        .select(col("c"), col("hr").as("h"))
      section("hits", nHubs)(
        "authority half-round" ->
          Graph.hitsAuthRound(dir, hub1, nHubs, stateParts),
        "hub half-round" -> Graph.hitsHubRound(dirC, auth1, nHubs))
    }
    if (fams("pagerank")) {
      val (edges, rank0, n) = Graph.pageRankRoundInputs(spark, sfDir)
      val rank1 = GraftSession.cut(Graph.pageRankContribs(edges, rank0, n)
        .select(col("dst").as("node"), col("c").as("rank")))
      section("pagerank", n)(
        "contribution round" -> Graph.pageRankContribs(edges, rank1, n))
    }
  }
}
