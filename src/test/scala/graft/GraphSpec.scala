package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Graph, Profiling, Temporal, TextOps}

/** The round-9 analytics batch: PageRank invariants, column-profile
  * exactness, SCD2 interval laws, basket-pair symmetry, join-size
  * estimator parity, fuzzy-blocking soundness, triangle counting,
  * equi-depth tiling, chi-square, Gopher rule consistency. (Each also
  * has a DuckDB hash oracle, q124-q135; these tests pin the algebraic
  * properties the hashes can't express.) */
class GraphSpec extends SparkTestBase {
  import spark.implicits._

  test("pageRank conserves rank mass approximately and ranks are positive") {
    val d = sf("orders")
    val full = Graph.pageRank(spark, d, iters = 3, k = 1000000)
    val ranks = full.select($"rank_scaled").as[Long].collect()
    assert(ranks.forall(_ > 0))
    // floor division loses at most (nodes + edges) units of mass per
    // iteration; total must stay within 1% of the 1e12 scale
    val total = ranks.sum
    assert(math.abs(total - 1000000000000L) < 10000000000L,
      s"mass drifted to $total")
    // a supplier trading with every customer must outrank a median node
    val byRank = full.orderBy($"rank_scaled".desc).collect()
    assert(byRank.head.getLong(1) >= byRank.last.getLong(1))
  }

  test("pageRank is deterministic across runs") {
    val d = sf("orders")
    val a = Graph.pageRank(spark, d, iters = 2, k = 10).collect().toSeq
    val b = Graph.pageRank(spark, d, iters = 2, k = 10).collect().toSeq
    assert(a == b)
  }

  test("pageRank under reliable checkpoints matches the local-cut run") {
    val d = sf("orders")
    val baseline = Graph.pageRank(spark, d, iters = 3, k = 10)
      .collect().toSeq
    val ckDir = java.nio.file.Files
      .createTempDirectory("graft-ck").toString
    GraftSession.enableReliableCheckpoints(spark, ckDir)
    try {
      val reliable = Graph.pageRank(spark, d, iters = 3, k = 10)
        .collect().toSeq
      assert(reliable == baseline)
      // the reliable path actually wrote RDD checkpoint files
      def anyFiles(p: java.io.File): Boolean = {
        val kids = Option(p.listFiles()).getOrElse(Array.empty)
        kids.exists(_.isFile) || kids.exists(anyFiles)
      }
      assert(anyFiles(new java.io.File(ckDir)),
        "no checkpoint files written under the configured dir")
    } finally {
      // restore the default posture for every other suite
      spark.conf.set("spark.graft.reliableCheckpoints", "false")
    }
  }

  test("cut and cutWith evaluate each round once in local and reliable " +
      "mode") {
    // a 1,000-row round whose UDF runs after a shuffle and counts its
    // evaluations: a checkpoint that recomputes the round on write
    // (a lazy reliable checkpoint) reads 2,000
    val evals = spark.sparkContext.longAccumulator("cut-round-evals")
    val tally = udf { (id: Long) => evals.add(1L); id }
    def round = spark.range(0, 1000, 1, 4).repartition(4, col("id"))
      .select(tally(col("id")).as("v"))
    def evaluations(body: => Unit): Long = { evals.reset(); body; evals.value }
    def checkBothForms(mode: String): Unit = {
      assert(evaluations(GraftSession.cut(round).count()) == 1000L,
        s"plain cut, $mode mode")
      assert(evaluations {
        val (out, Seq(total, n)) =
          GraftSession.cutWith(round, sum(col("v")), count(lit(1)))
        assert(total == 499500L && n == 1000L)
        assert(out.count() == 1000L)
      } == 1000L, s"witnessed cut, $mode mode")
      // the witnesses ride the checkpoint's own job: a witnessed cut
      // runs exactly the jobs of a plain one
      val plain = jobsRun(GraftSession.cut(round))
      val witnessed = jobsRun(
        GraftSession.cutWith(round, sum(col("v")), count(lit(1))))
      assert(witnessed == plain,
        s"$mode mode: cutWith ran $witnessed jobs, cut $plain")
    }
    checkBothForms("local")
    val ckDir = java.nio.file.Files
      .createTempDirectory("graft-ck-evals").toString
    GraftSession.enableReliableCheckpoints(spark, ckDir)
    try checkBothForms("reliable")
    finally spark.conf.set("spark.graft.reliableCheckpoints", "false")
  }

  test("components on a graph with no edges is an empty census") {
    val none = Seq.empty[(Long, Long)].toDF("u", "v")
    assert(Graph.componentLabels(none, 4).isEmpty)
    // no supplier pair co-occurs in a million orders at sf0.001
    val census = Graph.components(spark, sf("lineitem"), minSupport = 1000000)
    assert(census.isEmpty)
  }

  test("componentLabels runs at most two jobs per round, the same in " +
      "local and reliable mode") {
    // two components, {1,2,3} (a path: 3 takes label 1 in round two) and
    // {10,11}; both directions of every edge
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val und = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("u", "v")
    // pin the edge table (memoized) before counting
    Graph.componentLabels(und, 1).count()
    val rounds = 8
    def run(): (Int, Map[Long, Long]) = {
      var labels: Map[Long, Long] = null
      val jobs = jobsRun {
        val lab = Graph.componentLabels(und, rounds)
        labels = lab.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      (jobs, labels)
    }
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L)
    val (localJobs, localLabels) = run()
    assert(localLabels == expected)
    val ckDir = java.nio.file.Files
      .createTempDirectory("graft-ck-components").toString
    GraftSession.enableReliableCheckpoints(spark, ckDir)
    val (reliableJobs, reliableLabels) =
      try run()
      finally spark.conf.set("spark.graft.reliableCheckpoints", "false")
    assert(reliableLabels == expected)
    assert(reliableJobs == localJobs,
      s"reliable mode ran $reliableJobs jobs, local mode $localJobs")
    // rounds 1 and 2 change labels, round 3 confirms the fixpoint:
    // 3 rounds at <= 2 jobs each, plus the prep cut and the collect
    val prep = jobsRun(Graph.labelPropPrep(und))
    assert(localJobs <= 3 * 2 + prep + 1,
      s"componentLabels ran $localJobs jobs (prep $prep)")
  }

  test("under the broadcast gate componentLabels and lpaLabels run one " +
      "job per round, the same in local and reliable mode, write no " +
      "checkpoint file and leave nothing persisted") {
    // components {1,2,3} (a path) and {10,11}: the min-label rounds
    // change labels twice and confirm the fixpoint in round three; LPA
    // runs exactly its 4 rounds and lands on the same partition
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    val und = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("u", "v")
    // pin the edge table (memoized) before counting
    Graph.componentLabels(und, 1).count()
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs.keySet
    def labels(lab: => org.apache.spark.sql.DataFrame)
        : (Int, Map[Long, Long]) = {
      var got: Map[Long, Long] = null
      val jobs = jobsRun {
        got = lab.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      (jobs, got)
    }
    def run(): Seq[(Int, Map[Long, Long])] = Seq(
      labels(Graph.componentLabels(und, 8)), labels(Graph.lpaLabels(und, 4)))
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L)
    val local = run()
    assert(local.map(_._2) == Seq(expected, expected))
    // the rounds, then the collect of the returned labels
    assert(local.map(_._1) == Seq(3 + 1, 4 + 1), local)
    val ckDir = java.nio.file.Files
      .createTempDirectory("graft-ck-driver-labels").toFile
    GraftSession.enableReliableCheckpoints(spark, ckDir.toString)
    val reliable =
      try run()
      finally spark.conf.set("spark.graft.reliableCheckpoints", "false")
    assert(reliable == local)
    def bytes(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles()).toSeq.flatten.map(bytes).sum
    assert(bytes(ckDir) == 0L, s"checkpoint files under $ckDir")
    assert(sc.getPersistentRDDs.keySet == persisted)
    // the cut rounds, the form above the gate, agree
    assert(local.map(_._2) == Seq(
      Graph.componentLabels(und, 8, driverRounds = false),
      Graph.lpaLabels(und, 4, driverRounds = false))
      .map(_.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap))
  }

  test("the driver LPA rounds refuse an edge table not clustered on v") {
    val und = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("u", "v")
    val e = intercept[IllegalArgumentException](
      Graph.requireClusteredOnV(und.repartition(3, col("u"))))
    assert(e.getMessage.contains("not clustered on v"), e.getMessage)
    assert(Graph.requireClusteredOnV(und.repartition(3, col("v"))) == 1)
  }

  test("ssspFrom's fixpoint witness rides the round cut: no job beyond " +
      "the rounds', the same in local and reliable mode") {
    // rounds 1-3 lower costs (4 is reached at 26, then 21), round 4
    // confirms the fixpoint through the cut's (count, sum) witness
    val edges = Seq((1L, 2L, 10L), (2L, 3L, 10L), (1L, 3L, 25L),
      (3L, 4L, 1L)).toDF("src", "dst", "cost")
    val rounds = 8
    def run(): (Int, Map[Long, Long]) = {
      var costs: Map[Long, Long] = null
      val jobs = jobsRun {
        costs = Graph.ssspFrom(edges, 1L, rounds).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      (jobs, costs)
    }
    val expected = Map(1L -> 0L, 2L -> 10L, 3L -> 20L, 4L -> 21L)
    val (localJobs, localCosts) = run()
    assert(localCosts == expected)
    val ckDir = java.nio.file.Files
      .createTempDirectory("graft-ck-sssp").toString
    GraftSession.enableReliableCheckpoints(spark, ckDir)
    val (reliableJobs, reliableCosts) =
      try run()
      finally spark.conf.set("spark.graft.reliableCheckpoints", "false")
    assert(reliableCosts == expected)
    assert(reliableJobs == localJobs,
      s"reliable mode ran $reliableJobs jobs, local mode $localJobs")
    // 4 rounds at a plain (unwitnessed) round cut's jobs each, plus the
    // source-state cut and the collect: the witness costs no job
    val source = GraftSession.cut(spark.range(1)
      .select(lit(1L).as("node"), lit(0L).as("cost")))
    val round = jobsRun(GraftSession.cut(
      Graph.ssspRound(edges, source, Long.MaxValue)))
    assert(localJobs <= 4 * round + 1 + 1,
      s"ssspFrom ran $localJobs jobs, a plain round cut $round")
  }

  test("components and kCore under reliable checkpoints match local-cut") {
    val d = sf("lineitem")
    val baseCensus = Graph.components(spark, d).collect().toSeq
    val baseCore = Graph.kCore(spark, d).collect().toSeq
    val ckDir = java.nio.file.Files
      .createTempDirectory("graft-ck2").toString
    GraftSession.enableReliableCheckpoints(spark, ckDir)
    try {
      assert(Graph.components(spark, d).collect().toSeq == baseCensus)
      assert(Graph.kCore(spark, d).collect().toSeq == baseCore)
    } finally {
      spark.conf.set("spark.graft.reliableCheckpoints", "false")
    }
  }

  test("degreeProfile node count equals distinct trade endpoints") {
    val d = sf("orders")
    val profiled = Graph.degreeProfile(spark, d)
      .agg(sum($"n_nodes")).as[Long].collect()(0)
    val nodes = Graph.tradeEdges(spark, d)
      .select($"src").distinct().count()
    assert(profiled == nodes)
  }

  test("basketPairs is canonical (a < b) and bounded by order count") {
    val d = sf("lineitem")
    val rows = Graph.basketPairs(spark, d, k = 50).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    val nOrders = Tables.lineitem(spark, d)
      .select($"l_orderkey").distinct().count()
    assert(rows.forall(_.getLong(2) <= nOrders))
  }

  test("columnProfile matches direct per-column aggregates") {
    val d = sf("lineitem")
    val prof = Profiling.columnProfile(spark, d).collect()
      .map(r => r.getString(0) -> r).toMap
    val li = Tables.lineitem(spark, d)
    val n = li.count()
    assert(prof.values.forall(_.getLong(1) == n))
    val qty = prof("l_quantity")
    assert(qty.getLong(2) == 0) // no nulls in testdata
    assert(qty.getLong(3) ==
      li.select($"l_quantity").distinct().count())
    assert(qty.getDouble(4) ==
      li.agg(min($"l_quantity")).as[Double].collect()(0))
    // string columns: ndv exact, min/max null under numeric cast
    val rf = prof("l_returnflag")
    assert(rf.getLong(3) ==
      li.select($"l_returnflag").distinct().count())
    assert(rf.isNullAt(4) && rf.isNullAt(5))
  }

  test("scd2Intervals tile each user's timeline without overlap") {
    val d = sf("events")
    val iv = Temporal.scd2Intervals(spark, d)
    // versions are 1..K dense per user; valid_to equals the next
    // version's valid_from; n_events sums to the user's event count
    val perUser = iv.orderBy($"user_id", $"version")
      .collect().groupBy(_.getLong(0))
    perUser.values.foreach { rows =>
      rows.zipWithIndex.foreach { case (r, i) =>
        assert(r.getLong(1) == i + 1L) // dense versions
      }
      rows.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getLong(4) == b.getLong(3)) // valid_to chains
          assert(a.getLong(3) < b.getLong(3)) // strictly advancing
        case _ => ()
      }
      assert(rows.last.isNullAt(4)) // current row is open-ended
    }
    val total = iv.agg(sum($"n_events")).as[Long].collect()(0)
    assert(total == Tables.events(spark, d).count())
  }

  test("scd2Intervals never emits two consecutive equal event_types") {
    val d = sf("events")
    Temporal.scd2Intervals(spark, d).orderBy($"user_id", $"version")
      .collect().groupBy(_.getLong(0)).values.foreach { rows =>
        rows.sliding(2).foreach {
          case Array(a, b) => assert(a.getString(2) != b.getString(2))
          case _ => ()
        }
      }
  }

  test("joinSizeEstimate matches the true self-join cardinality") {
    val d = sf("lineitem")
    val est = graft.ops.Profiling.joinSizeEstimate(spark, d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val li = Tables.lineitem(spark, d)
    // the estimator is EXACT for a self equi-join: verify against a
    // real (small-sf) self-join count on l_suppkey
    val actual = li.select($"l_suppkey".as("k"))
      .join(li.select($"l_suppkey".as("k")), "k").count()
    assert(est("l_suppkey")._2 == actual)
    assert(est("l_orderkey")._1 ==
      li.select($"l_orderkey").distinct().count())
    assert(est.values.forall { case (nk, pairs, mx) =>
      pairs >= nk && mx * mx <= pairs
    })
  }

  test("fuzzyNamePairs finds only within-threshold, canonical pairs") {
    val d = sf("customer")
    // blockWidth = 2 explicitly: sf0.001's 150 names have unique
    // last-3 suffixes (the r12 default would yield singleton blocks);
    // the brute mirror below blocks on the same 2-char key
    val rows = graft.ops.Linkage.fuzzyNamePairs(spark, d, maxDist = 2,
      k = 1000000, blockWidth = 2).collect()
    assert(rows.nonEmpty) // TPC-H names differ in trailing digits
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1))
      assert(r.getLong(2) <= 2L && r.getLong(2) >= 1L)
    }
    // soundness vs an unblocked (brute) scan restricted to one block:
    // every brute pair whose block key matches must be found
    val names = Tables.customer(spark, d).select($"c_name").as[String]
      .collect()
    val brute = for {
      a <- names; b <- names
      if a < b && a.takeRight(2) == b.takeRight(2)
      dist = {
        val la = a.length; val lb = b.length
        val dp = Array.tabulate(la + 1)(i => Array.tabulate(lb + 1)(j =>
          if (i == 0) j else if (j == 0) i else 0))
        for (i <- 1 to la; j <- 1 to lb)
          dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
            dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        dp(la)(lb)
      }
      if dist <= 2
    } yield (a, b)
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSet ==
      brute.toSet)
  }

  test("triangleCount matches a brute-force closed-wedge count") {
    val d = sf("lineitem")
    val row = graft.ops.Graph.triangleCount(spark, d).collect()(0)
    val li = Tables.lineitem(spark, d)
      .select($"l_orderkey", $"l_suppkey").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = li.groupBy(_._1).map { case (k, v) =>
      k -> v.map(_._2).sorted
    }
    val support = scala.collection.mutable.Map.empty[(Long, Long), Int]
    byOrder.values.foreach { ss =>
      for (i <- ss.indices; j <- i + 1 until ss.length) {
        val e = (ss(i), ss(j))
        support(e) = support.getOrElse(e, 0) + 1
      }
    }
    // keys.toSet, NOT collect{...=>key}: a tuple-valued collect on a
    // Map rebuilds a Map, collapsing edges by their first endpoint
    val edges = support.filter(_._2 >= 7).keys.toSet
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    // yield the triple, not a constant: the inner generators are Sets
    // and a constant would dedup across wedges
    val brute = (for {
      (a, bs) <- adj.toSeq; b <- bs; c <- adj.getOrElse(b, Set.empty)
      if edges.contains((a, c))
    } yield (a, b, c)).size
    assert(row.getLong(0) == (edges.flatMap(e => Seq(e._1, e._2)).size))
    assert(row.getLong(1) == edges.size)
    assert(row.getLong(2) == brute)
  }

  test("equiDepthHistogram buckets differ by at most one row and tile") {
    val d = sf("orders")
    val rows = graft.ops.Profiling.equiDepthHistogram(spark, d, 10)
      .collect()
    assert(rows.map(_.getLong(0)).toSeq == (0L until 10L))
    val sizes = rows.map(_.getLong(1))
    assert(sizes.max - sizes.min <= 1)
    assert(sizes.sum == Tables.orders(spark, d).count())
    // bucket value ranges are non-overlapping and ordered
    rows.sliding(2).foreach {
      case Array(a, b) => assert(a.getDouble(3) <= b.getDouble(2))
      case _ => ()
    }
  }

  test("chiSquareIndependence matches a driver-side computation") {
    val d = sf("documents")
    val row = graft.ops.Profiling.chiSquareIndependence(spark, d)
      .collect()(0)
    val docs = Tables.documents(spark, d)
      .select($"lang", $"source").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val cells = docs.groupBy(identity).map { case (k, v) => k -> v.length }
    val rt = docs.groupBy(_._1).map { case (k, v) => k -> v.length }
    val ct = docs.groupBy(_._2).map { case (k, v) => k -> v.length }
    val n = docs.length.toDouble
    val chi2 = cells.toSeq.sortBy(_._1).map { case ((l, src), o) =>
      val dev = o * n - rt(l).toDouble * ct(src)
      dev * dev / (n * rt(l) * ct(src))
    }.sum
    assert(row.getLong(0) == cells.size)
    assert(row.getLong(1) == (rt.size - 1L) * (ct.size - 1L))
    assert(math.abs(row.getDouble(2) - chi2) < 1e-4)
    assert(row.getDouble(2) >= 0.0)
  }

  test("bfsHopsFrom computes exact hop distances on a known graph") {
    // chain 1-2-3-4-5 plus a shortcut 1-4: hops(4) must take the
    // shortcut (1), hops(5) = 2, and node 6 (disconnected) is absent
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val out = Graph.bfsHopsFrom(edges, 1L, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L, 5L -> 2L))
  }

  test("bfsHops: layered frontier law over the trade graph") {
    val d = sf("orders")
    val rows = Graph.bfsHops(spark, d, maxHops = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(rows.nonEmpty && rows.count(_._2 == 0L) == 1)
    // bipartite invariant: even hops are customers, odd hops suppliers
    rows.foreach { case (label, h) =>
      assert(if (h % 2 == 0) label.startsWith("c") else label.startsWith("s"),
        s"$label at hop $h breaks bipartite layering")
    }
  }

  test("bfsDist builds ONE walk per source across radii, and a " +
      "smaller radius is a pure filter of the capped walk") {
    Dedup.clearLshCache()
    val d = sf("orders")
    def builds() =
      graft.ops.IndexMemo.buildCounts.getOrElse("bfsDist", 0L)
    // r16: min-hops are prefix-stable, so (source, 4) and (source, 6)
    // resolve to the same cap-8 walk — one build, not two
    val h4 = Graph.bfsHops(spark, d, maxHops = 4).collect()
    val afterFirst = builds()
    assert(afterFirst == 1L, s"expected 1 bfsDist build, got $afterFirst")
    val h6 = Graph.bfsHops(spark, d, maxHops = 6).collect()
    assert(builds() == afterFirst,
      "a deeper radius under the cap must reuse the per-source walk")
    // filter semantics: the radius-4 rows are exactly the radius-6
    // rows at hops <= 4 (same min hop per node, nothing re-labeled)
    val m6 = h6.map(r => r.getString(0) -> r.getLong(1)).toMap
    val m4 = h4.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m4 == m6.filter(_._2 <= 4L))
  }

  test("ssspFrom relaxes to exact cheapest costs on a known graph") {
    // 1->2 cost 10, 2->3 cost 10, 1->3 cost 25: the two-edge route
    // wins (20 < 25); 3->4 cost 1 rides on it; within 4 rounds
    val edges = Seq((1L, 2L, 10L), (2L, 3L, 10L), (1L, 3L, 25L),
      (3L, 4L, 1L)).toDF("src", "dst", "cost")
    val out = Graph.ssspFrom(edges, 1L, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 0L, 2L -> 10L, 3L -> 20L, 4L -> 21L))
  }

  test("iterative early exits are result-identical to the full unroll") {
    // a round budget far past convergence must return exactly the
    // converged answer (and, via the fixpoint exits, without paying
    // for the dead rounds): BFS stops on an empty frontier, SSSP on
    // an unchanged (count, sum) witness
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val hops = Graph.bfsHopsFrom(edges, 1L, 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hops == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    val wedges = Seq((1L, 2L, 10L), (2L, 3L, 10L), (1L, 3L, 25L),
      (3L, 4L, 1L)).toDF("src", "dst", "cost")
    val costs = Graph.ssspFrom(wedges, 1L, 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(costs == Map(1L -> 0L, 2L -> 10L, 3L -> 20L, 4L -> 21L))
  }

  test("ssspCost dominates bfsHops: cost path never uses more rounds") {
    val d = sf("orders")
    val costs = Graph.ssspCost(spark, d, rounds = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val hops = Graph.bfsHops(spark, d, maxHops = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // identical reachable sets (both are 3-round closures of the same
    // connectivity), zero cost exactly at the source
    assert(costs.keySet == hops.keySet)
    assert(costs.count(_._2 == 0L) == 1)
    costs.foreach { case (n, c) => assert(c >= 0L, s"$n negative") }
  }

  test("personalizedPageRank: deterministic, positive, source-anchored") {
    val d = sf("orders")
    val a = Graph.personalizedPageRank(spark, d, iters = 2, k = 50)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val b = Graph.personalizedPageRank(spark, d, iters = 2, k = 50)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(a.sameElements(b)) // exact integer arithmetic -> identical
    assert(a.forall(_._2 > 0L))
    // the restart anchor keeps the source in the top ranks
    assert(a.take(5).exists(_._1 == "c1"), s"c1 not near top: ${a.take(5).toSeq}")
    // personalization: top ranks differ from the global PageRank top
    val global = Graph.pageRank(spark, d, iters = 2, k = 50)
      .collect().map(_.getString(0))
    assert(a.map(_._1).toSeq != global.toSeq)
  }

  test("clusteringCoefficient: cc in [0,1] and wedge identity holds") {
    val d = sf("orders")
    val row = Graph.clusteringCoefficient(spark, d, minSupport = 5).head()
    val (w, t, cc) = (row.getLong(0), row.getLong(1), row.getDouble(2))
    assert(w > 0 && t >= 0)
    assert(cc >= 0.0 && cc <= 1.0)
    assert(math.abs(cc - 3.0 * t / w) < 1e-6)
  }

  test("nodeJaccard: scores in (0,1], exact on a known two-triangle graph") {
    val d = sf("orders")
    val rows = Graph.nodeJaccard(spark, d, minSupport = 5, k = 20).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      val (inter, j) = (r.getLong(2), r.getDouble(3))
      assert(inter >= 1L && j > 0.0 && j <= 1.0)
    }
    val js = rows.map(_.getDouble(3))
    assert(js.zip(js.tail).forall { case (a, b) => a >= b })
  }

  test("adamicAdar scores match a driver-side recomputation") {
    val d = sf("orders")
    val rows = Graph.adamicAdar(spark, d, minSupport = 5, k = 20).collect()
    assert(rows.nonEmpty)
    // rebuild the thresholded co-purchase adjacency on the driver
    val li = graft.Tables.lineitem(spark, d)
      .select(col("l_orderkey"), col("l_suppkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val pairs = li.groupBy(_._1).values.flatMap { os =>
      val ss = os.map(_._2).sorted
      for (i <- ss.indices; j <- i + 1 until ss.length)
        yield (ss(i), ss(j))
    }.groupBy(identity).filter(_._2.size >= 5).keys.toSeq
    val adj = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    rows.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val shared = adj(a).intersect(adj(b)).toSeq.sorted
      assert(r.getLong(2) == shared.length, s"($a,$b) n_shared")
      val aa = shared.foldLeft(0.0)((acc, z) =>
        acc + 1.0 / math.log(adj(z).size.toDouble))
      assert(math.abs(r.getDouble(3) - aa) < 1e-5, s"($a,$b) score")
    }
  }

  test("ksTest equals a driver-side brute-force two-sample KS") {
    val d = sf("orders")
    val row = Profiling.ksTest(spark, d).head()
    val prices = graft.Tables.orders(spark, d)
      .select(round(col("o_totalprice") * 100, 0).cast("long").as("v"),
        (col("o_orderkey") % 2).as("g")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val a = prices.filter(_._2 == 0L).map(_._1).sorted
    val b = prices.filter(_._2 != 0L).map(_._1).sorted
    val vs = (a ++ b).distinct.sorted
    val dNum = vs.map { v =>
      val ca = a.count(_ <= v).toLong
      val cb = b.count(_ <= v).toLong
      math.abs(ca * b.length - cb * a.length)
    }.max
    assert(row.getLong(0) == a.length && row.getLong(1) == b.length)
    assert(row.getLong(2) == dNum)
    // ks is rounded to 6 decimals in the query output
    assert(math.abs(row.getDouble(3) -
      dNum.toDouble / (a.length.toLong * b.length)) < 5e-7)
  }

  private def centsByCustomer(d: String): Map[Long, (Long, Long, Long)] =
    graft.Tables.orders(spark, d)
      .select(col("o_custkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("c"),
        unix_micros(col("o_orderdate").cast("timestamp_ltz")).as("ts"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
      .map { case (k, rows) =>
        k -> (rows.map(_._3).max, rows.length.toLong, rows.map(_._2).sum)
      }

  test("giniSpend equals the brute-force rank formula") {
    val d = sf("orders")
    val row = Profiling.giniSpend(spark, d).head()
    val spend = centsByCustomer(d).map { case (k, (_, _, m)) => (k, m) }
      .toSeq.sortBy(x => (x._2, x._1))
    val n = spend.length.toLong
    val sv = spend.map(x => BigInt(x._2)).sum
    val siv = spend.zipWithIndex
      .map { case ((_, v), i) => BigInt(i + 1) * v }.sum
    val gini = (BigInt(2) * siv - BigInt(n + 1) * sv).toDouble /
      (BigInt(n) * sv).toDouble
    assert(row.getLong(0) == n)
    assert(math.abs(row.getDouble(1) - gini) < 5e-7)
    assert(row.getDouble(1) > 0.0 && row.getDouble(1) < 1.0)
  }

  test("lorenzDeciles matches the brute curve; monotone, ends at 1") {
    val d = sf("orders")
    val rows = Profiling.lorenzDeciles(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    val spend = centsByCustomer(d).map { case (k, (_, _, m)) => (k, m) }
      .toSeq.sortBy(x => (x._2, x._1))
    val n = spend.length.toLong
    val tot = spend.map(x => BigInt(x._2)).sum.toDouble
    val brute = spend.zipWithIndex
      .groupBy { case (_, i) => i.toLong * 10 / n + 1 }
      .toSeq.sortBy(_._1)
      .map { case (dec, xs) =>
        (dec, xs.length.toLong, xs.map(x => BigInt(x._1._2)).sum) }
    assert(rows.map(r => (r._1, r._2)) === brute.map(b => (b._1, b._2)))
    rows.zip(brute).foreach { case ((_, _, share, _), (_, _, sv)) =>
      assert(math.abs(share - sv.toDouble / tot) < 5e-7)
    }
    // cum_share is monotone, each decile ≥ the previous (ascending
    // ranks), and the curve closes at exactly 1
    assert(rows.map(_._4).toSeq == rows.map(_._4).sorted.toSeq)
    assert(rows.sliding(2).forall {
      case Array(a, b) => b._3 >= a._3 - 1e-9; case _ => true })
    assert(math.abs(rows.last._4 - 1.0) < 1e-9)
  }

  test("eigenvectorCentrality matches a driver power iteration") {
    val d = sf("orders")
    val got = Graph.eigenvectorCentrality(spark, d, iters = 3, k = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val edges = Graph.tradeEdges(spark, d)
      .as[(Long, Long)].collect()
    val nodes = edges.map(_._1).distinct.sorted
    val scale = 1000000000000L
    var x = nodes.map(_ -> scale / nodes.length).toMap
    for (_ <- 1 to 3) {
      val raw = edges.groupBy(_._2)
        .map { case (v, es) => v -> es.map(e => x(e._1)).sum }
      val dScale = raw.values.sum / scale
      x = raw.map { case (v, xr) => v -> xr / dScale }
    }
    val label = (v: Long) =>
      (if (v % 2 == 0) "c" else "s") + (v >> 1).toString
    val brute = x.toSeq.map { case (v, s0) => label(v) -> s0 }
      .sortBy { case (l, s0) => (-s0, l) }.take(10)
    assert(got.toSeq == brute)
  }

  test("atkinsonIndex matches brute force and sits in [0, 1)") {
    val d = sf("orders")
    val row = Profiling.atkinsonIndex(spark, d).head()
    val spend = centsByCustomer(d).map { case (_, (_, _, m)) => m }.toSeq
    val n = spend.length.toDouble
    val mean = spend.map(BigInt(_)).sum.toDouble / n
    val gm = math.exp(spend.map(v => math.log(v.toDouble)).sum / n)
    assert(row.getLong(0) == spend.length.toLong)
    assert(math.abs(row.getDouble(1) - (1.0 - gm / mean)) < 1e-5)
    assert(row.getDouble(1) >= 0.0 && row.getDouble(1) < 1.0)
  }

  test("kTruss matches a brute-force converged peel; nests in kCore") {
    val d = sf("lineitem")
    val row = Graph.kTruss(spark, d, kTruss = 3, rounds = 8).head()
    var core = bruteCopurchaseEdges(d)
    var changed = true
    while (changed) {
      val adj = core.toSeq.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
        .groupBy(_._1).map { case (u, v) => u -> v.map(_._2).toSet }
      val next = core.filter { case (a, b) =>
        (adj(a) & adj(b)).nonEmpty } // >= 1 triangle per edge
      changed = next.size != core.size
      core = next
    }
    val nodes = core.flatMap(e => Seq(e._1, e._2))
    assert(row.getLong(0) == core.size.toLong,
      s"truss edges ${row.getLong(0)} != brute ${core.size}")
    assert(row.getLong(1) == nodes.size.toLong)
  }

  test("kTruss rejects the trivial k = 2 it cannot answer") {
    // minTri = 0 would still drop triangle-free edges (no support row
    // survives the left_semi), silently mis-answering the identity
    // case — so both generators refuse it up front
    intercept[IllegalArgumentException] {
      Graph.kTruss(spark, sf("lineitem"), kTruss = 2)
    }
    intercept[IllegalArgumentException] { Graph.kTrussSql(kTruss = 2) }
  }

  test("weightedPageRank: deterministic, positive, differs from uniform") {
    val d = sf("orders")
    val a = Graph.weightedPageRank(spark, d, iters = 3, k = 50)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val b = Graph.weightedPageRank(spark, d, iters = 3, k = 50)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(a.sameElements(b), "not deterministic")
    assert(a.forall(_._2 > 0L))
    // tie-strength weighting must actually change the ranking
    // somewhere vs the uniform-split walk
    val uni = Graph.pageRank(spark, d, iters = 3, k = 50)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(!a.sameElements(uni), "weights had no effect")
  }

  test("butterflyCensus matches brute C4 counting, both orientations") {
    val d = sf("orders")
    val row = Graph.butterflyCensus(spark, d).head()
    val sc = graft.Tables.orders(spark, d)
      .select($"o_orderkey", $"o_custkey")
      .join(graft.Tables.lineitem(spark, d)
        .select($"l_orderkey".as("o_orderkey"), $"l_suppkey"),
        "o_orderkey")
      .select($"l_suppkey", $"o_custkey").distinct()
      .as[(Long, Long)].collect()
    // supplier-pair orientation (what the op returns)
    val bySup = sc.groupBy(_._2).values // customer -> its suppliers
      .flatMap { g =>
        val ss = g.map(_._1).sorted
        for (i <- ss.indices; j <- i + 1 until ss.length)
          yield (ss(i), ss(j))
      }.groupBy(identity).map(_._2.size.toLong)
    val bf1 = bySup.map(w => BigInt(w) * (w - 1) / 2).sum
    // customer-pair orientation must count the SAME butterflies
    val byCust = sc.groupBy(_._1).values
      .flatMap { g =>
        val cs = g.map(_._2).sorted
        for (i <- cs.indices; j <- i + 1 until cs.length)
          yield (cs(i), cs(j))
      }.groupBy(identity).map(_._2.size.toLong)
    val bf2 = byCust.map(w => BigInt(w) * (w - 1) / 2).sum
    assert(bf1 == bf2, "orientation symmetry broken")
    assert(row.getLong(0) == bySup.size.toLong)
    assert(row.getLong(1) == bySup.count(_ >= 2).toLong)
    assert(BigInt(row.getLong(2)) == bf1)
  }

  test("degreePowerLaw matches the brute CSN MLE") {
    val d = sf("orders")
    val row = Graph.degreePowerLaw(spark, d).head()
    val deg = Graph.tradeEdges(spark, d).groupBy("src").count()
      .as[(Long, Long)].collect().map(_._2)
    val dmin = deg.min
    val sn = deg.map(x => math.log(x.toDouble / (dmin - 0.5))).sum
    assert(row.getLong(0) == deg.length.toLong)
    assert(row.getLong(1) == dmin)
    assert(math.abs(row.getDouble(2) - (1.0 + deg.length / sn)) < 1e-4)
    // a tail exponent must exceed 1 (normalizability)
    assert(row.getDouble(2) > 1.0)
  }

  test("theilIndex matches brute force; decomposition adds up") {
    val d = sf("orders")
    val row = Profiling.theilIndex(spark, d).head()
    val spend = centsByCustomer(d).map { case (k, (_, _, m)) => (k, m) }
    val nat = graft.Tables.customer(spark, d)
      .select($"c_custkey", $"c_nationkey")
      .as[(Long, Long)].collect().toMap
    val n = spend.size.toDouble
    val x = spend.values.map(BigInt(_)).sum.toDouble
    val total = spend.values.map(v => v / x * math.log(n * v / x)).sum
    val grp = spend.toSeq.groupBy { case (k, _) => nat(k) }
    val between = grp.values.map { xs =>
      val sg = xs.map(_._2).map(BigInt(_)).sum.toDouble / x
      sg * math.log(sg / (xs.size / n))
    }.sum
    assert(row.getLong(0) == spend.size.toLong)
    assert(math.abs(row.getDouble(1) - total) < 1e-5)
    assert(math.abs(row.getDouble(2) - between) < 1e-5)
    // the decomposition is exact by construction (within = total −
    // between in the same nano units), and both parts are ≥ ~0
    assert(math.abs(row.getDouble(1) - row.getDouble(2)
      - row.getDouble(3)) < 2e-6)
    assert(row.getDouble(1) > 0 && row.getDouble(2) >= -1e-9)
  }

  test("benfordDigits counts leading cents digits, shares sum to 1") {
    val d = sf("orders")
    val rows = Profiling.benfordDigits(spark, d).collect()
    val cents = graft.Tables.orders(spark, d)
      .select(round(col("o_totalprice") * 100, 0).cast("long"))
      .collect().map(_.getLong(0))
    val exp = cents.groupBy(_.toString.head.asDigit)
      .map { case (dg, xs) => dg -> xs.length.toLong }
    assert(rows.map(r => r.getInt(0) -> r.getLong(1)).toMap == exp)
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-4)
    rows.foreach { r =>
      val bp = math.log10(1.0 + 1.0 / r.getInt(0))
      assert(math.abs(r.getDouble(3) - bp) < 5e-7)
    }
  }

  test("mannWhitney matches brute-force average-rank U and AUC") {
    val d = sf("orders")
    val row = Profiling.mannWhitney(spark, d).head()
    val vals = graft.Tables.orders(spark, d)
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(round(col("o_totalprice") * 100, 0).cast("long"),
        col("o_orderpriority"))
      .collect().map(r => (r.getLong(0), r.getString(1) == "1-URGENT"))
    val n1 = vals.count(_._2).toLong
    val n2 = vals.length - n1
    // doubled average ranks keep ties integral
    val sorted = vals.map(_._1).sorted
    def rank2(v: Long): Long = {
      val lo = sorted.count(_ < v).toLong
      val c = sorted.count(_ == v).toLong
      2 * lo + c + 1
    }
    val r2x = vals.filter(_._2).map(x => rank2(x._1)).sum
    val u2a = r2x - n1 * (n1 + 1)
    assert(row.getLong(0) == n1 && row.getLong(1) == n2)
    assert(row.getLong(2) == u2a)
    assert(row.getLong(3) == 2 * n1 * n2 - u2a)
    assert(math.abs(row.getDouble(4) -
      u2a.toDouble / (2.0 * n1 * n2)) < 5e-7)
  }

  test("rfmSegments equals brute-force ntile(5) over each metric") {
    val d = sf("orders")
    val rows = Profiling.rfmSegments(spark, d).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getLong(3))
      .toMap
    val base = centsByCustomer(d)
    val n = base.size
    def ntile5(order: Seq[Long]): Map[Long, Int] = {
      val q = n / 5; val rem = n % 5
      order.zipWithIndex.map { case (k, i) =>
        val r = i + 1
        val b =
          if (r <= rem * (q + 1)) (r - 1) / (q + 1) + 1
          else rem + (r - rem * (q + 1) - 1) / q + 1
        k -> b
      }.toMap
    }
    val byR = ntile5(base.toSeq.sortBy { case (k, (rec, _, _)) =>
      (rec, k) }.map(_._1))
    val byF = ntile5(base.toSeq.sortBy { case (k, (_, f, _)) =>
      (f, k) }.map(_._1))
    val byM = ntile5(base.toSeq.sortBy { case (k, (_, _, m)) =>
      (m, k) }.map(_._1))
    val exp = base.keys.toSeq
      .groupBy(k => (byR(k), byF(k), byM(k)))
      .map { case (g, ks) => g -> ks.length.toLong }
    assert(rows == exp)
    assert(rows.values.sum == n.toLong)
  }

  test("mutualInformation equals brute-force MI over the cells") {
    val d = sf("documents")
    val row = Profiling.mutualInformation(spark, d).head()
    val docs = graft.Tables.documents(spark, d)
      .select(col("lang"), col("source")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val n = docs.length.toDouble
    val cells = docs.groupBy(identity).view.mapValues(_.length).toMap
    val rT = docs.groupBy(_._1).view.mapValues(_.length).toMap
    val cT = docs.groupBy(_._2).view.mapValues(_.length).toMap
    val mi = cells.map { case ((l, s2), o) =>
      o / n * math.log(o * n / (rT(l).toDouble * cT(s2)))
    }.sum
    assert(row.getLong(0) == cells.size.toLong)
    assert(math.abs(row.getDouble(1) - mi) < 1e-4)
    assert(row.getDouble(1) >= 0.0, "MI is non-negative")
  }

  test("corrMatrix equals brute-force Pearson on integer units") {
    val d = sf("lineitem")
    val out = Profiling.corrMatrix(spark, d).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out.size == 6)
    val rows = graft.Tables.lineitem(spark, d)
      .select(round(col("l_quantity"), 0).cast("long"),
        round(col("l_extendedprice") * 100, 0).cast("long"),
        round(col("l_discount") * 100, 0).cast("long"),
        round(col("l_tax") * 100, 0).cast("long")).collect()
      .map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    val names = Seq("qty", "price_c", "disc_pc", "tax_pc")
    def pearson(i: Int, j: Int): Double = {
      val xs = rows.map(_(i).toDouble); val ys = rows.map(_(j).toDouble)
      val n = xs.length.toDouble
      val num = n * xs.zip(ys).map { case (a, b) => a * b }.sum -
        xs.sum * ys.sum
      val den = math.sqrt(n * xs.map(a => a * a).sum - xs.sum * xs.sum) *
        math.sqrt(n * ys.map(a => a * a).sum - ys.sum * ys.sum)
      num / den
    }
    for (i <- names.indices; j <- i + 1 until names.size) {
      val k = s"${names(i)}__${names(j)}"
      assert(math.abs(out(k) - pearson(i, j)) < 1e-4, k)
    }
    // correlations are well-defined (non-degenerate columns)
    out.values.foreach(r => assert(r >= -1.0 && r <= 1.0))
  }

  test("winsorizedMean clips at brute-force p05/p95 rank quantiles") {
    val d = sf("orders")
    val row = Profiling.winsorizedMean(spark, d).head()
    val cents = graft.Tables.orders(spark, d)
      .select(round(col("o_totalprice") * 100, 0).cast("long"))
      .collect().map(_.getLong(0)).sorted
    val n = cents.length
    def at(qn: Int, qd: Int): Long = cents((n * qn + qd - 1) / qd - 1)
    val (lo, hi) = (at(5, 100), at(95, 100))
    assert(row.getLong(0) == n.toLong)
    assert(row.getLong(1) == lo && row.getLong(2) == hi)
    val wmean = cents.map(v => math.min(math.max(v, lo), hi))
      .map(BigInt(_)).sum.toDouble / n
    assert(math.abs(row.getDouble(3) - wmean) < 1e-4)
    // clipping pulls the mean toward the median vs the raw mean
    assert(row.getLong(1) < row.getLong(2))
  }

  test("spearman equals brute-force tie-aware rank correlation") {
    val d = sf("lineitem")
    val row = Profiling.spearman(spark, d).head()
    val pairs = graft.Tables.lineitem(spark, d)
      .select(round(col("l_quantity"), 0).cast("long"),
        round(col("l_extendedprice") * 100, 0).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = pairs.length
    def avgRanks(xs: Array[Long]): Map[Long, Double] = {
      val sorted = xs.sorted
      xs.distinct.map { v =>
        val lo = sorted.indexWhere(_ == v) + 1
        val hi = sorted.lastIndexWhere(_ == v) + 1
        v -> (lo + hi) / 2.0
      }.toMap
    }
    val ra = avgRanks(pairs.map(_._1)); val rb = avgRanks(pairs.map(_._2))
    val xs = pairs.map(p => ra(p._1)); val ys = pairs.map(p => rb(p._2))
    val nn = n.toDouble
    val num = nn * xs.zip(ys).map { case (a, b) => a * b }.sum -
      xs.sum * ys.sum
    val den = math.sqrt(nn * xs.map(a => a * a).sum - xs.sum * xs.sum) *
      math.sqrt(nn * ys.map(a => a * a).sum - ys.sum * ys.sum)
    assert(row.getLong(0) == n.toLong)
    assert(math.abs(row.getDouble(1) - num / den) < 1e-4)
  }

  test("cramersV = sqrt(chi2 / (n*dmin)) from the chi2 row") {
    val d = sf("documents")
    val row = Profiling.cramersV(spark, d).head()
    val chi = Profiling.chiSquareIndependence(spark, d).head()
    val docs = graft.Tables.documents(spark, d)
      .select(col("lang"), col("source")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val dmin = math.min(docs.map(_._1).distinct.length,
      docs.map(_._2).distinct.length) - 1
    assert(row.getLong(0) == docs.length.toLong)
    assert(row.getLong(1) == dmin.toLong)
    val v = math.sqrt(chi.getDouble(2) / (docs.length.toDouble * dmin))
    // chi2 is rounded at 6 before the sqrt here, so compare loosely
    assert(math.abs(row.getDouble(2) - v) < 1e-4)
    assert(row.getDouble(2) >= 0.0 && row.getDouble(2) <= 1.0)
  }

  test("madOutliers: brute-force median, MAD, and integer fence") {
    val d = sf("orders")
    val row = Profiling.madOutliers(spark, d).head()
    val cents = graft.Tables.orders(spark, d)
      .select(round(col("o_totalprice") * 100, 0).cast("long"))
      .collect().map(_.getLong(0))
    val n = cents.length
    def medOf(xs: Array[Long]): Long = xs.sorted.apply((n + 1) / 2 - 1)
    val med = medOf(cents)
    val mad = medOf(cents.map(v => math.abs(v - med)))
    assert(row.getLong(0) == n.toLong)
    assert(row.getLong(1) == med && row.getLong(2) == mad)
    assert(row.getLong(3) ==
      cents.count(v => math.abs(v - med) > 3 * mad).toLong)
  }

  test("cohensD equals the brute-force pooled-sd effect size") {
    val d = sf("orders")
    val row = Profiling.cohensD(spark, d).head()
    val vals = graft.Tables.orders(spark, d)
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(round(col("o_totalprice") * 100, 0).cast("long"),
        col("o_orderpriority"))
      .collect().map(r => (r.getLong(0), r.getString(1) == "1-URGENT"))
    val a = vals.filter(_._2).map(_._1.toDouble)
    val b = vals.filterNot(_._2).map(_._1.toDouble)
    def varNum(xs: Array[Double]) = {
      val m = xs.sum / xs.length
      xs.map(x => (x - m) * (x - m)).sum
    }
    val pooled = math.sqrt((varNum(a) + varNum(b)) /
      (a.length + b.length - 2))
    val dEff = (a.sum / a.length - b.sum / b.length) / pooled
    assert(row.getLong(0) == a.length.toLong)
    assert(row.getLong(1) == b.length.toLong)
    assert(math.abs(row.getDouble(4) - dEff) < 1e-4)
  }

  test("bootstrapCi: replicate means from the md5 coin, CI brackets") {
    val b = 32
    val row = Profiling.bootstrapCi(spark, sf("orders"), b).head()
    val vals = graft.Tables.orders(spark, sf("orders"))
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100, 0).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(id: Long): String = md.digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val means = (1 to b).map { rep =>
      val sel = vals.filter { case (id, _) => hex(id)(rep - 1) < '8' }
      BigDecimal(sel.map(x => BigInt(x._2)).sum.toDouble / sel.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.sorted
    assert(row.getLong(0) == b.toLong)
    assert(row.getDouble(2) == means(math.ceil(0.05 * b).toInt - 1))
    assert(row.getDouble(3) == means(math.ceil(0.95 * b).toInt - 1))
    val fullMean = vals.map(x => BigInt(x._2)).sum.toDouble / vals.length
    assert(math.abs(row.getDouble(1) - fullMean) < 1.0)
    // the interval brackets the full-sample mean at this n
    assert(row.getDouble(2) <= row.getDouble(1) + 1e-9 ||
      row.getDouble(3) >= row.getDouble(1) - 1e-9)
    assert(row.getDouble(2) < row.getDouble(3))
  }

  test("welchT equals the brute-force Welch statistic and df") {
    val row = Profiling.welchT(spark, sf("orders")).head()
    val vals = graft.Tables.orders(spark, sf("orders"))
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(round(col("o_totalprice") * 100, 0).cast("long"),
        col("o_orderpriority"))
      .collect().map(r => (r.getLong(0).toDouble,
        r.getString(1) == "1-URGENT"))
    val a = vals.filter(_._2).map(_._1)
    val b2 = vals.filterNot(_._2).map(_._1)
    def sev(xs: Array[Double]): Double = {
      val m = xs.sum / xs.length
      (xs.map(x => (x - m) * (x - m)).sum / (xs.length - 1)) / xs.length
    }
    val (sa, sb) = (sev(a), sev(b2))
    val t = (a.sum / a.length - b2.sum / b2.length) / math.sqrt(sa + sb)
    val df = (sa + sb) * (sa + sb) /
      (sa * sa / (a.length - 1) + sb * sb / (b2.length - 1))
    assert(row.getLong(0) == a.length.toLong)
    assert(row.getLong(1) == b2.length.toLong)
    assert(math.abs(row.getDouble(2) - t) < 1e-3)
    assert(math.abs(row.getDouble(3) - df) / df < 1e-3)
  }

  test("groupedEquiDepth: per-group buckets are equi-depth and ordered") {
    val d = sf("orders")
    val rows = Profiling.groupedEquiDepth(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val byG = graft.Tables.orders(spark, d)
      .select(col("o_orderpriority"),
        round(col("o_totalprice") * 100, 0).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1)
    rows.groupBy(_._1).foreach { case (g, bs) =>
      val n = byG(g).length
      assert(bs.map(_._3).sum == n.toLong, s"$g total")
      // depth within 1 of n/buckets
      bs.foreach { case (_, _, cnt, lo, hi) =>
        assert(math.abs(cnt - n / 10.0) <= n / 10.0 * 0.5 + 2,
          s"$g depth $cnt")
        assert(lo <= hi)
      }
      // bucket ranges ascend
      val sorted = bs.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array(a, b2) => assert(a._5 <= b2._4, s"$g overlap")
        case _ =>
      }
      // brute-force bucket of the minimum value is 0
      assert(sorted.head._4 == byG(g).map(_._2).min)
      assert(sorted.last._5 == byG(g).map(_._2).max)
    }
  }

  test("paretoShare equals brute force, top1 <= top20 <= 1") {
    val d = sf("orders")
    val row = Profiling.paretoShare(spark, d).head()
    val spend = centsByCustomer(d).map { case (k, (_, _, m)) => (k, m) }
      .toSeq.sortBy(x => (x._2, x._1))
    val n = spend.length
    val total = spend.map(x => BigInt(x._2)).sum
    def shareOfTop(k: Int): Double =
      spend.takeRight(k).map(x => BigInt(x._2)).sum.toDouble /
        total.toDouble
    assert(row.getLong(0) == n.toLong)
    assert(math.abs(row.getDouble(1) - shareOfTop((n + 4) / 5)) < 1e-5)
    assert(math.abs(row.getDouble(2) - shareOfTop((n + 99) / 100)) < 1e-5)
    assert(row.getDouble(2) <= row.getDouble(1))
    assert(row.getDouble(1) <= 1.0 && row.getDouble(1) >= 0.2 - 1e-9)
  }

  test("gopherRules: keep is the conjunction of the rule columns") {
    val d = sf("documents")
    val rows = TextOps.gopherRules(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val rules = Seq(3, 4, 5, 6).map(r.getLong)
      assert(rules.forall(v => v == 0L || v == 1L))
      assert(r.getLong(7) == (if (rules.forall(_ == 1L)) 1L else 0L))
      assert(r.getLong(1) >= 1L)
    }
  }

  test("clusteringCoefficient reuses the memoized triangle scalar: " +
      "no equi-join in its plan") {
    val d = sf("lineitem")
    // triangleCount pays the oriented wedge join once...
    Graph.triangleCount(spark, d).collect()
    // ...after which the coefficient reads the pinned 1-row scalar:
    // its plan is degree aggregation + cross joins of cached scans,
    // with NO equi-join (a re-run wedge join would reintroduce one).
    // AQE off while building the inspected plan: the adaptive wrapper
    // hides its subtree from collect (the PlanShapeSpec device).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan =
      try Graph.clusteringCoefficient(spark, d).queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val equiJoins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(equiJoins.isEmpty,
      s"wedge join re-ran: ${equiJoins.map(_.getClass.getSimpleName)}")
    val cached = plan.collect {
      case c: org.apache.spark.sql.execution.columnar
          .InMemoryTableScanExec => c
    }
    assert(cached.nonEmpty, "memoized scalar not read from cache")
  }

  test("adamicAdar aggregates the memoized wedge table: no join at all") {
    val d = sf("lineitem")
    Graph.nodeJaccard(spark, d).collect() // builds sharedWedges
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan =
      try Graph.adamicAdar(spark, d).queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val joins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty,
      s"wedge fan-out re-ran: ${joins.map(_.getClass.getSimpleName)}")
  }

  /** Driver-side support-7 co-purchase edge set (a < b), the brute
    * twin of Graph.copurchaseEdges for small-SF comparisons. */
  test("diameterSweep: brute BFS double sweep agrees") {
    val d = sf("orders")
    val row = Graph.diameterSweep(spark, d, source = 2L, maxHops = 6).head()
    val dir = graft.Tables.orders(spark, d)
      .select($"o_orderkey", $"o_custkey")
      .join(graft.Tables.lineitem(spark, d)
        .select($"l_orderkey".as("o_orderkey"), $"l_suppkey"),
        "o_orderkey")
      .select(($"o_custkey" * 2).as("c"), ($"l_suppkey" * 2 + 1).as("s"))
      .distinct().as[(Long, Long)].collect()
    val adj = (dir ++ dir.map(_.swap)).groupBy(_._1)
      .map { case (u, v) => u -> v.map(_._2) }
    def bfs(src: Long): Map[Long, Int] = {
      val seen = scala.collection.mutable.Map(src -> 0)
      var frontier = Seq(src)
      var h = 0
      while (frontier.nonEmpty && h < 6) {
        h += 1
        frontier = frontier
          .flatMap(n => adj.get(n).toSeq.flatten)
          .distinct.filterNot(n => seen.contains(n))
        frontier.foreach(seen(_) = h)
      }
      seen.toMap
    }
    val d1 = bfs(2L)
    val far = d1.toSeq.sortBy { case (n, h) => (-h, n) }.head
    val d2 = bfs(far._1)
    assert(row.getLong(0) == far._2.toLong) // ecc_source
    val lbl = (if (far._1 % 2 == 0) "c" else "s") + (far._1 >> 1)
    assert(row.getString(1) == lbl)
    assert(row.getLong(2) == d2.values.max.toLong) // diameter_lb
    assert(row.getLong(3) == d2.size.toLong)
    // the bound is at least the first sweep's eccentricity
    assert(row.getLong(2) >= row.getLong(0))
  }

  test("hitsScores matches an exact integer HITS replication") {
    val d = sf("orders")
    val got = Graph.hitsScores(spark, d, iters = 3, k = 10).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // brute: the same alternating scaled-BIGINT chain on the directed
    // customer -> supplier pairs
    val RS = 1000000000000L
    val dir = graft.Tables.orders(spark, d)
      .select($"o_orderkey", $"o_custkey")
      .join(graft.Tables.lineitem(spark, d)
        .select($"l_orderkey".as("o_orderkey"), $"l_suppkey"),
        "o_orderkey")
      .select(($"o_custkey" * 2).as("c"), ($"l_suppkey" * 2 + 1).as("s"))
      .distinct().as[(Long, Long)].collect()
    val nH = dir.map(_._1).distinct.length
    var hub = dir.map(_._1).distinct.map(_ -> RS / nH).toMap
    var auth = Map.empty[Long, Long]
    for (_ <- 1 to 3) {
      val ar = dir.groupBy(_._2).map { case (sx, es) =>
        sx -> es.map(e => hub(e._1)).sum }
      val as1 = math.max(ar.values.sum / RS, 1L)
      auth = ar.map { case (k2, v) => k2 -> v / as1 }
      val hr = dir.groupBy(_._1).map { case (c, es) =>
        c -> es.map(e => auth(e._2)).sum }
      val hs = math.max(hr.values.sum / RS, 1L)
      hub = hr.map { case (k2, v) => k2 -> v / hs }
    }
    def lbl(n: Long) = (if (n % 2 == 0) "c" else "s") + (n >> 1)
    val expHubs = hub.toSeq.map { case (n, v) => ("hub", lbl(n), v) }
      .sortBy(t => (-t._3, t._2)).take(10)
    val expAuth = auth.toSeq.map { case (n, v) => ("auth", lbl(n), v) }
      .sortBy(t => (-t._3, t._2)).take(10)
    val exp = (expHubs ++ expAuth).sortBy(t => (t._1, -t._3, t._2))
    assert(got.toSeq == exp)
    assert(got.filter(_._1 == "hub").forall(_._2.startsWith("c")))
    assert(got.filter(_._1 == "auth").forall(_._2.startsWith("s")))
  }

  test("lpaCommunities matches a brute sync-LPA with min-label ties") {
    val d = sf("lineitem")
    val got = Graph.lpaCommunities(spark, d, rounds = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = bruteCopurchaseEdges(d)
    val und = edges.toSeq.flatMap(e => Seq(e, e.swap))
    val adj = und.groupBy(_._1).map { case (u, v) => u -> v.map(_._2) }
    var lab = adj.keySet.map(n => n -> n).toMap
    for (_ <- 1 to 4) {
      lab = lab.map { case (n, own) =>
        val votes = (adj(n).map(lab) :+ own)
          .groupBy(identity).map { case (l, v) => (l, v.size) }
        val best = votes.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
        n -> best
      }
    }
    val exp = lab.values.groupBy(identity).map(_._2.size.toLong)
      .groupBy(identity).map { case (sz, v) => sz -> v.size.toLong }
    assert(got == exp)
  }

  test("linkPredPaRa: PA and RA match brute per-pair computation") {
    val d = sf("lineitem")
    val got = Graph.linkPredPaRa(spark, d, k = 20).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4))))
    val edges = bruteCopurchaseEdges(d)
    val und = edges.toSeq.flatMap(e => Seq(e, e.swap))
    val adj = und.groupBy(_._1).map { case (u, v) => u -> v.map(_._2).toSet }
    val deg = adj.map { case (u, v) => u -> v.size.toLong }
    for (((a, b), (nShared, pa, ra)) <- got) {
      val shared = (adj(a) & adj(b)).toSeq.sorted
      assert(nShared == shared.size.toLong)
      assert(pa == deg(a) * deg(b))
      val raBrute = shared.map(z => 1.0 / deg(z)).sum
      assert(math.abs(ra - raBrute) < 1e-5)
    }
    assert(got.nonEmpty)
  }

  private def bruteCopurchaseEdges(d: String): Set[(Long, Long)] = {
    val li: Seq[(Long, Long)] = graft.Tables.lineitem(spark, d)
      .select($"l_orderkey", $"l_suppkey").distinct()
      .as[(Long, Long)].collect().toSeq
    li.groupBy(_._1).values.toSeq
      .flatMap { g =>
        val ss = g.map(_._2)
        for (a <- ss; b <- ss; if a < b) yield (a, b)
      }
      // NOT `.collect { case (e, v) if ... => e }`: a Map.collect whose
      // pf yields a TUPLE rebuilds a Map keyed by e._1, silently
      // collapsing the edge set to one edge per left endpoint
      .groupBy(identity).filter { case (_, v) => v.size >= 7 }
      .keySet.toSet
  }

  test("assortativity matches brute-force Pearson over trade edges") {
    val d = sf("orders")
    val row = Graph.assortativity(spark, d).head()
    val nDir = row.getLong(0)
    val r = row.getDouble(1)
    assert(r >= -1.0 - 1e-9 && r <= 1.0 + 1e-9, s"r out of range: $r")
    // a bipartite customer–supplier graph is hub-and-spoke: few
    // suppliers serve many low-degree customers, so mixing must be
    // DISassortative
    assert(r < 0.0, s"expected negative assortativity, got $r")
    // brute force over the collected edge list
    val pairs = graft.Tables.orders(spark, d)
      .select($"o_orderkey", $"o_custkey")
      .join(graft.Tables.lineitem(spark, d)
        .select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .select(($"o_custkey" * 2).as("c"), ($"l_suppkey" * 2 + 1).as("s"))
      .distinct().as[(Long, Long)].collect().toSeq
    val dirEdges = pairs.flatMap(p => Seq(p, p.swap))
    assert(nDir == dirEdges.size.toLong)
    val deg = dirEdges.groupBy(_._1).map { case (n, v) => n -> v.size }
    val xs = dirEdges.map { case (u, v) =>
      (deg(u).toDouble, deg(v).toDouble)
    }
    val n = xs.size.toDouble
    val sx = xs.map(_._1).sum; val sy = xs.map(_._2).sum
    val sxy = xs.map(t => t._1 * t._2).sum
    val sxx = xs.map(t => t._1 * t._1).sum
    val syy = xs.map(t => t._2 * t._2).sum
    val brute = (n * sxy - sx * sy) /
      (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
    assert(math.abs(r - brute) < 1e-5, s"$r vs brute $brute")
  }

  test("kCore matches a brute-force converged peel on the small graph") {
    val d = sf("lineitem")
    // enough rounds to converge at this SF, so the fixed-round census
    // equals the true 4-core a driver-side peel computes
    val row = Graph.kCore(spark, d, kDeg = 4, rounds = 8).head()
    val edges = bruteCopurchaseEdges(d)
    var core = edges
    var changed = true
    while (changed) {
      val deg = core.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (n, v) => n -> v.size }
      val keep = deg.collect { case (n, dg) if dg >= 4 => n }.toSet
      val next = core.filter(e => keep(e._1) && keep(e._2))
      changed = next.size != core.size
      core = next
    }
    val nodes = core.flatMap(e => Seq(e._1, e._2))
    assert(row.getLong(0) == nodes.size.toLong,
      s"core nodes ${row.getLong(0)} != brute ${nodes.size}")
    assert(row.getLong(1) == core.size.toLong,
      s"core edges ${row.getLong(1)} != brute ${core.size}")
  }

  test("components matches a brute-force union-find census") {
    val d = sf("lineitem")
    val got = Graph.components(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = bruteCopurchaseEdges(d)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) => parent(find(a)) = find(b) }
    val census = parent.keys.toSeq.groupBy(find)
      .map(_._2.size.toLong)                 // component sizes
      .groupBy(identity).map { case (s, v) => s -> v.size.toLong }
    assert(got == census, s"$got vs brute $census")
  }

  test("modularity matches brute force; random nations score near 0") {
    val d = sf("lineitem")
    val row = Graph.modularity(spark, d).head()
    val edges = bruteCopurchaseEdges(d).toSeq
    val nat = graft.Tables.supplier(spark, d)
      .select($"s_suppkey", $"s_nationkey")
      .as[(Long, Long)].collect().toMap
    val m = edges.size.toDouble
    val ec = edges.filter { case (a, b) => nat(a) == nat(b) }
      .groupBy { case (a, _) => nat(a) }.map { case (c, v) => c -> v.size }
    val dc = edges.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(nat).map { case (c, v) => c -> v.size }
    // .toSeq before mapping: dc.keys is a Set, and mapping a Set to
    // per-nation contributions dedupes EQUAL contributions before the
    // sum — nations with identical (ec, dc) would be counted once
    val q = dc.keys.toSeq.map { c =>
      ec.getOrElse(c, 0) / m - math.pow(dc(c) / (2 * m), 2)
    }.sum
    assert(row.getLong(0) == edges.size.toLong)
    assert(row.getLong(1) == dc.size.toLong)
    assert(math.abs(row.getDouble(2) - q) < 1e-5,
      s"${row.getDouble(2)} vs brute $q")
    // nations don't drive co-purchasing, so the partition should sit
    // near the null model — well inside (-0.5, 0.5)
    assert(math.abs(row.getDouble(2)) < 0.5)
  }

  test("richClub matches brute force at every threshold") {
    val d = sf("lineitem")
    val got = Graph.richClub(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val edges = bruteCopurchaseEdges(d).toSeq
    val deg = edges.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (v, l) => v -> l.size }
    val brute = Seq(2, 4, 8, 16).map { k =>
      val rich = deg.collect { case (v, dg) if dg > k => v }.toSet
      (k.toLong, rich.size.toLong,
        edges.count { case (a, b) => rich(a) && rich(b) }.toLong)
    }.filter(_._2 > 0)
    assert(got == brute, s"$got vs brute $brute")
  }

  test("localClustering matches brute force and stays in [0, 1]") {
    val d = sf("lineitem")
    val got = Graph.localClustering(spark, d, k = 1000000).collect()
    val edges = bruteCopurchaseEdges(d)
    val nbrs = edges.toSeq.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
      .groupBy(_._1).map { case (n, v) => n -> v.map(_._2).toSet }
    got.foreach { r =>
      val (v, dg, tri, cc) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(cc >= 0.0 && cc <= 1.0 + 1e-9)
      val nv = nbrs(v)
      assert(dg == nv.size.toLong)
      val bruteTri = nv.toSeq.combinations(2).count {
        case Seq(a, b) =>
          edges(if (a < b) (a, b) else (b, a))
        case _ => false
      }
      assert(tri == bruteTri.toLong, s"node $v: $tri != $bruteTri")
    }
  }

  test("harmonicCentrality equals the reciprocal fold of bfsHops") {
    val d = sf("orders")
    val hops = Graph.bfsHops(spark, d).collect()
      .map(r => r.getLong(1)).filter(_ > 0)
    val row = Graph.harmonicCentrality(spark, d).head()
    assert(row.getLong(0) == hops.length.toLong)
    val x12 = hops.map(h => 12L / h).sum
    assert(math.abs(row.getDouble(1) - x12.toDouble / 12.0) < 1e-6)
  }

  test("jaccard and adamic-adar agree on the shared-neighbor counts") {
    val d = sf("lineitem")
    val j = Graph.nodeJaccard(spark, d, k = 1000000).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val aa = Graph.adamicAdar(spark, d, k = 1000000).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(j.keySet == aa.keySet)
    assert(j.keySet.forall(k => j(k) == aa(k)),
      "n_shared diverged between the two consumers of sharedWedges")
  }

  test("valueMoments equals the brute-force central moments") {
    val d = sf("events")
    val rows = Profiling.valueMoments(spark, d).collect()
    assert(rows.nonEmpty)
    val vals = graft.Tables.events(spark, d)
      .select(col("event_type"),
        round(col("value") * 100, 0).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2.toDouble)).toMap
    rows.foreach { r =>
      val xs = vals(r.getString(0))
      val n = xs.length.toDouble
      val mean = xs.sum / n
      def cm(p: Int) = xs.map(x => math.pow(x - mean, p)).sum / n
      val (m2, m3, m4) = (cm(2), cm(3), cm(4))
      assert(r.getLong(1) == xs.length.toLong)
      assert(math.abs(r.getDouble(2) - mean) < 1e-4)
      // raw-moment expansion vs direct centering: same up to float noise
      assert(math.abs(r.getDouble(3) / m2 - 1.0) < 1e-6)
      assert(math.abs(r.getDouble(4) - m3 / (m2 * math.sqrt(m2))) < 1e-4)
      assert(math.abs(r.getDouble(5) - (m4 / (m2 * m2) - 3.0)) < 1e-4)
    }
  }

  test("wedgePairs: hub slicing emits every unordered neighbor pair " +
      "exactly once with bounded slice width (VERDICT r17 #3)") {
    // synthetic hub graph: node 0 adjacent to 1..60 (degree 60), plus
    // a 5-clique (100..104) and one bridge edge — exercises the
    // within-slice, cross-slice and single-slice paths together
    val edges = ((1L to 60L).map(x => (0L, x)) ++
      (for (a <- 100L to 104L; b <- (a + 1) to 104L) yield (a, b)) :+
      (60L, 100L)).toSeq
    val adj = edges.toDF("a", "b")
      .select($"a".as("x"), $"b".as("z"))
      .unionAll(edges.toDF("a", "b").select($"b".as("x"), $"a".as("z")))
    // brute-force expectation: per z, all sorted neighbor pairs
    val nbrs = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._2).view.mapValues(_.map(_._1).sorted).toMap
    val expect = nbrs.toSeq.flatMap { case (z, ns) =>
      for (i <- ns.indices; j <- (i + 1) until ns.length)
        yield (ns(i), ns(j), z, ns.length.toLong)
    }.sorted
    val cap = 8 // hub z=0 (deg 60) slices into ceil(60/8)=8 buckets
    val got = graft.ops.Graph.wedgePairs(adj, cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sorted
    assert(got == expect,
      "sliced emission must equal the brute-force pair set")
    // the sliced groups really are bounded: no collect_list buffer
    // (and no output row) carries more than the hub's slice share —
    // hash slack is bounded well under 3x the cap on this fixture
    val widths = graft.ops.Graph.wedgeSlices(adj, cap)
      .select(size($"ns")).collect().map(_.getInt(0))
    assert(widths.max <= 3 * cap,
      s"slice width ${widths.max} exceeds the hub cap budget")
    assert(widths.count(_ > cap / 2) >= 8,
      "hub degree 60 at cap 8 must spread across ~8 slices")
    // the unsliced form (cap above max degree) agrees too
    val single = graft.ops.Graph.wedgePairs(adj, 4096)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sorted
    assert(single == expect)
  }

  test("basketRules: both directions, exact scores, support floor") {
    val d = sf("lineitem")
    val minSup = 2
    val rows = Graph.basketRules(spark, d, minSup).collect()
    assert(rows.nonEmpty)
    val byKey = rows.map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    val nb = Tables.lineitem(spark, d)
      .select($"l_orderkey").distinct().count()
    rows.foreach { r =>
      val (a, b, pn, an, cn) = (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4))
      assert(pn >= minSup && pn <= math.min(an, cn))
      // the reverse rule exists with the same pair count and lift
      val rev = byKey((b, a))
      assert(rev.getLong(2) == pn)
      assert(math.abs(rev.getDouble(7) - r.getDouble(7)) < 1e-9)
      assert(math.abs(r.getDouble(5) - pn.toDouble / nb) < 1e-6)
      assert(math.abs(r.getDouble(6) - pn.toDouble / an) < 1e-6)
      assert(math.abs(r.getDouble(7) -
        pn.toDouble * nb / (an.toDouble * cn)) < 1e-6)
    }
  }
}
