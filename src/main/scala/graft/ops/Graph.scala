package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}

/** Iterative graph analytics over the order graph — rank propagation
  * (PageRank, HITS), min-label connected components, label propagation
  * and shortest paths. (Reference analog: the municipality -> committee ->
  * meeting containment hierarchy the scrapers walk; generalized to the
  * customer–supplier transaction graph.)
  *
  * Everything is exact scaled-BIGINT arithmetic (total rank mass
  * `RankScale`, floor division for both the per-edge contribution split
  * and the damping factor), so a DuckDB CTE chain reproduces every
  * iteration bit-for-bit — the same oracle discipline as the md5-band
  * twins (q71/q86).
  *
  * 100 TB shape: edges are built once (one orders⋈lineitem shuffle +
  * distinct) and reused across iterations — the build's join on src
  * leaves the pinned table hash-partitioned on src, so each round
  * moves only the 16-byte (node, rank) pairs plus a groupBy on dst,
  * never the raw tables. Below a measured node bound the per-round
  * small side is broadcast outright ([[perRoundSide]]) — a map-side
  * hash join with no per-round shuffle OR sort of the edge table;
  * above it the hint is withheld and the co-located shuffle path
  * takes over. The rank table is checkpointed every few rounds to cut
  * the lineage, as every fixpoint here cuts its round state
  * ([[GraftSession.cut]]), except the label-propagation rounds under
  * that bound, whose labels the driver holds ([[componentLabels]]).
  */
object Graph {

  /** Total rank mass, scaled: 1.0 == 1e12 so six decimal digits of
    * PageRank survive integer floor division at N ~ 1e6 nodes. */
  private val RankScale = 1000000000000L

  /** Directed bipartite edge list: customer -> supplier for every
    * distinct (customer, supplier) trading pair, plus the reverse edge
    * (suppliers rank customers back). Node ids are BIGINTs — customer k
    * is 2k, supplier k is 2k+1 — so every shuffle and join in the
    * iteration moves fixed-width longs, not strings; labels are
    * reconstructed only at output (same move-ids-not-payloads shape as
    * the LSH banded joins, ops/Dedup.scala). */
  private[graft] def tradeEdges(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2L).as("cnode"),
        (col("l_suppkey") * 2L + 1L).as("snode"))
      .distinct()
    pairs.select(col("cnode").as("src"), col("snode").as("dst"))
      .unionAll(pairs.select(col("snode").as("src"), col("cnode").as("dst")))
  }

  /** "c<k>" / "s<k>" label for a BIGINT node id column. */
  private def nodeLabel(node: Column): Column =
    concat(when(node % 2 === 0, lit("c")).otherwise(lit("s")),
      shiftright(node, 1).cast("string"))

  /** Per-round small-side broadcast gate for the iterative plans: the
    * rank / frontier / distance tables are fixed-width BIGINT pairs,
    * so the MEASURED node count bounds their size exactly (~16 bytes
    * a row). Below the bound the per-round join broadcasts the small
    * side — a map-side hash join against the pinned, already
    * src-partitioned edge table, no shuffle and no per-round re-sort
    * of the edges. Above it (a billion-node graph on a cluster) the
    * hint is withheld and the join falls back to the co-located
    * shuffle path. 4M rows * 16 B = 64 MB, comfortable against the
    * default 1 GiB driver/executor broadcast ceiling. */
  private val BroadcastNodeBound = 4L * 1000 * 1000
  private[graft] def broadcastsRoundSide(nNodes: Long): Boolean =
    nNodes <= BroadcastNodeBound
  private def perRoundSide(df: DataFrame, nNodes: Long): DataFrame =
    if (broadcastsRoundSide(nNodes)) broadcast(df) else df

  /** Memoized materialized trade graph: (edges, degrees, node count).
    * Built once per (appId, dir) and pinned — PageRank joins the edge
    * table every iteration and the degree histogram reads the same
    * degree table, so recomputing the orders⋈lineitem distinct per use
    * (let alone per PageRank round) would dominate the runtime. */
  private def tradeGraph(s: SparkSession,
      d: String): (DataFrame, DataFrame, java.lang.Long) =
    IndexMemo.getOrBuild[(DataFrame, DataFrame, java.lang.Long)](
      "tradeGraph", "", Seq(tradeEdges(s, d))) {
      // cut the raw edge table ONCE (r17): the degree fold and the
      // deg-carrying edge join materialize in separate jobs, and
      // exchange reuse cannot span jobs — uncut, each re-ran the
      // orders⋈lineitem distinct (A/B: 2.3 -> 1.8 s warm). The memo
      // keys on the PRE-cut plan above, per the r12 rule.
      val raw = GraftSession.cut(tradeEdges(s, d))
      val deg = raw.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .persist()
      // fold the out-degree into the pinned edge table: the per-round
      // contribution is rank DIV deg, so carrying deg on the edge saves
      // one join per PageRank iteration. persistCompactBy(dst) (r18)
      // right-sizes the pinned cache to the measured-count floor AND
      // pins it hash-partitioned by dst: every
      // fixpoint round here is edges ⋈ broadcast(state) → groupBy(dst)
      // (PageRank / PPR / eigenvector contributions, the BFS frontier
      // distinct), and the BHJ preserves the streamed side's
      // partitioning, so the per-round aggregation plans no exchange.
      val edges = GraftSession.persistCompactBy(raw.join(deg, "src"),
        col("dst"))
      val n = java.lang.Long.valueOf(deg.count())
      ((edges, deg, n), Seq(edges, deg))
    }

  /** PageRank with damping 0.85 over the trade graph, `iters` rounds,
    * top-`k` nodes by final rank. Every node has out-degree >= 1 by
    * construction (edges are bidirectional), so there is no dangling
    * mass to redistribute. Emits (node, rank_scaled) — rank_scaled is
    * the exact BIGINT the oracle CTE chain computes.
    *
    * Each round ends in a lineage cut ([[GraftSession.cut]] —
    * localCheckpoint by default, a reliable checkpoint when
    * [[GraftSession.enableReliableCheckpoints]] is on, so executor
    * loss mid-iteration does not restart the job at cluster scale):
    * the rank table is tiny (one row per node) and materializing it
    * keeps the plan one join+agg deep regardless of iteration count,
    * instead of an iters-deep lineage tower Catalyst must re-plan
    * whole — the same per-round discipline as [[componentLabels]]'
    * min-label rounds above the broadcast gate. */
  def pageRank(s: SparkSession, d: String, iters: Int = 5,
      k: Int = 20): DataFrame = {
    val (edges, rank0, n) = pageRankRoundInputs(s, d)
    val base = (15L * (RankScale / n)) / 100L
    var rank = rank0
    for (i <- 1 to iters) {
      rank = pageRankContribs(edges, rank, n)
        .select(col("dst").as("node"),
          (lit(base) + expr("(85 * c) DIV 100")).as("rank"))
      // materialize every second round (and the last): keeps lineage
      // <= 2 joins deep for Catalyst while halving the blocking
      // checkpoint jobs
      if (i % 2 == 0 || i == iters) rank = GraftSession.cut(rank)
    }
    rank.select(nodeLabel(col("node")).as("node"),
        col("rank").as("rank_scaled"))
      .orderBy(col("rank_scaled").desc, col("node")).limit(k)
  }

  /** One rank round's contributions, shared by [[pageRank]] and
    * [[personalizedPageRank]]: every node in `rank` (node, rank) sends
    * rank DIV deg along its out-edges of the pinned dst-hashed trade
    * graph, summed per receiving node as (dst, c). `DIV`, not `/`:
    * Spark's Divide on longs returns DOUBLE, and a double at 1e12
    * magnitude would drift from the oracle's floor div. */
  private[graft] def pageRankContribs(edges: DataFrame, rank: DataFrame,
      n: Long): DataFrame =
    edges
      .join(perRoundSide(rank.withColumnRenamed("node", "src"), n), "src")
      .select(col("dst"), expr("rank DIV deg").as("contrib"))
      .groupBy(col("dst"))
      .agg(sum(col("contrib")).as("c"))

  /** DuckDB oracle for [[pageRank]]: the same iteration count unrolled
    * as a CTE chain with identical floor-division arithmetic. `n` is a
    * scalar subquery so the SQL is self-contained. */
  def pageRankSql(iters: Int = 5, k: Int = 20): String = {
    val head =
      s"""WITH pairs AS (
         |  SELECT DISTINCT o_custkey * 2 AS cnode,
         |         l_suppkey * 2 + 1 AS snode
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |edges AS (
         |  SELECT cnode AS src, snode AS dst FROM pairs
         |  UNION ALL SELECT snode AS src, cnode AS dst FROM pairs),
         |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
         |nn AS (SELECT COUNT(*) AS n FROM deg),
         |r0 AS (SELECT src AS node, $RankScale // n AS rank FROM deg, nn)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT e.dst AS node,
         |    (15 * ($RankScale // nn.n)) // 100
         |      + (85 * SUM(r.rank // d.deg)) // 100 AS rank
         |  FROM edges e
         |  JOIN r${i - 1} r ON e.src = r.node
         |  JOIN deg d ON e.src = d.src, nn
         |  GROUP BY e.dst, nn.n)""".stripMargin
    }
    val tail =
      s"""SELECT CASE WHEN node % 2 = 0 THEN 'c' ELSE 's' END
         |    || CAST(node // 2 AS VARCHAR) AS node,
         |  CAST(rank AS BIGINT) AS rank_scaled FROM r$iters
         |ORDER BY rank_scaled DESC, node LIMIT $k""".stripMargin
    (Seq(head) ++ steps).mkString(",\n") + "\n" + tail
  }

  /** Memoized distinct (order, part) item table — the corpus-sized
    * scan+distinct both the pair build and the rule scorer's
    * basket/item counters read; pinned so q267 pays it once, not once
    * per counter. */
  private def basketItems(s: SparkSession, d: String): DataFrame = {
    val raw = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    IndexMemo.getOrBuild[DataFrame]("basketItems", "", Seq(raw)) {
      // persistCompactBy(l_orderkey) (r18): the pair build self-joins
      // this table on l_orderkey — with the cache hash-pinned on the
      // basket key, BOTH join sides are already co-partitioned and the
      // join plans no exchange (sorts only); the old plain pin paid
      // two full shuffles of the item table there
      val built = GraftSession.persistCompactBy(raw, col("l_orderkey"))
      (built, Seq(built))
    }
  }

  /** Memoized part-pair co-occurrence counts (a < b, one row per pair
    * with its order count): the order-scoped self-join over the whole
    * fact table is the expensive pass BOTH basket consumers need —
    * the co-occurrence census (q127) ranks it, the association rules
    * (q267) threshold it — so like the co-purchase edge list it is
    * built once per (session, dataset) and pinned. The join is
    * quadratic only in the per-order item count (TPC-H caps it at 7),
    * so the table is O(rows x basket), not O(rows^2). */
  private def basketPairCounts(s: SparkSession, d: String): DataFrame = {
    val items = basketItems(s, d)
    IndexMemo.getOrBuild[DataFrame]("basketPairCounts", "", Seq(items)) {
      val built = items
        .select(col("l_orderkey"), col("l_partkey").as("a"))
        .join(items.select(col("l_orderkey"), col("l_partkey").as("b")),
          Seq("l_orderkey"))
        .filter(col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("pair_n"))
        .persist()
      built.count() // bill the join to memo_build_s, not a consumer
      (built, Seq(built))
    }
  }

  /** Market-basket co-occurrence: part pairs that appear together in
    * the most orders — a bounded top-k over the memoized
    * [[basketPairCounts]] table (TakeOrderedAndProject, never a
    * global sort). */
  def basketPairs(s: SparkSession, d: String, k: Int = 20): DataFrame =
    basketPairCounts(s, d)
      .select(col("a").as("part_a"), col("b").as("part_b"),
        col("pair_n").as("n_orders"))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(k)

  /** Association rules over order baskets (q267): every directed rule
    * a → b between parts that co-occur in at least `minSupport`
    * orders, scored by the classic trio — support c(a,b)/N,
    * confidence c(a,b)/c(a), lift N·c(a,b)/(c(a)·c(b)) — the
    * recommender/affinity mining step that [[basketPairs]]'s raw
    * co-occurrence census stops short of (a pair can co-occur often
    * yet have lift < 1 when both parts are simply popular).
    *
    * Counts are exact BIGINTs; each score is ONE divide of two
    * exact integer products carried in DECIMAL(38,0)/HUGEINT (so
    * N·c(a,b) cannot overflow at a 10^11-basket corpus), written as
    * the identical float tree on both engines. Pair counts ride the
    * memoized [[basketPairCounts]] table (shared with q127, built
    * once per session), and `minSupport` bounds the rule set the
    * same way it bounds the co-purchase graph: unthresholded, every
    * popular pair eventually qualifies; thresholded, output grows
    * sublinearly and the two dim-sized count joins stay cheap at any
    * corpus size (raise `minSupport` as N grows to keep the rule set
    * meaningful). */
  def basketRules(s: SparkSession, d: String,
      minSupport: Int = 2): DataFrame = {
    val dec = "decimal(38,0)"
    val items = basketItems(s, d)
    val nb = items.agg(
      countDistinct(col("l_orderkey")).as("n_baskets"))
    val itemN = items.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("cnt"))
    val pairs = basketPairCounts(s, d)
      .filter(col("pair_n") >= minSupport)
    val rules = pairs
      .select(col("a").as("antecedent"), col("b").as("consequent"),
        col("pair_n"))
      .unionAll(pairs.select(col("b").as("antecedent"),
        col("a").as("consequent"), col("pair_n")))
    rules
      .join(itemN.select(col("l_partkey").as("antecedent"),
        col("cnt").as("ante_n")), "antecedent")
      .join(itemN.select(col("l_partkey").as("consequent"),
        col("cnt").as("cons_n")), "consequent")
      .crossJoin(broadcast(nb))
      .select(col("antecedent"), col("consequent"), col("pair_n"),
        col("ante_n"), col("cons_n"),
        round(col("pair_n").cast("double")
          / col("n_baskets").cast("double"), 6).as("support"),
        round(col("pair_n").cast("double")
          / col("ante_n").cast("double"), 6).as("confidence"),
        round((col("pair_n").cast(dec) * col("n_baskets"))
            .cast("double")
          / (col("ante_n").cast(dec) * col("cons_n")).cast("double"),
          6).as("lift"))
      .orderBy(col("antecedent"), col("consequent"))
  }

  /** DuckDB oracle for [[basketRules]]. */
  def basketRulesSql(minSupport: Int = 2): String =
    s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey
       |  FROM lineitem),
       |nb AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets
       |  FROM items),
       |itemn AS (SELECT l_partkey, COUNT(*) AS cnt
       |  FROM items GROUP BY 1),
       |pairs AS (SELECT a.l_partkey AS a, b.l_partkey AS b,
       |    COUNT(*) AS pair_n
       |  FROM items a JOIN items b USING (l_orderkey)
       |  WHERE a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $minSupport),
       |rules AS (
       |  SELECT a AS antecedent, b AS consequent, pair_n FROM pairs
       |  UNION ALL
       |  SELECT b AS antecedent, a AS consequent, pair_n FROM pairs)
       |SELECT antecedent, consequent, pair_n,
       |  ia.cnt AS ante_n, ic.cnt AS cons_n,
       |  round(CAST(pair_n AS DOUBLE) / CAST(n_baskets AS DOUBLE), 6)
       |    AS support,
       |  round(CAST(pair_n AS DOUBLE) / CAST(ia.cnt AS DOUBLE), 6)
       |    AS confidence,
       |  round(CAST(CAST(pair_n AS HUGEINT) * n_baskets AS DOUBLE)
       |    / CAST(CAST(ia.cnt AS HUGEINT) * ic.cnt AS DOUBLE), 6)
       |    AS lift
       |FROM rules
       |JOIN itemn ia ON ia.l_partkey = antecedent
       |JOIN itemn ic ON ic.l_partkey = consequent
       |CROSS JOIN nb
       |ORDER BY antecedent, consequent""".stripMargin

  /** Triangle count over the supplier co-purchase graph (suppliers are
    * adjacent when they supply the same order in at least `minSupport`
    * orders). The classic distributed formulation: orient every edge
    * from the lower-(degree, id) node to the higher — each node's
    * out-neighborhood is then O(sqrt(E)) even for hubs — and count
    * (a->b, b->c) wedges that close with an a->c edge. Two self-joins
    * on an oriented edge list that is strictly smaller than the raw
    * adjacency; no node ever enumerates a hub's full neighborhood.
    * Emits one row: (n_nodes, n_edges, n_triangles).
    *
    * `minSupport` is the density knob, not a convenience: an
    * unthresholded co-purchase graph converges on a complete graph as
    * data grows (every pair eventually shares SOME order), and triangle
    * counting on a near-complete graph is Theta(n^3) for ANY algorithm
    * — measured 24 s at sf0.1 unthresholded versus sub-second thresholded. Keeping
    * only edges with real co-purchase frequency is what makes the graph
    * (and the count) meaningful AND bounded as data scales. */
  /** Memoized support-thresholded co-purchase edge list (a < b): the
    * expensive part of every supplier-graph statistic (order-scoped
    * self-join + pair count over the whole fact table); pinned like
    * the trade graph so triangles / clustering / node similarity pay
    * only their own joins. */
  private def copurchaseEdges(s: SparkSession, d: String,
      minSupport: Int): DataFrame = {
    def li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey")).distinct()
    IndexMemo.getOrBuild[DataFrame](
      "copurchaseEdges", s"$minSupport", Seq(li)) {
      // one shared order-keyed exchange for the pair self-join (r18):
      // the two join sides are the SAME distinct scan repartitioned by
      // the join key, so ReuseExchange dedups the subtree and the join
      // itself plans no further shuffle — the old shape paid the
      // distinct plus TWO order-keyed exchanges of the item table
      val part = li.repartition(
        s.conf.get("spark.sql.shuffle.partitions").toInt,
        col("l_orderkey"))
      // persistCompactBy, no keys: the thresholded edge list is
      // scanned by every supplier-graph statistic's joins;
      // measured-count gate, cluster no-op
      val built = GraftSession.persistCompactBy(
        part.select(col("l_orderkey"), col("l_suppkey").as("a"))
          .join(part.select(col("l_orderkey"), col("l_suppkey").as("b")),
            Seq("l_orderkey"))
          .filter(col("a") < col("b"))
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
          .filter(col("support") >= minSupport)
          .select(col("a"), col("b")))
      (built, Seq(built))
    }
  }

  /** Memoized 1-row triangle total over the thresholded co-purchase
    * graph. The oriented wedge join is by far the most expensive pass
    * in the supplier-graph family, and BOTH the triangle census and
    * the clustering coefficient need exactly this scalar — memoizing
    * it (like the edge list it reads) means one wedge join per
    * (session, minSupport) no matter how many statistics consume it. */
  private def triangleScalar(s: SparkSession, d: String,
      minSupport: Int): DataFrame = {
    def e = copurchaseEdges(s, d, minSupport)
    IndexMemo.getOrBuild[DataFrame](
      "triangleScalar", s"$minSupport", Seq(e)) {
      val deg = e.select(col("a").as("v"))
        .unionAll(e.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("dg"))
      // orient low (degree, id) -> high: out-degrees stay O(sqrt(E))
      // build-local persist (r16): the wedge count reads `oriented`
      // THREE times (both wedge legs + the closing join), and each
      // unpersisted read re-ran the degree-orientation joins; cache
      // the oriented edge list for the one counting job, release it
      // before the build returns (only the scalar stays pinned)
      val oriented = e
        .join(deg.select(col("v").as("a"), col("dg").as("da")), "a")
        .join(deg.select(col("v").as("b"), col("dg").as("db")), "b")
        .select(
          when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")), col("a"))
            .otherwise(col("b")).as("lo"),
          when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")), col("b"))
            .otherwise(col("a")).as("hi"))
        .persist()
      val wedges = oriented.select(col("lo").as("x"), col("hi").as("y"))
        .join(oriented.select(col("lo").as("y"), col("hi").as("z")), "y")
      val tri = wedges
        .join(oriented.select(col("lo").as("x"), col("hi").as("z")),
          Seq("x", "z"))
        .agg(count(lit(1)).as("n_triangles"))
        .persist()
      tri.count()
      oriented.unpersist()
      (tri, Seq(tri))
    }
  }

  def triangleCount(s: SparkSession, d: String,
      minSupport: Int = 7): DataFrame = {
    val e = copurchaseEdges(s, d, minSupport)
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("dg"))
    val counts = e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(deg.agg(count(lit(1)).as("n_nodes")))
    counts.crossJoin(triangleScalar(s, d, minSupport))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
  }

  /** DuckDB oracle for [[triangleCount]] — the unoriented closed-wedge
    * count a<b<c, which equals the oriented count. */
  def triangleCountSql(minSupport: Int = 7): String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
       |e AS (SELECT a.l_suppkey AS a, b.l_suppkey AS b
       |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |      AND a.l_suppkey < b.l_suppkey
       |      GROUP BY 1, 2 HAVING COUNT(*) >= $minSupport),
       |v AS (SELECT a AS v FROM e UNION ALL SELECT b FROM e),
       |tri AS (SELECT COUNT(*) AS n_triangles
       |        FROM e e1 JOIN e e2 ON e1.b = e2.a
       |        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
       |SELECT (SELECT COUNT(DISTINCT v) FROM v) AS n_nodes,
       |  (SELECT COUNT(*) FROM e) AS n_edges,
       |  n_triangles
       |FROM tri""".stripMargin

  /** Core of [[bfsHops]]: level-synchronous single-source BFS over an
    * explicit (src, dst) edge list. Classic distributed shape — each
    * round is ONE equi-join of the previous frontier against the edge
    * table plus a left-anti against the visited set, all on fixed-width
    * BIGINT node ids; the frontier and visited tables are
    * lineage-cut every round ([[GraftSession.cut]] — reliable
    * checkpoint when enabled) so a lost executor never restarts the
    * traversal and Catalyst re-plans at most one round of lineage. At
    * cluster scale you would pre-partition `edges` by src once so every
    * round's join is co-located — the same reuse discipline as the
    * PageRank iteration above. */
  private[graft] def bfsHopsFrom(edges: DataFrame, source: Long,
      maxHops: Int, nNodes: Long = Long.MaxValue): DataFrame = {
    val s = edges.sparkSession
    // Size every per-round state cut from the graph's KNOWN node
    // bound (r17): frontier and visited tables can never exceed
    // nNodes rows, so on a small graph each round materializes one
    // task instead of shuffle.partitions near-empty ones — the
    // measured-count right-sizing without its count() job, which a
    // per-round path must not pay. Clamps to the session's shuffle
    // partitions, so at cluster node counts it is a no-op.
    val shufParts =
      s.conf.get("spark.sql.shuffle.partitions").toInt
    // the SHARED right-sizing policy (ADVICE r17: a re-derived divisor
    // here disagreed with the shared one at exact 64k multiples); the
    // Long.MaxValue default rides compactParts' bound-safe ceil
    val stateParts = GraftSession.compactParts(s, nNodes)
    def sized(df: DataFrame): DataFrame =
      if (stateParts < shufParts) df.coalesce(stateParts) else df
    var dist = GraftSession.cut(sized(
      s.range(1).select(lit(source).as("node"), lit(0L).as("hops"))))
    var frontier = dist.select(col("node"))
    var h = 1
    var exhausted = false
    while (h <= maxHops && !exhausted) {
      val next = edges
        .join(perRoundSide(frontier.withColumnRenamed("node", "src"),
          nNodes), "src")
        .select(col("dst").as("node")).distinct()
        .join(perRoundSide(dist.select(col("node")), nNodes),
          Seq("node"), "left_anti")
        .select(col("node"), lit(h.toLong).as("hops"))
      // the frontier-emptiness probe is the cut's witness, computed by
      // the checkpoint's own job
      val (cutNext, Seq(nNext)) =
        GraftSession.cutWith(sized(next), count(lit(1)))
      // an empty frontier ends the walk: every later round expands
      // nothing, so stopping here is result-identical to running out
      // the remaining hops — on a small-diameter graph this bounds
      // the traversal by the ACTUAL eccentricity, not the radius knob
      if (nNext == 0L) {
        exhausted = true
      } else {
        // the visited set is a union of ALREADY-CUT frontiers, so its
        // plan is a stack of cached scans — no per-round re-materialize;
        // cut only every 4th round to bound plan depth on deep walks
        dist = dist.unionAll(cutNext)
        if (h % 4 == 0 && h < maxHops)
          dist = GraftSession.cut(sized(dist))
        frontier = cutNext.select(col("node"))
        h += 1
      }
    }
    dist
  }

  /** Single-source BFS over the trade graph: the minimum hop count
    * from `source` (default node 2 = customer 1) to every node within
    * `maxHops` hops — the k-hop-neighborhood primitive the rank/
    * component operators lack. Oracled by a DuckDB recursive CTE
    * ([[bfsHopsSql]]): UNION-deduped (node, hops) walk states, MIN per
    * node — identical min-hop semantics, pure integer arithmetic. */
  /** Memoized BFS distance table over the trade graph: the hop census
    * is consumed by the k-hop listing ([[bfsHops]]), the harmonic
    * centrality and both [[diameterSweep]] passes — one traversal per
    * (session, source), pinned like the graph it walks.
    *
    * One walk per SOURCE, not per (source, radius) (r16): min-hops are
    * prefix-stable — a longer walk assigns every node the same minimum
    * hop count and only ADDS nodes farther out — so the memo walks to
    * a cap of max(maxHops, 8) and any radius <= cap is a filter over
    * the one cached table. r15 billed three full traversals for the
    * gate's (2,4)/(2,6)/(far,6) calls where two suffice; the walk's
    * own empty-frontier exit bounds the extra rounds by the source's
    * ACTUAL eccentricity, so the cap costs nothing on a small-diameter
    * graph and a deeper radius request (> 8) simply keys its own
    * walk. */
  private val BfsCapHops = 8
  private def bfsDist(s: SparkSession, d: String, source: Long,
      maxHops: Int): DataFrame = {
    val cap = math.max(maxHops, BfsCapHops)
    val full = IndexMemo.getOrBuild[DataFrame]("bfsDist",
      s"$source#cap$cap", Seq(tradeEdges(s, d))) {
      val (edges, _, nBox) = tradeGraph(s, d)
      val dist = bfsHopsFrom(edges.select(col("src"), col("dst")),
        source, cap, nBox.longValue()).persist()
      dist.count()
      (dist, Seq(dist))
    }
    if (maxHops >= cap) full else full.filter(col("hops") <= maxHops)
  }

  def bfsHops(s: SparkSession, d: String, source: Long = 2L,
      maxHops: Int = 4): DataFrame =
    bfsDist(s, d, source, maxHops)
      .select(nodeLabel(col("node")).as("node"), col("hops"))
      .orderBy(col("hops"), col("node"))

  /** DuckDB oracle for [[bfsHops]]. */
  def bfsHopsSql(source: Long = 2L, maxHops: Int = 4): String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT DISTINCT o_custkey * 2 AS cnode,
       |         l_suppkey * 2 + 1 AS snode
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS (
       |  SELECT cnode AS src, snode AS dst FROM pairs
       |  UNION ALL SELECT snode AS src, cnode AS dst FROM pairs),
       |walk(node, hops) AS (
       |  SELECT CAST($source AS BIGINT) AS node, 0 AS hops
       |  UNION
       |  SELECT e.dst, w.hops + 1
       |  FROM walk w JOIN edges e ON e.src = w.node
       |  WHERE w.hops < $maxHops),
       |m AS (SELECT node, MIN(hops) AS mh FROM walk GROUP BY node)
       |SELECT CASE WHEN node % 2 = 0 THEN 'c' ELSE 's' END
       |    || CAST(node // 2 AS VARCHAR) AS node,
       |  CAST(mh AS BIGINT) AS hops
       |FROM m ORDER BY hops, node""".stripMargin

  /** Global clustering coefficient of the thresholded co-purchase
    * graph: 3·triangles / wedges, where the wedge count is the exact
    * degree sum Σ d(d−1)/2 — how much of the graph's neighborhood
    * structure closes into triangles (near 0 = tree-like supply
    * routes, near 1 = dense cliques). Reads the SAME memoized edge
    * list as [[triangleCount]] (one build, three statistics) and the
    * oriented wedge join for the triangle side; the coefficient is one
    * double division of exact BIGINTs, rounded. Emits
    * (n_wedges, n_triangles, global_cc). */
  def clusteringCoefficient(s: SparkSession, d: String,
      minSupport: Int = 7): DataFrame = {
    val tri = triangleScalar(s, d, minSupport)
    val e = copurchaseEdges(s, d, minSupport)
    val wedges = e.select(col("a").as("v"))
      .unionAll(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("dg"))
      .agg(sum(expr("(dg * (dg - 1)) DIV 2")).as("n_wedges"))
    wedges.crossJoin(tri)
      .select(col("n_wedges").cast("long").as("n_wedges"),
        col("n_triangles"),
        round(lit(3.0) * col("n_triangles").cast("double")
          / col("n_wedges").cast("double"), 6).as("global_cc"))
  }

  /** DuckDB oracle for [[clusteringCoefficient]]. */
  def clusteringCoefficientSql(minSupport: Int = 7): String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
       |e AS (SELECT a.l_suppkey AS a, b.l_suppkey AS b
       |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |      AND a.l_suppkey < b.l_suppkey
       |      GROUP BY 1, 2 HAVING COUNT(*) >= $minSupport),
       |deg AS (SELECT v, COUNT(*) AS dg FROM (
       |  SELECT a AS v FROM e UNION ALL SELECT b FROM e) u GROUP BY v),
       |w AS (SELECT CAST(SUM(dg * (dg - 1) // 2) AS BIGINT) AS n_wedges
       |      FROM deg),
       |tri AS (SELECT COUNT(*) AS n_triangles
       |        FROM e e1 JOIN e e2 ON e1.b = e2.a
       |        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
       |SELECT n_wedges, n_triangles,
       |  round(3.0 * CAST(n_triangles AS DOUBLE)
       |    / CAST(n_wedges AS DOUBLE), 6) AS global_cc
       |FROM w, tri""".stripMargin

  /** Memoized common-neighbor wedge pairs over the thresholded
    * co-purchase graph: one row (x, y, z, dg) per ordered endpoint
    * pair x < y and shared neighbor z with z's degree — the fan-out
    * self-join (Σ deg² rows, bounded by the `minSupport` density knob)
    * that BOTH neighborhood-similarity scores aggregate over. Pinned
    * once per (session, minSupport) like the edge list itself, so
    * Jaccard and Adamic-Adar each pay only their own groupBy. */
  private def sharedWedges(s: SparkSession, d: String,
      minSupport: Int): DataFrame = {
    def e = copurchaseEdges(s, d, minSupport)
    IndexMemo.getOrBuild[DataFrame](
      "sharedWedges", s"$minSupport", Seq(e)) {
      val adj = e.select(col("a").as("x"), col("b").as("z"))
        .unionAll(e.select(col("b").as("x"), col("a").as("z")))
      // persistCompactBy, not bare persist: the union output can land
      // as ONE AQE-coalesced partition locally (measured r18 — 68k
      // pair rows in one pinned partition), and both similarity
      // scores then aggregate it on one core
      val wedges =
        GraftSession.persistCompactBy(wedgePairs(adj, WedgeHubCap))
      (wedges, Seq(wedges))
    }
  }

  /** Per-slice neighbor-list bound for [[wedgePairs]]: far above any
    * minSupport-thresholded co-purchase degree at bench scale (every
    * node stays single-slice, so the sf paths keep the one-groupBy
    * oriented plan), low enough that one 100 TB hub node can never
    * make a collect_list buffer — or one aggregation output row —
    * scale with the hub's degree (VERDICT r17 #3: the r17 oriented
    * form collected each z's FULL neighbor list into one row,
    * O(max-degree) per-row memory on an unthresholded graph). */
  private[graft] val WedgeHubCap = 4096

  /** Sliced sorted-adjacency groups behind [[wedgePairs]]: one row per
    * (z, slice) with that slice's sorted neighbor list and z's full
    * degree. A node at or under `hubCap` neighbors is one slice 0; a
    * hub's neighbors hash into ceil(deg/hubCap) slices, so every
    * collect_list buffer and every output row is ~hubCap wide
    * (expected — the hash split is probabilistic, with slack that
    * concentrates tightly at this width) regardless of the hub's
    * degree. Costs one degree fold + join over the adjacency before
    * the group — paid only inside the build-once wedge index. */
  private[graft] def wedgeSlices(adj: DataFrame, hubCap: Int): DataFrame = {
    val m = expr(s"CAST((dg - 1) DIV $hubCap + 1 AS INT)")
    val dg = adj.groupBy(col("z")).agg(count(lit(1)).as("dg"))
    adj.join(dg, "z")
      .select(col("z"), col("x"), col("dg"),
        when(col("dg") <= hubCap, lit(0))
          .otherwise(pmod(hash(col("x")), m)).as("sl"))
      .groupBy(col("z"), col("sl"))
      .agg(sort_array(collect_list(col("x"))).as("ns"),
        first(col("dg")).as("dg"))
  }

  /** ORIENTED wedge generation (r17, hub-bounded r18): every unordered
    * pair (x, y), x < y, of distinct neighbors of z, exactly once,
    * with z's degree carried — without ever probing deg(z)^2 ordered
    * pairs (the pre-r17 self-join) and without any row or buffer wider
    * than `hubCap` (the r17 transient). A one-row max-degree probe
    * picks the path: a graph with NO hub past the cap (every
    * minSupport-thresholded sf graph, and any corpus graph whose
    * thresholding bounds degrees) keeps the r17 single-groupBy plan —
    * the sliced form's degree join back onto the adjacency measured
    * 2-3x the build cost warm, and its small side is node-cardinality
    * so a broadcast would violate the forced-broadcast scale rule.
    * With a hub present, [[wedgeSlices]] engages: WITHIN a slice, the
    * sorted list emits ns[i] with each later element, the
    * degree-orientation device; ACROSS two slices of one hub, each
    * slice pair i < j emits its full cross product once, canonicalized
    * with least/greatest — each unordered pair lands in exactly one of
    * the two paths because its endpoints' slices are either equal or
    * one ordered pair. The OUTPUT (the Σ deg²/2 pair table the
    * similarity scores aggregate) is identical on both paths
    * (GraphSpec pins the equality on a synthetic hub fixture). */
  private[graft] def wedgePairs(adj: DataFrame, hubCap: Int): DataFrame = {
    val maxRow = adj.groupBy(col("z")).agg(count(lit(1)).as("dg"))
      .agg(max(col("dg"))).head() // ungrouped agg: exactly one row
    val maxDeg = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    if (maxDeg <= hubCap)
      adj.groupBy(col("z"))
        .agg(sort_array(collect_list(col("x"))).as("ns"))
        .select(col("z"), col("ns"),
          size(col("ns")).cast("long").as("dg"),
          posexplode(col("ns")).as(Seq("i", "x")))
        .select(col("x"),
          explode(expr("slice(ns, i + 2, size(ns))")).as("y"),
          col("z"), col("dg"))
        .select(col("x"), col("y"), col("z"), col("dg"))
    else {
      val groups = wedgeSlices(adj, hubCap)
      val within = groups
        .select(col("z"), col("ns"), col("dg"),
          posexplode(col("ns")).as(Seq("i", "x")))
        .select(col("x"),
          explode(expr("slice(ns, i + 2, size(ns))")).as("y"),
          col("z"), col("dg"))
      def heavy = groups.filter(col("dg") > hubCap)
      val cross = heavy
        .join(heavy.select(col("z"), col("sl").as("sl2"),
          col("ns").as("ns2")), Seq("z"))
        .filter(col("sl") < col("sl2"))
        .select(col("z"), col("dg"), explode(col("ns")).as("u"),
          col("ns2"))
        .select(col("z"), col("dg"), col("u"),
          explode(col("ns2")).as("v"))
        .select(least(col("u"), col("v")).as("x"),
          greatest(col("u"), col("v")).as("y"), col("z"), col("dg"))
      within.select(col("x"), col("y"), col("z"), col("dg"))
        .unionAll(cross.select(col("x"), col("y"), col("z"), col("dg")))
    }
  }

  /** Link prediction by NEIGHBORHOOD JACCARD: the top supplier pairs
    * by |N(a) ∩ N(b)| / |N(a) ∪ N(b)| over the thresholded
    * co-purchase graph — "suppliers that serve the same peer group",
    * whether or not they trade directly. Shared-neighbor counts come
    * from one groupBy over the memoized [[sharedWedges]] fan-out;
    * intersection and degrees are exact BIGINTs, the score one
    * rounded division, selection a bounded top-k. */
  def nodeJaccard(s: SparkSession, d: String, minSupport: Int = 7,
      k: Int = 20): DataFrame = {
    val e = copurchaseEdges(s, d, minSupport)
    val und = e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
    val deg = und.groupBy(col("u")).agg(count(lit(1)).as("dg"))
    val shared = sharedWedges(s, d, minSupport)
      .select(col("x"), col("y").as("z"))
      .groupBy(col("x"), col("z")).agg(count(lit(1)).as("inter"))
    shared
      .join(deg.select(col("u").as("x"), col("dg").as("dx")), "x")
      .join(deg.select(col("u").as("z"), col("dg").as("dz")), "z")
      .select(col("x").as("supp_a"), col("z").as("supp_b"), col("inter"),
        round(col("inter").cast("double")
          / (col("dx") + col("dz") - col("inter")).cast("double"), 6)
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("supp_a"), col("supp_b"))
      .limit(k)
  }

  /** DuckDB oracle for [[nodeJaccard]]. */
  def nodeJaccardSql(minSupport: Int = 7, k: Int = 20): String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
       |e AS (SELECT a.l_suppkey AS a, b.l_suppkey AS b
       |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |      AND a.l_suppkey < b.l_suppkey
       |      GROUP BY 1, 2 HAVING COUNT(*) >= $minSupport),
       |und AS (SELECT a AS u, b AS v FROM e
       |        UNION ALL SELECT b, a FROM e),
       |deg AS (SELECT u, COUNT(*) AS dg FROM und GROUP BY u),
       |shared AS (
       |  SELECT n1.u AS x, n2.u AS z, COUNT(*) AS inter
       |  FROM und n1 JOIN und n2 ON n1.v = n2.v AND n1.u < n2.u
       |  GROUP BY 1, 2)
       |SELECT s.x AS supp_a, s.z AS supp_b,
       |  CAST(s.inter AS BIGINT) AS inter,
       |  round(CAST(s.inter AS DOUBLE)
       |    / CAST(da.dg + db.dg - s.inter AS DOUBLE), 6) AS jaccard
       |FROM shared s
       |JOIN deg da ON da.u = s.x JOIN deg db ON db.u = s.z
       |ORDER BY jaccard DESC, supp_a, supp_b LIMIT $k""".stripMargin

  /** Link prediction by ADAMIC-ADAR: Σ over shared neighbors z of
    * 1/ln(deg(z)) — [[nodeJaccard]]'s weighted twin, where rare shared
    * neighbors count more than promiscuous ones (the strongest of the
    * classic local link-prediction indices). Same bounded wedge join;
    * every shared neighbor has degree >= 2 BY CONSTRUCTION (it is
    * adjacent to both endpoints), so 1/ln(deg) is always finite. The
    * float sum folds in NEIGHBOR-id order (the q106 device — shared
    * neighbor sets are degree-bounded, so the per-pair list is small),
    * mirroring the oracle's list(... ORDER BY z) fold. */
  def adamicAdar(s: SparkSession, d: String, minSupport: Int = 7,
      k: Int = 20): DataFrame = {
    sharedWedges(s, d, minSupport)
      .select(col("x"), col("y"), col("z"),
        (lit(1.0) / log(col("dg").cast("double"))).as("w"))
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("n_shared"),
        round(aggregate(
          transform(sort_array(collect_list(struct(col("z"), col("w")))),
            st => st.getField("w")),
          lit(0.0), (acc, v) => acc + v), 6).as("aa_score"))
      .select(col("x").as("supp_a"), col("y").as("supp_b"),
        col("n_shared"), col("aa_score"))
      .orderBy(col("aa_score").desc, col("supp_a"), col("supp_b"))
      .limit(k)
  }

  /** DuckDB oracle for [[adamicAdar]]. */
  def adamicAdarSql(minSupport: Int = 7, k: Int = 20): String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
       |e AS (SELECT a.l_suppkey AS a, b.l_suppkey AS b
       |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |      AND a.l_suppkey < b.l_suppkey
       |      GROUP BY 1, 2 HAVING COUNT(*) >= $minSupport),
       |adj AS (SELECT a AS x, b AS z FROM e
       |        UNION ALL SELECT b, a FROM e),
       |deg AS (SELECT z, COUNT(*) AS dg FROM adj GROUP BY z)
       |SELECT a1.x AS supp_a, a2.x AS supp_b,
       |  COUNT(*) AS n_shared,
       |  round(list_sum(list(1.0 / ln(CAST(dg AS DOUBLE))
       |    ORDER BY a1.z)), 6) AS aa_score
       |FROM adj a1
       |JOIN adj a2 ON a1.z = a2.z AND a1.x < a2.x
       |JOIN deg ON deg.z = a1.z
       |GROUP BY a1.x, a2.x
       |ORDER BY aa_score DESC, supp_a, supp_b LIMIT $k""".stripMargin

  /** Personalized PageRank from one source node: the restart mass
    * (15%) returns to `source` every round instead of spreading
    * uniformly, so the stationary ranks measure relevance TO THAT NODE
    * — the classic graph-recommendation primitive ("suppliers most
    * relevant to customer 1"). Same exact scaled-BIGINT floor
    * arithmetic and per-round lineage cuts as [[pageRank]]; the rank
    * table stays SPARSE (only reached nodes carry rows), so early
    * rounds join a frontier-sized table against the pinned edges, not
    * a full node vector. Oracled by the same unrolled CTE chain
    * ([[personalizedPageRankSql]]). */
  def personalizedPageRank(s: SparkSession, d: String, source: Long = 2L,
      iters: Int = 4, k: Int = 20): DataFrame = {
    val (edges, _, nBox) = tradeGraph(s, d)
    val n = nBox.longValue()
    val restart = (15L * RankScale) / 100L
    def restartRow =
      s.range(1).select(lit(source).as("node"), lit(restart).as("rank"))
    var rank = GraftSession.cut(
      s.range(1).select(lit(source).as("node"), lit(RankScale).as("rank")))
    for (i <- 1 to iters) {
      rank = pageRankContribs(edges, rank, n)
        .select(col("dst").as("node"), expr("(85 * c) DIV 100").as("rank"))
        .unionAll(restartRow)
        .groupBy(col("node")).agg(sum(col("rank")).as("rank"))
      if (i % 2 == 0 || i == iters) rank = GraftSession.cut(rank)
    }
    rank.select(nodeLabel(col("node")).as("node"),
        col("rank").as("rank_scaled"))
      .orderBy(col("rank_scaled").desc, col("node")).limit(k)
  }

  /** DuckDB oracle for [[personalizedPageRank]]: the same sparse
    * iteration unrolled, restart mass summed back onto the source. */
  def personalizedPageRankSql(source: Long = 2L, iters: Int = 4,
      k: Int = 20): String = {
    val restart = (15L * RankScale) / 100L
    val head =
      s"""WITH pairs AS (
         |  SELECT DISTINCT o_custkey * 2 AS cnode,
         |         l_suppkey * 2 + 1 AS snode
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |edges AS (
         |  SELECT cnode AS src, snode AS dst FROM pairs
         |  UNION ALL SELECT snode AS src, cnode AS dst FROM pairs),
         |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
         |r0 AS (SELECT CAST($source AS BIGINT) AS node,
         |              CAST($RankScale AS BIGINT) AS rank)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""r$i AS (SELECT node, SUM(rank) AS rank FROM (
         |  SELECT e.dst AS node,
         |    (85 * SUM(r.rank // d.deg)) // 100 AS rank
         |  FROM edges e
         |  JOIN r${i - 1} r ON e.src = r.node
         |  JOIN deg d ON e.src = d.src
         |  GROUP BY e.dst
         |  UNION ALL SELECT CAST($source AS BIGINT), $restart) u
         |  GROUP BY node)""".stripMargin
    }
    val tail =
      s"""SELECT CASE WHEN node % 2 = 0 THEN 'c' ELSE 's' END
         |    || CAST(node // 2 AS VARCHAR) AS node,
         |  CAST(rank AS BIGINT) AS rank_scaled FROM r$iters
         |ORDER BY rank_scaled DESC, node LIMIT $k""".stripMargin
    (Seq(head) ++ steps).mkString(",\n") + "\n" + tail
  }

  /** Memoized WEIGHTED trade edges: (src, dst, cost) where cost =
    * 1000000 DIV (number of distinct orders linking the customer and
    * supplier) — strong trading ties are cheap edges, so shortest
    * paths prefer high-support routes. Exact BIGINT floor division,
    * both directions; built once like [[tradeGraph]]. */
  private[graft] def weightedTradeEdges(s: SparkSession,
      d: String): DataFrame =
    IndexMemo.getOrBuild[DataFrame]("wTradeEdges", "",
      Seq(tradeEdges(s, d))) {
      val pairs = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2L).as("cnode"),
          (col("l_suppkey") * 2L + 1L).as("snode"), col("o_orderkey"))
        // one pair-keyed exchange serves BOTH the support distinct and
        // the pair count (r18): hash on (cnode, snode) co-locates
        // every (cnode, snode, orderkey) group — a subset-key
        // partitioning satisfies the finer clustering — so the
        // distinct and the groupBy both plan exchange-free on top,
        // where the old shape paid one full-width distinct exchange
        // plus a pair-keyed agg exchange
        .repartition(
          s.conf.get("spark.sql.shuffle.partitions").toInt,
          col("cnode"), col("snode"))
        .distinct()
        .groupBy(col("cnode"), col("snode"))
        .agg(count(lit(1)).as("support"))
        .withColumn("cost", expr("1000000 DIV support"))
      // persistCompactBy(src) (r18): weighted fixpoints scan this
      // table every round; the src pin additionally makes the wdeg
      // fold and the wprEdges deg-carry join exchange-free (both key
      // on src over this cache)
      val edges = GraftSession.persistCompactBy(pairs
        .select(col("cnode").as("src"), col("snode").as("dst"),
          col("cost"), col("support"))
        .unionAll(pairs.select(col("snode").as("src"),
          col("cnode").as("dst"), col("cost"), col("support"))),
        col("src"))
      (edges, Seq(edges))
    }

  /** Support-weighted PageRank: the [[pageRank]] walk where a round's
    * mass splits proportionally to TIE STRENGTH (distinct shared
    * orders) instead of uniformly — a hub whose volume concentrates
    * on one partner passes nearly all its rank there. Exact BIGINT
    * floor arithmetic throughout: per-edge contribution is
    * (rank · support) DIV wdeg with wdeg = Σ support folded into the
    * pinned edge table (one join per round saved, the [[tradeGraph]]
    * move), damping 0.85 in the same scaled-integer form, per-round
    * broadcast gate and lineage cuts as every iterative plan here.
    * Oracled by the identical unrolled integer chain. */
  /** Memoized dst-pinned weighted edge table with the out-weight
    * folded in: (src, dst, support, wdeg). persistCompactBy(dst)
    * (r18): the weighted fixpoints scan this every round as
    * edges ⋈ broadcast(state) → groupBy(dst) — the dst hash pin makes
    * each round's aggregation exchange-free, same device as the
    * tradeGraph edge table. Shared by [[weightedPageRank]] and (r19)
    * [[ssspCost]], whose relaxation groups by dst too. */
  private[graft] def wprEdges(s: SparkSession, d: String): DataFrame = {
    val raw = weightedTradeEdges(s, d)
    IndexMemo.getOrBuild[DataFrame](
      "wprEdges", "", Seq(raw)) {
      val wdeg = raw.groupBy(col("src"))
        .agg(sum(col("support")).as("wdeg"))
      val built = GraftSession.persistCompactBy(
        raw.select(col("src"), col("dst"), col("support"))
          .join(wdeg, "src"), col("dst"))
      (built, Seq(built))
    }
  }

  def weightedPageRank(s: SparkSession, d: String, iters: Int = 4,
      k: Int = 20): DataFrame = {
    val raw = weightedTradeEdges(s, d)
    val wdeg = raw.groupBy(col("src")).agg(sum(col("support")).as("wdeg"))
    val edges = wprEdges(s, d)
    val n = tradeGraph(s, d)._3.longValue()
    val init = RankScale / n
    val base = (15L * init) / 100L
    var rank = GraftSession.cut(
      wdeg.select(col("src").as("node"), lit(init).as("rank")))
    for (i <- 1 to iters) {
      rank = edges
        .join(perRoundSide(rank.withColumnRenamed("node", "src"), n),
          "src")
        .select(col("dst"),
          expr("(rank * support) DIV wdeg").as("contrib"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("c"))
        .select(col("dst").as("node"),
          (lit(base) + expr("(85 * c) DIV 100")).as("rank"))
      if (i % 2 == 0 || i == iters) rank = GraftSession.cut(rank)
    }
    rank.select(nodeLabel(col("node")).as("node"),
        col("rank").as("rank_scaled"))
      .orderBy(col("rank_scaled").desc, col("node")).limit(k)
  }

  /** DuckDB oracle for [[weightedPageRank]]. */
  def weightedPageRankSql(iters: Int = 4, k: Int = 20): String = {
    val head =
      s"""WITH pairs AS (
         |  SELECT o_custkey * 2 AS cnode, l_suppkey * 2 + 1 AS snode,
         |         COUNT(DISTINCT o_orderkey) AS support
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  GROUP BY 1, 2),
         |edges AS (
         |  SELECT cnode AS src, snode AS dst, support FROM pairs
         |  UNION ALL SELECT snode, cnode, support FROM pairs),
         |wdeg AS (SELECT src, CAST(SUM(support) AS BIGINT) AS wdeg
         |         FROM edges GROUP BY 1),
         |nn AS (SELECT COUNT(*) AS n FROM wdeg),
         |r0 AS (SELECT src AS node, $RankScale // n AS rank
         |       FROM wdeg, nn)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT e.dst AS node,
         |    (15 * ($RankScale // nn.n)) // 100
         |      + (85 * SUM((r.rank * e.support) // w.wdeg)) // 100
         |      AS rank
         |  FROM edges e
         |  JOIN r${i - 1} r ON e.src = r.node
         |  JOIN wdeg w ON e.src = w.src, nn
         |  GROUP BY e.dst, nn.n)""".stripMargin
    }
    val tail =
      s"""SELECT CASE WHEN node % 2 = 0 THEN 'c' ELSE 's' END
         |    || CAST(node // 2 AS VARCHAR) AS node,
         |  CAST(rank AS BIGINT) AS rank_scaled FROM r$iters
         |ORDER BY rank_scaled DESC, node LIMIT $k""".stripMargin
    (Seq(head) ++ steps).mkString(",\n") + "\n" + tail
  }

  /** Bellman-Ford single-source shortest path, `rounds` relaxation
    * rounds over the weighted trade graph — the weighted complement of
    * [[bfsHops]] (cheapest-route cost instead of hop count). Each
    * round is ONE edge join + a groupBy-min over (node, cost) BIGINT
    * pairs, lineage-cut like every iterative plan; all arithmetic is
    * exact integer min-plus, so the unrolled DuckDB CTE chain
    * ([[ssspCostSql]]) reproduces every round bit-for-bit — the
    * PageRank oracle discipline applied to path costs. Emits the
    * nodes reachable within `rounds` edges with their cheapest cost. */
  def ssspCost(s: SparkSession, d: String, source: Long = 2L,
      rounds: Int = 4): DataFrame = {
    // node-count gate reuses the memoized unweighted graph's exact
    // count (shared with every other trade-graph statistic in a
    // session) rather than paying a distinct-count on the weighted set
    val (_, _, nBox) = tradeGraph(s, d)
    ssspFrom(ssspEdges(s, d), source, rounds, nBox.longValue())
      .select(nodeLabel(col("node")).as("node"), col("cost"))
      .orderBy(col("cost"), col("node"))
  }

  /** One Bellman-Ford relaxation round over `edges` from state `dist`:
    * every edge whose src carries a cost proposes (dst, cost+edge), and
    * the new state is the per-node minimum over the old state and the
    * proposals. Factored out so the round-plan audit tool can explain
    * exactly the expression the loop materializes.
    *
    * UNION-FREE (r19, VERDICT r18 task 1): the former
    * `dist ∪ relaxed → groupBy(node).min` concatenated the node-sized
    * state with the edge-grain proposals, erasing the pinned edge
    * table's partitioning, so every round's aggregation exchanged
    * edge-grain partials. Aggregating the proposals FIRST lets the
    * dst-hash pin reach the groupBy through the broadcast join (no
    * exchange at all on the heavy side), and folding the old state in
    * by a full-outer join moves only node-sized state rows.
    * `least` skips nulls, so it is exactly the per-node min over
    * whichever of {old state, proposal} exist — bit-identical BIGINT
    * arithmetic to the union form, same oracle. */
  private[graft] def ssspRound(edges: DataFrame, dist: DataFrame,
      nNodes: Long): DataFrame = {
    val contrib = edges
      .join(perRoundSide(
        dist.select(col("node").as("src"), col("cost").as("dc")),
        nNodes), "src")
      .select(col("dst").as("node"), (col("dc") + col("cost")).as("rc"))
      .groupBy(col("node")).agg(min(col("rc")).as("rc"))
    dist.join(contrib, Seq("node"), "full_outer")
      .select(col("node"), least(col("cost"), col("rc")).as("cost"))
  }

  /** Core of [[ssspCost]]: Bellman-Ford over an explicit
    * (src, dst, cost) edge list. */
  private[graft] def ssspFrom(edges: DataFrame, source: Long,
      rounds: Int, nNodes: Long = Long.MaxValue): DataFrame = {
    val s = edges.sparkSession
    var dist = GraftSession.cut(
      s.range(1).select(lit(source).as("node"), lit(0L).as("cost")))
    // exact fixpoint witness over each round's state: the reach count
    // only grows and min-plus costs only shrink, so an unchanged
    // (count, sum(cost)) pair PROVES the round was the identity — and
    // Bellman-Ford at a fixed point stays there, so skipping the
    // remaining rounds returns exactly what the full fixed-round
    // unroll (and the oracle CTE chain) computes. The witness rides
    // the cut's own job, so every round checks it for free.
    var w = Seq.empty[Long]
    var i = 1
    var converged = false
    while (i <= rounds && !converged) {
      val (next, w2) = GraftSession.cutWith(ssspRound(edges, dist, nNodes),
        count(lit(1)), sum(col("cost")))
      dist = next
      converged = w2 == w
      w = w2
      i += 1
    }
    dist
  }

  /** DuckDB oracle for [[ssspCost]]: the same rounds unrolled as a
    * CTE chain of min-plus relaxations. */
  def ssspCostSql(source: Long = 2L, rounds: Int = 4): String = {
    val head =
      s"""WITH pairs AS (
         |  SELECT o_custkey * 2 AS cnode, l_suppkey * 2 + 1 AS snode,
         |         COUNT(DISTINCT o_orderkey) AS support
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  GROUP BY 1, 2),
         |edges AS (
         |  SELECT cnode AS src, snode AS dst, 1000000 // support AS cost
         |  FROM pairs
         |  UNION ALL
         |  SELECT snode, cnode, 1000000 // support FROM pairs),
         |d0 AS (SELECT CAST($source AS BIGINT) AS node,
         |              CAST(0 AS BIGINT) AS cost)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s"""d$i AS (SELECT node, MIN(cost) AS cost FROM (
         |  SELECT node, cost FROM d${i - 1}
         |  UNION ALL
         |  SELECT e.dst AS node, d.cost + e.cost AS cost
         |  FROM d${i - 1} d JOIN edges e ON e.src = d.node) u
         |  GROUP BY node)""".stripMargin
    }
    val tail =
      s"""SELECT CASE WHEN node % 2 = 0 THEN 'c' ELSE 's' END
         |    || CAST(node // 2 AS VARCHAR) AS node,
         |  CAST(cost AS BIGINT) AS cost FROM d$rounds
         |ORDER BY cost, node""".stripMargin
    (Seq(head) ++ steps).mkString(",\n") + "\n" + tail
  }

  /** Degree profile of the trade graph: how many nodes have each
    * (side, degree) — the skew diagnostic you run before deciding the
    * PageRank partitioning. Reads the memoized degree table; the only
    * new work is a nodes-sized agg. */
  def degreeProfile(s: SparkSession, d: String): DataFrame =
    tradeGraph(s, d)._2
      .groupBy(when(col("src") % 2 === 0, lit("c")).otherwise(lit("s"))
        .as("side"), col("deg"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("side"), col("deg"))

  /** Degree assortativity of the bipartite trade graph: Pearson
    * correlation between the endpoint degrees over every DIRECTED
    * edge — positive means hubs trade alongside hubs (assortative
    * mixing), negative means hub-and-spoke, the expected sign for a
    * customer–supplier graph where few suppliers serve many
    * one-supplier customers. (The co-purchase graph is deliberately
    * NOT used: at small SFs every supplier pair co-orders, the graph
    * is complete-regular, and the coefficient degenerates to NULL.)
    * All sums are exact in DECIMAL(38,0)/HUGEINT (the q163/q167
    * device; n·deg⁴ stays far under 1e38 at any gate SF), the
    * coefficient one rounded division. Reads the memoized trade
    * graph, whose pinned edges already carry the src degree — the
    * only new work is one dst-degree join + one agg. */
  def assortativity(s: SparkSession, d: String): DataFrame = {
    val dec = "decimal(38,0)"
    val (edges, deg, _) = tradeGraph(s, d)
    val pairs = edges
      .select(col("src"), col("dst"), col("deg").as("du"))
      .join(deg.select(col("src").as("dst"), col("deg").as("dv")), "dst")
    val st = pairs.agg(count(lit(1)).as("n"),
      sum(col("du")).as("sx"), sum(col("dv")).as("sy"),
      sum(col("du").cast(dec) * col("dv")).as("sxy"),
      sum(col("du").cast(dec) * col("du")).as("sxx"),
      sum(col("dv").cast(dec) * col("dv")).as("syy"))
    st.select(col("n").as("n_dir_edges"),
      round((col("n").cast(dec) * col("sxy")
          - col("sx").cast(dec) * col("sy")).cast("double")
        / nullif(
          sqrt((col("n").cast(dec) * col("sxx")
            - col("sx").cast(dec) * col("sx")).cast("double"))
          * sqrt((col("n").cast(dec) * col("syy")
            - col("sy").cast(dec) * col("sy")).cast("double")),
          lit(0.0)), 6).as("assortativity"))
  }

  /** DuckDB oracle for [[assortativity]]. */
  def assortativitySql(): String =
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey * 2 AS cnode,
       |         l_suppkey * 2 + 1 AS snode
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS (
       |  SELECT cnode AS src, snode AS dst FROM pairs
       |  UNION ALL SELECT snode AS src, cnode AS dst FROM pairs),
       |deg AS (SELECT src, COUNT(*) AS dg FROM edges GROUP BY src),
       |p AS (SELECT d1.dg AS du, d2.dg AS dv FROM edges
       |      JOIN deg d1 ON d1.src = edges.src
       |      JOIN deg d2 ON d2.src = edges.dst),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(du) AS BIGINT) AS sx,
       |    CAST(SUM(dv) AS BIGINT) AS sy,
       |    SUM(CAST(du AS HUGEINT) * dv) AS sxy,
       |    SUM(CAST(du AS HUGEINT) * du) AS sxx,
       |    SUM(CAST(dv AS HUGEINT) * dv) AS syy
       |  FROM p)
       |SELECT n AS n_dir_edges,
       |  round(CAST(CAST(n AS HUGEINT) * sxy
       |      - CAST(sx AS HUGEINT) * sy AS DOUBLE)
       |    / nullif(sqrt(CAST(CAST(n AS HUGEINT) * sxx
       |        - CAST(sx AS HUGEINT) * sx AS DOUBLE))
       |      * sqrt(CAST(CAST(n AS HUGEINT) * syy
       |        - CAST(sy AS HUGEINT) * sy AS DOUBLE)), 0.0), 6)
       |    AS assortativity
       |FROM st""".stripMargin

  /** Fixed-round k-core peeling of the thresholded co-purchase graph:
    * `rounds` synchronous passes each dropping nodes of degree <
    * `kDeg` (and their incident edges), emitting the surviving
    * (nodes, edges). The classic dense-subgraph census — with enough
    * rounds this converges to the true k-core; the FIXED round count
    * keeps it exactly oracle-able (unrolled CTE chain), the same
    * trade as the PageRank iteration — with an early exit the moment
    * a round's bad set is empty, which is result-identical to
    * running the remaining rounds (peeling is monotone; an empty bad
    * set is a fixed point). Each round is one map-side-combined
    * degree agg plus two semi-joins on BIGINT ids against a
    * fringe-sized bad set, lineage-cut per round. */
  def kCore(s: SparkSession, d: String, kDeg: Int = 4,
      rounds: Int = 5, minSupport: Int = 7): DataFrame = {
    val e0 = copurchaseEdges(s, d, minSupport)
    var und = GraftSession.cut(
      e0.select(col("a").as("u"), col("b").as("v"))
        .unionAll(e0.select(col("b").as("u"), col("a").as("v"))))
    var i = 1
    var converged = false
    while (i <= rounds && !converged) {
      // peel by the BAD set (deg < k), not the keep set: after the
      // first round only the fringe gets removed, so the anti-join
      // build side is a handful of ids — broadcast under the same
      // measured-bound gate as the rank/frontier tables — where the
      // keep set stays node-sized. Materialize bad once: both
      // anti-join builds then read a fringe-sized table. The broadcast
      // is gated on bad's OWN measured count (the cut's witness, also
      // the fixpoint check below) — not the edge count, which is
      // orders of magnitude larger than the fringe and would withhold
      // a broadcast the build side trivially fits
      val (bad, Seq(nBad)) = GraftSession.cutWith(
        und.groupBy(col("u")).agg(count(lit(1)).as("dg"))
          .filter(col("dg") < kDeg).select(col("u")), count(lit(1)))
      if (nBad == 0L) {
        // fixed point: an empty bad set makes this and every
        // remaining round the identity, so skipping them returns
        // EXACTLY what the full fixed-round unroll (and the oracle's
        // CTE chain) computes — peeling is monotone, nothing can
        // re-enter the bad set once it is empty. At scale this is
        // the difference between paying `rounds` shuffles and paying
        // only as many as the graph actually needs.
        converged = true
      } else {
        // per-round cut (unlike PageRank's every-2nd-round cadence):
        // bad is referenced twice, so an uncut und would be recomputed
        // under each anti-join build — materializing first keeps the
        // peels single-pass
        und = GraftSession.cut(und
          .join(perRoundSide(bad, nBad), Seq("u"), "left_anti")
          .join(perRoundSide(bad.select(col("u").as("v")), nBad), Seq("v"),
            "left_anti")
          .select(col("u"), col("v")))
        i += 1
      }
    }
    und.agg(count_distinct(col("u")).as("n_core_nodes"),
      expr("COUNT(*) DIV 2").as("n_core_edges"))
  }

  /** DuckDB oracle for [[kCore]]: the same peeling rounds unrolled.
    * Every per-round CTE is MATERIALIZED — each a$i references
    * a${i-1} three times (directly plus twice through k$i), so
    * DuckDB's default CTE inlining would re-evaluate the base
    * self-join 3^rounds times and spill. */
  def kCoreSql(kDeg: Int = 4, rounds: Int = 5,
      minSupport: Int = 7): String = {
    val head =
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
         |e AS MATERIALIZED (SELECT a.l_suppkey AS a, b.l_suppkey AS b
         |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         |      AND a.l_suppkey < b.l_suppkey
         |      GROUP BY 1, 2 HAVING COUNT(*) >= $minSupport),
         |a0 AS MATERIALIZED (SELECT a AS u, b AS v FROM e
         |       UNION ALL SELECT b, a FROM e)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s"""k$i AS MATERIALIZED (SELECT u FROM a${i - 1} GROUP BY u
         |  HAVING COUNT(*) >= $kDeg),
         |a$i AS MATERIALIZED (SELECT u, v FROM a${i - 1}
         |  WHERE u IN (SELECT u FROM k$i)
         |  AND v IN (SELECT u FROM k$i))""".stripMargin
    }
    val tail =
      s"""SELECT CAST(COUNT(DISTINCT u) AS BIGINT) AS n_core_nodes,
         |  COUNT(*) // 2 AS n_core_edges
         |FROM a$rounds""".stripMargin
    (Seq(head) ++ steps).mkString(",\n") + "\n" + tail
  }

  /** Fixed-round k-truss peeling of the thresholded co-purchase
    * graph: `rounds` synchronous passes each dropping every edge in
    * fewer than `kTruss`−2 triangles, emitting the surviving
    * (nodes, edges) — the edge-cohesion strengthening of [[kCore]]
    * (every k-truss edge's endpoints lie in the (k−1)-core, never
    * vice versa). Per round: per-edge triangle support from ONE
    * common-neighbor join of the current edge list against its
    * adjacency (O(E·d̄), the same bound as the triangle census — no
    * 3-way join), a support filter, and a lineage cut; the peel stops
    * early the moment a round drops nothing (monotone, so an
    * unchanged edge count is a fixed point and the remaining rounds
    * are the identity — result-identical to the oracle's fixed-round
    * unroll). */
  def kTruss(s: SparkSession, d: String, kTruss: Int = 3,
      rounds: Int = 4, minSupport: Int = 7): DataFrame = {
    // k = 2 would be the identity (every edge is a 2-truss), but the
    // support left_semi below has no row for triangle-free edges and
    // would drop them — so the trivial case is rejected rather than
    // silently mis-answered (the oracle unroll shares the shape)
    require(kTruss >= 3, s"kTruss must be >= 3 (got $kTruss); " +
      "a 2-truss is the input edge set itself")
    val minTri = (kTruss - 2).toLong
    var (e, Seq(nEdges)) = GraftSession.cutWith(
      copurchaseEdges(s, d, minSupport).select(col("a"), col("b")),
      count(lit(1)))
    var i = 1
    var converged = false
    while (i <= rounds && !converged) {
      val adj = e.select(col("a").as("u"), col("b").as("v"))
        .unionAll(e.select(col("b").as("u"), col("a").as("v")))
      // common-neighbor count per edge: c is adjacent to BOTH a and b
      val support = e
        .join(adj.select(col("u").as("a"), col("v").as("c")), "a")
        .join(adj.select(col("u").as("b"), col("v").as("c")),
          Seq("b", "c"), "left_semi")
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("tri"))
      // the edge count that detects the fixed point is the cut's witness
      val (peeled, Seq(n2)) = GraftSession.cutWith(e
        .join(support.filter(col("tri") >= minTri)
          .select(col("a"), col("b")), Seq("a", "b"), "left_semi"),
        count(lit(1)))
      e = peeled
      if (n2 == nEdges) converged = true
      nEdges = n2
      i += 1
    }
    e.agg(count(lit(1)).as("n_truss_edges"))
      .crossJoin(broadcast(
        e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
          .agg(count_distinct(col("v")).as("n_truss_nodes"))))
  }

  /** DuckDB oracle for [[kTruss]]: the same peel unrolled with
    * MATERIALIZED per-round CTEs (each e$i feeds the next round's
    * adjacency twice plus the support join). */
  def kTrussSql(kTruss: Int = 3, rounds: Int = 4,
      minSupport: Int = 7): String = {
    require(kTruss >= 3, s"kTruss must be >= 3 (got $kTruss)")
    val minTri = kTruss - 2
    val head =
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
         |e0 AS MATERIALIZED (SELECT a.l_suppkey AS a, b.l_suppkey AS b
         |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         |      AND a.l_suppkey < b.l_suppkey
         |      GROUP BY 1, 2 HAVING COUNT(*) >= $minSupport)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s"""adj$i AS MATERIALIZED (SELECT a AS u, b AS v FROM e${i - 1}
         |  UNION ALL SELECT b, a FROM e${i - 1}),
         |sup$i AS MATERIALIZED (SELECT e.a, e.b, COUNT(*) AS tri
         |  FROM e${i - 1} e
         |  JOIN adj$i x ON x.u = e.a
         |  JOIN adj$i y ON y.u = e.b AND y.v = x.v
         |  GROUP BY e.a, e.b),
         |e$i AS MATERIALIZED (SELECT e.a, e.b FROM e${i - 1} e
         |  JOIN sup$i s ON s.a = e.a AND s.b = e.b
         |  WHERE s.tri >= $minTri)""".stripMargin
    }
    val tail =
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_truss_edges,
         |  (SELECT CAST(COUNT(DISTINCT v) AS BIGINT) FROM (
         |     SELECT a AS v FROM e$rounds
         |     UNION ALL SELECT b FROM e$rounds) t) AS n_truss_nodes
         |FROM e$rounds""".stripMargin
    (Seq(head) ++ steps).mkString(",\n") + "\n" + tail
  }

  /** Per-node (local) clustering coefficient, top-`k`: for each
    * supplier, the fraction of its neighbor pairs that are themselves
    * connected — 2·tri(v) / (deg·(deg−1)). Triangles-at-v come from
    * closing the memoized [[sharedWedges]] fan-out against the edge
    * list with ONE semi-join (a wedge (x, y | z) is a triangle at z
    * iff (x, y) is an edge, and each triangle closes exactly one
    * wedge per vertex), so the per-node census costs one join + two
    * aggs over already-pinned tables. Counts and degrees exact
    * BIGINTs; the coefficient one rounded division; bounded top-k. */
  def localClustering(s: SparkSession, d: String, minSupport: Int = 7,
      k: Int = 20): DataFrame = {
    val e = copurchaseEdges(s, d, minSupport)
    val triAtZ = sharedWedges(s, d, minSupport)
      .join(e.select(col("a").as("x"), col("b").as("y")),
        Seq("x", "y"), "left_semi")
      .groupBy(col("z")).agg(count(lit(1)).as("tri"))
    val adj = e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
    adj.groupBy(col("u")).agg(count(lit(1)).as("degree"))
      .filter(col("degree") >= 2)
      .join(triAtZ.select(col("z").as("u"), col("tri")), Seq("u"), "left")
      .select(col("u").as("supplier"), col("degree"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        round(lit(2.0) * coalesce(col("tri"), lit(0L)).cast("double")
          / (col("degree") * (col("degree") - 1L)).cast("double"), 6)
          .as("local_cc"))
      .orderBy(col("local_cc").desc, col("supplier"))
      .limit(k)
  }

  /** DuckDB oracle for [[localClustering]]. */
  def localClusteringSql(minSupport: Int = 7, k: Int = 20): String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
       |e AS (SELECT a.l_suppkey AS a, b.l_suppkey AS b
       |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |      AND a.l_suppkey < b.l_suppkey
       |      GROUP BY 1, 2 HAVING COUNT(*) >= $minSupport),
       |adj AS (SELECT a AS x, b AS z FROM e
       |        UNION ALL SELECT b, a FROM e),
       |w AS (SELECT a1.x AS x, a2.x AS y, a1.z AS z FROM adj a1
       |      JOIN adj a2 ON a1.z = a2.z AND a1.x < a2.x),
       |c AS (SELECT w.z, COUNT(*) AS tri FROM w
       |      JOIN e ON e.a = w.x AND e.b = w.y GROUP BY w.z),
       |deg AS (SELECT x AS u, COUNT(*) AS degree FROM adj GROUP BY x)
       |SELECT deg.u AS supplier, degree,
       |  COALESCE(tri, 0) AS tri,
       |  round(2.0 * CAST(COALESCE(tri, 0) AS DOUBLE)
       |    / CAST(degree * (degree - 1) AS DOUBLE), 6) AS local_cc
       |FROM deg LEFT JOIN c ON c.z = deg.u
       |WHERE degree >= 2
       |ORDER BY local_cc DESC, supplier LIMIT $k""".stripMargin

  /** Harmonic centrality of one source over the trade graph: Σ 1/d(s,v)
    * for every node within `maxHops` — the bounded-radius centrality
    * that, unlike closeness, is defined on disconnected graphs. Rides
    * the SAME level-synchronous BFS as [[bfsHops]]; the reciprocal sum
    * runs in exact integers scaled by lcm(1..4) = 12 (`12 DIV h` is
    * exact for every h ≤ 4), so the only float op is one final rounded
    * division — no data-dependent double summation order. */
  def harmonicCentrality(s: SparkSession, d: String, source: Long = 2L,
      maxHops: Int = 4): DataFrame = {
    require(maxHops <= 4, "12 DIV h is exact only for h <= 4")
    bfsDist(s, d, source, maxHops)
      .filter(col("hops") > 0)
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("12 DIV hops")).as("x12"))
      .select(col("n_reached"),
        round(col("x12").cast("double") / 12.0, 6).as("harmonic"))
  }

  /** DuckDB oracle for [[harmonicCentrality]]: the [[bfsHopsSql]]
    * recursive walk with the same scaled-integer reciprocal sum. */
  def harmonicCentralitySql(source: Long = 2L,
      maxHops: Int = 4): String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT DISTINCT o_custkey * 2 AS cnode,
       |         l_suppkey * 2 + 1 AS snode
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS (
       |  SELECT cnode AS src, snode AS dst FROM pairs
       |  UNION ALL SELECT snode AS src, cnode AS dst FROM pairs),
       |walk(node, hops) AS (
       |  SELECT CAST($source AS BIGINT) AS node, 0 AS hops
       |  UNION
       |  SELECT e.dst, w.hops + 1
       |  FROM walk w JOIN edges e ON e.src = w.node
       |  WHERE w.hops < $maxHops),
       |m AS (SELECT node, MIN(hops) AS mh FROM walk GROUP BY node)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_reached,
       |  round(CAST(SUM(12 // mh) AS DOUBLE) / 12.0, 6) AS harmonic
       |FROM m WHERE mh > 0""".stripMargin

  /** Eigenvector centrality by power iteration over the trade graph —
    * the undamped companion of [[pageRank]]: x ← A·x with a
    * renormalization each round, so a node is central in proportion
    * to its neighbors' centrality with NO out-degree division and no
    * restart mass. All arithmetic is exact scaled-BIGINT: the
    * per-round normalizer is `max(total DIV RankScale, 1)` — the
    * clamp matters on degenerate graphs where init floor loss pushes
    * sum(x) just under RankScale — and each round is the same one
    * broadcast-gated join + map-side-combined sum as PageRank,
    * lineage-cut on the same cadence. The oracle unrolls the
    * identical integer chain. */
  def eigenvectorCentrality(s: SparkSession, d: String, iters: Int = 4,
      k: Int = 20): DataFrame = {
    val (edges, deg, nBox) = tradeGraph(s, d)
    val n = nBox.longValue()
    var x = GraftSession.cut(
      deg.select(col("src").as("node"), lit(RankScale / n).as("x")))
    for (i <- 1 to iters) {
      // cut BEFORE the normalizer read: raw feeds both the dScale
      // scalar and the renormalized table, so an uncut raw would pay
      // the join+agg twice per round (once for .head(), once when the
      // next round's broadcast collects x). cutWith takes the
      // normalizer as the cut's witness, inside the checkpoint's job.
      val (raw, Seq(xSum)) = GraftSession.cutWith(edges
        .join(perRoundSide(x.withColumnRenamed("node", "src"), n), "src")
        .select(col("dst"), col("x"))
        .groupBy(col("dst")).agg(sum(col("x")).as("xr")),
        sum(col("xr")))
      // clamp: on a degenerate graph (all degrees 1) floor loss in the
      // init makes sum(x) = n*(RankScale DIV n) < RankScale, so the
      // unclamped normalizer would be 0 → NULL ranks; the oracle
      // mirrors with greatest(..., 1)
      val dScale = math.max(xSum / RankScale, 1L)
      x = raw.select(col("dst").as("node"),
        expr(s"xr DIV $dScale").as("x"))
    }
    x.select(nodeLabel(col("node")).as("node"), col("x").as("ev_scaled"))
      .orderBy(col("ev_scaled").desc, col("node")).limit(k)
  }

  /** DuckDB oracle for [[eigenvectorCentrality]]: the same power
    * iteration unrolled, per-round normalizer as a scalar subquery
    * with identical floor division. */
  def eigenvectorCentralitySql(iters: Int = 4, k: Int = 20): String = {
    val head =
      s"""WITH pairs AS (
         |  SELECT DISTINCT o_custkey * 2 AS cnode,
         |         l_suppkey * 2 + 1 AS snode
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |edges AS (
         |  SELECT cnode AS src, snode AS dst FROM pairs
         |  UNION ALL SELECT snode AS src, cnode AS dst FROM pairs),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |nn AS (SELECT COUNT(*) AS n FROM nodes),
         |x0 AS (SELECT node, $RankScale // n AS x FROM nodes, nn)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""r$i AS (SELECT e.dst AS node, SUM(x.x) AS xr
         |  FROM edges e JOIN x${i - 1} x ON x.node = e.src
         |  GROUP BY e.dst),
         |x$i AS (SELECT node,
         |    xr // (SELECT greatest(SUM(xr) // $RankScale, 1) FROM r$i) AS x
         |  FROM r$i)""".stripMargin
    }
    val tail =
      s"""SELECT CASE WHEN node % 2 = 0 THEN 'c' ELSE 's' END
         |    || CAST(node // 2 AS VARCHAR) AS node,
         |  CAST(x AS BIGINT) AS ev_scaled FROM x$iters
         |ORDER BY ev_scaled DESC, node LIMIT $k""".stripMargin
    (Seq(head) ++ steps).mkString(",\n") + "\n" + tail
  }

  /** Butterfly (C4) census of the bipartite trade graph: a butterfly
    * is two suppliers sharing two customers (equivalently two
    * customers sharing two suppliers — the motif is symmetric) — the
    * smallest bipartite cohesion motif, the bipartite analogue of the
    * triangle. Counted from SUPPLIER-pair wedges centered on
    * customers: for each supplier pair sharing w customers the pair
    * closes C(w, 2) butterflies, so the census is one
    * customer-scoped self-join + a pair agg, never a 4-way join.
    * Centering the wedge on the LOW-fan-out side is the whole game:
    * customers hold ~7 suppliers each where suppliers hold hundreds
    * of customers, so this orientation enumerates Σ C(7, 2)-ish
    * wedges instead of Σ C(hundreds, 2) — measured 5.5 s → sub-second
    * at sf0.1, and the gap widens with scale (the supplier-centered
    * join grows quadratically in the growing customers-per-supplier
    * fan-out; this one in the bounded suppliers-per-customer).
    * Customers above `maxDegree` suppliers are dropped and mirrored
    * in the oracle (the banded-join cap discipline). Exact BIGINT
    * wedge counts; C(w,2) summed in DECIMAL(38,0). */
  def butterflyCensus(s: SparkSession, d: String,
      maxDegree: Int = 4000): DataFrame = {
    val dec = "decimal(38,0)"
    // The distinct (sup, cust) table IS the customer→supplier half of
    // the pinned trade graph (r19): read the memoized c-hashed copy
    // ([[hitsDir]]) instead of re-running the orders⋈lineitem distinct
    // per call. The census only emits counts — never node ids — and
    // the 2k/2k+1 encoding is injective and order-preserving within
    // each role, so every count (degree cap, wedge multiplicity,
    // s1 < s2 dedup) is identical on encoded ids. The c-hash pin is
    // what the join shape wants: the degree cap's groupBy(cust) and
    // BOTH sides of the wedge self-join are clustered by cust, so the
    // whole pre-aggregation pipeline plans zero exchanges (guide §2.4)
    // — the former cut() erased exactly that partitioning.
    val (_, dirC, _) = hitsDir(s, d)
    val sc = dirC.select(col("sup"), col("c").as("cust"))
    val keep = sc.groupBy(col("cust")).agg(count(lit(1)).as("dg"))
      .filter(col("dg") <= maxDegree).select(col("cust"))
    // keep is customer-sized: AQE turns the semi-join build into a
    // runtime broadcast when it measures small, shuffle otherwise.
    // NOT cut: both wedge sides below re-read the pinned cache scan
    // (cheap) and share keep's one broadcast via ReuseExchange; a cut
    // would re-materialize the table as an unpartitioned RDD scan and
    // put the self-join's co-partitioning back on the shuffle bill.
    val capped = sc.join(keep, Seq("cust"), "left_semi")
    val wedges = capped.select(col("cust"), col("sup").as("s1"))
      .join(capped.select(col("cust"), col("sup").as("s2")), Seq("cust"))
      .filter(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2")).agg(count(lit(1)).as("w"))
    wedges.agg(count(lit(1)).as("n_connected_pairs"),
        sum(when(col("w") >= 2, 1L)).as("np2"),
        sum((col("w").cast(dec) * (col("w") - 1L)).cast(dec))
          .as("bf2"))
      .select(col("n_connected_pairs"),
        coalesce(col("np2"), lit(0L)).as("n_multi_pairs"),
        (col("bf2") / lit(2)).cast("long").as("n_butterflies"))
  }

  /** DuckDB oracle for [[butterflyCensus]]: the same capped
    * customer-centered wedge join and C(w,2) sum. */
  def butterflyCensusSql(maxDegree: Int = 4000): String =
    s"""WITH sc AS (SELECT DISTINCT l_suppkey AS sup,
       |    o_custkey AS cust
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |keep AS (SELECT cust FROM sc GROUP BY cust
       |  HAVING COUNT(*) <= $maxDegree),
       |capped AS (SELECT sc.sup, sc.cust FROM sc
       |  JOIN keep ON keep.cust = sc.cust),
       |wedges AS (SELECT a.sup AS s1, b.sup AS s2,
       |    CAST(COUNT(*) AS BIGINT) AS w
       |  FROM capped a JOIN capped b ON a.cust = b.cust
       |  AND a.sup < b.sup
       |  GROUP BY 1, 2)
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_connected_pairs,
       |  CAST(COALESCE(SUM(CASE WHEN w >= 2 THEN 1 END), 0) AS BIGINT)
       |    AS n_multi_pairs,
       |  CAST(SUM(CAST(w AS HUGEINT) * (w - 1)) // 2 AS BIGINT)
       |    AS n_butterflies
       |FROM wedges""".stripMargin

  /** Power-law tail exponent of the trade-graph degree distribution:
    * the Clauset–Shalizi–Newman continuous-approximation MLE
    * α = 1 + n / Σ ln(dᵢ / (d_min − ½)) over every node — the scalar
    * companion to the q129 degree histogram (is the tail heavy enough
    * that hub-aware partitioning matters, α ≲ 2.5, or benign, α ≳ 3).
    * Reads the memoized degree table; per-node ln terms are
    * nano-quantized to BIGINT before the sum (partition-order
    * invariant, hash-exact), one rounded division at the end. */
  def degreePowerLaw(s: SparkSession, d: String): DataFrame = {
    val deg = tradeGraph(s, d)._2
    val dmin = deg.agg(min(col("deg"))).head().getLong(0)
    deg.agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(ln(CAST(deg AS DOUBLE) / " +
          s"(CAST($dmin AS DOUBLE) - 0.5)) * 1e9) AS LONG)")).as("sn"))
      .select(col("n").as("n_nodes"), lit(dmin).as("d_min"),
        round(lit(1.0) + col("n").cast("double")
          / nullif(col("sn").cast("double") / 1e9, lit(0.0)), 6)
          .as("alpha_mle"))
  }

  /** DuckDB oracle for [[degreePowerLaw]]. */
  def degreePowerLawSql(): String =
    """WITH pairs AS (
      |  SELECT DISTINCT o_custkey * 2 AS cnode,
      |         l_suppkey * 2 + 1 AS snode
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |edges AS (
      |  SELECT cnode AS src, snode AS dst FROM pairs
      |  UNION ALL SELECT snode AS src, cnode AS dst FROM pairs),
      |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
      |        FROM edges GROUP BY 1),
      |dm AS (SELECT MIN(deg) AS dmin FROM deg),
      |st AS (SELECT COUNT(*) AS n,
      |    CAST(SUM(CAST(round(ln(CAST(deg AS DOUBLE)
      |      / (CAST(dmin AS DOUBLE) - 0.5)) * 1e9) AS BIGINT))
      |      AS BIGINT) AS sn
      |  FROM deg, dm)
      |SELECT CAST(st.n AS BIGINT) AS n_nodes,
      |  CAST(dm.dmin AS BIGINT) AS d_min,
      |  round(1.0 + CAST(st.n AS DOUBLE)
      |    / nullif(CAST(st.sn AS DOUBLE) / 1e9, 0.0), 6) AS alpha_mle
      |FROM st, dm""".stripMargin

  /** Connected-component size census of the thresholded co-purchase
    * graph by synchronous min-label propagation: every node starts
    * labeled with its own id, each round takes the min over itself
    * and its neighbors, and at the fixpoint each component carries
    * its minimum member id. `rounds` bounds the propagation (labels
    * cross one hop per round, so it must cover the largest component
    * diameter to fully converge — the oracle unrolls the SAME count);
    * the exact sum-of-labels witness stops early the moment a round
    * changes nothing, since min-label is monotone non-increasing and
    * any change strictly decreases the sum. Under the broadcast gate
    * the labels are held on the driver and each round is one job over
    * the pinned edge list ([[componentLabels]]); above it each round is
    * one broadcast-gated join moving (node, lab) BIGINT pairs against
    * the pinned edge list plus a map-side-combined min — ids, never
    * payloads — lineage-cut like every iterative plan here.
    * Emits (component_size, n_components), the census you read skew
    * off before partitioning any per-component work. */
  def components(s: SparkSession, d: String, minSupport: Int = 7,
      rounds: Int = 8): DataFrame = {
    val e = copurchaseEdges(s, d, minSupport)
    val und = e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
    componentLabels(und, rounds)
      .groupBy(col("lab")).agg(count(lit(1)).as("component_size"))
      .groupBy(col("component_size"))
      .agg(count(lit(1)).as("n_components"))
      .orderBy(col("component_size"))
  }

  /** The symmetric edge table of the label-propagation fixpoints
    * ([[componentLabels]], [[lpaLabels]]), built once and PINNED
    * hash-partitioned by v (r19, replacing a per-call cut + compact):
    * both consumers' rounds aggregate proposals by the edge's v
    * endpoint, so the v-hash pin makes every round's heavy aggregation
    * exchange-free (guide §2.4, the persistCompactBy device), and
    * components + LPA, which prep the same symmetric table, share one
    * build. The build also measures the node count that picks the
    * rounds' form (lab is one row per node, fixed across rounds; the
    * edge count would disqualify a state far smaller than it), as
    * [[tradeGraph]] measures its own: one job counting each
    * partition's distinct v, exact because the pin keeps every v in one
    * partition. Returns (edges, node count). */
  private def undEdges(und0: DataFrame): (DataFrame, Long) = {
    val (und, n) = IndexMemo.getOrBuild[(DataFrame, java.lang.Long)](
      "undEdges", "", Seq(und0)) {
      val built = GraftSession.persistCompactBy(und0, col("v"))
      val vi = requireClusteredOnV(built)
      val n = built.sparkSession.sparkContext.runJob(
        built.queryExecution.toRdd, (rows: Iterator[InternalRow]) => {
          val seen = new scala.collection.mutable.LongMap[Unit]
          rows.foreach(r => seen.update(r.getLong(vi), ()))
          seen.size.toLong
        }).sum
      ((built, java.lang.Long.valueOf(n)), Seq(built))
    }
    (und, n.longValue())
  }

  /** The ordinal of `und`'s v column, once its plan is checked to
    * cluster every v in one partition: [[lpaLabels]]' driver rounds
    * finish each node's arg-max inside one partition, and
    * [[undEdges]] counts nodes and [[driverLabelRounds]] lists them per
    * partition, only because of the v pin. A table that lost it fails here, loudly, instead of
    * splitting a node's votes or counting it twice. The check reads
    * the physical plan before adaptive execution, which reports a
    * cache scan's build partitioning; AQE wraps a scan of a cache with
    * nothing to re-partition. */
  private[graft] def requireClusteredOnV(und: DataFrame): Int = {
    val plan = und.queryExecution.sparkPlan
    val v = plan.output.find(_.name == "v").getOrElse(
      throw new IllegalArgumentException(s"no v column in ${plan.output}"))
    require(plan.outputPartitioning.satisfies(
      org.apache.spark.sql.catalyst.plans.physical
        .ClusteredDistribution(Seq(v))),
      s"edge table is not clustered on v: ${plan.outputPartitioning}")
    plan.output.indexOf(v)
  }

  /** State prep of the label-propagation cut rounds: the pinned edge
    * table ([[undEdges]]) and every node's label initialized to its own
    * id, with the initial label sum as the witness of the one state
    * cut. Returns (edges, labels, node count, label sum). */
  private[graft] def labelPropPrep(und0: DataFrame)
      : (DataFrame, DataFrame, Long, Long) = {
    val (und, nNodes) = undEdges(und0)
    val (lab, Seq(labSum)) = GraftSession.cutWith(
      und.select(col("u").as("node")).distinct()
        .select(col("node"), col("node").as("lab")),
      sum(col("lab")))
    (und, lab, nNodes, labSum)
  }

  /** How the label-propagation rounds run at `nNodes` nodes: on
    * driver-held labels under the broadcast gate, as cut rounds above
    * it (`Inspect rounds` prints this). */
  private[graft] def labelRoundsForm(nNodes: Long): String =
    if (broadcastsRoundSide(nNodes))
      "driver-held labels, one job per round over the pinned edges"
    else "the round cut below, one cut per round"

  /** Label-propagation rounds on labels held by the driver: the form
    * [[componentLabels]] and [[lpaLabels]] run under the broadcast gate,
    * where the label table fits a broadcast and therefore the driver.
    *
    * The labels are two primitive arrays, the sorted node ids and their
    * labels. Each round is ONE job over the pinned edge cache, read
    * through its `queryExecution.toRdd` with the labels shipped by
    * `SparkContext.broadcast`: no Dataset is built, analyzed or
    * planned, no plan string is formatted for a SQL execution event,
    * and no state broadcast or checkpoint job runs. Each partition
    * returns, per v, the minimum neighbour label (`lpa` false) or the
    * arg-max of the neighbour votes plus the self-vote, ties to the
    * smallest label (`lpa` true; whole per partition by the v pin,
    * [[requireClusteredOnV]]). The driver merges minima across
    * partitions, folds in each node's own label and counts the changed
    * labels, the convergence witness: components stop at the fixpoint
    * or at `rounds`, LPA runs exactly `rounds`. The first round ships
    * no labels (every node is labeled by its id) and learns the node
    * ids, each once, from its partitions' v keys: every node is some
    * edge's v, since the input holds both directions of every edge,
    * and sits in one partition by the v pin.
    *
    * The labels never leave the driver, so they are exactly as durable
    * as the application in either checkpoint mode, and no checkpoint
    * file is written. Jobs run on the calling thread, under its job
    * group; every broadcast is destroyed before return, and nothing is
    * persisted. The result is (node, lab) at [[GraftSession.compactParts]]
    * grain, declaring its partitioning as a cut's `LogicalRDD` does
    * ([[org.apache.spark.sql.execution.DriverLongRows]]). */
  private def driverLabelRounds(und: DataFrame, rounds: Int,
      lpa: Boolean): DataFrame = {
    val s = und.sparkSession
    val sc = s.sparkContext
    val vi = requireClusteredOnV(und)
    val ui = und.schema.fieldIndex("u")
    val edges = und.queryExecution.toRdd
    var nodes: Array[Long] = null // sorted, learned by the first round
    var labs: Array[Long] = null
    var nodesBc: Broadcast[Array[Long]] = null
    try {
      var i = 0
      var changed = true
      while (nodes == null || (i < rounds && changed)) {
        val ids = nodesBc
        val labsBc = if (nodes == null) null else sc.broadcast(labs)
        val parts =
          try sc.runJob(edges, (rows: Iterator[InternalRow]) =>
            labelRoundPartition(rows, ui, vi, ids, labsBc, lpa))
          finally if (labsBc != null) labsBc.destroy()
        if (nodes == null) {
          nodes = parts.flatMap(_._1)
          java.util.Arrays.sort(nodes)
          labs = nodes
          nodesBc = sc.broadcast(nodes)
        }
        if (i < rounds) {
          val next = labs.clone()
          parts.foreach { case (vs, ps) =>
            vs.indices.foreach { j =>
              val k = java.util.Arrays.binarySearch(nodes, vs(j))
              next(k) = if (lpa) ps(j) else math.min(next(k), ps(j))
            }
          }
          changed = lpa || !java.util.Arrays.equals(next, labs)
          labs = next
        }
        i += 1
      }
    } finally if (nodesBc != null) nodesBc.destroy()
    org.apache.spark.sql.execution.DriverLongRows(s, Seq("node", "lab"),
      Seq(nodes, labs), "node", GraftSession.compactParts(s, nodes.length))
  }

  /** One partition of a [[driverLabelRounds]] round: per v, the
    * minimum neighbour label, or (`lpa`) the voted label. Returns
    * (v ids, their values). With no label broadcast every node is
    * labeled by its own id. */
  private def labelRoundPartition(rows: Iterator[InternalRow], ui: Int,
      vi: Int, nodesBc: Broadcast[Array[Long]],
      labsBc: Broadcast[Array[Long]],
      lpa: Boolean): (Array[Long], Array[Long]) = {
    val labOf: Long => Long =
      if (labsBc == null) identity
      else {
        val (nodes, labs) = (nodesBc.value, labsBc.value)
        u => {
          val k = java.util.Arrays.binarySearch(nodes, u)
          require(k >= 0, s"node $u is no edge's v: the edge table " +
            "must hold both directions of every edge")
          labs(k)
        }
      }
    if (!lpa) {
      val best = new scala.collection.mutable.LongMap[Long]
      rows.foreach { r =>
        val (v, l) = (r.getLong(vi), labOf(r.getLong(ui)))
        if (best.getOrElse(v, Long.MaxValue) > l) best.update(v, l)
      }
      val vs = best.keys.toArray
      (vs, vs.map(best(_)))
    } else {
      val votes = new scala.collection.mutable
        .LongMap[scala.collection.mutable.LongMap[Long]]
      rows.foreach { r =>
        val m = votes.getOrElseUpdate(r.getLong(vi),
          new scala.collection.mutable.LongMap[Long])
        val l = labOf(r.getLong(ui))
        m.update(l, m.getOrElse(l, 0L) + 1L)
      }
      val vs = votes.keys.toArray
      (vs, vs.map { v =>
        val m = votes(v)
        val own = labOf(v)
        m.update(own, m.getOrElse(own, 0L) + 1L) // the self-vote
        m.iterator.maxBy { case (l, c) => (c, -l) }._1
      })
    }
  }

  /** One min-label propagation round over symmetric `und` from state
    * `lab`: every neighbor proposes its label and the new state is the
    * per-node minimum over the old label and the proposals. Factored
    * out so the round-plan audit tool can explain exactly the
    * expression the loop materializes.
    *
    * Aggregate first, then fold the state in: the proposals are
    * min-aggregated by `v` straight off the `und` pin (hashed by v), so
    * that step plans no exchange, and each node's own label joins back
    * through the SAME broadcast state side — a `ReusedExchange` of the
    * broadcast the round already ships. The inner join keeps every
    * node because `und` is symmetric (every labeled node is some edge's
    * v, and every v is some edge's u). The round is one stage: with the
    * checkpoint's job and the state broadcast, two driver jobs.
    * Measured at sf0.1 (`runMain graft.Bench q209_components`, 4
    * cores, runs alternated with each rival): this form 1.31-1.59 s
    * over six runs; the union-then-aggregate form over the same
    * witnessed cut 1.54-1.65 s over three, so removing its one
    * exchange pays on its own. An earlier join form lost to the union
    * form because it folded the state in with a non-broadcast left
    * join, which planned a sort-merge join. */
  private[graft] def componentsRound(und: DataFrame, lab: DataFrame,
      nNodes: Long): DataFrame = {
    val state = perRoundSide(
      lab.select(col("node").as("u"), col("lab")), nNodes)
    und.join(state, "u")
      .groupBy(col("v")).agg(min(col("lab")).as("p"))
      .join(state, col("v") === col("u"))
      .select(col("v").as("node"), least(col("p"), col("lab")).as("lab"))
  }

  /** Core of [[components]]: min-label propagation over an explicit
    * symmetric (u, v) edge list, returning the (node, lab) table at
    * the round-`rounds` (or earlier-fixpoint) state. The input must
    * hold both directions of every edge ([[componentsRound]] relies on
    * it); an edgeless input yields an empty table. Under the broadcast
    * gate the rounds run on driver-held labels ([[driverLabelRounds]]);
    * above it, or with `driverRounds` off, as cut rounds. */
  private[graft] def componentLabels(und0: DataFrame, rounds: Int,
      driverRounds: Boolean = true): DataFrame = {
    val (und, nNodes) = undEdges(und0)
    if (driverRounds && broadcastsRoundSide(nNodes))
      return driverLabelRounds(und, rounds, lpa = false)
    val (_, lab0, _, labSum0) = labelPropPrep(und0)
    var lab = lab0
    var prev = labSum0
    var i = 1
    var converged = false
    while (i <= rounds && !converged) {
      // the label-sum witness rides the round's checkpoint job
      val (lab2, Seq(cur)) = GraftSession.cutWith(
        componentsRound(und, lab, nNodes), sum(col("lab")))
      lab = lab2
      if (cur == prev) converged = true
      prev = cur
      i += 1
    }
    lab
  }

  /** DuckDB oracle for [[components]]: the same min-label rounds
    * unrolled; every l$i is MATERIALIZED because it feeds both arms
    * of the next round's union. */
  def componentsSql(minSupport: Int = 7, rounds: Int = 8): String = {
    val head =
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
         |e AS MATERIALIZED (SELECT a.l_suppkey AS a, b.l_suppkey AS b
         |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         |      AND a.l_suppkey < b.l_suppkey
         |      GROUP BY 1, 2 HAVING COUNT(*) >= $minSupport),
         |und AS MATERIALIZED (SELECT a AS u, b AS v FROM e
         |       UNION ALL SELECT b, a FROM e),
         |l0 AS MATERIALIZED (
         |  SELECT DISTINCT u AS node, u AS lab FROM und)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s"""l$i AS MATERIALIZED (SELECT node, MIN(lab) AS lab FROM (
         |  SELECT und.v AS node, l.lab FROM und
         |  JOIN l${i - 1} l ON l.node = und.u
         |  UNION ALL SELECT node, lab FROM l${i - 1}) t
         |  GROUP BY node)""".stripMargin
    }
    val tail =
      s"""SELECT component_size,
         |  CAST(COUNT(*) AS BIGINT) AS n_components FROM (
         |  SELECT lab, CAST(COUNT(*) AS BIGINT) AS component_size
         |  FROM l$rounds GROUP BY lab) sz
         |GROUP BY component_size ORDER BY component_size""".stripMargin
    (Seq(head) ++ steps).mkString(",\n") + "\n" + tail
  }

  /** Modularity of the supplier-nation partition over the thresholded
    * co-purchase graph: Q = Σ_c [ e_c/m − (d_c/2m)² ] — how much more
    * intra-nation co-purchasing there is than a degree-preserving
    * random rewiring would produce. Computed EXACTLY in integers as
    * (4·m·Σe_c − Σd_c²) / (4m²) with one final rounded double
    * division: e_c and d_c are counts off the memoized edge/degree
    * tables, the node→nation label map is supplier-count-sized (the
    * join strategy is left to stats/AQE — broadcast when it fits,
    * shuffle when the node count says otherwise), and the whole
    * statistic is two map-side-combined aggs — no shuffle grows with
    * anything but the node count. */
  def modularity(s: SparkSession, d: String,
      minSupport: Int = 7): DataFrame = {
    val dec = "decimal(38,0)"
    val e = copurchaseEdges(s, d, minSupport)
    val nat = Tables.supplier(s, d)
      .select(col("s_suppkey"), col("s_nationkey"))
    val labeled = e
      .join(nat.select(col("s_suppkey").as("a"),
        col("s_nationkey").as("ca")), "a")
      .join(nat.select(col("s_suppkey").as("b"),
        col("s_nationkey").as("cb")), "b")
    val within = labeled.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("c")).agg(count(lit(1)).as("ec"))
    val degC = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("dg"))
      .join(nat.select(col("s_suppkey").as("v"),
        col("s_nationkey").as("c")), "v")
      .groupBy(col("c")).agg(sum(col("dg")).as("dc"))
    val m = e.count()
    degC.join(within, Seq("c"), "left")
      .agg(count(lit(1)).as("n_communities"),
        sum(coalesce(col("ec"), lit(0L))).as("se"),
        sum(col("dc").cast(dec) * col("dc")).as("sd2"))
      .select(lit(m).as("m_edges"), col("n_communities"),
        round((lit(4L).cast(dec) * m * col("se")
            - col("sd2")).cast("double")
          / (lit(4.0) * m.toDouble * m.toDouble), 6).as("modularity"))
  }

  /** DuckDB oracle for [[modularity]]. */
  def modularitySql(minSupport: Int = 7): String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
       |e AS MATERIALIZED (SELECT a.l_suppkey AS a, b.l_suppkey AS b
       |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |      AND a.l_suppkey < b.l_suppkey
       |      GROUP BY 1, 2 HAVING COUNT(*) >= $minSupport),
       |m AS (SELECT COUNT(*) AS m FROM e),
       |w AS (SELECT sa.s_nationkey AS c, COUNT(*) AS ec FROM e
       |      JOIN supplier sa ON sa.s_suppkey = e.a
       |      JOIN supplier sb ON sb.s_suppkey = e.b
       |      WHERE sa.s_nationkey = sb.s_nationkey GROUP BY 1),
       |dg AS (SELECT v, COUNT(*) AS dg FROM (
       |      SELECT a AS v FROM e UNION ALL SELECT b FROM e) t
       |      GROUP BY v),
       |dc AS (SELECT s_nationkey AS c, SUM(dg) AS dc FROM dg
       |       JOIN supplier ON s_suppkey = v GROUP BY 1)
       |SELECT CAST(m.m AS BIGINT) AS m_edges,
       |  CAST(COUNT(*) AS BIGINT) AS n_communities,
       |  round(CAST(4 * m.m * SUM(COALESCE(w.ec, 0))
       |      - SUM(CAST(dc.dc AS HUGEINT) * dc.dc) AS DOUBLE)
       |    / (4.0 * m.m * m.m), 6) AS modularity
       |FROM dc LEFT JOIN w ON w.c = dc.c, m
       |GROUP BY m.m""".stripMargin

  /** Rich-club coefficients of the co-purchase graph: for each degree
    * threshold k, the edge density φ(k) = 2·E_k / (N_k·(N_k−1)) among
    * the nodes of degree > k — rising φ with k means the hubs form a
    * club that trades with itself. One edges⋈degree join taken once,
    * then each edge/node is replicated across the FIXED 4-row
    * threshold list (an explode of a literal array — broadcast-scale,
    * never data-scale) and counted; exact integer counts, one rounded
    * division per row. */
  def richClub(s: SparkSession, d: String, minSupport: Int = 7,
      thresholds: Seq[Int] = Seq(2, 4, 8, 16)): DataFrame = {
    val e = copurchaseEdges(s, d, minSupport)
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("dg"))
    val ks = array(thresholds.map(k => lit(k.toLong)): _*)
    val nodesK = deg
      .select(col("dg"), explode(ks).as("k"))
      .filter(col("dg") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_rich_nodes"))
    val edgesK = e
      .join(deg.select(col("v").as("a"), col("dg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("dg").as("db")), "b")
      .select(least(col("da"), col("db")).as("dmin"), explode(ks).as("k"))
      .filter(col("dmin") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_rich_edges"))
    nodesK.join(edgesK, Seq("k"), "left")
      .select(col("k"), col("n_rich_nodes"),
        coalesce(col("n_rich_edges"), lit(0L)).as("n_rich_edges"),
        round(lit(2.0) * coalesce(col("n_rich_edges"), lit(0L))
            .cast("double")
          / nullif((col("n_rich_nodes")
            * (col("n_rich_nodes") - 1L)).cast("double"), lit(0.0)), 6)
          .as("phi"))
      .orderBy(col("k"))
  }

  /** DuckDB oracle for [[richClub]]. */
  def richClubSql(minSupport: Int = 7,
      thresholds: Seq[Int] = Seq(2, 4, 8, 16)): String = {
    val vals = thresholds.map(k => s"($k)").mkString(", ")
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
       |e AS MATERIALIZED (SELECT a.l_suppkey AS a, b.l_suppkey AS b
       |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |      AND a.l_suppkey < b.l_suppkey
       |      GROUP BY 1, 2 HAVING COUNT(*) >= $minSupport),
       |deg AS (SELECT v, COUNT(*) AS dg FROM (
       |      SELECT a AS v FROM e UNION ALL SELECT b FROM e) t
       |      GROUP BY v),
       |ks(k) AS (VALUES $vals),
       |nk AS (SELECT CAST(k AS BIGINT) AS k,
       |       CAST(COUNT(*) AS BIGINT) AS n_rich_nodes
       |       FROM deg JOIN ks ON dg > k GROUP BY 1),
       |ek AS (SELECT CAST(k AS BIGINT) AS k,
       |       CAST(COUNT(*) AS BIGINT) AS n_rich_edges FROM e
       |       JOIN deg da ON da.v = e.a
       |       JOIN deg db ON db.v = e.b
       |       JOIN ks ON least(da.dg, db.dg) > k GROUP BY 1)
       |SELECT nk.k, n_rich_nodes,
       |  COALESCE(n_rich_edges, 0) AS n_rich_edges,
       |  round(2.0 * CAST(COALESCE(n_rich_edges, 0) AS DOUBLE)
       |    / nullif(CAST(n_rich_nodes * (n_rich_nodes - 1) AS DOUBLE),
       |      0.0), 6) AS phi
       |FROM nk LEFT JOIN ek ON ek.k = nk.k
       |ORDER BY nk.k""".stripMargin
  }

  /** HITS hubs & authorities over the DIRECTED bipartite trade graph
    * (customer → supplier): hub(c) ← Σ auth(s) over c's suppliers,
    * auth(s) ← Σ hub(c) over s's customers, renormalized each
    * half-round — Kleinberg's mutually-recursive centrality pair,
    * which on a directed bipartite graph is NOT [[eigenvectorCentrality]]
    * (that walks the symmetrized graph): a hub is a customer who buys
    * from authoritative suppliers, an authority a supplier bought by
    * hub customers. All arithmetic is exact scaled-BIGINT with the
    * same clamped floor normalizer as eigenvector; the directed edge
    * table is the even-src half of the pinned [[tradeGraph]] edges, so
    * no new graph build. Emits top-`k` per role.
    *
    * Scale: per half-round one broadcast-gated join + map-side sum
    * over fixed-width (node, score) rows; lineage cut per round. */
  /** Memoized customer → supplier half of the symmetric pinned trade
    * edges, with its distinct-customer count: every HITS half-round
    * joins it, and filtering the symmetric cache per join would scan
    * 2x the edges six times.
    *
    * TWO pinned copies (r19, VERDICT r18 task 2): the two half-rounds
    * aggregate on DIFFERENT keys — authority by sup, hub by c — and
    * one hash pin can only serve one of them (the r18 single dst pin
    * left the hub half exchanging edge-grain partials every round).
    * The first copy inherits the trade-graph cache's dst(=sup) hash
    * pin; the second is re-pinned by c at the measured compact grain.
    * Pin memory is 2x one directed edge list of fixed-width longs
    * (~16 B/row — bounded like every other pinned graph table, §5). */
  private[graft] def hitsDir(s: SparkSession,
      d: String): (DataFrame, DataFrame, java.lang.Long) =
    IndexMemo.getOrBuild[(DataFrame, DataFrame, java.lang.Long)](
      "hitsDir", "", Seq(tradeEdges(s, d))) {
      val (edges, _, _) = tradeGraph(s, d)
      val dirS = edges.filter(col("src") % 2 === 0)
        .select(col("src").as("c"), col("dst").as("sup")).persist()
      val dirC = dirS.repartition(
        GraftSession.compactParts(s, dirS.count()), col("c")).persist()
      dirC.count()
      val n = java.lang.Long.valueOf(
        dirS.select(col("c")).distinct().count())
      ((dirS, dirC, n), Seq(dirS, dirC))
    }

  def hitsScores(s: SparkSession, d: String, iters: Int = 3,
      k: Int = 10): DataFrame = {
    // auth only exists after the first half-round; iters = 0 would
    // NPE below instead of answering — reject it like kTruss rejects
    // its degenerate k
    require(iters >= 1, s"hitsScores needs iters >= 1 (got $iters)")
    val (dir, dirC, hub0, nHubs, stateParts) = hitsRoundInputs(s, d)
    var hub = hub0
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      // cut the RAW half-round table only: the normalized view is a
      // scalar projection over it (cutting both would double the
      // materializations per round for no lineage benefit). cutWith
      // takes each normalizer as its half-round's witness, inside the
      // checkpoint's job.
      val (aRaw, Seq(aSum)) = GraftSession.cutWith(
        hitsAuthRound(dir, hub, nHubs, stateParts), sum(col("ar")))
      val aScale = math.max(aSum / RankScale, 1L)
      auth = aRaw.select(col("sup"), expr(s"ar DIV $aScale").as("a"))
      val (hRaw, Seq(hSum)) = GraftSession.cutWith(
        hitsHubRound(dirC, auth, nHubs), sum(col("hr")))
      val hScale = math.max(hSum / RankScale, 1L)
      hub = hRaw.select(col("c"), expr(s"hr DIV $hScale").as("h"))
    }
    val topHubs = hub.select(lit("hub").as("role"),
        nodeLabel(col("c")).as("node"), col("h").as("score_scaled"))
      .orderBy(col("score_scaled").desc, col("node")).limit(k)
    val topAuth = auth.select(lit("auth").as("role"),
        nodeLabel(col("sup")).as("node"), col("a").as("score_scaled"))
      .orderBy(col("score_scaled").desc, col("node")).limit(k)
    topHubs.unionAll(topAuth).orderBy(col("role"),
      col("score_scaled").desc, col("node"))
  }

  /** One HITS authority half-round: every customer forwards its hub
    * score to the suppliers it buys from; the raw authority is the
    * per-supplier sum, compacted to the node-sized state grain.
    * Factored out so the round-plan audit tool can explain exactly the
    * expression the loop materializes. */
  private[graft] def hitsAuthRound(dir: DataFrame, hub: DataFrame,
      nHubs: Long, stateParts: Int): DataFrame =
    dir.join(perRoundSide(hub, nHubs), "c")
      .groupBy(col("sup")).agg(sum(col("h")).as("ar"))
      .repartition(stateParts, col("sup"))

  /** One HITS hub half-round: every supplier forwards its authority
    * score back to its customers; the raw hub score is the
    * per-customer sum. */
  private[graft] def hitsHubRound(dir: DataFrame, auth: DataFrame,
      nHubs: Long): DataFrame =
    dir.join(perRoundSide(auth, nHubs), "sup")
      .groupBy(col("c")).agg(sum(col("a")).as("hr"))

  /** Round-plan audit surface (`tools.Inspect rounds`): the exact
    * (edge table, node count) pairs each fixpoint loop consumes, so
    * the tool explains the very round expression the loop
    * materializes — against the real pinned tables — instead of
    * duplicating operator internals. */
  private[graft] def ssspRoundInputs(s: SparkSession, d: String,
      source: Long = 2L): (DataFrame, DataFrame, Long) = {
    val (_, _, nBox) = tradeGraph(s, d)
    val dist0 = GraftSession.cut(
      s.range(1).select(lit(source).as("node"), lit(0L).as("cost")))
    (ssspEdges(s, d), dist0, nBox.longValue())
  }

  /** See [[ssspRoundInputs]]; serves both components and LPA (they
    * prep the same symmetric thresholded co-purchase table). */
  private[graft] def labelPropRoundInputs(s: SparkSession, d: String,
      minSupport: Int = 7): (DataFrame, DataFrame, Long, Long) = {
    val e = copurchaseEdges(s, d, minSupport)
    labelPropPrep(
      e.select(col("a").as("u"), col("b").as("v"))
        .unionAll(e.select(col("b").as("u"), col("a").as("v"))))
  }

  /** [[pageRank]]'s inputs, shared with the round-plan audit (see
    * [[ssspRoundInputs]]): the pinned trade edges, the uniform initial
    * rank state RankScale / n (cut) and the node count n. */
  private[graft] def pageRankRoundInputs(s: SparkSession, d: String)
      : (DataFrame, DataFrame, Long) = {
    val (edges, deg, nBox) = tradeGraph(s, d)
    val n = nBox.longValue()
    val rank0 = GraftSession.cut(
      deg.select(col("src").as("node"), lit(RankScale / n).as("rank")))
    (edges, rank0, n)
  }

  /** [[hitsScores]]' inputs, shared with the round-plan audit (see
    * [[ssspRoundInputs]]): (sup-pinned dir, c-pinned dir, initial hub
    * state, node count, state grain).
    *
    * State grain (r18): dir inherits the dst-hash pin of the
    * trade-graph cache, so the authority aggregation plans NO exchange
    * — but its output then stays at the edge table's grain, and the
    * per-round scalar read + cut + broadcast would each schedule one
    * near-empty task per edge partition (measured +0.7 s over 6
    * half-rounds at sf0.1). One keyed repartition of the AGGREGATED
    * node-sized state (final rows, never the pre-agg contributions)
    * compacts it to the shared compactParts floor (cluster node counts
    * meet the session grain, where this is the same state-sized
    * shuffle every other fixpoint here pays per round). */
  private[graft] def hitsRoundInputs(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, Long, Int) = {
    val (dir, dirC, nBox) = hitsDir(s, d)
    val nHubs = nBox.longValue()
    val hub0 = GraftSession.cut(dir.select(col("c")).distinct()
      .select(col("c"), lit(RankScale / nHubs).as("h")))
    (dir, dirC, hub0, nHubs, GraftSession.compactParts(s, nHubs))
  }

  /** The weighted (src, dst, cost) edge list [[ssspCost]] walks — a
    * projection of the shared dst-pinned [[wprEdges]] cache (r19): the
    * relaxation aggregates by dst, and the src-pinned raw
    * [[weightedTradeEdges]] cache cannot make that exchange-free.
    * cost = 1000000 DIV support is the same exact BIGINT arithmetic
    * the raw table carries, recomputed over the pinned copy. */
  private[graft] def ssspEdges(s: SparkSession, d: String): DataFrame =
    wprEdges(s, d)
      .select(col("src"), col("dst"),
        expr("1000000 DIV support").as("cost"))

  /** DuckDB oracle for [[hitsScores]]: the same alternating integer
    * chain unrolled, normalizers as clamped scalar subqueries. */
  def hitsScoresSql(iters: Int = 3, k: Int = 10): String = {
    val head =
      s"""WITH dir AS (
         |  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS sup
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |nh AS (SELECT COUNT(DISTINCT c) AS n FROM dir),
         |h0 AS (SELECT DISTINCT c, $RankScale // nh.n AS h FROM dir, nh)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""ar$i AS (SELECT d.sup, SUM(h.h) AS ar
         |  FROM dir d JOIN h${i - 1} h ON h.c = d.c GROUP BY d.sup),
         |a$i AS (SELECT sup,
         |  ar // (SELECT greatest(SUM(ar) // $RankScale, 1) FROM ar$i) AS a
         |  FROM ar$i),
         |hr$i AS (SELECT d.c, SUM(a.a) AS hr
         |  FROM dir d JOIN a$i a ON a.sup = d.sup GROUP BY d.c),
         |h$i AS (SELECT c,
         |  hr // (SELECT greatest(SUM(hr) // $RankScale, 1) FROM hr$i) AS h
         |  FROM hr$i)""".stripMargin
    }
    val tail =
      s"""SELECT * FROM (
         |  (SELECT 'hub' AS role, 'c' || CAST(c // 2 AS VARCHAR) AS node,
         |     CAST(h AS BIGINT) AS score_scaled FROM h$iters
         |   ORDER BY score_scaled DESC, node LIMIT $k)
         |  UNION ALL
         |  (SELECT 'auth' AS role, 's' || CAST(sup // 2 AS VARCHAR) AS node,
         |     CAST(a AS BIGINT) AS score_scaled FROM a$iters
         |   ORDER BY score_scaled DESC, node LIMIT $k))
         |ORDER BY role, score_scaled DESC, node""".stripMargin
    (Seq(head) ++ steps).mkString(",\n") + "\n" + tail
  }

  /** One synchronous LPA round over symmetric `und` from state `lab`:
    * count the neighbor votes per (node, label), add the node's
    * self-vote, and adopt the arg-max label (ties to the smallest
    * label). The arg-max avoids a window sort: max(struct(cnt, -lab))
    * picks the highest count and, on ties, the SMALLEST label — a
    * plain map-side-combinable aggregate where a per-node row_number
    * window would sort the node×label vote table every round.
    * Factored out so the round-plan audit tool can explain exactly the
    * expression the loop materializes. */
  private[graft] def lpaRound(und: DataFrame, lab: DataFrame,
      nNodes: Long): DataFrame = {
    // UNION-FREE (r19, VERDICT r18 task 1): count NEIGHBOR votes only
    // — hash(v) satisfies the (node, vlab) clustering, so the vote
    // count rides the pinned edge partitioning with no exchange — and
    // fold the self-vote in arithmetically after a node-keyed join
    // with the state: the node's own label gains +1 where it appears
    // among the neighbor votes, and competes as a standalone
    // (cnt=1, own) candidate where it does not. Both reduce to the
    // same arg-max the union form computed: when the own label HAS
    // neighbor votes, its adjusted row (c0+1) dominates the standalone
    // candidate (1), and when it has none, the standalone candidate is
    // exactly the self-vote row the union contributed.
    val votes = und
      .join(perRoundSide(
        lab.select(col("node").as("u"), col("lab").as("vlab")), nNodes),
        "u")
      .select(col("v").as("node"), col("vlab"))
      .groupBy(col("node"), col("vlab")).agg(count(lit(1)).as("cnt"))
    votes.join(perRoundSide(lab.select(col("node"), col("lab").as("own")),
        nNodes), Seq("node"))
      .groupBy(col("node"))
      .agg(max(struct(
          (col("cnt") + when(col("vlab") === col("own"), 1L)
            .otherwise(0L)).as("cnt"),
          (-col("vlab")).as("nl"))).as("m"),
        max(col("own")).as("own"))
      .select(col("node"),
        (-greatest(col("m"),
          struct(lit(1L).as("cnt"), (-col("own")).as("nl")))
          .getField("nl")).as("lab"))
  }

  /** Synchronous label-propagation communities over the thresholded
    * co-purchase graph: `rounds` passes in which every node adopts the
    * most frequent label among its neighbors PLUS its own current
    * label (the self-vote damps the 2-coloring oscillation sync LPA is
    * notorious for), ties broken by the SMALLEST label — fully
    * deterministic, no RNG. Emits the community-size histogram, the
    * same census shape as [[components]] (LPA splits dense graphs into
    * finer groups than connectivity does). The rounds are
    * [[lpaLabels]]'. */
  def lpaCommunities(s: SparkSession, d: String, minSupport: Int = 7,
      rounds: Int = 4): DataFrame = {
    val e = copurchaseEdges(s, d, minSupport)
    lpaLabels(e.select(col("a").as("u"), col("b").as("v"))
        .unionAll(e.select(col("b").as("u"), col("a").as("v"))), rounds)
      .groupBy(col("lab")).agg(count(lit(1)).as("community_size"))
      .groupBy(col("community_size"))
      .agg(count(lit(1)).as("n_communities"))
      .orderBy(col("community_size"))
  }

  /** Core of [[lpaCommunities]]: exactly `rounds` synchronous LPA
    * rounds over an explicit symmetric (u, v) edge list, returning the
    * (node, lab) table. Under the broadcast gate the rounds run on
    * driver-held labels ([[driverLabelRounds]]); above it, or with
    * `driverRounds` off, each round is one broadcast-gated join, a
    * (node, label) count and the arg-max aggregate of [[lpaRound]],
    * lineage cut per round. */
  private[graft] def lpaLabels(und0: DataFrame, rounds: Int,
      driverRounds: Boolean = true): DataFrame = {
    val (und, nNodes) = undEdges(und0)
    if (driverRounds && broadcastsRoundSide(nNodes))
      return driverLabelRounds(und, rounds, lpa = true)
    var lab = labelPropPrep(und0)._2
    for (_ <- 1 to rounds) {
      lab = GraftSession.cut(lpaRound(und, lab, nNodes))
    }
    lab
  }

  /** DuckDB oracle for [[lpaCommunities]]: the same sync rounds
    * unrolled, arg-max via QUALIFY row_number. */
  def lpaCommunitiesSql(minSupport: Int = 7, rounds: Int = 4): String = {
    val head =
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
         |e AS MATERIALIZED (SELECT a.l_suppkey AS a, b.l_suppkey AS b
         |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         |      AND a.l_suppkey < b.l_suppkey
         |      GROUP BY 1, 2 HAVING COUNT(*) >= $minSupport),
         |und AS (SELECT a AS u, b AS v FROM e
         |        UNION ALL SELECT b, a FROM e),
         |lab0 AS (SELECT DISTINCT u AS node, u AS lab FROM und)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s"""v$i AS (SELECT e.v AS node, l.lab
         |  FROM und e JOIN lab${i - 1} l ON l.node = e.u
         |  UNION ALL SELECT node, lab FROM lab${i - 1}),
         |c$i AS (SELECT node, lab, COUNT(*) AS cnt FROM v$i GROUP BY 1, 2),
         |lab$i AS (SELECT node, lab FROM c$i
         |  QUALIFY row_number() OVER (
         |    PARTITION BY node ORDER BY cnt DESC, lab) = 1)""".stripMargin
    }
    val tail =
      s"""SELECT community_size, CAST(COUNT(*) AS BIGINT) AS n_communities
         |FROM (SELECT lab, CAST(COUNT(*) AS BIGINT) AS community_size
         |      FROM lab$rounds GROUP BY lab)
         |GROUP BY community_size ORDER BY community_size""".stripMargin
    (Seq(head) ++ steps).mkString(",\n") + "\n" + tail
  }

  /** Diameter lower bound by the classic DOUBLE SWEEP: BFS from
    * `source`, take the farthest reached node (max hops, min node id
    * on ties — a one-row driver witness, the same scalar-gate shape
    * as the fixpoint checks), BFS again from there; the second
    * sweep's eccentricity is the standard tight diameter lower bound
    * at two BFS passes' cost where the exact diameter needs all-pairs.
    * Both sweeps reuse the memoized [[bfsDist]] frontier walk over the
    * pinned trade edges. Emits one row: (source eccentricity, the far
    * node, its eccentricity = the bound, nodes reached by sweep 2). */
  def diameterSweep(s: SparkSession, d: String, source: Long = 2L,
      maxHops: Int = 6): DataFrame = {
    val d1 = bfsDist(s, d, source, maxHops)
    val farRow = d1.orderBy(col("hops").desc, col("node"))
      .select(col("node").cast("long"), col("hops").cast("long")).head()
    val far = farRow.getLong(0)
    val ecc1 = farRow.getLong(1)
    val d2 = bfsDist(s, d, far, maxHops)
    d2.agg(max(col("hops")).cast("long").as("diameter_lb"),
        count(lit(1)).as("n_reached_sweep2"))
      .select(lit(ecc1).as("ecc_source"),
        lit(nodeLabelString(far)).as("far_node"),
        col("diameter_lb"), col("n_reached_sweep2"))
  }

  private def nodeLabelString(n: Long): String =
    (if (n % 2 == 0) "c" else "s") + (n >> 1)

  /** DuckDB oracle for [[diameterSweep]]: two recursive walks, the
    * second seeded by the first's argmax row. */
  def diameterSweepSql(source: Long = 2L, maxHops: Int = 6): String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT DISTINCT o_custkey * 2 AS cnode,
       |         l_suppkey * 2 + 1 AS snode
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS (
       |  SELECT cnode AS src, snode AS dst FROM pairs
       |  UNION ALL SELECT snode AS src, cnode AS dst FROM pairs),
       |walk1(node, hops) AS (
       |  SELECT CAST($source AS BIGINT) AS node, 0 AS hops
       |  UNION
       |  SELECT e.dst, w.hops + 1
       |  FROM walk1 w JOIN edges e ON e.src = w.node
       |  WHERE w.hops < $maxHops),
       |m1 AS (SELECT node, MIN(hops) AS mh FROM walk1 GROUP BY node),
       |far AS (SELECT node, mh FROM m1
       |        ORDER BY mh DESC, node LIMIT 1),
       |walk2(node, hops) AS (
       |  SELECT node, 0 AS hops FROM far
       |  UNION
       |  SELECT e.dst, w.hops + 1
       |  FROM walk2 w JOIN edges e ON e.src = w.node
       |  WHERE w.hops < $maxHops),
       |m2 AS (SELECT node, MIN(hops) AS mh FROM walk2 GROUP BY node)
       |SELECT (SELECT CAST(mh AS BIGINT) FROM far) AS ecc_source,
       |  (SELECT CASE WHEN node % 2 = 0 THEN 'c' ELSE 's' END
       |     || CAST(node // 2 AS VARCHAR) FROM far) AS far_node,
       |  CAST(MAX(mh) AS BIGINT) AS diameter_lb,
       |  COUNT(*) AS n_reached_sweep2
       |FROM m2""".stripMargin

  /** Link prediction by PREFERENTIAL ATTACHMENT and RESOURCE
    * ALLOCATION — the remaining two classic local indices, closing the
    * family with [[nodeJaccard]] and [[adamicAdar]]: PA(a,b) =
    * deg(a)·deg(b) (exact BIGINT — hubs attract links), RA(a,b) =
    * Σ over shared neighbors z of 1/deg(z) (Adamic-Adar's harsher
    * sibling: each shared neighbor splits one unit of "resource"
    * across its links). Both read the memoized [[sharedWedges]]
    * fan-out and the degree table — no new joins over the corpus; the
    * RA float sum folds in neighbor-id order (the q106 device), so
    * both engines add in the same order. */
  def linkPredPaRa(s: SparkSession, d: String, minSupport: Int = 7,
      k: Int = 20): DataFrame = {
    val e = copurchaseEdges(s, d, minSupport)
    val und = e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
    val deg = und.groupBy(col("u")).agg(count(lit(1)).as("dg"))
    sharedWedges(s, d, minSupport)
      .select(col("x"), col("y"), col("z"),
        (lit(1.0) / col("dg").cast("double")).as("w"))
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("n_shared"),
        round(aggregate(
          transform(sort_array(collect_list(struct(col("z"), col("w")))),
            st => st.getField("w")),
          lit(0.0), (acc, v) => acc + v), 6).as("ra_score"))
      .join(deg.select(col("u").as("x"), col("dg").as("dx")), "x")
      .join(deg.select(col("u").as("y"), col("dg").as("dy")), "y")
      .select(col("x").as("supp_a"), col("y").as("supp_b"),
        col("n_shared"), (col("dx") * col("dy")).as("pa_score"),
        col("ra_score"))
      .orderBy(col("ra_score").desc, col("supp_a"), col("supp_b"))
      .limit(k)
  }

  /** DuckDB oracle for [[linkPredPaRa]]. */
  def linkPredPaRaSql(minSupport: Int = 7, k: Int = 20): String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
       |e AS (SELECT a.l_suppkey AS a, b.l_suppkey AS b
       |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |      AND a.l_suppkey < b.l_suppkey
       |      GROUP BY 1, 2 HAVING COUNT(*) >= $minSupport),
       |adj AS (SELECT a AS x, b AS z FROM e
       |        UNION ALL SELECT b, a FROM e),
       |deg AS (SELECT x AS v, COUNT(*) AS dg FROM adj GROUP BY x),
       |pairs AS (
       |  SELECT a1.x AS supp_a, a2.x AS supp_b,
       |    COUNT(*) AS n_shared,
       |    round(list_sum(list(1.0 / CAST(dz.dg AS DOUBLE)
       |      ORDER BY a1.z)), 6) AS ra_score
       |  FROM adj a1
       |  JOIN adj a2 ON a1.z = a2.z AND a1.x < a2.x
       |  JOIN deg dz ON dz.v = a1.z
       |  GROUP BY a1.x, a2.x)
       |SELECT supp_a, supp_b, n_shared,
       |  CAST(da.dg * db.dg AS BIGINT) AS pa_score, ra_score
       |FROM pairs
       |JOIN deg da ON da.v = supp_a JOIN deg db ON db.v = supp_b
       |ORDER BY ra_score DESC, supp_a, supp_b LIMIT $k""".stripMargin
}
