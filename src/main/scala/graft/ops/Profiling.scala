package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}

/** ANALYZE-style column profiling: per-column row/null/ndv/min/max in a
  * single scan — the statistics pass a table maintenance cycle runs
  * before choosing join strategies (the CBO inputs). (Reference analog:
  * the per-run inventory counts scraper.py reports per municipality,
  * generalized to per-column data profiling.)
  *
  * Exact ndv per column via parallel column-pruned scans (see
  * [[columnProfile]] for why that beats one multi-count_distinct EXPAND
  * agg on columnar storage). At 100 TB, swap the exact groupBy-distinct
  * for `approx_count_distinct` (HLL, mergeable) and the per-column
  * shuffles disappear entirely — one scan, one 1-row agg; the q94
  * golden-ratio oracle pattern shows how to check that path.
  */
object Profiling {

  /** The lineitem columns profiled (timestamps excluded: their min/max
    * is type-specific, not a DOUBLE). */
  private val Cols = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
    "l_tax", "l_returnflag", "l_linestatus")

  /** Profile of the lineitem table: (col_name, n_rows, n_nulls,
    * n_distinct, min_num, max_num). String columns profile count/ndv
    * with NULL min/max (a non-numeric min casts to NULL on both
    * engines).
    *
    * Shape: one branch per column, each a column-PRUNED scan (the
    * parquet reader materializes exactly one column per branch —
    * ReadSchema shows a single field) into groupBy(value) with map-side
    * partial counts, then an ndv-sized final agg. The branches share
    * nothing, so Spark runs them as independent parallel stages of one
    * job. The tempting alternative — every stat in ONE agg via multiple
    * count_distincts — plans an EXPAND of rows x (columns+1), an order
    * of magnitude slower measured at sf0.1 (it rewrites the whole-row
    * scan into 11 copies of itself). Per-column pruned scans beat
    * one expanded scan whenever the format is columnar. */
  def columnProfile(s: SparkSession, d: String): DataFrame = {
    val df = Tables.lineitem(s, d)
    Cols.map { c =>
      df.select(col(c).as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("cnt"))
        .agg(
          coalesce(sum(col("cnt")), lit(0L)).as("n_rows"),
          coalesce(sum(when(col("k").isNull, col("cnt"))), lit(0L))
            .as("n_nulls"),
          count(when(col("k").isNotNull, lit(1))).as("n_distinct"),
          // try_cast, not cast: ANSI mode throws on the string columns;
          // min/max over the distinct keys equals min/max over the rows
          min(expr("try_cast(k AS DOUBLE)")).as("min_num"),
          max(expr("try_cast(k AS DOUBLE)")).as("max_num"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_num"), col("max_num"))
    }.reduce(_ unionAll _).orderBy(col("col_name"))
  }

  /** DuckDB oracle for [[columnProfile]] — one UNION ALL branch per
    * column. MIN over TRY_CAST-ed values (not TRY_CAST of the string
    * MIN) mirrors the Spark aggregation order: on a mixed-numeric
    * string column the lexicographic min ('10' < '2') diverges from
    * the numeric min. */
  def columnProfileSql: String =
    Cols.map { c =>
      s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
         |  COUNT(*) - COUNT($c) AS n_nulls,
         |  COUNT(DISTINCT $c) AS n_distinct,
         |  MIN(TRY_CAST($c AS DOUBLE)) AS min_num,
         |  MAX(TRY_CAST($c AS DOUBLE)) AS max_num
         |FROM lineitem""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY col_name"

  /** Equi-join cardinality estimator: |T ⋈_k T| = Σ_k deg(k)² — the
    * exact statistic a planner (or this engine's own banded-join caps,
    * cf. Dedup's maxBucketSize gating) needs before committing to a
    * self-join. Cost: one map-side-combined count per key column over
    * one scan, then a few-row agg — the degree table is keys-sized,
    * never rows-sized. Emits one row per candidate join key.
    *
    * Range: est_pairs = Σ deg² is exact BIGINT while it stays under
    * ~9.2e18 — i.e. until a key set whose self-join would produce
    * quintillions of rows, at which point the NUMBER is moot (the
    * answer is "never run this join") but the column would wrap; at
    * that scale swap the Σ deg² aggregate to DECIMAL(38,0) (the q134
    * move) or estimate from the top-k degrees only. */
  def joinSizeEstimate(s: SparkSession, d: String): DataFrame = {
    val df = Tables.lineitem(s, d)
    val keys = Seq("l_partkey", "l_suppkey", "l_orderkey")
    keys.map { k =>
      df.groupBy(col(k)).agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_keys"),
          sum(col("c") * col("c")).as("est_pairs"),
          max(col("c")).as("max_deg"))
        .select(lit(k).as("join_key"), col("n_keys"),
          col("est_pairs"), col("max_deg"))
    }.reduce(_ unionAll _).orderBy(col("join_key"))
  }

  /** Equi-depth histogram of o_totalprice in `buckets` buckets —
    * exact, WITHOUT a global single-partition window and WITHOUT
    * ranking rows at all. The bucket layout depends only on the VALUE
    * MULTISET: every per-bucket output (count, lo, hi) is invariant
    * under any permutation of equal values across the rank range they
    * occupy, so the whole query computes on the value HISTOGRAM. Each
    * distinct value v with count c occupies 0-based global positions
    * [voff, voff+c-1] (voff = rows with smaller values, from the
    * two-level subsplit cumulative: a partitioned window over the
    * histogram plus per-subsplit offsets from the tiny count table);
    * the positions map to buckets by pure integer arithmetic, so each
    * histogram row explodes into the <= B buckets it spans with an
    * exact interval-intersection row count. Per-task rows are bounded
    * by distinct VALUES per subsplit (<= step x cents, data-
    * independent) — the r14 row-rank form re-concentrated a constant-
    * valued corpus into ONE subsplit sort task (degenerate-
    * distribution hazard, r14 verdict), which a histogram cannot: a
    * constant corpus is a one-row histogram. */
  def equiDepthHistogram(s: SparkSession, d: String,
      buckets: Int = 10): DataFrame =
    equiDepthOf(Tables.orders(s, d).select(col("o_totalprice").as("p")),
      buckets)

  /** [[equiDepthHistogram]]'s device over any single-column (`p`)
    * DataFrame — split out so DegenerateDistributionSpec can drive it
    * with adversarial (constant) value distributions. */
  private[graft] def equiDepthOf(rows: DataFrame, buckets: Int)
      : DataFrame = {
    val step = 32768.0
    // cut: the histogram feeds the offsets table, the total and the
    // position pass — one source scan instead of three
    val hist = GraftSession.cut(rows.groupBy(col("p"))
      .agg(count(lit(1)).as("c"))
      .withColumn("sub", floor(col("p") / lit(step)).cast("long")))
    val n = hist.agg(sum(col("c")).as("n"))
    prefixSum(hist, "sub", Seq(col("p")), Seq(col("c") -> "voff"),
        inclusive = false)
      .crossJoin(broadcast(n))
      // the buckets positions [voff, voff+c-1] span; for each, the
      // in-bucket positions are the intersection with the bucket's
      // position interval [ceil(b*n/B), ceil((b+1)*n/B)-1]
      .withColumn("bucket", explode(sequence(
        expr(s"(voff * $buckets) DIV n"),
        expr(s"((voff + c - 1) * $buckets) DIV n"))))
      .withColumn("fi", greatest(col("voff"),
        expr(s"(bucket * n + ${buckets - 1}) DIV $buckets")))
      .withColumn("li", least(col("voff") + col("c") - 1,
        expr(s"((bucket + 1) * n + ${buckets - 1}) DIV $buckets - 1")))
      .groupBy(col("bucket"))
      .agg(sum(col("li") - col("fi") + 1).as("n_rows"),
        min(col("p")).as("lo"), max(col("p")).as("hi"))
      .orderBy(col("bucket"))
  }

  /** DuckDB oracle for [[equiDepthHistogram]] — the single-window
    * formulation with identical bucket arithmetic. */
  def equiDepthHistogramSql(buckets: Int = 10): String =
    s"""WITH r AS (SELECT o_totalprice AS p,
       |    row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rk,
       |    COUNT(*) OVER () AS n
       |  FROM orders)
       |SELECT CAST(((rk - 1) * $buckets) // n AS BIGINT) AS bucket,
       |  COUNT(*) AS n_rows, MIN(p) AS lo, MAX(p) AS hi
       |FROM r GROUP BY 1 ORDER BY bucket""".stripMargin

  /** Chi-square independence test between two categorical columns
    * (documents.lang x documents.source) — the hypothesis-testing
    * member of the profiling family: is the language mix independent
    * of the source? Counts are one shuffle; marginals and N are
    * cell-table-sized aggregations broadcast back; every per-cell term
    * is a fixed-parenthesization double ((O·N − R·C)² / (N·R·C), all
    * factors cast before multiplying), and the final sum folds over
    * the cells in (lang, source) order via sort_array+aggregate — the
    * q106 ordered-fold discipline — so the scalar hash-matches DuckDB.
    * Emits one row: (n_cells, dof, chi2). */
  def chiSquareIndependence(s: SparkSession, d: String): DataFrame = {
    // cut: the cells table feeds four consumers (row/col/n marginals +
    // the join); materializing the category-sized table once means the
    // corpus is scanned once, not four times
    val cells = GraftSession.cut(Tables.documents(s, d)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("o")))
    val rowT = cells.groupBy(col("lang")).agg(sum(col("o")).as("r"))
    val colT = cells.groupBy(col("source")).agg(sum(col("o")).as("c"))
    val nT = cells.agg(sum(col("o")).as("n"),
      count(lit(1)).as("n_cells"))
    val dofT = rowT.agg(count(lit(1)).as("nr"))
      .crossJoin(colT.agg(count(lit(1)).as("nc")))
      .select(((col("nr") - 1) * (col("nc") - 1)).as("dof"))
    cells
      .join(broadcast(rowT), "lang")
      .join(broadcast(colT), "source")
      .crossJoin(broadcast(nT))
      .withColumn("dev",
        col("o").cast("double") * col("n").cast("double")
          - col("r").cast("double") * col("c").cast("double"))
      .withColumn("term", col("dev") * col("dev")
        / (col("n").cast("double") * col("r").cast("double")
          * col("c").cast("double")))
      .agg(max(col("n_cells")).as("n_cells"),
        round(expr("aggregate(sort_array(collect_list(" +
          "struct(lang, source, term))), CAST(0.0 AS DOUBLE), " +
          "(acc, x) -> acc + x.term)"), 6).as("chi2"))
      .crossJoin(broadcast(dofT))
      .select(col("n_cells"), col("dof"), col("chi2"))
  }

  /** DuckDB oracle for [[chiSquareIndependence]]. */
  def chiSquareIndependenceSql: String =
    """WITH cells AS (SELECT lang, source, COUNT(*) AS o
      |               FROM documents GROUP BY 1, 2),
      |rt AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS r
      |       FROM cells GROUP BY 1),
      |ct AS (SELECT source, CAST(SUM(o) AS BIGINT) AS c
      |       FROM cells GROUP BY 1),
      |nt AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
      |t AS (SELECT lang, source,
      |        (CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
      |          - CAST(r AS DOUBLE) * CAST(c AS DOUBLE)) AS dev,
      |        CAST(n AS DOUBLE) * CAST(r AS DOUBLE)
      |          * CAST(c AS DOUBLE) AS denom
      |      FROM cells JOIN rt USING (lang) JOIN ct USING (source)
      |      CROSS JOIN nt)
      |SELECT (SELECT COUNT(*) FROM cells) AS n_cells,
      |  CAST(((SELECT COUNT(*) FROM rt) - 1)
      |    * ((SELECT COUNT(*) FROM ct) - 1) AS BIGINT) AS dof,
      |  round(list_reduce(list(dev * dev / denom
      |    ORDER BY lang, source), (acc, x) -> acc + x), 6) AS chi2
      |FROM t""".stripMargin

  /** DuckDB oracle for [[joinSizeEstimate]]. */
  /** Exact two-sample Kolmogorov-Smirnov statistic between the
    * order-price distributions of even- and odd-keyed orders — the
    * "did these two cohorts draw from the same distribution" test
    * behind A/B sanity checks and train/validation split audits.
    * D = max over values v of |F_a(v) − F_b(v)|, computed entirely in
    * integers: prices quantize to exact cents (DECIMAL(15,2) * 100),
    * per-value marginals cumulate, and the max runs over
    * |cum_a·n_b − cum_b·n_a| so no fraction is ever formed until the
    * final rounded division. BIGINT range: needs n_a·n_b < 2^63, i.e.
    * ~3e9 rows per cohort — beyond that, bin values first (the q133
    * histogram) and run KS on the binned ECDF.
    *
    * Scale shape: the cumulative counts are one [[prefixSum]] over
    * value sub-buckets (v DIV step), so no global single-partition
    * sort ever happens; the oracle states the same math as one
    * window. */
  def ksTest(s: SparkSession, d: String): DataFrame = {
    val step = 1048576L // ~$10k of cents per sub-bucket
    val marg = Tables.orders(s, d)
      // round-then-cast: DuckDB's double->BIGINT cast ROUNDS while
      // Spark's TRUNCATES, so a product landing at x.99999... (e.g.
      // 8.29*100 = 828.9999999999999) would diverge by 1 cent across
      // engines; rounding first makes the integer identical on both
      .select(round(col("o_totalprice") * 100, 0).cast("long").as("v"),
        (col("o_orderkey") % 2).as("g"))
      .groupBy(col("v"))
      .agg(sum(when(col("g") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("g") =!= 0, 1L).otherwise(0L)).as("cb"))
      .withColumn("sub", expr(s"v DIV $step"))
      // cut: the marginal feeds offsets, totals, and the rank pass —
      // one orders scan instead of three
      .transform(GraftSession.cut(_))
    val tot = marg.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    prefixSum(marg, "sub", Seq(col("v")),
        Seq(col("ca") -> "cuma", col("cb") -> "cumb"), inclusive = true)
      .crossJoin(broadcast(tot))
      .select(col("na"), col("nb"),
        abs(col("cuma") * col("nb") - col("cumb") * col("na")).as("dn"))
      .groupBy(col("na"), col("nb"))
      .agg(max(col("dn")).as("d_num"))
      .select(col("na").as("n_a"), col("nb").as("n_b"), col("d_num"),
        round(col("d_num").cast("double")
          / (col("na") * col("nb")).cast("double"), 6).as("ks"))
  }

  /** DuckDB oracle for [[ksTest]] — the single-window formulation
    * with identical integer arithmetic. */
  def ksTestSql: String =
    """WITH marg AS (
      |  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v,
      |    CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS ca,
      |    CAST(SUM(CASE WHEN o_orderkey % 2 <> 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS cb
      |  FROM orders GROUP BY 1),
      |cum AS (SELECT v,
      |    SUM(ca) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
      |    SUM(cb) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
      |  FROM marg),
      |tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
      |               CAST(SUM(cb) AS BIGINT) AS nb FROM marg)
      |SELECT na AS n_a, nb AS n_b,
      |  CAST(MAX(abs(cuma * nb - cumb * na)) AS BIGINT) AS d_num,
      |  round(CAST(MAX(abs(cuma * nb - cumb * na)) AS DOUBLE)
      |    / CAST(na * nb AS DOUBLE), 6) AS ks
      |FROM cum, tot GROUP BY na, nb""".stripMargin

  def joinSizeEstimateSql: String =
    Seq("l_partkey", "l_suppkey", "l_orderkey").map { k =>
      s"""SELECT '$k' AS join_key, COUNT(*) AS n_keys,
         |  CAST(SUM(c * c) AS BIGINT) AS est_pairs,
         |  CAST(MAX(c) AS BIGINT) AS max_deg
         |FROM (SELECT $k, COUNT(*) AS c FROM lineitem GROUP BY 1)""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY join_key"

  /** Exact order-total cents: round-then-cast so Spark (truncating
    * double->long cast) and DuckDB (rounding cast) land on the same
    * integer even when the double product sits at x.99999... */
  private def cents = round(col("o_totalprice") * 100, 0).cast("long")

  /** Running sums over a global (or per-group) order without a
    * single-partition sort of the rows: the two-level device every
    * cumulative count and rank in this project is built on.
    *
    *  - level 1: a window WITHIN each sub-range — partitioned by
    *    (`groups`, `sub`), ordered by `orderBy` — sums each value;
    *  - level 2: one offsets table, the per-(`groups`, `sub`) totals
    *    cumulated exclusively over `sub` by a window partitioned only
    *    by `groups`, is broadcast back and added. That window's only
    *    unpartitioned sort is over the sub-range totals.
    *
    * Contract: within a group, `sub` must not decrease as the
    * `orderBy` key rises (`v DIV step`, `floor(v / step)`, a prefix of
    * a string key), so (sub, orderBy) order IS orderBy order and the
    * decomposition is exact. Each `values` pair names a value column
    * and its running sum: over the rows up to and including the row
    * itself, or (`inclusive = false`) strictly before it. Returns
    * `df`'s columns plus the sums; rows with a NULL `sub` or group key
    * drop out (the offsets join is inner). No cut, no eager job: the
    * cost is one aggregate and one broadcast join. A task sorts the
    * rows of one sub-range, so callers feed it a value histogram
    * (bounded by distinct values per sub-range) or, as
    * [[scalableRank]] does, a table whose sub-range key carries a
    * unique tie. */
  private[graft] def prefixSum(df: DataFrame, sub: String,
      orderBy: Seq[Column], values: Seq[(Column, String)],
      inclusive: Boolean, groups: Seq[String] = Nil): DataFrame = {
    val keys = (groups :+ sub).map(col)
    val wIn = Window.partitionBy(keys: _*).orderBy(orderBy: _*)
      .rowsBetween(Window.unboundedPreceding,
        if (inclusive) Window.currentRow else -1L)
    val wOff = Window.partitionBy(groups.map(col): _*).orderBy(col(sub))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ix = values.indices
    val totals = ix.map(i => sum(values(i)._1).as(s"__ps_t$i"))
    val offsets = df.groupBy(keys: _*).agg(totals.head, totals.tail: _*)
      .select(keys ++ ix.map(i => coalesce(sum(col(s"__ps_t$i"))
        .over(wOff), lit(0L)).as(s"__ps_o$i")): _*)
    val within = ix.map { i =>
      val w = sum(values(i)._1).over(wIn)
      (if (inclusive) w else coalesce(w, lit(0L))).as(s"__ps_w$i")
    }
    df.select(col("*") +: within: _*)
      .join(broadcast(offsets), groups :+ sub)
      .select(df.columns.map(col) ++ ix.map(i =>
        (col(s"__ps_o$i") + col(s"__ps_w$i")).as(values(i)._2)): _*)
  }

  /** Global row-number over (v, tie) order WITHOUT a single-partition
    * window AND without a data-dependent task bound, hardened for
    * degenerate value distributions (r15). Rows group by (exact v,
    * `tie DIV tieStep`): for a FIXED value a tie-key range is a
    * contiguous slice of the (v, tie) order, and because the tie key
    * is unique per row a group holds at most `tieStep` rows NO MATTER
    * how the values distribute (the r14 form ranked raw rows per
    * value sub-bucket, so a constant-valued column re-concentrated
    * the whole table into one sort task).
    *
    * Each group's offset is a [[prefixSum]] of the group counts over
    * value sub-buckets `v DIV step` — per task <= distinct groups per
    * sub-bucket, bounded by step (distinct values) + tie-domain /
    * tieStep. The final row window partitions by (v, tie-range): its
    * input sorts in tasks of <= tieStep rows. One extra
    * map-side-combined aggregate + group-table shuffle versus the r14
    * form — the OOM-ceiling price, same trade as the q119 subsplit
    * device. */
  private[graft] def scalableRank(df: DataFrame, v: String, tie: String,
      step: Long, out: String, tieStep: Long = 1L << 22): DataFrame = {
    val wRn = Window.partitionBy(col(v), col("__sub2")).orderBy(col(tie))
    val sub = df.withColumn("__sub", expr(s"$v DIV $step"))
      .withColumn("__sub2", expr(s"$tie DIV $tieStep"))
    val l2 = sub.groupBy(col("__sub"), col(v), col("__sub2"))
      .agg(count(lit(1)).as("__c"))
    val offs = prefixSum(l2, "__sub", Seq(col(v), col("__sub2")),
        Seq(col("__c") -> "__off"), inclusive = false)
      .select(col(v), col("__sub2"), col("__off"))
    // group-level offsets join AFTER the row window, on the window's
    // own (v, tie-range) partitioning — the row side is not
    // re-shuffled; offs (group-table-sized, histogram-scale) is.
    sub.withColumn("__rn", row_number().over(wRn))
      .join(offs, Seq(v, "__sub2"))
      .withColumn(out, col("__off") + col("__rn"))
      .drop("__sub", "__sub2", "__rn", "__off")
  }

  /** Gini coefficient of customer spend concentration — the standard
    * inequality / whale-dominance profile of a revenue (or token-
    * count) distribution, G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) over
    * ascending-ranked per-customer cents. Ranks come from
    * [[scalableRank]] (no single-partition sort); the rank-weighted
    * sum Σi·xᵢ is ~n²·x̄ so it accumulates in DECIMAL(38,0) here and
    * HUGEINT in the oracle — BIGINT would overflow near n·x ≈ 3e9 —
    * with one exact integer division at the end. */
  def giniSpend(s: SparkSession, d: String): DataFrame = {
    val dec = "decimal(38,0)"
    // cut: the customer-level spend table feeds the rank pass, its
    // offsets table, and the final aggregate — scan orders once
    val spend = GraftSession.cut(Tables.orders(s, d)
      .select(col("o_custkey"), cents.as("c"))
      .groupBy(col("o_custkey")).agg(sum(col("c")).as("v")))
    scalableRank(spend, "v", "o_custkey", 1L << 22, "rk")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        sum(col("rk").cast(dec) * col("v")).as("siv"))
      .select(col("n").as("n_customers"),
        round((lit(2L) * col("siv")
            - (col("n") + 1L).cast(dec) * col("sv")).cast("double")
          / (col("n").cast(dec) * col("sv")).cast("double"), 6)
          .as("gini"))
  }

  /** DuckDB oracle for [[giniSpend]]. */
  def giniSpendSql: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
      |      AS BIGINT) AS v
      |  FROM orders GROUP BY 1),
      |rk AS (SELECT v,
      |    row_number() OVER (ORDER BY v, o_custkey) AS i
      |  FROM spend)
      |SELECT COUNT(*) AS n_customers,
      |  round(CAST(2 * SUM(CAST(i AS HUGEINT) * v)
      |      - (COUNT(*) + 1) * CAST(SUM(v) AS HUGEINT) AS DOUBLE)
      |    / CAST(COUNT(*) * CAST(SUM(v) AS HUGEINT) AS DOUBLE), 6)
      |    AS gini
      |FROM rk""".stripMargin

  /** Lorenz curve at decile resolution: customers ascending-ranked by
    * spend, cut into 10 exact-integer deciles (decile = (rank−1)·10
    * DIV n + 1 — no float boundary), each row carrying its spend
    * share and the cumulative share below it. The curve behind the
    * [[giniSpend]] scalar — "the bottom 50% of customers hold 21% of
    * revenue" — read directly. Ranks ride [[scalableRank]] (no
    * single-partition row sort); the only window after aggregation
    * orders the 10-row decile table, and every sum is exact cents
    * until the two final rounded divisions. */
  def lorenzDeciles(s: SparkSession, d: String): DataFrame = {
    val dec = "decimal(38,0)"
    val (spend, Seq(n)) = GraftSession.cutWith(Tables.orders(s, d)
      .select(col("o_custkey"), cents.as("c"))
      .groupBy(col("o_custkey")).agg(sum(col("c")).as("v")), count(lit(1)))
    // DIV, not `/`: Divide on longs returns DOUBLE and a float decile
    // boundary could mis-bucket a rank at the edge
    val byDecile = scalableRank(spend, "v", "o_custkey", 1L << 22, "rk")
      .select(expr(s"(rk - 1) * 10 DIV $n + 1").as("decile"), col("v"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("v")).as("sv"))
    val tot = byDecile.agg(sum(col("sv")).as("t"))
    val wCum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDecile
      .withColumn("cum", sum(col("sv")).over(wCum))
      .crossJoin(broadcast(tot))
      .select(col("decile"), col("n_customers"),
        round(col("sv").cast("double") / col("t").cast("double"), 6)
          .as("share"),
        round(col("cum").cast("double") / col("t").cast("double"), 6)
          .as("cum_share"))
      .orderBy(col("decile"))
  }

  /** Theil-T inequality index of customer spend with its exact
    * between/within-nation decomposition: T = Σ (xᵢ/X)·ln(N·xᵢ/X),
    * T_between = Σ_g s_g·ln(s_g/p_g) (s_g = spend share, p_g = head
    * share of nation g), T_within = T − T_between — how much of the
    * inequality lives INSIDE nations versus between them, the
    * decomposition Gini cannot give. Each customer's float term is
    * quantized to nano-units and summed as BIGINT (the sq8Fidelity
    * discipline), so the sum is partition-order invariant and
    * hash-exact across engines; the 25 nation terms get the same
    * treatment. One shuffle for the spend marginal, one join to the
    * nation label, two tiny aggs. */
  def theilIndex(s: SparkSession, d: String): DataFrame = {
    val spend = GraftSession.cut(Tables.orders(s, d)
      .select(col("o_custkey"), cents.as("c"))
      .groupBy(col("o_custkey")).agg(sum(col("c")).as("v"))
      .join(Tables.customer(s, d)
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey")),
        "o_custkey"))
    val t = spend.agg(count(lit(1)).as("n"), sum(col("v")).as("x")).head()
    val n = t.getLong(0)
    val x = t.getLong(1)
    // identical expression TEXT on both sides: same float op order,
    // same round-then-cast, so the nano sums agree bit-for-bit
    val totalNano = spend.agg(sum(expr(
      s"CAST(round((CAST(v AS DOUBLE) / CAST($x AS DOUBLE)) * " +
        s"ln(CAST($n AS DOUBLE) * CAST(v AS DOUBLE) / " +
        s"CAST($x AS DOUBLE)) * 1e9) AS LONG)")).as("tn"))
    val betweenNano = spend
      .groupBy(col("c_nationkey"))
      .agg(sum(col("v")).as("xg"), count(lit(1)).as("ng"))
      .agg(sum(expr(
        s"CAST(round((CAST(xg AS DOUBLE) / CAST($x AS DOUBLE)) * " +
          s"ln((CAST(xg AS DOUBLE) / CAST($x AS DOUBLE)) / " +
          s"(CAST(ng AS DOUBLE) / CAST($n AS DOUBLE))) * 1e9) " +
          "AS LONG)")).as("bn"))
    totalNano.crossJoin(betweenNano)
      .select(lit(n).as("n_customers"),
        round(col("tn").cast("double") / 1e9, 6).as("theil_total"),
        round(col("bn").cast("double") / 1e9, 6).as("theil_between"),
        round((col("tn") - col("bn")).cast("double") / 1e9, 6)
          .as("theil_within"))
  }

  /** Atkinson inequality index at ε = 1: A = 1 − geomean(x)/mean(x)
    * over per-customer spend — the welfare-theoretic member of the
    * inequality family (beside [[giniSpend]] and [[theilIndex]]),
    * read as "the share of total spend society would give up for
    * perfect equality". The geometric mean rides the same
    * nano-quantized Σ ln x BIGINT sum as Theil (partition-order
    * invariant); the arithmetic mean is exact cents; one exp and one
    * division at the end, identical expression text on both
    * engines. */
  def atkinsonIndex(s: SparkSession, d: String): DataFrame = {
    val spend = GraftSession.cut(Tables.orders(s, d)
      .select(col("o_custkey"), cents.as("c"))
      .groupBy(col("o_custkey")).agg(sum(col("c")).as("v")))
    spend.agg(count(lit(1)).as("n"), sum(col("v")).as("sx"),
        sum(expr("CAST(round(ln(CAST(v AS DOUBLE)) * 1e9) AS LONG)"))
          .as("sl"))
      .select(col("n").as("n_customers"),
        round(lit(1.0)
          - expr("exp(CAST(sl AS DOUBLE) / 1e9 / CAST(n AS DOUBLE))")
          / (col("sx").cast("double") / col("n").cast("double")), 6)
          .as("atkinson"))
  }

  /** DuckDB oracle for [[atkinsonIndex]]. */
  def atkinsonIndexSql: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
      |      AS BIGINT) AS v
      |  FROM orders GROUP BY 1),
      |st AS (SELECT COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sx,
      |    CAST(SUM(CAST(round(ln(CAST(v AS DOUBLE)) * 1e9) AS BIGINT))
      |      AS BIGINT) AS sl
      |  FROM spend)
      |SELECT CAST(n AS BIGINT) AS n_customers,
      |  round(1.0 - exp(CAST(sl AS DOUBLE) / 1e9 / CAST(n AS DOUBLE))
      |    / (CAST(sx AS DOUBLE) / n), 6) AS atkinson
      |FROM st""".stripMargin

  /** DuckDB oracle for [[theilIndex]]: the same nano-quantized terms;
    * N and X come from scalar-subquery CTEs instead of driver
    * scalars. */
  def theilIndexSql: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
      |      AS BIGINT) AS v
      |  FROM orders GROUP BY 1),
      |sp AS (SELECT v, c_nationkey FROM spend
      |       JOIN customer ON c_custkey = o_custkey),
      |tt AS (SELECT COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS x FROM sp),
      |tn AS (SELECT CAST(SUM(CAST(round((CAST(v AS DOUBLE)
      |      / CAST(x AS DOUBLE))
      |    * ln(CAST(n AS DOUBLE) * CAST(v AS DOUBLE)
      |      / CAST(x AS DOUBLE)) * 1e9) AS BIGINT)) AS BIGINT) AS tn
      |  FROM sp, tt),
      |g AS (SELECT c_nationkey, CAST(SUM(v) AS BIGINT) AS xg,
      |    COUNT(*) AS ng FROM sp GROUP BY 1),
      |bn AS (SELECT CAST(SUM(CAST(round((CAST(xg AS DOUBLE)
      |      / CAST(x AS DOUBLE))
      |    * ln((CAST(xg AS DOUBLE) / CAST(x AS DOUBLE))
      |      / (CAST(ng AS DOUBLE) / CAST(n AS DOUBLE))) * 1e9)
      |    AS BIGINT)) AS BIGINT) AS bn
      |  FROM g, tt)
      |SELECT CAST(tt.n AS BIGINT) AS n_customers,
      |  round(CAST(tn.tn AS DOUBLE) / 1e9, 6) AS theil_total,
      |  round(CAST(bn.bn AS DOUBLE) / 1e9, 6) AS theil_between,
      |  round(CAST(tn.tn - bn.bn AS DOUBLE) / 1e9, 6) AS theil_within
      |FROM tn, bn, tt""".stripMargin

  /** DuckDB oracle for [[lorenzDeciles]]. */
  def lorenzDecilesSql: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
      |      AS BIGINT) AS v
      |  FROM orders GROUP BY 1),
      |rk AS (SELECT v,
      |    row_number() OVER (ORDER BY v, o_custkey) AS i,
      |    COUNT(*) OVER () AS n
      |  FROM spend),
      |d AS (SELECT (i - 1) * 10 // n + 1 AS decile,
      |    CAST(COUNT(*) AS BIGINT) AS n_customers,
      |    CAST(SUM(v) AS BIGINT) AS sv
      |  FROM rk GROUP BY 1),
      |t AS (SELECT CAST(SUM(sv) AS BIGINT) AS t FROM d)
      |SELECT decile, n_customers,
      |  round(CAST(sv AS DOUBLE) / t.t, 6) AS share,
      |  round(CAST(SUM(sv) OVER (ORDER BY decile
      |      ROWS UNBOUNDED PRECEDING) AS DOUBLE) / t.t, 6)
      |    AS cum_share
      |FROM d, t ORDER BY decile""".stripMargin

  /** Benford first-significant-digit profile of order totals — the
    * classic fraud / synthetic-data smell test. The leading digit is
    * read off the exact cents integer's string form (scaling by 100
    * leaves the first significant digit unchanged, and both engines
    * print BIGINT identically); observed shares sit next to the
    * Benford expectation log10(1 + 1/d). One map-side-combined count
    * over a 9-key space — embarrassingly scalable. */
  def benfordDigits(s: SparkSession, d: String): DataFrame = {
    // cut: the 9-row digit table feeds both the total and the output
    val digits = GraftSession.cut(Tables.orders(s, d)
      .select(substring(cents.cast("string"), 1, 1).cast("int")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("cnt")))
    val tot = digits.agg(sum(col("cnt")).as("n"))
    digits.crossJoin(broadcast(tot))
      .select(col("digit"), col("cnt"),
        round(col("cnt").cast("double") / col("n").cast("double"), 6)
          .as("obs_p"),
        round(log10(lit(1.0) + lit(1.0) / col("digit").cast("double")),
          6).as("benford_p"))
      .orderBy(col("digit"))
  }

  /** DuckDB oracle for [[benfordDigits]]. */
  def benfordDigitsSql: String =
    """WITH d AS (
      |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0)
      |    AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
      |  FROM orders),
      |c AS (SELECT digit, COUNT(*) AS cnt FROM d GROUP BY 1),
      |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM c)
      |SELECT digit, cnt,
      |  round(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE), 6) AS obs_p,
      |  round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6)
      |    AS benford_p
      |FROM c, t ORDER BY digit""".stripMargin

  /** Exact Mann-Whitney U (two-sided rank-sum) comparing order totals
    * between URGENT and LOW priority orders — the nonparametric
    * "did the distribution shift" test (the KS statistic's rank-based
    * sibling, q151). Tied values take average ranks; everything is
    * doubled (2·R, 2·U) so tie half-ranks stay INTEGER and the whole
    * statistic hash-matches with zero float folds; auc_a = U/(n₁n₂)
    * is the probability a random URGENT total exceeds a random LOW
    * one. Ranks come from a [[prefixSum]] over the value-marginal
    * table (distinct cents, not rows); the rank-weighted sum
    * accumulates in DECIMAL(38,0) / HUGEINT. */
  def mannWhitney(s: SparkSession, d: String): DataFrame = {
    val dec = "decimal(38,0)"
    val step = 1048576L
    val marg = Tables.orders(s, d)
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(cents.as("v"),
        (col("o_orderpriority") === "1-URGENT").as("g1"))
      .groupBy(col("v"))
      .agg(sum(when(col("g1"), 1L).otherwise(0L)).as("c1"),
        sum(when(!col("g1"), 1L).otherwise(0L)).as("c2"))
      .withColumn("sub", expr(s"v DIV $step"))
      // cut: marginal feeds offsets + the rank-weighted aggregate
      .transform(GraftSession.cut(_))
    val ag = prefixSum(marg, "sub", Seq(col("v")),
        Seq((col("c1") + col("c2")) -> "before"), inclusive = false)
      .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
        sum(col("c1").cast(dec) * (lit(2L) * col("before")
          + col("c1") + col("c2") + 1L)).as("r2x"))
      .select(col("n1"), col("n2"),
        (col("r2x") - col("n1").cast(dec) * (col("n1") + 1L))
          .as("u2xa"))
    ag.select(col("n1").as("n_a"), col("n2").as("n_b"),
      col("u2xa").cast("long").as("u2_a"),
      (lit(2L) * col("n1").cast(dec) * col("n2") - col("u2xa"))
        .cast("long").as("u2_b"),
      round(col("u2xa").cast("double")
        / (lit(2L) * col("n1").cast(dec) * col("n2")).cast("double"),
        6).as("auc_a"))
  }

  /** DuckDB oracle for [[mannWhitney]]. */
  def mannWhitneySql: String =
    """WITH v AS (
      |  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v,
      |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
      |      AS g1
      |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
      |marg AS (SELECT v, CAST(SUM(g1) AS BIGINT) AS c1,
      |    CAST(SUM(1 - g1) AS BIGINT) AS c2
      |  FROM v GROUP BY 1),
      |cum AS (SELECT c1, c2,
      |    SUM(c1 + c2) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      - c1 - c2 AS before
      |  FROM marg),
      |ag AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
      |    CAST(SUM(c2) AS BIGINT) AS n2,
      |    SUM(CAST(c1 AS HUGEINT) * (2 * before + c1 + c2 + 1)) AS r2x
      |  FROM cum)
      |SELECT n1 AS n_a, n2 AS n_b,
      |  CAST(r2x - CAST(n1 AS HUGEINT) * (n1 + 1) AS BIGINT) AS u2_a,
      |  CAST(2 * CAST(n1 AS HUGEINT) * n2
      |    - (r2x - CAST(n1 AS HUGEINT) * (n1 + 1)) AS BIGINT) AS u2_b,
      |  round(CAST(r2x - CAST(n1 AS HUGEINT) * (n1 + 1) AS DOUBLE)
      |    / CAST(2 * CAST(n1 AS HUGEINT) * n2 AS DOUBLE), 6) AS auc_a
      |FROM ag""".stripMargin

  /** RFM (recency / frequency / monetary) quintile segmentation of
    * the customer base — the classic marketing / curation
    * stratification grid, reported as segment sizes. Each metric
    * ranks via [[scalableRank]] (again: no single-partition ntile
    * window — the oracle's bare `ntile(5) OVER (ORDER BY ...)` is
    * exactly the plan shape this avoids) and the quintile is
    * recovered from the global rank with exact ntile arithmetic
    * (first n MOD 5 buckets take one extra row), so it hash-matches
    * DuckDB's ntile while every window stays partitioned. Customer-
    * level table throughout: one orders shuffle on o_custkey, then
    * three rank passes over #customers rows. */
  def rfmSegments(s: SparkSession, d: String): DataFrame = {
    // cut: the customer metric table feeds three rank passes (each
    // reading it twice: rows + offsets) plus the n count — without
    // the cut Catalyst re-derives it from parquet ~10 times
    val base = GraftSession.cut(Tables.orders(s, d)
      .select(col("o_custkey"),
        unix_micros(col("o_orderdate").cast("timestamp_ltz"))
          .as("ts_us"),
        cents.as("c"))
      .groupBy(col("o_custkey"))
      .agg(max(col("ts_us")).as("rec"), count(lit(1)).as("freq"),
        sum(col("c")).as("mon")))
    // three INDEPENDENT rank tables joined back on the unique customer
    // key (r19): the former nested composition threaded each pass's
    // output into the next, so the three marginal/window/attach
    // pipelines — none of which reads another's rank — executed
    // strictly sequentially. Derived from the cached cut per metric,
    // they are independent subtrees of the one final job, so their
    // stages schedule concurrently (guide §2.6 back-fill, inside a
    // single action); o_custkey is unique in `base` (it IS base's
    // grouping key), so the equi-joins attach exactly one rank per row
    // and the output is value-identical to the nested form.
    def rankTab(v: String, step: Long, out: String): DataFrame =
      scalableRank(base.select(col("o_custkey"), col(v)), v,
        "o_custkey", step, out)
        .select(col("o_custkey"), col(out))
    val ranked = rankTab("rec", 604800000000L, "rk_r")
      .join(rankTab("freq", 8L, "rk_f"), "o_custkey")
      .join(rankTab("mon", 1L << 20, "rk_m"), "o_custkey")
    val n = base.agg(count(lit(1)).as("__n"))
    // exact ntile(5) from a global rank: bucket sizes are n DIV 5,
    // with the first n MOD 5 buckets one larger (the SQL standard)
    def tile(rk: String): Column = expr(
      s"CAST(CASE WHEN $rk <= (__n % 5) * (__n DIV 5 + 1) " +
        s"THEN ($rk - 1) DIV (__n DIV 5 + 1) + 1 " +
        s"ELSE (__n % 5) + ($rk - (__n % 5) * (__n DIV 5 + 1) - 1) " +
        s"DIV (__n DIV 5) + 1 END AS INT)")
    ranked.crossJoin(broadcast(n))
      .select(tile("rk_r").as("r_q"), tile("rk_f").as("f_q"),
        tile("rk_m").as("m_q"))
      .groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("r_q"), col("f_q"), col("m_q"))
  }

  /** Per-group equi-depth histogram: order-total deciles WITHIN each
    * order priority — the grouped variant of q133, and the shape a
    * stratified sampler reads before drawing per-stratum quantile
    * boundaries. Positions are a [[prefixSum]] grouped by g over the
    * (g, v) HISTOGRAM, so adding groups adds parallelism, never a
    * bigger global sort, and per-task rows are bounded by distinct
    * values per (g, sub) at ANY value distribution. Bucket assignment
    * is exact integer arithmetic per group. */
  def groupedEquiDepth(s: SparkSession, d: String,
      buckets: Int = 10): DataFrame = {
    val step = 1048576L
    // the grouped twin of [[equiDepthOf]]'s value-histogram device:
    // per-bucket (count, lo, hi) within each group is invariant under
    // tie permutation, so positions come from the (g, v) histogram —
    // a constant-valued group is a one-row histogram, never a
    // one-task row sort (degenerate-distribution hardening, r15)
    val hist = GraftSession.cut(Tables.orders(s, d)
      .select(col("o_orderpriority").as("g"), cents.as("v"))
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
      .withColumn("sub", expr(s"v DIV $step")))
    val ns = hist.groupBy(col("g")).agg(sum(col("c")).as("n"))
    prefixSum(hist, "sub", Seq(col("v")), Seq(col("c") -> "voff"),
        inclusive = false, groups = Seq("g"))
      .join(broadcast(ns), "g")
      .withColumn("bucket", explode(sequence(
        expr(s"(voff * $buckets) DIV n"),
        expr(s"((voff + c - 1) * $buckets) DIV n"))))
      .withColumn("fi", greatest(col("voff"),
        expr(s"(bucket * n + ${buckets - 1}) DIV $buckets")))
      .withColumn("li", least(col("voff") + col("c") - 1,
        expr(s"((bucket + 1) * n + ${buckets - 1}) DIV $buckets - 1")))
      .groupBy(col("g"), col("bucket"))
      .agg(sum(col("li") - col("fi") + 1).as("n_rows"),
        min(col("v")).as("lo"), max(col("v")).as("hi"))
      .orderBy(col("g"), col("bucket"))
  }

  /** DuckDB oracle for [[groupedEquiDepth]] — single-window-per-group
    * formulation, identical bucket arithmetic. */
  def groupedEquiDepthSql(buckets: Int = 10): String =
    s"""WITH r AS (SELECT o_orderpriority AS g,
       |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v,
       |    row_number() OVER (PARTITION BY o_orderpriority
       |      ORDER BY CAST(round(o_totalprice * 100, 0) AS BIGINT),
       |        o_orderkey) AS rk,
       |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
       |  FROM orders)
       |SELECT g, CAST(((rk - 1) * $buckets) // n AS BIGINT) AS bucket,
       |  COUNT(*) AS n_rows, MIN(v) AS lo, MAX(v) AS hi
       |FROM r GROUP BY 1, 2 ORDER BY g, bucket""".stripMargin

  /** Pareto concentration headline: the revenue share of the top 20%
    * and top 1% of customers — the "is this an 80/20 business" number
    * Gini (q156) generalizes. Top-k membership comes from the
    * [[scalableRank]] ascending rank and exact integer ceil counts;
    * shares are exact cents ratios. */
  def paretoShare(s: SparkSession, d: String): DataFrame = {
    val spend = GraftSession.cut(Tables.orders(s, d)
      .select(col("o_custkey"), cents.as("c"))
      .groupBy(col("o_custkey")).agg(sum(col("c")).as("v")))
    val ranked = scalableRank(spend, "v", "o_custkey", 1L << 22, "rk")
    val n = spend.agg(count(lit(1)).as("n"))
    ranked.crossJoin(broadcast(n))
      .agg(max(col("n")).as("n_customers"),
        sum(col("v")).as("total"),
        sum(when(col("rk") > col("n") - expr("(n + 4) DIV 5"),
          col("v")).otherwise(0L)).as("top20"),
        sum(when(col("rk") > col("n") - expr("(n + 99) DIV 100"),
          col("v")).otherwise(0L)).as("top1"))
      .select(col("n_customers"),
        round(col("top20").cast("double") / col("total").cast("double"),
          6).as("top20_share"),
        round(col("top1").cast("double") / col("total").cast("double"),
          6).as("top1_share"))
  }

  /** DuckDB oracle for [[paretoShare]]. */
  def paretoShareSql: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
      |      AS BIGINT) AS v
      |  FROM orders GROUP BY 1),
      |r AS (SELECT v, row_number() OVER (ORDER BY v, o_custkey) AS rk,
      |        COUNT(*) OVER () AS n
      |      FROM spend)
      |SELECT MAX(n) AS n_customers,
      |  round(CAST(SUM(CASE WHEN rk > n - (n + 4) // 5 THEN v
      |      ELSE 0 END) AS DOUBLE)
      |    / CAST(SUM(v) AS DOUBLE), 6) AS top20_share,
      |  round(CAST(SUM(CASE WHEN rk > n - (n + 99) // 100 THEN v
      |      ELSE 0 END) AS DOUBLE)
      |    / CAST(SUM(v) AS DOUBLE), 6) AS top1_share
      |FROM r""".stripMargin

  /** Mutual information (nats) between a document's language and its
    * source — chi-square's (q135) information-theoretic sibling, the
    * signal a curation pipeline reads before stratifying on one of
    * two correlated facets. MI = Σ (o/n)·ln(o·n / (r·c)) over the
    * contingency cells, folded in (lang, source) order via the same
    * sort_array+aggregate device as chi2 so the oracle's ordered
    * list_reduce reproduces the float fold exactly. Cells/marginals
    * are category-sized and broadcast; one corpus scan. */
  def mutualInformation(s: SparkSession, d: String): DataFrame = {
    // cut: four consumers of the category-sized cells (see chi2)
    val cells = GraftSession.cut(Tables.documents(s, d)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("o")))
    val rowT = cells.groupBy(col("lang")).agg(sum(col("o")).as("r"))
    val colT = cells.groupBy(col("source")).agg(sum(col("o")).as("c"))
    val nT = cells.agg(sum(col("o")).as("n"),
      count(lit(1)).as("n_cells"))
    cells
      .join(broadcast(rowT), "lang")
      .join(broadcast(colT), "source")
      .crossJoin(broadcast(nT))
      .withColumn("term",
        col("o").cast("double") / col("n").cast("double")
          * log(col("o").cast("double") * col("n").cast("double")
            / (col("r").cast("double") * col("c").cast("double"))))
      .agg(max(col("n_cells")).as("n_cells"),
        round(expr("aggregate(sort_array(collect_list(" +
          "struct(lang, source, term))), CAST(0.0 AS DOUBLE), " +
          "(acc, x) -> acc + x.term)"), 6).as("mi_nats"))
  }

  /** DuckDB oracle for [[mutualInformation]]. */
  def mutualInformationSql: String =
    """WITH cells AS (SELECT lang, source, COUNT(*) AS o
      |               FROM documents GROUP BY 1, 2),
      |rt AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS r
      |       FROM cells GROUP BY 1),
      |ct AS (SELECT source, CAST(SUM(o) AS BIGINT) AS c
      |       FROM cells GROUP BY 1),
      |nt AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
      |t AS (SELECT lang, source,
      |        CAST(o AS DOUBLE) / CAST(n AS DOUBLE)
      |          * ln(CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
      |            / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE))) AS term
      |      FROM cells JOIN rt USING (lang) JOIN ct USING (source)
      |      CROSS JOIN nt)
      |SELECT (SELECT COUNT(*) FROM cells) AS n_cells,
      |  round(list_reduce(list(term ORDER BY lang, source),
      |    (acc, x) -> acc + x), 6) AS mi_nats
      |FROM t""".stripMargin

  /** The four lineitem numerics in exact integer units (whole
    * quantities; price cents; discount/tax in percent points) — the
    * round-then-cast cents discipline applied table-wide. */
  private val CorrCols = Seq(
    "qty" -> "round(l_quantity, 0)",
    "price_c" -> "round(l_extendedprice * 100, 0)",
    "disc_pc" -> "round(l_discount * 100, 0)",
    "tax_pc" -> "round(l_tax * 100, 0)")

  /** Pairwise Pearson correlation matrix over the lineitem numerics —
    * the feature-redundancy screen a modeling pipeline runs before
    * training. ONE scan computes all 14 sufficient statistics (4
    * sums, 4 sum-of-squares, 6 cross-products) in a single map-side-
    * combined aggregate — never one pass per pair — then the 6
    * correlations explode out of the one-row result. Cross terms
    * accumulate in DECIMAL(38,0)/HUGEINT (price-cents squared times
    * row count passes BIGINT range near 4e3 rows... i.e. instantly);
    * each r divides exact integers under two correctly-rounded IEEE
    * sqrts, the q155 pattern, so the matrix hash-matches. */
  def corrMatrix(s: SparkSession, d: String): DataFrame = {
    val dec = "decimal(38,0)"
    val names = CorrCols.map(_._1)
    val li = Tables.lineitem(s, d).select(
      CorrCols.map { case (n, e) => expr(e).cast("long").as(n) }: _*)
    val aggs =
      names.map(n => sum(col(n)).as(s"s_$n")) ++
        names.map(n => sum(col(n).cast(dec) * col(n)).as(s"q_$n")) ++
        (for (i <- names.indices; j <- i + 1 until names.size)
          yield sum(col(names(i)).cast(dec) * col(names(j)))
            .as(s"x_${names(i)}__${names(j)}"))
    val stats = li.agg(count(lit(1)).as("n"), aggs: _*)
    val pairRows = for (i <- names.indices; j <- i + 1 until names.size)
      yield {
        val (a, b) = (names(i), names(j))
        val num = (col("n").cast(dec) * col(s"x_${a}__$b")
          - col(s"s_$a").cast(dec) * col(s"s_$b")).cast("double")
        val den =
          sqrt((col("n").cast(dec) * col(s"q_$a")
            - col(s"s_$a").cast(dec) * col(s"s_$a")).cast("double")) *
          sqrt((col("n").cast(dec) * col(s"q_$b")
            - col(s"s_$b").cast(dec) * col(s"s_$b")).cast("double"))
        struct(lit(s"${a}__$b").as("pair"),
          round(num / nullif(den, lit(0.0)), 6).as("r"))
      }
    stats.select(explode(array(pairRows: _*)).as("p"))
      .select(col("p.pair").as("pair"), col("p.r").as("r"))
      .orderBy(col("pair"))
  }

  /** DuckDB oracle for [[corrMatrix]] — the same one-pass stats CTE,
    * six rows read from it. */
  def corrMatrixSql: String = {
    val names = CorrCols.map(_._1)
    val sums = CorrCols.map { case (n, e) =>
      s"CAST(SUM(CAST($e AS BIGINT)) AS BIGINT) AS s_$n"
    } ++ CorrCols.map { case (n, e) =>
      s"SUM(CAST(CAST($e AS BIGINT) AS HUGEINT) * CAST($e AS BIGINT)) AS q_$n"
    } ++ (for (i <- names.indices; j <- i + 1 until names.size) yield {
      val (a, ea) = CorrCols(i); val (b, eb) = CorrCols(j)
      s"SUM(CAST(CAST($ea AS BIGINT) AS HUGEINT) * CAST($eb AS BIGINT))" +
        s" AS x_${a}__$b"
    })
    val branches = for (i <- names.indices; j <- i + 1 until names.size)
      yield {
        val (a, b) = (names(i), names(j))
        s"""SELECT '${a}__$b' AS pair,
           |  round(CAST(CAST(n AS HUGEINT) * x_${a}__$b
           |      - CAST(s_$a AS HUGEINT) * s_$b AS DOUBLE)
           |    / nullif(sqrt(CAST(CAST(n AS HUGEINT) * q_$a
           |        - CAST(s_$a AS HUGEINT) * s_$a AS DOUBLE))
           |      * sqrt(CAST(CAST(n AS HUGEINT) * q_$b
           |        - CAST(s_$b AS HUGEINT) * s_$b AS DOUBLE)), 0.0), 6)
           |    AS r
           |FROM stats""".stripMargin
      }
    s"""WITH stats AS (
       |  SELECT COUNT(*) AS n, ${sums.mkString(",\n    ")}
       |  FROM lineitem)
       |${branches.mkString("\nUNION ALL\n")}
       |ORDER BY pair""".stripMargin
  }

  /** Winsorized mean of order totals: values clipped to the exact
    * [p05, p95] rank quantiles before averaging — the robust location
    * estimate a pipeline reports when whales/glitches poison the
    * plain mean. Quantile bounds come from a [[prefixSum]] over the
    * value marginal (distinct cents, not rows);
    * the clipped numerator Σ c·clamp(v) is exact BIGINT; one double
    * division at the end. Two orders scans total (marginal is cut). */
  def winsorizedMean(s: SparkSession, d: String): DataFrame = {
    val step = 1048576L
    val marg = GraftSession.cut(Tables.orders(s, d)
      .select(cents.as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("c"))
      .withColumn("sub", expr(s"v DIV $step")))
    val cum = prefixSum(marg, "sub", Seq(col("v")),
      Seq(col("c") -> "cum"), inclusive = true)
    val tot = marg.agg(sum(col("c")).as("n"))
    val bounds = cum.crossJoin(broadcast(tot))
      .agg(max(col("n")).as("n"),
        min(when(col("cum") >= expr("(n * 5 + 99) DIV 100"), col("v")))
          .as("lo"),
        min(when(col("cum") >= expr("(n * 95 + 99) DIV 100"), col("v")))
          .as("hi"))
    marg.crossJoin(broadcast(bounds))
      .agg(max(col("n")).as("n_rows"), max(col("lo")).as("p05"),
        max(col("hi")).as("p95"),
        round(sum(col("c") * least(greatest(col("v"), col("lo")),
          col("hi"))).cast("double")
          / max(col("n")).cast("double"), 6).as("wmean_cents"))
  }

  /** DuckDB oracle for [[winsorizedMean]]. */
  def winsorizedMeanSql: String =
    """WITH marg AS (
      |  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v,
      |    COUNT(*) AS c
      |  FROM orders GROUP BY 1),
      |cum AS (SELECT v, c, CAST(SUM(c) OVER (ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS BIGINT) AS cum FROM marg),
      |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM marg),
      |b AS (SELECT n,
      |    (SELECT MIN(v) FROM cum WHERE cum >= (n * 5 + 99) // 100)
      |      AS lo,
      |    (SELECT MIN(v) FROM cum WHERE cum >= (n * 95 + 99) // 100)
      |      AS hi
      |  FROM tot)
      |SELECT n AS n_rows, lo AS p05, hi AS p95,
      |  round(CAST((SELECT SUM(c * least(greatest(v, lo), hi))
      |    FROM marg) AS DOUBLE) / CAST(n AS DOUBLE), 6) AS wmean_cents
      |FROM b""".stripMargin

  /** Spearman rank correlation between lineitem quantity and price —
    * the tie-aware monotone-association twin of q163's Pearson (and
    * the robust check a feature screen runs when outliers distort the
    * linear r). Average tied ranks are DOUBLED (2·rank, the q158
    * device) so every rank is an exact BIGINT off the value-marginal
    * cumulative table; rows join their two doubled ranks back by
    * value (marginals broadcast — distinct-value sized) and Pearson
    * runs over the doubled-rank pairs in DECIMAL(38,0)/HUGEINT —
    * the doubling cancels in the ratio. Exact while n⁴ < 1e38, i.e.
    * n under ~2e9 rows; past that, compute the same sums on the
    * value marginal with counts (the formula only needs per-distinct
    * aggregates) — noted here, not needed at any gate SF. */
  def spearman(s: SparkSession, d: String): DataFrame = {
    val dec = "decimal(38,0)"
    val rows = Tables.lineitem(s, d)
      .select(expr("CAST(round(l_quantity, 0) AS LONG)").as("a"),
        expr("CAST(round(l_extendedprice * 100, 0) AS LONG)").as("b"))
    // per-column doubled-average-rank tables, a [[prefixSum]] over
    // each value marginal: the price marginal is near row-count-sized,
    // so it joins back by value WITHOUT a broadcast hint — AQE
    // broadcasts the ~50-row quantity table on its own and
    // shuffle-joins the wide price table
    def rankTable(c: String, step: Long): DataFrame = {
      val marg = rows.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
        .withColumn("sub", expr(s"$c DIV $step"))
      prefixSum(marg, "sub", Seq(col(c)), Seq(col("cnt") -> "cum"),
          inclusive = true)
        // doubled average rank of the tied block ending at cum
        .select(col(c), (lit(2L) * (col("cum") - col("cnt"))
          + col("cnt") + 1L).as(s"r2_$c"))
    }
    val ranked = rows
      .join(rankTable("a", 8L), "a")
      .join(rankTable("b", 1048576L), "b")
    val st = ranked.agg(count(lit(1)).as("n"),
      sum(col("r2_a")).as("sa"), sum(col("r2_b")).as("sb"),
      sum(col("r2_a").cast(dec) * col("r2_b")).as("sab"),
      sum(col("r2_a").cast(dec) * col("r2_a")).as("saa"),
      sum(col("r2_b").cast(dec) * col("r2_b")).as("sbb"))
    st.select(col("n").as("n_rows"),
      round((col("n").cast(dec) * col("sab")
          - col("sa").cast(dec) * col("sb")).cast("double")
        / nullif(
          sqrt((col("n").cast(dec) * col("saa")
            - col("sa").cast(dec) * col("sa")).cast("double"))
          * sqrt((col("n").cast(dec) * col("sbb")
            - col("sb").cast(dec) * col("sb")).cast("double")),
          lit(0.0)), 6).as("rho"))
  }

  /** DuckDB oracle for [[spearman]]. */
  def spearmanSql: String =
    """WITH rows_ AS (
      |  SELECT CAST(round(l_quantity, 0) AS BIGINT) AS a,
      |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS b
      |  FROM lineitem),
      |ra AS (SELECT a, 2 * (CAST(SUM(COUNT(*)) OVER (ORDER BY a
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) - COUNT(*)) + COUNT(*) + 1 AS r2_a
      |  FROM rows_ GROUP BY a),
      |rb AS (SELECT b, 2 * (CAST(SUM(COUNT(*)) OVER (ORDER BY b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) - COUNT(*)) + COUNT(*) + 1 AS r2_b
      |  FROM rows_ GROUP BY b),
      |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(r2_a) AS BIGINT) AS sa,
      |    CAST(SUM(r2_b) AS BIGINT) AS sb,
      |    SUM(CAST(r2_a AS HUGEINT) * r2_b) AS sab,
      |    SUM(CAST(r2_a AS HUGEINT) * r2_a) AS saa,
      |    SUM(CAST(r2_b AS HUGEINT) * r2_b) AS sbb
      |  FROM rows_ JOIN ra USING (a) JOIN rb USING (b))
      |SELECT n AS n_rows,
      |  round(CAST(CAST(n AS HUGEINT) * sab
      |      - CAST(sa AS HUGEINT) * sb AS DOUBLE)
      |    / nullif(sqrt(CAST(CAST(n AS HUGEINT) * saa
      |        - CAST(sa AS HUGEINT) * sa AS DOUBLE))
      |      * sqrt(CAST(CAST(n AS HUGEINT) * sbb
      |        - CAST(sb AS HUGEINT) * sb AS DOUBLE)), 0.0), 6) AS rho
      |FROM st""".stripMargin

  /** Median absolute deviation and robust outlier count over order
    * totals — the robust-scale companion to q166's winsorized mean
    * (a MAD-based fence survives the contaminated tails that wreck a
    * z-score fence). Two rank passes over VALUE MARGINALS, each a
    * [[prefixSum]]: the median from the cents
    * marginal, then the MAD as the median of the |v − med| marginal
    * (re-grouped — deviations from both sides collide). The outlier
    * fence |v − med| > 3·MAD stays entirely in exact integers: no
    * 1.4826 consistency constant, no float compare. */
  def madOutliers(s: SparkSession, d: String): DataFrame = {
    val step = 1048576L
    def cumulate(m: DataFrame, v: String): DataFrame =
      prefixSum(m, "sub", Seq(col(v)), Seq(col("c") -> "cum"),
        inclusive = true)
    val marg = GraftSession.cut(Tables.orders(s, d)
      .select(cents.as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("c"))
      .withColumn("sub", expr(s"v DIV $step")))
    val tot = marg.agg(sum(col("c")).as("n"))
    val med = cumulate(marg, "v").crossJoin(broadcast(tot))
      .agg(max(col("n")).as("n"),
        min(when(col("cum") >= expr("(n + 1) DIV 2"), col("v")))
          .as("med"))
    val dev = GraftSession.cut(marg.crossJoin(broadcast(med))
      .select(abs(col("v") - col("med")).as("dv"), col("c"),
        col("n"), col("med"))
      .groupBy(col("dv"), col("n"), col("med"))
      .agg(sum(col("c")).as("c"))
      .withColumn("sub", expr(s"dv DIV $step")))
    val mad = cumulate(dev, "dv")
      .agg(max(col("n")).as("n"), max(col("med")).as("med"),
        min(when(col("cum") >= expr("(n + 1) DIV 2"), col("dv")))
          .as("mad"))
    dev.crossJoin(broadcast(mad.select(col("mad"))))
      .agg(max(col("n")).as("n_rows"),
        max(col("med")).as("median_cents"),
        max(col("mad")).as("mad_cents"),
        sum(when(col("dv") > lit(3L) * col("mad"), col("c"))
          .otherwise(0L)).as("n_outliers"))
  }

  /** DuckDB oracle for [[madOutliers]]. */
  def madOutliersSql: String =
    """WITH marg AS (
      |  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v,
      |    COUNT(*) AS c
      |  FROM orders GROUP BY 1),
      |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM marg),
      |cum AS (SELECT v, CAST(SUM(c) OVER (ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS BIGINT) AS cum FROM marg),
      |med AS (SELECT n,
      |    (SELECT MIN(v) FROM cum WHERE cum >= (n + 1) // 2) AS med
      |  FROM tot),
      |dev AS (SELECT abs(v - med) AS dv, CAST(SUM(c) AS BIGINT) AS c
      |  FROM marg CROSS JOIN med GROUP BY 1),
      |dcum AS (SELECT dv, CAST(SUM(c) OVER (ORDER BY dv
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS BIGINT) AS cum FROM dev),
      |mad AS (SELECT n, med,
      |    (SELECT MIN(dv) FROM dcum WHERE cum >= (n + 1) // 2) AS mad
      |  FROM med)
      |SELECT n AS n_rows, med AS median_cents, mad AS mad_cents,
      |  CAST((SELECT COALESCE(SUM(c), 0) FROM dev
      |    WHERE dv > 3 * mad) AS BIGINT) AS n_outliers
      |FROM mad""".stripMargin

  /** Cohen's d standardized mean difference, URGENT vs LOW order
    * totals — the effect-size companion to q158's Mann-Whitney (U
    * answers "did the distribution shift", d answers "by how many
    * pooled standard deviations"). All five sufficient statistics are
    * exact (counts BIGINT, Σv BIGINT, Σv² DECIMAL(38,0)/HUGEINT);
    * the variance numerators n·Σv² − (Σv)² are exact integers, and
    * the float sequence after them is written identically on both
    * engines, so the row hash-matches. One scan, one tiny agg. */
  def cohensD(s: SparkSession, d: String): DataFrame = {
    val dec = "decimal(38,0)"
    val st = Tables.orders(s, d)
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(cents.as("v"),
        (col("o_orderpriority") === "1-URGENT").as("g1"))
      .agg(
        sum(when(col("g1"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("g1"), 1L).otherwise(0L)).as("n2"),
        sum(when(col("g1"), col("v")).otherwise(0L)).as("s1"),
        sum(when(!col("g1"), col("v")).otherwise(0L)).as("s2"),
        sum(when(col("g1"), col("v").cast(dec) * col("v"))
          .otherwise(lit(0L).cast(dec))).as("q1"),
        sum(when(!col("g1"), col("v").cast(dec) * col("v"))
          .otherwise(lit(0L).cast(dec))).as("q2"))
    val vn1 = ((col("n1").cast(dec) * col("q1")
      - col("s1").cast(dec) * col("s1")).cast("double")
      / col("n1").cast("double"))
    val vn2 = ((col("n2").cast(dec) * col("q2")
      - col("s2").cast(dec) * col("s2")).cast("double")
      / col("n2").cast("double"))
    st.select(col("n1").as("n_a"), col("n2").as("n_b"),
      round(col("s1").cast("double") / col("n1").cast("double"), 6)
        .as("mean_a"),
      round(col("s2").cast("double") / col("n2").cast("double"), 6)
        .as("mean_b"),
      round((col("s1").cast("double") / col("n1").cast("double")
        - col("s2").cast("double") / col("n2").cast("double"))
        / sqrt((vn1 + vn2)
          / (col("n1") + col("n2") - 2L).cast("double")), 6)
        .as("cohens_d"))
  }

  /** DuckDB oracle for [[cohensD]]. */
  def cohensDSql: String =
    """WITH v AS (
      |  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v,
      |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
      |      AS g1
      |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
      |st AS (SELECT
      |    CAST(SUM(g1) AS BIGINT) AS n1,
      |    CAST(SUM(1 - g1) AS BIGINT) AS n2,
      |    CAST(SUM(CASE WHEN g1 = 1 THEN v ELSE 0 END) AS BIGINT)
      |      AS s1,
      |    CAST(SUM(CASE WHEN g1 = 0 THEN v ELSE 0 END) AS BIGINT)
      |      AS s2,
      |    SUM(CASE WHEN g1 = 1 THEN CAST(v AS HUGEINT) * v
      |      ELSE CAST(0 AS HUGEINT) END) AS q1,
      |    SUM(CASE WHEN g1 = 0 THEN CAST(v AS HUGEINT) * v
      |      ELSE CAST(0 AS HUGEINT) END) AS q2
      |  FROM v)
      |SELECT n1 AS n_a, n2 AS n_b,
      |  round(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) AS mean_a,
      |  round(CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE), 6) AS mean_b,
      |  round((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |    - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
      |    / sqrt((CAST(CAST(n1 AS HUGEINT) * q1
      |        - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
      |        / CAST(n1 AS DOUBLE)
      |      + CAST(CAST(n2 AS HUGEINT) * q2
      |        - CAST(s2 AS HUGEINT) * s2 AS DOUBLE)
      |        / CAST(n2 AS DOUBLE))
      |      / CAST(n1 + n2 - 2 AS DOUBLE)), 6) AS cohens_d
      |FROM st""".stripMargin

  /** Subsampling bootstrap CI for the mean order total: B
    * half-sample replicates, each selecting rows by a DETERMINISTIC
    * md5 coin over (replicate, orderkey) — reproducible across runs
    * AND engines, unlike an RNG bootstrap — with the CI read off the
    * ranked replicate means. Each replicate mean comes from exact
    * integer (sum, count); the replicate table is B rows, so the
    * final rank is trivial. Scale shape: one B-way flatMap over the
    * scan (sequence+explode, no shuffle amplification — the
    * aggregation is map-side combined down to B partials before the
    * only exchange). */
  def bootstrapCi(s: SparkSession, d: String, b: Int = 32): DataFrame = {
    require(b <= 32, "one md5 digest carries 32 nibble coins")
    // replicate r's half coin is the r-th nibble of ONE md5 per row
    // (top bit of a hex char: < '8' iff that 4-bit value < 8). First
    // cut was one seeded md5 per (row, replicate) with the full
    // 8-nibble fraction decode — measured 41.7 s at sf0.1; the
    // exploded per-(row,rep) single-nibble form was 2.5 s; this r16
    // form drops the explode entirely: ONE pass with 2B conditional
    // aggregates (sum, count per replicate) — no B-times row
    // materialization, no B-times shuffle input, one codegen stage —
    // then unpivots the single result row to the B replicate means.
    // Value-identical: each (s_r, c_r) sums exactly the rows the
    // exploded filter kept, in order-free BIGINT arithmetic.
    def coin(r: Int) = expr(s"substr(h, $r, 1) < '8'")
    val aggs = (1 to b).flatMap(r => Seq(
      sum(when(coin(r), col("v"))).as(s"s_$r"),
      sum(when(coin(r), 1L).otherwise(0L)).as(s"c_$r")))
    val reps = Tables.orders(s, d)
      .select(cents.as("v"),
        md5(col("o_orderkey").cast("string")).as("h"))
      .agg(aggs.head, aggs.tail: _*)
      .select(explode(array((1 to b).map(r =>
        struct(lit(r).as("rep"),
          round(col(s"s_$r").cast("double")
            / col(s"c_$r").cast("double"), 6).as("m"))): _*)).as("x"))
      .select(col("x.rep").as("rep"), col("x.m").as("m"))
      // a replicate that selected zero rows has no mean — the grouped
      // form emitted no row for it (impossible at any real n; kept
      // for exact semantic parity with the oracle)
      .filter(col("m").isNotNull)
    val w = Window.orderBy(col("m"), col("rep"))
    val full = Tables.orders(s, d)
      .agg(round(sum(cents).cast("double")
        / count(lit(1)).cast("double"), 6).as("mean_cents"))
    reps.withColumn("rn", row_number().over(w))
      .agg(count(lit(1)).as("n_replicates"),
        max(when(col("rn") === math.ceil(0.05 * b).toInt, col("m")))
          .as("ci_lo"),
        max(when(col("rn") === math.ceil(0.95 * b).toInt, col("m")))
          .as("ci_hi"))
      .crossJoin(broadcast(full))
      .select(col("n_replicates"), col("mean_cents"), col("ci_lo"),
        col("ci_hi"))
  }

  /** DuckDB oracle for [[bootstrapCi]]. */
  def bootstrapCiSql(b: Int = 32): String = {
    s"""WITH rows_ AS (SELECT o_orderkey AS id,
       |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v
       |  FROM orders),
       |drawn AS (SELECT rep, v FROM (
       |    SELECT rep, v, md5(CAST(id AS VARCHAR)) AS h
       |    FROM rows_, (SELECT unnest(generate_series(1, $b)) AS rep))
       |  WHERE substr(h, rep, 1) < '8'),
       |reps AS (SELECT rep,
       |    round(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6) AS m
       |  FROM drawn GROUP BY 1),
       |rr AS (SELECT m,
       |    row_number() OVER (ORDER BY m, rep) AS rn FROM reps),
       |full_ AS (SELECT round(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6)
       |    AS mean_cents FROM rows_)
       |SELECT (SELECT COUNT(*) FROM reps) AS n_replicates,
       |  mean_cents,
       |  (SELECT MAX(CASE WHEN rn = ${math.ceil(0.05 * b).toInt}
       |    THEN m END) FROM rr) AS ci_lo,
       |  (SELECT MAX(CASE WHEN rn = ${math.ceil(0.95 * b).toInt}
       |    THEN m END) FROM rr) AS ci_hi
       |FROM full_""".stripMargin
  }

  /** Welch's unequal-variance t statistic, URGENT vs LOW order totals
    * — the parametric member of the q158/q170 two-sample family,
    * with the Welch-Satterthwaite degrees of freedom. Assembled from
    * the same six exact sufficient statistics as Cohen's d; sample
    * (n-1) variances, identical float sequence both engines. */
  def welchT(s: SparkSession, d: String): DataFrame = {
    val dec = "decimal(38,0)"
    val st = Tables.orders(s, d)
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(cents.as("v"),
        (col("o_orderpriority") === "1-URGENT").as("g1"))
      .agg(
        sum(when(col("g1"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("g1"), 1L).otherwise(0L)).as("n2"),
        sum(when(col("g1"), col("v")).otherwise(0L)).as("s1"),
        sum(when(!col("g1"), col("v")).otherwise(0L)).as("s2"),
        sum(when(col("g1"), col("v").cast(dec) * col("v"))
          .otherwise(lit(0L).cast(dec))).as("q1"),
        sum(when(!col("g1"), col("v").cast(dec) * col("v"))
          .otherwise(lit(0L).cast(dec))).as("q2"))
    // se_g = s²_g / n_g with s² the (n-1)-denominator sample variance
    def se(n: String, sv: String, q: String): Column =
      (((col(n).cast(dec) * col(q)
        - col(sv).cast(dec) * col(sv)).cast("double")
        / col(n).cast("double"))
        / (col(n) - 1L).cast("double")) / col(n).cast("double")
    val se1 = se("n1", "s1", "q1"); val se2 = se("n2", "s2", "q2")
    st.select(col("n1").as("n_a"), col("n2").as("n_b"),
      round((col("s1").cast("double") / col("n1").cast("double")
        - col("s2").cast("double") / col("n2").cast("double"))
        / sqrt(se1 + se2), 6).as("t_stat"),
      round((se1 + se2) * (se1 + se2)
        / (se1 * se1 / (col("n1") - 1L).cast("double")
          + se2 * se2 / (col("n2") - 1L).cast("double")), 6).as("df"))
  }

  /** DuckDB oracle for [[welchT]]. */
  def welchTSql: String = {
    def se(n: String, sv: String, q: String): String =
      s"(((CAST(CAST($n AS HUGEINT) * $q - CAST($sv AS HUGEINT) * $sv" +
        s" AS DOUBLE) / CAST($n AS DOUBLE)) / CAST($n - 1 AS DOUBLE))" +
        s" / CAST($n AS DOUBLE))"
    val se1 = se("n1", "s1", "q1"); val se2 = se("n2", "s2", "q2")
    s"""WITH v AS (
       |  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v,
       |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
       |      AS g1
       |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
       |st AS (SELECT
       |    CAST(SUM(g1) AS BIGINT) AS n1,
       |    CAST(SUM(1 - g1) AS BIGINT) AS n2,
       |    CAST(SUM(CASE WHEN g1 = 1 THEN v ELSE 0 END) AS BIGINT)
       |      AS s1,
       |    CAST(SUM(CASE WHEN g1 = 0 THEN v ELSE 0 END) AS BIGINT)
       |      AS s2,
       |    SUM(CASE WHEN g1 = 1 THEN CAST(v AS HUGEINT) * v
       |      ELSE CAST(0 AS HUGEINT) END) AS q1,
       |    SUM(CASE WHEN g1 = 0 THEN CAST(v AS HUGEINT) * v
       |      ELSE CAST(0 AS HUGEINT) END) AS q2
       |  FROM v)
       |SELECT n1 AS n_a, n2 AS n_b,
       |  round((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
       |    - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
       |    / sqrt($se1 + $se2), 6) AS t_stat,
       |  round(($se1 + $se2) * ($se1 + $se2)
       |    / ($se1 * $se1 / CAST(n1 - 1 AS DOUBLE)
       |      + $se2 * $se2 / CAST(n2 - 1 AS DOUBLE)), 6) AS df
       |FROM st""".stripMargin
  }

  /** Cramér's V effect size for the lang x source association —
    * chi-square (q135) rescaled into the interpretable [0, 1] range,
    * V = sqrt(chi2 / (n · min(r-1, c-1))) — the number an analyst
    * actually compares across tables. Same cut cells, marginals,
    * and ordered chi2 fold as q135; one extra exact division under a
    * correctly-rounded sqrt. */
  def cramersV(s: SparkSession, d: String): DataFrame = {
    val cells = GraftSession.cut(Tables.documents(s, d)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("o")))
    val rowT = cells.groupBy(col("lang")).agg(sum(col("o")).as("r"))
    val colT = cells.groupBy(col("source")).agg(sum(col("o")).as("c"))
    val nT = cells.agg(sum(col("o")).as("n"))
    val dims = rowT.agg(count(lit(1)).as("nr"))
      .crossJoin(colT.agg(count(lit(1)).as("nc")))
      .select(least(col("nr") - 1, col("nc") - 1).as("dmin"))
    cells
      .join(broadcast(rowT), "lang")
      .join(broadcast(colT), "source")
      .crossJoin(broadcast(nT))
      .withColumn("dev",
        col("o").cast("double") * col("n").cast("double")
          - col("r").cast("double") * col("c").cast("double"))
      .withColumn("term", col("dev") * col("dev")
        / (col("n").cast("double") * col("r").cast("double")
          * col("c").cast("double")))
      .agg(max(col("n")).as("n"),
        expr("aggregate(sort_array(collect_list(" +
          "struct(lang, source, term))), CAST(0.0 AS DOUBLE), " +
          "(acc, x) -> acc + x.term)").as("chi2"))
      .crossJoin(broadcast(dims))
      .select(col("n").as("n_docs"), col("dmin").as("dof_min"),
        round(sqrt(col("chi2")
          / (col("n").cast("double") * col("dmin").cast("double"))), 6)
          .as("cramers_v"))
  }

  /** DuckDB oracle for [[cramersV]]. */
  def cramersVSql: String =
    """WITH cells AS (SELECT lang, source, COUNT(*) AS o
      |               FROM documents GROUP BY 1, 2),
      |rt AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS r
      |       FROM cells GROUP BY 1),
      |ct AS (SELECT source, CAST(SUM(o) AS BIGINT) AS c
      |       FROM cells GROUP BY 1),
      |nt AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
      |dims AS (SELECT least((SELECT COUNT(*) FROM rt) - 1,
      |                      (SELECT COUNT(*) FROM ct) - 1) AS dmin),
      |t AS (SELECT lang, source,
      |        (CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
      |          - CAST(r AS DOUBLE) * CAST(c AS DOUBLE)) AS dev,
      |        CAST(n AS DOUBLE) * CAST(r AS DOUBLE)
      |          * CAST(c AS DOUBLE) AS denom,
      |        n
      |      FROM cells JOIN rt USING (lang) JOIN ct USING (source)
      |      CROSS JOIN nt)
      |SELECT CAST(max(n) AS BIGINT) AS n_docs,
      |  CAST(dmin AS BIGINT) AS dof_min,
      |  round(sqrt(list_reduce(list(dev * dev / denom
      |      ORDER BY lang, source), (acc, x) -> acc + x)
      |    / (CAST(max(n) AS DOUBLE) * CAST(dmin AS DOUBLE))), 6)
      |    AS cramers_v
      |FROM t CROSS JOIN dims
      |GROUP BY dmin""".stripMargin

  /** DuckDB oracle for [[rfmSegments]]. */
  def rfmSegmentsSql: String =
    """WITH base AS (
      |  SELECT o_custkey,
      |    CAST(epoch_us(MAX(o_orderdate)) AS BIGINT) AS rec,
      |    COUNT(*) AS freq,
      |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
      |      AS BIGINT) AS mon
      |  FROM orders GROUP BY 1),
      |t AS (SELECT
      |    ntile(5) OVER (ORDER BY rec, o_custkey) AS r_q,
      |    ntile(5) OVER (ORDER BY freq, o_custkey) AS f_q,
      |    ntile(5) OVER (ORDER BY mon, o_custkey) AS m_q
      |  FROM base)
      |SELECT r_q, f_q, m_q, COUNT(*) AS n_customers
      |FROM t GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** Per-event-type population skewness and excess kurtosis of the
    * event value (q266) — the higher-moments profile the rest of the
    * stats family stops short of (mean/variance ride q170/q172's
    * sufficient statistics; this extends the same device to third and
    * fourth powers). A symmetric value distribution has skewness 0,
    * a Gaussian has excess kurtosis 0, and a curation gate watching
    * either drift is how heavy-tailed corruption (a stuck sensor, a
    * bot spamming one value) shows up before a mean ever moves.
    *
    * All five power sums are exact: n in BIGINT, Σv…Σv⁴ in
    * DECIMAL(38,0) (HUGEINT in the oracle) over cent-quantized
    * values, so map-side combine at any partitioning is bit-exact.
    * With |v| ≤ 10^6 cents, Σv⁴ stays within DECIMAL(38,0)'s
    * 10^38 − 1 max below 10^14 rows per group (at exactly 10^14
    * worst-case rows the sum reaches 10^38 and non-ANSI Spark yields
    * NULL — an overflow that surfaces as a null row, never a wrong
    * value) — comfortably past a 100 TB event stream. The float
    * finish (central moments from raw moments, then m₃/m₂^1.5 and
    * m₄/m₂² − 3) is written as the identical expression tree on both
    * engines, the q170 discipline, so the rows hash-match; a
    * degenerate group (constant value → m₂ ≤ 0, where the engines'
    * 0/0 and sqrt(−ε) behaviors diverge) yields NULL shape stats via
    * an explicit m₂ > 0 gate mirrored in the oracle. One scan, one
    * 5-sum aggregate per type — state is types × 5 numbers. */
  def valueMoments(s: SparkSession, d: String): DataFrame = {
    val dec = "decimal(38,0)"
    val v = round(col("value") * 100, 0).cast("long")
    val st = Tables.events(s, d)
      .select(col("event_type"), v.as("v"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v").cast(dec)).as("s1"),
        sum(col("v").cast(dec) * col("v")).as("s2"),
        sum(col("v").cast(dec) * col("v") * col("v")).as("s3"),
        sum(col("v").cast(dec) * col("v") * col("v") * col("v"))
          .as("s4"))
    val n = col("n").cast("double")
    val mean = col("s1").cast("double") / n
    val m2 = col("s2").cast("double") / n - mean * mean
    val m3 = col("s3").cast("double") / n -
      lit(3.0) * mean * (col("s2").cast("double") / n) +
      lit(2.0) * mean * mean * mean
    val m4 = col("s4").cast("double") / n -
      lit(4.0) * mean * (col("s3").cast("double") / n) +
      lit(6.0) * mean * mean * (col("s2").cast("double") / n) -
      lit(3.0) * mean * mean * mean * mean
    st.select(col("event_type"), col("n").as("n_events"),
        round(mean, 6).as("mean_cents"),
        round(m2, 6).as("var_pop"),
        when(m2 > 0, round(m3 / (m2 * sqrt(m2)), 6)).as("skewness"),
        when(m2 > 0, round(m4 / (m2 * m2) - lit(3.0), 6))
          .as("kurtosis_ex"))
      .orderBy(col("event_type"))
  }

  /** DuckDB oracle for [[valueMoments]]: the same exact power sums in
    * HUGEINT and the identical central-moment float tree. */
  def valueMomentsSql: String =
    """WITH st AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    SUM(CAST(v AS HUGEINT)) AS s1,
      |    SUM(CAST(v AS HUGEINT) * v) AS s2,
      |    SUM(CAST(v AS HUGEINT) * v * v) AS s3,
      |    SUM(CAST(v AS HUGEINT) * v * v * v) AS s4
      |  FROM (SELECT event_type,
      |      CAST(round(value * 100, 0) AS BIGINT) AS v FROM events)
      |  GROUP BY event_type),
      |m AS (SELECT event_type, n, s1,
      |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
      |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
      |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
      |    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
      |  FROM st),
      |c AS (SELECT event_type, n, mean,
      |    r2 - mean * mean AS m2,
      |    r3 - 3.0 * mean * r2 + 2.0 * mean * mean * mean AS m3,
      |    r4 - 4.0 * mean * r3 + 6.0 * mean * mean * r2
      |      - 3.0 * mean * mean * mean * mean AS m4
      |  FROM m)
      |SELECT event_type, n AS n_events,
      |  round(mean, 6) AS mean_cents,
      |  round(m2, 6) AS var_pop,
      |  CASE WHEN m2 > 0 THEN round(m3 / (m2 * sqrt(m2)), 6) END
      |    AS skewness,
      |  CASE WHEN m2 > 0 THEN round(m4 / (m2 * m2) - 3.0, 6) END
      |    AS kurtosis_ex
      |FROM c ORDER BY event_type""".stripMargin
}
