package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Mergeable frequency sketches for corpus statistics at scales where
  * an exact `groupBy(term)` is its own shuffle of the vocabulary —
  * billions of distinct raw-web tokens. The exact operators in
  * [[TextOps]] stay the small-scale reference; these are the
  * documented swap, implemented.
  */
object Sketches {

  /** Misra-Gries heavy-hitters summary: at most `k` counters with the
    * classic guarantees — every item with true frequency > N/k is
    * retained, and each kept counter underestimates its true count by
    * at most N/k (N = stream length). Crucially the summary is
    * MERGEABLE with the same bound (Agarwal et al., "Mergeable
    * Summaries", PODS'12): merging sums counters and subtracts the
    * (k+1)-largest value, so it runs as a standard two-phase Spark
    * aggregation — map-side partial summaries, one tiny shuffle of
    * k-entry maps, never a vocabulary-wide exchange.
    */
  class MisraGriesOf[I](k: Int, term: I => String)
      extends Aggregator[I, Map[String, Long], Seq[(String, Long)]] {
    require(k > 0, "MisraGries needs k > 0")

    def zero: Map[String, Long] = Map.empty

    def reduce(m: Map[String, Long], in: I): Map[String, Long] = {
      val x = term(in)
      m.get(x) match {
        case Some(c) => m.updated(x, c + 1L)
        case None if m.size < k => m.updated(x, 1L)
        case None =>
          // decrement-all; drop zeros (amortized O(1) decrements per
          // insertion — each decrement pays back an earlier increment)
          m.flatMap { case (t, c) =>
            if (c > 1L) Some(t -> (c - 1L)) else None
          }
      }
    }

    def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] = {
      val sum = b.foldLeft(a) { case (m, (t, c)) =>
        m.updated(t, m.getOrElse(t, 0L) + c)
      }
      if (sum.size <= k) sum
      else {
        // subtract the (k+1)-largest counter from everything; at most
        // k survive, preserving the N/k error bound
        val cut = sum.values.toSeq.sortBy(-_).apply(k)
        sum.flatMap { case (t, c) =>
          if (c > cut) Some(t -> (c - cut)) else None
        }
      }
    }

    def finish(m: Map[String, Long]): Seq[(String, Long)] =
      m.toSeq.sortBy { case (t, c) => (-c, t) }

    def bufferEncoder: Encoder[Map[String, Long]] =
      Encoders.kryo[Map[String, Long]]
    def outputEncoder: Encoder[Seq[(String, Long)]] =
      Encoders.kryo[Seq[(String, Long)]]
  }

  /** String-column form of [[MisraGriesOf]]. */
  final class MisraGries(k: Int) extends MisraGriesOf[String](k, identity)

  /** Approximate heavy hitters over a string column: one pass, one
    * k-bounded shuffle. Output: (term, est_count) with est_count in
    * [true - N/k, true]; every term with true count > N/k present. */
  def approxHeavyHitters(df: DataFrame, column: Column,
      k: Int): Seq[(String, Long)] = {
    import df.sparkSession.implicits._
    df.select(column.cast("string").as("t"))
      .na.drop().as[String]
      .select(new MisraGries(k).toColumn)
      .head()
  }

  // ------------------------------------------------------ Count-Min

  /** Row hash shared by [[CountMinAgg]] and [[cmsEstimateQuery]] (and
    * mirrored in the q92 DuckDB oracle): the first 8 hex nibbles of
    * md5("j|term") as a non-negative long in [0, 2^32). */
  private[graft] def md5Hash32(seed: Int, term: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest((s"$seed|" + term).getBytes("UTF-8"))
    ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
      ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
  }

  /** Column form of [[md5Hash32]] mod `width` — one codegen'd base-16
    * parse, value-identical to [[graft.ops.Curation]]'s md5 draws. */
  private[graft] def md5BucketCol(seed: Int, term: Column,
      width: Int): Column =
    pmod(conv(substring(md5(concat(lit(s"$seed|"), term)), 1, 8), 16, 10)
      .cast("long"), lit(width.toLong))

  /** Count-Min sketch as a typed Aggregator: the buffer is the flat
    * depth x width counter matrix, reduce increments one cell per row
    * (row j addressed by [[md5Hash32]](j, term)), merge is cell-wise
    * addition — the mergeable-summary shape of [[MisraGriesOf]] with
    * the opposite error sign: a point estimate (min over rows,
    * [[cmEstimate]]) is NEVER below the true count, and exceeds it by
    * more than 2N/width with probability < 2^-depth (Cormode &
    * Muthukrishnan 2005). Map-side partial matrices, one fixed-size
    * shuffle, never a vocabulary-wide exchange. */
  class CountMinAgg[I](depth: Int, width: Int, term: I => String)
      extends Aggregator[I, Array[Long], Array[Long]] {
    require(depth > 0 && width > 0, "CountMin needs depth, width > 0")
    def zero: Array[Long] = new Array[Long](depth * width)
    def reduce(m: Array[Long], in: I): Array[Long] = {
      val t = term(in)
      var j = 0
      while (j < depth) {
        m(j * width + (md5Hash32(j, t) % width).toInt) += 1L
        j += 1
      }
      m
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    def finish(m: Array[Long]): Array[Long] = m
    def bufferEncoder: Encoder[Array[Long]] = Encoders.kryo[Array[Long]]
    def outputEncoder: Encoder[Array[Long]] = Encoders.kryo[Array[Long]]
  }

  /** Point estimate from a finished [[CountMinAgg]] matrix. */
  def cmEstimate(matrix: Array[Long], depth: Int, width: Int,
      term: String): Long = {
    var best = Long.MaxValue
    var j = 0
    while (j < depth) {
      val c = matrix(j * width + (md5Hash32(j, term) % width).toInt)
      if (c < best) best = c
      j += 1
    }
    best
  }

  /** Driver-checkable CMS estimates: frequencies of the exact top-k
    * terms read back from the Count-Min matrix, next to their exact
    * counts. The matrix is computed RELATIONALLY here — term counts
    * first, then one (j, bucket) aggregation over the vocabulary with
    * map-side combine, depth x width output rows, broadcast for the
    * probe join — with the same [[md5Hash32]] row
    * hashes as the Aggregator (cross-checked in SketchesSpec), so the
    * DuckDB oracle reproduces every cell and estimate bit-for-bit.
    * CMS's defining one-sided error (n_cms >= n_exact, always) is
    * thereby hash-checked, not just property-tested. */
  def cmsEstimatesOf(docs: DataFrame, textCol: String, depth: Int,
      width: Int, k: Int): DataFrame = {
    val toks = docs.select(explode(split(col(textCol), " ")).as("term"))
    def withBuckets(df: DataFrame): DataFrame =
      df.select(df.columns.map(col).toIndexedSeq :+
        posexplode(array((0 until depth).map(j =>
          md5BucketCol(j, col("term"), width)): _*)).as(Seq("j", "bucket")): _*)
    // hash each DISTINCT term once and weight by its count: the cells
    // are identical to hashing every occurrence, but the depth md5s run
    // at vocabulary cost, not corpus cost
    val termCounts = toks.groupBy(col("term")).agg(count(lit(1)).as("n_exact"))
    val matrix = withBuckets(termCounts).groupBy(col("j"), col("bucket"))
      .agg(sum(col("n_exact")).as("c"))
    val top = termCounts
      .orderBy(col("n_exact").desc, col("term")).limit(k)
    withBuckets(top).join(broadcast(matrix), Seq("j", "bucket"))
      .groupBy(col("term"), col("n_exact"))
      .agg(min(col("c")).as("n_cms"))
      .orderBy(col("n_exact").desc, col("term"))
  }

  /** [[cmsEstimatesOf]] over the documents table (q92). */
  def cmsEstimateQuery(s: SparkSession, d: String, depth: Int = 4,
      width: Int = 256, k: Int = 20): DataFrame =
    cmsEstimatesOf(graft.Tables.documents(s, d), "text", depth, width, k)

  /** q94: HyperLogLog++ distinct count next to the exact count. At
    * corpus scale "how many distinct URLs / documents" is a shuffle of
    * the whole key space done exactly; `approx_count_distinct`
    * (Spark's codegen'd HLL++) ships a fixed-size sketch per partition
    * instead and merges on the driver side of the aggregation. The
    * query emits the exact count plus the approx/exact ratio rounded
    * to one decimal — at rsd 0.01 the estimate sits within a fraction
    * of a percent, so the oracle pins the ratio to literally 1.0: the
    * gate hash-checks the accuracy bound, not a platform-specific
    * sketch encoding. */
  def hllDistinctQuery(s: SparkSession, d: String,
      rsd: Double = 0.01): DataFrame =
    graft.Tables.orders(s, d)
      .agg(countDistinct(col("o_custkey")).cast("long").as("n_exact"),
        approx_count_distinct(col("o_custkey"), rsd).as("n_approx"))
      .select(col("n_exact"),
        round(col("n_approx").cast("double") / col("n_exact"), 1)
          .as("hll_ratio"))

  /** Quantile sketch by deterministic bottom-k sampling, reported
    * estimate-beside-exact (the q121 KMV device applied to ranks):
    * the k rows with the smallest md5-fraction draws form a uniform —
    * and, because the draw is a hash of the row id, REPRODUCIBLE —
    * sample whose order statistics estimate the population quantiles
    * with O(1/sqrt(k)) error; the same md5 nibbles decode in DuckDB,
    * so unlike an opaque t-digest the whole sketch is hash-checkable.
    * Scale shape: the sample is TakeOrderedAndProject (per-partition
    * top-k, merged on the driver — no global sort); the EXACT
    * quantiles come from a [[Profiling.prefixSum]] over the value
    * marginal (distinct cents, not rows, cross the shuffle); every
    * rank boundary is exact integer ceil arithmetic.
    * One row: n, k, exact and estimated p50/p90/p99 in cents. */
  def quantileSketch(s: SparkSession, d: String,
      k: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val step = 1048576L
    val vals = graft.Tables.orders(s, d)
      .select(col("o_orderkey").as("id"),
        round(col("o_totalprice") * 100, 0).cast("long").as("v"))
    // deterministic uniform sample: k smallest md5 draws
    val sample = vals.withColumn("fr", Curation.md5Frac32(col("id")))
      .orderBy(col("fr"), col("id")).limit(k)
    val wS = Window.orderBy(col("v"), col("id"))
    val est = sample.withColumn("rn", row_number().over(wS))
      .agg(
        max(when(col("rn") === math.ceil(0.50 * k).toInt, col("v")))
          .as("p50_est"),
        max(when(col("rn") === math.ceil(0.90 * k).toInt, col("v")))
          .as("p90_est"),
        max(when(col("rn") === math.ceil(0.99 * k).toInt, col("v")))
          .as("p99_est"))
    // exact quantiles: cumulative counts over the value marginal;
    // cut: the marginal feeds offsets, the total, and the rank pass —
    // with the sample's own TakeOrdered scan that is two orders scans
    // total for the whole query
    val marg = graft.GraftSession.cut(
      vals.groupBy(col("v")).agg(count(lit(1)).as("c"))
        .withColumn("sub", expr(s"v DIV $step")))
    val tot = marg.agg(sum(col("c")).as("n"))
    // ceil(q·n) as exact integer arithmetic: (n·qnum + qden-1) DIV qden
    def rank(qn: Int, qd: Int): Column =
      expr(s"(n * $qn + ${qd - 1}) DIV $qd")
    val exact = Profiling.prefixSum(marg, "sub", Seq(col("v")),
        Seq(col("c") -> "cum"), inclusive = true)
      .crossJoin(broadcast(tot))
      .agg(max(col("n")).as("n_rows"),
        min(when(col("cum") >= rank(1, 2), col("v"))).as("p50_exact"),
        min(when(col("cum") >= rank(9, 10), col("v"))).as("p90_exact"),
        min(when(col("cum") >= rank(99, 100), col("v")))
          .as("p99_exact"))
    exact.crossJoin(est)
      .select(col("n_rows"), lit(k).as("k"),
        col("p50_exact"), col("p50_est"),
        col("p90_exact"), col("p90_est"),
        col("p99_exact"), col("p99_est"))
  }

  /** DuckDB oracle for [[quantileSketch]]. */
  def quantileSketchSql(k: Int = 256): String = {
    val nibbleSum = Curation.md5NibbleSumSql
    def r(qn: Int, qd: Int) = s"(n * $qn + ${qd - 1}) // $qd"
    s"""WITH vals AS (SELECT o_orderkey AS id,
       |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v
       |  FROM orders),
       |f AS (SELECT id, v,
       |    CAST(($nibbleSum) AS DOUBLE) / 4294967296.0 AS fr
       |  FROM (SELECT id, v, md5(CAST(id AS VARCHAR)) AS h FROM vals)),
       |smp AS (SELECT v, id FROM f ORDER BY fr, id LIMIT $k),
       |sr AS (SELECT v,
       |    row_number() OVER (ORDER BY v, id) AS rn FROM smp),
       |marg AS (SELECT v, COUNT(*) AS c FROM vals GROUP BY 1),
       |cum AS (SELECT v, CAST(SUM(c) OVER (ORDER BY v
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    AS BIGINT) AS cum FROM marg),
       |tot AS (SELECT COUNT(*) AS n FROM vals)
       |SELECT n AS n_rows, $k AS k,
       |  (SELECT MIN(v) FROM cum, tot WHERE cum >= ${r(1, 2)})
       |    AS p50_exact,
       |  (SELECT MAX(CASE WHEN rn = ${math.ceil(0.50 * k).toInt}
       |    THEN v END) FROM sr) AS p50_est,
       |  (SELECT MIN(v) FROM cum, tot WHERE cum >= ${r(9, 10)})
       |    AS p90_exact,
       |  (SELECT MAX(CASE WHEN rn = ${math.ceil(0.90 * k).toInt}
       |    THEN v END) FROM sr) AS p90_est,
       |  (SELECT MIN(v) FROM cum, tot WHERE cum >= ${r(99, 100)})
       |    AS p99_exact,
       |  (SELECT MAX(CASE WHEN rn = ${math.ceil(0.99 * k).toInt}
       |    THEN v END) FROM sr) AS p99_est
       |FROM tot""".stripMargin
  }

  /** KMV set-operation estimates: per-source-pair vocabulary overlap
    * from k-minimum-values sketches — the mergeable-sketch answer to
    * "how much do these two crawls' vocabularies overlap" when the
    * vocabularies are billions of tokens and an exact pair join is a
    * corpus-sized shuffle. Per source, the sketch is the bottom-`k`
    * token md5-fractions; for a pair, the merged bottom-k of the
    * union K is computable from the two sketches alone, and
    * ρ = |K ∩ A ∩ B| / |K| is the standard unbiased Jaccard estimate
    * (Beyer et al., SIGMOD'07). The EXACT jaccard rides along as the
    * reference column — at sketch scale you would drop it; here it
    * makes the estimate's error visible and the oracle exact. Every
    * value is md5-deterministic, so both engines compute bit-equal
    * sketches. Scale shape: sketches are k rows per source (window
    * over per-source tokens, vocabulary-sized input, k-sized output);
    * pair work runs on sketch rows only. */
  def kmvSourceJaccard(s: SparkSession, d: String,
      k: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = graft.Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("t"))
      .distinct()
    val fr = toks.withColumn("fr", Curation.md5Frac32(col("t")))
    val wSrc = Window.partitionBy(col("source")).orderBy(col("fr"), col("t"))
    val sk = graft.GraftSession.cut(
      fr.withColumn("rn", row_number().over(wSrc))
        .filter(col("rn") <= k).drop("rn"))
    val srcs = sk.select(col("source")).distinct()
    val pairs = srcs.select(col("source").as("sa"))
      .crossJoin(srcs.select(col("source").as("sb")))
      .filter(col("sa") < col("sb"))
    val skA = sk.select(col("source").as("sa"), col("t"), col("fr"))
    val skB = sk.select(col("source").as("sb"), col("t"), col("fr"))
    // merged bottom-k of the union, from the two sketches only
    val wPair = Window.partitionBy(col("sa"), col("sb"))
      .orderBy(col("fr"), col("t"))
    val merged = pairs.join(skA, Seq("sa"))
      .select(col("sa"), col("sb"), col("t"), col("fr"))
      .unionAll(pairs.join(skB, Seq("sb"))
        .select(col("sa"), col("sb"), col("t"), col("fr")))
      .distinct()
      .withColumn("rn", row_number().over(wPair))
      .filter(col("rn") <= k)
    val est = merged
      .join(skA.select(col("sa"), col("t"), lit(1L).as("in_a")),
        Seq("sa", "t"), "left")
      .join(skB.select(col("sb"), col("t"), lit(1L).as("in_b")),
        Seq("sb", "t"), "left")
      .groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("n_merged"),
        coalesce(sum(col("in_a") * col("in_b")), lit(0L)).as("n_shared"))
    // exact reference: full vocabulary pair join
    val sizes = toks.groupBy(col("source")).agg(count(lit(1)).as("nv"))
    val inter = toks.select(col("source").as("sa"), col("t"))
      .join(toks.select(col("source").as("sb"), col("t")), "t")
      .filter(col("sa") < col("sb"))
      .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("ninter"))
    est
      .join(inter, Seq("sa", "sb"), "left")
      .join(sizes.select(col("source").as("sa"), col("nv").as("na")), "sa")
      .join(sizes.select(col("source").as("sb"), col("nv").as("nb")), "sb")
      .select(col("sa").as("source_a"), col("sb").as("source_b"),
        round(col("n_shared").cast("double")
          / col("n_merged").cast("double"), 6).as("jaccard_kmv"),
        round(coalesce(col("ninter"), lit(0L)).cast("double")
          / (col("na") + col("nb") - coalesce(col("ninter"), lit(0L)))
            .cast("double"), 6).as("jaccard_exact"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** DuckDB oracle for [[kmvSourceJaccard]]: the same md5-fraction
    * sketches via QUALIFY row_number. */
  def kmvSourceJaccardSql(k: Int = 64): String = {
    val nibbleSum = Curation.md5NibbleSumSql
    s"""WITH toks AS (SELECT DISTINCT source,
       |    unnest(string_split(text, ' ')) AS t FROM documents),
       |f AS (SELECT source, t,
       |        CAST(($nibbleSum) AS DOUBLE) / 4294967296.0 AS fr
       |      FROM (SELECT source, t, md5(t) AS h FROM toks)),
       |sk AS (SELECT source, t, fr FROM f
       |       QUALIFY row_number() OVER (
       |         PARTITION BY source ORDER BY fr, t) <= $k),
       |srcs AS (SELECT DISTINCT source FROM sk),
       |pairs AS (SELECT a.source AS sa, b.source AS sb
       |          FROM srcs a JOIN srcs b ON a.source < b.source),
       |m0 AS (SELECT DISTINCT sa, sb, t, fr FROM (
       |    SELECT p.sa, p.sb, s.t, s.fr FROM pairs p
       |    JOIN sk s ON s.source = p.sa
       |    UNION ALL
       |    SELECT p.sa, p.sb, s.t, s.fr FROM pairs p
       |    JOIN sk s ON s.source = p.sb)),
       |merged AS (SELECT sa, sb, t FROM m0
       |           QUALIFY row_number() OVER (
       |             PARTITION BY sa, sb ORDER BY fr, t) <= $k),
       |est AS (SELECT m.sa, m.sb, COUNT(*) AS n_merged,
       |    COALESCE(SUM(CASE WHEN a.t IS NOT NULL AND b.t IS NOT NULL
       |      THEN 1 ELSE 0 END), 0) AS n_shared
       |  FROM merged m
       |  LEFT JOIN sk a ON a.source = m.sa AND a.t = m.t
       |  LEFT JOIN sk b ON b.source = m.sb AND b.t = m.t
       |  GROUP BY m.sa, m.sb),
       |sizes AS (SELECT source, COUNT(*) AS nv FROM toks GROUP BY source),
       |inter AS (SELECT a.source AS sa, b.source AS sb, COUNT(*) AS ninter
       |  FROM toks a JOIN toks b ON a.t = b.t AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT est.sa AS source_a, est.sb AS source_b,
       |  round(CAST(n_shared AS DOUBLE) / CAST(n_merged AS DOUBLE), 6)
       |    AS jaccard_kmv,
       |  round(CAST(COALESCE(ninter, 0) AS DOUBLE)
       |    / CAST(na.nv + nb.nv - COALESCE(ninter, 0) AS DOUBLE), 6)
       |    AS jaccard_exact
       |FROM est
       |LEFT JOIN inter ON inter.sa = est.sa AND inter.sb = est.sb
       |JOIN sizes na ON na.source = est.sa
       |JOIN sizes nb ON nb.source = est.sb
       |ORDER BY source_a, source_b""".stripMargin
  }

  /** Per-group heavy hitters: one MG summary per key — per-language /
    * per-source frequent terms with per-stratum N_g/k bounds. Shuffle
    * volume is k counters per GROUP, never the vocabulary. */
  def approxHeavyHittersByKey(df: DataFrame, keyCol: Column,
      termCol: Column, k: Int): DataFrame = {
    import df.sparkSession.implicits._
    df.select(keyCol.cast("string").as("k"),
        termCol.cast("string").as("t"))
      .na.drop().as[(String, String)]
      .groupByKey(_._1)
      .agg(new MisraGriesOf[(String, String)](k, _._2).toColumn)
      .flatMap { case (key, hh) =>
        hh.map { case (t, c) => (key, t, c) }
      }
      .toDF("key", "term", "est_count")
  }

  /** Mergeable bottom-k by (score, id) ascending — the KMV sketch's
    * own state. This is the scalable replacement for a rank window
    * whose rank is CONSUMED WITHOUT a `rank <= k` filter (the
    * [[graft.ops.EventAnalytics.kmvDistinct]] `max(when(rn === k))`
    * shape): Catalyst's InferWindowGroupLimit only fires on the
    * filter pattern, so a filterless rank window really does funnel
    * every row of a group (all distinct users of an event type)
    * through one task's sort, where this Aggregator reduces to
    * k-entry partial buffers map-side. Selection and tie-break are
    * identical to `row_number().over(partitionBy(g).orderBy(score,
    * id))`, so swapping the device cannot move a hash. */
  class BottomKScored(k: Int)
      extends Aggregator[Scored, Seq[Scored], Seq[Scored]] {
    require(k >= 1, "k must be positive")
    private def trim(l: Seq[Scored]): Seq[Scored] =
      l.sortBy(s => (s.score, s.id)).take(k)
    /** Binary insert into the sorted buffer — O(log k + k) per
      * sub-floor row instead of trim's O(k log k) resort, equivalent
      * to `trim(a +: b)` on a sorted b: the insertion point is the
      * first entry >= (score, id), so ties order identically to the
      * stable sortBy with `a` prepended. */
    private def insertSorted(b: Seq[Scored], a: Scored): Seq[Scored] = {
      val arr = b.toIndexedSeq
      var lo = 0
      var hi = arr.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        val m = arr(mid)
        if (m.score < a.score ||
          (m.score == a.score && m.id < a.id)) lo = mid + 1
        else hi = mid
      }
      val (pre, post) = arr.splitAt(lo)
      ((pre :+ a) ++ post).take(k)
    }
    def zero: Seq[Scored] = Nil
    def reduce(b: Seq[Scored], a: Scored): Seq[Scored] =
      if (b.length >= k && {
        val floor = b.last
        a.score > floor.score || (a.score == floor.score && a.id > floor.id)
      }) b // above the current k-th entry: no insert needed
      else insertSorted(b, a)
    def merge(a: Seq[Scored], b: Seq[Scored]): Seq[Scored] = trim(a ++ b)
    def finish(r: Seq[Scored]): Seq[Scored] = r // invariant: trimmed+sorted
    def bufferEncoder: Encoder[Seq[Scored]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    def outputEncoder: Encoder[Seq[Scored]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }
}
