package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.Tables

/** A scored candidate flowing into [[Similarity.TopKByScore]]. */
case class Scored(id: Long, score: Double)

/** Similarity search over an embedding column (`ARRAY<FLOAT>`).
  *
  *  - Brute-force cosine top-k: the 1-query case broadcasts the query
  *    vector to every partition (1 x N, NOT a shuffled cross join) and
  *    reduces with TakeOrderedAndProject — linear scan, embarrassingly
  *    parallel, the exact baseline.
  *  - SRP-LSH (signed random projections): each vector is bucketed by
  *    the sign pattern of `numPlanes` fixed hyperplanes, per hash table.
  *    Queries only scan their own buckets — the scale path, where the
  *    bucket id becomes the partition key of the vector index.
  *
  * Vector math is done with zip_with/aggregate fold expressions in
  * double precision (deterministic element order -> reproducible
  * scores), inside whole-stage codegen.
  */
object Similarity {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Dot product of two ARRAY<numeric> columns, folded in order. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b,
      (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity (null-safe for zero vectors via nullif).
    * Interpreted fold formulation — the reference implementation the
    * native expression is tested against. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / nullif(l2Norm(a) * l2Norm(b), lit(0.0))

  /** Native codegen'd cosine ([[graft.expr.CosineSimilarity]]): one
    * array traversal, three accumulators, bit-identical to [[cosine]].
    * Registers the function on the session (idempotent) so the
    * expression resolves. */
  def nativeCosine(spark: SparkSession, a: Column, b: Column): Column = {
    graft.parse.GraftFunctions.register(spark)
    call_function("cosine_sim", a, b)
  }

  /** Mergeable bounded top-k by (score desc, id asc): the buffer is a
    * trimmed sorted list capped at k, so map-side partial aggregation
    * keeps per-partition state at k entries and a batch kNN join
    * shuffles only queries x partitions x k rows — the scale-correct
    * alternative to a full per-query window sort, whose shuffle carries
    * every candidate row. Deterministic tie-break on id keeps the
    * result oracle-exact. */
  class TopKByScore(k: Int)
      extends Aggregator[Scored, Seq[Scored], Seq[Scored]] {
    require(k >= 1, "k must be positive")
    private def trim(l: Seq[Scored]): Seq[Scored] =
      l.sortBy(s => (-s.score, s.id)).take(k)
    def zero: Seq[Scored] = Nil
    def reduce(b: Seq[Scored], a: Scored): Seq[Scored] =
      if (b.length >= k && {
        val floor = b.last
        a.score < floor.score || (a.score == floor.score && a.id > floor.id)
      }) b // below the current floor: no resort needed
      else trim(a +: b)
    def merge(a: Seq[Scored], b: Seq[Scored]): Seq[Scored] = trim(a ++ b)
    def finish(r: Seq[Scored]): Seq[Scored] = r // invariant: trimmed+sorted
    def bufferEncoder: Encoder[Seq[Scored]] = ExpressionEncoder()
    def outputEncoder: Encoder[Seq[Scored]] = ExpressionEncoder()
  }

  /** Batch kNN join: top-k cosine neighbors for EVERY query vector in a
    * set (here the first `numQueries` ids), in one pass over the corpus —
    * the shape of "screen the eval set against the training corpus".
    * The query side is broadcast (queries x corpus, no shuffle of the
    * corpus); candidates reduce through [[TopKByScore]] partials, so the
    * one shuffle moves only bounded top-k state per partition. Oracled
    * vs a DuckDB cross-join + row_number window. */
  def knnJoin(s: SparkSession, d: String, numQueries: Int = 20,
      k: Int = 3): DataFrame =
    knnJoinOf(Tables.embeddings(s, d), numQueries, k)

  /** [[knnJoin]] over an explicit (vec_id, embedding) corpus. */
  def knnJoinOf(emb: DataFrame, numQueries: Int, k: Int): DataFrame = {
    val s = emb.sparkSession
    // vec_id is the unique key, so the range filter yields at most
    // numQueries rows; the limit restates that bound IN the plan, so
    // the broadcast below is provably fixed-size to any plan audit
    val queries = emb.filter(col("vec_id") < numQueries).limit(numQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
    val topk = udaf(new TopKByScore(k), ExpressionEncoder[Scored]())
    emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(nativeCosine(s, col("embedding"), col("q_embedding")), 6)
          .as("cosine"))
      // cosine is NULL against a zero-norm vector (nullif); the typed
      // Scored buffer's primitive double cannot hold it, and the oracle's
      // ranking drops NULLs anyway — filter, don't crash
      .filter(col("cosine").isNotNull)
      .groupBy(col("q_id"))
      .agg(topk(col("vec_id"), col("cosine")).as("nn"))
      .select(col("q_id"), posexplode(col("nn")).as(Seq("pos", "nn")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("nn.id").as("vec_id"), col("nn.score").as("cosine"))
  }

  /** Hard-negative mining for contrastive training: for each anchor
    * (a deterministic 1-in-`sampleMod` id slice) the top-`k` most
    * cosine-similar corpus vectors carrying a DIFFERENT label — the
    * near-miss examples a contrastive or reranker objective learns
    * most from (same-label neighbors are positives, not negatives, so
    * they are filtered before ranking, not after — otherwise a hub of
    * same-label twins would silently eat the k slots). Same plan
    * family as [[knnJoinOf]]: anchors against one corpus pass through
    * the gated [[anchorCross]] (broadcast under the measured bound,
    * chunked passes above), bounded [[TopKByScore]] state, so the
    * shuffle carries anchors × partitions × k rows only. */
  def hardNegatives(s: SparkSession, d: String, sampleMod: Long = 25L,
      k: Int = 5): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), col("label"))
    val anchors = emb.filter(col("vec_id") % sampleMod === 0)
      .select(col("vec_id").as("a_id"), col("embedding").as("ae"),
        col("label").as("a_label"))
    val topk = udaf(new TopKByScore(k), ExpressionEncoder[Scored]())
    anchorCross(emb.select(col("vec_id"), col("embedding"), col("label")),
        anchors)
      .filter(col("label") =!= col("a_label"))
      .select(col("a_id"), col("vec_id"),
        round(nativeCosine(s, col("embedding"), col("ae")), 6)
          .as("cosine"))
      .filter(col("cosine").isNotNull)
      .groupBy(col("a_id"))
      .agg(topk(col("vec_id"), col("cosine")).as("nn"))
      .select(col("a_id"), posexplode(col("nn")).as(Seq("pos", "nn")))
      .select(col("a_id"), (col("pos") + 1).cast("long").as("rank"),
        col("nn.id").as("neg_id"), col("nn.score").as("cosine"))
      .orderBy(col("a_id"), col("rank"))
  }

  /** DuckDB oracle for [[hardNegatives]]: the q84 cosine device with
    * the cross-label filter before ranking. */
  def hardNegativesSql(sampleMod: Long = 25L, k: Int = 5): String =
    s"""WITH q AS (SELECT vec_id AS a_id, embedding AS ae,
       |             label AS a_label
       |           FROM embeddings WHERE vec_id % $sampleMod = 0),
       |p AS (SELECT q.a_id, e.vec_id, round(
       |    list_sum(list_transform(range(1, len(e.embedding) + 1),
       |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(ae[i] AS DOUBLE)))
       |    / nullif(
       |        sqrt(list_sum(list_transform(e.embedding,
       |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |        * sqrt(list_sum(list_transform(ae,
       |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))),
       |        CAST(0.0 AS DOUBLE)),
       |    6) AS cosine
       |  FROM embeddings e, q
       |  WHERE e.label <> q.a_label),
       |r AS (SELECT a_id, vec_id, cosine,
       |    row_number() OVER (PARTITION BY a_id
       |      ORDER BY cosine DESC, vec_id) AS rank
       |  FROM p WHERE cosine IS NOT NULL)
       |SELECT a_id, CAST(rank AS BIGINT) AS rank,
       |  vec_id AS neg_id, cosine
       |FROM r WHERE rank <= $k ORDER BY a_id, rank""".stripMargin

  /** Deterministic ±1 Johnson-Lindenstrauss sign matrix, seeded from
    * md5("jl|i|j") parity — pure driver-side arithmetic, embedded as
    * LITERALS in both engines' expressions (the [[hyperplanes]]
    * device), so neither engine needs an in-engine hash. */
  private[graft] def jlSigns(inDim: Int, outDim: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(inDim, outDim) { (i, j) =>
      val h = md.digest(s"jl|$i|$j".getBytes("UTF-8"))
      if ((h(0) & 1) == 0) 1.0 else -1.0
    }
  }

  /** Johnson-Lindenstrauss distortion audit: project the embeddings
    * through a deterministic ±1 sign matrix to `outDim` dims and
    * measure, over a deterministic anchor-pair sample, the ratio of
    * (projected squared distance / outDim) to the true squared
    * distance — for ±1 sign entries E[p_j²] = ‖d‖², so this
    * concentrates near 1, and the
    * spread you actually measure is the accuracy bill for running
    * downstream dedup/ANN at outDim/inDim of the vector cost. Pairs
    * are (id, id + sampleMod) anchor joins — no window, no self-join;
    * projections and distances fold in index order (each a
    * left-assoc chain, mirrored term-for-term in the oracle), and the
    * per-pair ratio is nano-quantized to BIGINT before the sum, so
    * mean/min/max are partition-order invariant and hash-exact. */
  def jlDistortion(s: SparkSession, d: String, outDim: Int = 16,
      sampleMod: Long = 7L): DataFrame = {
    val inDim = 64
    val w = jlSigns(inDim, outDim)
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val anchors = emb.filter(col("vec_id") % sampleMod === 0)
    val pairs = anchors.select(col("vec_id").as("a_id"),
        col("embedding").as("ea"))
      .join(anchors.select((col("vec_id") - sampleMod).as("a_id"),
        col("embedding").as("eb")), "a_id")
    // three explicit stages so every float op has one site, mirrored
    // term-for-term by the oracle's CTE chain: element diffs, then
    // sign-projected diffs (projection is linear, so projecting the
    // DIFF is the cheap and numerically identical formulation), then
    // the two squared norms. The diffs are one array and each sum is
    // one fold over it: as 64 diff and 16x64 term columns the stage's
    // generated method outgrew the JVM's 64 KB limit and fell back to
    // interpreted execution on every planning. Each fold starts from
    // its first term and adds the rest in index order, the oracle's
    // left-associated chain.
    def chain(terms: Column): Column =
      aggregate(slice(terms, 2, inDim - 1), element_at(terms, 1),
        (acc, t) => acc + t)
    val dd = pairs.select(col("a_id"), zip_with(col("ea"), col("eb"),
      (a, b) => a.cast("double") - b.cast("double")).as("d"))
    val pj = dd.select(col("a_id") +:
      ((0 until outDim).map { j =>
        chain(zip_with(col("d"), typedLit(w.map(_(j))),
          (x, sign) => x * sign)).as(s"p$j")
      } :+ chain(transform(col("d"), x => x * x)).as("st")): _*)
    pj
      .select(col("a_id"),
        (0 until outDim).map(j => col(s"p$j") * col(s"p$j"))
          .reduce(_ + _).as("sp"),
        col("st"))
      .filter(col("st") > 0.0)
      .select(col("a_id"),
        expr(s"CAST(round((sp / $outDim.0) / st * 1e9)" +
          " AS LONG)").as("rq"))
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("rq")).cast("double")
          / (count(lit(1)).cast("double") * 1e9), 6).as("mean_ratio"),
        round(min(col("rq")).cast("double") / 1e9, 6).as("min_ratio"),
        round(max(col("rq")).cast("double") / 1e9, 6).as("max_ratio"))
  }

  /** DuckDB oracle for [[jlDistortion]]: the same literal sign chains
    * term for term. */
  def jlDistortionSql(outDim: Int = 16, sampleMod: Long = 7L): String = {
    val inDim = 64
    val w = jlSigns(inDim, outDim)
    def el(e: String, i: Int) = s"CAST($e[${i + 1}] AS DOUBLE)"
    val diffs = (0 until inDim).map(i =>
      s"(${el("ea", i)} - ${el("eb", i)}) AS d$i").mkString(", ")
    val projs = (0 until outDim).map { j =>
      (0 until inDim).map(i => s"d$i * (${w(i)(j)})")
        .mkString("(", " + ", s") AS p$j")
    }.mkString(", ")
    val st = (0 until inDim).map(i => s"d$i * d$i")
      .mkString("(", " + ", ")")
    val sp = (0 until outDim).map(j => s"p$j * p$j")
      .mkString("(", " + ", ")")
    s"""WITH a AS (SELECT vec_id, embedding FROM embeddings
       |           WHERE vec_id % $sampleMod = 0),
       |p AS (SELECT x.vec_id AS a_id, x.embedding AS ea,
       |        y.embedding AS eb
       |      FROM a x JOIN a y ON y.vec_id = x.vec_id + $sampleMod),
       |dd AS (SELECT a_id, $diffs FROM p),
       |pj AS (SELECT a_id, $projs, $st AS st FROM dd),
       |r AS (SELECT a_id, $sp AS sp, st FROM pj),
       |q AS (SELECT a_id,
       |    CAST(round((sp / $outDim.0) / st * 1e9)
       |      AS BIGINT) AS rq
       |  FROM r WHERE st > 0.0)
       |SELECT COUNT(*) AS n_pairs,
       |  round(CAST(SUM(rq) AS DOUBLE)
       |    / (CAST(COUNT(*) AS DOUBLE) * 1e9), 6) AS mean_ratio,
       |  round(CAST(MIN(rq) AS DOUBLE) / 1e9, 6) AS min_ratio,
       |  round(CAST(MAX(rq) AS DOUBLE) / 1e9, 6) AS max_ratio
       |FROM q""".stripMargin
  }

  /** Maximal-marginal-relevance (MMR) diversified top-k retrieval
    * (Carbonell & Goldstein '98): greedily pick the result maximizing
    * λ·cos(q, c) − (1−λ)·max over already-selected s of cos(c, s) —
    * relevance minus redundancy, the standard fix for a result list
    * of k near-identical neighbors. Two distributed stages bound the
    * greedy part: the candidate POOL is the top-`poolSize` by query
    * cosine (one corpus scan, bounded [[TopKByScore]] state) and the
    * pool's pairwise cosine matrix is a poolSize² self-join — then
    * the k-step greedy argmax runs on that collected bounded matrix
    * (poolSize² rows, the same documented driver-side bound as the PQ
    * training sample: it NEVER grows with the corpus). Every cosine
    * is round-6 before scoring and λ arithmetic is fixed-
    * parenthesization doubles, so the oracle's unrolled selection
    * chain picks identical ids. */
  def mmrTopK(s: SparkSession, d: String, queryId: Long = 0L,
      k: Int = 5, lambda: Double = 0.7, poolSize: Int = 50): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val q = emb.filter(col("vec_id") === queryId).limit(1)
      .select(col("embedding").as("qe"))
    val pool = graft.GraftSession.cut(emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"),
        round(nativeCosine(s, col("embedding"), col("qe")), 6).as("cq"),
        col("embedding"))
      .filter(col("cq").isNotNull)
      // TakeOrderedAndProject: bounded top-poolSize, embedding kept
      // for the pair stage below
      .orderBy(col("cq").desc, col("vec_id")).limit(poolSize))
    val pairs = pool.select(col("vec_id").as("a"), col("cq").as("cqa"),
        col("embedding").as("ea"))
      .join(pool.select(col("vec_id").as("b"), col("embedding").as("eb")),
        col("a") =!= col("b"))
      .select(col("a"), col("cqa"), col("b"),
        round(nativeCosine(s, col("ea"), col("eb")), 6).as("cab"))
    // bounded collects: poolSize + poolSize^2 rows, corpus-independent.
    // cq comes from the POOL, not the pair join — a 0/1-vector pool
    // has no pairs but still has a (possibly empty) valid answer
    val cq = pool.select(col("vec_id"), col("cq")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val rows = pairs.collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getLong(2), r.getDouble(3)))
    val sim = rows.map(t => (t._1, t._3) -> t._4).toMap
    val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
    cq.toSeq.sortBy { case (id, c) => (-c, id) }.headOption
      .foreach(selected += _._1)
    while (selected.nonEmpty && selected.length < math.min(k, cq.size)) {
      val best = cq.keys.filterNot(selected.contains).map { c =>
        val ms = selected.map(sel => sim((c, sel))).max
        val score = lambda * cq(c) - (1.0 - lambda) * ms
        (c, score)
      }.toSeq.sortBy { case (id, sc) => (-sc, id) }.head._1
      selected += best
    }
    selected.toSeq.zipWithIndex
      .map { case (id, i) => ((i + 1).toLong, id, cq(id)) }
      .toDF("rank", "vec_id", "rel_cos")
  }

  /** DuckDB oracle for [[mmrTopK]]: the same pool and the k−1 greedy
    * steps unrolled, each a QUALIFY argmax over remaining candidates
    * with identical double arithmetic (explicit CAST(.. AS DOUBLE)
    * literals — DuckDB parses bare 0.7 as DECIMAL). */
  def mmrTopKSql(queryId: Long = 0L, k: Int = 5,
      lambda: Double = 0.7, poolSize: Int = 50): String = {
    val cosExpr = (x: String, y: String) => s"""round(
      |    list_sum(list_transform(range(1, len($x) + 1),
      |      i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)))
      |    / nullif(
      |        sqrt(list_sum(list_transform($x,
      |          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
      |        * sqrt(list_sum(list_transform($y,
      |          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))),
      |        CAST(0.0 AS DOUBLE)), 6)""".stripMargin
    val head =
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings
         |           WHERE vec_id = $queryId),
         |pool AS (SELECT vec_id, cq, embedding FROM (
         |    SELECT e.vec_id, ${cosExpr("e.embedding", "qe")} AS cq,
         |      e.embedding
         |    FROM embeddings e, q WHERE e.vec_id <> $queryId)
         |  WHERE cq IS NOT NULL
         |  ORDER BY cq DESC, vec_id LIMIT $poolSize),
         |pairs AS (SELECT a.vec_id AS a, b.vec_id AS b,
         |    ${cosExpr("a.embedding", "b.embedding")} AS cab
         |  FROM pool a JOIN pool b ON a.vec_id <> b.vec_id),
         |sel1 AS (SELECT vec_id, cq, 1 AS rk FROM pool
         |         ORDER BY cq DESC, vec_id LIMIT 1)""".stripMargin
    val steps = (2 to k).map { i =>
      val prior = (1 until i).map(j => s"SELECT vec_id FROM sel$j")
        .mkString(" UNION ALL ")
      s"""sel$i AS (
         |  SELECT p.vec_id, p.cq, $i AS rk FROM pool p
         |  WHERE p.vec_id NOT IN ($prior)
         |  QUALIFY row_number() OVER (ORDER BY
         |    CAST($lambda AS DOUBLE) * p.cq
         |      - (CAST(1.0 AS DOUBLE) - CAST($lambda AS DOUBLE))
         |        * (SELECT MAX(cab) FROM pairs
         |           WHERE pairs.a = p.vec_id
         |             AND pairs.b IN ($prior)) DESC,
         |    p.vec_id) = 1)""".stripMargin
    }
    val tail =
      s"""SELECT CAST(rk AS BIGINT) AS rank, vec_id, cq AS rel_cos
         |FROM (${(1 to k).map(i => s"SELECT * FROM sel$i")
        .mkString(" UNION ALL ")})
         |ORDER BY rank""".stripMargin
    (Seq(head) ++ steps).mkString(",\n") + "\n" + tail
  }

  /** Matryoshka-style prefix retrieval: rank by cosine over only the
    * first `dims` dimensions of the embedding (MRL-trained embeddings
    * concentrate signal in the prefix, so a 16-of-64 scan reads 4x
    * less vector data per candidate — the cheap first pass of a
    * coarse-to-fine retrieval cascade). Same plan as the full
    * brute-force scan: 1-row broadcast query, codegen'd one-pass
    * cosine over the sliced arrays, bounded top-k. */
  def mrlPrefixTopK(s: SparkSession, d: String, dims: Int = 16,
      queryId: Long = 0L, k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), slice(col("embedding"), 1, dims).as("pe"))
    val q = emb.filter(col("vec_id") === queryId).limit(1)
      .select(col("pe").as("qe"))
    emb.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(nativeCosine(s, col("pe"), col("qe")), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Coarse-to-fine cascade: take `candidates` by prefix cosine, then
    * re-rank just those with the FULL-dimension cosine and keep top-k.
    * The production retrieval shape prefix ranking exists for — the
    * expensive full-width scan touches only `candidates` rows instead
    * of the corpus. Both stages are deterministic bounded top-ks, so
    * the cascade output is exactly oracle-able end-to-end. */
  def mrlCascadeTopK(s: SparkSession, d: String, dims: Int = 16,
      candidates: Int = 50, queryId: Long = 0L, k: Int = 10): DataFrame = {
    val cand = mrlPrefixTopK(s, d, dims, queryId, candidates)
      .select(col("vec_id"))
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") === queryId).limit(1)
      .select(col("embedding").as("q_embedding"))
    emb.join(broadcast(cand), "vec_id")
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(nativeCosine(s, col("embedding"), col("q_embedding")), 6)
          .as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Prefix-vs-full recall@k as an EXACT set intersection (both
    * rankings are deterministic, so the overlap is a hash-checkable
    * integer, not a golden constant). */
  def mrlRecallQuery(s: SparkSession, d: String, dims: Int = 16,
      k: Int = 10): DataFrame = {
    val pre = mrlPrefixTopK(s, d, dims, 0L, k).select(col("vec_id"))
    val full = knnBruteForce(s, d, 0L, k).select(col("vec_id"))
    pre.join(full, "vec_id")
      .agg(count(lit(1)).as("hits"),
        (count(lit(1)) / lit(k.toDouble)).as("recall_at_k"))
  }

  /** Per-vector norms (oracle-checked: mirrors as list_transform +
    * list_sum in DuckDB). */
  def normsQuery(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(
      col("vec_id"),
      round(l2Norm(col("embedding")), 6).as("l2_norm"),
      size(col("embedding")).cast("long").as("dim"))

  /** Brute-force cosine top-k against one query vector (vec_id = 0).
    * The query row is broadcast; the scan stays partition-local. */
  def knnBruteForce(s: SparkSession, d: String, queryId: Long = 0L,
      k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") === queryId).limit(1)
      .select(col("embedding").as("q_embedding"))
    emb.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(nativeCosine(s, col("embedding"), col("q_embedding")), 6)
          .as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Deterministic pseudo-random hyperplanes (fixed seed — identical on
    * every executor and every run). */
  private[graft] def hyperplanes(numPlanes: Int, dim: Int,
      seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numPlanes, dim)(rnd.nextGaussian())
  }

  /** SRP-LSH bucket id: sign bits of the vector against each plane. */
  def srpBucket(vec: Column, planes: Array[Array[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, i) =>
      val planeCol = array(p.map(lit): _*)
      when(dot(vec, planeCol) >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Corpus bucket table (id, b0..b{tables-1}) in ONE columnar pass:
    * explode the vector, compute all tables*numPlanes dot products as
    * codegen'd sum aggregates (element_at over constant-folded plane
    * literals — no per-row interpreted higher-order folds), then
    * sign-pack per table. The per-row [[srpBucket]] stays for 1-row
    * query vectors where a pass is overkill. */
  private[graft] def srpBucketsDf(emb: DataFrame, idCol: String,
      vecCol: String, numPlanes: Int, tables: Int, dim: Int,
      seedBase: Long): DataFrame = {
    val exploded = emb.select(col(idCol).as("id"),
      posexplode(col(vecCol)).as(Seq("i", "x")))
    val dotAggs = for (t <- 0 until tables; p <- 0 until numPlanes) yield {
      val plane = hyperplanes(numPlanes, dim, seedBase + t)(p)
      sum(col("x").cast("double") *
        element_at(array(plane.toIndexedSeq.map(lit): _*), col("i") + 1))
        .as(s"dot_${t}_$p")
    }
    val dots = exploded.groupBy(col("id"))
      .agg(dotAggs.head, dotAggs.tail: _*)
    val buckets = (0 until tables).map { t =>
      (0 until numPlanes).map(p =>
        when(col(s"dot_${t}_$p") >= 0, lit(1L << p)).otherwise(lit(0L)))
        .reduce(_ + _).as(s"b$t")
    }
    dots.select(col("id") +: buckets: _*)
  }

  // ---- md5-seeded INTEGER SRP family (oracle-expressible) ----
  //
  // The Gaussian-hyperplane SRP above ([[srpBucketsDf]]) draws planes
  // from the JVM's Random — irreproducible outside the JVM, so the
  // queries built on it can only be rows-checked by the driver. This
  // family re-declares the same bucketing on arithmetic BOTH engines
  // share bit-for-bit, the q38-q41 move applied to vectors:
  //   - plane weights are integers in [-2^19, 2^19) derived from
  //     md5("srp|table|plane|dim") — the same 15-nibble decode as the
  //     MinHash oracle family (Curation.verifiedMd5NearDups);
  //   - vectors are quantized to BIGINT (floor(x * 1e6): float->double
  //     is exact, the multiply is one IEEE op, floor is unambiguous);
  //   - dot products and sign bits are then EXACT BIGINT arithmetic —
  //     fold-order-free, so groupBy partials can't flip a sign bit.
  // Only the final re-rank/verify cosine is floating point, and that
  // is the round-6 double fold q42/q88 already hash-match in DuckDB.
  // The Gaussian family stays API + ScalaTest covered (q90 pins its
  // multi-probe recall against exact brute force).

  /** Driver-side md5 -> the 60-bit value of hex nibbles 1..15 — the
    * Scala twin of the oracle's shared nibble decode ([[nibsSql]]). */
  private[graft] def md5Nibs15(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Integer hyperplane weight for (table, plane, dim index): uniform
    * in [-2^19, 2^19) from md5("srp|t|p|i"). Bound check: |weight| <
    * 2^19, |quantized element| <~ 2^24 (floats are O(1) * 1e6), so a
    * 64-dim dot is < 2^49 — exact BIGINT with headroom. */
  private[graft] def md5PlaneWeight(t: Int, p: Int, i: Int): Long =
    md5Nibs15(s"srp|$t|$p|$i") % 1048576L - 524288L

  /** BIGINT-quantized copy of a float-array column: floor(x * 1e6)
    * per element — the exact arithmetic the oracle mirrors with
    * CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT). */
  private[graft] def quantized(vec: Column): Column =
    transform(vec, x => floor(x.cast("double") * lit(1000000.0d)))

  /** Memoized (id, vec, sq) table — the raw embeddings with their
    * quantized copy, scanned and decoded ONCE. The shared parent of
    * the whole md5-integer family (r15 verdict task 1): the SRP pair
    * index, both md5 ANN bucket indexes and the seeded-IVF build all
    * start from quantized vectors, and before this each build re-read
    * the parquet, re-decoded the arrays and re-ran the transform. At
    * corpus scale this is the difference between one wide scan and
    * four. Pinned by its own memo entry; consumers' vecs/probe reads
    * are projections of the one cached copy. */
  private[graft] def quantEmbMd5(emb: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    IndexMemo.getOrBuild[DataFrame]("quantEmb", s"$idCol,$vecCol",
      Seq(emb)) {
      // re-grain before pinning (r17): a 1-split scan would otherwise
      // pin a 1-PARTITION cached parent, serializing every consumer's
      // per-dimension explode and dot-product fold until its first
      // shuffle; no-op at corpus-scale split counts
      val q = graft.GraftSession.fanoutRegrain(emb, col(idCol))
        .select(col(idCol), col(vecCol),
          quantized(col(vecCol)).as("sq")).persist()
      q.count()
      (q, Seq(q))
    }

  /** [[srpBucketsDf]] on the md5-integer family: same one-pass
    * explode + sum-aggregate plan (order-free by construction here —
    * the sums are BIGINT), same (id, b0..b{tables-1}) output. */
  private[graft] def srpBucketsMd5Df(emb: DataFrame, idCol: String,
      vecCol: String, numPlanes: Int, tables: Int, dim: Int): DataFrame = {
    val exploded = quantEmbMd5(emb, idCol, vecCol)
      .select(col(idCol).as("id"), posexplode(col("sq")).as(Seq("i", "xq")))
    val dotAggs = for (t <- 0 until tables; p <- 0 until numPlanes) yield {
      val w = (0 until dim).map(i => md5PlaneWeight(t, p, i))
      sum(col("xq") * element_at(array(w.map(lit): _*), col("i") + 1))
        .as(s"dot_${t}_$p")
    }
    val dots = exploded.groupBy(col("id"))
      .agg(dotAggs.head, dotAggs.tail: _*)
    val buckets = (0 until tables).map { t =>
      (0 until numPlanes).map(p =>
        when(col(s"dot_${t}_$p") >= 0, lit(1L << p)).otherwise(lit(0L)))
        .reduce(_ + _).as(s"b$t")
    }
    dots.select(col("id") +: buckets: _*)
  }

  /** The memoized artifacts of one SRP banding pass: the (id, v)
    * vector table the verify join reads back, the deduplicated
    * candidate-pair list, and the exact pre-distinct pair bound that
    * gates broadcasting — the SRP twin of [[Dedup]]'s LshPairIndex. */
  private final case class SrpPairIndex(vecs: DataFrame, pairs: DataFrame,
      pairBound: Long)

  /** Embedding-cosine near-duplicate pairs: SRP-LSH bucketed self-join
    * (docs sharing a bucket in >= 1 hash table become candidates),
    * verified with exact cosine >= threshold. Same scale shape as
    * MinHash-LSH dedup end to end: the banded self-join moves only
    * (tbl, bucket, id) triples, the (small) deduplicated pair list
    * joins the vectors back by id from the cached index for exact
    * verification, and the pair side broadcasts only while the
    * measured pre-distinct candidate bound stays under
    * `maxBroadcastPairs`. Buckets above `maxBucketSize` are dropped at
    * build time ([[Dedup.cappedBucketPairs]]); members still pair
    * through their other tables.
    * The vector table and pair list are memoized per (context, input
    * plan, banding params) — build once, probe many, released by
    * [[Dedup.clearLshCache]]. */
  def cosineNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, numPlanes: Int = 12, tables: Int = 4,
      dim: Int = 64, maxBucketSize: Int = 1000,
      maxBroadcastPairs: Long = 2000000L): DataFrame =
    verifiedNearDupsFromBuckets(emb, idCol, vecCol, threshold, tables,
      maxBucketSize, maxBroadcastPairs, "srpPairIdx",
      s"$idCol,$vecCol,$numPlanes,$tables,$dim,$maxBucketSize")(
      srpBucketsDf(emb, idCol, vecCol, numPlanes, tables, dim, 4242L), {
        val v = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
          .persist()
        (v, Seq(v))
      })

  /** [[cosineNearDupPairs]] on the md5-integer SRP family — the same
    * capped banded join and exact-cosine verify, with bucket bits the
    * DuckDB oracle reproduces exactly ([[cosineNearDupMd5Sql]]). */
  def cosineNearDupMd5Pairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, numPlanes: Int = 12, tables: Int = 4,
      dim: Int = 64, maxBucketSize: Int = 1000,
      maxBroadcastPairs: Long = 2000000L): DataFrame =
    verifiedNearDupsFromBuckets(emb, idCol, vecCol, threshold, tables,
      maxBucketSize, maxBroadcastPairs, "srpMd5PairIdx",
      s"$idCol,$vecCol,$numPlanes,$tables,$dim,$maxBucketSize")(
      srpBucketsMd5Df(emb, idCol, vecCol, numPlanes, tables, dim),
      // the vector table is a projection of the shared quantized
      // parent — no second persisted copy of the corpus vectors
      (quantEmbMd5(emb, idCol, vecCol)
        .select(col(idCol).as("id"), col(vecCol).as("v")), Nil))

  /** The shared body of the SRP near-dup operators: band the (id,
    * b0..b{tables-1}) bucket table, cap degenerate buckets, join the
    * deduplicated candidate list back to the vectors, verify with
    * exact round-6 cosine >= threshold. Index memoized per (context,
    * corpus plan, banding params); threshold and the broadcast bound
    * shape only the per-call verify join, not the built index — kept
    * out of the memo key. */
  private def verifiedNearDupsFromBuckets(emb: DataFrame, idCol: String,
      vecCol: String, threshold: Double, tables: Int, maxBucketSize: Int,
      maxBroadcastPairs: Long, memoName: String, memoKey: String)(
      bucketsDf: => DataFrame,
      vecsOf: => (DataFrame, Seq[DataFrame])): DataFrame = {
    val e = IndexMemo.getOrBuild[SrpPairIndex](memoName, memoKey,
      Seq(emb)) {
      // (vecs table, what of it THIS build pinned): the gaussian
      // family persists its own copy; the md5 family projects the
      // shared quantized parent and pins nothing extra
      val (vecs, vecsPinned) = vecsOf
      // fixed-width rows only: the banded self-join shuffles (tbl,
      // bucket, id) triples, NEVER the vectors — with real 1024-dim
      // embeddings ~2 orders of magnitude fewer bytes than a vector
      // shuffle (asserted by plan in SimilaritySpec)
      val built = Dedup.materializeCappedPairs(
        bucketsDf.select(col("id"),
          posexplode(array((0 until tables).map(t => col(s"b$t")): _*))
            .as(Seq("tbl", "bucket"))),
        Seq("tbl", "bucket"), "id", maxBucketSize, "srp",
        pins = vecsPinned)(_.distinct())
      (SrpPairIndex(vecs, built.pairs, built.pairBound),
        vecsPinned :+ built.pairs)
    }
    def probeSide(df: DataFrame): DataFrame =
      if (e.pairBound <= maxBroadcastPairs) df.hint("broadcast") else df
    probeSide(probeSide(e.pairs)
      .join(e.vecs, col("id_a") === col("id"))
      .select(col("id_a"), col("id_b"), col("v").as("v_a")))
      .join(e.vecs, col("id_b") === col("id"))
      .withColumn("cosine",
        round(nativeCosine(emb.sparkSession, col("v_a"), col("v")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Near-dup embedding pairs over the synthetic table (rows-only).
    * The synthetic vectors are independent gaussians (no true
    * near-dups), so the demo threshold is low enough that the LSH
    * candidates' high-cosine tail is non-empty. */
  def cosineNearDupQuery(s: SparkSession, d: String): DataFrame =
    cosineNearDupPairs(Tables.embeddings(s, d), "vec_id", "embedding",
      threshold = 0.2)

  /** Exact cosine near-dup pairs — the all-pairs baseline the SRP-LSH
    * path ([[cosineNearDupPairs]]) approximates, and its oracled twin:
    * every SRP pair must appear here (soundness, asserted in
    * SimilaritySpec), and the pair scores hash-match a DuckDB mirror of
    * the same double-precision fold. The O(N^2) self-join is the
    * correctness anchor only; at corpus scale the SRP/IVF paths are the
    * operators — the same exact-vs-approximate pairing as q42/q43. */
  def cosinePairsExact(s: SparkSession, d: String,
      threshold: Double = 0.2): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
    val l = emb.select(col("vec_id").as("id_a"), col("embedding").as("v_a"))
    val r = emb.select(col("vec_id").as("id_b"), col("embedding").as("v_b"))
    l.crossJoin(r)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        round(nativeCosine(s, col("v_a"), col("v_b")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** SemDeDup-style semantic dedup: within each coarse cluster, drop
    * every vector whose cosine similarity to some LOWER-id vector in
    * the same cluster is >= `threshold` (the upper-triangular sweep of
    * the SemDeDup paper, with id order standing in for
    * distance-to-centroid order — deterministic and oracle-exact).
    *
    * The coarse cluster here is the precomputed `label` column; in
    * production it is a k-means cell id (see [[buildIvfIndex]] for the
    * quantizer), sized so cells stay O(corpus / ncells) — the
    * within-cell pair join is quadratic in CELL size, never in corpus
    * size, and shuffles only on the cluster key. Both self-join sides
    * are projections of one DataFrame, so the scan is shared. */
  def semanticDedup(s: SparkSession, d: String,
      threshold: Double = 0.3): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding"))
    val l = emb.select(col("label"), col("vec_id").as("id_a"),
      col("embedding").as("v_a"))
    val r = emb.select(col("label"), col("vec_id").as("id_b"),
      col("embedding").as("v_b"))
    val dropped = l.join(r, "label")
      .filter(col("id_a") < col("id_b"))
      .filter(round(nativeCosine(s, col("v_a"), col("v_b")), 6)
        >= threshold)
      .select(col("id_b").as("vec_id")).distinct()
    emb.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label"))
  }

  /** TwoNN intrinsic-dimension estimate of the embedding manifold
    * (Facco et al. 2017): for each anchor point the ratio μ = d₂/d₁
    * of its two nearest-neighbor distances follows a Pareto law with
    * exponent equal to the intrinsic dimension, giving the MLE
    * d̂ = n / Σ ln μᵢ — no density estimate, only two neighbors per
    * point, the standard "is this 64-dim embedding really using 64
    * dims" health check. Anchors are a deterministic 1-in-`sampleMod`
    * id slice (the estimator is statistical; the full corpus is never
    * self-joined) and run against the corpus via the gated
    * [[anchorCross]] (broadcast under the measured bound, chunked
    * passes above it) — the cost is one scan × anchors, not N².
    * Distances stay SQUARED
    * (ln μ = ½·ln(d₂²/d₁²) — no sqrt), each a fixed-order
    * xx + aa − 2·xa of codegen'd [[graft.expr.DotProduct]]s; the
    * per-anchor ln is nano-quantized to BIGINT before the sum, so the
    * estimate is partition-order invariant and hash-exact. */
  /** Anchor-side gate for the scan×anchors retrieval plans
    * ([[twoNnDimension]], [[knnHubness]]): anchors carry full
    * embedding payloads (~8 B a dim plus row overhead), so unlike
    * the graph ops' 16-byte rank pairs the broadcast bound is
    * row-count-small — 200k anchors × ~700 B ≈ 140 MB against the
    * 1 GiB ceiling. Below the bound: one corpus pass against the
    * broadcast anchors. Above it (the fixed 1-in-sampleMod slice of
    * a corpus large enough that the slice itself no longer fits) the
    * anchors are hash-CHUNKED into broadcastable slices and the
    * corpus is scanned once per chunk — the total compute is the
    * inherent anchors×corpus either way, memory stays bounded, and
    * the union of disjoint per-chunk results is row-identical to the
    * single-pass plan (each a_id lives in exactly one chunk, so
    * every per-anchor aggregate sees the same rows). Chunk key is
    * xxhash64(a_id): a_id itself is a multiple of sampleMod, so
    * `pmod(a_id, chunks)` could alias an entire slice onto one
    * chunk. */
  private[graft] val AnchorBroadcastBound = 200L * 1000
  private[graft] def anchorCross(emb: DataFrame, anchors: DataFrame,
      bound: Long = AnchorBroadcastBound): DataFrame = {
    // the gate count is memoized per anchor plan: an eager count()
    // here would otherwise add a corpus scan to EVERY call (and every
    // timed bench run) of the anchor-retrieval family
    val n = IndexMemo.getOrBuild[java.lang.Long]("anchorCount", "",
      Seq(anchors)) {
      (java.lang.Long.valueOf(anchors.count()), Seq.empty)
    }.longValue()
    if (n <= bound) emb.crossJoin(broadcast(anchors))
    else {
      val chunks = ((n + bound - 1) / bound).toInt
      log.info(s"anchorCross: $n anchors exceed broadcast bound $bound; " +
        s"running $chunks chunked corpus passes")
      (0 until chunks).map { c =>
        emb.crossJoin(broadcast(
          anchors.filter(pmod(xxhash64(col("a_id")), lit(chunks)) === c)))
      }.reduce(_.unionAll(_))
    }
  }

  def twoNnDimension(s: SparkSession, d: String,
      sampleMod: Long = 11L): DataFrame = {
    graft.parse.GraftFunctions.register(s)
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val anchors = emb.filter(col("vec_id") % sampleMod === 0)
      .select(col("vec_id").as("a_id"), col("embedding").as("ae"))
    val d2col = (call_function("dot_product",
        col("embedding"), col("embedding"))
      + call_function("dot_product", col("ae"), col("ae"))
      - lit(2.0) * call_function("dot_product",
        col("embedding"), col("ae"))).as("dd")
    val top2 = udaf(new TopKByScore(2), ExpressionEncoder[Scored]())
    // re-grain the COMPACT corpus rows before the anchors× fan-out
    // (r19, VERDICT r18 task 5): the distance compute is anchors ×
    // corpus — far heavier than the scan — and a few-split scan would
    // cap it at the scan's grain; no-op at corpus-scale split counts.
    // Anchors stay derived from the RAW scan (memoized count key).
    val nn = anchorCross(
      graft.GraftSession.fanoutRegrain(emb, col("vec_id")), anchors)
      .filter(col("vec_id") =!= col("a_id"))
      .select(col("a_id"), col("vec_id"), d2col)
      // exact coincidences (dd == 0) carry no ratio information and
      // would put 0 in the denominator — the TwoNN prescription drops
      // them before picking the two neighbors
      .filter(col("dd") > 0.0)
      .groupBy(col("a_id"))
      .agg(top2(col("vec_id"), -col("dd")).as("nn"))
      .filter(size(col("nn")) === 2)
      .select(col("a_id"), (-col("nn")(0)("score")).as("d1"),
        (-col("nn")(1)("score")).as("d2"))
    nn.agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(0.5 * ln(d2 / d1) * 1e9) AS LONG)"))
          .as("sn"))
      .select(col("n").as("n_anchors"),
        round(col("sn").cast("double") / 1e9, 6).as("sum_log_mu"),
        round(col("n").cast("double")
          / nullif(col("sn").cast("double") / 1e9, lit(0.0)), 6)
          .as("id_twonn"))
  }

  /** DuckDB oracle for [[twoNnDimension]]: the same anchors, squared
    * distances in the same float op order (list_sum over index-order
    * products mirrors DotProduct's accumulation — the q42/q88
    * transitivity), row_number with the same (d², id) tie-break, and
    * the same nano-quantized ln sum. */
  def twoNnDimensionSql(sampleMod: Long = 11L): String =
    s"""WITH a AS (SELECT vec_id AS a_id, embedding AS ae
       |  FROM embeddings WHERE vec_id % $sampleMod = 0),
       |p AS (SELECT a_id, e.vec_id,
       |    list_sum(list_transform(e.embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
       |    + list_sum(list_transform(ae,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
       |    - 2.0 * list_sum(list_transform(
       |        range(1, len(e.embedding) + 1),
       |        i -> CAST(e.embedding[i] AS DOUBLE)
       |           * CAST(ae[i] AS DOUBLE))) AS dd
       |  FROM embeddings e, a WHERE e.vec_id <> a.a_id),
       |rk AS (SELECT a_id, dd,
       |    row_number() OVER (PARTITION BY a_id
       |      ORDER BY dd, vec_id) AS rn
       |  FROM p WHERE dd > 0.0),
       |nn AS (SELECT a_id,
       |    MAX(CASE WHEN rn = 1 THEN dd END) AS d1,
       |    MAX(CASE WHEN rn = 2 THEN dd END) AS d2
       |  FROM rk WHERE rn <= 2 GROUP BY a_id
       |  HAVING COUNT(*) = 2),
       |t AS (SELECT COUNT(*) AS n,
       |    CAST(SUM(CAST(round(0.5 * ln(d2 / d1) * 1e9) AS BIGINT))
       |      AS BIGINT) AS sn
       |  FROM nn)
       |SELECT CAST(n AS BIGINT) AS n_anchors,
       |  round(CAST(sn AS DOUBLE) / 1e9, 6) AS sum_log_mu,
       |  round(CAST(n AS DOUBLE)
       |    / nullif(CAST(sn AS DOUBLE) / 1e9, 0.0), 6) AS id_twonn
       |FROM t""".stripMargin

  /** kNN hubness census: run every anchor's top-`k` cosine retrieval
    * against the full corpus and histogram how often each corpus
    * vector is retrieved (its k-occurrence). High-dimensional spaces
    * concentrate retrievals onto hub points (Radovanović et al.) —
    * a heavy tail here means a few vectors dominate every neighbor
    * list and ANN recall metrics are being carried by hubs, while the
    * 0-bucket (never retrieved) counts the antihubs. Same plan shape
    * as [[twoNnDimension]]: anchors broadcast against one corpus
    * pass, bounded [[TopKByScore]] state, then two small aggs —
    * retrieval cost is anchors × scan, histogram cost is
    * corpus-sized. */
  def knnHubness(s: SparkSession, d: String, sampleMod: Long = 11L,
      k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val anchors = emb.filter(col("vec_id") % sampleMod === 0)
      .select(col("vec_id").as("a_id"), col("embedding").as("ae"))
    val topk = udaf(new TopKByScore(k), ExpressionEncoder[Scored]())
    // same pre-fan-out re-grain as twoNnDimension: the cosine compute
    // is anchors × corpus, the scan grain must not cap it
    val occ = anchorCross(
      graft.GraftSession.fanoutRegrain(emb, col("vec_id")), anchors)
      .filter(col("vec_id") =!= col("a_id"))
      .select(col("a_id"), col("vec_id"),
        round(nativeCosine(s, col("embedding"), col("ae")), 6)
          .as("cosine"))
      .filter(col("cosine").isNotNull)
      .groupBy(col("a_id"))
      .agg(topk(col("vec_id"), col("cosine")).as("nn"))
      .select(explode(col("nn")("id")).as("vec_id"))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("occ"))
    val (occCut, Seq(nRetrieved)) =
      graft.GraftSession.cutWith(occ, count(lit(1)))
    val hist = occCut.groupBy(col("occ").as("k_occurrences"))
      .agg(count(lit(1)).as("n_vectors"))
    val nCorpus = emb.count()
    hist.unionAll(s.range(1).select(lit(0L).as("k_occurrences"),
        lit(nCorpus - nRetrieved).as("n_vectors")))
      .orderBy(col("k_occurrences"))
  }

  /** DuckDB oracle for [[knnHubness]]: the same anchors, rounded
    * cosines, (cosine DESC, id) top-k, occurrence histogram, and an
    * explicit antihub 0-bucket. */
  def knnHubnessSql(sampleMod: Long = 11L, k: Int = 10): String =
    s"""WITH a AS (SELECT vec_id AS a_id, embedding AS ae
       |  FROM embeddings WHERE vec_id % $sampleMod = 0),
       |p AS (SELECT a_id, e.vec_id, round(
       |    list_sum(list_transform(range(1, len(e.embedding) + 1),
       |      i -> CAST(e.embedding[i] AS DOUBLE)
       |         * CAST(ae[i] AS DOUBLE)))
       |    / nullif(
       |        sqrt(list_sum(list_transform(e.embedding,
       |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |        * sqrt(list_sum(list_transform(ae,
       |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))),
       |        CAST(0.0 AS DOUBLE)), 6) AS cosine
       |  FROM embeddings e, a WHERE e.vec_id <> a.a_id),
       |rk AS (SELECT a_id, vec_id,
       |    row_number() OVER (PARTITION BY a_id
       |      ORDER BY cosine DESC, vec_id) AS rn
       |  FROM p WHERE cosine IS NOT NULL),
       |occ AS (SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS occ
       |  FROM rk WHERE rn <= $k GROUP BY 1),
       |hist AS (SELECT occ AS k_occurrences,
       |    CAST(COUNT(*) AS BIGINT) AS n_vectors FROM occ GROUP BY 1
       |  UNION ALL
       |  SELECT CAST(0 AS BIGINT),
       |    (SELECT COUNT(*) FROM embeddings)
       |      - (SELECT COUNT(*) FROM occ))
       |SELECT k_occurrences, n_vectors FROM hist
       |ORDER BY k_occurrences""".stripMargin

  /** A built IVF index: the persisted inverted-list assignment plus
    * the coarse-quantizer centroids (driver-side metadata). */
  final case class IvfIndex(assigned: DataFrame,
      centers: Array[Array[Double]])

  private val ivfCache =
    new java.util.concurrent.ConcurrentHashMap[String, IvfIndex]

  /** Drop every memoized IVF index, unpersisting its assignment table
    * (tolerant of indexes whose session has already stopped). */
  def clearIvfCache(): Unit = {
    ivfCache.values.forEach { ix =>
      try ix.assigned.unpersist()
      catch { case _: Throwable => () }
    }
    ivfCache.clear()
  }

  /** One-time IVF index build, memoized per (session, corpus, nlist):
    * a seeded KMeans coarse quantizer (bounded iteration budget — it
    * only has to carve the space into lists, not converge tightly)
    * assigns every vector to an inverted list; the assignment persists
    * as the index. Build once, probe many — the operating point of a
    * vector store, and what [[annIvf]] measures after the first call.
    * At scale the list id becomes the partition key of the index
    * table, so a probe touches nprobe partitions. */
  def buildIvfIndex(s: SparkSession, d: String, nlist: Int): IvfIndex =
    // keyed on applicationId (unique per SparkContext for the JVM's
    // lifetime), not an identity hash a later session could collide
    // with after GC. Persisted DataFrames are context-scoped, so the
    // context id is exactly the cache-validity scope; entries live
    // until the JVM or an explicit clearIvfCache — the build-once/
    // probe-many operating point of a vector store.
    ivfCache.computeIfAbsent(
      s"${s.sparkContext.applicationId}#$d#$nlist",
      _ => {
        import org.apache.spark.ml.clustering.KMeans
        import org.apache.spark.ml.functions.array_to_vector
        val emb = Tables.embeddings(s, d)
          .withColumn("features",
            array_to_vector(col("embedding").cast("array<double>")))
          .persist()
        val model = new KMeans().setK(nlist).setSeed(42L).setMaxIter(8)
          .setFeaturesCol("features").fit(emb)
        val assigned = model.transform(emb)
          .select(col("vec_id"), col("embedding"),
            col("prediction").as("list_id"))
          .persist()
        assigned.count() // materialize the index
        emb.unpersist()
        IvfIndex(assigned, model.clusterCenters.map(_.toArray))
      })

  /** IVF ANN probe: the query ranks the nprobe nearest inverted lists
    * by centroid distance (driver-side math on index metadata), scans
    * only those lists, and re-ranks with exact cosine. With
    * nprobe == nlist the search is exhaustive and exactly equals
    * brute force (tested). */
  def annIvf(s: SparkSession, d: String, queryId: Long = 0L, k: Int = 10,
      nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val index = buildIvfIndex(s, d, nlist)
    val qVec: Array[Double] = index.assigned
      .filter(col("vec_id") === queryId)
      .select(col("embedding")).head()
      .getSeq[Float](0).map(_.toDouble).toArray
    val probeLists = index.centers.zipWithIndex
      .map { case (c, i) =>
        val diff = c.zip(qVec).map { case (a, b) => a - b }
        (i, math.sqrt(diff.map(x => x * x).sum))
      }
      .sortBy(_._2).take(nprobe).map(_._1).toSeq
    val q = index.assigned.filter(col("vec_id") === queryId).limit(1)
      .select(col("embedding").as("q_embedding"))
    index.assigned
      .filter(col("list_id").isin(probeLists: _*) &&
        col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(nativeCosine(s, col("embedding"), col("q_embedding")), 6)
          .as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** LSH-bucketed ANN: candidates share the query's bucket in >= 1 of
    * `tables` hash tables; exact cosine re-ranks the candidates. At
    * scale the bucketed index is materialized once and the probe is a
    * broadcast semi-join on (table, bucket).
    *
    * `multiProbe = true` additionally probes every bucket at Hamming
    * distance 1 from the query's bucket in each table (flip one
    * hyperplane's sign bit) — the multi-probe LSH technique: vectors
    * near a hyperplane land a bit-flip away, so probing neighbor
    * buckets recovers recall WITHOUT growing the index. The candidate
    * set stays (numPlanes+1) x tables buckets; the extra comparisons
    * are codegen'd predicates on the broadcast query row, not extra
    * joins.
    *
    * Default geometry (6 planes x 8 tables): for ~60-degree cosine
    * neighbors (what top-10 looks like in an unstructured corpus) the
    * per-table collision rate is (1 - theta/pi)^planes, so FEWER
    * planes per table and MORE tables buys recall at the cost of
    * candidate volume — 6x8 measures ~5x the recall of the old 8x4 at
    * sf0.01 (SimilaritySpec prints the numbers). Scale the plane count
    * with corpus size to keep per-bucket occupancy bounded. */
  def annLsh(s: SparkSession, d: String, queryId: Long = 0L, k: Int = 10,
      numPlanes: Int = 6, tables: Int = 8, dim: Int = 64,
      multiProbe: Boolean = false): DataFrame = {
    val emb = Tables.embeddings(s, d)
    // Materialized index: the query probe and the corpus scan both read
    // the cached bucket table (one bucketing pass, not two). Memoized
    // per (context, corpus plan, banding params) — the ANN operating
    // point is build-once/probe-many, and the cached copy has an owner
    // ([[Dedup.clearLshCache]]).
    val bucketed = IndexMemo.getOrBuild[DataFrame]("annLshIdx",
      s"$numPlanes,$tables,$dim", Seq(emb)) {
      val idx = emb.join(
        srpBucketsDf(emb, "vec_id", "embedding", numPlanes, tables, dim,
          42L).withColumnRenamed("id", "vec_id"),
        "vec_id")
        .persist()
      (idx, Seq(idx))
    }
    val q = bucketed.filter(col("vec_id") === queryId).limit(1)
      .select(col("embedding").as("q_embedding") +:
        (0 until tables).map(t => col(s"b$t").as(s"qb$t")): _*)
    val sameBucket = (0 until tables).map { t =>
      val exact = col(s"b$t") === col(s"qb$t")
      if (!multiProbe) exact
      else (exact +: (0 until numPlanes).map(p =>
        col(s"b$t") === col(s"qb$t").bitwiseXOR(lit(1L << p))))
        .reduce(_ || _)
    }.reduce(_ || _)
    bucketed.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .filter(sameBucket)
      .select(col("vec_id"),
        round(nativeCosine(s, col("embedding"), col("q_embedding")), 6)
          .as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Near-dup embedding pairs on the md5-integer SRP family over the
    * synthetic table — the gate shape of [[cosineNearDupQuery]] with a
    * full DuckDB oracle ([[cosineNearDupMd5Sql]]). */
  def cosineNearDupMd5Query(s: SparkSession, d: String): DataFrame =
    cosineNearDupMd5Pairs(Tables.embeddings(s, d), "vec_id", "embedding",
      threshold = 0.2)

  /** [[annLsh]] on the md5-integer SRP family: same memoized bucket
    * index, same >= 1-shared-bucket probe, same exact round-6 cosine
    * re-rank — but every bucket bit is exact BIGINT arithmetic the
    * DuckDB oracle reproduces ([[annLshMd5Sql]]). The Gaussian-plane
    * original stays the multi-probe/recall operator (q90). */
  def annLshMd5(s: SparkSession, d: String, queryId: Long = 0L,
      k: Int = 10, numPlanes: Int = 6, tables: Int = 8,
      dim: Int = 64): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val bucketed = IndexMemo.getOrBuild[DataFrame]("annLshMd5Idx",
      s"$numPlanes,$tables,$dim", Seq(emb)) {
      // vectors come from the shared quantized parent, buckets from
      // the same parent via srpBucketsMd5Df — one corpus scan total
      val idx = quantEmbMd5(emb, "vec_id", "embedding")
        .select(col("vec_id"), col("embedding"))
        .join(
          srpBucketsMd5Df(emb, "vec_id", "embedding", numPlanes, tables,
            dim).withColumnRenamed("id", "vec_id"),
          "vec_id")
        .persist()
      (idx, Seq(idx))
    }
    val q = bucketed.filter(col("vec_id") === queryId).limit(1)
      .select(col("embedding").as("q_embedding") +:
        (0 until tables).map(t => col(s"b$t").as(s"qb$t")): _*)
    val sameBucket = (0 until tables)
      .map(t => col(s"b$t") === col(s"qb$t")).reduce(_ || _)
    bucketed.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .filter(sameBucket)
      .select(col("vec_id"),
        round(nativeCosine(s, col("embedding"), col("q_embedding")), 6)
          .as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** The memoized artifacts of one seeded-IVF build: the tiny
    * (seed_id, srank, sq) quantizer table and the corpus-sized
    * (vec_id, embedding, list_id) assignment. */
  private final case class SeededIvfIndex(seeds: DataFrame,
      assigned: DataFrame)

  /** IVF-flat ANN with an md5-SEEDED coarse quantizer, fully
    * oracle-expressible ([[annIvfMd5Sql]]): the `nlist` inverted-list
    * centers are the corpus vectors with the smallest md5(vec_id) draw
    * (a random-centroid quantizer — the zero-iteration operating point
    * FAISS-style IVF supports; the KMeans-trained quantizer stays the
    * [[annIvf]] operator, pinned exhaustive-equals-brute by q87).
    * Assignment and probe ranking are EXACT BIGINT L2^2 over the
    * quantized vectors (|diff| < 2^25, squared < 2^50, 64-dim sum
    * < 2^56 — no overflow, no float fold to diverge), tie-broken by
    * seed rank; only the final re-rank cosine is floating point, the
    * proven round-6 fold.
    *
    * Scale shape: the quantizer table is nlist rows (broadcast both
    * times it is joined), the assignment is built once and memoized —
    * at cluster scale list_id becomes the partition key of the index
    * table so a probe touches nprobe partitions — and the probe scans
    * only the probed lists before a bounded top-k. */
  def annIvfMd5(s: SparkSession, d: String, queryId: Long = 0L,
      k: Int = 10, nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    // the UNPROJECTED table, like every other md5-family caller: the
    // memo keys on the input plan's semantic hash, so a projected copy
    // here built and pinned a SECOND corpus-wide quantized parent —
    // two wide scans and double the pinned memory (ADVICE r16)
    val emb = Tables.embeddings(s, d)
    // all reads below go through the shared quantized parent (r16):
    // one scan+decode of the corpus vectors feeds the seed draw, the
    // assignment AND the probes, and the row-side quantization is a
    // cached column instead of a per-comparison transform
    val qe = quantEmbMd5(emb, "vec_id", "embedding")
    val dist2 = aggregate(
      zip_with(col("sq"), col("ssq"), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, v) => acc + v)
    val ix = IndexMemo.getOrBuild[SeededIvfIndex]("annIvfMd5Idx",
      s"$nlist", Seq(emb)) {
      val seeds = qe
        .select(col("vec_id").as("seed_id"),
          md5Nibs15Col(concat(col("vec_id").cast("string"), lit("|ivf")))
            .as("h"),
          col("sq").as("ssq"))
        .orderBy(col("h"), col("seed_id")).limit(nlist)
        .withColumn("srank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("h"), col("seed_id"))))
        .select(col("seed_id"), col("srank"), col("ssq"))
        .persist()
      val assigned = qe.crossJoin(broadcast(seeds))
        .select(col("vec_id"), col("embedding"), col("srank"),
          dist2.as("d2"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("d2"), col("srank"))).as("m"))
        .select(col("vec_id"), col("m.srank").as("list_id"))
        .join(qe.select(col("vec_id"), col("embedding")), "vec_id")
        .persist()
      assigned.count() // materialize the index
      (SeededIvfIndex(seeds, assigned), Seq(seeds, assigned))
    }
    val probed = qe.filter(col("vec_id") === queryId).limit(1)
      .crossJoin(broadcast(ix.seeds))
      .select(col("srank").as("list_id"), dist2.as("d2"))
      .orderBy(col("d2"), col("list_id")).limit(nprobe)
      .select(col("list_id"))
    val q = qe.filter(col("vec_id") === queryId).limit(1)
      .select(col("embedding").as("q_embedding"))
    ix.assigned.join(broadcast(probed), "list_id")
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(nativeCosine(s, col("embedding"), col("q_embedding")), 6)
          .as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Column-level twin of [[md5Nibs15]]: the 60-bit value of hex
    * nibbles 1..15 of md5(src) — identical to the oracle's decode. */
  private def md5Nibs15Col(src: Column): Column =
    // single base-16 parse — value-identical to the oracle's
    // per-nibble decode (60 bits < BIGINT)
    conv(substring(md5(src), 1, 15), 16, 10).cast("long")

  // ---- DuckDB oracle builders for the md5 family ----

  /** The oracle's shared 15-nibble decode of a hex column. */
  private def nibsSql(c: String, from: Int): String = (0 until 15).map {
    i =>
      val nib = s"substr($c, ${from + i}, 1)"
      s"CAST(ascii($nib) - CASE WHEN $nib <= '9' THEN 48 ELSE 87 END" +
        s" AS BIGINT) * ${1L << (4 * (14 - i))}"
  }.mkString(" + ")

  /** The q42/q88 round-6 cosine fold between two list columns. */
  private def cosineSql(a: String, b: String): String =
    s"""round(
       |    list_sum(list_transform(range(1, len($a) + 1),
       |      i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
       |    / nullif(
       |        sqrt(list_sum(list_transform($a,
       |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |        * sqrt(list_sum(list_transform($b,
       |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))),
       |        CAST(0.0 AS DOUBLE)), 6)""".stripMargin

  /** Shared bucket-table CTEs: md5-integer planes, quantized
    * elements, BIGINT dots, sign-packed (vec_id, t, bucket). */
  private def bucketsSql(tables: Int, numPlanes: Int, dim: Int): String =
    s"""planes AS (
       |  SELECT t, p, i, h % 1048576 - 524288 AS w FROM (
       |    SELECT t, p, i, ${nibsSql("hh", 1)} AS h FROM (
       |      SELECT tt.t, pp.p, ii.i,
       |        md5('srp|' || CAST(tt.t AS VARCHAR) || '|' ||
       |            CAST(pp.p AS VARCHAR) || '|' ||
       |            CAST(ii.i AS VARCHAR)) AS hh
       |      FROM range(0, $tables) AS tt(t), range(0, $numPlanes) AS pp(p),
       |           range(0, $dim) AS ii(i)))),
       |xq AS (
       |  SELECT vec_id, ii.i AS i,
       |    CAST(floor(CAST(embedding[ii.i + 1] AS DOUBLE)
       |      * CAST(1000000 AS DOUBLE)) AS BIGINT) AS xq
       |  FROM embeddings, range(0, $dim) AS ii(i)),
       |dots AS (
       |  SELECT x.vec_id, pl.t, pl.p, SUM(x.xq * pl.w) AS dot
       |  FROM xq x JOIN planes pl ON pl.i = x.i
       |  GROUP BY 1, 2, 3),
       |buckets AS (
       |  SELECT vec_id, t,
       |    SUM(CASE WHEN dot >= 0
       |        THEN CAST(1 AS BIGINT) << CAST(p AS INTEGER)
       |        ELSE CAST(0 AS BIGINT) END) AS bucket
       |  FROM dots GROUP BY 1, 2)""".stripMargin

  /** DuckDB oracle for [[annLshMd5]]. */
  def annLshMd5Sql(queryId: Long = 0L, k: Int = 10, numPlanes: Int = 6,
      tables: Int = 8, dim: Int = 64): String =
    s"""WITH ${bucketsSql(tables, numPlanes, dim)},
       |qb AS (SELECT t, bucket FROM buckets WHERE vec_id = $queryId),
       |cand AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM buckets b JOIN qb ON b.t = qb.t AND b.bucket = qb.bucket
       |  WHERE b.vec_id <> $queryId),
       |qv AS (SELECT embedding AS qe FROM embeddings
       |       WHERE vec_id = $queryId)
       |SELECT e.vec_id, ${cosineSql("e.embedding", "qe")} AS cosine
       |FROM embeddings e JOIN cand c ON c.vec_id = e.vec_id, qv
       |ORDER BY cosine DESC, e.vec_id LIMIT $k""".stripMargin

  /** DuckDB oracle for [[cosineNearDupMd5Pairs]] (gate parameters of
    * [[cosineNearDupMd5Query]]). */
  def cosineNearDupMd5Sql(threshold: Double = 0.2, numPlanes: Int = 12,
      tables: Int = 4, dim: Int = 64, maxBucketSize: Int = 1000): String =
    s"""WITH ${bucketsSql(tables, numPlanes, dim)},
       |capped AS (
       |  SELECT vec_id, t, bucket FROM (
       |    SELECT vec_id, t, bucket,
       |      COUNT(*) OVER (PARTITION BY t, bucket) AS bsz
       |    FROM buckets) m
       |  WHERE bsz <= $maxBucketSize),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM capped a JOIN capped b
       |    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |scored AS (
       |  SELECT c.id_a, c.id_b,
       |    ${cosineSql("ea.embedding", "eb.embedding")} AS cosine
       |  FROM cand c
       |  JOIN embeddings ea ON ea.vec_id = c.id_a
       |  JOIN embeddings eb ON eb.vec_id = c.id_b)
       |SELECT id_a, id_b, cosine FROM scored
       |WHERE cosine >= $threshold
       |ORDER BY id_a, id_b""".stripMargin

  /** DuckDB oracle for [[annIvfMd5]]. */
  def annIvfMd5Sql(queryId: Long = 0L, k: Int = 10, nlist: Int = 16,
      nprobe: Int = 4, dim: Int = 64): String =
    s"""WITH xq AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE)
       |      * CAST(1000000 AS DOUBLE)) AS BIGINT)) AS q
       |  FROM embeddings),
       |seeds AS (
       |  SELECT seed_id, row_number() OVER (ORDER BY h, seed_id) AS srank
       |  FROM (
       |    SELECT vec_id AS seed_id,
       |      ${nibsSql("hh", 1)} AS h
       |    FROM (SELECT vec_id,
       |            md5(CAST(vec_id AS VARCHAR) || '|ivf') AS hh
       |          FROM embeddings))
       |  ORDER BY h, seed_id LIMIT $nlist),
       |sq AS (SELECT s.srank, x.q AS sq
       |       FROM seeds s JOIN xq x ON x.vec_id = s.seed_id),
       |dist AS (
       |  SELECT x.vec_id, s.srank,
       |    list_sum(list_transform(range(1, $dim + 1),
       |      i -> (x.q[i] - s.sq[i]) * (x.q[i] - s.sq[i]))) AS d2
       |  FROM xq x CROSS JOIN sq s),
       |assigned AS (
       |  SELECT vec_id, srank AS list_id FROM (
       |    SELECT vec_id, srank, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY d2, srank) AS rn
       |    FROM dist) r WHERE rn = 1),
       |probe AS (SELECT srank AS list_id FROM dist
       |          WHERE vec_id = $queryId
       |          ORDER BY d2, srank LIMIT $nprobe),
       |qv AS (SELECT embedding AS qe FROM embeddings
       |       WHERE vec_id = $queryId)
       |SELECT e.vec_id, ${cosineSql("e.embedding", "qe")} AS cosine
       |FROM assigned a JOIN probe p ON p.list_id = a.list_id
       |JOIN embeddings e ON e.vec_id = a.vec_id, qv
       |WHERE e.vec_id <> $queryId
       |ORDER BY cosine DESC, e.vec_id LIMIT $k""".stripMargin

  /** Recall@k of the multi-probe SRP-LSH ANN ([[annLsh]], production
    * geometry) against the exact brute-force top-k, as ONE scalar row —
    * the ANN-quality number the ScalaTest recall-floor tests bound,
    * surfaced as a driver-checkable query. Deterministic: seeded
    * hyperplanes, fixed data, exact re-rank. `hits` is the intersection
    * size (BIGINT), `recall_at_10` the ratio. */
  def annRecallQuery(s: SparkSession, d: String, queryId: Long = 0L,
      k: Int = 10): DataFrame = {
    val ann = annLsh(s, d, queryId, k, multiProbe = true)
      .select(col("vec_id"))
    knnBruteForce(s, d, queryId, k)
      .join(ann, Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("hits"),
        (count(lit(1)) / lit(k.toDouble)).as("recall_at_10"))
  }
}
