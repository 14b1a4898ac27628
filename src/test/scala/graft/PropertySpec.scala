package graft

import java.time.LocalDate

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.expr.Exprs
import graft.ops.Dedup

/** Property-based invariants (SURVEY.md §5 item 2): generated inputs
  * run through the actual Spark expressions in one batch per property
  * (a DataFrame per sample would be 100 Spark jobs; a DataFrame per
  * property is one). */
class PropertySpec extends SparkTestBase {
  import spark.implicits._

  /** Deterministic sample of a generator. */
  private def sample[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val dateGen: Gen[LocalDate] = for {
    day <- Gen.choose(0L, 365L * 80)
  } yield LocalDate.of(1990, 1, 1).plusDays(day)

  test("property: Danish date format/parse round-trips (P5)") {
    val dates = sample(dateGen, 120).distinct
    val out = dates.map(_.toString).toDF("iso")
      .select(col("iso"),
        Exprs.parseDanishDate(
          Exprs.formatDanishDate(col("iso").cast("date"))).as("rt"))
      .collect()
    out.foreach(r => assert(r.getDate(1).toString == r.getString(0)))
  }

  test("property: dd-MM-yyyy embedded-URL date extraction round-trips (P2)") {
    val dates = sample(dateGen, 120).distinct
    val out = dates.map(_.toString).toDF("iso")
      .select(col("iso"), Exprs.extractUrlDate(
        concat(lit("/vis?Referat-d."),
          date_format(col("iso").cast("date"), "dd-MM-yyyy"),
          lit("&id=x"))).as("rt"))
      .collect()
    out.foreach(r => assert(r.getDate(1).toString == r.getString(0)))
  }

  test("property: filename sanitization is idempotent (P8)") {
    val nameGen = Gen.listOfN(24,
      Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('<', '>', ':', '"', '/', '\\',
        '|', '?', '*', ' ', '.', 'æ', 'ø', 'å'))).map(_.mkString)
    val names = sample(nameGen, 150).distinct
    val out = names.toDF("name")
      .select(Exprs.sanitizeFilename(col("name")).as("once"))
      .select(col("once"), Exprs.sanitizeFilename(col("once")).as("twice"))
      .collect()
    out.foreach(r => assert(r.getString(0) == r.getString(1)))
    // and no forbidden character survives
    out.foreach(r => assert(!r.getString(0).exists("<>:\"/\\|?*".contains(_))))
  }

  test("property: first-seen dedup keeps the min id per key (D1)") {
    val rowsGen = Gen.listOfN(200, for {
      k <- Gen.choose(0L, 20L)
      id <- Gen.choose(0L, 10000L)
    } yield (k, id))
    val rows = sample(rowsGen, 1).head.distinct
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"k").orderBy($"id")
    val kept = rows.toDF("k", "id")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = rows.groupBy(_._1).map { case (k, g) =>
      k -> g.map(_._2).min }
    assert(kept == expected)
  }

  test("property: limit-after-filter == filter of sorted prefix (L3)") {
    val valsGen = Gen.listOfN(300, Gen.choose(0, 1000))
    val vals = sample(valsGen, 1).head.zipWithIndex
    val df = vals.toDF("v", "idx")
    val got = df.filter($"v" % 3 === 0).orderBy($"v", $"idx").limit(10)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    val expected = vals.filter(_._1 % 3 == 0).sorted.take(10)
    assert(got == expected)
  }

  test("property: shingle-hash Jaccard equals set Jaccard over tokens") {
    val docGen = Gen.listOfN(30, Gen.oneOf("a", "b", "c", "d", "e", "f"))
      .map(_.mkString(" "))
    val docs = sample(Gen.zip(docGen, docGen), 40)
    val out = docs.toDF("t1", "t2")
      .select($"t1", $"t2",
        Dedup.jaccard(
          Dedup.shingleHashes(Dedup.tokenShingles($"t1", 2)),
          Dedup.shingleHashes(Dedup.tokenShingles($"t2", 2))).as("j"))
      .collect()
    out.foreach { r =>
      def grams(s: String) = s.split(" ").sliding(2).map(_.mkString(" ")).toSet
      val (g1, g2) = (grams(r.getString(0)), grams(r.getString(1)))
      val expected = g1.intersect(g2).size.toDouble / g1.union(g2).size
      assert(math.abs(r.getDouble(2) - expected) < 1e-12)
    }
  }

  test("property: the OPH verify sketch is exact without bucket " +
      "collisions and tracks exact Jaccard within estimator noise") {
    // pure Scala mirror of verifiedMd5NearDups' bounded sketch
    // (min h1 per h1 % K bucket; estimate = matches / occupied union
    // buckets). Two laws: (1) when the pair's UNION has no
    // intra-bucket collision the estimate IS exact Jaccard; (2) on
    // colliding unions the estimate stays within a generous band —
    // per occupied union bucket the match indicator is Bernoulli(J),
    // so |est - J| beyond ~4 sigma flags a broken estimator, not
    // noise.
    val K = 128L
    def h1(g: String): Long =
      graft.ops.Similarity.md5Nibs15("prop|" + g)
    def sketch(grams: Set[String]): Set[Long] =
      grams.map(h1).groupBy(_ % K).values.map(_.min).toSet
    def estimate(a: Set[String], b: Set[String]): Double = {
      val (ka, kb) = (sketch(a), sketch(b))
      val ni = ka.intersect(kb).size
      val nsb = ka.map(_ % K).intersect(kb.map(_ % K)).size
      ni.toDouble / (ka.size + kb.size - nsb)
    }
    val vocab = ('a' to 'z').map(_.toString)
    val smallGen = Gen.chooseNum(2, 20).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(vocab)).map(_.toSet))
    sample(Gen.zip(smallGen, smallGen), 60).foreach { case (a, b) =>
      val union = a.union(b)
      val collides =
        union.map(h1).groupBy(_ % K).values.exists(_.size > 1)
      val exact = a.intersect(b).size.toDouble / union.size
      if (!collides)
        assert(math.abs(estimate(a, b) - exact) < 1e-12,
          s"collision-free pair must be exact: $a $b")
    }
    // large overlapping sets (300 grams >> K): estimator-noise band
    val big = (0 until 300).map(i => s"g$i").toSet
    val variants = Seq(0, 30, 90, 150).map(d =>
      big -- (0 until d).map(i => s"g$i") ++
        (0 until d).map(i => s"x$i"))
    for (v <- variants) {
      val exact = big.intersect(v).size.toDouble / big.union(v).size
      val sigma = math.sqrt(exact * (1 - exact) / K.toDouble)
      assert(math.abs(estimate(big, v) - exact) <= 4 * sigma + 1e-9,
        s"estimate ${estimate(big, v)} vs exact $exact (4s=${4 * sigma})")
    }
  }

  test("property: HtmlParser never throws on arbitrary tag soup") {
    val frag = Gen.oneOf("<div", ">", "</", "a href='x'", "<p>", "tekst",
      "&amp;", "&#xZZ;", "<!--", "--!>", "<span class=\"y\"", "/>", "<a",
      "\"", "'", "<td", "</table>", "<li class='pager__item--next'>",
      "= '", "<<>>", "</p></p>", "<script>var a='<b>';</script>")
    val soup = Gen.listOfN(40, frag).map(_.mkString(" "))
    sample(soup, 80).foreach { html =>
      val root = graft.parse.HtmlParser.parse(html)
      // selection and text extraction must also be total
      graft.parse.HtmlParser.select(root, "a")
      graft.parse.HtmlParser.select(root, "div.x")
      graft.parse.HtmlParser.select(root, "#resultTable tr")
      root.text
    }
  }

  test("property: LSH bucket cap bounds candidates at O(N*cap), not O(N^2)") {
    // N identical docs all land in one bucket per band: uncapped LSH
    // yields C(N,2) pairs; with cap < N the degenerate buckets drop and
    // candidates collapse — for any generated N and any cap
    val base = (1 to 24).map(i => s"tok$i").mkString(" ")
    sample(Gen.zip(Gen.choose(12, 36), Gen.choose(2, 10)), 4).distinct
      .foreach { case (n, cap) =>
        val docs = (1L to n.toLong).map((_, base)).toDF("doc_id", "text")
        val exploded =
          Dedup.explodedTokenShingleHashes(docs, "doc_id", "text", 3)
        val uncapped = Dedup.lshNearDupPairsFromHashes(exploded, bands = 4,
          rowsPerBand = 2, threshold = 0.9, tag = s"p$n").count()
        assert(uncapped == n.toLong * (n - 1) / 2)
        val capped = Dedup.lshNearDupPairsFromHashes(exploded, bands = 4,
          rowsPerBand = 2, threshold = 0.9, tag = s"p$n",
          maxBucketSize = cap).count()
        assert(capped <= n.toLong * cap)
      }
  }

  test("property: cappedBucketPairs equals a driver-side pairing over " +
      "buckets of at most cap members") {
    // (bucket, id, payload) memberships: ids sit in several buckets (one
    // per band) and a payload is a function of the id, carried as p_a/p_b
    val memberGen = Gen.listOfN(60, Gen.zip(Gen.choose(0, 2),
      Gen.choose(0, 5), Gen.choose(1L, 25L)))
    sample(memberGen, 3).zipWithIndex.foreach { case (raw, i) =>
      val members = raw.map { case (band, key, id) =>
        (band, key.toLong, id) }.distinct
      val sizes = members.groupBy(m => (m._1, m._2)).view
        .mapValues(_.size).toMap
      // one cap under every bucket size, one over it, one in between
      Seq(1, sizes.values.max, sizes.values.max / 2 + 1).foreach { cap =>
        val want = members.groupBy(m => (m._1, m._2)).toSeq
          .filter(_._2.size <= cap)
          .flatMap { case (_, ms) =>
            for (a <- ms; b <- ms if a._3 < b._3)
              yield (a._3, b._3, s"p${a._3}", s"p${b._3}")
          }.sorted
        val got = Dedup.cappedBucketPairs(
            members.map { case (band, key, id) => (band, key, id, s"p$id") }
              .toDF("band", "bucket", "id", "p"),
            Seq("band", "bucket"), "id", cap, s"prop$i", Seq("p"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
            r.getString(3))).toSeq.sorted
        assert(got == want, s"sample $i, cap $cap")
      }
    }
  }

  test("property: bucketMinLabels equals union-find over the clique " +
      "edges of a shared key") {
    // one key per document: no key, the one large bucket, or one of a
    // dozen small ones
    val keyGen = Gen.choose(5, 60).flatMap(n => Gen.listOfN(n,
      Gen.frequency(2 -> Gen.const(Option.empty[Int]),
        3 -> Gen.const(Some(0)), 5 -> Gen.choose(1, 12).map(Some(_)))))
    sample(keyGen, 6).zipWithIndex.foreach { case (keys, i) =>
      // ids shuffled against the keys, so a bucket's min is no pattern
      val rows = new scala.util.Random(i)
        .shuffle((1L to keys.size.toLong).toList).zip(keys)
      // a keyless document has either no row or a null key
      val keyed = rows.zipWithIndex.collect {
        case ((id, Some(k)), _) => (id, Option(s"k$k"))
        case ((id, None), j) if j % 2 == 0 => (id, Option.empty[String])
      }.toDF("doc_id", "key")
      val got = Dedup.bucketMinLabels(rows.map(_._1).toDF("doc_id"), keyed)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // the oracle's edges: every pair of documents sharing a key
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      for ((a, Some(ka)) <- rows; (b, Some(kb)) <- rows if ka == kb)
        parent(find(a)) = find(b)
      val want = rows.map { case (v, _) =>
        v -> rows.map(_._1).filter(find(_) == find(v)).min }.toMap
      assert(got == want, s"sample $i: $rows")
    }
  }

  test("property: topGramFraction equals brute-force max-2gram count ratio") {
    val tokGen = Gen.oneOf("a", "b", "c", "ab", "x")
    val docGen = Gen.choose(2, 30).flatMap(n => Gen.listOfN(n, tokGen))
    val docs = sample(docGen, 100).map(_.mkString(" "))
    val out = docs.toDF("text")
      .select(col("text"),
        graft.ops.TextOps.topGramFraction(col("text")).as("f"))
      .collect()
    out.foreach { r =>
      val toks = r.getString(0).split(" ", -1)
      val grams = toks.sliding(2).map(_.mkString(" ")).toSeq
      val want = BigDecimal(
        grams.groupBy(identity).values.map(_.size).max.toDouble / grams.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(1) == want, s"text: ${r.getString(0)}")
    }
  }

  test("property: packSequences conserves tokens and never overfills a bin") {
    // random per-source corpora exercised through the real query path is
    // covered in CurationSpec; here check the pure invariant over the
    // fixture corpus at several context sizes
    Seq(64, 256, 1024).foreach { ctx =>
      val rows = graft.ops.Curation
        .packSequences(spark, sf("documents"), contextTokens = ctx)
        .collect()
      assert(rows.forall(r => r.getLong(3) >= 1 && r.getLong(3) <= ctx))
      val binTotals = rows.groupBy(r => (r.getString(0), r.getLong(1)))
        .map { case (_, rs) => rs.map(_.getLong(3)).sum }
      assert(binTotals.forall(_ <= ctx))
      val total = rows.map(_.getLong(3)).sum
      val want = Tables.documents(spark, sf("documents"))
        .select(org.apache.spark.sql.functions.sum(
          graft.ops.TextOps.tokenCount(col("text")).cast("long")))
        .head().getLong(0)
      assert(total == want, s"ctx $ctx: token conservation")
    }
  }

  test("property: componentLabels equals union-find on random graphs") {
    // random sparse graphs (including isolated-edge fragments and a
    // hub) through the REAL distributed min-label rounds, checked
    // against a driver union-find — one Spark run per graph, 6 graphs
    val edgeGen = for {
      n <- Gen.choose(5, 40)
      m <- Gen.choose(1, 60)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong)
        b <- Gen.choose(0L, n.toLong) if a != b
      } yield (math.min(a, b), math.max(a, b)))
    } yield es.distinct
    sample(edgeGen, 6).filter(_.nonEmpty).foreach { es =>
      val und = es.flatMap { case (a, b) => Seq((a, b), (b, a)) }
        .toDF("u", "v")
      // 64 rounds >> any diameter here: the fixpoint witness must
      // stop early AND land on the exact component labeling
      val got = graft.ops.Graph.componentLabels(und, rounds = 64)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      es.foreach { case (a, b) => parent(find(a)) = find(b) }
      val nodes = es.flatMap { case (a, b) => Seq(a, b) }.distinct
      val want = nodes.map { v =>
        // min-label fixpoint = the component's minimum member id
        val root = find(v)
        v -> nodes.filter(find(_) == root).min
      }.toMap
      assert(got == want, s"edges $es")
    }
  }

  /** Symmetric (u, v) rows of an undirected edge list. */
  private def bothWays(es: Seq[(Long, Long)]) =
    es.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("u", "v")

  /** (node -> lab) of a label table. */
  private def labelMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("property: driver-held componentLabels rounds equal the cut " +
      "rounds") {
    // random sparse graphs plus isolated pairs, a star and a 12-hop
    // path, longer than every round cap below but 64: capped runs must
    // stop at the same unconverged labels, the 64-round run at the
    // same fixpoint. The cut rounds (driverRounds off) are the
    // reference form.
    val edgeGen = for {
      n <- Gen.choose(5, 30)
      m <- Gen.choose(1, 40)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong)
        b <- Gen.choose(0L, n.toLong) if a != b
      } yield (math.min(a, b), math.max(a, b)))
    } yield es.distinct
    val fixed = Seq((100L, 101L), (102L, 103L)) ++
      (201L to 206L).map(200L -> _) ++ (300L until 312L).map(a => (a, a + 1))
    sample(edgeGen, 3).foreach { es =>
      val und = bothWays(es ++ fixed)
      Seq(1, 2, 3, 8, 64).foreach { rounds =>
        val driver =
          labelMap(graft.ops.Graph.componentLabels(und, rounds))
        val cut = labelMap(graft.ops.Graph.componentLabels(und, rounds,
          driverRounds = false))
        assert(driver == cut, s"rounds $rounds, edges $es")
      }
    }
  }

  test("property: driver-held lpaLabels rounds equal the cut rounds on " +
      "tie-heavy graphs") {
    // few labels per neighbourhood and many equal vote counts (cycles,
    // complete bipartite pieces, random pairs over few nodes), so the
    // smallest-label tie rule decides most rounds
    val edgeGen = for {
      n <- Gen.choose(4, 12)
      m <- Gen.choose(1, 24)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong)
        b <- Gen.choose(0L, n.toLong) if a != b
      } yield (math.min(a, b), math.max(a, b)))
    } yield es.distinct
    val cycle = (50L until 56L).map(a => (a, if (a == 55L) 50L else a + 1))
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    val biclique = for (a <- 60L to 62L; b <- 70L to 72L) yield (a, b)
    sample(edgeGen, 3).foreach { es =>
      val und = bothWays(es ++ cycle ++ biclique)
      (1 to 4).foreach { rounds =>
        val driver = labelMap(graft.ops.Graph.lpaLabels(und, rounds))
        val cut = labelMap(graft.ops.Graph.lpaLabels(und, rounds,
          driverRounds = false))
        assert(driver == cut, s"rounds $rounds, edges $es")
      }
    }
  }

  /** prefixSum against the single-window running sums it decomposes
    * (the tokenStreamSingleWindow reference, generalised): for every
    * grouping, frame, sub-range shape and two value columns at once,
    * each row's sums must equal one window over the whole group. */
  test("property: prefixSum equals the single-window running sum") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    import graft.ops.Profiling
    val rowGen = for {
      g <- Gen.oneOf("a", "b", "c")
      k <- Gen.choose(-300L, 300L)
      a <- Gen.choose(0L, 1000L)
      b <- Gen.choose(-50L, 50L)
    } yield (g, k, a, b)
    val rows = sample(rowGen, 1500).zipWithIndex
      .map { case ((g, k, a, b), id) => (id.toLong, g, k, a, b) }
      .toDF("id", "g", "k", "a", "b")
    // a constant order key, kept non-foldable (a literal would be
    // folded out of the partition specs, which is not the data case)
    val constant = rows.withColumn("k",
      when(col("id") >= 0, 7L).otherwise(0L))
    def sums(df: DataFrame) = df.select(col("id"), col("sa"), col("sb"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    def reference(df: DataFrame, groups: Seq[String],
        inclusive: Boolean) = {
      val w = Window.partitionBy(groups.map(col): _*)
        .orderBy(col("k"), col("id"))
        .rowsBetween(Window.unboundedPreceding,
          if (inclusive) Window.currentRow else -1L)
      sums(df.select(col("id"),
        coalesce(sum(col("a")).over(w), lit(0L)).as("sa"),
        coalesce(sum(col("b")).over(w), lit(0L)).as("sb")))
    }
    def twoLevel(df: DataFrame, sub: String, groups: Seq[String],
        inclusive: Boolean) =
      sums(Profiling.prefixSum(df.withColumn("sub", expr(sub)), "sub",
        Seq(col("k"), col("id")), Seq(col("a") -> "sa", col("b") -> "sb"),
        inclusive, groups))
    for {
      (df, sub) <- Seq(
        rows -> "k DIV 40", // negative keys: DIV truncates toward 0
        rows -> "k DIV 100000", // every row in one sub-range
        constant -> "k DIV 16")
      groups <- Seq(Nil, Seq("g"))
      inclusive <- Seq(true, false)
    } {
      val want = reference(df, groups, inclusive)
      assert(want.size == 1500)
      assert(twoLevel(df, sub, groups, inclusive) == want,
        s"sub=$sub groups=$groups inclusive=$inclusive")
    }
    // the contract is load-bearing: a sub-range key that FALLS as the
    // order key rises puts the offsets in the wrong order
    assert(twoLevel(rows, "-k DIV 40", Nil, true) !=
      reference(rows, Nil, true))
  }
}
