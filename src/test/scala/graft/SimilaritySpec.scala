package graft

import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** Tests for vector similarity: exact math on known vectors, top-k
  * shape, and ANN-vs-brute-force agreement on the synthetic table. */
class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  test("embeddings vec_id unique (the limit-bound contract's gate)") {
    // Tables.embeddings CONTRACT: the single-query probes' limit(1)
    // and knnJoin's limit(numQueries) restate vec_id uniqueness as a
    // plan-visible bound; a duplicate id would make them silently
    // drop rows, so the invariant gets its own data-quality check
    val emb = graft.Tables.embeddings(spark, sf("embeddings"))
    val total = emb.count()
    val distinct = emb.select(col("vec_id")).distinct().count()
    assert(total == distinct,
      s"embeddings.vec_id must be unique: $total rows, $distinct ids")
  }

  test("dot / l2Norm / cosine on known vectors") {
    val df = Seq((Seq(1.0f, 2.0f, 2.0f), Seq(2.0f, 0.0f, 0.0f)))
      .toDF("a", "b")
    val row = df.select(
      Similarity.dot($"a", $"b").as("dot"),
      Similarity.l2Norm($"a").as("na"),
      Similarity.cosine($"a", $"b").as("cos")).collect()(0)
    assert(row.getDouble(0) == 2.0)
    assert(row.getDouble(1) == 3.0)
    assert(math.abs(row.getDouble(2) - 2.0 / (3.0 * 2.0)) < 1e-12)
  }

  test("cosine of identical vectors is 1, orthogonal is 0, zero is null") {
    val df = Seq(
      (Seq(1.0f, 1.0f), Seq(1.0f, 1.0f)),
      (Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)),
      (Seq(0.0f, 0.0f), Seq(1.0f, 1.0f))).toDF("a", "b")
    val out = df.select(Similarity.cosine($"a", $"b").as("c")).collect()
    assert(math.abs(out(0).getDouble(0) - 1.0) < 1e-12)
    assert(out(1).getDouble(0) == 0.0)
    assert(out(2).isNullAt(0))
  }

  test("knnBruteForce returns k rows, sorted desc, excluding the query") {
    val out = Similarity.knnBruteForce(spark, sf("embeddings"), 0L, 10)
      .collect()
    assert(out.length == 10)
    assert(out.forall(_.getLong(0) != 0L))
    val sims = out.map(_.getDouble(1))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
  }

  test("annLsh candidates are a subset of brute-force ranking prefix quality") {
    val brute = Similarity.knnBruteForce(spark, sf("embeddings"), 0L, 50)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ann = Similarity.annLsh(spark, sf("embeddings"), 0L, 10)
      .collect()
    assert(ann.nonEmpty)
    // every ANN hit's cosine must equal the brute-force cosine when present
    ann.foreach { r =>
      brute.get(r.getLong(0)).foreach(b =>
        assert(math.abs(b - r.getDouble(1)) < 1e-9))
    }
    val sims = ann.map(_.getDouble(1))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
  }

  test("cosineNearDupPairs finds identical vectors, skips orthogonal ones") {
    val rnd = new scala.util.Random(5)
    val v1 = Seq.fill(64)(rnd.nextGaussian().toFloat)
    val v2 = Seq.tabulate(64)(i => if (i % 2 == 0) 1.0f else 0.0f)
    val v3 = Seq.tabulate(64)(i => if (i % 2 == 1) 1.0f else 0.0f)
    val emb = Seq((1L, v1), (2L, v1), (3L, v2), (4L, v3))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.95).collect()
    assert(pairs.length == 1)
    assert(pairs(0).getLong(0) == 1L && pairs(0).getLong(1) == 2L)
    assert(pairs(0).getDouble(2) == 1.0)
  }

  test("SRP banded self-join shuffles no array column (ids only)") {
    // the candidate join must move (tbl, bucket, id) triples, never the
    // vectors — the 100 TB shuffle-volume discipline. AQE off so the
    // pre-execution physical plan exposes its exchanges to collect().
    val emb = Tables.embeddings(spark, sf("embeddings"))
    val banded = graft.ops.Dedup.cappedBucketPairs(
      emb.select($"vec_id".as("id"), ($"vec_id" % 16).as("tbl"),
        ($"vec_id" % 32).as("bucket")),
      Seq("tbl", "bucket"), "id", 1000, "srp").distinct()
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val exchanges = banded.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.nonEmpty, "expected a shuffled candidate join")
      exchanges.foreach { e =>
        val arrays = e.output.filter(
          _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
        assert(arrays.isEmpty,
          s"banded join shuffles array columns: ${arrays.mkString(",")}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("SRP near-dup pairs are a subset of the exact cosine pairs") {
    val srp = Similarity.cosineNearDupQuery(spark, sf("embeddings"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = Similarity.cosinePairsExact(spark, sf("embeddings"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(srp.nonEmpty)
    // soundness: every SRP-verified pair is an exact pair with the SAME
    // score (the verification cosine is the exact cosine)
    srp.foreach { case (k, c) =>
      assert(exact.get(k).contains(c), s"pair $k: srp=$c exact=${exact.get(k)}")
    }
  }

  test("IVF with full probe equals brute force; partial probe is a subset") {
    val brute = Similarity.knnBruteForce(spark, sf("embeddings"), 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val full = Similarity.annIvf(spark, sf("embeddings"), 0L, 10,
      nlist = 8, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(full.sameElements(brute)) // exhaustive probe == exact
    val partial = Similarity.annIvf(spark, sf("embeddings"), 0L, 10,
      nlist = 8, nprobe = 2).collect()
    assert(partial.nonEmpty)
    val bruteMap = brute.toMap
    partial.foreach(r => bruteMap.get(r.getLong(0)).foreach(b =>
      assert(math.abs(b - r.getDouble(1)) < 1e-9)))
  }

  test("md5-SRP near-dup pairs are a subset of the exact cosine pairs") {
    // the oracle-expressible integer-SRP family must keep the same
    // soundness contract as the Gaussian family: every verified pair
    // appears in the all-pairs exact scan with the SAME score
    val srp = Similarity.cosineNearDupMd5Query(spark, sf("embeddings"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = Similarity.cosinePairsExact(spark, sf("embeddings"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(srp.nonEmpty)
    srp.foreach { case (k, c) =>
      assert(exact.get(k).contains(c),
        s"pair $k: md5-srp=$c exact=${exact.get(k)}")
    }
  }

  test("md5-LSH ANN hits carry exact brute-force cosines, sorted desc") {
    val brute = Similarity.knnBruteForce(spark, sf("embeddings"), 0L, 500)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ann = Similarity.annLshMd5(spark, sf("embeddings"), 0L, 10)
      .collect()
    assert(ann.nonEmpty)
    ann.foreach { r =>
      brute.get(r.getLong(0)).foreach(b =>
        assert(math.abs(b - r.getDouble(1)) < 1e-9))
    }
    val sims = ann.map(_.getDouble(1))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
  }

  test("seeded IVF with full probe equals brute force; partial is sound") {
    val brute = Similarity.knnBruteForce(spark, sf("embeddings"), 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val full = Similarity.annIvfMd5(spark, sf("embeddings"), 0L, 10,
      nlist = 8, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(full.sameElements(brute)) // exhaustive probe == exact
    val partial = Similarity.annIvfMd5(spark, sf("embeddings"), 0L, 10,
      nlist = 8, nprobe = 2).collect()
    assert(partial.nonEmpty)
    val bruteAll = Similarity.knnBruteForce(spark, sf("embeddings"), 0L, 500)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    partial.foreach(r => bruteAll.get(r.getLong(0)).foreach(b =>
      assert(math.abs(b - r.getDouble(1)) < 1e-9)))
  }

  test("md5 family shares ONE quantized-parent build across entry points") {
    // ADVICE r16: annIvfMd5 passed a PROJECTED embeddings plan to
    // quantEmbMd5 while the SRP/LSH callers passed the raw table; the
    // memo keys on the input plan's semantic hash, so two corpus-wide
    // quantized parents were built and pinned. All entry points must
    // resolve to the same memo entry — at corpus scale the difference
    // is one wide scan + pinned copy vs two.
    Similarity.cosineNearDupMd5Query(spark, sf("embeddings")).count()
    val afterFirst =
      graft.ops.IndexMemo.buildCounts.getOrElse("quantEmb", 0L)
    Similarity.annLshMd5(spark, sf("embeddings"), 0L, 5).count()
    Similarity.annIvfMd5(spark, sf("embeddings"), 0L, 5,
      nlist = 8, nprobe = 2).count()
    val afterAll =
      graft.ops.IndexMemo.buildCounts.getOrElse("quantEmb", 0L)
    assert(afterAll == afterFirst,
      s"quantEmb built $afterAll times (was $afterFirst after the " +
        "first family call): an entry point is forking the shared " +
        "quantized parent")
  }

  test("measured IVF recall@10 over multiple queries clears a floor") {
    val queries = Seq(0L, 7L, 23L, 111L, 202L)
    val recalls = queries.map { q =>
      val brute = Similarity.knnBruteForce(spark, sf("embeddings"), q, 10)
        .collect().map(_.getLong(0)).toSet
      val approx = Similarity.annIvf(spark, sf("embeddings"), q, 10,
        nlist = 8, nprobe = 4).collect().map(_.getLong(0)).toSet
      brute.intersect(approx).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    info(f"IVF recall@10 nprobe=4/8: $mean%.2f (per-query: $recalls)")
    // gaussian embeddings have no cluster structure — the hostile case
    // for IVF — yet probing half the lists must recover a majority
    assert(mean >= 0.5, f"mean recall $mean%.2f below floor")
  }

  test("multi-probe LSH recall is at least single-probe recall") {
    val queries = Seq(0L, 7L, 23L, 111L, 202L)
    def recall(multi: Boolean): Double = queries.map { q =>
      val brute = Similarity.knnBruteForce(spark, sf("embeddings"), q, 10)
        .collect().map(_.getLong(0)).toSet
      val ann = Similarity.annLsh(spark, sf("embeddings"), q, 10,
        multiProbe = multi).collect().map(_.getLong(0)).toSet
      brute.intersect(ann).size / 10.0
    }.sum / queries.size
    val single = recall(multi = false)
    val multi = recall(multi = true)
    info(f"LSH recall@10 single=$single%.2f multi-probe=$multi%.2f")
    // probing Hamming-1 neighbor buckets only ADDS candidates, and the
    // exact re-rank keeps ordering — recall is monotone
    assert(multi >= single)
    // deterministic seed: measured 0.38 single -> 0.78 multi-probe at
    // the 6-plane x 8-table default geometry; gaussians have no
    // cluster structure, the hostile case for LSH, so this is the
    // recall floor not the ceiling
    assert(multi >= 0.6, f"multi-probe recall $multi%.2f below floor")
  }

  test("srpBucket is deterministic across invocations") {
    val planes = Similarity.hyperplanes(8, 4, 42L)
    val df = Seq(Seq(0.5f, -1.0f, 2.0f, 0.1f)).toDF("v")
    val a = df.select(Similarity.srpBucket($"v", planes)).collect()(0).getLong(0)
    val b = df.select(Similarity.srpBucket($"v",
      Similarity.hyperplanes(8, 4, 42L))).collect()(0).getLong(0)
    assert(a == b)
  }

  test("TopKByScore equals brute-force sort on random input, any split") {
    val rnd = new scala.util.Random(7)
    val items = Seq.fill(200)(graft.ops.Scored(rnd.nextInt(50).toLong,
      (rnd.nextInt(10) / 10.0)))
    val agg = new Similarity.TopKByScore(5)
    val want = items.sortBy(s => (-s.score, s.id)).take(5)
    // sequential reduce
    val seqRes = agg.finish(items.foldLeft(agg.zero)(agg.reduce))
    assert(seqRes == want)
    // arbitrary partition splits + merges (mergeability)
    Seq(1, 3, 7, 200).foreach { nparts =>
      val parts = items.grouped(math.max(1, items.size / nparts)).toSeq
      val merged = parts.map(_.foldLeft(agg.zero)(agg.reduce))
        .foldLeft(agg.zero)(agg.merge)
      assert(agg.finish(merged) == want, s"nparts $nparts")
    }
  }

  test("mrlRecallQuery equals the intersection of the two rankings") {
    val pre = Similarity.mrlPrefixTopK(spark, sf("embeddings"), dims = 16)
      .collect().map(_.getLong(0)).toSet
    val full = Similarity.knnBruteForce(spark, sf("embeddings"))
      .collect().map(_.getLong(0)).toSet
    assert(pre.size == 10 && full.size == 10)
    val r = Similarity.mrlRecallQuery(spark, sf("embeddings")).collect()(0)
    assert(r.getLong(0) == pre.intersect(full).size.toLong)
    assert(math.abs(r.getDouble(1) - pre.intersect(full).size / 10.0) < 1e-9)
    // determinism of the prefix ranking
    val again = Similarity.mrlPrefixTopK(spark, sf("embeddings"), dims = 16)
      .collect().map(_.getLong(0)).toSet
    assert(again == pre)
  }

  test("mrlCascadeTopK reranks prefix candidates with full cosine") {
    val cascade = Similarity.mrlCascadeTopK(spark, sf("embeddings"),
      dims = 16, candidates = 50).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(cascade.length == 10)
    // the cascade's members must all come from the prefix candidates
    val cand = Similarity.mrlPrefixTopK(spark, sf("embeddings"),
      dims = 16, k = 50).collect().map(_.getLong(0)).toSet
    assert(cascade.forall { case (id, _) => cand(id) })
    // and their scores must equal the full-cosine brute-force scores
    val full = Similarity.knnBruteForce(spark, sf("embeddings"), k = 1000)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    cascade.foreach { case (id, c) =>
      assert(math.abs(full(id) - c) < 1e-9, s"vec $id score $c")
    }
    // cascade recall vs exact top-10 is at least the prefix's own
    val exact10 = Similarity.knnBruteForce(spark, sf("embeddings"))
      .collect().map(_.getLong(0)).toSet
    val pre10 = Similarity.mrlPrefixTopK(spark, sf("embeddings"), dims = 16)
      .collect().map(_.getLong(0)).toSet
    val cascadeHits = cascade.map(_._1).count(exact10)
    assert(cascadeHits >= pre10.intersect(exact10).size)
  }

  test("knnJoin matches a per-query brute-force ranking") {
    val out = Similarity.knnJoin(spark, sf("embeddings"), numQueries = 5, k = 3)
      .collect()
    assert(out.map(_.getLong(0)).distinct.length == 5)
    // per query: exactly ranks 1..3, scores non-increasing
    out.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).sameElements(Array(1L, 2L, 3L)), s"q $q")
      val scores = sorted.map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, s"q $q")
      // rank-1 equals the single-query brute force answer
      val brute = Similarity.knnBruteForce(spark, sf("embeddings"),
        queryId = q, k = 1).head()
      assert(sorted.head.getLong(2) == brute.getLong(0), s"q $q top-1 id")
      assert(sorted.head.getDouble(3) == brute.getDouble(1), s"q $q top-1 sim")
    }
  }

  test("twoNnDimension matches the driver-side TwoNN MLE") {
    val row = Similarity.twoNnDimension(spark, sf("embeddings")).head()
    val emb = graft.Tables.embeddings(spark, sf("embeddings"))
      .select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect()
    def sq(a: Array[Float], b: Array[Float]): Double = {
      var xx = 0.0; var aa = 0.0; var xa = 0.0
      for (i <- a.indices) {
        xx += a(i).toDouble * a(i); aa += b(i).toDouble * b(i)
        xa += a(i).toDouble * b(i)
      }
      xx + aa - 2.0 * xa
    }
    val anchors = emb.filter(_._1 % 11 == 0)
    val logs = anchors.flatMap { case (aid, ae) =>
      val ds = emb.filter(_._1 != aid)
        .map { case (vid, ve) => (sq(ve, ae), vid) }
        .filter(_._1 > 0.0).sorted.take(2)
      if (ds.length == 2) Some(0.5 * math.log(ds(1)._1 / ds(0)._1))
      else None
    }
    assert(row.getLong(0) == logs.length.toLong)
    assert(math.abs(row.getDouble(1) - logs.sum) < 1e-5)
    assert(math.abs(row.getDouble(2) - logs.length / logs.sum) < 1e-3)
    // the estimate must land in (0, 64]: a real manifold dimension,
    // never more than the ambient width
    assert(row.getDouble(2) > 0.0 && row.getDouble(2) <= 64.0)
  }

  test("knnHubness: retrieval mass and corpus partition conservation") {
    // the per-anchor rankings themselves are oracle-checked end to end
    // (q217 hash-matches DuckDB's row_number mirror); here pin the
    // structural invariants any histogram edit must preserve
    val k = 10
    val rows = Similarity.knnHubness(spark, sf("embeddings"), k = k)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val emb = graft.Tables.embeddings(spark, sf("embeddings"))
      .select($"vec_id").as[Long].collect()
    val nAnchors = emb.count(_ % 11 == 0)
    // every anchor retrieves exactly k: Σ occ·count = anchors·k
    assert(rows.map { case (occ, n) => occ * n }.sum == nAnchors.toLong * k)
    // the buckets (including the antihub 0-bucket) partition the corpus
    assert(rows.map(_._2).sum == emb.length.toLong)
    // no vector can be retrieved more often than there are anchors
    assert(rows.map(_._1).max <= nAnchors.toLong)
  }

  test("hardNegatives: cross-label only, ranked by cosine, brute match") {
    val d = sf("embeddings")
    val got = Similarity.hardNegatives(spark, d, sampleMod = 25L, k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    val emb = graft.Tables.embeddings(spark, d)
      .select($"vec_id", $"embedding", $"label")
      .as[(Long, Array[Float], Int)].collect()
    val byId = emb.map(e => e._1 -> e).toMap
    def cos(a: Array[Float], b: Array[Float]): Option[Double] = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      if (na * nb == 0.0) None
      else Some(BigDecimal(dot / (na * nb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    // every returned negative carries a different label than its anchor
    for ((aId, _, negId, _) <- got)
      assert(byId(aId)._3 != byId(negId)._3)
    // brute top-5 for each anchor matches (score desc, id asc ties)
    val anchors = emb.filter(_._1 % 25 == 0)
    for ((aId, ae, aLab) <- anchors) {
      val brute = emb.filter(_._3 != aLab)
        .flatMap(e => cos(e._2, ae).map(c => (e._1, c)))
        .sortBy { case (id, c) => (-c, id) }.take(5)
      val mine = got.filter(_._1 == aId).sortBy(_._2)
        .map(g => (g._3, g._4)).toSeq
      assert(mine == brute.toSeq, s"anchor $aId")
    }
  }

  test("mmrTopK: brute greedy replication; diversity actually bites") {
    val d = sf("embeddings")
    val got = Similarity.mmrTopK(spark, d, queryId = 0L, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._1).toSeq == (1L to 5L))
    val emb = graft.Tables.embeddings(spark, d)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val n = math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum)
      BigDecimal(dot / n).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val q = emb(0L)
    val pool = emb.toSeq.filter(_._1 != 0L)
      .map { case (id, e) => (id, cos(e, q)) }
      .sortBy { case (id, c) => (-c, id) }.take(50)
    val cq = pool.toMap
    var sel = List(pool.head._1)
    while (sel.length < 5) {
      val next = cq.keys.filterNot(sel.contains).map { c =>
        val ms = sel.map(sid => cos(emb(c), emb(sid))).max
        (c, 0.7 * cq(c) - (1.0 - 0.7) * ms)
      }.toSeq.sortBy { case (id, sc) => (-sc, id) }.head._1
      sel = sel :+ next
    }
    assert(got.map(_._2).toSeq == sel)
    assert(got.forall { case (_, id, rc) => math.abs(rc - cq(id)) < 1e-9 })
    // MMR must have reordered vs plain top-k somewhere (else the
    // diversity term did nothing on this corpus)
    val plain = pool.take(5).map(_._1)
    assert(sel != plain.toList, "diversity term had no effect")
  }

  test("jlDistortion: ratios concentrate near 1 and match brute") {
    val d = sf("embeddings")
    val row = Similarity.jlDistortion(spark, d).head()
    val emb = graft.Tables.embeddings(spark, d)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().toMap
    val w = Similarity.jlSigns(64, 16)
    val anchors = emb.keys.filter(_ % 7 == 0).toSeq.sorted
    val ratios = anchors.flatMap { a =>
      emb.get(a + 7).filter(_ => a % 7 == 0).map { eb0 =>
        val ea = emb(a); val eb = eb0
        val dd = Array.tabulate(64)(i => ea(i).toDouble - eb(i).toDouble)
        val st = dd.map(x => x * x).sum
        val sp = (0 until 16).map { j =>
          val p = dd.zipWithIndex.map { case (x, i) => x * w(i)(j) }.sum
          p * p
        }.sum
        (sp / 16.0) / st
      }
    }
    assert(row.getLong(0) == ratios.length.toLong)
    val mean = ratios.sum / ratios.length
    assert(math.abs(row.getDouble(1) - mean) < 1e-4)
    assert(row.getDouble(2) <= row.getDouble(1) &&
      row.getDouble(1) <= row.getDouble(3))
    // JL with 16 of 64 dims: ratios concentrate loosely around 1
    assert(row.getDouble(1) > 0.5 && row.getDouble(1) < 1.5)
    assert(row.getDouble(2) > 0.0)
  }

  test("jlDistortion compiles as whole-stage code and matches the " +
      "oracle's folds term for term") {
    val d = sf("embeddings")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val row =
      try Similarity.jlDistortion(spark, d).head()
      finally spark.conf.unset("spark.sql.codegen.fallback")
    val emb = graft.Tables.embeddings(spark, d)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().toMap
    val w = Similarity.jlSigns(64, 16)
    def round(x: Double, scale: Int): Double =
      BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble
    // jlDistortionSql's chains: left-associated, in index order
    val rq = emb.keys.filter(_ % 7 == 0).toSeq.sorted
      .flatMap(a => emb.get(a + 7).map(emb(a) -> _))
      .map { case (ea, eb) =>
        val dd = Array.tabulate(64)(i => ea(i).toDouble - eb(i).toDouble)
        val sp = (0 until 16).map { j =>
          val p = (0 until 64).map(i => dd(i) * w(i)(j)).reduce(_ + _)
          p * p
        }.reduce(_ + _)
        (sp, (0 until 64).map(i => dd(i) * dd(i)).reduce(_ + _))
      }
      .collect { case (sp, st) if st > 0.0 =>
        round((sp / 16.0) / st * 1e9, 0).toLong }
    assert(rq.nonEmpty)
    assert(row.getLong(0) == rq.size.toLong)
    assert(row.getDouble(1) ==
      round(rq.sum.toDouble / (rq.size.toDouble * 1e9), 6))
    assert(row.getDouble(2) == round(rq.min.toDouble / 1e9, 6))
    assert(row.getDouble(3) == round(rq.max.toDouble / 1e9, 6))
  }

  test("anchorCross chunked fallback is row-identical to the broadcast " +
      "path") {
    // force the chunked path with a tiny bound: the union of disjoint
    // hash-chunk passes must reproduce the single broadcast pass
    // exactly (same pairs, same multiplicity)
    val emb = graft.Tables.embeddings(spark, sf("embeddings"))
      .select($"vec_id", $"embedding").limit(200)
    val anchors = emb.filter($"vec_id" % 11 === 0)
      .select($"vec_id".as("a_id"), $"embedding".as("ae"))
    def pairs(bound: Long) =
      Similarity.anchorCross(emb, anchors, bound)
        .select($"vec_id", $"a_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val viaBroadcast = pairs(1000000L)
    val viaChunks = pairs(3L) // forces ceil(nAnchors/3) corpus passes
    assert(viaChunks == viaBroadcast)
    assert(viaBroadcast.nonEmpty)
  }
}
