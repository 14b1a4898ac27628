package graft

import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** Invariant tests for the near-dedup sketches (MinHash-LSH, SimHash,
  * shingling) that have no SQL oracle. */
class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and " +
    "again with many more words to make shingles " + (1 to 30)
    .map(i => s"w$i").mkString(" ")

  test("tokenShingles produces n-k+1 shingles of k tokens") {
    val out = Seq("a b c d e").toDF("t")
      .select(Dedup.tokenShingles($"t", 3).as("s"))
      .collect()(0).getSeq[String](0)
    assert(out == Seq("a b c", "b c d", "c d e"))
  }

  test("tokenShingles falls back to whole text when too short") {
    val out = Seq("a b").toDF("t")
      .select(Dedup.tokenShingles($"t", 3).as("s"))
      .collect()(0).getSeq[String](0)
    assert(out == Seq("a b"))
  }

  test("charShingles yields distinct k-grams") {
    val out = Seq("abcab").toDF("t")
      .select(Dedup.charShingles($"t", 3).as("s"))
      .collect()(0).getSeq[String](0)
    assert(out == Seq("abc", "bca", "cab"))
  }

  test("minhash signature is identical for identical text") {
    val df = Seq((1L, base), (2L, base)).toDF("id", "text")
      .select($"id", Dedup.minHashSignature(
        Dedup.shingleHashes(Dedup.tokenShingles($"text", 3)), 16).as("sig"))
    val sigs = df.collect().map(_.getSeq[Long](1))
    assert(sigs(0) == sigs(1))
  }

  test("minHashNearDupPairs finds exact duplicates with jaccard 1.0") {
    val docs = Seq((1L, base), (2L, base),
      (3L, "totally different content words entirely unrelated corpus"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minHashNearDupPairs(docs, "text", "doc_id",
      threshold = 0.9).collect()
    assert(pairs.length == 1)
    assert(pairs(0).getLong(0) == 1L && pairs(0).getLong(1) == 2L)
    assert(pairs(0).getDouble(2) == 1.0)
  }

  test("minHashNearDupPairs finds near-duplicates above threshold") {
    val mutated = base.replace("quick", "fast")
    val docs = Seq((1L, base), (2L, mutated)).toDF("doc_id", "text")
    val pairs = Dedup.minHashNearDupPairs(docs, "text", "doc_id",
      threshold = 0.5).collect()
    assert(pairs.length == 1)
    val j = pairs(0).getDouble(2)
    assert(j > 0.5 && j < 1.0, s"jaccard $j")
  }

  test("minHashNearDupPairs emits nothing for disjoint docs") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    assert(Dedup.minHashNearDupPairs(docs, "text", "doc_id",
      threshold = 0.1).count() == 0)
  }

  test("pair generation is symmetric-free: id_a < id_b always") {
    val docs = Seq((5L, base), (2L, base), (9L, base)).toDF("doc_id", "text")
    val pairs = Dedup.minHashNearDupPairs(docs, "text", "doc_id",
      threshold = 0.9).collect()
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    // 3 identical docs -> 3 unordered pairs
    assert(pairs.length == 3)
  }

  test("codegen'd char-shingle exploder matches hashed charShingles") {
    val docs = Seq((1L, "abcdefgab"), (2L, "xy")).toDF("doc_id", "text")
    val viaExplode = Dedup
      .explodedCharShingleHashes(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaHof = docs.select($"doc_id",
        explode(Dedup.shingleHashes(Dedup.charShingles($"text", 3))).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaExplode == viaHof)
  }

  test("codegen'd token-shingle exploder is set-equivalent to tokenShingles") {
    val docs = Seq((1L, base), (2L, base.replace("quick", "fast")),
      (3L, "a b"), (4L, "")).toDF("doc_id", "text")
    // hash VALUES differ by construction (hash-of-hashes vs
    // hash-of-string), so equivalence is at the set level: identical
    // per-doc set sizes and identical pairwise Jaccard
    val viaLead = Dedup.explodedTokenShingleHashes(docs, "doc_id", "text", 3)
      .groupBy("id").agg(collect_set($"h").as("sh"))
    val viaHof = docs.select($"doc_id".as("id"),
      Dedup.shingleHashes(Dedup.tokenShingles($"text", 3)).as("sh"))
    val sizes = (df: org.apache.spark.sql.DataFrame) =>
      df.select($"id", size($"sh").as("n"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(sizes(viaLead) == sizes(viaHof))
    val jac = (df: org.apache.spark.sql.DataFrame) =>
      df.as("a").join(df.as("b"), $"a.id" < $"b.id")
        .select($"a.id", $"b.id",
          round(Dedup.jaccard($"a.sh", $"b.sh"), 9).as("j"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
    assert(jac(viaLead) == jac(viaHof))
  }

  test("token-shingle exploder: short doc contributes one whole-text hash") {
    val out = Dedup.explodedTokenShingleHashes(
      Seq((7L, "a b")).toDF("doc_id", "text"), "doc_id", "text", 3).collect()
    assert(out.length == 1 && out(0).getLong(0) == 7L)
  }

  test("LSH bucket cap bounds degenerate buckets (no N^2 blowup)") {
    val docs = (1L to 40L).map(i => (i, base)).toDF("doc_id", "text")
    val exploded = Dedup.explodedTokenShingleHashes(docs, "doc_id", "text", 3)
    // uncapped: 40 identical docs -> all C(40,2) pairs
    assert(Dedup.lshNearDupPairsFromHashes(exploded, bands = 4,
      rowsPerBand = 2, threshold = 0.9, tag = "cap") .count() == 40L * 39 / 2)
    // capped below the bucket size: the degenerate bucket is dropped
    // entirely, so candidates stay O(N * cap) — here zero
    assert(Dedup.lshNearDupPairsFromHashes(exploded, bands = 4,
      rowsPerBand = 2, threshold = 0.9, tag = "cap",
      maxBucketSize = 10).count() == 0)
  }

  test("materializeCappedPairs reports the dropped memberships and pair " +
      "bound the LSH and SRP builds' bucket aggregation computes") {
    // 40 identical docs share every band bucket; three others sit alone
    val docs = ((1L to 40L).map((_, base)) ++ Seq(
      (41L, "alpha beta gamma delta epsilon zeta eta theta"),
      (42L, "one two three four five six seven eight nine"),
      (43L, "red green blue cyan magenta yellow black white")))
      .toDF("doc_id", "text")
    val index = Dedup.signatureIndex(
      Dedup.explodedTokenShingleHashes(docs, "doc_id", "text", 3), 8)
    val lsh = Dedup.bandKeys(index, 4, 2, "fixture")
      .select($"id", $"band", $"bucket")
    // an SRP-shaped (id, tbl, bucket) table: one 30-member bucket per
    // table, the rest in buckets of three
    val srp = (1L to 60L).flatMap(id => (0 until 2).map(t =>
        (id, t, if (id <= 30) 0L else id % 10)))
      .toDF("id", "tbl", "bucket")
    Seq(lsh -> Seq("band", "bucket"), srp -> Seq("tbl", "bucket"))
      .foreach { case (members, keys) =>
        val sizes = members.groupBy(keys.map(col): _*).count()
          .collect().map(_.getLong(keys.size))
        Seq(10, 1000).foreach { cap =>
          val built = Dedup.materializeCappedPairs(members, keys, "id", cap,
            "fixture")(_.distinct())
          try {
            // the parent builds' sum(bsz > cap) and sum(bsz - 1) / 2
            assert(built.dropped == sizes.filter(_ > cap).sum, s"$keys $cap")
            assert(built.pairBound ==
              sizes.filter(_ <= cap).map(b => b * (b - 1) / 2).sum,
              s"$keys $cap")
            assert(built.rows == built.pairs.count())
          } finally built.pairs.unpersist()
        }
      }
  }

  test("a pair-index build that throws mid-materialization leaves " +
      "nothing persisted") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val boom = udf { (id: Long) =>
      if (id == 13L) throw new IllegalStateException("boom"); id }
    // a caller pin, materialized before the build, as the LSH index is
    val pin = spark.range(0, 100).toDF("id").persist()
    pin.count()
    val members = spark.range(0, 100, 1, 4)
      .select(boom($"id").as("id"), ($"id" % 7).as("bucket"))
    intercept[org.apache.spark.SparkException] {
      Dedup.materializeCappedPairs(members, Seq("bucket"), "id", 1000,
        "throwing", pins = Seq(pin))(_.distinct())
    }
    assert(sc.getPersistentRDDs.keySet.toSet == before)
  }

  test("char-gram LSH via the exploded entry point finds exact dups") {
    val docs = Seq((1L, base), (2L, base),
      (3L, "completely different characters in this unrelated document"))
      .toDF("doc_id", "text")
    val pairs = Dedup.lshNearDupPairsFromHashes(
      Dedup.explodedCharShingleHashes(docs, "doc_id", "text", 5),
      bands = 8, rowsPerBand = 4, threshold = 0.9, tag = "cband").collect()
    assert(pairs.length == 1)
    assert(pairs(0).getLong(0) == 1L && pairs(0).getLong(1) == 2L)
    assert(pairs(0).getDouble(2) == 1.0)
  }

  test("columnar simHashDf is bit-identical to the scalar simHash") {
    val docs = Seq((1L, base), (2L, base.replace("quick", "fast")),
      (3L, "short text here")).toDF("doc_id", "text")
    val scalar = docs.select($"doc_id", Dedup.simHash($"text").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val columnar = Dedup.simHashDf(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scalar == columnar)
  }

  test("simHash is deterministic and identical for identical text") {
    val out = Seq((1L, base), (2L, base)).toDF("id", "text")
      .select(Dedup.simHash($"text").as("sh")).collect().map(_.getLong(0))
    assert(out(0) == out(1))
  }

  test("simHash of near-identical text is close in Hamming distance") {
    val mutated = base.replace("quick", "fast")
    val out = Seq((1L, base), (2L, mutated)).toDF("id", "text")
      .select(Dedup.simHash($"text").as("sh")).collect().map(_.getLong(0))
    val hamming = java.lang.Long.bitCount(out(0) ^ out(1))
    assert(hamming <= 12, s"hamming $hamming")
  }

  test("simHashNearDups pairs identical docs at distance 0") {
    val docs = Seq((1L, base), (2L, base),
      (3L, "different words entirely here unrelated to anything else"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simHashNearDups(docs, "text", "doc_id").collect()
    assert(pairs.length == 1)
    assert(pairs(0).getLong(0) == 1L && pairs(0).getLong(1) == 2L)
    assert(pairs(0).get(2).toString.toInt == 0)
  }

  test("simhash pigeonhole bucket cap bounds degenerate buckets") {
    Dedup.clearLshCache()
    // an all-near-identical corpus: every doc lands in the same bucket
    // of every chunk — uncapped, that is the quadratic blowup
    val docs = (1L to 40L).map(i => (i, base)).toDF("doc_id", "text")
    assert(Dedup.simHashNearDups(docs, "text", "doc_id")
      .count() == 40L * 39 / 2)
    // capped below the bucket size: the degenerate buckets are dropped
    // entirely (logged), so the candidate count is bounded — here zero
    assert(Dedup.simHashNearDups(docs, "text", "doc_id",
      maxBucketSize = 10).count() == 0)
    // a mixed corpus under the same cap still pairs its small buckets
    val mixed = Seq((1L, base), (2L, base),
      (3L, "different words entirely here unrelated to anything else"))
      .toDF("doc_id", "text")
    assert(Dedup.simHashNearDups(mixed, "text", "doc_id",
      maxBucketSize = 10).count() == 1)
    Dedup.clearLshCache()
  }

  test("incremental batch-vs-index near-dedup catches dups, passes novel docs") {
    val corpus = Seq((10L, base), (11L, "some other corpus document " +
      "with enough words to shingle it three times over"))
      .toDF("doc_id", "text")
    val corpusIdx = Dedup.signatureIndex(
      Dedup.explodedTokenShingleHashes(corpus, "doc_id", "text", 3), 64)
    val batch = Seq((100L, base), // exact dup of corpus doc 10
      (101L, "an entirely novel crawl result about different topics"))
      .toDF("doc_id", "text")
    val hits = Dedup.lshNearDupNewVsIndex(
      Dedup.explodedTokenShingleHashes(batch, "doc_id", "text", 3),
      corpusIdx, bands = 16, rowsPerBand = 4, threshold = 0.9)
      .collect()
    assert(hits.length == 1)
    assert(hits(0).getLong(0) == 100L && hits(0).getLong(1) == 10L)
    assert(hits(0).getDouble(2) == 1.0)
  }

  test("signature index round-trips through parquet and still probes") {
    val corpus = Seq((10L, base)).toDF("doc_id", "text")
    val idx = Dedup.signatureIndex(
      Dedup.explodedTokenShingleHashes(corpus, "doc_id", "text", 3), 64)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sigidx_").resolve("idx").toString
    Dedup.writeSignatureIndex(idx, dir)
    val stored = Dedup.readSignatureIndex(spark, dir)
    val batch = Dedup.explodedTokenShingleHashes(
      Seq((100L, base)).toDF("doc_id", "text"), "doc_id", "text", 3)
    val hits = Dedup.lshNearDupNewVsIndex(batch, stored,
      bands = 16, rowsPerBand = 4, threshold = 0.9).collect()
    assert(hits.length == 1 && hits(0).getLong(1) == 10L)
    assert(hits(0).getDouble(2) == 1.0)
  }

  test("batch-vs-index probe on an EMPTY corpus index yields no matches") {
    val empty = Dedup.signatureIndex(
      Dedup.explodedTokenShingleHashes(
        Seq.empty[(Long, String)].toDF("doc_id", "text"),
        "doc_id", "text", 3), 64)
    val batch = Dedup.explodedTokenShingleHashes(
      Seq((1L, base)).toDF("doc_id", "text"), "doc_id", "text", 3)
    assert(Dedup.lshNearDupNewVsIndex(batch, empty,
      bands = 16, rowsPerBand = 4, threshold = 0.9).count() == 0)
  }

  test("batch-vs-index probe fails fast on signature-width mismatch") {
    val corpus = Seq((10L, base)).toDF("doc_id", "text")
    val idx32 = Dedup.signatureIndex(
      Dedup.explodedTokenShingleHashes(corpus, "doc_id", "text", 3), 32)
    val batch = Dedup.explodedTokenShingleHashes(
      Seq((1L, base)).toDF("doc_id", "text"), "doc_id", "text", 3)
    val e = intercept[IllegalArgumentException] {
      Dedup.lshNearDupNewVsIndex(batch, idx32,
        bands = 16, rowsPerBand = 4, threshold = 0.9)
    }
    assert(e.getMessage.contains("32 signature components"))
  }

  test("q63 and q87 build through IndexMemo, and IndexMemo.clear() " +
      "releases both caches") {
    graft.ops.IndexMemo.clear()
    val sc = spark.sparkContext
    def pinnedIds = sc.getPersistentRDDs.keySet.toSet
    val before = pinnedIds
    Seq("q63_dedup_clusters", "q87_ann_ivf_exact").foreach { q =>
      SparkEntry.queries(q)(spark, sf("")).collect()
    }
    val counts = graft.ops.IndexMemo.buildCounts
    assert(counts.get("nearDupClusters").contains(1L), counts)
    assert(counts.get("ivfIndex").contains(1L), counts)
    val built = pinnedIds -- before
    assert(built.nonEmpty, "the builds should pin their caches")
    graft.ops.IndexMemo.clear()
    // ids, not counts: the ContextCleaner may release earlier suites'
    // blocks meanwhile, so the set can only shrink below its baseline
    assert(pinnedIds.subsetOf(before),
      s"blocks survived clear: ${pinnedIds -- before}")
  }

  test("nearDupClusters puts exact duplicates in one cluster") {
    val clusters = Dedup.nearDupClusters(spark, sf("documents"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every doc is labeled
    assert(clusters.size == Tables.documents(spark, sf("documents")).count())
    // exact dups (identical text) must share a cluster
    val texts = Tables.documents(spark, sf("documents"))
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    texts.groupBy(_._2).values.filter(_.length > 1).foreach { g =>
      assert(g.map(x => clusters(x._1)).distinct.length == 1)
    }
    // labels are canonical: the label is the min id of its members
    clusters.groupBy(_._2).foreach { case (lbl, members) =>
      assert(lbl == members.keys.min)
    }
  }

  test("exact dedup keeps one row per distinct content, lowest id (sf0.001)") {
    val kept = Dedup.exactDedupKeepFirst(spark, sf("documents"))
    val total = Tables.documents(spark, sf("documents")).count()
    val distinctTexts = Tables.documents(spark, sf("documents"))
      .select("text").distinct().count()
    assert(kept.count() == distinctTexts)
    assert(kept.count() <= total)
  }

  test("clusterSplit never puts near-duplicates on both sides") {
    val out = graft.ops.Dedup.clusterSplit(spark, sf("documents")).collect()
    assert(out.nonEmpty)
    assert(out.map(_.getString(2)).toSet.subsetOf(Set("train", "heldout")))
    // leakage-safety: every cluster maps to exactly one split
    out.groupBy(_.getLong(1)).foreach { case (c, rs) =>
      assert(rs.map(_.getString(2)).toSet.size == 1, s"cluster $c leaks") }
    // determinism across runs
    val again = graft.ops.Dedup.clusterSplit(spark, sf("documents"))
      .collect().map(r => (r.getLong(0), r.getString(2))).sorted
    assert(again.sameElements(
      out.map(r => (r.getLong(0), r.getString(2))).sorted))
  }

  test("keepBestInCluster keeps one exemplar per cluster, the best one") {
    val labels = graft.ops.Dedup.nearDupClusters(spark, sf("documents"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val out = graft.ops.Dedup.keepBestInCluster(spark, sf("documents"))
      .collect()
    // exactly one row per distinct cluster
    assert(out.map(_.getLong(1)).sorted
      .sameElements(labels.values.toArray.distinct.sorted))
    // the kept doc really is a member of the cluster it represents
    out.foreach { r => assert(labels(r.getLong(0)) == r.getLong(1)) }
    // and it has the cluster's max quality
    val quality = Tables.documents(spark, sf("documents"))
      .select($"doc_id", org.apache.spark.sql.functions.round(
        graft.ops.TextOps.qualityScore($"text"), 6).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val best = labels.groupBy(_._2).map { case (c, m) =>
      c -> m.keys.map(quality).max }
    out.foreach { r =>
      assert(quality(r.getLong(0)) == best(r.getLong(1)), s"cluster ${r.getLong(1)}") }
  }
}
