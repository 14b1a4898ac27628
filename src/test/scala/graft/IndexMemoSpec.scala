package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity}

/** Lifecycle tests for the memoized operator indexes: repeated calls
  * must be cache reads (no per-call storage growth), and
  * [[Dedup.clearLshCache]] must release every pinned block — the
  * long-running-session contract that replaced per-call
  * persist/unpersist in the LSH/SRP/SimHash operators. */
class IndexMemoSpec extends SparkTestBase {
  import spark.implicits._

  /** Ids, not counts: suites that ran earlier leave localCheckpoint
    * blocks that the ContextCleaner unpersists ASYNCHRONOUSLY, so the
    * global count can shrink mid-test (observed flake). Assertions
    * therefore check "no NEW ids pinned" / "these ids released" —
    * immune to concurrent cleanup of unrelated blocks. */
  private def pinnedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private val filler = (1 to 40).map(i => s"w$i").mkString(" ")
  private def corpus = Seq(
    (1L, s"alpha beta gamma $filler"),
    (2L, s"alpha beta gamma $filler"),
    (3L, s"alpha beta delta $filler"),
    (4L, "totally different content words entirely unrelated corpus " +
      "with its own vocabulary and nothing shared at all")
  ).toDF("doc_id", "text")

  test("repeated LSH pair calls are memo hits with a stable footprint") {
    Dedup.clearLshCache()
    def call() = Dedup.minHashNearDupPairs(corpus, "text", "doc_id",
      threshold = 0.5).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val r1 = call()
    val after1 = pinnedIds
    val r2 = call()
    val r3 = call()
    assert(r1.nonEmpty && r1 == r2 && r2 == r3)
    val grown = pinnedIds -- after1
    assert(grown.isEmpty,
      s"storage grew across repeated calls: new ids $grown")
    Dedup.clearLshCache()
  }

  test("clearLshCache releases every block the build pinned") {
    Dedup.clearLshCache()
    val before = pinnedIds
    Dedup.minHashNearDupPairs(corpus, "text", "doc_id",
      threshold = 0.5).count()
    val built = pinnedIds -- before
    assert(built.nonEmpty, "build should pin index blocks")
    Dedup.clearLshCache()
    val survived = pinnedIds.intersect(built)
    assert(survived.isEmpty, s"blocks survived clear: $survived")
  }

  test("repeated incremental probes keep a stable footprint") {
    Dedup.clearLshCache()
    val bands = 4; val rpb = 2
    val corpusIdx = Dedup.signatureIndex(
      Dedup.explodedTokenShingleHashes(corpus, "doc_id", "text", 3),
      bands * rpb)
    val batch = Seq((100L, s"alpha beta gamma $filler")).toDF("doc_id", "text")
    val newExploded =
      Dedup.explodedTokenShingleHashes(batch, "doc_id", "text", 3)
    def probe() = Dedup.lshNearDupNewVsIndex(newExploded, corpusIdx,
      bands, rpb, threshold = 0.5).count()
    val n1 = probe()
    val after1 = pinnedIds
    assert(probe() == n1 && probe() == n1)
    val leaked = pinnedIds -- after1
    assert(leaked.isEmpty, s"probe leaked storage: new ids $leaked")
    Dedup.clearLshCache()
  }

  test("simhash and SRP operators do not grow storage per call") {
    Dedup.clearLshCache()
    val emb = Tables.embeddings(spark, sf(""))
    Dedup.simHashNearDups(corpus, "text", "doc_id").count()
    Similarity.cosineNearDupPairs(emb, "vec_id", "embedding").count()
    Similarity.annLsh(spark, sf(""), queryId = 0L, k = 5).count()
    val after1 = pinnedIds
    Dedup.simHashNearDups(corpus, "text", "doc_id").count()
    Similarity.cosineNearDupPairs(emb, "vec_id", "embedding").count()
    Similarity.annLsh(spark, sf(""), queryId = 0L, k = 5).count()
    val grown = pinnedIds -- after1
    assert(grown.isEmpty, s"repeat calls grew storage: new ids $grown")
    Dedup.clearLshCache()
  }

  test("per-tag FIFO bound: sequential distinct-batch probes hold O(1) entries") {
    Dedup.clearLshCache()
    val bands = 4; val rpb = 2
    val corpusIdx = Dedup.signatureIndex(
      Dedup.explodedTokenShingleHashes(corpus, "doc_id", "text", 3),
      bands * rpb)
    def probe(i: Long): Unit = {
      // each batch is a DISTINCT literal plan -> a new memo entry under
      // the lshProbe tag, the per-crawl regime the bound exists for
      val batch = Seq((i, s"alpha beta gamma $filler")).toDF("doc_id", "text")
      Dedup.lshNearDupNewVsIndex(
        Dedup.explodedTokenShingleHashes(batch, "doc_id", "text", 3),
        corpusIdx, bands, rpb, threshold = 0.5).count()
    }
    (1L to 8L).foreach(i => probe(100L + i))
    val entriesAt8 = graft.ops.IndexMemo.size
    val footprintAt8 = pinnedIds.size
    (9L to 16L).foreach(i => probe(100L + i))
    assert(graft.ops.IndexMemo.size == entriesAt8,
      s"memo grew past the per-tag bound: $entriesAt8 -> " +
        s"${graft.ops.IndexMemo.size}")
    // FIFO evicts one as it admits one, so the PINNED set rotates but
    // never grows (concurrent cleanup can only shrink the count)
    assert(pinnedIds.size <= footprintAt8,
      s"pinned storage grew past the bound: $footprintAt8 -> " +
        s"${pinnedIds.size}")
    Dedup.clearLshCache()
  }

  test("semanticHash collision degrades to a rebuild, never a wrong answer") {
    import graft.ops.IndexMemo
    import org.apache.spark.sql.DataFrame
    IndexMemo.clear()
    val saved = IndexMemo.planHash
    try {
      // two DIFFERENT plans forced onto the same 32-bit key
      IndexMemo.planHash = _ => 42
      val a = Seq(1).toDF("x"); val b = Seq(2).toDF("x")
      var builds = 0
      def build(v: String): (String, Seq[DataFrame]) = { builds += 1; (v, Nil) }
      assert(IndexMemo.getOrBuild("tCol", "p", Seq(a))(build("A")) == "A")
      assert(IndexMemo.getOrBuild("tCol", "p", Seq(a))(build("A")) == "A")
      assert(builds == 1, "second identical-plan call must be a memo hit")
      // same key, different plan: sameSemantics unmasks the collision ->
      // evict the stale entry and serve a fresh CORRECT build
      assert(IndexMemo.getOrBuild("tCol", "p", Seq(b))(build("B")) == "B")
      assert(builds == 2)
      // the displaced plan rebuilds (degraded) but never gets B's index
      assert(IndexMemo.getOrBuild("tCol", "p", Seq(a))(build("A")) == "A")
      assert(builds == 3)
    } finally { IndexMemo.planHash = saved; IndexMemo.clear() }
  }

  test("collision re-insert holds one tag-queue slot, not two") {
    // The r8 fix: a collision eviction re-inserts the same key string;
    // without dropping the stale queue occurrence first, bounding later
    // pops the stale duplicate and cache.remove()s the LIVE entry
    import graft.ops.IndexMemo
    import org.apache.spark.sql.DataFrame
    IndexMemo.clear()
    val saved = IndexMemo.planHash
    try {
      IndexMemo.planHash = _ => 7 // params distinguish keys below
      var builds = 0
      def build(v: String): (String, Seq[DataFrame]) = { builds += 1; (v, Nil) }
      val a = Seq(1).toDF("x"); val b = Seq(2).toDF("x")
      IndexMemo.getOrBuild("tQ", "k", Seq(a))(build("A"))
      IndexMemo.getOrBuild("tQ", "k", Seq(b))(build("B")) // collision re-insert
      assert(builds == 2)
      // fill the tag to its bound (8): with the stale duplicate dropped,
      // the re-inserted key is 1 of 8 and must survive untouched
      (1 to 7).foreach(i =>
        IndexMemo.getOrBuild("tQ", s"f$i", Seq(a))(build(s"F$i")))
      assert(builds == 9)
      assert(IndexMemo.getOrBuild("tQ", "k", Seq(b))(build("B")) == "B")
      assert(builds == 9, "live re-inserted entry was prematurely evicted")
    } finally { IndexMemo.planHash = saved; IndexMemo.clear() }
  }

  test("knnJoin survives zero-norm vectors (cosine NULL is filtered)") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f)), // zero norm: cosine undefined
      (3L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.knnJoinOf(emb, numQueries = 1, k = 2).collect()
    // neighbors of q0 ranked by cosine; the zero vector never appears
    assert(out.map(_.getLong(2)).toSet == Set(1L, 3L))
    // and a zero-norm QUERY yields no rows rather than crashing
    val out2 = Similarity.knnJoinOf(
      emb.withColumn("vec_id",
        when(col("vec_id") === 2L, 0L).when(col("vec_id") === 0L, 2L)
          .otherwise(col("vec_id"))),
      numQueries = 1, k = 2)
    assert(out2.collect().isEmpty)
  }

  test("buildCounts attributes builds to tags; hits leave them frozen") {
    val df = Seq(1L).toDF("x")
    val tag = "specBuildCount"
    def count() = graft.ops.IndexMemo.buildCounts.getOrElse(tag, 0L)
    val c0 = count()
    val nanos0 = graft.ops.IndexMemo.buildNanos
    graft.ops.IndexMemo.getOrBuild[org.apache.spark.sql.DataFrame](
      tag, "", Seq(df)) { (df, Seq.empty) }
    assert(count() == c0 + 1, "a build must increment its tag's count")
    assert(graft.ops.IndexMemo.buildNanos > nanos0,
      "an executed build must raise the cumulative build nanos")
    graft.ops.IndexMemo.getOrBuild[org.apache.spark.sql.DataFrame](
      tag, "", Seq(df)) { (df, Seq.empty) }
    assert(count() == c0 + 1, "a memo hit must not move the count")
    graft.ops.IndexMemo.getOrBuild[org.apache.spark.sql.DataFrame](
      tag, "p2", Seq(df)) { (df, Seq.empty) }
    assert(count() == c0 + 2, "new params are a distinct build")
  }

  test("taskClock deltas land on the building tag (r18)") {
    val df = Seq(1L).toDF("x")
    val tag = "specTaskClock"
    val ticker = new java.util.concurrent.atomic.AtomicLong(0L)
    val prev = graft.ops.IndexMemo.taskClock
    graft.ops.IndexMemo.taskClock = () => (ticker.get(), ticker.get() / 2)
    try {
      graft.ops.IndexMemo.getOrBuild[org.apache.spark.sql.DataFrame](
        tag, "", Seq(df)) { ticker.set(100L); (df, Seq.empty) }
      val (run, gc) = graft.ops.IndexMemo.buildTaskMsByTag(tag)
      assert(run == 100L && gc == 50L,
        s"build task-metric delta misattributed: run=$run gc=$gc")
    } finally graft.ops.IndexMemo.taskClock = prev
  }

  test("pplScores memo: repeated bigramNll/perplexityBuckets calls " +
      "move neither build nanos nor storage") {
    val d = sf("documents")
    // first calls build (and pin) the memoized score table; the r12
    // regression was an eager cut INSIDE the memoized plan, which gave
    // every call a fresh LogicalRDD key — so this asserts the key is
    // derived from the stable pre-cut plan
    val n1 = graft.ops.TextOps.bigramNll(spark, d).count()
    val b1 = graft.ops.Curation.perplexityBuckets(spark, d).collect()
    val after1 = pinnedIds
    val nanos1 = graft.ops.IndexMemo.buildNanos
    val n2 = graft.ops.TextOps.bigramNll(spark, d).count()
    val b2 = graft.ops.Curation.perplexityBuckets(spark, d).collect()
    assert(n1 == n2 && b1.toSeq == b2.toSeq)
    assert(graft.ops.IndexMemo.buildNanos == nanos1,
      "a repeated pplScores call paid an index build")
    val grown = pinnedIds -- after1
    assert(grown.isEmpty,
      s"pplScores memo storage grew across repeated calls: new ids $grown")
  }

  test("basket memos: repeated q127/q267 calls pin no new storage") {
    val d = sf("lineitem")
    // first calls build (and pin) the items + pair-count tables
    val p1 = graft.ops.Graph.basketPairs(spark, d, k = 10).collect()
    val r1 = graft.ops.Graph.basketRules(spark, d).count()
    val after1 = pinnedIds
    // repeats — including the OTHER consumer of the shared pair
    // table — must be pure cache reads
    val p2 = graft.ops.Graph.basketPairs(spark, d, k = 10).collect()
    val r2 = graft.ops.Graph.basketRules(spark, d).count()
    assert(p1.toSeq == p2.toSeq && r1 == r2)
    val grown = pinnedIds -- after1
    assert(grown.isEmpty,
      s"basket memo storage grew across repeated calls: new ids $grown")
  }
}
