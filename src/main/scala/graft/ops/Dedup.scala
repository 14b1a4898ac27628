package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Deduplication operators for training-data pipelines, designed for the
  * 100 TB case:
  *
  *  - exact dedup: hash-groupBy on a content digest — one shuffle on the
  *    digest, map-side partial agg, no row comparison.
  *  - MinHash + LSH near-dedup: signature -> banded bucket join. Only
  *    documents sharing a band bucket are ever compared, so the join is
  *    hash-partitioned by (band, bucket) and NEVER an all-pairs cross
  *    join; candidate verification computes exact shingle Jaccard.
  *  - SimHash: 64-bit sketch + pigeonhole chunk join for Hamming<=k.
  *
  * Reference analog: first-seen URL dedup scraper.py:116-132 and
  * sink-existence dedup scraper_utils.py:56-61, generalized from URLs to
  * content.
  */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Content digest for exact dedup (sha256 — collision-safe at corpus
    * scale, and mirrored by DuckDB's sha256 for the oracle). */
  def contentHash(text: Column): Column = sha2(text, 256)

  /** Exact-dup groups: canonical doc (min id) + multiplicity. */
  def exactDupGroups(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(contentHash(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dup_count"))
      .select(col("doc_id"), col("dup_count"))

  /** First-seen kept set: one row per distinct content, earliest doc_id
    * wins (order-preserving dedup, D1 generalized). */
  def exactDedupKeepFirst(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("h")).orderBy(col("doc_id"))
    Tables.documents(s, d)
      .withColumn("h", contentHash(col("text")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  // --------------------------------------------------------- shingling

  /** k-token shingles of a document (text -> ARRAY<STRING>). */
  def tokenShingles(text: Column, k: Int): Column = {
    val toks = split(text, " ")
    val n = size(toks)
    when(n >= k,
      transform(sequence(lit(0), n - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
      .otherwise(array(text))
  }

  /** Character k-gram shingles (n-gram Jaccard's unit). */
  def charShingles(text: Column, k: Int): Column = {
    val n = length(text)
    when(n >= k,
      array_distinct(transform(sequence(lit(1), n - k + 1),
        i => text.substr(i, lit(k)))))
      .otherwise(array(text))
  }

  // ----------------------------------------------------------- MinHash

  /** Distinct 64-bit hashes of a shingle set — computed ONCE per
    * document; every MinHash function below reuses these longs instead
    * of re-hashing the strings (at 100 TB the string hashing dominates,
    * so the k-fold reuse is the difference between one and k corpus
    * scans' worth of hash work). */
  def shingleHashes(shingles: Column): Column =
    array_distinct(transform(shingles, x => xxhash64(x)))

  /** MinHash signature from precomputed shingle hashes: for each of
    * `numHashes` seeded re-hashes of the 8-byte longs, the min over
    * the set. NOTE: when fanning a shingles COLUMN into many of these,
    * use [[signatureIndex]] — projection inlining would otherwise
    * recompute the shingling per hash function. */
  def minHashSignature(hashes: Column, numHashes: Int): Column =
    array((0 until numHashes).map { seed =>
      array_min(transform(hashes, h => xxhash64(lit(seed.toLong), h)))
    }: _*)

  /** Per-doc (shingle set, MinHash signature) over pre-exploded (id, h)
    * shingle hashes, with single-evaluation guarantees: the k min-hashes
    * aggregate over the exploded hashes with map-side partial
    * aggregation behind a Generate/Aggregate plan boundary
    * (CollapseProject cannot inline across it), so no shingle is hashed
    * more than once. One shuffle on the doc id. */
  def signatureIndex(exploded: DataFrame, numHashes: Int): DataFrame = {
    val mins = (0 until numHashes).map(seed =>
      min(xxhash64(lit(seed.toLong), col("h"))))
    exploded.groupBy(col("id"))
      .agg(collect_set(col("h")).as("sh"), array(mins: _*).as("sig"))
  }

  /** Exploded (id, h) token k-shingle hashes with no interpreted
    * higher-order functions: tokens explode with their position, hash
    * once, and k consecutive token hashes combine through a lead-window
    * into one 64-bit shingle key (the same pattern as
    * [[Curation]]'s gram hashing). Two shingles collide iff their token
    * sequences match (mod 2^-64), so Jaccard over these keys equals
    * Jaccard over shingle strings; docs shorter than k tokens
    * contribute a single whole-text hash, mirroring [[tokenShingles]]'s
    * fallback. One shuffle (the per-doc position window) replaces
    * ~7 us/element of interpreted transform/slice/concat_ws work. */
  def explodedTokenShingleHashes(docs: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    docs.select(col(idCol).as("id"), col(textCol).as("txt"),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "t")))
      // carry the raw text only on the first token row (the short-doc
      // fallback needs it); null elsewhere keeps the window shuffle slim
      .select(col("id"), col("pos"),
        when(col("pos") === 0, col("txt")).as("txt"),
        xxhash64(col("t")).as("th"))
      .select(col("id"), col("pos"), col("txt"),
        xxhash64((0 until k).map(j => lead(col("th"), j).over(w)): _*)
          .as("gh"),
        lead(col("th"), k - 1).over(w).as("tl"))
      .filter(col("tl").isNotNull || col("pos") === 0)
      .select(col("id"),
        when(col("tl").isNotNull, col("gh"))
          .otherwise(xxhash64(col("txt"))).as("h"))
  }

  /** Exploded (id, h) char k-gram shingle hashes, fully inside
    * whole-stage codegen: explode the positions, substring, hash. No
    * interpreted higher-order functions, no intermediate string arrays;
    * duplicate k-grams are deduped downstream by the set aggregation
    * (and min-hashes are duplicate-invariant). Hash values are
    * identical to xxhash64 over [[charShingles]] elements. */
  def explodedCharShingleHashes(docs: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame =
    docs.select(col(idCol).as("id"), col(textCol).as("t"),
        explode(sequence(lit(1),
          greatest(length(col(textCol)) - (k - 1), lit(1)))).as("i"))
      .select(col("id"), xxhash64(col("t").substr(col("i"), lit(k))).as("h"))

  /** Generic LSH near-dup pipeline: signature index -> banded candidate
    * pairs -> exact-Jaccard verification.
    *
    * Scale shape: the signature table (id, shingle set, MinHash sig) is
    * the LSH *index* — computed once and materialized (a cached
    * DataFrame here; a persisted/bucketed table on a cluster). The
    * banded self-join then moves ONLY (id, band, bucket) triples —
    * never the shingle arrays — so shuffle volume is independent of
    * document size. The (small) candidate pair set joins the shingle
    * sets back from the cached index for exact verification; the pair
    * side broadcasts only while the measured candidate bound stays
    * small (see [[lshNearDupPairsFromHashes]]). */
  def lshNearDupPairs(docs: DataFrame, idCol: String, shingleSet: Column,
      bands: Int, rowsPerBand: Int, threshold: Double, tag: String)
      : DataFrame =
    lshNearDupPairsFromHashes(
      docs.select(col(idCol).as("id"),
        explode(shingleHashes(shingleSet)).as("h")),
      bands, rowsPerBand, threshold, tag)

  /** As [[lshNearDupPairs]], over pre-exploded (id, h) shingle hashes —
    * the entry point for codegen'd shingle producers.
    *
    * Degenerate-bucket guard: the [[cappedBucketPairs]] cap at
    * `maxBucketSize`, the standard production-LSH cap; members of a
    * dropped bucket can still pair through their other (bands-1)
    * buckets.
    *
    * Lifecycle: the signature index and the (bounded) candidate-pair
    * list are the build-once/probe-many artifacts — memoized per
    * (SparkContext, input plan, banding params) through [[IndexMemo]],
    * so repeated calls over the same corpus probe the cached index
    * instead of re-hashing it, and [[clearLshCache]] (or context
    * shutdown) releases everything at once. The intermediate banded
    * table is unpersisted as soon as the pair list materializes.
    *
    * Verification joins move the shingle sets, so which side builds
    * matters: the build observes an exact pre-distinct bound on
    * candidate pairs ([[materializeCappedPairs]]), and the pair side
    * is broadcast only
    * while that bound is at most `maxBroadcastPairs`; past that the
    * verify join falls back to a shuffled equi-join on id — linear,
    * skew handled by AQE. */
  def lshNearDupPairsFromHashes(exploded: DataFrame, bands: Int,
      rowsPerBand: Int, threshold: Double, tag: String,
      maxBucketSize: Int = 1000,
      maxBroadcastPairs: Long = 2000000L): DataFrame = {
    // threshold and the broadcast bound shape only the per-call verify
    // join below, not the built index — kept out of the memo key
    val e = IndexMemo.getOrBuild[LshPairIndex]("lshPairs",
      s"$bands,$rowsPerBand,$tag,$maxBucketSize", Seq(exploded))(
      buildLshPairIndex(exploded, bands, rowsPerBand, tag, maxBucketSize))
    def probeSide(df: DataFrame): DataFrame =
      if (e.pairBound <= maxBroadcastPairs) df.hint("broadcast") else df
    val sets = e.index.select(col("id"), col("sh"))
    probeSide(probeSide(e.pairs)
      .join(sets, col("id_a") === col("id"))
      .select(col("id_a"), col("id_b"), col("sh").as("sh_a")))
      .join(sets, col("id_b") === col("id"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** The memoized artifacts of one LSH banding pass: the signature
    * index (id, sh, sig), the deduplicated candidate-pair list, and
    * the exact pre-distinct pair bound that gates broadcasting. */
  private final case class LshPairIndex(index: DataFrame, pairs: DataFrame,
      pairBound: Long)

  /** Release every memoized index built by the operators in this
    * package (signature indexes, candidate-pair lists, SRP bucket
    * tables, SimHash sketches, cluster labels, IVF lists) — the
    * long-running-session escape hatch; [[IndexMemo.clear]] under an
    * older name. */
  def clearLshCache(): Unit = IndexMemo.clear()

  private def buildLshPairIndex(exploded: DataFrame, bands: Int,
      rowsPerBand: Int, tag: String, maxBucketSize: Int)
      : (LshPairIndex, Seq[DataFrame]) = {
    val index = signatureIndex(exploded, bands * rowsPerBand).persist()
    // only the index and the pair list outlive the build
    val built = materializeCappedPairs(
      bandKeys(index, bands, rowsPerBand, tag)
        .select(col("id"), col("band"), col("bucket")), // sh pruned out
      Seq("band", "bucket"), "id", maxBucketSize, s"lsh[$tag]",
      pins = Seq(index))(_.distinct())
    (LshPairIndex(index, built.pairs, built.pairBound),
      Seq(index, built.pairs))
  }

  /** Capped-bucket pairs: the one self-join behind every banded
    * candidate generator (MinHash-LSH, SimHash, SRP cosine, winnowing,
    * blocked name linkage, frame and perceptual-hash media dups).
    * `members` holds one row per (member, bucket): the `bucket` key
    * columns, the member `id` and the `carry` columns.
    *
    * The cap contract: a bucket of B members is B(B-1)/2 candidate
    * pairs, and real corpora reliably grow degenerate buckets
    * (boilerplate pages, empty documents, stop-grams, surname skew). A
    * bucket of more than `maxBucketSize` members is dropped whole (a
    * `count(*) OVER (PARTITION BY bucket)` filter, which the DuckDB
    * oracles mirror), so a kept bucket yields at most
    * cap(cap-1)/2 pairs; members of a dropped bucket still pair through
    * every other bucket they share. The dropped-membership count is
    * observed on one side of the join, inside the query's own job, and
    * logged under `tag` once the first run that drops any completes. An
    * adaptive plan that finds the pairs empty (every bucket dropped,
    * or no members) replaces the observed subtree, and the observation
    * completes with no statistics: that run warns under `tag` that the
    * count was lost, never that it was 0, and runs no job to recount.
    *
    * Output: one row per (pair, shared bucket), oriented `id_a < id_b`,
    * each carried column `c` as `c_a` and `c_b`. Callers reduce it
    * (distinct pairs, a shared-bucket count, a verify filter). Only the
    * bucket keys, ids and carried columns move through the join's
    * exchanges. [[materializeCappedPairs]] is the memoized-build form;
    * [[lshNearDupNewVsIndex]]'s probe is a join against a stored
    * index, not a self-join, and caps its matches per probe doc. */
  private[graft] def cappedBucketPairs(members: DataFrame,
      bucket: Seq[String], id: String, maxBucketSize: Int, tag: String,
      carry: Seq[String] = Nil): DataFrame = {
    val sized = withBucketSize(members, bucket)
    val stats = org.apache.spark.sql.Observation()
    stats.future.foreach { r =>
      if (r.length == 0)
        log.warn(s"$tag: bucket statistics lost: the run found no pairs " +
          "and its adaptive plan dropped the observed side, so the " +
          "dropped-membership count is unknown")
      else warnDropped(tag, r, maxBucketSize)
    }(scala.concurrent.ExecutionContext.parasitic)
    pairUp(capStats(sized, maxBucketSize, _.observe(stats, _, _)), sized,
      bucket, id, maxBucketSize, carry)
  }

  /** A [[materializeCappedPairs]] result: the persisted reduced pairs,
    * their row count, the dropped memberships and the exact
    * pre-reduction pair bound (a kept bucket of B members adds
    * B(B-1)/2). */
  private[graft] final case class CappedPairs(pairs: DataFrame, rows: Long,
      dropped: Long, pairBound: Long)

  /** [[cappedBucketPairs]] reduced by `reduce`, persisted and counted:
    * the build-once artifact of a memoized pair index. The membership
    * table is persisted for the two join sides and observed before the
    * cap, so the dropped count and the pair bound ride the pair count's
    * own job. The membership cache is released once the pairs are
    * built; on any throw, so are `pins` (what the caller persisted for
    * this build) and the pairs. */
  private[graft] def materializeCappedPairs(members: DataFrame,
      bucket: Seq[String], id: String, maxBucketSize: Int, tag: String,
      carry: Seq[String] = Nil, pins: Seq[DataFrame] = Nil)(
      reduce: DataFrame => DataFrame): CappedPairs = {
    val name = s"graft_cap_${capObservations.incrementAndGet()}"
    val sized = capStats(withBucketSize(members, bucket), maxBucketSize,
      _.observe(name, _, _)).persist()
    var pairs: DataFrame = null
    try {
      pairs = reduce(pairUp(sized, sized, bucket, id, maxBucketSize, carry))
        .persist()
      val rows = pairs.count()
      // read off the membership cache's own plan: an empty pair list
      // lets the adaptive plan of the count drop the subtree that ran it
      val st = sized.sparkSession.sharedState.cacheManager
        .lookupCachedData(
          sized.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
        .flatMap(c => org.apache.spark.sql.execution.CollectMetricsExec
          .collect(c.cachedRepresentation.cachedPlan).get(name))
      def stat(i: Int): Long =
        st.filterNot(_.isNullAt(i)).fold(0L)(_.getLong(i))
      st.foreach(warnDropped(tag, _, maxBucketSize))
      sized.unpersist()
      CappedPairs(pairs, rows, stat(0), stat(1) / 2)
    } catch { case t: Throwable =>
      (pins ++ Seq(sized) ++ Option(pairs)).foreach { df =>
        try df.unpersist() catch { case _: Throwable => () } }
      throw t
    }
  }

  private val capObservations = new java.util.concurrent.atomic.AtomicLong

  /** A null bucket key pairs with nothing, so it is dropped before the
    * count: the filter then sits under the window on both join sides,
    * and the observed side still shares the other side's exchange. */
  private def withBucketSize(members: DataFrame,
      bucket: Seq[String]): DataFrame =
    members.filter(bucket.map(col(_).isNotNull).reduce(_ && _))
      .withColumn("bsz",
        count(lit(1)).over(Window.partitionBy(bucket.map(col): _*)))

  /** `sized` observed before the cap: dropped memberships, and twice
    * the pre-reduction pair bound (B rows of B-1 per kept bucket). */
  private def capStats(sized: DataFrame, maxBucketSize: Int,
      observe: (DataFrame, Column, Column) => DataFrame): DataFrame =
    observe(sized,
      sum(when(col("bsz") > maxBucketSize, 1L).otherwise(0L)).as("dropped"),
      sum(when(col("bsz") <= maxBucketSize, col("bsz") - 1L)
        .otherwise(0L)).as("pair_bound_x2"))

  private def warnDropped(tag: String, st: org.apache.spark.sql.Row,
      maxBucketSize: Int): Unit =
    if (!st.isNullAt(0) && st.getLong(0) > 0)
      log.warn(s"$tag: dropped ${st.getLong(0)} bucket memberships in " +
        s"buckets larger than $maxBucketSize; members can still pair " +
        "through their other buckets")

  private def pairUp(left: DataFrame, right: DataFrame, bucket: Seq[String],
      id: String, maxBucketSize: Int, carry: Seq[String]): DataFrame = {
    def side(sized: DataFrame, s: String): DataFrame =
      sized.filter(col("bsz") <= maxBucketSize).select(bucket.map(col) ++
        (col(id).as(s"id_$s") +: carry.map(c => col(c).as(s"${c}_$s"))): _*)
    side(left, "a").join(side(right, "b"), bucket)
      .filter(col("id_a") < col("id_b"))
      .select((Seq("id_a", "id_b") ++ carry.map(_ + "_a") ++
        carry.map(_ + "_b")).map(col): _*)
  }

  /** Persist a signature index as a parquet table — the durable form
    * the per-crawl probe ([[lshNearDupNewVsIndex]]) reads. Bucketing
    * by id co-locates the shingle-set join-back; at cluster scale a
    * deployment would additionally partition the BANDED key table by
    * band. */
  def writeSignatureIndex(index: DataFrame, path: String): Unit =
    index.write.mode("overwrite").parquet(path)

  /** Load a stored signature index (id, sh, sig). */
  def readSignatureIndex(s: SparkSession, path: String): DataFrame =
    s.read.parquet(path)

  /** Banded (band, bucket) keys for a signature index (id, sh, sig) —
    * shared by the self-join and incremental paths (package-visible so
    * PlanShapeSpec can gate the banded-shuffle schema). */
  private[graft] def bandKeys(index: DataFrame, bands: Int, rowsPerBand: Int,
      tag: String): DataFrame =
    index.select(col("id"), col("sh"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(lit(tag), b, concat_ws(",",
          slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))
        .as(Seq("band", "bucket")))

  /** Incremental near-dedup: candidates between a NEW batch and an
    * EXISTING corpus signature index — the per-crawl operation of a
    * long-running pipeline. The corpus is never self-joined and its
    * signatures are read from the stored index (a [[signatureIndex]]
    * output persisted as a table keyed by (band, bucket) at scale);
    * only the batch is signature-hashed. Only fixed-width banded keys
    * move through the probe (never shingle arrays — both sides' sets
    * join back onto the deduplicated candidate list), the batch keys
    * broadcast only while the batch is genuinely small, and matched
    * corpus buckets above `maxBucketSize` are skipped per probe doc
    * with the skip count logged. Fails fast if ANY stored row was built
    * with a different signature width than bands*rowsPerBand (a
    * mismatch would silently hash empty slices into one mega-bucket) —
    * a whole-index min/max aggregate, so a mixed-width index cannot
    * slip past a well-formed first row. The batch signature index and
    * the matched candidate list are memoized per (context, batch plan,
    * corpus plan, params) — re-probing the same crawl batch is a cache
    * read, and nothing persists without an owner ([[clearLshCache]]).
    * Returns (new_id, corpus_id, jaccard >= threshold). */
  def lshNearDupNewVsIndex(newExploded: DataFrame, corpusIndex: DataFrame,
      bands: Int, rowsPerBand: Int, threshold: Double,
      tag: String = "band", maxBucketSize: Int = 1000,
      maxBroadcastKeys: Long = 4000000L): DataFrame = {
    val e = IndexMemo.getOrBuild[LshProbeIndex]("lshProbe",
      s"$bands,$rowsPerBand,$tag,$maxBucketSize,$maxBroadcastKeys",
      Seq(newExploded, corpusIndex))(
      buildLshProbeIndex(newExploded, corpusIndex, bands, rowsPerBand,
        tag, maxBucketSize, maxBroadcastKeys))
    e.candidates
      .join(e.batchIdx.select(col("id").as("new_id"), col("sh").as("sh_new")),
        "new_id")
      .join(corpusIndex.select(col("id").as("corpus_id"),
        col("sh").as("sh_c")), "corpus_id")
      .withColumn("jaccard", jaccard(col("sh_new"), col("sh_c")))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("corpus_id"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** Memoized probe artifacts: the batch signature index and the
    * deduplicated (new_id, corpus_id) candidate list. */
  private final case class LshProbeIndex(batchIdx: DataFrame,
      candidates: DataFrame)

  /** Keeps its own cap: a probe join of a batch against a stored index,
    * not a [[cappedBucketPairs]] self-join. */
  private def buildLshProbeIndex(newExploded: DataFrame,
      corpusIndex: DataFrame, bands: Int, rowsPerBand: Int, tag: String,
      maxBucketSize: Int, maxBroadcastKeys: Long)
      : (LshProbeIndex, Seq[DataFrame]) = {
    // an EMPTY index is legitimate (first crawl): the null aggregate
    // skips the width check and the probe join yields the natural
    // empty result
    val wr = corpusIndex.agg(min(size(col("sig"))).as("mn"),
      max(size(col("sig"))).as("mx")).head()
    if (!wr.isNullAt(0)) {
      val (mn, mx) = (wr.getInt(0), wr.getInt(1))
      if (mn != bands * rowsPerBand || mx != mn) {
        val width = if (mn == mx) s"$mn" else s"mixed $mn..$mx"
        throw new IllegalArgumentException(
          s"corpus index has $width signature components; " +
            s"probe requested bands*rowsPerBand = ${bands * rowsPerBand}")
      }
    }
    val batchIdx =
      signatureIndex(newExploded, bands * rowsPerBand).persist()
    var batchKeys: DataFrame = null
    var sized: DataFrame = null
    var candidates: DataFrame = null
    def releaseOnFailure[T](body: => T): T =
      try body catch { case t: Throwable =>
        Seq(Option(batchIdx), Option(batchKeys), Option(sized),
          Option(candidates)).flatten.foreach {
          df => try df.unpersist() catch { case _: Throwable => () } }
        throw t
      }
    releaseOnFailure {
    batchKeys = bandKeys(batchIdx, bands, rowsPerBand, tag)
      .select(col("band"), col("bucket"), col("id").as("new_id"))
      .persist()
    val nKeys = batchKeys.count()
    val probe = if (nKeys <= maxBroadcastKeys) broadcast(batchKeys)
      else batchKeys
    val corpusKeys = bandKeys(corpusIndex, bands, rowsPerBand, tag)
      .select(col("band"), col("bucket"), col("id").as("corpus_id"))
    // the probe join is linear (B fixed-width rows for a B-member
    // bucket); the cap is applied to the MATCHED subset only — sizing
    // buckets corpus-wide would shuffle the whole corpus per crawl.
    // matched, partitioned per probe doc = how many corpus members its
    // bucket matched; degenerate buckets are dropped and logged.
    sized = corpusKeys.join(probe, Seq("band", "bucket"))
      .withColumn("matched", count(lit(1)).over(
        Window.partitionBy(col("band"), col("bucket"), col("new_id"))))
      .persist()
    val dropped = sized.filter(col("matched") > maxBucketSize).count()
    if (dropped > 0)
      log.warn(s"lsh-probe[$tag]: skipped $dropped matches in corpus " +
        s"buckets larger than $maxBucketSize")
    candidates = sized.filter(col("matched") <= maxBucketSize)
      .select(col("new_id"), col("corpus_id"))
      .dropDuplicates("new_id", "corpus_id")
      .persist()
    candidates.count() // materialize, then drop the probe intermediates
    sized.unpersist()
    batchKeys.unpersist()
    (LshProbeIndex(batchIdx, candidates), Seq(batchIdx, candidates))
    }
  }

  /** Exact Jaccard over two (distinct-element) columns. Operates on
    * hashed-long shingle sets: intersection cardinality is preserved
    * by hashing (collisions are ~2^-64). */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** MinHash-LSH near-duplicate pairs.
    *
    * numHashes = bands * rowsPerBand. Docs agreeing on ALL rows of at
    * least one band become candidates (banded join keyed by
    * (band, hash-of-band-slice)); candidates are verified with exact
    * shingle Jaccard >= threshold. Scale shape: explode is bands-per-doc
    * (constant), the self-join is an equi-join on the band bucket key —
    * shuffle-partitioned, skew handled by AQE.
    */
  def minHashNearDupPairs(docs: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.8): DataFrame =
    lshNearDupPairsFromHashes(
      explodedTokenShingleHashes(docs, idCol, textCol, shingleK),
      bands, rowsPerBand, threshold, "band")

  // ----------------------------------------- dup-cluster identification

  /** Cluster labels from one bucket key per document: each row of
    * `docs` (doc_id) takes the min doc_id of the documents sharing its
    * `keys` (doc_id, key) bucket, and a document with no key (no row in
    * `keys`, or a null key) labels itself. `keys` holds at most one row
    * per document. Returns (doc_id, cluster). */
  private[graft] def bucketMinLabels(docs: DataFrame,
      keys: DataFrame): DataFrame = {
    val hubs = keys.filter(col("key").isNotNull)
      .select(col("doc_id"),
        min(col("doc_id")).over(Window.partitionBy(col("key"))).as("hub"))
    docs.select(col("doc_id"))
      .join(hubs, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("hub"), col("doc_id")).as("cluster"))
  }

  /** Near-dup clusters over documents: docs whose md5 MinHash first
    * component collides (an LSH band of width 1 — the oracle-mirrorable
    * bucket key) share a cluster, labeled by its min doc_id. Oracle:
    * those collisions as edges + a recursive-CTE reachability in DuckDB.
    *
    * No fixpoint is needed: `numHashes = 1` gives each document exactly
    * one `sig_0`, so the oracle's edges (`a.s0 = b.s0`) split the
    * documents into disjoint cliques, one per `sig_0` value.
    * Reachability is therefore bucket membership, and the min reachable
    * id is `min(doc_id) OVER (PARTITION BY sig_0)` — one window, however
    * large a boilerplate bucket grows. A document with no trigram has
    * no `sig_0` and reaches only itself ([[bucketMinLabels]]).
    *
    * The labels are the label-once/consume-many artifact every
    * downstream curation step keys on ([[clusterSplit]],
    * [[keepBestInCluster]], dedup itself): memoized per (context,
    * documents plan) through [[IndexMemo]], persisted and counted. */
  def nearDupClusters(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    IndexMemo.getOrBuild[DataFrame]("nearDupClusters", "", Seq(docs)) {
      val labels = bucketMinLabels(docs,
        Curation.minhashMd5(s, d, numHashes = 1)
          .select(col("doc_id"), col("sig_0").as("key"))).persist()
      try labels.count()
      catch { case t: Throwable => labels.unpersist(); throw t }
      (labels, Seq(labels))
    }
  }

  /** Leakage-safe train/heldout split: the md5 keep-decision is made per
    * near-dup CLUSTER, not per document, so near-duplicates can never
    * straddle the split — the eval-contamination failure mode of naive
    * per-doc sampling. Costs one extra scan projection over
    * [[nearDupClusters]]' labels; the split is deterministic and
    * retry-stable like every other curation draw. */
  def clusterSplit(s: SparkSession, d: String,
      heldoutHex: String = "28"): DataFrame =
    nearDupClusters(s, d)
      .withColumn("split",
        when(Curation.hashKeep(col("cluster"), lit(heldoutHex)), "heldout")
          .otherwise("train"))

  /** Canonical-document selection: near-dedup that keeps the BEST member
    * of each cluster (highest quality score, doc_id tie-break) instead of
    * the first-seen one — the representative-picking semantics real
    * curation uses so boilerplate clusters contribute their cleanest
    * exemplar. One join of the cluster labels to a scan-projected quality
    * score, then a per-cluster top-1 window; both shuffles key on
    * doc/cluster ids, never on text. */
  def keepBestInCluster(s: SparkSession, d: String): DataFrame = {
    val scored = graft.Tables.documents(s, d).select(col("doc_id"),
      round(TextOps.qualityScore(col("text")), 6).as("quality"))
    nearDupClusters(s, d)
      .join(scored, "doc_id")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cluster"))
          .orderBy(col("quality").desc, col("doc_id"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("cluster"), col("quality"))
  }

  // ----------------------------------------------------------- SimHash

  /** 64-bit SimHash of a token multiset: per-bit majority vote of token
    * hashes, computed with a single array-fold (no shuffle, no UDF). */
  def simHash(text: Column): Column = {
    val hashes = transform(split(text, " "), t => xxhash64(t))
    val votes = aggregate(hashes,
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc,
        transform(sequence(lit(0), lit(63)),
          i => when(call_function("shiftright", h, i).bitwiseAND(1) === 1,
            lit(1L)).otherwise(lit(-1L))),
        (a, b) => a + b))
    aggregate(
      zip_with(votes, sequence(lit(0), lit(63)),
        (v, i) => when(v > 0, call_function("shiftleft", lit(1L), i))
          .otherwise(lit(0L))),
      lit(0L), (a, b) => a.bitwiseOR(b))
  }

  /** SimHash per doc in ONE columnar pass: explode tokens, aggregate
    * the 64 bit-votes as codegen'd sums (constant shift amounts), then
    * pack the sign bits. Bit-identical to [[simHash]] (same multiset
    * votes, same tie rule) — the scalar form remains the reference
    * implementation for tests. */
  def simHashDf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val exploded = docs.select(col(idCol).as("id"),
      explode(split(col(textCol), " ")).as("t"))
      .withColumn("h", xxhash64(col("t")))
    val voteAggs = (0 until 64).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1L)
        .otherwise(-1L)).as(s"v$i"))
    val grouped = exploded.groupBy(col("id"))
      .agg(voteAggs.head, voteAggs.tail: _*)
    val packed = (0 until 64).map(i =>
      when(col(s"v$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _) // disjoint bits: sum == OR
    grouped.select(col("id"), packed.as("simhash"))
  }

  /** SimHash near-dup candidates with Hamming distance <= 3: pigeonhole
    * on 4 x 16-bit chunks (any pair within distance 3 agrees on >= 1
    * chunk), then exact popcount verification — banded join again, never
    * all-pairs.
    *
    * Degenerate-bucket guard: a bare 16-bit chunk key space gives
    * ~N/65536 docs per bucket, so each bucket contributes O(B^2)
    * candidate pairs — quadratic exactly on the near-duplicate-heavy
    * corpora near-dedup exists for. The [[cappedBucketPairs]] cap at
    * `maxBucketSize` bounds that; members of a dropped bucket can still
    * pair through their other 3 chunks.
    *
    * Lifecycle: the (bounded, deduplicated) candidate-pair list — which
    * carries both 64-bit sketches, so no probe-time join-back is needed —
    * is the build-once/probe-many artifact, memoized per (context, docs
    * plan, cap) through [[IndexMemo]] and released by [[clearLshCache]].
    * `maxHamming` shapes only the per-call popcount filter, never the
    * built index, so calls differing only there share it. */
  def simHashNearDups(docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    val pairs = IndexMemo.getOrBuild[DataFrame]("simhashPairs",
      s"$idCol,$textCol,$maxBucketSize", Seq(docs))(
      buildSimHashPairIndex(docs, idCol, textCol, maxBucketSize))
    pairs
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  private def buildSimHashPairIndex(docs: DataFrame, idCol: String,
      textCol: String, maxBucketSize: Int)
      : (DataFrame, Seq[DataFrame]) = {
    val idx = simHashDf(docs, idCol, textCol)
      .select(col("id"), col("simhash").as("sh"))
      .persist()
    // sh rides along both sides (one long each — fixed width), so the
    // memoized pair list is self-contained and the popcount filter
    // never joins back to the sketch table
    val built = materializeCappedPairs(
      idx.select(col("id"), col("sh"),
        posexplode(transform(sequence(lit(0), lit(3)),
          c => call_function("shiftright", col("sh"), c * 16)
            .bitwiseAND(0xFFFF)))
          .as(Seq("chunk", "ckey"))),
      Seq("chunk", "ckey"), "id", maxBucketSize, "simhash", Seq("sh"),
      pins = Seq(idx))(_.dropDuplicates("id_a", "id_b"))
    idx.unpersist()
    (built.pairs, Seq(built.pairs))
  }
}
