package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Entity-resolution primitives: blocked fuzzy matching — the classic
  * record-linkage shape (block on a cheap key so the quadratic edit-
  * distance comparison runs only inside small buckets, never across the
  * corpus). The same capped self-join as every banded join in
  * Dedup/Similarity, applied to string identity instead of content.
  * (Reference analog: matching scraped committee names across
  * municipalities that spell them differently.)
  */
object Linkage {

  /** Blocked fuzzy self-join over a `(blk, name)` table: compare within
    * blocks with Levenshtein <= `maxDist`, canonical a < b orientation.
    *
    * Blocks are capped: a block larger than `maxBucketSize` is dropped
    * whole, with a logged count, before the self-join
    * ([[Dedup.cappedBucketPairs]]). On
    * real name distributions (surname skew) a hot block otherwise
    * degrades toward quadratic; the cap turns that into a visible,
    * bounded loss instead of a runaway stage. At 100 TB you widen the
    * block key (3-4 trailing chars, a phonetic key) to shrink buckets
    * back under the cap rather than raising it. */
  private[graft] def fuzzyPairs(names: DataFrame, maxDist: Int, k: Int,
      maxBucketSize: Int): DataFrame =
    Dedup.cappedBucketPairs(names, Seq("blk"), "name", maxBucketSize,
        "linkage")
      // thresholded levenshtein: the banded DP early-exits once the
      // distance provably exceeds maxDist (returns -1), so each
      // comparison is O(len x maxDist) instead of O(len^2)
      .withColumn("dist", levenshtein(col("id_a"), col("id_b"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("id_a").as("name_a"), col("id_b").as("name_b"),
        col("dist").cast("long").as("dist"))
      .orderBy(col("name_a"), col("name_b"))
      .limit(k)

  /** Near-identical customer-name pairs: block on the name's last
    * `blockWidth` characters, fuzzy-match within capped blocks (see
    * [[fuzzyPairs]]). Both engines define levenshtein as plain
    * unit-cost edit distance, so the pair set hash-matches. Scale: the
    * block join shuffles only (block, name) pairs; the edit distance —
    * the expensive part — runs on the block-bounded candidates.
    *
    * `blockWidth` IS the scale knob: digit-suffixed names land in
    * 10^blockWidth blocks, so mean block size is corpus/10^w. The old
    * fixed width of 2 saturated every block past ~1e5 names (the cap
    * then drops ALL of them — a silently-empty result); width 3 holds
    * to ~1e6 names and width 4 to ~1e7. Widening trades recall (pairs
    * differing inside the key move to different blocks) for bounded
    * block size — the standard blocking trade-off, mirrored exactly in
    * the oracle so the result still hash-matches. */
  def fuzzyNamePairs(s: SparkSession, d: String,
      maxDist: Int = 2, k: Int = 50, maxBucketSize: Int = 1000,
      blockWidth: Int = 3): DataFrame =
    fuzzyPairs(
      Tables.customer(s, d)
        .select(substring(col("c_name"), -blockWidth, blockWidth).as("blk"),
          col("c_name").as("name")),
      maxDist, k, maxBucketSize)

  /** DuckDB oracle for [[fuzzyNamePairs]]. `right(name, w)` matches
    * Spark's `substring(name, -w, w)` for ALL lengths (DuckDB substr
    * with a computed start index diverges on 1-char strings); the
    * QUALIFY mirrors the block cap. */
  def fuzzyNamePairsSql(maxDist: Int = 2, k: Int = 50,
      maxBucketSize: Int = 1000, blockWidth: Int = 3): String =
    s"""WITH n AS (SELECT c_name AS name, right(c_name, $blockWidth) AS blk
       |           FROM customer),
       |c AS (SELECT name, blk FROM n
       |      QUALIFY COUNT(*) OVER (PARTITION BY blk) <= $maxBucketSize)
       |SELECT a.name AS name_a, b.name AS name_b,
       |  CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
       |FROM c a JOIN c b ON a.blk = b.blk AND a.name < b.name
       |WHERE levenshtein(a.name, b.name) <= $maxDist
       |ORDER BY name_a, name_b LIMIT $k""".stripMargin
}
