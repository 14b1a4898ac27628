package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.pipeline.GenericIngest

/** Incremental ingestion as Structured Streaming (SURVEY.md §2.11):
  * the reference's scheduled re-runs with NEW-mode filtering and
  * sink-existence dedup (scraper_utils.py:56-87) map to
  *
  *   readStream (file source, new listing exports only)
  *     -> project/filter/naming (the batch pipeline's own)
  *     -> foreachBatch: the batch ingest tail (GenericIngest.land:
  *        anti-join sink inventory -> idempotent append)
  *   with Trigger.AvailableNow (one batch per scheduled run).
  *
  * State is the sink itself (exactly-once by document key), so a
  * crashed run resumes safely: the checkpoint tracks consumed files,
  * the anti-join suppresses double-writes.
  *
  * At scale: the file source lists incrementally; each micro-batch
  * shuffles once for the in-batch dedup; inventory is a bulk listing
  * whose join strategy is left to stats/AQE — it grows with the
  * crawl's lifetime, so a forced broadcast would eventually OOM.
  */
object IncrementalIngest {

  /** Incoming discovery records: one CSV row per discovered link. */
  val incomingSchema: StructType = StructType(Seq(
    StructField("municipality", StringType),
    StructField("url", StringType)))

  /** Transform a (micro-)batch of raw links into candidate documents —
    * the batch pipeline's projection and naming, then in-batch
    * first-seen dedup by key. */
  def toCandidates(links: DataFrame, mode: String,
      today: java.sql.Date): DataFrame =
    GenericIngest.named(GenericIngest.dated(links, mode, today),
      "Oekonomi", col("doc_uuid"))
      .dropDuplicates("filename")

  /** Run one AvailableNow pass over `incomingDir`; returns rows newly
    * appended to the sink. */
  def runOnce(spark: SparkSession, incomingDir: String, sinkDir: String,
      checkpointDir: String, mode: String = "ALL",
      today: java.sql.Date = java.sql.Date.valueOf("2024-01-01")): Long = {
    val appended = new java.util.concurrent.atomic.AtomicLong(0L)
    val stream = spark.readStream
      .schema(incomingSchema)
      .option("header", "true")
      .csv(incomingDir)
    val q = toCandidates(stream, mode, today).writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val (n, _) = GenericIngest.land(batch, sinkDir)(
          _.withColumn("content", to_binary(col("doc_uuid"), lit("utf-8"))))
        appended.addAndGet(n)
        ()
      }
      .start()
    q.awaitTermination()
    appended.get()
  }
}
