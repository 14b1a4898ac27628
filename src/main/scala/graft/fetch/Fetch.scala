package graft.fetch

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Binary document acquisition (SURVEY.md §2.1 S11/S12, §2.2 K7).
  *
  * The fetch runs in `mapPartitions`; tasks parallelize across
  * executors, so cluster-wide concurrency = task slots, replacing the
  * reference's 15-thread pool. The client is pluggable: [[StaticFetcher]]
  * keeps the harness hermetic; an HTTP implementation drops in behind
  * the same trait without touching any pipeline.
  *
  * Fetch results carry an HTTP-ish status; the ingest tail
  * (`GenericIngest.land`) turns failures into K7 side output (error
  * rows land in a separate sink for inspection, scraper_ishoej.py:
  * 107-110's debug dump done relationally).
  */
object Fetch {

  /** Document client. [[fetchBinary]] ships it inside the task
    * closure, so each task deserializes its own copy and calls
    * `fetch(url)` once per row; there is no open or close hook. Keep
    * connection state (the analog of the reference's shared
    * `requests.Session`, scraper_aalborg.py:238-239) in a `@transient
    * lazy val`, built on first use in each task's copy and reused for
    * the rest of its partition. Implementations must be serializable. */
  trait Fetcher extends Serializable {
    def fetch(url: String): FetchResult
  }

  final case class FetchResult(status: Int, contentType: String,
      content: Array[Byte])

  /** Hermetic fetcher: deterministic content derived from the URL;
    * URLs matching `failPattern` simulate HTTP failures. */
  final case class StaticFetcher(failPattern: String = "$^")
      extends Fetcher {
    @transient private lazy val re = failPattern.r
    def fetch(url: String): FetchResult =
      if (re.findFirstIn(url).isDefined)
        FetchResult(404, "text/html", Array.empty)
      else
        FetchResult(200, "application/pdf",
          s"PDF-BYTES:$url".getBytes("UTF-8"))
  }

  /** Transient-failure retry decorator — the reference's session-level
    * retry policy as a composable Fetcher: re-fetch while the status
    * is retryable (5xx by default; connection-level failures should
    * surface as 5xx from the inner fetcher) up to `maxAttempts`, with
    * linear backoff. 4xx is NOT retryable — a missing document is
    * data, and lands in the K7 error side-output instead. */
  final case class RetryingFetcher(inner: Fetcher, maxAttempts: Int = 3,
      backoffMs: Long = 0L) extends Fetcher {
    def fetch(url: String): FetchResult = {
      var attempt = 1
      var r = inner.fetch(url)
      while (r.status >= 500 && attempt < maxAttempts) {
        if (backoffMs > 0) Thread.sleep(backoffMs * attempt)
        r = inner.fetch(url)
        attempt += 1
      }
      r
    }
  }

  private val resultSchema = StructType(Seq(
    StructField("status", IntegerType, nullable = false),
    StructField("content_type", StringType, nullable = true),
    StructField("content", BinaryType, nullable = true)))

  /** Fetch the `urlCol` of every row, appending status/content_type/
    * content columns. Each task's copy of `fetcher` serves its whole
    * partition; rows stream through without materializing it. */
  def fetchBinary(df: DataFrame, urlCol: String,
      fetcher: Fetcher): DataFrame = {
    val schema = StructType(df.schema.fields ++ resultSchema.fields)
    val urlIdx = df.schema.fieldIndex(urlCol)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { it =>
      it.map { row =>
        val r = fetcher.fetch(row.getString(urlIdx))
        Row.fromSeq(row.toSeq ++ Seq(r.status, r.contentType, r.content))
      }
    }(enc)
  }
}
