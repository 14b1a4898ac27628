package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import graft.doc.MiniPdf
import graft.fetch.Fetch
import graft.pipeline.CoverMergeScrape

/** Fetcher returning a real one-page MiniPdf per URL (top-level: must
  * not capture the test suite, which is not serializable). */
case class PdfFetcher() extends Fetch.Fetcher {
  def fetch(url: String): Fetch.FetchResult =
    Fetch.FetchResult(200, "application/pdf",
      MiniPdf.makePdf(Seq(MiniPdf.Page(Seq(s"content of $url")))))
}

/** [[PdfFetcher]] that counts every fetch. The counter is JVM-static:
  * in local mode the executors share the driver's JVM, so the
  * deserialized copies in each task all bump the same count. */
case class CountingFetcher() extends Fetch.Fetcher {
  def fetch(url: String): Fetch.FetchResult = {
    CountingFetcher.calls.incrementAndGet()
    PdfFetcher().fetch(url)
  }
}

object CountingFetcher {
  val calls = new AtomicLong(0L)

  /** `run`'s result and the number of fetches it made. */
  def counted(run: => Long): (Long, Long) = {
    calls.set(0L)
    val n = run
    (n, calls.get())
  }
}

/** End-to-end test for the cover+merge dataflow (RKSK shape: F7
  * exclusions, A4 participants, P5 Danish dates, B4 cover, A5/B5
  * ordered merge). */
class CoverMergeSpec extends SparkTestBase {

  test("participantsOf finds the Deltagere list") {
    val html = new String(Files.readAllBytes(java.nio.file.Paths.get(
      "src/test/resources/fixtures/rksk/meeting_1.html")), "UTF-8")
    assert(CoverMergeScrape.participantsOf(html) ==
      Seq("Anna Andersen", "Bo Berg", "Carla Clausen"))
  }

  test("run merges cover + surviving item PDFs per meeting, idempotently") {
    val sink = Files.createTempDirectory("graft_rksk_").resolve("docs").toString
    val n1 = CoverMergeScrape.run(spark,
      "src/test/resources/fixtures/rksk", "ringkoebing_skjern", sink,
      PdfFetcher())
    assert(n1 == 2)
    assert(CoverMergeScrape.run(spark,
      "src/test/resources/fixtures/rksk", "ringkoebing_skjern", sink,
      PdfFetcher()) == 0)

    val stored = spark.read.parquet(sink).collect()
    val byName = stored.map(r =>
      r.getAs[String]("filename") -> r.getAs[Array[Byte]]("pdf")).toMap
    // P5: Danish "25. november 2025" -> canonical 2025-11-25 filename
    val m1 = byName("2025-11-25_ringkoebing_skjern_oekonomiudvalget.pdf")
    // cover + punkt1 + punkt2; the excluded links (hent hele,
    // godkendelse, non-Edoc) contribute nothing (F7)
    assert(MiniPdf.pageCount(m1) == 3)
    val text = MiniPdf.extractText(m1).mkString(" ")
    assert(text.contains("Dato: 2025-11-25"))
    assert(text.contains("* Anna Andersen") && text.contains("* Carla Clausen"))
    assert(text.indexOf("Deltagere") < text.indexOf("punkt1.pdf"))
    assert(text.indexOf("punkt1.pdf") < text.indexOf("punkt2.pdf"))
    assert(!text.contains("hele.pdf") && !text.contains("punkt0.pdf")
      && !text.contains("notes.txt"))

    val m2 = byName("2025-12-09_ringkoebing_skjern_oekonomiudvalget.pdf")
    assert(MiniPdf.pageCount(m2) == 2)
  }

  test("each item PDF is fetched once, and a no-op re-run fetches none") {
    val sink = Files.createTempDirectory("graft_rksk_n_").resolve("docs").toString
    def runOnce() = CountingFetcher.counted(CoverMergeScrape.run(spark,
      "src/test/resources/fixtures/rksk", "ringkoebing_skjern", sink,
      CountingFetcher()))
    // 3 surviving item links over the 2 meetings
    assert(runOnce() == ((2L, 3L)))
    // both meetings are in the sink: no item work at all
    assert(runOnce() == ((0L, 0L)))
  }

  test("the PDF merges are not coalesced into one task") {
    // the merges run in the tasks of the stage that reads the groupBy
    // exchange; AQE coalesced that tiny exchange into one task. Its
    // width is read, not the tasks that got rows
    val docs = CoverMergeScrape.mergedDocs(spark,
      "src/test/resources/fixtures/rksk", "ringkoebing_skjern",
      PdfFetcher())
    assert(docs.rdd.getNumPartitions ==
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
  }
}
