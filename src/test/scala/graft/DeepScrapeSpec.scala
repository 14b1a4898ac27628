package graft

import java.nio.file.Files

import graft.doc.MiniPdf
import graft.parse.GraftFunctions
import graft.pipeline.DeepScrape

/** End-to-end tests for the deep-scrape + document-synthesis dataflow
  * (E3) against the kk-dialect fixture site. */
class DeepScrapeSpec extends SparkTestBase {

  private val pagesDir = "src/test/resources/fixtures/kkpages"

  test("meetings: Referat rows with aligned dd.MM.yyyy dates (F2/P4)") {
    GraftFunctions.register(spark)
    val pages = DeepScrape.readPages(spark, pagesDir)
    val ms = DeepScrape.meetings(pages, "listing").collect()
    assert(ms.length == 2) // Dagsorden row excluded
    val byPage = ms.map(r => r.getString(0) -> r.getDate(1).toString).toMap
    assert(byPage == Map(
      "meeting_1" -> "2024-08-04", "meeting_2" -> "2024-09-11"))
  }

  test("agendaItems: 1:N explode with aligned numbers and titles (J5)") {
    GraftFunctions.register(spark)
    val pages = DeepScrape.readPages(spark, pagesDir)
    val items = DeepScrape.agendaItems(pages,
      DeepScrape.meetings(pages, "listing")).collect()
    assert(items.length == 3)
    val m1 = items.filter(_.getAs[String]("meeting_page") == "meeting_1")
      .sortBy(_.getAs[Int]("number"))
    assert(m1.map(_.getAs[String]("title")).toSeq ==
      Seq("Budget 2025", "Lokalplan"))
    assert(m1.map(_.getAs[String]("item_page")).toSeq ==
      Seq("item_11", "item_12"))
  }

  test("extractContent strips appendix cruft (scraper_copenhagen.py:160-176)") {
    val html = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$pagesDir/item_11.html")), "UTF-8")
    val text = DeepScrape.extractContent(html)
    assert(text.contains("Budgettet blev vedtaget."))
    assert(!text.contains("bilag"))
  }

  test("run synthesizes one PDF per Referat meeting, idempotently (E3)") {
    val sink = Files.createTempDirectory("graft_deep_").resolve("docs").toString
    val n1 = DeepScrape.run(spark, pagesDir, "listing", "kobenhavn", sink)
    assert(n1 == 2)
    val n2 = DeepScrape.run(spark, pagesDir, "listing", "kobenhavn", sink)
    assert(n2 == 0)
    val stored = spark.read.parquet(sink).collect()
    assert(stored.length == 2)
    val byName = stored.map(r =>
      r.getAs[String]("filename") -> r.getAs[Array[Byte]]("pdf")).toMap
    val m1 = byName("2024-08-04_kobenhavn_oekonomiudvalget.pdf")
    val text = MiniPdf.extractText(m1).mkString(" ")
    assert(text.contains("Punkt 1: Budget 2025"))
    assert(text.contains("Budgettet blev vedtaget."))
    assert(text.contains("Punkt 2: Lokalplan"))
    assert(text.indexOf("Punkt 1") < text.indexOf("Punkt 2"))
    assert(!text.contains("bilagstekst"))
  }

  test("PDF synthesis is not coalesced into one task") {
    // the PDFs are built in the tasks of the stage that reads the
    // groupBy exchange; AQE coalesced that tiny exchange into one task.
    // Its width is read, not the tasks that got rows: the two fixture
    // meetings hash to one partition either way
    val docs = DeepScrape.synthesizedDocs(spark, pagesDir, "listing",
      "kobenhavn")
    assert(docs.rdd.getNumPartitions ==
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
  }
}
