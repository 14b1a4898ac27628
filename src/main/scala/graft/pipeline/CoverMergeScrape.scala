package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.doc.DocKernels
import graft.expr.Exprs
import graft.fetch.Fetch
import graft.parse.{GraftFunctions, HtmlParser}

/** The cover-page + per-item-PDF merge dataflow (reference
  * scraper_ringkoebing_skjern.py:33-67,134-243):
  *
  *   meeting page -> Danish-date title parse (P5) -> participants
  *   collect (A4) -> canonical naming (P7) -> anti-join inventory
  *   (J1/K5) -> item-PDF links with F7 exclusion predicates -> binary
  *   fetch (S11) -> cover synthesis (B4) -> ordered PDF merge aggregate
  *   (A5/B5) -> partitioned sink (K1). A meeting the sink holds
  *   fetches no item.
  *
  * Scale shape: one generator explode per page, one fetch pass over
  * only the links that survive the exclusions, one groupBy-meeting
  * aggregation for the merge.
  */
object CoverMergeScrape {

  /** Participants: the `<li>` items following the "Deltagere" heading
    * (reference scraper_ringkoebing_skjern.py:146-156). */
  private[graft] def participantsOf(html: String): Seq[String] = {
    val root = HtmlParser.parse(html)
    val heading = root.descendants.find(n =>
      (n.tag == "h2" || n.tag == "h3") &&
        n.text.toLowerCase.contains("deltagere"))
    heading.toSeq.flatMap { h =>
      val siblings = h.parent.children
      val after = siblings.drop(siblings.indexOf(h) + 1)
      after.find(_.tag == "ul").toSeq
        .flatMap(_.children.filter(_.tag == "li").map(_.text))
    }
  }

  private val participantsUdf = udf((h: String) =>
    if (h == null) Seq.empty[String] else participantsOf(h))

  /** F7 exclusion predicates on item links
    * (scraper_ringkoebing_skjern.py:160-183). */
  private def keepItemLink(href: org.apache.spark.sql.Column,
      text: org.apache.spark.sql.Column) =
    href.contains("/Edoc/") && href.endsWith(".pdf") &&
      !lower(text).contains("hent hele") &&
      !lower(text).contains("godkendelse af dagsorden")

  /** Candidate step: one named row per meeting page, its h1 title and
    * date, and its participants (parse_html returns one row per h1). */
  private[graft] def meetingCandidates(spark: SparkSession, pagesDir: String,
      municipality: String): DataFrame = {
    GraftFunctions.register(spark)
    val meta = DeepScrape.readPages(spark, pagesDir)
      .select(col("page"), col("html"),
        expr("parse_html(html, 'h1')")
          .as(Seq("pos", "tag", "href", "text", "attrs")))
      .filter(col("pos") === 0)
      .select(col("page"), col("html"), col("text").as("title"),
        Exprs.parseDanishDate(col("text")).as("meeting_date"),
        participantsUdf(col("html")).as("participants"),
        lit(municipality).as("municipality"))
    GenericIngest.named(meta, "Oekonomi", col("page"))
  }

  /** Acquire step: fetch the item PDFs surviving the F7 exclusions,
    * synthesize the cover, merge both in item order per meeting. */
  private[graft] def merge(todo: DataFrame,
      fetcher: Fetch.Fetcher): DataFrame = {
    val meeting = Seq("municipality", "committee", "filename",
      "meeting_date", "page").map(col)
    val items = todo
      .select(meeting :+ expr("parse_html(html, 'tr.agenda--tr a')")
        .as(Seq("pos", "tag", "href", "text", "attrs")): _*)
      .filter(keepItemLink(col("href"), col("text")))
      .select(meeting ++ Seq(col("pos"), col("href")): _*)
    val fetched = Fetch.fetchBinary(items, "href", fetcher)
      .filter(col("status") < 400)
      .select(meeting ++ Seq((col("pos") + 1).as("idx"),
        col("content").as("pdf")): _*)
    val covers = todo.select(meeting ++ Seq(lit(0).as("idx"),
      DocKernels.makeCoverUdf(col("title"),
        date_format(col("meeting_date"), "yyyy-MM-dd"),
        col("participants")).as("pdf")): _*)
    // filename is a grouping key, so the aggregate plans no second
    // exchange; the fixed width keeps AQE from coalescing the merges
    // into one task
    covers.unionByName(fetched)
      .repartition(GenericIngest.fetchPartitions(todo.sparkSession),
        col("filename"))
      .groupBy(meeting: _*)
      .agg(DocKernels.mergePdfs(col("idx"), col("pdf")).as("pdf"))
      .select("municipality", "committee", "filename", "meeting_date", "pdf")
  }

  /** What a run lands on an empty sink: candidate step, then acquire
    * step. Plan sweeps (ScaleInvariantsSpec) audit this dataflow. */
  private[graft] def mergedDocs(spark: SparkSession, pagesDir: String,
      municipality: String, fetcher: Fetch.Fetcher): DataFrame =
    merge(meetingCandidates(spark, pagesDir, municipality), fetcher)

  /** One run over a directory of meeting pages: merge a cover and the
    * item PDFs for each meeting the sink does not hold yet. The fetcher
    * supplies the per-item PDF bytes (hermetic in tests). Returns
    * merged-doc count. */
  def run(spark: SparkSession, pagesDir: String, municipality: String,
      sinkDir: String, fetcher: Fetch.Fetcher): Long =
    GenericIngest.land(meetingCandidates(spark, pagesDir, municipality),
      sinkDir)(merge(_, fetcher))._1
}
