package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.doc.DocKernels
import graft.expr.Exprs
import graft.parse.{GraftFunctions, HtmlParser}

/** The deep-scrape + document-synthesis dataflow (reference E3,
  * scraper_copenhagen.py:112-239) as one declarative pipeline:
  *
  *   listing scan (S3) -> doc-type filter (F2) + date (P4) -> canonical
  *   naming (P7) -> anti-join inventory (J1/K5) -> per-meeting agenda
  *   items (J5: parse_html explode, 1:N) -> per-item content fetch +
  *   appendix cleanup -> HTML assembly (A6) -> html_to_pdf (B2) ->
  *   partitioned sink (K1). A meeting the sink holds costs no item work.
  *
  * Hermetic: the "site" is a directory of HTML files; a page join on
  * the page key replaces live HTTP (the fetch connector slots in at
  * the same join). Item order inside a meeting is an explicit column
  * (the td.item-number label), never implicit row order.
  *
  * Scale shape: generators explode per row (no shuffle); the
  * meeting->page and item->page joins are equi-joins on the page key;
  * one aggregation shuffle groups items back per meeting.
  */
object DeepScrape {

  /** Page store: (page STRING, html STRING) — page is the URL path
    * stem, mirroring the portal's routing. */
  def readPages(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("wholetext", "true").text(dir)
      .select(
        regexp_extract(input_file_name(), "([^/]+)\\.html$", 1).as("page"),
        col("value").as("html"))

  /** Item content extraction: div.node__content text minus appendix
    * cruft (scraper_copenhagen.py:160-176 decompose semantics). */
  private[graft] def extractContent(html: String): String = {
    val root = HtmlParser.parse(html)
    HtmlParser.select(root, "div.node__content").headOption.map { node =>
      val cruft = (HtmlParser.select(root, "a.btn-appendices") ++
        HtmlParser.select(root, "div.appendix")).toSet
      val sb = new StringBuilder
      def walk(n: HtmlParser.Node): Unit =
        if (!cruft.contains(n)) {
          if (n.tag == "p" || n.tag == "li") {
            val t = n.text; if (t.nonEmpty) { sb.append(t); sb.append('\n') }
          } else n.children.foreach(walk)
        }
      walk(node)
      sb.toString.trim
    }.getOrElse("")
  }

  private val extractContentUdf = udf((h: String) =>
    if (h == null) "" else extractContent(h))

  /** Meetings from the listing: Referat rows with their dd.MM.yyyy
    * dates (rows aligned by generator position). */
  def meetings(pages: DataFrame, listingPage: String): DataFrame = {
    val listing = pages.filter(col("page") === listingPage)
    val links = listing
      .selectExpr("parse_html(html, 'td.views-field-nothing a')")
      .select(col("pos"), col("href"), col("text").as("doc_type"))
    val dates = listing
      .selectExpr("parse_html(html, 'td.views-field-agenda-meeting-date')")
      .select(col("pos"), Exprs.extractDottedDate(col("text")).as("meeting_date"))
    links.join(dates, "pos")
      .filter(lower(col("doc_type")).contains("referat")) // F2
      .select(
        regexp_extract(col("href"), "/([^/]+)$", 1).as("meeting_page"),
        col("meeting_date"))
  }

  /** Agenda items per meeting (J5): explode td.item-number /
    * td.item-content pairs, aligned by position. Every column of
    * `meetingsDf` rides along on each item. */
  def agendaItems(pages: DataFrame, meetingsDf: DataFrame): DataFrame = {
    val meeting = meetingsDf.columns.toSeq.map(col)
    val withHtml = meetingsDf.join(pages,
      col("meeting_page") === col("page"), "inner").drop("page")
    val numbers = withHtml
      .select(meeting :+ expr("parse_html(html, 'td.item-number')")
        .as(Seq("pos", "tag", "href", "text", "attrs")): _*)
      .select(meeting ++ Seq(col("pos"),
        Exprs.stripLabel(col("text"), "Punkt").cast("int").as("number")): _*)
    val contents = withHtml
      .select(col("meeting_page"),
        expr("parse_html(html, 'td.item-content a')")
          .as(Seq("pos", "tag", "href", "text", "attrs")))
      .select(col("meeting_page"), col("pos"), col("text").as("title"),
        regexp_extract(col("href"), "/([^/]+)$", 1).as("item_page"))
    numbers.join(contents, Seq("meeting_page", "pos"))
  }

  /** Candidate step: one named row per Referat meeting, keyed by its
    * date and page before any item work. */
  private[graft] def meetingCandidates(pages: DataFrame, listingPage: String,
      municipality: String): DataFrame =
    GenericIngest.named(
      meetings(pages, listingPage).withColumn("municipality", lit(municipality)),
      "Oekonomi", col("meeting_page"))

  /** Acquire step: agenda items -> content cleanup -> per-meeting HTML
    * assembly -> PDF, for the given named meetings. */
  private[graft] def synthesize(pages: DataFrame,
      todo: DataFrame): DataFrame =
    agendaItems(pages, todo)
      .join(pages, col("item_page") === col("page"), "left").drop("page")
      .withColumn("content", extractContentUdf(col("html")))
      .withColumn("section",
        concat(lit("<h2>Punkt "), col("number"), lit(": "), col("title"),
          lit("</h2><p>"), col("content"), lit("</p>")))
      // filename is a grouping key, so the aggregate plans no second
      // exchange; the fixed width keeps AQE from coalescing PDF
      // synthesis into one task
      .repartition(GenericIngest.fetchPartitions(pages.sparkSession),
        col("filename"))
      .groupBy(todo.columns.toSeq.map(col): _*)
      .agg(sort_array(collect_list(struct(col("number"), col("section"))))
        .as("parts"))
      .withColumn("html", DocKernels.assembleHtml(
        concat(lit("Referat "), date_format(col("meeting_date"), "yyyy-MM-dd")),
        expr("transform(parts, p -> p.section)")))
      .withColumn("pdf", DocKernels.htmlToPdfUdf(col("html")))
      .select("municipality", "committee", "filename", "meeting_date", "pdf")

  /** What a run lands on an empty sink: candidate step, then acquire
    * step. Plan sweeps (ScaleInvariantsSpec) audit this dataflow. */
  def synthesizedDocs(spark: SparkSession, pagesDir: String,
      listingPage: String, municipality: String): DataFrame = {
    GraftFunctions.register(spark)
    val pages = readPages(spark, pagesDir)
    synthesize(pages, meetingCandidates(pages, listingPage, municipality))
  }

  /** One run: synthesize a PDF per Referat meeting the sink does not
    * hold yet. Returns newly-written count. */
  def run(spark: SparkSession, pagesDir: String, listingPage: String,
      municipality: String, sinkDir: String): Long = {
    GraftFunctions.register(spark)
    val pages = readPages(spark, pagesDir)
    GenericIngest.land(meetingCandidates(pages, listingPage, municipality),
      sinkDir)(synthesize(pages, _))._1
  }
}
