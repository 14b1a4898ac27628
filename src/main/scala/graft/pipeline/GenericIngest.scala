package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.expr.Exprs
import graft.fetch.Fetch
import graft.parse.GraftFunctions

/** The generic-ingest dataflow (reference E2, scraper.py:154-275,
  * 335-393) as one declarative Spark pipeline:
  *
  *   config scan (S1) -> listing pages -> parse_html (P24) -> href
  *   prefix filter (F1) -> uuid/date projection (P1/P2) -> validity
  *   (F6) -> date-mode predicate (F3) -> first-seen dedup (D1) ->
  *   per-municipality limit (L1/L3) -> canonical naming (P7/J2) ->
  *   anti-join against sink inventory (J1/K5) -> fetch -> partitioned
  *   sink (K1).
  *
  * The last four steps are the ingest tail ([[named]], [[land]]) that
  * every sink-writing pipeline shares, each with its own acquire step.
  *
  * Hermetic: "portals" are HTML files named `{municipality}.html` in
  * `portalDir` (the live-HTTP connector plugs in behind the same
  * DataFrame, SURVEY.md §7.2). Idempotent: re-running against the same
  * sink ingests nothing (K5 exactly-once semantics via bulk inventory
  * listing + left_anti — never per-key existence probes).
  *
  * Scale shape: one exchange by municipality serves both the per-URL
  * dedup window and the per-municipality limit window; the anti-join's
  * build side is the sink's held (committee, filename) keys as read,
  * with no distinct. The inventory grows with everything ever written
  * — corpus-proportional over the crawl's lifetime — so its join
  * strategy is left to stats/AQE (broadcast while it fits, shuffle
  * anti-join once it doesn't) rather than a forced hint; everything
  * else is scan-local projection. A phase is one job chain ending in
  * the sink write. Discovery order is an explicit column, never an
  * implicit row order.
  */
object GenericIngest {

  val committeeSuffix: Map[String, String] = Map(
    "Oekonomi" -> "", "Teknik" -> "-teknikmiljoe",
    "Byraad" -> "-byraad", "Plan" -> "-plan")

  /** S1: CSV config scan with header mapping + trim
    * (scraper.py:278-298). Columns are mapped by header name, so their
    * order and any extra columns do not matter. The header is read on
    * the driver ([[configSchema]]), so building this frame runs no
    * Spark job. */
  def readConfigs(spark: SparkSession, csvPath: String): DataFrame =
    spark.read.schema(configSchema(spark, csvPath))
      .option("header", "true").csv(csvPath)
      .select(
        trim(col("Base URL")).as("base_url"),
        trim(col("Start URL")).as("start_url"))
      .filter(col("base_url").isNotNull && (col("base_url") =!= ""))
      .withColumn("municipality", Exprs.municipalityFromUrl(col("base_url")))

  /** The all-string schema a header-inferring CSV read of `csvPath`
    * would give, from one header line read through the Hadoop
    * `FileSystem`: the first non-empty line of the data files (names
    * not starting with `_` or `.`) in name order, so a Spark-written
    * CSV directory ([[Discovery.writeConfigCsv]]) reads like a file.
    * The line is parsed and made safe with Spark's own CSV rules. No
    * header line gives an empty schema, which fails on the first
    * column lookup as inference would. */
  private def configSchema(spark: SparkSession,
      csvPath: String): StructType = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.catalyst.csv.CSVOptions
    import org.apache.spark.sql.execution.datasources.csv.CSVUtils
    import org.apache.spark.sql.types.{StringType, StructField}
    val conf = spark.sessionState.newHadoopConf()
    val sql = spark.sessionState.conf
    val opts = new CSVOptions(Map("header" -> "true"),
      sql.csvColumnPruning, sql.sessionLocalTimeZone)
    val path = new Path(csvPath)
    val fs = path.getFileSystem(conf)
    val files = Option(fs.globStatus(path)).toSeq.flatten
      .flatMap(s => fs.listStatus(s.getPath))
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath).sortBy(_.toString)
    val header = files.iterator
      .flatMap(CSVUtils.readHeaderLine(_, opts, conf)).nextOption()
    StructType(header.toSeq.flatMap(line => CSVUtils.makeSafeHeader(
      new com.univocity.parsers.csv.CsvParser(opts.asParserSettings)
        .parseLine(line), sql.caseSensitiveAnalysis, opts))
      .map(StructField(_, StringType)))
  }

  /** Listing pages as (municipality, html) — one file per portal. */
  def readPortalPages(spark: SparkSession, portalDir: String): DataFrame =
    spark.read.option("wholetext", "true").text(portalDir)
      .withColumn("municipality",
        regexp_extract(input_file_name(), "([^/]+)\\.html$", 1))
      .withColumnRenamed("value", "html")

  /** The candidate-document table for one committee source. */
  def candidates(spark: SparkSession, configCsv: String, portalDir: String,
      committee: String, mode: String, limitPerMuni: Int,
      today: java.sql.Date): DataFrame = {
    GraftFunctions.register(spark)
    val configs = readConfigs(spark, configCsv)
    val pages = readPortalPages(spark, portalDir)
      // only configured municipalities are scraped (F4/J4 semantics)
      .join(broadcast(configs.select("municipality", "base_url")),
        Seq("municipality"), "inner")

    val links = pages
      .selectExpr("municipality", "base_url", "parse_html(html, 'a')")
      .select(col("municipality"), col("base_url"),
        col("pos").as("discovery_idx"), col("href"), col("text"))
      .filter(col("href").startsWith("/vis?Referat-")) // F1+F2

    val projected = dated(
      links.withColumn("url", Exprs.urlJoin(col("base_url"), col("href"))),
      mode, today)

    // D1: first-seen per URL in discovery order; then L3: the limit
    // budget counts only surviving rows, per municipality.
    // One exchange by municipality satisfies both windows' clustering.
    val dedupW = Window.partitionBy(col("municipality"), col("url"))
      .orderBy(col("discovery_idx"))
    val limitW = Window.partitionBy(col("municipality"))
      .orderBy(col("discovery_idx"))
    val limited = projected
      .repartition(fetchPartitions(spark), col("municipality"))
      .withColumn("rn", row_number().over(dedupW))
      .filter(col("rn") === 1)
      .withColumn("k", row_number().over(limitW))
      .filter(col("k") <= limitPerMuni)
    named(limited, committee, col("doc_uuid"))
      .withColumn("bucket", concat(lit("raw-files-"),
        regexp_replace(col("municipality"), "_", "-"),
        lit(committeeSuffix.getOrElse(committee, ""))))
      .select("municipality", "committee", "discovery_idx", "url",
        "doc_uuid", "meeting_date", "filename", "bucket")
  }

  /** P1/P2 uuid/date projection, F6 validity and F3 date mode of the
    * batch and streaming ingest. NEW keeps today-or-later (null dates
    * pass, scraper_utils.py:72-87). */
  private[graft] def dated(links: DataFrame, mode: String,
      today: java.sql.Date): DataFrame =
    links
      .withColumn("doc_uuid", Exprs.extractUuid(col("url")))
      .withColumn("meeting_date",
        Exprs.extractUrlDate(Exprs.urlPercentDecode(col("url"))))
      .filter(col("doc_uuid").isNotNull) // F6
      .filter(
        if (mode == "NEW") col("meeting_date").isNull ||
          col("meeting_date") >= lit(today)
        else lit(true))

  /** P7/P8: `committee` and the sanitized canonical sink key
    * `filename` (`key` names undated rows). */
  private[graft] def named(df: DataFrame, committee: String,
      key: Column): DataFrame =
    df.withColumn("committee", lit(committee))
      .withColumn("filename", Exprs.sanitizeFilename(
        Exprs.canonicalFilename(col("meeting_date"), col("municipality"),
          lit("oekonomiudvalget"), key)))

  /** Connector-backed ingest (E2 over the DSv2 `meetinglist` source):
    * the date bound and per-source limit push INTO the crawl
    * (SupportsPushDownFilters/Limit — older pages are never opened),
    * then the same naming/anti-join/fetch/sink tail as [[run]]. */
  def runFromConnector(spark: SparkSession, portalDir: String,
      sinkDir: String, committee: String = "Oekonomi",
      minDate: Option[java.sql.Date] = None,
      fetcher: Fetch.Fetcher = Fetch.StaticFetcher()): Long =
    land(connectorCandidates(spark, portalDir, committee, minDate),
      sinkDir, keep = col("status") < 400)(
      Fetch.fetchBinary(_, "url", fetcher))._1

  /** The connector-backed candidate plan [[runFromConnector]] fetches
    * and sinks: DSv2 `meetinglist` scan (date bound and limits push
    * into the crawl) -> validity filter -> canonical naming ->
    * first-seen dedup by filename. Split from the action so plan
    * sweeps (ScaleInvariantsSpec) audit the exact dataflow a
    * production run executes. */
  def connectorCandidates(spark: SparkSession, portalDir: String,
      committee: String = "Oekonomi",
      minDate: Option[java.sql.Date] = None): DataFrame = {
    val base = spark.read.format("meetinglist")
      .option("assumeSortedDesc", "true").load(portalDir)
    val bounded = minDate match {
      case Some(d) => base.filter(col("meeting_date") >= lit(d))
      case None => base
    }
    named(bounded.filter(col("doc_uuid").isNotNull), committee,
      col("doc_uuid"))
      .repartition(fetchPartitions(spark), col("filename"))
      .dropDuplicates("filename")
  }

  /** The partition count of the exchange a fetch runs behind: the
    * session's shuffle partitions. A fixed count keeps AQE from
    * coalescing the tiny URL rows into one task, so fetch concurrency
    * stays the task slots ([[Fetch]]); the PDF builders of
    * [[DeepScrape]] and [[CoverMergeScrape]] run behind it too. */
  private[graft] def fetchPartitions(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** Bulk sink inventory (J1's right side): list once, never probe
    * per key (contra reference scraper.py:212-219 head_object loop).
    * The known key schema makes a sink holding only a crashed write's
    * `_temporary` debris read as empty, not fail schema inference. */
  def inventory(spark: SparkSession, sinkDir: String): DataFrame =
    held(spark, sinkDir, "filename").distinct()

  /** The `keys` of the documents the sink holds, one row per document;
    * `committee` is the sink's partition column. */
  private def held(spark: SparkSession, sinkDir: String,
      keys: String*): DataFrame = {
    val (fs, path) = sinkFs(spark, sinkDir)
    (if (!fs.exists(path))
      spark.createDataFrame(java.util.List.of[Row](), inventorySchema)
    else spark.read.schema(inventorySchema).parquet(sinkDir))
      .select(keys.map(col): _*)
  }

  private val inventorySchema =
    StructType.fromDDL("filename STRING, committee STRING")

  /** The sink's Hadoop `FileSystem` and path, so a `file://` or remote
    * URI is looked up like a plain local path. */
  private def sinkFs(spark: SparkSession, sinkDir: String) = {
    val path = new org.apache.hadoop.fs.Path(sinkDir)
    (path.getFileSystem(spark.sessionState.newHadoopConf()), path)
  }

  /** J1/K5: the [[named]] candidates whose (committee, filename) key
    * the sink does not hold. The key carries the committee because
    * [[named]] gives every committee's documents the same P7 filename
    * form, and the reference checks one bucket per committee. The held
    * keys are the anti-join's build side as read: duplicates cannot
    * change a left-anti result, so no distinct runs. Split from [[land]]
    * so plan sweeps (ScaleInvariantsSpec) audit the join a run makes. */
  private[graft] def todo(candidates: DataFrame,
      sinkDir: String): DataFrame =
    candidates.join(
      held(candidates.sparkSession, sinkDir, "committee", "filename"),
      Seq("committee", "filename"), "left_anti")

  /** The ingest tail, the only writer of a document sink: [[todo]], so
    * `acquire` never sees a held document (the reference's "filter
    * before download", scraper.py:101-105), then one append of the kept
    * rows, less the fetch's status columns, partitioned by
    * municipality/committee (K1/K2). The `keep` and rejected counts
    * are an `Observation` on the acquired frame, read off the write's
    * own job, so a run without `errDir` acquires each document once,
    * inside that job. With `errDir`, the acquired frame is persisted
    * for its second reader, the rejected rows' url/status (K7). A write
    * that lands nothing adds no data file; when it found no sink it
    * leaves none. Returns (landed, rejected). */
  private[graft] def land(candidates: DataFrame, sinkDir: String,
      keep: Column = lit(true), errDir: String = null)(
      acquire: DataFrame => DataFrame): (Long, Long) = {
    val (fs, path) = sinkFs(candidates.sparkSession, sinkDir)
    val existed = fs.exists(path)
    val obs = new org.apache.spark.sql.Observation(
      s"land-${java.util.UUID.randomUUID()}")
    val observed = acquire(todo(candidates, sinkDir)).observe(obs,
      count(when(keep, 1)).as("kept"), count(when(!keep, 1)).as("rejected"))
    val acquired = if (errDir != null) observed.persist() else observed
    try {
      acquired.filter(keep).drop("status", "content_type")
        .write.mode("append").partitionBy("municipality", "committee")
        .parquet(sinkDir)
      val counts = obs.get
      val (n, rejected) = (counts("kept").asInstanceOf[Long],
        counts("rejected").asInstanceOf[Long])
      // an empty write into no sink leaves only the committer's marker
      if (n == 0 && !existed && fs.listStatus(path).forall(s =>
          Set("_SUCCESS", "._SUCCESS.crc")(s.getPath.getName)))
        fs.delete(path, true)
      if (errDir != null && rejected > 0) acquired.filter(!keep)
        .select("url", "status", "content_type")
        .write.mode("append").parquet(errDir)
      (n, rejected)
    } finally acquired.unpersist()
  }

  /** One ingest run: returns the number of newly-ingested documents.
    * Content acquisition goes through the pluggable [[Fetch.Fetcher]]
    * (hermetic StaticFetcher by default); fetch failures become K7
    * error side output instead of aborting the run. */
  def run(spark: SparkSession, configCsv: String, portalDir: String,
      sinkDir: String, committee: String = "Oekonomi",
      mode: String = "ALL", limitPerMuni: Int = 100,
      today: java.sql.Date = java.sql.Date.valueOf("2024-01-01"),
      metricsOut: scala.collection.mutable.Map[String, Long] = null,
      fetcher: Fetch.Fetcher = Fetch.StaticFetcher(),
      errDir: String = null): Long = {
    val cand = candidates(spark, configCsv, portalDir, committee, mode,
      limitPerMuni, today)
    // A2 progress counters (run_scrapers.py:90-97 tallies) as an
    // `observe` — zero-cost piggyback on the action, no extra pass.
    val obs = new org.apache.spark.sql.Observation()
    val observed = cand.observe(obs,
      count(lit(1)).as("n_candidates"),
      count(col("meeting_date")).as("n_dated"))
    val (n, failed) = land(observed, sinkDir, keep = col("status") < 400,
      errDir)(Fetch.fetchBinary(_, "url", fetcher))
    if (metricsOut != null) {
      import scala.concurrent.Await
      import scala.concurrent.duration._
      // The A2 observation sits below the anti-join. When AQE finds the
      // candidates empty at run time, its empty-relation rewrite drops
      // the finished stage that ran the observation from the final
      // plan, and the observation completes with no metrics, or not at
      // all. The listener pass that completed [[land]]'s observation
      // completes A2's too, so the wait is only a bound. Lost metrics,
      // or a wait that runs out, recount the candidates in a job of
      // their own: a lost counter never reads 0.
      val a2 = scala.util.Try(Await.result(obs.future, 10.seconds)).toOption
        .filter(_.length == 2)
        .getOrElse(cand.agg(count(lit(1)), count(col("meeting_date"))).head())
      metricsOut("n_candidates") = a2.getLong(0)
      metricsOut("n_dated") = a2.getLong(1)
      metricsOut("n_ingested") = n
      metricsOut("n_fetch_errors") = failed
    }
    n
  }
}
