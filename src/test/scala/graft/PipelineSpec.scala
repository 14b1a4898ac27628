package graft

import java.nio.file.Files

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import graft.fetch.Fetch
import graft.pipeline.GenericIngest

/** [[Fetch.StaticFetcher]] that counts every fetch on
  * [[CountingFetcher]]'s JVM-static counter and records the partition
  * it ran in. */
case class CountingStaticFetcher(failPattern: String = "$^")
    extends Fetch.Fetcher {
  def fetch(url: String): Fetch.FetchResult = {
    CountingFetcher.calls.incrementAndGet()
    CountingStaticFetcher.partitions.add(
      org.apache.spark.TaskContext.getPartitionId())
    Fetch.StaticFetcher(failPattern).fetch(url)
  }
}

object CountingStaticFetcher {
  val partitions = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
}

/** End-to-end tests for the generic-ingest dataflow (E2) against the
  * fixture portals: parse -> project -> filter -> dedup -> limit ->
  * anti-join -> partitioned sink, incl. idempotent re-run (K5). */
class PipelineSpec extends SparkTestBase {

  private val csv = "src/test/resources/fixtures/municipalities.csv"
  private val portals = "src/test/resources/fixtures/portals"

  private def tmpSink(): String =
    Files.createTempDirectory("graft_sink_").resolve("docs").toString

  test("config scan trims whitespace and derives municipality (S1/P10)") {
    val configs = GenericIngest.readConfigs(spark, csv).collect()
    assert(configs.length == 2)
    val munis = configs.map(_.getAs[String]("municipality")).sorted
    assert(munis.sameElements(Array("aarhus", "silkeborg")))
    // trailing whitespace in the fixture start_url must be gone
    assert(configs.forall(r => r.getAs[String]("start_url") ==
      r.getAs[String]("start_url").trim))
  }

  private def configCsv(lines: String*): String = {
    val f = Files.createTempDirectory("graft_cfg_").resolve("configs.csv")
    Files.write(f, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    f.toString
  }

  test("config scan runs no Spark job (S1)") {
    assert(jobsRun(GenericIngest.readConfigs(spark, csv)) == 0)
  }

  test("config scan maps columns by header name (S1)") {
    val reordered = configCsv(
      "Start URL,Note,Base URL",
      "https://dagsordener.aarhus.dk/?x=1,first,https://dagsordener.aarhus.dk")
    val quoted = configCsv(
      "\"Base URL\",\"Start URL\"",
      "https://dagsordener.aarhus.dk,\"https://dagsordener.aarhus.dk/?x=1\"")
    for (path <- Seq(reordered, quoted)) {
      val rows = GenericIngest.readConfigs(spark, path)
        .select("base_url", "start_url", "municipality").collect()
      assert(rows.map(_.toSeq) sameElements Array(Seq(
        "https://dagsordener.aarhus.dk",
        "https://dagsordener.aarhus.dk/?x=1", "aarhus")), path)
    }
  }

  test("a header-only config reads as no rows (S1)") {
    assert(GenericIngest.readConfigs(spark,
      configCsv("Base URL,Start URL")).count() == 0)
  }

  test("candidates: parse, validity filter, first-seen dedup (ALL mode)") {
    val cand = GenericIngest.candidates(spark, csv, portals, "Oekonomi",
      "ALL", 100, java.sql.Date.valueOf("2024-01-01")).collect()
    // aarhus: 3 unique valid Referat links (dup collapsed, bad uuid out,
    // Dagsorden + nav link out); silkeborg: 2 unique
    assert(cand.length == 5)
    val byMuni = cand.groupBy(_.getAs[String]("municipality"))
    assert(byMuni("aarhus").length == 3)
    assert(byMuni("silkeborg").length == 2)
    // canonical filename carries the parsed date
    val f = cand.map(_.getAs[String]("filename"))
    assert(f.exists(_.startsWith("2024-04-08_aarhus_oekonomiudvalget")))
    assert(cand.forall(_.getAs[String]("bucket").startsWith("raw-files-")))
  }

  test("NEW mode keeps only today-or-later meetings (F3)") {
    val cand = GenericIngest.candidates(spark, csv, portals, "Oekonomi",
      "NEW", 100, java.sql.Date.valueOf("2024-04-01")).collect()
    // aarhus 2024-04-08 passes; 2024-03-11 and 2024-02-12 dropped;
    // silkeborg May meetings pass
    assert(cand.length == 3)
    assert(cand.forall(r =>
      !r.getAs[java.sql.Date]("meeting_date").before(
        java.sql.Date.valueOf("2024-04-01"))))
  }

  test("per-municipality limit counts only surviving rows (L1/L3)") {
    val cand = GenericIngest.candidates(spark, csv, portals, "Oekonomi",
      "ALL", 1, java.sql.Date.valueOf("2024-01-01")).collect()
    assert(cand.length == 2) // one per municipality
    // the kept row is the FIRST in discovery order
    val aarhus = cand.find(_.getAs[String]("municipality") == "aarhus").get
    assert(aarhus.getAs[String]("filename")
      .startsWith("2024-04-08_aarhus_oekonomiudvalget"))
  }

  test("ingest run is idempotent: second run ingests nothing (J1/K5)") {
    val sink = tmpSink()
    val n1 = GenericIngest.run(spark, csv, portals, sink)
    assert(n1 == 5)
    val n2 = GenericIngest.run(spark, csv, portals, sink)
    assert(n2 == 0)
    // sink is partitioned by municipality/committee and complete
    val stored = spark.read.parquet(sink)
    assert(stored.count() == 5)
    assert(stored.select("municipality").distinct().count() == 2)
    val dirs = new java.io.File(sink).listFiles().map(_.getName)
    assert(dirs.exists(_.startsWith("municipality=")))
  }

  test("sink files and directories keep their count and modes (K1)") {
    val sink = tmpSink()
    assert(GenericIngest.run(spark, csv, portals, sink) == 5)
    val w = Files.walk(java.nio.file.Paths.get(sink))
    val modes = try w.toArray.toSeq.map { case p: java.nio.file.Path =>
      (Files.isDirectory(p), java.nio.file.attribute.PosixFilePermissions
        .toString(Files.getPosixFilePermissions(p)))
    } finally w.close()
    val (dirs, files) = modes.partition(_._1)
    assert((files.length, dirs.length) == (6, 5))
    assert(files.forall(_._2 == "rw-r--r--"), files)
    assert(dirs.forall(_._2 == "rwxr-xr-x"), dirs)
  }

  test("observe metrics report candidates/dated/ingested counts (A2)") {
    val sink = tmpSink()
    val metrics = scala.collection.mutable.Map.empty[String, Long]
    GenericIngest.run(spark, csv, portals, sink, metricsOut = metrics)
    assert(metrics("n_candidates") == 5)
    assert(metrics("n_dated") == 5)
    assert(metrics("n_ingested") == 5)
  }

  test("a NEW-mode run with no new meetings reports zero counters (A2)") {
    // candidates empty only at run time, against a held sink; without
    // the broadcast the anti-join is a sort-merge join, whose empty
    // candidate stage AQE drops with the A2 observation inside it
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val shipped = spark.conf.get(key)
    Seq(shipped, "-1").foreach { threshold =>
      spark.conf.set(key, threshold)
      try {
        // the non-empty path reads its counters off the write: no job
        // beyond a run without them
        val plain = jobsRun(GenericIngest.run(spark, csv, portals, tmpSink()))
        val sink = tmpSink()
        val first = scala.collection.mutable.Map.empty[String, Long]
        assert(jobsRun(GenericIngest.run(spark, csv, portals, sink,
          metricsOut = first)) == plain, threshold)
        assert(first("n_candidates") == 5 && first("n_ingested") == 5)
        val metrics = scala.collection.mutable.Map.empty[String, Long]
        val n = Future(GenericIngest.run(spark, csv, portals, sink,
          mode = "NEW", today = java.sql.Date.valueOf("2099-01-01"),
          metricsOut = metrics))
        assert(Await.result(n, 2.minutes) == 0)
        assert(metrics == Map("n_candidates" -> 0L, "n_dated" -> 0L,
          "n_ingested" -> 0L, "n_fetch_errors" -> 0L), threshold)
      } finally spark.conf.set(key, shipped)
    }
  }

  test("partial inventory: only missing documents are fetched (K5)") {
    val sink = tmpSink()
    // pre-ingest with limit 1 per municipality, then full run
    assert(GenericIngest.run(spark, csv, portals, sink,
      limitPerMuni = 1) == 2)
    assert(GenericIngest.run(spark, csv, portals, sink) == 3)
    assert(spark.read.parquet(sink).count() == 5)
  }

  test("fetch failures go to K7 side output and retry on the next run") {
    val sink = tmpSink()
    val errDir = Files.createTempDirectory("graft_err_").resolve("errs").toString
    // silkeborg URLs fail on run 1
    val n1 = GenericIngest.run(spark, csv, portals, sink,
      fetcher = graft.fetch.Fetch.StaticFetcher(failPattern = "silkeborg"),
      errDir = errDir)
    assert(n1 == 3) // aarhus only
    val errs = spark.read.parquet(errDir)
    assert(errs.count() == 2)
    assert(errs.collect().forall(_.getAs[Int]("status") == 404))
    // run 2 with a healthy fetcher: exactly the failed docs are retried
    val n2 = GenericIngest.run(spark, csv, portals, sink)
    assert(n2 == 2)
    val stored = spark.read.parquet(sink)
    assert(stored.count() == 5)
    // content came from the fetcher, not a stub
    val sample = new String(stored.limit(1).collect()(0)
      .getAs[Array[Byte]]("content"), "UTF-8")
    assert(sample.startsWith("PDF-BYTES:"))
  }

  test("RetryingFetcher retries 5xx up to maxAttempts, passes 4xx through") {
    // flaky inner: 503 on the first two calls per url, then 200
    class Flaky extends graft.fetch.Fetch.Fetcher {
      val calls = scala.collection.mutable.Map.empty[String, Int]
      def fetch(url: String): graft.fetch.Fetch.FetchResult = {
        val n = calls.getOrElse(url, 0) + 1
        calls(url) = n
        if (url.contains("gone")) graft.fetch.Fetch.FetchResult(404, "", Array.empty)
        else if (n <= 2) graft.fetch.Fetch.FetchResult(503, "", Array.empty)
        else graft.fetch.Fetch.FetchResult(200, "application/pdf", Array(1))
      }
    }
    val flaky = new Flaky
    val r = graft.fetch.Fetch.RetryingFetcher(flaky, maxAttempts = 3)
    assert(r.fetch("http://x/doc").status == 200)
    assert(flaky.calls("http://x/doc") == 3)
    // 4xx is data, not a transient: exactly one attempt
    assert(r.fetch("http://x/gone").status == 404)
    assert(flaky.calls("http://x/gone") == 1)
    // budget respected: a permanent 5xx stops at maxAttempts
    val always503 = new graft.fetch.Fetch.Fetcher {
      var n = 0
      def fetch(url: String) = {
        n += 1; graft.fetch.Fetch.FetchResult(503, "", Array.empty)
      }
    }
    assert(graft.fetch.Fetch.RetryingFetcher(always503, maxAttempts = 3)
      .fetch("http://x/f").status == 503)
  }

  test("a sink left by a crashed first write reads as empty (K5)") {
    val sink = tmpSink()
    // a write that died before its first commit leaves only this
    Files.createDirectories(java.nio.file.Paths.get(sink, "_temporary", "0"))
    assert(GenericIngest.inventory(spark, sink).count() == 0)
    assert(GenericIngest.run(spark, csv, portals, sink) == 5)
    assert(spark.read.parquet(sink).count() == 5)
  }

  test("one committee's documents do not block another's (J1/K5)") {
    val sink = tmpSink()
    // both committees' documents carry the same P7 filenames
    assert(GenericIngest.run(spark, csv, portals, sink,
      committee = "Oekonomi") == 5)
    assert(GenericIngest.run(spark, csv, portals, sink,
      committee = "Teknik") == 5)
    assert(GenericIngest.run(spark, csv, portals, sink,
      committee = "Teknik") == 0)
    val stored = spark.read.parquet(sink)
    assert(stored.groupBy("committee").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("Oekonomi" -> 5L, "Teknik" -> 5L))
    assert(GenericIngest.inventory(spark, sink).count() == 5)
  }

  test("each missing document is fetched exactly once (K5)") {
    val sink = tmpSink()
    assert(CountingFetcher.counted(GenericIngest.run(spark, csv, portals,
      sink, limitPerMuni = 1, fetcher = CountingFetcher())) == ((2L, 2L)))
    assert(CountingFetcher.counted(GenericIngest.run(spark, csv, portals,
      sink, fetcher = CountingFetcher())) == ((3L, 3L)))
  }

  test("K7 counters: ingested and failed fetches from one run (A2/K7)") {
    val sink = tmpSink()
    val errDir = Files.createTempDirectory("graft_err_").resolve("errs").toString
    val metrics = scala.collection.mutable.Map.empty[String, Long]
    val n = GenericIngest.run(spark, csv, portals, sink,
      metricsOut = metrics,
      fetcher = graft.fetch.Fetch.StaticFetcher(failPattern = "silkeborg"),
      errDir = errDir)
    assert(n == 3)
    assert(metrics("n_ingested") == 3)
    assert(metrics("n_fetch_errors") == 2)
    assert(spark.read.parquet(errDir).count() == 2)
  }

  test("a file:// URI sink is found on re-run (J1/K5)") {
    val sink = java.nio.file.Paths.get(tmpSink()).toUri.toString
    assert(sink.startsWith("file:/"))
    assert(GenericIngest.run(spark, csv, portals, sink) == 5)
    assert(GenericIngest.run(spark, csv, portals, sink) == 0)
    assert(spark.read.parquet(sink).count() == 5)
  }

  test("an empty-sink run and a no-op re-run each take at most 4 jobs") {
    val sink = tmpSink()
    var n = -1L
    assert(jobsRun { n = GenericIngest.run(spark, csv, portals, sink) } <= 4)
    assert(n == 5)
    assert(jobsRun { n = GenericIngest.run(spark, csv, portals, sink) } <= 4)
    assert(n == 0)
  }

  test("land over no candidates returns (0, 0) and leaves no sink") {
    val sink = tmpSink()
    val none = GenericIngest.candidates(spark, csv, portals, "Oekonomi",
      "ALL", 100, java.sql.Date.valueOf("2024-01-01")).filter("false")
    val landed = Future(GenericIngest.land(none, sink)(
      Fetch.fetchBinary(_, "url", Fetch.StaticFetcher())))
    assert(Await.result(landed, 2.minutes) == ((0L, 0L)))
    assert(!new java.io.File(sink).exists())
  }

  test("a run whose every fetch fails reports it and leaves no sink (K7)") {
    val sink = tmpSink()
    val metrics = scala.collection.mutable.Map.empty[String, Long]
    assert(GenericIngest.run(spark, csv, portals, sink, metricsOut = metrics,
      fetcher = Fetch.StaticFetcher(failPattern = ".")) == 0)
    assert(metrics("n_fetch_errors") == 5)
    assert(metrics("n_ingested") == 0)
    assert(metrics("n_candidates") == 5)
    assert(!new java.io.File(sink).exists())
  }

  test("with an error sink, rejected rows are written and each document " +
      "is fetched once (K5/K7)") {
    val sink = tmpSink()
    val errDir = Files.createTempDirectory("graft_err_").resolve("errs")
      .toString
    assert(CountingFetcher.counted(GenericIngest.run(spark, csv, portals,
      sink, fetcher = CountingStaticFetcher("silkeborg"),
      errDir = errDir)) == ((3L, 5L)))
    assert(spark.read.parquet(errDir).count() == 2)
    assert(spark.read.parquet(sink).count() == 3)
  }

  test("the connector's fetch is not coalesced into one task") {
    val sink = tmpSink()
    CountingStaticFetcher.partitions.clear()
    assert(GenericIngest.runFromConnector(spark,
      "src/test/resources/fixtures/portals2", sink,
      fetcher = CountingStaticFetcher()) == 8)
    assert(CountingStaticFetcher.partitions.size > 1)
  }
}
