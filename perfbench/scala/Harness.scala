package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{GraftSession, SparkEntry, Tables}
import graft.parse.HtmlParser
import graft.pipeline.GenericIngest
import graft.sources.MeetingListTable

/** Benchmark harness: runs one workload in one JVM through the engine's
  * public entry points and writes raw measurements as JSON. It judges
  * nothing; `run.py` checks outputs and turns the records into metrics.
  *
  * A run is: one set-up (JVM start until the session is ready and the
  * inputs are registered), one cold pass, then `warm` warm passes. With `--trace 1` the cold pass and
  * every second warm pass are traced: each call into a layer gets a job
  * group and a span, and one [[LayerListener]] attributes jobs, stages
  * and task metrics to those groups. The untraced warm passes in between
  * give the tracing overhead.
  *
  * Usage: Harness --workload W --inputs DIR --out DIR --warm N
  *   --trace 0|1 --cpus C [--queries a,b,c]
  *   [--limit L --min-date yyyy-MM-dd]
  */
object Harness {

  final class Op(val name: String) {
    val f = mutable.LinkedHashMap.empty[String, Any]
    def update(k: String, v: Any): Unit = f(k) = v
  }

  final class Pass(val idx: Int, val traced: Boolean) {
    val ops = ArrayBuffer.empty[Op]
    val f = mutable.LinkedHashMap.empty[String, Any]
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val inputs = a("inputs")
    val out = a("out")
    val trace = a("trace") == "1"
    val warm = a("warm").toInt
    val cpus = a("cpus")
    val queries = a.get("queries").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    new File(out).mkdirs()

    val spans = new Spans(trace)
    val listener = new LayerListener
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    // ---- set-up: what a scheduled batch run pays before its first call
    val ts = System.nanoTime()
    val spark = GraftSession.local(cpus)
    val tr = System.nanoTime()
    registerInputs(spark, workload, inputs)
    val registerS = (System.nanoTime() - tr) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val sessionS = (tr - ts) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    if (trace) {
      spark.sparkContext.addSparkListener(listener)
      Memo.installTaskClock(listener)
    }

    val work = new Work(spark, workload, inputs, out, queries, a, spans)
    val passes = ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    passes += work.runPass(0, traced = trace)
    for (i <- 1 to warm)
      passes += work.runPass(i, traced = trace && i % 2 == 0)
    val measuredS = (System.nanoTime() - t0) / 1e9
    val tOut = System.nanoTime()
    work.writeOutputs()
    val outputS = (System.nanoTime() - tOut) / 1e9
    if (trace) work.parseProbe(passes.toSeq)

    // stopping the context drains the listener bus, so every task-end
    // event has reached the listener before the groups are read
    spark.stop()
    if (trace) passes.foreach(p => if (p.traced) p.ops.foreach { op =>
      for (part <- Seq("construct", "exec", "probe"))
        listener.fill(op, s"${p.idx}/${op.name}/$part", part + "_")
    })

    val json = Json.obj(
      "workload" -> workload,
      "setup_s" -> setupS,
      "session_start_s" -> sessionS,
      "register_s" -> registerS,
      "measured_s" -> measuredS,
      "output_s" -> outputS,
      "cpus" -> cpus.toInt,
      "passes" -> passes.toSeq.map(p => Json.obj(
        (Seq("idx" -> p.idx, "traced" -> p.traced) ++ p.f.toSeq ++ Seq(
          "ops" -> p.ops.toSeq.map(o =>
            Json.obj((Seq("name" -> o.name) ++ o.f.toSeq): _*)))): _*)))
    Files.write(Paths.get(out, "results.json"), json.s.getBytes(UTF_8))
    if (trace) spans.write(Paths.get(out, "spans.jsonl"))
    System.exit(0)
  }

  /** The workload's inputs, as a user would register them before the
    * first query: the gate tables as temp views, or the ingest config
    * and portal listings as DataFrames. */
  def registerInputs(s: SparkSession, workload: String,
      inputs: String): Unit =
    if (workload == "ingest") {
      GenericIngest.readConfigs(s, s"$inputs/municipalities.csv")
      GenericIngest.readPortalPages(s, s"$inputs/portals")
    } else Tables.registerAll(s, s"$inputs/tables")

  /** (files, bytes) of the regular files under `dir`; zeros when absent. */
  def dirBytes(dir: File): (Long, Long) =
    if (!dir.exists()) (0L, 0L)
    else {
      val w = Files.walk(dir.toPath)
      try {
        var n = 0L; var b = 0L
        w.filter(Files.isRegularFile(_)).forEach { p =>
          n += 1; b += Files.size(p) }
        (n, b)
      } finally w.close()
    }

  final class Work(spark: SparkSession, workload: String, inputs: String,
      out: String, queries: Seq[String], a: Map[String, String],
      spans: Spans) {
    private val sc = spark.sparkContext
    private val tables = s"$inputs/tables"
    // `q209@reliable` runs q209 with reliable checkpoints switched on
    private def base(q: String) = q.stripSuffix("@reliable")
    private val byPrefix = queries.map(q => q ->
      SparkEntry.queries.keys.find(_.startsWith(base(q) + "_")).getOrElse(
        throw new IllegalArgumentException(s"no gate query $q"))).toMap
    private val limit = a.getOrElse("limit", "100").toInt
    private val minDate =
      a.get("min-date").map(java.sql.Date.valueOf)
    private val ckptDir = new File(s"$out/checkpoints")
    private val coldFrames = mutable.LinkedHashMap.empty[String,
      (DataFrame, Array[Row])]
    private var coldSinks: Option[(String, String)] = None

    def runPass(idx: Int, traced: Boolean): Pass = {
      val p = new Pass(idx, traced)
      val ck0 = dirBytes(ckptDir)._2
      val t0 = System.nanoTime()
      spans.span(s"pass", idx, traced) {
        if (workload == "ingest") ingestPass(p)
        else queries.foreach(q => p.ops += gateOp(p, q))
      }
      p.f("wall_s") = (System.nanoTime() - t0) / 1e9
      p.f("ops_s") = p.ops.map(_.f("wall_s").asInstanceOf[Double]).sum
      p.f("checkpoint_mb") = (dirBytes(ckptDir)._2 - ck0) / 1e6
      if (idx == 0) p.f("cached_mb") = sc.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum / 1e6
      p
    }

    private def group(pass: Pass, op: String, part: String): Unit =
      if (pass.traced) sc.setJobGroup(s"${pass.idx}/$op/$part", part)

    // ---- gate queries ------------------------------------------------
    private def gateOp(p: Pass, q: String): Op = {
      val op = new Op(q)
      val fn = SparkEntry.queries(byPrefix(q))
      val traced = p.traced
      val reliable = q.endsWith("@reliable")
      if (reliable)
        GraftSession.enableReliableCheckpoints(spark, ckptDir.getPath)
      val t0 = System.nanoTime()
      try spans.span(q, p.idx, traced) {
        if (!traced) {
          val df = fn(spark, tables)
          val rows = df.collect()
          op("wall_s") = (System.nanoTime() - t0) / 1e9
          op("rows") = rows.length
          if (p.idx == 0) coldFrames(q) = (df, rows)
        } else {
          group(p, q, "construct")
          val m0 = Memo.snapshot()
          val df = spans.span("construct", p.idx, traced)(fn(spark, tables))
          val t1 = System.nanoTime()
          val m1 = Memo.snapshot()
          group(p, q, "exec")
          val qe = df.queryExecution
          spans.span("catalyst", p.idx, traced)(qe.executedPlan)
          val t2 = System.nanoTime()
          val rows = spans.span("exec", p.idx, traced)(df.collect())
          val t3 = System.nanoTime()
          sc.clearJobGroup()
          op("wall_s") = (t3 - t0) / 1e9
          op("rows") = rows.length
          val ph = qe.tracker.phases
          def phase(n: String) = ph.get(n).map(_.durationMs / 1e3).getOrElse(0.0)
          val analysis = phase("analysis")
          op("analysis_s") = analysis
          op("optimization_s") = phase("optimization")
          op("planning_s") = phase("planning")
          op("catalyst_s") = analysis + phase("optimization") + phase("planning")
          // analysis of the final plan runs eagerly inside the operator
          // call; it is Catalyst's share, not construction's
          op("construct_s") = math.max(0.0, (t1 - t0) / 1e9 - analysis)
          op("exec_s") = (t3 - t2) / 1e9
          op("memo_build_s") = (m1.nanos - m0.nanos) / 1e9
          op("memo_builds") = m1.builds - m0.builds
          op("memo_build_task_s") = (m1.taskMs - m0.taskMs) / 1e3
          op("memo_available") = m1.available
          if (p.idx == 0) coldFrames(q) = (df, rows)
        }
      } catch {
        case e: Throwable =>
          sc.clearJobGroup()
          op("wall_s") = (System.nanoTime() - t0) / 1e9
          op("error") = s"${e.getClass.getName}: ${e.getMessage}".take(400)
      } finally {
        if (reliable) spark.conf.set("spark.graft.reliableCheckpoints", "false")
      }
      op
    }

    // ---- ingest --------------------------------------------------------
    private def ingestPass(p: Pass): Unit = {
      val root = s"$out/sinks/pass${p.idx}"
      val sink = s"$root/docs"
      val connSink = s"$root/connector"
      val csv = s"$inputs/municipalities.csv"
      def phase(name: String, portals: String)(run: => Long): Unit = {
        val op = new Op(name)
        val traced = p.traced
        if (traced && portals != null) {
          group(p, name, "probe")
          spans.span("probe.candidates", p.idx, traced) {
            val t = System.nanoTime()
            op("candidates") = GenericIngest.candidates(spark, csv, portals,
              "Oekonomi", "ALL", limit, java.sql.Date.valueOf("2024-01-01"))
              .count()
            op("candidates_s") = (System.nanoTime() - t) / 1e9
          }
          spans.span("probe.inventory", p.idx, traced) {
            val t = System.nanoTime()
            op("inventory_rows") = GenericIngest.inventory(spark, sink).count()
            op("inventory_s") = (System.nanoTime() - t) / 1e9
          }
        }
        val (f0, b0) = dirBytes(new File(if (portals == null) connSink else sink))
        val pages0 = MeetingListTable.pagesOpened.get()
        group(p, name, "exec")
        val t0 = System.nanoTime()
        try {
          val n = spans.span(name, p.idx, traced)(run)
          op("wall_s") = (System.nanoTime() - t0) / 1e9
          op("written") = n
        } catch {
          case e: Throwable =>
            op("wall_s") = (System.nanoTime() - t0) / 1e9
            op("error") = s"${e.getClass.getName}: ${e.getMessage}".take(400)
        }
        sc.clearJobGroup()
        op("pages_opened") = MeetingListTable.pagesOpened.get() - pages0
        val (f1, b1) = dirBytes(new File(if (portals == null) connSink else sink))
        op("sink_files") = f1 - f0
        op("sink_mb") = (b1 - b0) / 1e6
        p.ops += op
      }
      val base = s"$inputs/portals"
      val delta = s"$inputs/portals_delta"
      phase("empty", base)(GenericIngest.run(spark, csv, base, sink,
        limitPerMuni = limit))
      phase("rerun", base)(GenericIngest.run(spark, csv, base, sink,
        limitPerMuni = limit))
      phase("delta", delta)(GenericIngest.run(spark, csv, delta, sink,
        limitPerMuni = limit))
      phase("connector", null)(GenericIngest.runFromConnector(spark,
        s"$inputs/connector", connSink, minDate = minDate))
      if (p.idx == 0) coldSinks = Some((sink, connSink))
      else deleteTree(new File(root)) // keep only the checked cold sinks
    }

    /** Single-threaded parse of every generated listing page with the same
      * selector the pipeline uses; one measurement per traced pass. */
    def parseProbe(passes: Seq[Pass]): Unit = if (workload == "ingest") {
      val files = Option(new File(s"$inputs/portals").listFiles())
        .getOrElse(Array.empty).filter(_.getName.endsWith(".html")).sorted
      val pages = files.map(f =>
        new String(Files.readAllBytes(f.toPath), UTF_8))
      passes.filter(_.traced).foreach { p =>
        val t = System.nanoTime()
        val links = spans.span("probe.parse", p.idx, true) {
          pages.iterator.map(h => HtmlParser.selectAll(h, "a")
            .count(_.attr("href").exists(_.startsWith("/vis?Referat-"))))
            .sum
        }
        p.f("parse_s") = (System.nanoTime() - t) / 1e9
        p.f("parse_links") = links
        p.f("parse_pages") = pages.length
      }
    }

    /** What `run.py` checks: each gate result of the cold pass as
      * parquet (with the oracle SQL next to it), or the sinks' filename
      * lists. Runs after the measured passes. */
    def writeOutputs(): Unit = if (workload == "ingest") {
      coldSinks.foreach { case (sink, connSink) =>
        def names(dir: String): Seq[String] =
          if (!new File(dir).exists()) Seq.empty
          else spark.read.parquet(dir).select("filename").collect()
            .map(_.getString(0)).toSeq.sorted
        Files.write(Paths.get(out, "sink_files.txt"),
          names(sink).mkString("\n").getBytes(UTF_8))
        Files.write(Paths.get(out, "connector_files.txt"),
          names(connSink).mkString("\n").getBytes(UTF_8))
      }
    } else {
      coldFrames.foreach { case (q, (df, rows)) =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/results/$q")
      }
      val oracle = queries.flatMap(q =>
        SparkEntry.oracleSql.get(byPrefix(q)).map(base(q) -> _)).distinct
      Files.write(Paths.get(out, "oracle_sql.json"),
        Json.obj(oracle: _*).s.getBytes(UTF_8))
    }
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
