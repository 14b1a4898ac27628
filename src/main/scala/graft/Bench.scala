package graft

import scala.collection.mutable.ArrayBuffer

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line (last clean stdout line) for the driver.
  *
  * Bench measures; it does not judge. Nothing it prints depends on
  * earlier records: comparing two commits is perfbench's job
  * (alternating parent/change pairs, `perfbench/run.py`). The line's
  * `cal` and `cal_med` stay so a reader can divide out host speed by
  * hand.
  *
  * Measurement protocol: steady-state timing, made STALL-PROOF. Each query
  * gets one untimed warm run at the target scale (pays Catalyst planning,
  * whole-stage-codegen Janino compilation — AQE makes the generated code
  * scale-dependent, so a smaller-SF warmup does not transfer — JIT, file
  * listing, and the first build of every memoized index), then timed
  * runs until three BRACKET-CLEAN samples are collected, keeping the
  * best.
  *
  * Why bracketing: the bench host demonstrably pauses the whole JVM for
  * 5-47 s windows at near-idle load (VM-level throttling a real cluster
  * never sees; VARIANCE_r8.md has the `top -H` evidence, and BENCH_r08
  * recorded 173 s for a suite that re-ran clean at 22 s). A stall window
  * can span all three timed runs of consecutive queries, so best-of-N
  * alone cannot save the record. Every timed run is bracketed by a
  * calibration probe — a fixed 32-partition job; if either adjacent probe
  * exceeds 8x the steady-state probe time ([[probeLimit]], min 0.5 s), the
  * host was stalling in that window and the run
  * is discarded and retried. A probe that finds the host mid-stall waits
  * (bounded by a global stall budget) for the window to pass before the
  * next timed run. Queries that exhaust their attempts without a single
  * clean-bracketed sample fall back to the raw minimum and are listed in
  * the JSON's "stalled" field. Timed runs are also BUILD-FREE: a sample
  * during which [[ops.IndexMemo]] performed an index build is discarded
  * and retried, and the cumulative build time is reported once as
  * `memo_build_s`, so a shared index's build bill never lands on
  * whichever query touched it first.
  *
  * Output discipline: the driver captures only the tail of stdout, so the
  * JSON line must stay short. Query keys are shortened to their `qNN`
  * prefix (the driver contract's own example shape, `{"q1":sec,...}`),
  * timings are rounded (3 decimals, degrading to 2 then 1, then shedding
  * the fastest queries, if the line would exceed the budget), the total
  * comes first, and a query that throws is recorded as -1 (its error
  * goes to stderr) rather than being timed to the exception. A full run
  * also writes the full-precision line, with the per-tag build bill, to
  * a sidecar file.
  */
object Bench {
  private val LineBudget = 1900

  /** The full-precision sidecar a full run at `sfDir` writes: only a
    * run at the scale of record (sf0.1) owns `BENCH_full_local.json`;
    * a run at any other SF records under an SF-suffixed name, so a
    * local sf0.001 run never overwrites the sf0.1 record. */
  private def sidecarOf(sfDir: String): String =
    new java.io.File(sfDir).getName match {
      case "sf0.1" => "BENCH_full_local.json"
      case leaf => s"BENCH_full_local.$leaf.json"
    }

  private val QPrefix = "^(q\\d+)_".r

  /** "q38_minhash_pairs" -> "q38"; names without a qNN prefix pass through. */
  private def shortKey(name: String): String =
    QPrefix.findFirstMatchIn(name).map(_.group(1)).getOrElse(name)

  private def fmt(v: Double, decimals: Int): String =
    if (v < 0) "-1"
    else BigDecimal(v).setScale(decimals, BigDecimal.RoundingMode.HALF_UP)
      .bigDecimal.stripTrailingZeros.toPlainString

  /** One query's stall-aware measurement. `best` is the minimum over
    * bracket-clean runs when any exist, else over all runs; `stalled`
    * means no run had clean probes on both sides, so `best` may be
    * host-pause-inflated and the query belongs in the JSON's stalled list.
    */
  final case class Measured(best: Double, cleanRuns: Int, stalled: Boolean)

  /** The stall bracket's limit over every probe taken since warm-up: 8x
    * the steady-state probe time, min 0.5 s. The steady time is the
    * fastest probe so far: JIT warm-up only shortens a probe and a host
    * stall only lengthens one, so the running minimum falls to the steady
    * time within the first few queries and no stall can loosen it. The
    * startup calibration alone is taken mid-JIT: an sf0.001 run read it
    * at 0.285 s against a suite median of 0.109 s, which flagged a stall
    * only at 21x the steady probe. */
  def probeLimit(probes: Iterable[Double]): Double =
    math.max(0.5, 8 * probes.min)

  /** Collect timed runs until `wantClean` of them are bracketed by clean
    * calibration probes, up to `maxAttempts` runs total. `run` returns the
    * query's wall seconds or a negative value on error; `probeOk` returns
    * whether a calibration probe just ran at clean (un-stalled) speed —
    * it may block waiting for a stall window to pass. Pure logic, no Spark:
    * unit-tested in BenchProtocolSpec with synthetic runs/probes.
    */
  def measure(run: () => Double, probeOk: () => Boolean,
              wantClean: Int = 3, maxAttempts: Int = 6): Measured = {
    val raw = ArrayBuffer.empty[Double]
    val clean = ArrayBuffer.empty[Double]
    var attempts = 0
    var before = probeOk()
    while (clean.size < wantClean && attempts < maxAttempts) {
      val t = run()
      if (t < 0) return Measured(-1.0, clean.size, stalled = false)
      val after = probeOk()
      raw += t
      if (before && after) clean += t
      before = after // the probe after run N is the probe before run N+1
      attempts += 1
    }
    if (clean.nonEmpty) Measured(clean.min, clean.size, stalled = false)
    else Measured(raw.min, 0, stalled = true)
  }

  def main(args: Array[String]): Unit = {
    // Optional args restrict the run to the named queries — local
    // iteration on a new operator without paying the full suite. The
    // driver passes no args, so the official record is unaffected.
    val selected = SparkEntry.select(args.toSeq).fold(
      msg => { System.err.println(s"Bench: $msg"); sys.exit(2) }, identity)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    // a bench run bills ITS OWN index builds: in a fresh JVM this is a
    // no-op, and a second main() in one process (spec harnesses) must
    // neither inherit the first run's cumulative nanos under
    // memo_build_s nor serve its pinned indexes as free warm starts
    graft.ops.IndexMemo.clear()

    // Task-metric clock behind the per-tag build attribution:
    // cumulative executor task run / GC milliseconds, snapshotted by
    // IndexMemo around every build, so the sidecar can say whether a
    // tag's wall bill was task compute or dead wall (host pause,
    // scheduling gap). Approximate by design — task-end events post
    // asynchronously — but a 5 s wall bill carrying 0.3 s of task time
    // is unambiguous.
    val taskRunMs = new java.util.concurrent.atomic.AtomicLong(0L)
    val taskGcMs = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) {
            taskRunMs.addAndGet(m.executorRunTime)
            taskGcMs.addAndGet(m.jvmGCTime)
          }
        }
      })
    graft.ops.IndexMemo.taskClock =
      () => (taskRunMs.get(), taskGcMs.get())

    // Calibration probe: a fixed, scan-free 32-partition job. Big enough to
    // schedule real tasks on every core (so a paused executor thread shows
    // up), small enough to cost ~0.1 s clean.
    // Every probe taken anywhere in the suite is recorded: the startup
    // min alone is a snapshot of one host moment, and same-day runs have
    // measured it drifting 0.143-0.256 on unchanged code — so the record
    // also carries the MEDIAN over the whole suite's in-band probes
    // (hundreds of them, two per timed sample), a host-speed figure that
    // covers the same wall window as the queries it normalizes.
    val probeLog = ArrayBuffer.empty[Double]
    def probe(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 4000000L, 1L, 32).selectExpr("sum(id % 7)").collect()
      val t = (System.nanoTime() - t0) / 1e9
      probeLog += t
      t
    }
    (1 to 3).foreach(_ => probe()) // warm the probe's own codegen/JIT
    probeLog.clear() // warmup probes are JIT noise, not host speed
    val calibration = (1 to 5).map(_ => probe()).min
    // Whole-suite steady-state host speed: the median over the in-band
    // bracketing probes, trusted only once enough have run to be past
    // the probe's own JIT curve (~20 executions to steady state,
    // measured; a full suite takes 1000+). None on a short targeted
    // run, whose line then carries the startup `cal` alone.
    def runMedian(): Option[Double] =
      if (probeLog.size < 50) None
      else { val sorted = probeLog.sorted; Some(sorted(sorted.size / 2)) }

    // Global bound on time spent waiting for stall windows to pass, so a
    // pathologically-stalling host degrades to flagged-raw numbers instead
    // of an unbounded bench.
    var stallBudget = 240.0
    def probeOk(): Boolean = {
      var p = probe()
      while (p > probeLimit(probeLog) && stallBudget > 0) {
        stallBudget -= p + 1.0
        Thread.sleep(1000)
        p = probe()
      }
      p <= probeLimit(probeLog)
    }

    def onceOf(name: String, fn: SparkEntry.Q)(): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: " +
          s"${e.getClass.getName}: ${e.getMessage}")
        -1.0
      }
    }
    // A timed sample must not pay a memoized-index build: the warm
    // run below absorbs the first build, but FIFO eviction (or a
    // collision) can push a rebuild into a later timed run — and
    // that bill then lands on whichever query touched the shared
    // index. So a run whose IndexMemo build counter moved is
    // discarded and retried (bounded); the cumulative build time is
    // reported separately as memo_build_s.
    def buildFreeOf(name: String, fn: SparkEntry.Q)(): Double = {
      var tries = 0
      var t = -1.0
      var paidBuild = true
      while (paidBuild && tries < 3) {
        val b0 = graft.ops.IndexMemo.buildNanos
        t = onceOf(name, fn)()
        paidBuild = t >= 0 && graft.ops.IndexMemo.buildNanos > b0
        tries += 1
      }
      t
    }
    val results: Seq[(String, Measured)] =
      selected.sortBy(_._1).map { case (name, fn) =>
        onceOf(name, fn)() // untimed warm run (failures surface below)
        name -> measure(() => buildFreeOf(name, fn)(), () => probeOk())
      }
    val buildCounts = graft.ops.IndexMemo.buildCounts
    val total = results.collect { case (_, m) if m.best >= 0 => m.best }.sum
    val stalled = results.collect { case (n, m) if m.stalled => "\"" + shortKey(n) + "\"" }
      .mkString("[", ",", "]")
    // cal_med is OMITTED on short targeted runs (<50 in-band probes): a
    // mid-JIT-curve startup snapshot is not a steady-state figure
    val extra =
      runMedian().map(v => s""","cal_med":${fmt(v, 3)}""").getOrElse("") +
      s""","memo_build_s":${fmt(graft.ops.IndexMemo.buildNanos / 1e9, 3)}""" +
      s""","memo_builds_n":${buildCounts.values.sum}"""
    val out = assembleLine(results, total, calibration, sfDir, stalled, extra)
    // the suite outgrew the stdout budget (180+ queries x 3 decimals >
    // 1900 chars), so the degraded stdout line is no longer the whole
    // record: the FULL-precision line also lands in a sidecar file.
    // Best-effort: a read-only cwd must not fail the bench.
    if (args.isEmpty) {
      val sidecar = java.nio.file.Paths.get(sidecarOf(sfDir))
      // sidecar-only: per-tag build seconds, so a memo_build_s move is
      // attributable to its tag from the record alone. Nested builds
      // bill both tags.
      val buildWall = graft.ops.IndexMemo.buildNanosByTag
      val buildSecsJson = buildWall.toSeq.sortBy(_._1)
        .map { case (t, ns) => "\"" + t + "\":" + fmt(ns / 1e9, 3) }
        .mkString("{", ",", "}")
      // sidecar-only: per tag, [cumulative wall s, executor task-run s,
      // jvm GC s] — wall far above task time is dead wall (host pause /
      // scheduling), task time dominated by GC is memory pressure, and
      // wall ≈ task/threads is real compute.
      val buildTasks = graft.ops.IndexMemo.buildTaskMsByTag
      val buildTasksJson = buildWall.toSeq.sortBy(_._1)
        .map { case (t, ns) =>
          val (runMs, gcMs) = buildTasks.getOrElse(t, (0L, 0L))
          "\"" + t + "\":[" + fmt(ns / 1e9, 3) + "," +
            fmt(runMs / 1e3, 3) + "," + fmt(gcMs / 1e3, 3) + "]" }
        .mkString("{", ",", "}")
      // sidecar-only: ~26 per-tag build counts cost ~500 chars the
      // stdout tail budget cannot spare (stdout has memo_builds_n)
      val buildsJson = buildCounts.toSeq.sortBy(_._1)
        .map { case (t, n) => "\"" + t + "\":" + n }.mkString("{", ",", "}")
      val line = lineOf(results, total, calibration, sfDir, stalled,
        extra +
          s""","memo_build_s_by_tag":$buildSecsJson""" +
          s""","memo_build_tasks_by_tag":$buildTasksJson""" +
          s""","memo_builds":$buildsJson""",
        decimals = 3) + "\n"
      try java.nio.file.Files.writeString(sidecar, line)
      catch {
        case scala.util.control.NonFatal(e) =>
          // a stale sidecar from an earlier run must not silently
          // masquerade as this run's record: remove it and warn.
          try java.nio.file.Files.deleteIfExists(sidecar)
          catch { case scala.util.control.NonFatal(_) => () }
          System.err.println(
            s"WARN Bench: could not write ${sidecar.toAbsolutePath} " +
              s"(${e.getClass.getSimpleName}: ${e.getMessage}); " +
              "stale sidecar removed, stdout line is the only record")
      }
    }
    println(out)
    spark.stop()
  }

  /** One bench line: the header fields, `extra` (pre-rendered
    * `,"key":value` fields) after `cal`, then `stalled` and the
    * per-query map at `decimals` — the slowest `topK` queries only,
    * with the truncation self-described, when `topK` is smaller than
    * the suite. */
  private[graft] def lineOf(results: Seq[(String, Measured)],
      total: Double, calibration: Double, sfDir: String,
      stalled: String, extra: String, decimals: Int,
      topK: Int = Int.MaxValue): String = {
      // when the suite no longer fits the tail budget, keep the
      // SLOWEST topK queries (the ones a perf reader acts on) and
      // self-describe the truncation; the sidecar file keeps them all
      val kept =
        if (topK >= results.size) results
        else results.sortBy { case (_, m) => -m.best }.take(topK)
          .sortBy(_._1)
      val qs = kept.map { case (k, m) =>
        "\"" + shortKey(k) + "\":" + fmt(m.best, decimals) }
        .mkString("{", ",", "}")
      val trunc =
        if (kept.size < results.size)
          s""","q_reported":${kept.size},"q_total":${results.size}""" +
            s""","queries_full":"${sidecarOf(sfDir)}""""
        else ""
      s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec","sf":"$sfDir"""" +
        s""","cal":${fmt(calibration, 3)}$extra""" +
        trunc + s""","stalled":$stalled,"queries":$qs}"""
  }

  /** Pick the richest line that fits the stdout tail budget: degrade
    * per-query decimals first (sub-2x deltas are noise per the
    * reading rules), then shed the FASTEST queries while keeping the
    * `extra` fields and the slowest movers; last resort keeps the line
    * parseable NO MATTER WHAT (a recorded total with an empty queries
    * map beats truncated JSON — the driver keeps only the last 2000
    * stdout chars, so an overlong line would lose its head and fail to
    * parse at all). */
  private[graft] def assembleLine(results: Seq[(String, Measured)],
      total: Double, calibration: Double, sfDir: String,
      stalled: String, extra: String): String =
    (Seq(3, 2, 1).map(d => (d, Int.MaxValue)) ++
      Seq(130, 110, 90, 70, 50, 30).map(k => (2, k)))
      .map { case (d, k) => lineOf(results, total, calibration,
        sfDir, stalled, extra, d, k) }
      .find(_.length <= LineBudget)
      .getOrElse(s"""{"metric":"total","value":${fmt(total, 3)}""" +
        s""","unit":"sec","sf":"$sfDir","cal":${fmt(calibration, 3)}""" +
        s""","stalled":$stalled,"queries":{}}""")
}
