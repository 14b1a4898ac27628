package graft

import scala.collection.mutable.ArrayBuffer

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line (last clean stdout line) for the driver.
  *
  * Measurement protocol: steady-state timing, made STALL-PROOF. Each query
  * gets one untimed warm run at the target scale (pays Catalyst planning,
  * whole-stage-codegen Janino compilation — AQE makes the generated code
  * scale-dependent, so a smaller-SF warmup does not transfer — JIT, file
  * listing), then timed runs until three BRACKET-CLEAN samples are
  * collected, keeping the best.
  *
  * Why bracketing: the bench host demonstrably pauses the whole JVM for
  * 5-47 s windows at near-idle load (VM-level throttling a real cluster
  * never sees; VARIANCE_r8.md has the `top -H` evidence, and BENCH_r08
  * recorded 173 s for a suite that re-ran clean at 22 s). A stall window
  * can span all three timed runs of consecutive queries, so best-of-N
  * alone cannot save the record. Timed runs are additionally
  * BUILD-FREE: a sample during which [[ops.IndexMemo]] performed an
  * index build is discarded and retried, and the cumulative build time
  * is reported once as `memo_build_s` — so shared-index build bills
  * never land on whichever query touched the index first and per-query
  * times compare across rounds. Instead every timed run is bracketed by a
  * calibration probe — a fixed 32-partition job whose clean time is
  * measured at startup; if either adjacent probe exceeds 8x the calibrated
  * baseline (min 0.5 s), the host was stalling in that window and the run
  * is discarded and retried. A probe that finds the host mid-stall waits
  * (bounded by a global stall budget) for the window to pass before the
  * next timed run. Queries that exhaust their attempts without a single
  * clean-bracketed sample fall back to the raw minimum and are listed in
  * the JSON's "stalled" field, so the driver record is self-describing:
  * a reader comparing rounds can see exactly which numbers to distrust.
  *
  * Output discipline: the driver captures only the tail of stdout, so the
  * JSON line must stay short. Query keys are shortened to their `qNN`
  * prefix (the driver contract's own example shape, `{"q1":sec,...}`),
  * timings are rounded (3 decimals, degrading to 2 then 1 if the line
  * would exceed the budget), the total comes first, and a query that
  * throws is recorded as -1 rather than being timed to the exception.
  *
  * Cross-round comparability: hosts differ in uniform throughput between
  * sessions (VARIANCE_r9.md measured a clean 1.5x on untouched code), so
  * raw totals across rounds mislead. When a previous round's
  * `BENCH_r*.json` is present in the working directory, the JSON line
  * self-describes the comparison: `cal_ratio_vs_prev` (this session's
  * calibration probe over the previous one — the host-speed normalizer)
  * and `shared_ratio_calnorm` (the shared-clean-query time ratio divided
  * by that normalizer; ~1.0 means same engine speed once host variance
  * is removed). Stalled queries on either side are excluded from the
  * shared set.
  *
  * Host-drift self-labeling (r14, mechanizing the r13 verdict's manual
  * adjudication): the sum-based shared ratio is dominated by a few slow
  * movers, so the record also carries `shared_median_ratio` — the
  * per-query MEDIAN calnorm ratio vs the prior record — and flags
  * `host_drift` when that median leaves the ±20% band. A drifted first
  * pass additionally tightens the stall-reverify trigger from 2.5x to
  * 1.8x, so a uniformly slow host period re-runs its ~2x cohort instead
  * of certifying it (r13 shipped 14 queries between 2.0x and 2.75x that
  * way). The stdout `reverified` list truncates to 40 with the full
  * count in `reverified_n`; the sidecar keeps the complete list.
  */
object Bench {
  private val LineBudget = 1900

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

  private val QNum = "\"(q\\d+)\":(-?[0-9.]+)".r
  private val CalField = "\"cal\":([0-9.]+)".r
  private val CalMedField = "\"cal_med\":([0-9.]+)".r
  private val StalledField = "\"stalled\":\\[([^\\]]*)\\]".r
  private val SfField = "\"sf\":\"([^\"]+)\"".r
  private val BestKnownField = "\"best_known\":\\{([^}]*)\\}".r
  private val BestKnownEntry =
    "\"([A-Za-z0-9_]+)\":\\[([0-9.]+),([0-9.]+)\\]".r
  private val BuildSecsField = "\"memo_build_s_by_tag\":\\{([^}]*)\\}".r
  private val BuildSecsEntry = "\"([A-Za-z0-9_]+)\":([0-9.]+)".r

  /** Parsed prior-round record: the bench line's own fields. `calMed`
    * is the steady-state in-band probe median (absent in records from
    * before r13); `bestKnown` is the sidecar's rolling per-query
    * best-ever-warm map (absent before r16): shortKey -> (min warm
    * seconds ever recorded at this SF, the recording run's cal);
    * `buildSecs` is the sidecar's per-tag memoized-build bill (absent
    * before r15) — the prior the build-side slow detector compares
    * against (r18). */
  private[graft] final case class PrevBench(name: String, sfDir: String,
      cal: Double, stalled: Set[String], queries: Map[String, Double],
      calMed: Option[Double] = None,
      bestKnown: Map[String, (Double, Double)] = Map.empty,
      buildSecs: Map[String, Double] = Map.empty)

  /** Parse one bench record file. The driver wraps the bench line
    * ESCAPED inside its own JSON (`"tail": "...\"cal\": ..."`), so
    * `\"` unescapes before the field regexes run — they are enough
    * because the inner line is machine-written, single-line, flat. */
  private def parseBenchFile(f: java.io.File): Option[PrevBench] = {
    val s = scala.io.Source.fromFile(f)
    val text = (try s.mkString finally s.close())
      .replace("\\\"", "\"")
    for {
      cal <- CalField.findFirstMatchIn(text).map(_.group(1).toDouble)
      sf <- SfField.findFirstMatchIn(text).map(_.group(1))
    } yield {
      val stalled = StalledField.findFirstMatchIn(text)
        .map(_.group(1).split(",").map(_.trim.stripPrefix("\"")
          .stripSuffix("\"")).filter(_.nonEmpty).toSet)
        .getOrElse(Set.empty[String])
      val qs = QNum.findAllMatchIn(text)
        .map(m2 => m2.group(1) -> m2.group(2).toDouble).toMap
      val calMed = CalMedField.findFirstMatchIn(text)
        .map(_.group(1).toDouble).filter(_ > 0)
      val bk = BestKnownField.findFirstMatchIn(text).map { m =>
        BestKnownEntry.findAllMatchIn(m.group(1)).map(e =>
          e.group(1) -> (e.group(2).toDouble, e.group(3).toDouble)).toMap
      }.getOrElse(Map.empty[String, (Double, Double)])
      val bs = BuildSecsField.findFirstMatchIn(text).map { m =>
        BuildSecsEntry.findAllMatchIn(m.group(1)).map(e =>
          e.group(1) -> e.group(2).toDouble).toMap
      }.getOrElse(Map.empty[String, Double])
      PrevBench(f.getName, sf, cal, stalled, qs, calMed, bk, bs)
    }
  }

  /** The latest committed `BENCH_r<N>.json` in `dir`. None on any
    * miss so the bench never fails over this. */
  private[graft] def latestPrevBench(dir: String = ".")
      : Option[PrevBench] =
    try {
      val rx = "BENCH_r(\\d+)\\.json".r
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .flatMap(f => f.getName match {
          case rx(n) => Some((n.toInt, f))
          case _ => None
        })
        .sortBy(-_._1).headOption.flatMap { case (_, f) =>
          parseBenchFile(f)
        }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The committed full-precision sidecar (`BENCH_full_local.json`) as
    * a secondary prior: the official driver record keeps only the
    * slowest ~130 queries (stdout tail budget), so the FAST queries —
    * exactly the ones a host stall inflates most dramatically — would
    * otherwise lose their stall-re-verify bar. None on any miss. */
  private[graft] def sidecarPrevBench(dir: String = ".")
      : Option[PrevBench] =
    try {
      val f = new java.io.File(dir, "BENCH_full_local.json")
      if (f.isFile) parseBenchFile(f) else None
    } catch { case scala.util.control.NonFatal(_) => None }

  /** EVERY available full-precision local record: the rolling sidecar
    * plus all round-stamped `BENCH_full_r*.json` files, newest round
    * first. best_known seeding folds all of them (r17): the rolling
    * sidecar alone loses the best-ever history whenever a cross-SF
    * run or the driver's post-commit official re-run overwrites it —
    * the round-stamped records make the minimum survive in files, not
    * just in git. */
  private[graft] def sidecarPriors(dir: String = "."): Seq[PrevBench] =
    try {
      val rx = "BENCH_full_r(\\d+)\\D*\\.json".r
      val stamped = Option(new java.io.File(dir).listFiles())
        .getOrElse(Array.empty)
        .flatMap(f => f.getName match {
          case rx(n) => Some((n.toInt, f))
          case _ => None
        })
        .sortBy(-_._1).flatMap { case (_, f) => parseBenchFile(f) }
      sidecarPrevBench(dir).toSeq ++ stamped
    } catch { case scala.util.control.NonFatal(_) => Nil }

  /** The round this run belongs to: one past the newest committed
    * official record (`BENCH_r<N>.json`) — the driver writes that file
    * only at round end, so both the builder's in-round runs and the
    * driver's post-commit official run stamp the SAME round. */
  private[graft] def currentRound(dir: String = "."): Int =
    try {
      val rx = "BENCH_r(\\d+)\\.json".r
      1 + Option(new java.io.File(dir).listFiles())
        .getOrElse(Array.empty)
        .flatMap(_.getName match {
          case rx(n) => Some(n.toInt)
          case _ => None
        }).foldLeft(0)(math.max)
    } catch { case scala.util.control.NonFatal(_) => 0 }

  /** The host-speed normalizer between two records: the steady-state
    * in-band probe medians when BOTH records carry one, else the
    * startup calibrations. The probe JIT-warms ~0.27 → ~0.11 s over
    * its first ~20 executions (measured r13), so the 3-warmup startup
    * `cal` sits mid-curve and drifts 0.143-0.256 on unchanged code —
    * the medians, taken over hundreds of steady-state probes spanning
    * the same wall window as the queries, are the comparable pair. */
  private[graft] def calPair(cal: Double, calMed: Option[Double],
      p: PrevBench): (Double, Double) = (calMed, p.calMed) match {
    case (Some(a), Some(b)) => (a, b)
    case _ => (cal, p.cal)
  }

  /** How much slower this host runs than a prior's, as the factor
    * that raises the prior's bar: never below 1 (a faster host does
    * not lower a bar), and 1 when either normalizer is missing. */
  private def hostClamp(now: Double, prior: Double): Double =
    if (now > 0 && prior > 0) math.max(1.0, now / prior) else 1.0

  /** The two priors a run is judged against, in order: the official
    * record, then the sidecar restricted to the queries the official
    * record's stdout-truncated query map is missing. An official
    * record at a DIFFERENT scale factor adjudicates nothing — its keys
    * must not mask the sidecar's priors either. */
  private def mergedPriors(official: Option[PrevBench],
      sidecar: Option[PrevBench], sfDir: String): Seq[Option[PrevBench]] = {
    val known = official.filter(_.sfDir == sfDir)
      .map(_.queries.keySet).getOrElse(Set.empty)
    Seq(official, sidecar.map(p => p.copy(
      queries = p.queries.filter { case (k, _) => !known.contains(k) })))
  }

  /** Per-query cal-normalized ratios vs a prior record, by query key —
    * the basis of the drift median, shipped in the sidecar so a mover
    * audit need not recompute them. One entry per query that is clean
    * on BOTH sides at the same scale factor; each prior is normalized
    * with its own [[calPair]]. Pure logic: BenchProtocolSpec.
    * `m.best >= 0` matches [[reverifyTargets]]' clean-side definition
    * (a 0.0 s measurement is clean; only -1 marks failure — the
    * prior-side v > 0 check alone guards the division). */
  private[graft] def calnormRatiosNamed(results: Seq[(String, Measured)],
      prev: Option[PrevBench], sfDir: String, cal: Double,
      calMed: Option[Double] = None): Seq[(String, Double)] =
    prev match {
      case Some(p) if p.sfDir == sfDir =>
        val (c, pc) = calPair(cal, calMed, p)
        if (c <= 0 || pc <= 0) Nil
        else results.collect {
          case (n, m) if m.best >= 0 && !m.stalled &&
              p.queries.get(shortKey(n)).exists(v => v > 0 &&
                !p.stalled(shortKey(n))) =>
            shortKey(n) -> (m.best / p.queries(shortKey(n))) / (c / pc)
        }
      case _ => Nil
    }

  /** [[calnormRatiosNamed]] against [[mergedPriors]], keys dropped. */
  private[graft] def calnormRatiosMerged(results: Seq[(String, Measured)],
      official: Option[PrevBench], sidecar: Option[PrevBench],
      sfDir: String, cal: Double, calMed: Option[Double] = None)
      : Seq[Double] =
    calnormRatiosMergedNamed(results, official, sidecar, sfDir, cal,
      calMed).map(_._2)

  private[graft] def calnormRatiosMergedNamed(
      results: Seq[(String, Measured)], official: Option[PrevBench],
      sidecar: Option[PrevBench], sfDir: String, cal: Double,
      calMed: Option[Double] = None): Seq[(String, Double)] =
    mergedPriors(official, sidecar, sfDir)
      .flatMap(calnormRatiosNamed(results, _, sfDir, cal, calMed))

  /** Median of the per-query calnorm ratios — a host-drift figure the
    * sum-based `shared_ratio_calnorm` can't give (a few slow movers
    * dominate a sum; uniform drift moves the median). None under 20
    * shared queries: a targeted run's median is sampling noise. */
  private[graft] def sharedMedianRatio(ratios: Seq[Double])
      : Option[Double] =
    if (ratios.size < 20) None
    else {
      val s = ratios.sorted
      // true median (even n averages the two middles): the host_drift
      // flag compares this against hard 0.8/1.2 edges, and an
      // upper-middle "median" could flip a borderline flag on the
      // PARITY of the shared-query count
      Some(if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0)
    }

  /** The r13 verdict's adjudication rule, mechanized: a per-query
    * median calnorm ratio outside the ±20% noise band means the host
    * (or the normalizer) drifted broadly — the record self-labels
    * `host_drift` so a reader distrusts cross-round per-query deltas,
    * and the stall-reverify trigger tightens from 2.5x to 1.8x so the
    * drifted cohort is re-run instead of certified (r13's 14 queries
    * between 2.0x and 2.75x sailed under the spike-calibrated 2.5x). */
  private[graft] def isHostDrift(medianRatio: Option[Double]): Boolean =
    medianRatio.exists(m => m < 0.8 || m > 1.2)

  /** The `,"prev":...` JSON fragment comparing this run to the previous
    * round's record, cal-normalized; empty when no sound comparison
    * exists (no prior file, different scale factor, zero shared clean
    * queries). */
  private[graft] def prevComparisonJson(cal: Double, sfDir: String,
      results: Seq[(String, Measured)], dir: String = ".",
      calMed: Option[Double] = None): String =
    latestPrevBench(dir).map { p =>
      val shared = results.collect {
        case (n, m) if m.best >= 0 && !m.stalled => (shortKey(n), m.best)
      }.filter { case (k, _) =>
        p.queries.get(k).exists(_ > 0) && !p.stalled(k) }
      val now = shared.map(_._2).sum
      val before = shared.map { case (k, _) => p.queries(k) }.sum
      val (c, pc) = calPair(cal, calMed, p)
      if (p.sfDir == sfDir && shared.nonEmpty && before > 0 &&
          pc > 0 && c > 0) {
        val calRatio = c / pc
        val norm = (now / before) / calRatio
        s""","prev":"${p.name}","shared_q":${shared.size}""" +
          s""","cal_ratio_vs_prev":${fmt(calRatio, 3)}""" +
          s""","shared_ratio_calnorm":${fmt(norm, 3)}"""
      } else ""
    }.getOrElse("")

  /** Queries whose measured best is implausibly above the previous
    * round's committed record — the stall-survivor signature the r12
    * verdict adjudicated: q43 recorded at 7.88 s where a same-host
    * warm re-measure read 0.43 s, because a host-pause window milder
    * than the 8×cal probe gate inflated every bracketed sample. A
    * query qualifies when this run's best exceeds BOTH 2.5× and
    * +0.25 s over its prior clean value (the absolute floor keeps
    * 0.03→0.09 s micro-query jitter from triggering re-runs),
    * host-speed-adjusted when this host is slower (cal ratio > 1).
    * Only same-SF priors with both sides bracket-clean count. Pure
    * logic: unit-tested in BenchProtocolSpec. */
  private[graft] def reverifyTargets(results: Seq[(String, Measured)],
      prev: Option[PrevBench], sfDir: String, cal: Double,
      calMed: Option[Double] = None, factor: Double = 2.5): Seq[String] =
    prev match {
      case Some(p) if p.sfDir == sfDir && p.cal > 0 && cal > 0 =>
        val (c, pc) = calPair(cal, calMed, p)
        val host = hostClamp(c, pc)
        results.collect {
          case (n, m) if m.best >= 0 && !m.stalled &&
              p.queries.get(shortKey(n)).exists(v => v > 0 &&
                !p.stalled(shortKey(n)) &&
                (m.best > math.max(factor * v, v + 0.25) * host ||
                  // per-query spike rule, independent of drift state
                  // and of the host>=1 clamp: r14's q106 shipped a
                  // 2.57x CALNORM move unadjudicated because its raw
                  // ratio (2.36x) sat under the 2.5x trigger on an
                  // in-band record. Any single mover past 2x calnorm
                  // AND +0.25 s absolute re-runs, full stop.
                  ((m.best / v) / (c / pc) > 2.0 &&
                    m.best > v + 0.25))) => n
        }
      case _ => Nil
    }

  /** [[reverifyTargets]] against [[mergedPriors]] — each prior judged
    * with its own cal fields. */
  private[graft] def reverifyTargetsMerged(
      results: Seq[(String, Measured)], official: Option[PrevBench],
      sidecar: Option[PrevBench], sfDir: String, cal: Double,
      calMed: Option[Double] = None, factor: Double = 2.5): Seq[String] =
    mergedPriors(official, sidecar, sfDir)
      .flatMap(reverifyTargets(results, _, sfDir, cal, calMed, factor))
      .distinct

  /** Rolling per-query best-ever-warm prior (r15 verdict task 3): the
    * minimum warm seconds ever recorded at this SF, with the cal of
    * the run that set it — the host-speed context a later reader
    * needs. Seeded from the prior sidecar's own best_known map AND its
    * queries map (so the mechanism bootstraps from existing records),
    * then improved by this run's clean measurements. Raw min: a best
    * is a lower bound by definition, and keeping its cal lets the
    * consumer host-adjust instead of baking one normalizer in. */
  private[graft] def mergedBestKnown(prior: Option[PrevBench],
      sfDir: String, results: Seq[(String, Measured)], calNow: Double)
      : Map[String, (Double, Double)] = {
    val seed = prior.filter(_.sfDir == sfDir).map { p =>
      // queries-seeded entries REQUIRE the prior to carry cal_med
      // (ADVICE r16): reverifyLabel compares against the CURRENT
      // steady-state median, and the two normalizer families diverge
      // ~60% on this host — a startup-cal prior under a median
      // comparison violates the calPair like-with-like rule. A
      // pre-cal_med record still contributes via its own best_known.
      val fromQueries = p.calMed match {
        case Some(med) => p.queries.collect {
          case (k, v) if v > 0 && !p.stalled(k) => k -> (v, med)
        }
        case None => Map.empty[String, (Double, Double)]
      }
      // an existing best_known entry beats the same record's queries
      // value by construction (it already folded that run in)
      fromQueries ++ p.bestKnown
    }.getOrElse(Map.empty[String, (Double, Double)])
    val current = results.collect {
      case (n, m) if m.best >= 0 && !m.stalled =>
        shortKey(n) -> (m.best, calNow)
    }.toMap
    (seed.keySet ++ current.keySet).iterator.map { k =>
      k -> Seq(seed.get(k), current.get(k)).flatten.minBy(_._1)
    }.toMap
  }

  /** Adjudicate one still-slow reverified query against its best-known
    * prior (r15 verdict: a reverify re-run shares the original's host
    * window, so a "confirmed" slow value proves nothing by itself).
    * `host-window`: the value exceeds DOUBLE the best ever recorded
    * even after host adjustment (bestCal -> calNow) — the documented
    * stall-window signature, distrust it. `confirmed-vs-best`: the
    * value is within that band, i.e. plausibly a real measurement.
    * Caveat a consumer must keep: a genuine regression ALSO reads
    * host-window on its first appearance (best_known keeps the min
    * ever), so a repeated host-window label across rounds on TOUCHED
    * code is a regression, not noise. */
  private[graft] def reverifyLabel(v: Double, best: (Double, Double),
      calNow: Double): String = {
    val (bestT, bestCal) = best
    if (v <= bestT * hostClamp(calNow, bestCal) * 2.0) "confirmed-vs-best"
    else "host-window"
  }

  /** Labels for the reverified queries whose FINAL value still trips
    * the reverify rule (the confirmed movers a judge must adjudicate —
    * rescued ones need none). Only queries with a best-known prior get
    * a label; shortKey -> label. */
  private[graft] def reverifyLabels(confirmed: Seq[String],
      bestKnown: Map[String, (Double, Double)],
      results: Seq[(String, Measured)], calNow: Double)
      : Seq[(String, String)] = {
    val byName = results.toMap
    confirmed.flatMap { n =>
      for {
        m <- byName.get(n) if m.best >= 0
        best <- bestKnown.get(shortKey(n))
      } yield shortKey(n) -> reverifyLabel(m.best, best, calNow)
    }
  }

  /** Upgrade host-window labels for queries that got a second-chance
    * re-run and STILL ship an out-of-band value (r17): the value
    * reproduced in two separate wall windows, so it is a measurement
    * — by best_known's own caveat, a repeated host-window on re-run
    * code is a regression, and the label must say so rather than
    * invite the reader to dismiss it as a window. The upgraded label
    * is its OWN word, `reproduced-vs-best` (ADVICE r17): a value that
    * reproduced out-of-band in two windows must stay distinguishable
    * from one that measured within the 2x best-known band on its
    * first pass. Labels for queries outside the second-chance set
    * pass through unchanged. */
  private[graft] def upgradeSecondChance(labels: Seq[(String, String)],
      secondChance: Set[String]): Seq[(String, String)] =
    labels.map {
      case (k, "host-window") if secondChance(k) =>
        k -> "reproduced-vs-best"
      case kv => kv
    }

  /** One label for EVERY reverified query (VERDICT r17 task 7: the
    * official r17 record re-ran 22 queries yet shipped an empty
    * reverify_labels, because only still-confirmed movers were
    * labeled — a reader could not tell rescued from adjudicated).
    * `rescued` = the re-run came back in band (the trigger no longer
    * fires on the final value); still-confirmed movers keep their
    * best-known adjudication label; a confirmed mover with no
    * best-known prior at all is `confirmed-no-prior`. Sidecar-only:
    * the full map costs chars the stdout tail budget cannot spare. */
  private[graft] def fullReverifyLabels(targets: Seq[String],
      confirmed: Seq[String], labels: Seq[(String, String)])
      : Seq[(String, String)] = {
    val lm = labels.toMap
    val conf = confirmed.map(shortKey).toSet
    targets.map(shortKey).distinct.map { k =>
      k -> (if (!conf(k)) "rescued"
      else lm.getOrElse(k, "confirmed-no-prior"))
    }
  }

  /** Best prior per-tag build bill across the local sidecar records:
    * tag -> (min seconds, that record's cal_med-or-cal) — the prior
    * the build-side slow detector compares against. Same-SF records
    * only. */
  private[graft] def priorBuildBest(priors: Seq[PrevBench],
      sfDir: String): Map[String, (Double, Double)] =
    priors.filter(_.sfDir == sfDir)
      .foldLeft(Map.empty[String, (Double, Double)]) { (acc, p) =>
        val c = p.calMed.getOrElse(p.cal)
        p.buildSecs.foldLeft(acc) { case (a, (t, s)) =>
          a.updated(t, Seq(a.get(t), Some((s, c))).flatten.minBy(_._1))
        }
      }

  /** Build-side slow detector (r18): a build whose wall bill exceeds
    * BOTH 2.5x and +0.25 s over the best prior bill for its tag,
    * host-adjusted — the reverifyTargets rule applied to builds. The
    * probe brackets around a warm run miss any pause that starts and
    * ends INSIDE the run (measured r18: synthetic 10 s contention
    * bursts inflated memo_build_s 27% with zero dirty brackets), so
    * bill-vs-prior is the detector that cannot be dodged by timing;
    * the bracket remains for tags with no prior (first round of a new
    * index). Conservative by construction: the prior is the tag's
    * whole-run bill, so a single param-set's build compares against
    * the sum over param sets and only extreme pauses trigger. Known
    * softness: before the run's probe median exists (~the first dozen
    * queries), calNow is the mid-JIT-curve startup calibration, ~2x
    * the steady-state figure, so the host clamp over-raises the bar
    * for the very first builds — an under-trigger, never a wrongful
    * eviction, and the probe bracket still covers that window. */
  private[graft] def buildSuspect(deltaS: Double,
      prior: Option[(Double, Double)], calNow: Double): Boolean =
    prior.exists { case (s, c) =>
      deltaS > math.max(2.5 * s, s + 0.25) * hostClamp(calNow, c)
    }

  /** Do the two host-speed normalizers disagree vs this prior (r15
    * verdict task 5)? True when the startup-cal ratio and the
    * steady-state cal_med ratio diverge >15% — the record's calnorm
    * per-query ratios are low-confidence that round (r15: cal ratio
    * 0.85 vs cal_med ratio 0.678 made the record read 1.103 where the
    * raw shared median was 0.878). */
  private[graft] def calDisagreement(cal: Double, calMed: Option[Double],
      prev: Option[PrevBench], sfDir: String): Boolean =
    // same-SF only, like every other prev-comparison field: the flag
    // qualifies the per-query calnorm ratios, which exist only against
    // a same-scale prior (a local sf0.001 run vs the sf0.1 record
    // would otherwise self-flag on nothing)
    prev.filter(_.sfDir == sfDir).exists(p => (calMed, p.calMed) match {
      case (Some(a), Some(b))
          if a > 0 && b > 0 && cal > 0 && p.cal > 0 =>
        math.abs((cal / p.cal) / (a / b) - 1.0) > 0.15
      case _ => false
    })

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    // a bench run bills ITS OWN index builds: in a fresh JVM this is a
    // no-op, and a second main() in one process (spec harnesses) must
    // neither inherit the first run's cumulative nanos under
    // memo_build_s nor serve its pinned indexes as free warm starts
    graft.ops.IndexMemo.clear()

    // Task-metric clock behind the per-tag build attribution (VERDICT
    // r17 task 1): cumulative executor task run / GC milliseconds,
    // snapshotted by IndexMemo around every build, so the sidecar can
    // say whether a tag's wall bill was task compute or dead wall
    // (host pause, scheduling gap). Approximate by design — task-end
    // events post asynchronously — but a 5 s wall bill carrying 0.3 s
    // of task time is unambiguous.
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
    // run, so normalization falls back to the startup calibrations.
    def runMedian(): Option[Double] =
      if (probeLog.size < 50) None
      else { val sorted = probeLog.sorted; Some(sorted(sorted.size / 2)) }
    val probeLimit = math.max(0.5, calibration * 8)

    // Global bound on time spent waiting for stall windows to pass, so a
    // pathologically-stalling host degrades to flagged-raw numbers instead
    // of an unbounded bench.
    var stallBudget = 240.0
    // the most recent probe's verdict: the probe that closed query
    // N's measurement doubles as the opening bracket of query N+1's
    // warm run, so builds get stall brackets without paying an extra
    // probe per query
    var lastProbeClean = true
    def probeOk(): Boolean = {
      var p = probe()
      while (p > probeLimit && stallBudget > 0) {
        stallBudget -= p + 1.0
        Thread.sleep(1000)
        p = probe()
      }
      lastProbeClean = p <= probeLimit
      lastProbeClean
    }

    // Optional args restrict the run to the named queries — local
    // iteration on a new operator without paying the full suite. The
    // driver passes no args, so the official record is unaffected.
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => args.contains(n) }
    def onceOf(fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)(): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
      catch { case _: Throwable => -1.0 }
    }
    // A timed sample must not pay a memoized-index build: the warm
    // run below absorbs the first build, but FIFO eviction (or a
    // collision) can push a rebuild into a later timed run — and
    // that bill then lands on whichever query touched the shared
    // index, making cross-round per-query deltas noise. So a run
    // whose IndexMemo build counter moved is discarded and retried
    // (bounded); the cumulative build time is reported separately
    // as memo_build_s.
    def buildFreeOf(fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)(): Double = {
      var tries = 0
      var t = -1.0
      var paidBuild = true
      while (paidBuild && tries < 3) {
        val b0 = graft.ops.IndexMemo.buildNanos
        t = onceOf(fn)()
        paidBuild = t >= 0 && graft.ops.IndexMemo.buildNanos > b0
        tries += 1
      }
      t
    }
    // Stall-resilient builds (VERDICT r17 task 1): timed runs are
    // probe-bracketed and build-free, but the BUILDS themselves ran
    // inside unbracketed warm runs — so a documented 5-47 s host
    // pause landing mid-build billed straight to memo_build_s, which
    // is exactly the official-vs-builder 2x build-bill signature
    // (sharedWedges 5.45 s official vs 0.33 s clean-window on
    // identical code). A warm run that paid a build now gets a
    // closing probe AND a bill-vs-prior check per built tag
    // (buildSuspect — the brackets alone miss pauses that start and
    // end inside the run); on either signal the suspect tags are
    // EVICTED and the warm run retried once the window has passed, so
    // the SERVING build (memo_build_s_live, a per-key best-of-N) is
    // priced in a clean window. The cumulative memo_build_s keeps
    // billing every executed build, stalled or not — it explains the
    // run's wall time; the live figure is the cross-round-comparable
    // one.
    val priorBuilds = priorBuildBest(sidecarPriors(), sfDir)
    val suspectBuildTags = scala.collection.mutable.SortedSet.empty[String]
    def warmStallAware(fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Unit = {
      var tries = 0
      var redo = true
      while (redo && tries < 3) {
        val before = lastProbeClean
        val byTag0 = graft.ops.IndexMemo.buildNanosByTag
        onceOf(fn)()
        redo = false
        val byTag1 = graft.ops.IndexMemo.buildNanosByTag
        val built = byTag1.collect { case (t, ns)
          if ns > byTag0.getOrElse(t, 0L) => t }.toSeq
        if (built.nonEmpty) {
          // probeOk first: it also waits out a live stall window, so
          // a retry starts clean rather than re-entering the pause
          val bracketClean = probeOk() && before
          val slow = built.filter(t => buildSuspect(
            (byTag1(t) - byTag0.getOrElse(t, 0L)) / 1e9,
            priorBuilds.get(t), runMedian().getOrElse(calibration)))
          val bad = if (!bracketClean) built else slow
          if (bad.nonEmpty) {
            suspectBuildTags ++= bad
            if (tries < 2) {
              bad.foreach(graft.ops.IndexMemo.evictTag)
              redo = true
            }
          }
        }
        tries += 1
      }
    }
    val firstPass: Seq[(String, Measured)] =
      selected.toSeq.sortBy(_._1).map { case (name, fn) =>
        warmStallAware(fn) // untimed warm run (failures surface below)
        name -> measure(() => buildFreeOf(fn)(), () => probeOk())
      }
    // Stall-survivor re-verify: the bracket gate passes host pauses
    // milder than 8×cal, so a query can ship 10-30× inflated with
    // stalled=[] (the r12 record did). Any query implausibly above
    // its prior-round value re-runs once at suite end — by then the
    // stall window has usually passed — and the minimum wins; the
    // record lists re-run queries so a reader knows which numbers
    // were adjudicated.
    val official = latestPrevBench()
    val sidecarPrior = sidecarPrevBench()
    // host-drift check BEFORE reverify: a broadly drifted first pass
    // (median calnorm ratio outside ±20%) tightens the trigger so the
    // ~2x cohort a uniform slow period inflates gets re-run too
    val driftMed = sharedMedianRatio(calnormRatiosMerged(firstPass,
      official, sidecarPrior, sfDir, calibration, runMedian()))
    val factor = if (isHostDrift(driftMed)) 1.8 else 2.5
    val targets = reverifyTargetsMerged(firstPass, official,
      sidecarPrior, sfDir, calibration, calMed = runMedian(),
      factor = factor)
    // one bracketed, build-free re-run of a flagged query; the faster
    // of the two values ships, with both measurements' clean runs
    def retime(name: String, m: Measured, maxAttempts: Int): Measured = {
      val again = measure(() => buildFreeOf(selected(name))(),
        () => probeOk(), wantClean = 1, maxAttempts = maxAttempts)
      if (again.best >= 0 && again.best < m.best)
        Measured(again.best, m.cleanRuns + again.cleanRuns, stalled = false)
      else m
    }
    val targetSet = targets.toSet
    val results1 = firstPass.map { case (name, m) =>
      name -> (if (targetSet(name)) retime(name, m, maxAttempts = 3) else m)
    }
    val calNow = runMedian().getOrElse(calibration)
    // best-known priors BEFORE folding this run in: the labels below
    // must compare a confirmed mover against history, not against
    // itself. Folds EVERY local full-precision record (rolling +
    // round-stamped) plus the official, so an overwritten rolling
    // sidecar no longer discards the best-ever history (r17).
    val priorBest = {
      val sources = (sidecarPriors() ++ official.toSeq)
        .map(p => mergedBestKnown(Some(p), sfDir, Nil, calNow))
      sources.foldLeft(Map.empty[String, (Double, Double)]) { (acc, m) =>
        (acc.keySet ++ m.keySet).iterator.map(k =>
          k -> Seq(acc.get(k), m.get(k)).flatten.minBy(_._1)).toMap
      }
    }
    // Second-chance pass (r17, VERDICT r16 task 5): host-window says
    // "exceeds DOUBLE the best ever recorded, host-adjusted" — but a
    // genuine regression reads the same on first appearance. Each
    // still-flagged query re-runs ONCE more in a fresh window
    // (bounded set); the min ships either way, and a value that
    // reproduces out-of-band across two windows is upgraded below —
    // it is a measurement, not a window.
    val provisional = reverifyLabels(
      reverifyTargetsMerged(results1, official, sidecarPrior, sfDir,
        calibration, calMed = runMedian(), factor = factor),
      priorBest, results1, calNow)
    val secondChance = provisional.collect {
      case (k, "host-window") => k
    }.take(10).toSet
    val results = results1.map { case (name, m) =>
      name -> (if (secondChance(shortKey(name)) && m.best >= 0)
        retime(name, m, maxAttempts = 2) else m)
    }
    val memoBuildS = graft.ops.IndexMemo.buildNanos / 1e9
    val memoBuildLiveS = graft.ops.IndexMemo.liveBuildNanos / 1e9
    val buildCounts = graft.ops.IndexMemo.buildCounts
    val buildsJson = buildCounts.toSeq.sortBy(_._1)
      .map { case (t, n) => "\"" + t + "\":" + n }.mkString("{", ",", "}")
    def reverifiedJson(keep: Int): String = targets.take(keep)
      .map(n => "\"" + shortKey(n) + "\"").mkString("[", ",", "]")
    val total = results.collect { case (_, m) if m.best >= 0 => m.best }.sum
    val stalled = results.collect { case (n, m) if m.stalled => "\"" + shortKey(n) + "\"" }
      .mkString("[", ",", "]")
    // the shipped numbers' own drift label (post-reverify: a rescued
    // cohort may be back in band); the factor above used the first pass
    val finalMed = sharedMedianRatio(calnormRatiosMerged(results,
      official, sidecarPrior, sfDir, calibration, runMedian()))
    val bestKnown = mergedBestKnown(
      Some(PrevBench("prior", sfDir, calibration, Set.empty,
        Map.empty, None, priorBest)), sfDir, results, calNow)
    // the movers whose FINAL value still trips the trigger — the set a
    // judge adjudicates — each labeled vs its best-known prior; a
    // second-chance query still labeled host-window here reproduced
    // its out-of-band value in two separate windows, so the label
    // upgrades to confirmed-vs-best (r17)
    val confirmed = reverifyTargetsMerged(results, official,
      sidecarPrior, sfDir, calibration, calMed = runMedian(),
      factor = factor)
    val labels = upgradeSecondChance(
      reverifyLabels(confirmed, priorBest, results, calNow),
      secondChance)
    val labelsJson = labels.sortBy(_._1)
      .map { case (k, l) => "\"" + k + "\":\"" + l + "\"" }
      .mkString("{", ",", "}")
    val prevCmp = prevComparisonJson(calibration, sfDir, results,
        calMed = runMedian()) +
      finalMed.map(v => s""","shared_median_ratio":${fmt(v, 3)}""" +
        (if (isHostDrift(finalMed)) ""","host_drift":true""" else ""))
        .getOrElse("") +
      (if (calDisagreement(calibration, runMedian(), official, sfDir))
        ""","cal_disagreement":true""" else "") +
      (if (labels.nonEmpty) s""","reverify_labels":$labelsJson"""
      else "") +
      // cal_med is OMITTED on short targeted runs (<50 in-band probes):
      // a mid-JIT-curve startup snapshot under a steady-state field
      // name would mislead calPair in later cross-round comparisons
      runMedian().map(v => s""","cal_med":${fmt(v, 3)}""").getOrElse("") +
      s""","memo_build_s":${fmt(memoBuildS, 3)}""" +
      // the build bill over the run's own host normalizer (steady-
      // state median when available, startup cal otherwise): r16's
      // official read 52.4 s where the same code bracketed 29.4 on a
      // faster window — cross-round build-bill comparisons need the
      // calnormed figure in the record itself (VERDICT r16 task 3)
      s""","memo_build_s_calnorm":${fmt(memoBuildS / calNow, 1)}""" +
      // the SERVING bill: wall cost of the builds still live in the
      // memo at run end — equal to memo_build_s unless a stalled
      // build was evicted and retried, in which case this prices the
      // clean rebuild and memo_build_s keeps the honest cumulative
      // (VERDICT r17 task 1; the calnormed live figure is the
      // cross-round-comparable build cost)
      s""","memo_build_s_live":${fmt(memoBuildLiveS, 3)}""" +
      s""","memo_build_s_live_calnorm":${fmt(memoBuildLiveS / calNow, 1)}""" +
      s""","memo_builds_n":${buildCounts.values.sum}""" +
      s""","reverified_n":${targets.size}"""
    val out = assembleLine(results, total, calibration, sfDir, stalled,
      prevCmp + s""","reverified":${reverifiedJson(40)}""")
    // the suite outgrew the stdout budget (180+ queries x 3 decimals >
    // 1900 chars), so the degraded stdout line is no longer the whole
    // record: the FULL-precision line (3 decimals + the prev-comparison
    // fields) also lands in a sidecar file next to the committed
    // BENCH_r*.json history. Best-effort: a read-only cwd must not
    // fail the bench.
    if (args.isEmpty) {
      // Cross-SF guard (ADVICE r16): a full run at any OTHER SF must
      // not overwrite the sf-of-record rolling sidecar — doing so
      // silently discarded the entire rolling best_known history. A
      // different-SF run records under an SF-suffixed name instead.
      val sameSf = sidecarPrevBench().forall(_.sfDir == sfDir)
      val sfLeaf = new java.io.File(sfDir).getName
      val sidecar = java.nio.file.Paths.get(
        if (sameSf) "BENCH_full_local.json"
        else s"BENCH_full_local.$sfLeaf.json")
      if (!sameSf)
        System.err.println(s"WARN Bench: existing sidecar is for a " +
          s"different SF; writing $sidecar and leaving the rolling " +
          "sidecar untouched")
      // sidecar-only: the per-query calnorm ratios behind the drift
      // median, so a mover audit (r14's q106) is one jq lookup instead
      // of each judge re-deriving them by script
      val ratiosJson = calnormRatiosMergedNamed(results, official,
          sidecarPrior, sfDir, calibration, runMedian())
        .sortBy(_._1)
        .map { case (k, r) => "\"" + k + "\":" + fmt(r, 3) }
        .mkString("{", ",", "}")
      // sidecar-only: per-tag build seconds, so a memo_build_s move
      // (r15: 53.2 -> 67.5 on same-count builds) is attributable to
      // its tag from the record alone. Nested builds bill both tags.
      val buildSecsJson = graft.ops.IndexMemo.buildNanosByTag.toSeq
        .sortBy(_._1)
        .map { case (t, ns) => "\"" + t + "\":" + fmt(ns / 1e9, 3) }
        .mkString("{", ",", "}")
      // sidecar-only (VERDICT r17 task 1, the field-level attribution
      // of the build bill): per tag, [cumulative wall s, executor
      // task-run s, jvm GC s] — wall far above task time is dead wall
      // (host pause / scheduling), task time dominated by GC is
      // memory pressure, and wall ≈ task/threads is real compute.
      val buildWall = graft.ops.IndexMemo.buildNanosByTag
      val buildTasks = graft.ops.IndexMemo.buildTaskMsByTag
      val buildTasksJson = buildWall.toSeq.sortBy(_._1)
        .map { case (t, ns) =>
          val (runMs, gcMs) = buildTasks.getOrElse(t, (0L, 0L))
          "\"" + t + "\":[" + fmt(ns / 1e9, 3) + "," +
            fmt(runMs / 1e3, 3) + "," + fmt(gcMs / 1e3, 3) + "]" }
        .mkString("{", ",", "}")
      // sidecar-only: the per-tag SERVING bill plus the tags flagged
      // by either build detector — dirty probe bracket or
      // bill-vs-prior (each was evicted and rebuilt; a tag present
      // here but with a clean live bill was successfully re-priced,
      // and one still billing high reproduced its cost across
      // windows)
      val buildLiveJson = graft.ops.IndexMemo.liveBuildNanosByTag.toSeq
        .sortBy(_._1)
        .map { case (t, ns) => "\"" + t + "\":" + fmt(ns / 1e9, 3) }
        .mkString("{", ",", "}")
      val suspectTagsJson = suspectBuildTags
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      // sidecar-only (VERDICT r17 task 7): one label for EVERY
      // reverified query — rescued / confirmed-vs-best /
      // reproduced-vs-best / host-window / confirmed-no-prior — plus
      // the queries that got the second-chance window (ADVICE r17:
      // they were indistinguishable in the record)
      val fullLabelsJson =
        fullReverifyLabels(targets, confirmed, labels).sortBy(_._1)
        .map { case (k, l) => "\"" + k + "\":\"" + l + "\"" }
        .mkString("{", ",", "}")
      val secondChanceJson = secondChance.toSeq.sorted
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      // sidecar-only: the rolling best-ever-warm map — [min warm
      // seconds at this SF, cal of the run that set it] per query, so
      // a confirmed mover is adjudicable from the record alone
      val bestKnownJson = bestKnown.toSeq.sortBy(_._1)
        .map { case (k, (t, c)) =>
          "\"" + k + "\":[" + fmt(t, 3) + "," + fmt(c, 3) + "]" }
        .mkString("{", ",", "}")
      val line = fullLine(results, total, calibration, sfDir, stalled,
        prevCmp +
          s""","reverified":${reverifiedJson(Int.MaxValue)}""" +
          s""","calnorm_ratios":$ratiosJson""" +
          s""","memo_build_s_by_tag":$buildSecsJson""" +
          s""","memo_build_s_by_tag_live":$buildLiveJson""" +
          s""","memo_build_tasks_by_tag":$buildTasksJson""" +
          s""","memo_build_suspect_tags":$suspectTagsJson""" +
          s""","reverify_labels_full":$fullLabelsJson""" +
          s""","second_chance":$secondChanceJson""" +
          s""","best_known":$bestKnownJson""",
        buildsJson) + "\n"
      try {
        java.nio.file.Files.writeString(sidecar, line)
        // Round-stamped copy (VERDICT r16 task 2): the rolling sidecar
        // is overwritten by every full run, so the builder's
        // round-final record and the driver's post-commit official one
        // could not both survive at HEAD. Each full same-SF run also
        // writes BENCH_full_r<N>.json, first MOVING any existing
        // same-round file to ..._prev.json — after the driver's
        // official run, the round file is the official record and
        // _prev is the builder's round-final, both committed.
        if (sameSf) {
          val n = currentRound()
          val stamped =
            java.nio.file.Paths.get(s"BENCH_full_r$n.json")
          if (java.nio.file.Files.exists(stamped))
            java.nio.file.Files.move(stamped,
              java.nio.file.Paths.get(s"BENCH_full_r${n}_prev.json"),
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          java.nio.file.Files.writeString(stamped, line)
        }
      } catch {
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

  /** Full-precision sidecar line; `builds`, when nonempty, is the
    * per-tag `memo_builds` map — sidecar-only because ~26 tags cost
    * ~500 chars the stdout tail budget cannot spare (stdout carries
    * the `memo_builds_n` total instead). */
  private[graft] def fullLine(results: Seq[(String, Measured)],
      total: Double, calibration: Double, sfDir: String,
      stalled: String, prevCmp: String, builds: String = ""): String =
    lineOf(results, total, calibration, sfDir, stalled,
      prevCmp +
        (if (builds.isEmpty) "" else s""","memo_builds":$builds"""),
      decimals = 3, withPrev = true)

  private[graft] def lineOf(results: Seq[(String, Measured)],
      total: Double, calibration: Double, sfDir: String,
      stalled: String, prevCmp: String, decimals: Int,
      withPrev: Boolean, topK: Int = Int.MaxValue): String = {
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
            s""","queries_full":"BENCH_full_local.json""""
        else ""
      s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec","sf":"$sfDir"""" +
        s""","cal":${fmt(calibration, 3)}${if (withPrev) prevCmp else ""}""" +
        trunc + s""","stalled":$stalled,"queries":$qs}"""
  }

  /** Pick the richest line that fits the stdout tail budget: degrade
    * per-query decimals first (sub-2x deltas are noise per the
    * reading rules), then shed the FASTEST queries while keeping the
    * prev-comparison fields (the record's whole point) and the
    * slowest movers; last resort keeps the line parseable NO MATTER
    * WHAT (a recorded total with an empty queries map beats truncated
    * JSON — the driver keeps only the last 2000 stdout chars, so an
    * overlong line would lose its head and fail to parse at all). */
  private[graft] def assembleLine(results: Seq[(String, Measured)],
      total: Double, calibration: Double, sfDir: String,
      stalled: String, prevCmp: String): String =
    (Seq((3, true, Int.MaxValue), (2, true, Int.MaxValue),
      (1, true, Int.MaxValue)) ++
      Seq(130, 110, 90, 70, 50, 30).map(k => (2, true, k)))
      .map { case (d, p, k) => lineOf(results, total, calibration,
        sfDir, stalled, prevCmp, d, p, k) }
      .find(_.length <= LineBudget)
      .getOrElse(s"""{"metric":"total","value":${fmt(total, 3)}""" +
        s""","unit":"sec","sf":"$sfDir","stalled":$stalled,"queries":{}}""")
}
