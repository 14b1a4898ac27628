package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Tests for the stall-proof measurement protocol in [[Bench.measure]],
  * driven by synthetic run/probe sequences (no Spark). The scenarios mirror
  * the host behavior VARIANCE_r8.md documents: multi-second whole-JVM pause
  * windows that can span several consecutive timed runs.
  */
class BenchProtocolSpec extends AnyFunSuite {

  private def seq[A](values: A*): () => A = {
    val it = Iterator(values: _*)
    () => it.next()
  }

  test("clean host: best of three runs, none flagged") {
    val m = Bench.measure(seq(0.30, 0.25, 0.28), () => true)
    assert(m == Bench.Measured(0.25, 3, stalled = false))
  }

  test("run poisoned by a stall window is discarded, clean retries win") {
    // probes: before r1 OK, after r1 STALLED → 9.7s discarded; r2 ran
    // after the window passed but its BEFORE-probe was the stalled one,
    // so it is conservatively discarded too; then three clean-bracketed
    // runs land. The recorded best must ignore every poisoned sample.
    val probes = seq(true, false, true, true, true, true)
    val runs = seq(9.7, 0.31, 0.27, 0.29, 0.28)
    val m = Bench.measure(runs, probes, wantClean = 3, maxAttempts = 6)
    assert(m == Bench.Measured(0.27, 3, stalled = false))
  }

  test("stall spanning every attempt: raw minimum, flagged stalled") {
    val runs = seq(9.7, 8.1, 12.3, 7.9, 8.8, 9.1)
    val m = Bench.measure(runs, () => false, wantClean = 3, maxAttempts = 6)
    assert(m.stalled && m.cleanRuns == 0)
    assert(m.best == 7.9) // best raw sample still recorded, just untrusted
  }

  test("a single clean-bracketed run is trusted over stalled neighbors") {
    // clean window opens for exactly one run then closes for the rest
    val probes = seq(true, true, false, false, false, false, false)
    val runs = seq(0.33, 6.2, 7.7, 8.4, 9.9, 5.5)
    val m = Bench.measure(runs, probes, wantClean = 3, maxAttempts = 6)
    assert(m == Bench.Measured(0.33, 1, stalled = false))
  }

  test("query error short-circuits to -1 without a stall flag") {
    val m = Bench.measure(seq(0.4, -1.0, 0.3), () => true)
    assert(m.best == -1.0 && !m.stalled)
  }

  test("attempts are bounded even when no run ever comes back clean") {
    var calls = 0
    val run = () => { calls += 1; 5.0 }
    Bench.measure(run, () => false, wantClean = 3, maxAttempts = 6)
    assert(calls == 6)
  }

  test("probeLimit is 8x the steady probe time: the fastest probe so far") {
    // an sf0.001 run's mid-JIT startup probes, then its steady ones
    val startup = Seq(0.31, 0.285, 0.29)
    val steady = startup ++ Seq(0.15, 0.112, 0.109, 0.11)
    assert(Bench.probeLimit(startup) == 8 * 0.285)
    assert(Bench.probeLimit(steady) == 8 * 0.109)
    // a 1 s probe is a stall against the steady time (keyed on the
    // startup figure, only a probe above 2.28 s was one)
    assert(1.0 > Bench.probeLimit(steady))
    // a stalled probe never loosens the limit
    assert(Bench.probeLimit(steady :+ 4.2) == Bench.probeLimit(steady))
    assert(Bench.probeLimit(Seq(0.02, 0.03)) == 0.5)
  }

  private val Sf = "/root/testdata/sf0.1"

  test("assembleLine fits the tail budget at 180+ queries, keeps prev") {
    val results = (1 to 185).map { i =>
      f"q$i%03d_op" -> Bench.Measured(i / 100.0, 3, stalled = false)
    }
    val prev = ""","prev":"BENCH_r09.json","shared_q":150""" +
      ""","cal_ratio_vs_prev":1.1,"shared_ratio_calnorm":1.0"""
    val line = Bench.assembleLine(results, 42.0, 0.15, Sf, "[]", prev)
    assert(line.length <= 1900, s"line ${line.length} chars")
    // prev fields survive the shedding; truncation self-describes
    assert(line.contains("cal_ratio_vs_prev"))
    assert(line.contains("\"q_total\":185"))
    assert(line.contains("BENCH_full_local.json"))
    // the slowest query is always reported, a fast one is shed
    assert(line.contains("\"q185\""))
    assert(!line.contains("\"q001\""))
    // small suites keep the full 3-decimal map with no truncation
    val small = Bench.assembleLine(results.take(20), 2.0, 0.15, Sf,
      "[]", prev)
    assert(small.contains("\"q001\":0.01") && !small.contains("q_total"))
  }

  test("every shedding level of assembleLine is one JSON object with " +
      "the header fields") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .enable(com.fasterxml.jackson.databind.DeserializationFeature
        .FAIL_ON_TRAILING_TOKENS)
    // the level a line was assembled at: (decimals, queries reported),
    // read back from the parsed line; q_reported is absent when the
    // whole suite is reported, and the fallback reports no queries
    def levelOf(line: String): (Int, Int) = {
      val o = mapper.readTree(line)
      assert(o.isObject, line)
      Seq("metric", "value", "unit", "sf", "cal", "stalled", "queries")
        .foreach(k => assert(o.has(k), s"no $k in $line"))
      assert(o.get("stalled").isArray && o.get("queries").isObject, line)
      val qs = o.get("queries")
      val decimals = qs.fieldNames.asScala
        .map(k => qs.get(k).asText.dropWhile(_ != '.').drop(1).length)
        .maxOption.getOrElse(0)
      val reported = Option(o.get("q_reported")).map(_.asInt)
        .getOrElse(qs.size)
      (decimals, reported)
    }
    // each value carries a nonzero third decimal, so the decimals a
    // line kept show in its widest value; stalled names eat the budget
    // so that the later levels are reached
    val levels = (for {
      n <- 20 to 300 by 5
      k <- 0 to 270 by 10
    } yield {
      val results = (1 to n).map(i =>
        f"q$i%03d_op" -> Bench.Measured(1.111 + i / 1000.0, 3,
          stalled = false))
      val stalled = (1 to k).map(i => "\"" + f"q$i%03d" + "\"")
        .mkString("[", ",", "]")
      val line = Bench.assembleLine(results, 42.0, 0.15, Sf, stalled,
        ""","cal_med":0.1,"memo_build_s":1.5,"memo_builds_n":3""")
      assert(line.length <= 1900 || levelOf(line)._2 == 0)
      levelOf(line) match {
        case (d, q) if q == n => (d, Int.MaxValue)
        case lv => lv
      }
    }).toSet
    assert(levels == Set((3, Int.MaxValue), (2, Int.MaxValue),
      (1, Int.MaxValue), (2, 130), (2, 110), (2, 90), (2, 70), (2, 50),
      (2, 30), (0, 0)))
    // a shed line points at the sidecar its scale factor writes
    val local = Bench.assembleLine((1 to 185).map(i =>
      f"q$i%03d_op" -> Bench.Measured(1.111 + i / 1000.0, 3,
        stalled = false)), 42.0, 0.15, "/root/testdata/sf0.001", "[]", "")
    assert(mapper.readTree(local).get("queries_full").asText ==
      "BENCH_full_local.sf0.001.json", local)
  }

  test("SparkEntry.select: no names is every query; an unknown name " +
      "is refused with the valid names") {
    val all = SparkEntry.queries.keys.toSeq.sorted
    assert(SparkEntry.select(Nil).map(_.map(_._1)) == Right(all))
    assert(SparkEntry.select(Seq("q01_pricing_summary")).map(_.map(_._1))
      == Right(Seq("q01_pricing_summary")))
    val Left(msg) = SparkEntry.select(Seq("q01_pricing_summary", "q209"))
    assert(msg.startsWith("unknown query q209; queries: "), msg)
    assert(all.forall(msg.contains), msg)
  }
}
