package graft

import java.io.ByteArrayOutputStream

import graft.tools.Inspect

/** The developer-tool entry point, driven on the shared test session:
  * each subcommand prints the plan it promises, and a bad argument
  * fails with the valid choices without stopping the session. */
class InspectSpec extends SparkTestBase {

  /** (exit code, stdout, stderr) of one `Inspect.run` at sf0.001. */
  private def inspect(args: String*): (Int, String, String) = {
    val out = new ByteArrayOutputStream
    val err = new ByteArrayOutputStream
    val code = Console.withOut(out) {
      Console.withErr(err) { Inspect.run(spark, args, sf("")) }
    }
    (code, out.toString("UTF-8"), err.toString("UTF-8"))
  }

  /** Output sections keyed by their `========== title ==========`. */
  private def sections(out: String): Seq[(String, String)] =
    out.split("\n========== ").toSeq.drop(1).map { s =>
      val (title, body) = s.span(_ != '\n')
      title.stripSuffix(" ==========") -> body
    }

  test("plan prints the formatted final adaptive plan of a query") {
    val (code, out, _) = inspect("plan", "q01_pricing_summary")
    assert(code == 0)
    val Seq((title, body)) = sections(out)
    assert(title == "q01_pricing_summary")
    assert(body.contains("== Physical Plan =="))
    assert(body.contains("AdaptiveSparkPlan"))
    assert(body.contains("isFinalPlan=true"), body)
    assert(body.contains("HashAggregate"))
  }

  test("memo lists each build tag with the plan its cache was built " +
      "with") {
    val (code, out, _) = inspect("memo", "q124_pagerank",
      "q63_dedup_clusters")
    assert(code == 0)
    def section(tag: String) = sections(out).collectFirst {
      case (t, body) if t.startsWith(s"$tag: built in ") => body
    }.getOrElse(fail(s"no $tag section in:\n$out"))
    val trade = section("tradeGraph")
    assert(trade.contains("-- pinned cache 1 of 2: build plan"), trade)
    assert(!trade.contains("(not a cached relation)"), trade)
    // the degree fold's physical build plan
    assert(trade.contains("HashAggregate"), trade)
    // the cluster labels: the bucket-minimum window over sig_0
    val clusters = section("nearDupClusters")
    assert(clusters.contains("-- pinned cache 1 of 1: build plan"), clusters)
    assert(clusters.contains("Window"), clusters)
  }

  test("rounds prints one section per fixpoint family, each planning " +
      "a HashAggregate, with the operator's broadcast choice") {
    val (code, out, _) = inspect("rounds")
    assert(code == 0)
    val secs = sections(out)
    assert(secs.map(_._1.takeWhile(_ != ':')) == Inspect.Families)
    secs.foreach { case (title, body) =>
      assert(title.endsWith("state side broadcast"), title)
      assert(body.contains("HashAggregate"), s"$title:\n$body")
    }
  }

  test("rounds says whether each round's cut runs adaptively and " +
      "explains the plan that cut executes") {
    val (code, out, _) = inspect("rounds", "components", "lpa", "pagerank")
    assert(code == 0)
    val secs = sections(out).toMap
    assert(secs.size == 3)
    // the root node of each explained plan (cached inputs print their
    // own adaptive build plans further down)
    def roots(body: String): Seq[String] = body.split("\n").toSeq
      .sliding(2).collect { case Seq(h, root)
        if h.trim == "== Physical Plan ==" => root.trim }.toSeq
    secs.foreach { case (title, body) =>
      val adaptive = roots(body).map(_.startsWith("AdaptiveSparkPlan"))
      assert(adaptive.nonEmpty, s"$title:\n$body")
      if (title.contains("round cut static"))
        assert(!adaptive.contains(true), s"$title:\n$body")
      else {
        assert(title.contains("round cut adaptive"), title)
        assert(!adaptive.contains(false), s"$title:\n$body")
      }
    }
    // each round joins a broadcast state against an edge table pinned
    // by hash on the aggregation key: no shuffle, so no adaptive loop
    Seq("components", "lpa", "pagerank").foreach { f =>
      assert(secs.keys.exists(t => t.startsWith(s"$f:") &&
        t.contains("round cut static")), secs.keys)
    }
    // under the gate the label rounds run on driver-held labels, and
    // the section says so before the cut round it explains
    Seq("components", "lpa").foreach { f =>
      val body = secs.collectFirst { case (t, b) if t.startsWith(s"$f:") => b }
      assert(body.exists(_.split("\n").drop(1).headOption.contains(
        "-- runs: driver-held labels, one job per round over the pinned " +
          "edges")), s"$f: $body")
    }
  }

  test("an unknown subcommand, query or family fails with the valid " +
      "choices and leaves the session usable") {
    val cases = Seq(
      Seq("bogus") -> "plan <query...> | memo <query...>",
      Seq("plan") -> "q01_pricing_summary",
      Seq("plan", "q01_pricing_summary", "q999_nope") ->
        "q01_pricing_summary",
      Seq("memo", "q999_nope") -> "q124_pagerank",
      Seq("rounds", "hits", "nope") -> Inspect.Families.mkString(", "))
    cases.foreach { case (args, choice) =>
      val (code, out, err) = inspect(args: _*)
      assert(code != 0, args)
      assert(err.contains(choice), s"$args: $err")
      assert(!out.contains("=========="), s"$args ran work: $out")
    }
    assert(spark.range(3).count() == 3)
  }
}
