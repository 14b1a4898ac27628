package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.ops.{Graph, IndexMemo}

/** [[GraftSession.cut]]'s plan choice: a round whose plan has no
  * shuffle runs its static plan, a round with one runs adaptively, and
  * neither the caller's session settings nor the cut's results depend
  * on which path ran. */
class CheckpointSpec extends SparkTestBase {

  private val Aqe = "spark.sql.adaptive.enabled"

  private val (evals, tally) = {
    val acc = spark.sparkContext.longAccumulator("checkpoint-evals")
    (acc, udf { (id: Long) => acc.add(1L); id })
  }

  /** 1,000 edges over 40 `dst` keys, pinned hash-partitioned by `dst`
    * the way the graph operators pin theirs. */
  private lazy val pinned = GraftSession.persistCompactBy(
    spark.range(0, 1000, 1, 4)
      .select((col("id") % 50).as("src"), (col("id") % 40).as("dst")),
    col("dst"))

  /** A fixpoint-shaped round: the streamed edge side (where `tally`
    * counts evaluations) joins a broadcast state, then aggregates by
    * the pin key, so no exchange is needed. */
  private def shuffleFreeRound: DataFrame =
    pinned.select(tally(col("src")).as("src"), col("dst"))
      .join(broadcast(spark.range(0, 50).select(col("id").as("src"),
        lit(1L).as("w"))), "src")
      .groupBy(col("dst")).agg(sum(col("w")).as("s"))

  /** A round with a repartition: its plan holds a shuffle. */
  private def shuffledRound: DataFrame =
    spark.range(0, 1000, 1, 4).repartition(4, col("id"))
      .select(tally(col("id")).as("s"))

  private def evaluations(body: => Unit): Long = {
    evals.reset(); body; evals.value
  }

  /** The executed plan of every checkpoint `body` runs, as a
    * [[QueryExecutionListener]] sees it. */
  private def cutPlans(body: => Unit): Seq[SparkPlan] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution,
          ns: Long): Unit =
        if (f.toLowerCase.endsWith("checkpoint")) seen.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { body; drainListenerBus() }
    finally spark.listenerManager.unregister(l)
    seen.toArray(Array.empty[SparkPlan]).toSeq
  }

  private def adaptive(p: SparkPlan): Boolean =
    p.isInstanceOf[AdaptiveSparkPlanExec]

  /** Runs `body` in local mode, then with reliable checkpoints. */
  private def inBothModes(body: String => Unit): Unit = {
    body("local")
    GraftSession.enableReliableCheckpoints(spark,
      java.nio.file.Files.createTempDirectory("graft-ck-spec").toString)
    try body("reliable")
    finally spark.conf.set("spark.graft.reliableCheckpoints", "false")
  }

  test("a witnessed cut of a shuffle-free round evaluates it once and " +
      "runs a plain cut's jobs, in local and reliable mode") {
    inBothModes { mode =>
      assert(evaluations(GraftSession.cut(shuffleFreeRound).count()) ==
        1000L, s"plain cut, $mode mode")
      assert(evaluations {
        val (out, Seq(total, n)) = GraftSession.cutWith(shuffleFreeRound,
          sum(col("s")), count(lit(1)))
        assert(total == 1000L && n == 40L)
        assert(out.count() == 40L)
      } == 1000L, s"witnessed cut, $mode mode")
      val plain = jobsRun(GraftSession.cut(shuffleFreeRound))
      val witnessed = jobsRun(GraftSession.cutWith(shuffleFreeRound,
        sum(col("s")), count(lit(1))))
      assert(witnessed == plain,
        s"$mode mode: cutWith ran $witnessed jobs, cut $plain")
    }
  }

  test("a shuffle-free cut runs its static plan; a cut with a shuffle " +
      "runs adaptively") {
    inBothModes { mode =>
      val Seq(static) = cutPlans(GraftSession.cutWith(shuffleFreeRound,
        count(lit(1))))
      assert(!static.exists(adaptive), s"$mode mode:\n$static")
      val Seq(shuffled) = cutPlans(GraftSession.cut(shuffledRound))
      assert(adaptive(shuffled), s"$mode mode:\n$shuffled")
    }
  }

  test("a cut leaves the caller's AQE setting as it was, before, " +
      "during and after") {
    val during = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        during.add(spark.conf.get(Aqe))
    }
    val before = spark.conf.get(Aqe)
    spark.sparkContext.addSparkListener(l)
    try {
      GraftSession.cutWith(shuffleFreeRound, count(lit(1)))
      drainListenerBus()
    } finally spark.sparkContext.removeSparkListener(l)
    assert(before == "true")
    assert(!during.isEmpty)
    during.forEach(v => assert(v == before))
    assert(spark.conf.get(Aqe) == before)
  }

  test("the caller's runtime settings still govern a shuffle-free " +
      "round") {
    def codegen(p: SparkPlan) =
      p.exists(_.isInstanceOf[WholeStageCodegenExec])
    val Seq(fused) = cutPlans(GraftSession.cut(shuffleFreeRound))
    assert(codegen(fused), fused.toString)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val Seq(unfused) =
      try cutPlans(GraftSession.cut(shuffleFreeRound))
      finally spark.conf.unset("spark.sql.codegen.wholeStage")
    assert(!adaptive(unfused) && !codegen(unfused), unfused.toString)
  }

  test("components, pageRank and hits return the same rows under AQE " +
      "on/off x local/reliable x 1 or 7 shuffle partitions") {
    val d = sf("")
    def results: Seq[Seq[String]] = {
      IndexMemo.clear()
      Seq(Graph.components(spark, d), Graph.pageRank(spark, d),
        Graph.hitsScores(spark, d))
        .map(_.collect().map(_.toString).toSeq.sorted)
    }
    val (aqe0, parts) =
      (spark.conf.get(Aqe), spark.conf.get("spark.sql.shuffle.partitions"))
    val expected = results
    assert(expected.forall(_.nonEmpty))
    try {
      for (aqe <- Seq("true", "false"); reliable <- Seq(false, true);
           p <- Seq("1", "7")) {
        spark.conf.set(Aqe, aqe)
        spark.conf.set("spark.sql.shuffle.partitions", p)
        if (reliable) GraftSession.enableReliableCheckpoints(spark,
          java.nio.file.Files.createTempDirectory("graft-ck-conf").toString)
        else spark.conf.set("spark.graft.reliableCheckpoints", "false")
        assert(results == expected,
          s"AQE $aqe, reliable $reliable, $p shuffle partitions")
      }
    } finally {
      spark.conf.set(Aqe, aqe0)
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      spark.conf.set("spark.graft.reliableCheckpoints", "false")
      IndexMemo.clear()
    }
  }
}
