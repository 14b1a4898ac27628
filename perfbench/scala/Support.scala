package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** In-memory spans (name, start, end, parent, pass), written out once
  * when the run ends. Disabled spans cost one branch. */
final class Spans(enabled: Boolean) {
  private final class S(val id: Int, val parent: Int, val name: String,
      val pass: Int, val start: Long, var end: Long)
  private val all = ArrayBuffer.empty[S]
  private var stack = List.empty[Int]

  def span[A](name: String, pass: Int, on: Boolean)(f: => A): A =
    if (!enabled || !on) f
    else {
      val s = new S(all.length, stack.headOption.getOrElse(-1), name, pass,
        System.nanoTime(), 0L)
      all += s
      stack = s.id :: stack
      try f finally { s.end = System.nanoTime(); stack = stack.tail }
    }

  def write(path: Path): Unit = {
    val t0 = all.headOption.map(_.start).getOrElse(0L)
    Files.write(path, all.map(s => Json.obj("id" -> s.id,
      "parent" -> s.parent, "name" -> s.name, "pass" -> s.pass,
      "start_s" -> (s.start - t0) / 1e9, "end_s" -> (s.end - t0) / 1e9).s)
      .mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

/** Attributes jobs, stages and task metrics to the job group that was
  * set on the thread that launched the job. */
final class LayerListener extends SparkListener {
  private final class Acc {
    val n = Array.fill(10)(new AtomicLong)
  }
  private val keys = Seq("jobs", "stages", "tasks", "task_run_ms",
    "task_cpu_ns", "gc_ms", "shuffle_read_b", "shuffle_write_b",
    "spill_b", "failed_tasks")
  private val stageGroup = new ConcurrentHashMap[Int, String]
  private val groups = new ConcurrentHashMap[String, Acc]
  private val runMs = new AtomicLong
  private val gcMs = new AtomicLong

  private def acc(g: String): Acc = groups.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { g =>
      acc(g).n(0).incrementAndGet()
      e.stageIds.foreach(stageGroup.put(_, g))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId))
      .foreach(acc(_).n(1).incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
    }
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val a = acc(g).n
      a(2).incrementAndGet()
      if (e.reason != Success) a(9).incrementAndGet()
      if (m != null) {
        a(3).addAndGet(m.executorRunTime)
        a(4).addAndGet(m.executorCpuTime)
        a(5).addAndGet(m.jvmGCTime)
        a(6).addAndGet(m.shuffleReadMetrics.totalBytesRead)
        a(7).addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a(8).addAndGet(m.diskBytesSpilled)
      }
    }
  }

  /** Cumulative (task run ms, GC ms) over every task seen. */
  def taskClock: (Long, Long) = (runMs.get(), gcMs.get())

  /** Copy group `g`'s totals onto `op` under `prefix`. */
  def fill(op: Harness.Op, g: String, prefix: String): Unit = {
    val a = Option(groups.get(g)).map(_.n.map(_.get())).getOrElse(
      Array.fill(10)(0L))
    keys.zip(a).foreach { case (k, v) => op(prefix + k) = v }
  }
}

/** The engine's memo counters, read by reflection so the benchmark keeps
  * compiling when they move; `available` is false once they are gone. */
object Memo {
  final case class Snap(nanos: Long, builds: Long, taskMs: Long,
      available: Boolean)

  private lazy val memo: Option[AnyRef] = scala.util.Try(
    Class.forName("graft.ops.IndexMemo$").getField("MODULE$").get(null))
    .toOption

  private def call(name: String): Option[AnyRef] = memo.flatMap(m =>
    scala.util.Try(m.getClass.getMethod(name).invoke(m)).toOption)

  def snapshot(): Snap = {
    val nanos = call("buildNanos").collect { case l: java.lang.Long => l.longValue }
    val builds = call("buildCounts").collect { case m: Map[_, _] =>
      m.values.collect { case l: Long => l }.sum }
    val task = call("buildTaskMsByTag").collect { case m: Map[_, _] =>
      m.values.collect { case (r: Long, _) => r }.sum }
    Snap(nanos.getOrElse(0L), builds.getOrElse(0L), task.getOrElse(0L),
      nanos.isDefined && builds.isDefined)
  }

  /** Let the memo split its build wall time into task time. */
  def installTaskClock(l: LayerListener): Unit = memo.foreach(m =>
    scala.util.Try(m.getClass.getMethod("taskClock_$eq",
      classOf[Function0[_]]).invoke(m, (() => l.taskClock): Function0[_])))
}

/** Minimal JSON writer for the harness's records. */
object Json {
  def obj(kv: (String, Any)*): RawJson = RawJson(
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case s: Array[_] => value(s.toSeq)
    case j: RawJson => j.s
    case other => str(other.toString)
  }

  final case class RawJson(s: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
