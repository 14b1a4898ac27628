package graft.ops

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame

/** Session-scoped memo for build-once/probe-many operator indexes (LSH
  * signature/pair tables, SRP bucket tables, SimHash sketch tables,
  * near-dup cluster labels, IVF lists, graph edge tables). It is the
  * engine's only DataFrame memo: every build reports through one build
  * bill, and [[clear]] releases every cache an operator keeps.
  *
  * Why a memo instead of per-call persist/unpersist: these operators
  * build an index that every subsequent call over the same input reuses
  * (the per-crawl regime, and the bench's warm + best-of-2 protocol).
  * Unpersisting at call end forces a full rebuild per call; persisting
  * without an owner grows executor storage without bound in a
  * long-running session. The memo gives each index exactly one owner:
  * one cached copy per (SparkContext, operator, params, input plan),
  * reused across calls, released all at once by [[clear]] (or with the
  * context). Keys include the application id, so entries can never
  * alias across SparkContexts; values are verified with
  * `sameSemantics` on every hit, so a 32-bit `semanticHash` collision
  * degrades to a rebuild, never a wrong answer.
  *
  * Builds run OUTSIDE the map lock (plain get / putIfAbsent, not
  * computeIfAbsent): index builds launch Spark jobs and may nest other
  * memoized builds, either of which must not run under a bin lock. A
  * lost build race releases its own pins and adopts the winner.
  */
private[graft] object IndexMemo {

  private final case class Entry(inputs: Seq[DataFrame], value: AnyRef,
      pinned: Seq[DataFrame], tag: String)

  private val cache = new ConcurrentHashMap[String, Entry]

  /** Upper bound on memoized entries per operator tag. Without it the
    * per-crawl regime — a NEW batch plan probed each call — grows one
    * pinned index per batch for the application lifetime. FIFO per
    * tag: inserting past the bound releases the tag's oldest entry, so
    * new batches evict old batches' probe indexes while up to this
    * many concurrently-live corpora per operator stay cached. Evicting
    * an entry whose DataFrame a caller still holds only unpersists it:
    * later reuse recomputes — degraded, never wrong. */
  private val MaxPerTag = 8

  private val tagQueues =
    new ConcurrentHashMap[String, java.util.ArrayDeque[String]]

  /** Live entry count (test hook). */
  private[graft] def size: Int = cache.size

  /** Snapshot of every live entry's pinned DataFrames, keyed by tag —
    * the seam the pinned-grain audit sweeps (VERDICT r17 task 2): a
    * build that pins a cache at fewer partitions than the
    * right-sizing policy's floor serializes every consumer, and the
    * sweep must see the ACTUAL pinned handles, not the build plans. */
  private[graft] def pinnedSnapshot: Seq[(String, DataFrame)] = {
    val b = Seq.newBuilder[(String, DataFrame)]
    cache.values.forEach(e => e.pinned.foreach(df => b += e.tag -> df))
    b.result()
  }

  /** Cumulative wall nanos spent inside `build` since startup (or the
    * last [[clear]]). Every executed build stays billed, including one
    * the FIFO bound or a collision has since evicted: the counters are
    * a bill of work done, and no entry carries a bill of its own. The
    * bench reads this to keep memoized-index builds OUT of per-query
    * timings: a timed run whose counter moved paid a build and is
    * re-run, and the total lands in the record's `memo_build_s` field
    * — without it, the build bill lands on whichever query touches a
    * shared index first. */
  private val buildNanosAcc = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] def buildNanos: Long = buildNanosAcc.get()

  /** Per-tag build COUNTS since startup. The bench emits these next to
    * `memo_build_s` so a build-time anomaly in the record (r12's
    * unexplained 93.5 s vs 42.6 s on identical code) is attributable
    * from the record alone: a tag at its expected count on a slow host
    * reads differently from a tag rebuilding 9× (eviction thrash or an
    * unstable memo key — the q119 defect class). */
  private val buildCountsMap =
    new ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]
  private[graft] def buildCounts: Map[String, Long] = {
    val b = Map.newBuilder[String, Long]
    buildCountsMap.forEach((k, v) => b += k -> v.get())
    b.result()
  }

  /** Per-tag build wall nanos — attributes `memo_build_s` to its tags
    * from the record alone (the r15 question "which build grew 14 s"
    * was unanswerable from counts). Caveat shared with the total: a
    * build that NESTS another memoized build bills the inner elapsed
    * to both tags, so the per-tag sum can exceed wall time. */
  private val buildNanosByTagMap =
    new ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]
  private[graft] def buildNanosByTag: Map[String, Long] = {
    val b = Map.newBuilder[String, Long]
    buildNanosByTagMap.forEach((k, v) => b += k -> v.get())
    b.result()
  }

  /** Pluggable monotonic task-metric clock: cumulative (executor task
    * run ms, JVM GC ms) across the application, snapshotted around
    * every build so [[buildTaskMsByTag]] can attribute a tag's WALL
    * bill to actual task compute vs dead wall time (host pause,
    * scheduling gaps). The bench installs a SparkListener-backed
    * clock; the default attributes nothing. Deltas are approximate —
    * task-end events post asynchronously, so a build's final tasks
    * can land in the next window — but a 5 s wall bill with 0.3 s of
    * task time still reads unambiguously as a host stall. */
  @volatile private[graft] var taskClock: () => (Long, Long) =
    () => (0L, 0L)

  private val buildTaskMsByTagMap =
    new ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]
  private val buildGcMsByTagMap =
    new ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]

  /** Per-tag cumulative (task run ms, gc ms) measured across builds —
    * the wall-vs-compute attribution [[buildNanosByTag]] alone cannot
    * give. Same nesting caveat: an inner build's tasks bill both
    * tags. */
  private[graft] def buildTaskMsByTag: Map[String, (Long, Long)] = {
    val b = Map.newBuilder[String, (Long, Long)]
    buildTaskMsByTagMap.forEach((k, v) => b += k -> (v.get(),
      Option(buildGcMsByTagMap.get(k)).map(_.get()).getOrElse(0L)))
    b.result()
  }

  /** Plan-hash provider for memo keys. A test seam: real plans cannot
    * fabricate a 32-bit `semanticHash` collision on demand, so the
    * collision-path spec swaps in a constant; production always uses
    * the analyzed plan's semantic hash. */
  @volatile private[graft] var planHash: DataFrame => Int =
    _.semanticHash()

  /** PRE-CACHE logical plans of every DataFrame a build left pinned,
    * keyed by tag. This is what makes the single-task sweep's reach
    * into memoized builds MECHANICAL (ScaleInvariantsSpec rules 1-6
    * previously stopped at the IndexMemo boundary with a prose
    * justification): the analyzed plan is captured before Spark's
    * cache manager can substitute the InMemoryRelation, so the sweep
    * sees the build's real aggregation/window/join shapes. Appended
    * on every build (not replaced): distinct param sets under one tag
    * each contribute their shapes. Cleared with [[clear]]. */
  private val builtPlansMap = new ConcurrentHashMap[String,
    List[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]]
  private[graft] def builtPlans: Map[String,
      Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] = {
    val b = Map.newBuilder[String,
      Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]]
    builtPlansMap.forEach((k, v) => b += k -> v)
    b.result()
  }
  private def recordBuiltPlans(tag: String, pinned: Seq[DataFrame]): Unit =
    if (pinned.nonEmpty) {
      val plans = pinned.flatMap(df =>
        try Some(df.queryExecution.analyzed) catch {
          case _: Throwable => None
        }).toList
      builtPlansMap.merge(tag, plans, (a, b) => a ++ b)
    }

  private def release(dfs: Seq[DataFrame]): Unit =
    dfs.foreach(df => try df.unpersist() catch { case _: Throwable => () })

  private def sameInputs(e: Entry, inputs: Seq[DataFrame]): Boolean =
    try e.inputs.length == inputs.length &&
      e.inputs.zip(inputs).forall { case (a, b) => a.sameSemantics(b) }
    catch { case _: Throwable => false }

  /** Memoized `build`, keyed by (application id, `tag`, `params`,
    * semantic hash of each input's analyzed plan). `build` returns the
    * value plus the DataFrames it left persisted; those stay cached
    * until [[clear]]. Only parameters that change the BUILT artifact
    * belong in `params` — probe-time knobs (thresholds, broadcast
    * bounds) should stay out so calls differing only there share the
    * index. */
  def getOrBuild[T <: AnyRef](tag: String, params: String,
      inputs: Seq[DataFrame])(build: => (T, Seq[DataFrame])): T = {
    require(inputs.nonEmpty, "memo key needs at least one input plan")
    val appId = inputs.head.sparkSession.sparkContext.applicationId
    val key = s"$appId#$tag#$params#" +
      inputs.map(planHash(_)).mkString(",")
    val hit = cache.get(key)
    if (hit != null && sameInputs(hit, inputs))
      return hit.value.asInstanceOf[T]
    if (hit != null) { // 32-bit hash collision: evict the older plan
      cache.remove(key, hit)
      release(hit.pinned)
    }
    val t0 = System.nanoTime()
    val (run0, gc0) = taskClock()
    val (value, pinned) = build
    val elapsed = System.nanoTime() - t0
    val (run1, gc1) = taskClock()
    buildTaskMsByTagMap.computeIfAbsent(tag,
      _ => new java.util.concurrent.atomic.AtomicLong)
      .addAndGet(math.max(0L, run1 - run0))
    buildGcMsByTagMap.computeIfAbsent(tag,
      _ => new java.util.concurrent.atomic.AtomicLong)
      .addAndGet(math.max(0L, gc1 - gc0))
    // nanos/counts bill every EXECUTED build, including a lost race:
    // the loser's elapsed is real wall time that polluted whatever the
    // bench was timing, so the delta-based paid-build detector and the
    // per-tag bill must both see it (two raced builds = two real
    // builds, same caveat class as the documented nesting one)
    buildNanosAcc.addAndGet(elapsed)
    buildNanosByTagMap.computeIfAbsent(tag,
      _ => new java.util.concurrent.atomic.AtomicLong).addAndGet(elapsed)
    buildCountsMap.computeIfAbsent(tag,
      _ => new java.util.concurrent.atomic.AtomicLong).incrementAndGet()
    val prev = cache.putIfAbsent(key, Entry(inputs, value, pinned, tag))
    if (prev == null) {
      // plans register on the WINNER path only (ADVICE r15): a lost
      // race's pinned copies are released below, so appending their
      // plans would hand the sweep duplicates of shapes it already has
      recordBuiltPlans(tag, pinned)
      boundTag(tag, key); value
    } else if (sameInputs(prev, inputs)) { // lost the race: adopt the winner
      release(pinned)
      prev.value.asInstanceOf[T]
    } else {
      // collision raced back in: serve our build UNMEMOIZED, but
      // release its pins first (ADVICE r16) — nothing tracks them, so
      // they would otherwise stay persisted for the session lifetime
      // and be invisible to the build-shape sweep. Consumers of the
      // returned value recompute on use: degraded, never wrong.
      release(pinned)
      value
    }
  }

  /** Enforce [[MaxPerTag]] after inserting `key` under `tag`. A key can
    * re-enter after the collision path evicted its first incarnation;
    * the stale queue occurrence is removed before re-appending, else it
    * would later `cache.remove` the LIVE re-inserted entry — a premature
    * unpersist that silently shrinks the tag's effective capacity.
    * Unpersists run outside the queue lock. */
  private def boundTag(tag: String, key: String): Unit = {
    val q = tagQueues.computeIfAbsent(tag,
      _ => new java.util.ArrayDeque[String])
    val evicted = q.synchronized {
      q.remove(key) // drop any stale occurrence from a collision eviction
      q.addLast(key)
      val out = Seq.newBuilder[Entry]
      while (q.size > MaxPerTag) {
        val e = cache.remove(q.removeFirst())
        if (e != null) out += e
      }
      out.result()
    }
    evicted.foreach(e => release(e.pinned))
  }

  /** Release every memoized index (tolerant of stopped sessions).
    * Resets the build counters with the plans they describe: a sidecar
    * read after N clear/rebuild cycles in one JVM bills the builds
    * since the last clear, not every incarnation ever built. The bench
    * never calls this mid-run, so its startup-to-emit deltas are
    * unaffected. */
  def clear(): Unit = {
    cache.values.forEach(e => release(e.pinned))
    cache.clear()
    tagQueues.clear()
    builtPlansMap.clear()
    buildNanosAcc.set(0L)
    buildNanosByTagMap.clear()
    buildCountsMap.clear()
    buildTaskMsByTagMap.clear()
    buildGcMsByTagMap.clear()
  }
}
