package graft

import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Session factory carrying the engine's deployment posture, so every
  * entry point (and a user's own driver) runs with the same knobs:
  *
  *  - AQE on, with partition coalescing and skew-join splitting —
  *    runtime re-planning is what absorbs the skew and size estimates
  *    no static plan survives at 100 TB. The salted operators in
  *    [[ops.Skew]] remain for keys hot enough to beat even AQE's
  *    splitting. The one exception is a [[cut]] whose plan has no
  *    shuffle (a fixpoint round against hash-pinned state): it runs
  *    its static plan, since AQE would have nothing to re-plan (see
  *    [[checkpoint]]).
  *  - `spark.sql.shuffle.partitions`: core count locally; on a
  *    cluster size it to ~2-3x total executor cores and let AQE
  *    coalesce down — partitions must be small enough to fit executor
  *    memory at the target scale (spill-aware), and AQE only ever
  *    merges, never splits a too-coarse shuffle.
  *  - `spark.sql.files.maxPartitionBytes` stays at the 128 MB default:
  *    with ~128 MB parquet row groups (what [[ops.Maintenance.compact]]
  *    produces) a scan task maps to one row group.
  *  - nanos timestamps read as longs (the events table is
  *    TIMESTAMP(NANOS); the engine buckets with integer arithmetic).
  *  - UTC session timezone: date extraction must not depend on the
  *    driver host's zone.
  *  - codegen class cache sized above the suite's distinct stages so
  *    steady-state runs never recompile.
  *  - `file:` is [[fs.LocalFileSystem]] (and [[fs.LocalFs]] through
  *    `FileContext`): local writes (sinks, error output, reliable and
  *    streaming checkpoints, compaction) set their file modes
  *    in-process instead of forking one `chmod` per file and directory.
  */
object GraftSession {

  /** Configured builder; callers may override before getOrCreate. */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // collect_set/collect_list aggregations (ObjectHashAggregate)
      // fall back to SORT-based aggregation once a partition's hash
      // map passes this many keys — and the 128-key default is below
      // ~#docs/partition for every corpus-keyed gate aggregation, so
      // the hot folds were silently sorting their full input. 4096
      // keys of bounded per-key state fit executor memory with wide
      // margin at any scale; the fallback remains the spill safety
      // net beyond it.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "4096")
      .config("spark.hadoop.fs.file.impl",
        classOf[fs.LocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[fs.LocalFs].getName)

  /** Local session on `cpus` threads (SPARK_GRAFT_CPUS, default 32).
    * SPARK_GRAFT_CHECKPOINT_DIR, when set, switches the iterative
    * operators to reliable checkpoints (see [[cut]]). */
  def local(cpus: String =
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val s = builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR")
      .foreach(dir => enableReliableCheckpoints(s, dir))
    s
  }

  /** Pre-fan-out re-grain (r17): a row-EXPLODING pipeline inherits the
    * scan's split count, so a small corpus read (one parquet row
    * group) runs its entire gram/token fan-out — and every hash/decode
    * expression fused after it — on ONE core. When the plan's scan
    * parallelism is below the session's shuffle parallelism, pay one
    * tiny shuffle of the COMPACT parent rows (never the exploded
    * output) keyed by the fan-out's grouping column, so the explode
    * and everything fused behind it use the whole cluster and a
    * downstream per-key window/aggregation finds its partitioning
    * already satisfied. When the input already has >= that many splits
    * (any corpus-scale table at 100 TB), this is a no-op: no shuffle
    * is added, the scan's own parallelism stands. Measured on the
    * verifiedMd5Idx build at sf0.1: the char-gram fold fell 7.7 -> 1.3
    * s because the 1-split documents scan had serialized it.
    *
    * The split count comes from the PLANNED leaf scans, not from
    * `ds.rdd` (r18, ADVICE r17): materializing the RDD finalizes a
    * throwaway physical plan and, under AQE, would actually execute
    * any shuffle stages the input carries. [[scanParallelism]] reads
    * the pre-AQE `sparkPlan` instead — a plan that already holds an
    * exchange is treated as at-parallelism (a shuffle output is
    * session-grained by construction), and only an exchange-FREE plan
    * with an unrecognized leaf falls back to the RDD probe, where no
    * stage can execute. */
  def fanoutRegrain[T](ds: Dataset[T],
      key: Column): Dataset[T] = {
    val target = ds.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    if (scanParallelism(ds, target) < target) ds.repartition(target, key)
    else ds
  }

  /** The parallelism a `ds` action would start from, derived WITHOUT
    * executing anything: max split count over the planned leaf scans
    * (creating a file scan's RDD lists driver-side splits, no job).
    * A plan containing a shuffle exchange reports `atLeast` — its
    * output grain is the session's shuffle parallelism, which is all
    * [[fanoutRegrain]]'s below-target test needs — and an
    * exchange-free plan with a leaf this match doesn't know degrades
    * to the RDD-partition probe, safe there because an exchange-free
    * plan materializes no stage when its RDD is built. */
  private[graft] def scanParallelism(ds: Dataset[_], atLeast: Int): Int = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val plan = ds.queryExecution.sparkPlan
    if (plan.exists { case _: ShuffleExchangeLike => true; case _ => false })
      atLeast
    else {
      val counts = plan.collectLeaves().map {
        case f: FileSourceScanExec =>
          f.inputRDDs().map(_.getNumPartitions).sum
        case b: BatchScanExec => b.inputRDD.getNumPartitions
        case r: RDDScanExec => r.rdd.getNumPartitions
        case _ => -1
      }
      if (counts.isEmpty) atLeast
      else if (counts.contains(-1)) ds.rdd.getNumPartitions
      else counts.max
    }
  }

  /** Deployment switch for the iterative plans (PageRank rounds,
    * dup-cluster pointer jumping): point `dir` at a fault-tolerant
    * store (HDFS/S3 on a cluster) and every [[cut]]/[[cutWith]] upgrades from
    * `localCheckpoint` — executor-memory-resilient only — to a
    * reliable `checkpoint` that survives executor loss mid-iteration.
    * Reversible per session via the conf flag. */
  def enableReliableCheckpoints(s: SparkSession, dir: String): Unit = {
    s.sparkContext.setCheckpointDir(dir)
    s.conf.set("spark.graft.reliableCheckpoints", "true")
  }

  /** Materialize a dataset and truncate its lineage — the per-round
    * discipline of every iterative operator. Local (in-memory, fast)
    * by default; reliable when [[enableReliableCheckpoints]] has
    * configured a checkpoint dir, so a 1000-executor PageRank does not
    * restart from round zero on one lost executor.
    *
    * A cut INSIDE a memoized plan mints a fresh `LogicalRDD`, so a
    * memo keyed on the post-cut plan never hits (the r12 q119
    * regression). The rule is therefore structural, not a flag: key
    * memos on the PRE-cut plan and place the cut inside the build
    * block ([[graft.ops.TextOps.bigramNll]]); MemoStabilitySpec
    * enforces it mechanically for every gate query. */
  def cut[T](ds: Dataset[T]): Dataset[T] = checkpoint(ds, Nil)._1

  /** [[cut]] fused with per-round scalar witnesses read off the cut
    * state — the components label sum, the eigenvector/HITS
    * normalizers, the BFS frontier and k-truss edge counts. Each
    * witness is a Long-valued aggregate column (`count(lit(1))`,
    * `sum(col("lab"))`), returned in argument order; an aggregate over
    * no rows that yields null (a `sum` of an empty round) reads 0.
    * The witnesses are computed by the checkpoint's OWN job (see
    * [[checkpoint]]), so a witnessed cut runs exactly the jobs of a
    * plain one, in both modes. A non-aggregate witness fails analysis. */
  def cutWith[T](ds: Dataset[T], witness: Column,
      more: Column*): (Dataset[T], Seq[Long]) =
    checkpoint(ds, witness +: more)

  private val observations = new java.util.concurrent.atomic.AtomicLong

  /** The ONE checkpoint body: reads the local/reliable mode and
    * registers the cut origin for [[cut]] and [[cutWith]] alike.
    *
    * Always EAGER, in both modes: the checkpoint job computes the
    * round once, and a reliable checkpoint writes its files from that
    * same evaluation. Witnesses ride that job as a `Dataset.observe`
    * under one uniquely named observation per cut, read back from the
    * executed plan's collected metrics once the checkpoint returns, so
    * no aggregate job runs over the cut. The observation sits on the
    * top operator of the round's final stage, so its metrics count
    * each row once.
    *
    * The cut runs [[cutPlan]]'s plan: planned once with exchanges
    * inserted, and run adaptively only when that plan has a shuffle.
    * A typical round (a broadcast-gated join against a cache pinned by
    * hash, then an aggregate that needs no exchange) has none, so it
    * pays no adaptive loop, and its `LogicalRDD` keeps the static
    * plan's output partitioning. The caller's session settings are
    * neither read for this nor changed. */
  private def checkpoint[T](ds: Dataset[T],
      witnesses: Seq[Column]): (Dataset[T], Seq[Long]) = {
    val s = ds.sparkSession
    val reliable =
      s.conf.getOption("spark.graft.reliableCheckpoints").contains("true") &&
        s.sparkContext.getCheckpointDir.isDefined
    val name = s"graft_cut_${observations.incrementAndGet()}"
    val observed =
      if (witnesses.isEmpty) ds
      else ds.observe(name, witnesses.head, witnesses.tail: _*)
    val planned = cutPlan(observed)
    val out =
      if (reliable) planned.checkpoint() else planned.localCheckpoint()
    val qe = planned.queryExecution
    val values =
      if (witnesses.isEmpty) Nil
      else {
        val row = qe.observedMetrics(name)
        witnesses.indices.map(i => if (row.isNullAt(i)) 0L else row.getLong(i))
      }
    out.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.foreach(registerCutOrigin(_, qe.optimizedPlan match {
      case m: org.apache.spark.sql.catalyst.plans.logical.CollectMetrics =>
        m.child
      case p => p
    }))
    (out, values)
  }

  /** `ds` as a cut executes it: its static plan when that plan has no
    * shuffle, else its adaptive plan. `Inspect rounds` explains this
    * plan. */
  private[graft] def cutPlan[T](ds: Dataset[T]): Dataset[T] =
    org.apache.spark.sql.execution.ShuffleGatedExecution(ds)

  /** The ONE place the right-sizing policy lives (~64k rows per
    * partition, capped at the session's shuffle partitions so cluster
    * parallelism is never sacrificed) — [[persistCompactBy]] and the
    * BFS/HITS per-round state sizing all read it, so a policy change
    * cannot skew the variants apart (ADVICE
    * r16/r17). Ceil via `(rows-1)/65536+1`, not `(rows+65535)/65536`:
    * callers that size from a BOUND rather than a count pass
    * `Long.MaxValue` ("unknown, assume huge"), and the additive form
    * would overflow to 1 partition exactly there. */
  private[graft] def compactParts(s: SparkSession, rows: Long): Int =
    math.max(1L, math.min(
      s.conf.get("spark.sql.shuffle.partitions").toInt.toLong,
      if (rows <= 0L) 1L else (rows - 1L) / 65536L + 1L)).toInt

  /** Measured-count right-sizing for BUILD-ONCE pinned tables
    * (memoized edge lists and their per-round-scanned kin): persist,
    * count, and when the count calls for another grain than the cache
    * has, re-cache at [[compactParts]]'s floor and release the first
    * copy. The re-encode reads the just-persisted copy, never the
    * lineage — a count-first single-encode variant was A/B'd in r17
    * and LOST under a warm JIT (full-run bill 25.5 -> 30.6 s), because
    * recomputing the join/agg plan costs more than re-encoding the
    * small cached result. ONLY for build-once/scan-many tables — the
    * count() job must never sit in a per-round path.
    *
    * With no `keys` the grain is fixed without a shuffle key:
    * coalesce when the cache is above the floor; lift by repartition
    * when it is BELOW (r18: locally an AQE-coalesced or single-split
    * build can pin ONE partition of a 100k-row table, serializing
    * every consumer scan); otherwise keep it. At cluster scale caches
    * come out of session-grained shuffles at the floor, so both
    * branches are local-grain repairs corpus-scale plans never enter.
    *
    * With `keys` the cache is pinned HASH-partitioned by them at the
    * floor, so every downstream aggregation or join clustered on
    * `keys` finds its distribution already satisfied and plans NO
    * exchange (guide §2.4: the one exchange is paid once at build time
    * and every per-round consumer skips its own). Measured on the r18
    * iterative-graph rounds: each `edges ⋈ broadcast(rank) →
    * groupBy(dst)` round dropped its partial→final agg Exchange once
    * the pinned edge table was hashed by dst (plans/r18/). A cache
    * that already carries that partitioning at that grain — e.g. a
    * projection of another table pinned by the same key — is kept
    * as is rather than re-shuffled and transiently double-cached
    * (ADVICE r18).
    *
    * SKEW EXPOSURE (ADVICE r18): a single-key hash pin places every
    * row of a hot key (a high-in-degree node, a degenerate gram) in
    * ONE partition for every consumer that reuses the pin, and AQE
    * cannot split a cached scan — so one skewed partition bounds every
    * round's wall time. Callers pin on keys whose per-key cardinality
    * is structurally bounded (node in-degree on thresholded graphs,
    * bucket-capped gram keys); a pin on an uncapped power-law key
    * needs salting at build time instead (guide §2.5). */
  def persistCompactBy[T](ds: Dataset[T], keys: Column*): Dataset[T] = {
    val p = ds.persist()
    val parts = compactParts(ds.sparkSession, p.count())
    val regrained =
      if (keys.isEmpty) {
        val have = p.rdd.getNumPartitions
        if (parts < have) Some(p.coalesce(parts))
        else if (parts > have) Some(p.repartition(parts))
        else None
      } else {
        val pinned = p.queryExecution.executedPlan.outputPartitioning match {
          case h: org.apache.spark.sql.catalyst.plans.physical
              .HashPartitioning =>
            h.numPartitions == parts &&
              h.expressions.length == keys.length &&
              h.expressions.zip(keys).forall {
                case (a: org.apache.spark.sql.catalyst.expressions.Attribute,
                    k) => a.name == k.toString
                case _ => false
              }
          case _ => false
        }
        if (pinned) None else Some(p.repartition(parts, keys: _*))
      }
    regrained.fold(p) { r =>
      val compact = r.persist()
      compact.count()
      p.unpersist()
      compact
    }
  }

  /** Pre-cut logical plans keyed by the checkpoint RDD's id. A cut()
    * table plans as an opaque `RDDScanExec`, so plan-invariant sweeps
    * (ScaleInvariantsSpec's single-task rules) could historically only
    * allowlist cut-fed windows BY NAME and trust the prose
    * justification; this registry is the seam that lets them resolve
    * the scan back to the plan that produced it and classify its
    * boundedness mechanically (r14 verdict task). Bounded LRU: plans
    * are small logical trees, but iterative operators cut every
    * round, so the registry caps at 8192 entries — generous enough
    * that a full gate sweep (a few hundred cuts) never evicts an
    * entry between a query's construction and its classification. */
  private val cutOrigins =
    new java.util.LinkedHashMap[Int, LogicalPlan](64, 0.75f, false) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Int, LogicalPlan]): Boolean =
        size() > 8192
    }

  private def registerCutOrigin(rddId: Int, plan: LogicalPlan): Unit =
    cutOrigins.synchronized { cutOrigins.put(rddId, plan); () }

  /** The optimized pre-cut plan behind a cut() RDD, if this session
    * produced it (None for RDDs that never went through [[cut]]). */
  def cutOrigin(rddId: Int): Option[LogicalPlan] =
    cutOrigins.synchronized(Option(cutOrigins.get(rddId)))

  /** Snapshot of every registered (rdd id, pre-cut plan) — the seam
    * that lets plan sweeps audit the TRANSIENT plans of iterative
    * operators: a fixpoint's per-round joins exist only for one round,
    * but each round's result passes through [[cut]], so the registry
    * holds exactly the plans that executed between rounds. */
  private[graft] def cutOriginSnapshot: Map[Int, LogicalPlan] = {
    val b = Map.newBuilder[Int, LogicalPlan]
    cutOrigins.synchronized {
      cutOrigins.forEach((k, v) => b += (k.intValue() -> v))
    }
    b.result()
  }
}
