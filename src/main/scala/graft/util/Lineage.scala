package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one materialization policy for operator-internal intermediates:
  * every graft operator that reuses, severs or loop-cuts a frame goes
  * through here, and nothing else in graft persists or checkpoints.
  * Every entry point registers its release with [[IntermediateCaches]]
  * (so `IntermediateCaches.releaseAll` frees it after the query), and
  * [[release]] frees one frame early — idempotently, so an operator
  * that releases a round as soon as its successor lands never double-
  * frees when `releaseAll` runs later.
  *
  *  - [[reuse]]: persist to MEMORY_AND_DISK. The frame keeps its plan
  *    and lineage; later references read the cache.
  *  - [[sever]]: eager checkpoint that drops BOTH the Catalyst plan and
  *    the RDD recompute chain. Use where a small-but-expensively-derived
  *    frame (a fingerprint trunk, an evidence edge set) feeds MANY
  *    downstream stages: after a persist the RDD still carries its full
  *    upstream closure chain, so every downstream task binary serializes
  *    the whole expression tree — measured on mm_dup_union as ~30 GB of
  *    ObjectInputStream/TreeNode allocation for one gate. After a sever
  *    the task binary carries only a checkpoint block reference. The
  *    size-gated form ([[gate]]) leaves small inputs lazy.
  *  - [[cut]]: for ITERATIVE algorithms (connected components, BPE merge
  *    learning). A loop that builds round r on round r-1 grows the
  *    Catalyst plan every round and analysis cost compounds — persist
  *    alone does NOT cut the logical plan. Measured in the BPE learner:
  *    per-round wall time doubled every round past ~14 and OOM'd an 8 GB
  *    driver at round 19 on an unchanged ~10k-word vocabulary. The cut
  *    re-roots the frame as a LogicalRDD over the persisted row RDD:
  *    execution stays incremental, the plan stays O(1) deep, and a
  *    released cut frame stays usable (recompute walks the RDD chain).
  *
  * How a sever materializes ([[Mode]]) is decided from what the session
  * shows, with no options: a local master checkpoints locally; a
  * non-local master checkpoints reliably when `SparkContext`'s
  * checkpoint directory is set (a deployment path the user already
  * owns, on storage every executor reaches) and locally otherwise.
  * RELEASE OF A SEVER IS DESTRUCTIVE on the local path: a locally
  * checkpointed RDD has no lineage to recompute from, so the frame must
  * not be used after its release (releaseAll's between-queries contract
  * guarantees this). A reliably checkpointed frame survives its release
  * — its files outlive the block-cache copy — and survives executor
  * loss, which is what multi-hour cluster jobs need. */
object Lineage {

  private val Level = StorageLevel.MEMORY_AND_DISK

  /** How a sever materializes its frame. */
  private[graft] sealed trait Mode
  private[graft] object Mode {
    /** Left as is: every reference recomputes (below the crossover). */
    case object Lazy extends Mode
    /** Eager `localCheckpoint`: executor-local blocks. */
    case object Local extends Mode
    /** Eager `checkpoint` into the context's checkpoint directory. */
    case object Reliable extends Mode
  }

  /** Size crossover for gated severs, in bytes of the optimizer's
    * input estimate (parquet FILE bytes for a scan). Above it one input
    * pass builds the severed frame for every consumer — paired A/B at
    * sf1 (170 MB): d_ngram_jaccard 25.9 → 13.9 s, d_winnow_recall
    * 38.8 → 15.1 s. Below it the block-manager materialization costs
    * more than the recompute (AQE's runtime exchange reuse already
    * deduplicates the identical subtrees): sf0.1 (0.6 MB) measured
    * 2.46 → 3.23 s severed. 4 MiB sits between the two measured
    * sizes. */
  private[graft] val SeverBytes: Long = 4L * 1024 * 1024

  /** The policy table. `estimate` is the input-size estimate of a gated
    * sever, None for an ungated one. */
  private[graft] def decide(localMaster: Boolean, checkpointDir: Boolean,
      estimate: Option[BigInt]): Mode =
    if (estimate.exists(_ < SeverBytes)) Mode.Lazy
    else if (!localMaster && checkpointDir) Mode.Reliable
    else Mode.Local

  private def decide(s: SparkSession, estimate: Option[BigInt]): Mode = {
    val sc = s.sparkContext
    decide(sc.isLocal, sc.getCheckpointDir.isDefined, estimate)
  }

  /** The sever mode for an operator reading `input`: lazy below
    * [[SeverBytes]], a checkpoint above it. Re-optimizes `input`'s plan,
    * so an operator reads it ONCE per call and passes the mode to each
    * of its [[sever]]s. */
  private[graft] def gate(input: DataFrame): Mode =
    decide(input.sparkSession,
      Some(input.queryExecution.optimizedPlan.stats.sizeInBytes))

  /** Persist `df` for several references within the query. */
  def reuse(df: DataFrame): DataFrame =
    IntermediateCaches.track(df.persist(Level), b => { df.unpersist(b); () })

  /** Eager, ungated sever (local or reliable checkpoint). */
  def sever(df: DataFrame): DataFrame = sever(df, decide(df.sparkSession, None))

  /** Sever under a decided `mode` ([[gate]]); [[Mode.Lazy]] returns
    * `df` untouched. */
  private[graft] def sever(df: DataFrame, mode: Mode): DataFrame = mode match {
    case Mode.Lazy => df
    case Mode.Local => severed(df.localCheckpoint(true))
    case Mode.Reliable =>
      require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        "a reliable sever requires SparkContext.setCheckpointDir " +
          "(durable storage reachable by every executor)")
      severed(df.checkpoint(true))
  }

  /** Registers a checkpointed frame's release: unpersist the backing
    * RDD. Fails FAST if the analyzed plan is not the expected single
    * LogicalRDD — a plan-shape regression (e.g. across Spark upgrades)
    * must surface at sever time, not as a silent cache leak. */
  private def severed(cp: DataFrame): DataFrame = {
    val rdd = cp.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.getOrElse(throw new IllegalStateException(
      "sever: checkpointed plan is not a LogicalRDD — plan shape " +
        s"changed, release would leak: ${cp.queryExecution.analyzed.nodeName}"))
    IntermediateCaches.track(cp, b => { rdd.unpersist(b); () })
  }

  /** Lineage cut for one round of an iterative loop. Callers release
    * round r-1 once round r is materialized. */
  def cut(df: DataFrame): DataFrame = {
    val rdd = df.rdd
    rdd.persist(Level)
    IntermediateCaches.track(df.sparkSession.createDataFrame(rdd, df.schema),
      b => { rdd.unpersist(b); () })
  }

  /** Frees the materialization behind `df` now — a frame returned by
    * [[reuse]], [[sever]] or [[cut]]. Idempotent; a no-op for any other
    * frame (a lazy sever, an already released one). */
  def release(df: DataFrame, blocking: Boolean = false): Unit =
    IntermediateCaches.release(df, blocking)
}
