package graft.functions

import java.lang.ref.WeakReference
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Pins (`localCheckpoint`) and their eager release.
  *
  * Tracked pins: [[pin]] registers each snapshot's RDD, WEAKLY, in a
  * per-session registry that lives in `graft.SessionState`'s session
  * scope, so its lifetime is the session's and ends with the
  * application. [[releasePins]] (`GlobalRank.releaseCheckpoints`, which
  * Bench, Profile, Verify and harnesses run between queries) unpersists
  * the reachable ones eagerly; a caller that simply drops its plans
  * falls back to the ContextCleaner, which reclaims the blocks once the
  * RDD is unreachable, so the registry never pins executor storage
  * itself.
  *
  * Iterate loops: every equi-join fixpoint loop here (GraphOps connected
  * components, RankingOps' distributed PageRank) checkpoints its state
  * per round to truncate lineage. The superseded round's blocks are dead
  * the moment the next round has materialized (eager localCheckpoint),
  * but absent an explicit unpersist they sit in executor storage until
  * the DataFrame is GC'd and the ContextCleaner notices — across a
  * long-lived session running many loops that is an unbounded storage
  * accrual. Loops call [[release]] on each superseded snapshot; only
  * the FINAL state (still referenced by the returned plan) is left to
  * the ContextCleaner.
  */
object Checkpoints {

  /** Unpersist the RDD behind a `localCheckpoint`'d DataFrame. Safe only
    * when no live plan still reads the snapshot (a re-execution would
    * recompute from a missing block and fail). No-op for plans that are
    * not RDD-backed.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  private def pins(spark: SparkSession)
      : ConcurrentLinkedQueue[WeakReference[RDD[_]]] =
    graft.SessionState.session(spark)("Checkpoints.pins", ())(
      new ConcurrentLinkedQueue[WeakReference[RDD[_]]]())

  /** TRACKED `localCheckpoint`: pins the rows once (multi-consumer
    * subtrees read the materialized blocks instead of re-executing the
    * plan per branch) AND registers the snapshot in this session's pin
    * registry, so [[releasePins]] reclaims the executor storage eagerly.
    * Use this instead of a raw `.localCheckpoint()` for any pin whose
    * plans are fully consumed within one query (ADVICE r18: raw pins
    * bypassed the registry and accrued storage for the session's
    * lifetime). Iterate-loop state that is released by hand inside the
    * loop should keep using release().
    */
  def pin(df: DataFrame): DataFrame = {
    val snap = df.localCheckpoint()
    snap.queryExecution.analyzed match {
      case l: LogicalRDD => pins(df.sparkSession).add(new WeakReference(l.rdd))
      case _ => // not an RDD-backed snapshot — nothing persisted
    }
    snap
  }

  /** Eagerly unpersist every still-reachable pin of this session. Safe
    * only once the plans built on those pins have been fully consumed (a
    * later re-execution of such a plan would recompute from a missing
    * block and fail). Pins whose plans were already garbage-collected
    * are reclaimed by the ContextCleaner and skipped here. Returns the
    * number of pins released.
    */
  def releasePins(spark: SparkSession): Int = {
    val q = pins(spark)
    var n = 0
    var ref = q.poll()
    while (ref != null) {
      val rdd = ref.get()
      if (rdd != null) { rdd.unpersist(blocking = false); n += 1 }
      ref = q.poll()
    }
    n
  }

  /** [[pin]] a DERIVED plan — one with an Aggregate, Join, Window or
    * Generate — that is not already a pinned `LogicalRDD`; scan-shaped
    * and already-pinned inputs come back untouched. The rule for an
    * input that a routing count executes and the chosen route then
    * executes again (GlobalRank's `pinInput`, GraphOps' node count).
    */
  def pinIfDerived(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.{logical => l}
    val derived = df.queryExecution.optimizedPlan.exists {
      case _: l.Aggregate | _: l.Join | _: l.Window | _: l.Generate => true
      case _ => false
    }
    val pinned = df.queryExecution.analyzed.isInstanceOf[LogicalRDD]
    if (derived && !pinned) pin(df) else df
  }

  /** Size-gated [[pin]] for corpus-shaped multi-consumer subtrees:
    * pins only when a DRIVER-KNOWN row measure (parquet footer count /
    * an already-collected size — never a new Spark job) is at most
    * `graft.pin.smallThreshold` (default 4M, the GlobalRank routing
    * scale). At corpus scale the condition is false and the plan is
    * untouched — materializing a 100 TB intermediate is the exact
    * cliff this guard exists to avoid; at fixture/batch scale the pin
    * stops N-consumer subtrees re-executing per branch.
    */
  def pinIfSmall(df: DataFrame, measuredRows: Long): DataFrame = {
    val threshold = df.sparkSession.conf
      .get("graft.pin.smallThreshold", "4000000").toLong
    if (measuredRows <= threshold) pin(df) else df
  }
}
