package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Session-scoped ownership registry for persists created INSIDE a
  * graded query or library call whose result outlives the call (the
  * query returns a lazy plan; the action runs in the harness). The
  * frame cannot unpersist itself before the caller's action, and a
  * leaked corpus-sized cache is real memory pressure at scale — LRU
  * eviction is a backstop, not a lifecycle. So: creators register
  * here ([[owned]]), and whoever runs the action releases everything
  * afterwards ([[releaseAll]] — Bench and Verify call it after every
  * query's sink write; specs call it per case).
  *
  * This is the registry form of the `Dedup.CachedFrame` convention
  * for call shapes that cannot return a handle (a `Q` registry entry
  * returns a bare DataFrame by contract).
  */
object Caches {
  private val frames = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  private val rdds =
    new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.rdd.RDD[_]]()

  /** [[owned]] with LINEAGE TRUNCATION: `localCheckpoint` materializes
    * the frame (same eager build the owned count pays) and roots every
    * downstream plan at the checkpointed RDD — a LogicalRDD leaf —
    * instead of the frame's full logical history. A plain persist does
    * NOT do this: cache substitution happens after analysis, so every
    * action over a persisted frame still re-analyzes the whole
    * producing lineage (measured r19: the semdedup diagnostics spent
    * ~80% of their time in exactly that re-analysis — inter-job planning
    * gaps, guide §7.3). Use for frames with DEEP producing plans and
    * several downstream actions; plain [[owned]] is enough when the
    * lineage is shallow. The checkpoint blocks live on executors
    * (MEMORY_AND_DISK, corpus stays distributed — never a driver
    * collect); [[releaseAll]] unpersists them like every other owned
    * frame. Trades recorded: (1) a lost executor forces a full
    * recompute of the query (no lineage to replay) — the standard
    * localCheckpoint contract (guide §5 "cheaper way to cut lineage");
    * (2) UNLIKE [[owned]] frames, a checkpointed frame is permanently
    * unusable after [[releaseAll]] — the truncated lineage cannot
    * recompute dropped blocks, so a handle must NEVER be reused
    * across a release boundary. */
  def checkpointed(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(true)
    // register the checkpoint's OWN RDD (the LogicalRDD leaf), not a
    // before/after diff of the global persistent-RDD map — the diff
    // form raced with concurrent persists and missed re-used RDD ids
    val leafRdds = cp.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    require(leafRdds.nonEmpty, "localCheckpoint produced no LogicalRDD leaf")
    leafRdds.foreach(rdds.add)
    cp
  }

  /** Persist `df` (MEMORY_AND_DISK), register it for harness-owned
    * release, and MATERIALIZE it before returning. Eager by design:
    * every owned frame exists to feed MULTIPLE downstream consumers,
    * and when those consumers are concurrent plan subtrees (join
    * children, broadcast builds), their stages race to compute the
    * unbuilt cache's partitions — duplicate work and the BlockManager
    * 'Block already exists' WARN, load-dependent and flaky. The
    * count() serializes the one build the plan pays anyway. */
  def owned(df: DataFrame,
            level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    ownedCount(df, level)
    df
  }

  /** As [[owned]], returning the materializing count — for callers
    * that need the row count anyway (a second `df.count()` after
    * [[owned]] is a whole redundant cache-hit Spark job). */
  def ownedCount(df: DataFrame,
                 level: StorageLevel = StorageLevel.MEMORY_AND_DISK): Long = {
    df.persist(level)
    frames.add(df)
    df.count()
  }

  /** Register an ALREADY-persisted frame for harness-owned release
    * (the seam for library code that decides persistence itself). */
  def register(df: DataFrame): DataFrame = { frames.add(df); df }

  /** Persist + register WITHOUT materializing — for call sites whose
    * FIRST consumer is provably a single sequential action (a driver
    * training loop's first aggregate, an eager one-row fold, a dict
    * chain's materializing count): that action builds the cache
    * serially, so the eager count() here would be a whole redundant
    * pass. Only valid when no two concurrent plan subtrees can race
    * to build the unbuilt cache — when consumers ARE concurrent
    * (join/union arms of one action, e.g. t_pack_ids_bfd's grading
    * arms, d_hamming_adjacent's self-join), use [[owned]]: the race
    * duplicates the build and trips BlockManager 'Block already
    * exists' WARNs under load (the r16 measurement). */
  def ownedLazy(df: DataFrame,
                level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    df.persist(level)
    frames.add(df)
    df
  }

  /** Unpersist every registered frame and empty the registry. Safe to
    * call repeatedly; unpersisting a dropped frame is a no-op. */
  def releaseAll(blocking: Boolean = false): Unit = {
    var f = frames.poll()
    while (f != null) { f.unpersist(blocking); f = frames.poll() }
    var r = rdds.poll()
    while (r != null) { r.unpersist(blocking); r = rdds.poll() }
  }
}
