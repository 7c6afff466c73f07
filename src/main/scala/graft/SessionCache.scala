package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Hygiene for the session-keyed frame memos: `TextOps.pairsCache`,
  * `GraphOps.orientedCache`, `PqAnn.codebookCache` and
  * `Bucketing.cachedDims`. Each holds query work — a checkpointed pair
  * graph, an oriented edge set, a PQ codebook, a persisted dim — in
  * DataFrames bound to the session that built them, so they stay per
  * session, keyed on the session reference. perfbench runs each pass in
  * a fresh session precisely so that it times that work instead of the
  * memo. Staged input copies are not query work and follow a different
  * rule: one per Spark context and source signature ([[StageDirs]]).
  *
  * One shared idiom — first proven on the PQ codebook cache — instead of
  * per-site `if (size > 16) clear()` guards, which had two hazards the
  * r9 review called out on `Bucketing.cachedDims`: clear-all drops
  * references to persisted frames WITHOUT unpersisting them (leaking
  * executor storage until session stop) and wipes live sessions' entries
  * because one unrelated session crossed the cap. Here:
  *
  *  1. entries owned by STOPPED sessions are dropped (and released)
  *     unconditionally — they can never be read again and otherwise pin
  *     their blocks until an unrelated insert crossed the old threshold;
  *  2. only if LIVE entries still exceed the cap are OTHER keys evicted
  *     one at a time — the caller's own key survives. Whether the
  *     eviction also RELEASES the entry depends on what backs it
  *     (`releaseLive`):
  *     - localCheckpoint-backed frames (`releaseLive = false`, default)
  *       have truncated lineage — freeing their blocks while another
  *       live session still holds the DataFrame fails that session
  *       mid-query with missing-block errors rather than "lazily
  *       rebuilding"; only the memo reference is dropped. Reclamation
  *       NEVER happens via GC for these either (the rdd is persisted),
  *       but the entry is rebuildable-by-rerun and bounded by the cap.
  *     - lineage-backed `persist()` frames (`releaseLive = true`) are
  *       unpersisted eagerly: CacheManager holds a strong ref, so a
  *       dropped memo reference would pin executor storage until
  *       session stop, and lazy rebuild from lineage makes the eager
  *       release safe for any concurrent holder.
  *
  * `onEvict` releases the entry's resources (unpersist, checkpoint-block
  * free); failures are swallowed — eviction must proceed even when a
  * release races a stopping session. */
object SessionCache {

  /** Key contract: `productElement(0)` is the owning SparkSession (all
    * frame memos key on the session reference first). */
  def prune[K <: Product, V](map: ConcurrentHashMap[K, V], current: K,
      cap: Int = 16, releaseLive: Boolean = false)(onEvict: V => Unit): Unit = {
    def release(v: V): Unit = try onEvict(v) catch { case _: Throwable => () }
    val dead = map.entrySet().iterator()
    while (dead.hasNext) {
      val e = dead.next()
      if (e.getKey.productElement(0).asInstanceOf[SparkSession]
          .sparkContext.isStopped) {
        release(e.getValue); dead.remove()
      }
    }
    if (map.size > cap) {
      val it = map.entrySet().iterator()
      while (map.size > cap && it.hasNext) {
        val e = it.next()
        // live-session eviction: release only when the entry kind makes
        // it safe (lineage-backed persist — see class doc); otherwise
        // drop just the memo reference
        if (e.getKey != current) {
          if (releaseLive) release(e.getValue)
          it.remove()
        }
      }
    }
  }

  /** Best-effort eager release of a localCheckpoint's cached blocks: the
    * checkpointed plan is a LogicalRDD over a persisted internal RDD, and
    * `df.unpersist` (CacheManager) never sees it. Falling through to the
    * ContextCleaner is always safe, so failures are swallowed. (Moved
    * here from the identical private copies in TextOps and GraphOps.) */
  def freeLocalCheckpoint(df: DataFrame): Unit =
    try df.queryExecution.optimizedPlan.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    } catch { case _: Throwable => () }
}
