package graft

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.graftbridge.BlockBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** How the engine materializes query work for reuse, and how it lets it go.
  *
  * Two kinds of frame come out of here:
  *  - a lineage-cut frame ([[reuse]]): the plan runs once, eagerly, and
  *    the result is a `LogicalRDD` over locally checkpointed blocks. A
  *    stage consumed more than once (a tokenized corpus, a signature
  *    table, an iteration round) is cut this way, so its consumers read
  *    blocks instead of re-deriving the stage, and a round's plan stays
  *    O(1) instead of doubling with every round that reads its
  *    predecessor twice.
  *  - a cached frame ([[cached]], [[inMemory]]): Spark's CacheManager
  *    holds an in-memory columnar copy and the lineage is kept, so a
  *    released copy rebuilds lazily for anyone still holding the frame.
  *
  * [[release]] frees either kind, so callers never choose between
  * `unpersist` and freeing checkpoint blocks. At 100 TB the storage
  * choice (reliable `checkpoint()`, or `persist` plus an eager action)
  * is an edit of this one module. */
object Materialize {

  /** `df` computed now and cut from its lineage (locally checkpointed). */
  def reuse(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** `df` registered in the CacheManager (memory and disk); the copy is
    * built by the first action that reads it. */
  def cached(df: DataFrame): DataFrame = df.cache()

  /** `df` held in Spark's in-memory columnar cache, memory only (no
    * disk spill), built now. */
  def inMemory(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_ONLY)
    df.count()
    df
  }

  /** Frees each frame's materialized blocks: a cached frame is
    * unpersisted, a lineage-cut frame's checkpoint blocks are dropped
    * (through [[org.apache.spark.graftbridge.BlockBridge]], which skips
    * `RDD.unpersist`'s cannot-be-recomputed warning: the release is
    * intended), anything else is left alone. Best effort: a release that
    * races a stopping session is swallowed, since the ContextCleaner
    * reclaims the blocks anyway. */
  def release(dfs: DataFrame*): Unit = dfs.foreach { df =>
    try {
      if (isCached(df)) df.unpersist(blocking = false)
      else checkpointBlocks(df).foreach(BlockBridge.free)
    } catch { case NonFatal(_) => () }
  }

  private def isCached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  private def checkpointBlocks(df: DataFrame) = df.queryExecution.logical match {
    case lr: LogicalRDD => Some(lr.rdd)
    case _ => None
  }

  /** The frame memoized under `key` for `spark`, built by `build` on the
    * first call. The memo holds query work (a pair graph, an oriented
    * edge set, a PQ codebook, a cached dimension) in frames bound to the
    * session that built them, so entries are per session, keyed on the
    * session reference; perfbench runs each pass in a fresh session so
    * that it times that work instead of the memo. Staged input copies
    * are not query work and are memoized per Spark context instead
    * ([[StageDirs.staged]]). */
  def memo(spark: SparkSession, key: Any)(build: => DataFrame): DataFrame =
    sessionMemo(spark, key)(build)

  private val sessionMemo = new SessionMemo(cap = 64)

  /** The session memo behind [[memo]]. Before each lookup:
    *
    *  1. entries of STOPPED sessions are released and dropped — they
    *     can never be read again and would otherwise pin their blocks;
    *  2. while live entries exceed `cap`, OTHER keys are evicted, oldest
    *     first; the caller's own key survives. Whether an eviction also
    *     releases the entry depends on what backs it:
    *     - a cached frame is unpersisted: the CacheManager holds a
    *       strong reference, so dropping only the memo's reference would
    *       pin executor storage until the session stops, and a holder
    *       that still reads the frame rebuilds it from lineage;
    *     - a lineage-cut frame is dropped without being freed: another
    *       live holder would fail mid-query on the missing blocks, since
    *       there is no lineage to rebuild from. It is reclaimed when no
    *       holder is left.
    *
    * `stopped` tells a dead session from a live one. */
  private[graft] final class SessionMemo(cap: Int,
      stopped: SparkSession => Boolean = _.sparkContext.isStopped) {
    private val entries = mutable.LinkedHashMap.empty[(SparkSession, Any), DataFrame]

    def apply(spark: SparkSession, key: Any)(build: => DataFrame): DataFrame =
      entries.synchronized {
        val k = (spark, key)
        prune(k)
        entries.get(k) match {
          case Some(df) => df
          case None =>
            val df = build
            entries(k) = df
            df
        }
      }

    private def prune(current: (SparkSession, Any)): Unit = {
      entries.keys.filter(k => stopped(k._1)).toList.foreach { k =>
        entries.remove(k).foreach(release(_))
      }
      entries.keys.filter(_ != current).take(entries.size - cap).toList.foreach { k =>
        entries.remove(k).filter(isCached).foreach(release(_))
      }
    }

    private[graft] def contains(spark: SparkSession, key: Any): Boolean =
      entries.synchronized(entries.contains((spark, key)))
  }

  /** Runs `body` over the symmetric edge set of the undirected
    * `(doc_a, doc_b)` pairs, as the relational-Pregel operators do
    * (pagerank, label propagation, BFS, connected components): the edge
    * set (each pair in both directions, as `src`/`dst`) is cached and
    * counted at the session's full parallelism — the pair build is the
    * expensive stage — and `body` gets it with its count, under the
    * round-stage shuffle sizing derived from that count
    * ([[Tuning.withRoundPartitions]]). The edge set is released when
    * `body` returns or anything here fails, the count included. */
  def withSymmetricEdges[T](spark: SparkSession, pairs: DataFrame)(
      body: (DataFrame, Long) => T): T = {
    val edges = cached(symmetricEdges(pairs))
    try {
      val edgeCount = edges.count()
      Tuning.withRoundPartitions(spark, edgeCount)(body(edges, edgeCount))
    } finally release(edges)
  }

  private[graft] def symmetricEdges(pairs: DataFrame): DataFrame =
    pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
}
