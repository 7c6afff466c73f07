package graft

import org.apache.spark.graftbridge.BlockProbe
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.llm.{GraphOps, TextOps}

/** [[Materialize]]: the session memo's eviction rule, [[Materialize.release]]
  * on both kinds of frame, and the symmetric-edge scope's cleanup on
  * failure. Every test builds its own memo and its own frames (distinct
  * plans, so no CacheManager entry is shared with another test); the
  * engine's memo, which holds the fixture's `layout_cached_scan` dim, is
  * never touched. */
class MaterializeSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  /** A frame over a plan no other test builds. */
  private def frame(s: SparkSession, tag: Int): DataFrame =
    s.range(0, 10 + tag).selectExpr(s"id * $tag AS v")

  private def isCached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  private def checkpointRdd(df: DataFrame) =
    df.queryExecution.logical.asInstanceOf[LogicalRDD].rdd

  /** Whether a lineage-cut frame's checkpoint blocks are still registered
    * with the Spark context (a release drops the registration at once,
    * the blocks themselves asynchronously). */
  private def holdsBlocks(df: DataFrame): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(checkpointRdd(df).id)

  test("release frees a cached frame and a lineage-cut frame, and ignores a plain one") {
    val cached = Materialize.inMemory(frame(spark, 101))
    val cut = Materialize.reuse(frame(spark, 102))
    assert(isCached(cached) && holdsBlocks(cut))
    Materialize.release(cached, cut, frame(spark, 103))
    assert(!isCached(cached))
    assert(!holdsBlocks(cut))
  }

  test("releasing a lineage-cut frame logs no warning and drops its blocks") {
    val warning = "cannot be recomputed after unpersisting"
    // control: RDD.unpersist on a lineage-cut frame warns, and the capture sees it
    val control = checkpointRdd(Materialize.reuse(frame(spark, 104)))
    val (unpersistLog, _) = LogCapture.during(control.unpersist(blocking = true))
    assert(unpersistLog.contains(warning), unpersistLog)
    val cut = Materialize.reuse(frame(spark, 105))
    val id = checkpointRdd(cut).id
    assert(BlockProbe.rddBlocks(spark.sparkContext, id) > 0)
    val (log, _) = LogCapture.during(Materialize.release(cut))
    assert(!log.contains(warning), log)
    assert(!holdsBlocks(cut))
    eventually(timeout(Span(10, Seconds))) {
      assert(BlockProbe.rddBlocks(spark.sparkContext, id) == 0, "the blocks must be dropped")
    }
  }

  test("memo: a stopped session's entries are released and dropped") {
    val live = spark.newSession()
    val dead = spark.newSession()
    var stopped = Set.empty[SparkSession]
    val memo = new Materialize.SessionMemo(cap = 8, stopped = s => stopped.contains(s))
    val cached = memo(dead, "cached")(Materialize.inMemory(frame(dead, 111)))
    val cut = memo(dead, "cut")(Materialize.reuse(frame(dead, 112)))
    memo(live, "kept")(frame(live, 113))
    stopped = Set(dead)
    memo(live, "next")(frame(live, 114))
    assert(!memo.contains(dead, "cached") && !memo.contains(dead, "cut"))
    assert(memo.contains(live, "kept"))
    assert(!isCached(cached), "the stopped session's cached frame is unpersisted")
    assert(!holdsBlocks(cut), "the stopped session's checkpoint blocks are freed")
  }

  test("memo: past the cap, other keys are evicted oldest first and the caller's key survives") {
    val s = spark.newSession()
    val memo = new Materialize.SessionMemo(cap = 2)
    var builds = 0
    def build(tag: Int): DataFrame = { builds += 1; frame(s, tag) }
    val a = memo(s, "a")(build(121))
    memo(s, "b")(build(122))
    memo(s, "c")(build(123))
    assert(builds == 3)
    assert(memo(s, "a")(build(121)) eq a, "the caller's key is a hit")
    assert(builds == 3)
    assert(memo.contains(s, "a") && !memo.contains(s, "b") && memo.contains(s, "c"))
  }

  test("memo: an evicted lineage-cut entry of a live session is dropped without being freed") {
    val s = spark.newSession()
    val memo = new Materialize.SessionMemo(cap = 0)
    val cut = memo(s, "cut")(Materialize.reuse(frame(s, 131)))
    memo(s, "other")(frame(s, 132))
    assert(!memo.contains(s, "cut"))
    assert(holdsBlocks(cut), "a live holder may still read the blocks")
    assert(cut.count() == 141)
  }

  test("memo: an evicted cached entry is unpersisted") {
    val s = spark.newSession()
    val memo = new Materialize.SessionMemo(cap = 0)
    val cached = memo(s, "cached")(Materialize.inMemory(frame(s, 141)))
    assert(isCached(cached))
    memo(s, "other")(frame(s, 142))
    assert(!memo.contains(s, "cached"))
    assert(!isCached(cached))
    assert(cached.count() == 151, "an unpersisted frame rebuilds from its lineage")
  }

  test("the iterative graph operators release their edge set when the pairs fail") {
    // a pair graph that fails on evaluation: the edge count throws
    val pairs = spark.range(0, 6).select(col("id").as("doc_a"),
      when(col("id") >= 0, raise_error(lit("planted pair failure"))).cast("long").as("doc_b"))
    val operators = Seq[(String, DataFrame => DataFrame)](
      "pagerank" -> (GraphOps.pageRankOnPairs(spark, _)),
      "label propagation" -> (GraphOps.labelPropagationOnPairs(spark, _)),
      "bfs" -> (GraphOps.bfsOnPairs(spark, _)),
      "connected components" -> (TextOps.connectedComponents(spark, _)))
    // positive control: the check sees an edge set cached the way the scope caches it
    Seq(pairs, pairs.toDF("doc_a", "doc_b")).foreach { p =>
      val edges = Materialize.cached(Materialize.symmetricEdges(p))
      assert(isCached(Materialize.symmetricEdges(p)))
      Materialize.release(edges)
    }
    operators.foreach { case (name, run) =>
      val e = intercept[Exception](run(pairs))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("planted pair failure")), name)
      Seq(pairs, pairs.toDF("doc_a", "doc_b")).foreach { p =>
        assert(!isCached(Materialize.symmetricEdges(p)), s"$name left its edge set cached")
      }
    }
  }
}
