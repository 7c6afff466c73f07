package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite

/** The workload definitions against the engine they measure. Run with
  * `sbt test` from `perfbench/`. */
class MembershipSpec extends AnyFunSuite {
  private val root = sys.props.getOrElse("perfbench.root", "..")
  private val table = Inventory.moduleTable(root)
  private val keys = graft.SparkEntry.queries.keySet
  private val workloads = Seq("olap_fixture", "cdc_replay", "bulk_x10").map(Workloads.byName(_, table))
  private def signatures(input: String): Map[String, String] = Json.readStringMap(
    new String(Files.readAllBytes(Paths.get(root, "perfbench", "signatures", s"$input.json")), "UTF-8"))

  test("the query-to-module table covers every SparkEntry.queries key") {
    assert(table.keySet == keys)
    assert(table.collect { case (k, "?") => k }.isEmpty)
  }

  test("olap_fixture and cdc_replay partition the queries") {
    val olap = Workloads.byName("olap_fixture", table).full.toSet
    val cdc = Workloads.byName("cdc_replay", table).full.toSet
    assert((olap intersect cdc).isEmpty)
    assert(olap ++ cdc == keys)
  }

  test("each run list is drawn from its workload's set, without repeats") {
    workloads.foreach { w =>
      assert(w.queries.nonEmpty, w.name)
      assert(w.queries.distinct == w.queries, w.name)
      assert(w.queries.toSet.subsetOf(w.full.toSet), w.name)
    }
  }

  test("every bulk_x10 query has an oracle twin") {
    assert(Workloads.BulkX10.filterNot(graft.SparkEntry.oracleSql.contains).isEmpty)
  }

  test("every query a run can call has a reference signature for its input") {
    assert(keys.diff(signatures("sf0.1").keySet).isEmpty)
    assert(Workloads.BulkX10.toSet.diff(signatures("x10").keySet).isEmpty)
  }

  test("cdc_replay is exactly the set of calls that start a StreamingQuery") {
    val work = Paths.get(root, ".bench_build", "test-work").toString
    val spark = Setup.session(2, work)
    spark.sparkContext.setLogLevel("ERROR")
    @volatile var started = 0
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = started += 1
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    val sf = Paths.get(root, "perfbench", "data", "sf0.001").toString
    try {
      val observed = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        val before = started
        try fn(spark, sf) catch { case NonFatal(_) => () }
        PerfbenchBus.drain(spark.sparkContext)
        if (started > before) Some(name) else None
      }
      assert(observed.toSet == Workloads.byName("cdc_replay", table).full.toSet)
      assert(!observed.contains("cdc_stream_tumbling"))
    } finally Setup.stop(spark)
  }
}
