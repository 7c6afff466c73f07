package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{CatalogDdl, ChangelogSink, Envelope}

class SinkCatalogSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val sf = SparkFixture.Sf

  private def buildEvents() = {
    val s = spark
    import s.implicits._
    Envelope.changeEvents(
      Tables.events(spark, sf), tableName = "events",
      keyCols = Seq("user_id"), valueCols = Seq("event_type", "value"),
      op = graft.cdc.Changelog.opCol($"event_type"), ts = $"ts", offset = $"event_id")
      // route by event type to get a multi-topic log like topic-per-table
      .withColumn("topic", concat_ws(".",
        lit(Envelope.Namespace), lit(Envelope.Keyspace), $"value.op"))
  }

  test("topic log: per-topic offset order, all records preserved") {
    val s = spark
    import s.implicits._
    val out = StageDirs.fresh("topiclog").toString
    val ev = buildEvents()
    ChangelogSink.writeTopicLog(ev.select($"key", $"value", $"topic", $"offset"), out)
    val back = spark.read.parquet(out)
    assert(back.count() == ev.count())
    // per-topic offsets are unique and complete
    val perTopic = back.groupBy($"topic")
      .agg(count(lit(1)).as("n"), countDistinct($"offset").as("d"))
      .filter($"n" =!= $"d").count()
    assert(perTopic == 0)
  }

  test("reading one topic prunes partitions (no full-log scan)") {
    val s = spark
    import s.implicits._
    val out = StageDirs.fresh("topiclog").toString
    ChangelogSink.writeTopicLog(
      buildEvents().select($"key", $"value", $"topic", $"offset"), out)
    val topic = s"${Envelope.Namespace}.${Envelope.Keyspace}.c"
    val one = ChangelogSink.readTopic(spark, out, topic)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("topic"),
      s"expected partition pruning on topic:\n$plan")
    assert(one.select("topic").distinct().collect().map(_.getString(0)).toSeq == Seq(topic))
    // offsets come back in order
    val offs = one.select("offset").collect().map(_.getLong(0)).toSeq
    assert(offs == offs.sorted)
  }

  test("catalog DDL: star schema queryable through SQL namespace") {
    CatalogDdl.registerStarSchema(spark, sf)
    try {
      val viaSql = spark.sql(
        "SELECT l_returnflag, count(*) AS n FROM graft.lineitem GROUP BY 1 ORDER BY 1")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val s = spark
      import s.implicits._
      val viaDf = Tables.lineitem(spark, sf)
        .groupBy($"l_returnflag").agg(count(lit(1)).as("n"))
        .orderBy($"l_returnflag")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(viaSql == viaDf)
      assert(spark.sql("SHOW TABLES IN graft").count() == CatalogDdl.TableNames.size)
    } finally CatalogDdl.dropAll(spark)
  }
}
