package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Optional REAL Kafka/Redpanda source+sink wiring for the streaming
  * family — the reference's actual runtime is a Connect worker polling a
  * CDC log into a broker (connector.properties:2-7, README.md:209-215),
  * and this is the path a reference user deploys first.
  *
  * The sandbox this library is built in has no broker and no
  * spark-sql-kafka runtime jar (zero egress), so the wiring is
  * env-gated and the staged file log stays the gate/bench path:
  *
  *   - `SPARK_GRAFT_KAFKA=host:port` enables the path;
  *   - `SPARK_GRAFT_KAFKA_TOPIC` overrides the topic (default
  *     `graft-events`);
  *   - [[runtimePresent]] checks the `kafka` DataSource resolves before
  *     any query is built, so a misconfigured deployment fails with a
  *     clear message instead of a classpath stack trace.
  *
  * Wire shape mirrors the reference connector's: key = the CDC key
  * (user_id) so one key's updates stay in one partition (the ordering
  * contract latest-wins relies on), value = JSON with the event-time
  * carried as `ts_us` (unix micros, exact — no timestamp-format
  * round-trip loss). [[latestState]] feeds the parsed stream into the
  * SAME `StreamingLatest.latestWinsOver` pipeline the file source uses,
  * so the two paths cannot drift; KafkaWireSpec proves the end-to-end
  * claim (publish → consume → identical latest-wins state as batch
  * `cdc_latest_state`) whenever a broker is configured, and cancels
  * with an explanation when not.
  */
object KafkaWire {

  val BootstrapEnv = "SPARK_GRAFT_KAFKA"
  val TopicEnv     = "SPARK_GRAFT_KAFKA_TOPIC"

  def bootstrap: Option[String] = sys.env.get(BootstrapEnv)

  /** Per-JVM-run unique topic suffix: [[eventStream]] reads
    * `startingOffsets=earliest`, so re-running against the same broker
    * with a reused topic would mix a previous run's events (possibly
    * from a different sfDir / regenerated corpus) into the latest-wins
    * state. A fresh default topic per run removes that hazard; an
    * explicit [[TopicEnv]] override is honored verbatim, and then the
    * topic MUST be empty before [[publishEvents]]. */
  private lazy val runSuffix: String =
    java.util.UUID.randomUUID().toString.substring(0, 8)
  lazy val topic: String = sys.env.getOrElse(TopicEnv, s"graft-events-$runSuffix")

  /** True when the `kafka` streaming source can actually be resolved —
    * the spark-sql-kafka runtime is a separate artifact from Spark core
    * and is absent in this build's sandbox. */
  def runtimePresent: Boolean =
    scala.util.Try(Class.forName(
      "org.apache.spark.sql.kafka010.KafkaSourceProvider")).isSuccess

  private def requireWired(): String = {
    val b = bootstrap.getOrElse(sys.error(
      s"$BootstrapEnv not set — the Kafka path is opt-in; the staged file log is the default source"))
    if (!runtimePresent) sys.error(
      "spark-sql-kafka runtime not on the classpath — deploy the spark-sql-kafka-0-10 artifact matching this Spark version")
    b
  }

  /** The wire value schema — what one broker record's JSON payload
    * deserializes to. Shared by the broker source and the broker-free
    * MemoryStream twin in KafkaWireSpec, so the spec exercises the
    * EXACT parse the deployed path runs. */
  private[graft] val wireSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("event_id", LongType), StructField("ts_us", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
  }

  /** The produce-side wire projection: key = user_id string (one key's
    * updates stay in one partition — the ordering contract latest-wins
    * relies on), value = JSON with event-time as `ts_us` unix micros
    * (exact — no timestamp-format round-trip loss). Factored out of
    * [[publishEvents]] so the MemoryStream twin serializes through the
    * identical code. */
  private[graft] def toWire(events: DataFrame): DataFrame =
    events.select(
      col("user_id").cast("string").as("key"),
      to_json(struct(
        col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"), col("value"))).as("value"))

  /** The consume-side parse: wire records (any frame with a string/
    * binary `value` column — the broker stream or the twin's
    * MemoryStream) to the exact column set the file source yields.
    * From here on the sources are indistinguishable to every
    * downstream pipeline. */
  private[graft] def fromWire(wire: DataFrame): DataFrame =
    wire.select(from_json(col("value").cast("string"), wireSchema).as("e"))
      .select(col("e.event_id").as("event_id"),
        timestamp_micros(col("e.ts_us")).as("ts"),
        col("e.user_id").as("user_id"),
        col("e.event_type").as("event_type"),
        col("e.value").as("value"))

  /** Publish the events table to the topic (batch Kafka sink) via
    * [[toWire]]. A batch write from parallel tasks gives NO event-time
    * order within a partition — and none is needed: correctness rests
    * on (a) `latestWinsOver` selecting the max by (ts_us, event_id),
    * arrival-order-independent, and (b) AvailableNow consuming the
    * whole topic before the 1-hour watermark can finalize, so no event
    * is dropped as late. A change that throttles consumption (e.g.
    * maxOffsetsPerTrigger) must re-examine (b). */
  def publishEvents(spark: SparkSession, sfDir: String): Unit = {
    val b = requireWired()
    toWire(graft.Tables.events(spark, sfDir))
      .write.format("kafka")
      .option("kafka.bootstrap.servers", b)
      .option("topic", topic)
      .save()
  }

  /** The event stream consumed back from the broker, parsed via
    * [[fromWire]]. */
  def eventStream(spark: SparkSession): DataFrame = {
    val b = requireWired()
    fromWire(spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", b)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .load())
  }

  /** The consume-side pipeline body over ANY parsed wire stream —
    * shared verbatim by the broker path ([[latestState]]) and the
    * MemoryStream twin spec, so the two cannot drift. `eventRows` is
    * the replayed volume the caller knows (the published table's count,
    * or the twin's fixture size): the state-partition count is DERIVED
    * from it via [[graft.Tuning.statePartitions]] exactly like the
    * staged-file queries — a launch literal here would checkpoint-pin
    * the count forever on a real topic replay. */
  private[graft] def latestStateOver(spark: SparkSession, events: DataFrame,
      eventRows: Long): DataFrame =
    StreamingLatest.latestWinsOver(spark, events,
      graft.Tuning.statePartitions(eventRows), StreamingLatest.StateLayout.SessionDefault)

  /** `cdc_stream_stateful` over a real topic: identical pipeline body
    * ([[StreamingLatest.latestWinsOver]]), different source. Takes the
    * source dir the topic was published from ([[publishEvents]]) so the
    * state-partition count derives from the same volume that went over
    * the wire — a consumer of an externally-filled topic should pass
    * its own volume estimate via [[latestStateOver]] instead. */
  def latestState(spark: SparkSession, sfDir: String): DataFrame =
    latestStateOver(spark, eventStream(spark),
      graft.Tables.events(spark, sfDir).count())
}
