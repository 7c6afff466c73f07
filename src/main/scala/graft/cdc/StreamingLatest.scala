package graft.cdc

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.SortedMap

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.{DecimalType, StructType}

/** Structured-Streaming latest-wins materialization — the streaming heart
  * of the reference pipeline (Kafka-Connect poll loop + offset tracking,
  * connector.properties:2 / connect-standalone.properties:4-5) re-expressed
  * as one streaming query:
  *
  *   file source (the CDC-log surrogate) -> watermark -> keyed
  *   flatMapGroupsWithState (latest per key by (ts, event_id)) ->
  *   foreachBatch sink that keeps each micro-batch's output as an
  *   in-engine frame under its batch id, with a checkpoint dir playing
  *   the role of the Connect offsets file (R18).
  *
  * Every query in this file runs through one lifecycle, [[replay]]; a
  * query body supplies only its streaming frame, its output mode and
  * sink, and its read-back over what the sink kept. The consumer needs
  * only the final keyed state, so no micro-batch output is written to
  * files (the versioned-snapshot MERGE of [[streamForeachBatchMerge]]
  * excepted: its parquet table is what that query is about). An
  * update-mode query's final state is read back as the reference
  * consumer applies change records, an upsert by key ([[Run.lastPer]]).
  *
  * Scale notes: state is one small record per key, partitioned by the
  * grouping key across executors; the watermark bounds how long late data
  * can arrive, and eviction would hook GroupStateTimeout if keys were
  * unbounded. No driver-side state.
  */
object StreamingLatest {

  case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class LatestRow(user_id: Long, last_event_id: Long, last_event_type: String,
      last_value: Double, last_ts_us: Long)
  case class TtlRow(user_id: Long, last_event_id: Long, last_event_type: String,
      last_value: Double, last_ts_us: Long, expired: Boolean)

  private def tsMicros(ts: java.sql.Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  // ── the replay lifecycle ───────────────────────────────────────────

  /** Where a replay keeps its keyed state. Two layouts: the session's
    * own provider, and RocksDB for the queries that show or require it
    * (`cdc_stream_stateful_rocksdb`, the `transformWithState` queries).
    * The stream-stream joins follow the session: below the heap ceiling
    * the default HDFS-backed provider updates and evicts their state
    * faster than RocksDB with join state format v3, and commits it no
    * slower, at 2, 20 and 50 micro-batches (ROADMAP direction 3). So
    * RocksDB is the session's capacity switch, not a per-query pin. */
  private[graft] sealed abstract class StateLayout(val conf: Seq[(String, String)])
  private[graft] object StateLayout {
    /** Whatever the session is configured with; the replay writes no
      * state-store key. */
    case object SessionDefault extends StateLayout(Nil)
    /** RocksDB provider with changelog checkpointing: a commit appends
      * only the batch's key changes instead of uploading the store's
      * full SST snapshot, and full snapshots move to the background
      * maintenance cadence — the posture for large stores with small
      * per-batch deltas. Restart replays snapshot + changelog tail, so
      * semantics are unchanged. */
    case object RocksDb extends StateLayout(Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true"))
  }

  /** One replay: its scratch directory (`ckpt` is the query's
    * checkpoint) and the batches its sink kept, by batch id. A
    * re-delivered batch id (Structured Streaming re-runs a batch whose
    * offsets were logged but whose commit was not) replaces and releases
    * its frame, so the sink is idempotent per batch id. In complete mode
    * each batch is the whole answer, so only the last one is kept. */
  private[graft] final class Run(val dir: Path, spark: SparkSession) {
    val ckpt: String = s"$dir/ckpt"
    // set by [[replay]] before the query starts; the sink keeps on the
    // stream's thread and the read-back reads after the query has ended
    @volatile private var schema = new StructType()
    @volatile private var complete = false
    @volatile private var kept = SortedMap.empty[Long, DataFrame]

    /** What the sink kept: the union of its batch frames, or an empty
      * frame with the query's schema when no batch ran (or the sink keeps
      * nothing). */
    def emitted: DataFrame =
      if (kept.isEmpty) spark.createDataFrame(java.util.List.of[Row](), schema)
      else kept.values.reduce(_ unionByName _)

    /** Update mode applied as an upsert: for each value of `keys`, the
      * rows of the last batch in which it emitted. */
    def lastPer(keys: String*): DataFrame =
      if (kept.isEmpty) emitted
      else kept.map { case (id, f) => f.withColumn("__batch", lit(id)) }.reduce(_ unionByName _)
        .withColumn("__last", max("__batch").over(Window.partitionBy(keys.map(col): _*)))
        .filter(col("__batch") === col("__last")).drop("__batch", "__last")

    private[StreamingLatest] def open(s: StructType, mode: String): Unit = {
      schema = s
      complete = mode == "complete"
    }

    /** Keeps `batch` as batch `id`, a lineage-cut frame computed now. It
      * replaces every kept frame in complete mode and a re-delivery of
      * `id` otherwise; those are released once it exists. */
    private[graft] def keep(id: Long, batch: DataFrame): Unit = {
      val cut = graft.Materialize.reuse(batch)
      val (gone, stay) = kept.partition { case (k, _) => complete || k == id }
      kept = stay.updated(id, cut)
      graft.Materialize.release(gone.values.toSeq: _*)
    }
  }

  /** How each micro-batch leaves a replay. [[Sink.Keep]] holds each batch
    * in the [[Run]] as a lineage-cut frame ([[graft.Materialize.reuse]]),
    * computed once inside `foreachBatch` and read back through
    * [[Run.emitted]] or [[Run.lastPer]]. Lineage-cut, not cached: a batch
    * frame recomputed after its batch commits would re-run the stateful
    * operator against a state version that is already committed. */
  private[graft] sealed trait Sink
  private[graft] object Sink {
    /** Every batch is kept under its batch id; in complete mode only the
      * last, releasing the ones it replaces. */
    case object Keep extends Sink
    /** A custom per-batch body; nothing is kept. */
    final case class Each(body: (DataFrame, Long) => Unit) extends Sink
    /** Output discarded; the read-back inspects the checkpoint instead. */
    case object Discard extends Sink
  }

  /** The streaming half of a replay: the frame, its output mode, its sink. */
  private[graft] final case class Query[T](frame: Dataset[T], mode: String, sink: Sink)

  /** How a replay writes its checkpoint (see [[replay]]). */
  private[graft] val CheckpointConf = Seq(
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
    "spark.sql.streaming.checkpointFileManagerClass" -> classOf[LocalCheckpointFileManager].getName)

  /** Runs a replay's tasks on the executor's shared classloader (see
    * [[replay]]), so their generated code compiles once per JVM. */
  private[graft] val SharedClassLoader = "spark.sql.artifact.isolation.enabled" -> "false"

  /** The one streaming lifecycle: allocate a [[Run]] dir, build the
    * query, start it under `Trigger.AvailableNow`, wait until it has
    * drained its source, read the result back, clean up.
    *
    * Session conf, set for the replay and restored afterwards:
    *  - `shuffle.partitions = parts`. The first start pins it into the
    *    checkpoint as the state-store partition count for the
    *    checkpoint's lifetime, so callers derive it from the replayed
    *    volume ([[graft.Tuning.statePartitions]]), never from the session.
    *  - [[CheckpointConf]]: checkpoint-file checksums off, and every
    *    checkpoint file written through [[LocalCheckpointFileManager]].
    *    Checksums double the WAL/commit writes per micro-batch to guard
    *    long-lived checkpoints against disk corruption; a replay's
    *    checkpoint lives for seconds and is deleted. A long-lived
    *    deployment should leave them on. The manager exists because
    *    there is no native Hadoop: Spark's default manager then shells
    *    out to `chmod` on every create and mkdir and to `readlink` twice
    *    per rename, ~29 ms per atomic write, which was most of each
    *    batch's WAL, commit and state-store commit time.
    *  - The trailing no-data micro-batch. It exists to advance the
    *    watermark after the last data batch — evicting state, firing
    *    timeouts and timers, finalizing append-mode windows, sessions
    *    and outer-join null rows. A finite replay ends with query
    *    shutdown, so queries whose output is fully emitted on data
    *    arrival skip it (`keepNoDataBatch = false`); queries that emit
    *    on watermark advance keep it.
    *  - `layout`'s state store provider.
    *  - [[SharedClassLoader]]: artifact isolation off. Starting a stream
    *    clones the session; with isolation on, the executor runs each
    *    clone's tasks in a new per-session classloader, and Spark's
    *    codegen cache is keyed on (context classloader, source), so every
    *    replay recompiled every task-side projection, sorter and state
    *    serializer. The clone copies the value, so its tasks run on the
    *    executor's shared classloader. Contract: a replay's tasks do not
    *    see session-scoped artifacts (`addArtifact` jars) of the caller's
    *    session; the engine adds none, its classes come from the
    *    application classpath. Spark computes a session's artifact state
    *    on first use, so a caller session whose first SQL execution
    *    happens inside a replay stays unisolated for its lifetime,
    *    harmless for the same reason.
    *
    * The read-back runs before cleanup. The sink's output is in memory
    * ([[Run.emitted]], [[Run.lastPer]]), so a read-back over it can stay
    * lazy; one that reads the checkpoint or other scratch dirs must be
    * materialized there. Cleanup runs in `finally`: a failed replay
    * still stops its query, unloads its RocksDB stores and deletes the
    * whole run dir.
    * RocksDB stores are unloaded before the delete because loaded
    * providers survive query stop, and their native background threads
    * crash the JVM at shutdown if still alive (see [[cleanupCkpt]]).
    *
    * Sequential sessions only: the conf scope and the store unload are
    * session-global, so two replays must not run concurrently in one
    * session. */
  private[graft] def replay[T](spark: SparkSession, parts: Int, keepNoDataBatch: Boolean,
      layout: StateLayout)(query: Run => Query[T])(readBack: Run => DataFrame): DataFrame = {
    val conf = Seq("spark.sql.shuffle.partitions" -> parts.toString, SharedClassLoader) ++
      CheckpointConf ++
      (if (keepNoDataBatch) Nil
       else Seq("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")) ++
      layout.conf
    graft.Tuning.withConf(spark, conf: _*) {
      val run = new Run(graft.StageDirs.fresh(graft.StageDirs.streamRoot, "run"), spark)
      try {
        val Query(frame, mode, sink) = query(run)
        run.open(frame.schema, mode)
        val w = frame.writeStream.outputMode(mode)
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", run.ckpt)
        val q = sink match {
          case Sink.Discard => w.format("noop").start()
          case s => w.foreachBatch { (b: Dataset[T], id: Long) =>
            s match {
              case Sink.Keep => run.keep(id, b.toDF())
              case Sink.Each(body) => body(b.toDF(), id)
              case Sink.Discard => ()
            }
          }.start()
        }
        try q.awaitTermination() finally if (q.isActive) q.stop()
        readBack(run)
      } finally cleanupCkpt(spark, run)
    }
  }

  /** [[replay]] over the staged event log. */
  private def replayLog[T](spark: SparkSession, sfDir: String, keepNoDataBatch: Boolean,
      layout: StateLayout)(query: Run => Query[T])(readBack: Run => DataFrame): DataFrame =
    replay(spark, logParts(spark, sfDir), keepNoDataBatch, layout)(query)(readBack)

  /** State partitions for a replay of the staged log, derived from its row count. */
  private def logParts(spark: SparkSession, sfDir: String): Int =
    graft.Tuning.statePartitions(staged(spark, sfDir).rows)

  /** Delete a finished replay's run dir, closing the native state stores
    * FIRST when the session ran it on the RocksDB provider. Loaded providers SURVIVE query stop (they
    * unload on reclaim or maintenance timeout), so RocksDB instances
    * with live background compaction threads linger after the query
    * ends; those threads SIGSEGV the JVM when they log through the JNI
    * callback while the VM is at the shutdown safepoint
    * (`BackgroundCompaction` → `LoggerJniCallback::Logv`).
    * `StateStore.unloadAll()` closes every loaded provider
    * deterministically, after which the delete races nothing; later
    * queries reload their own stores lazily. The HDFS-backed provider
    * tolerates post-stop deletion and holds no native threads.
    *
    * The provider is read from the session's effective conf, not from
    * the replay's [[StateLayout]]: a session that sets RocksDB itself
    * runs `SessionDefault` replays on it too. `unloadAll` is
    * session-global, which is sound only under [[replay]]'s
    * sequential-session assumption. The reflective lookup is pinned by
    * a Round20OpsSpec test. */
  private def cleanupCkpt(spark: SparkSession, run: Run): Unit = {
    if (spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
        .exists(_.contains("RocksDB"))) unloadStateStores()
    graft.StageDirs.rm(run.dir)
  }

  /** `StateStore.unloadAll()`: closes every state store provider loaded in this JVM. */
  private[graft] def unloadStateStores(): Unit = {
    // private[sql] at compile time, public in bytecode (Scala access
    // modifiers don't survive erasure) — reflection is the supported
    // way to reach it from outside the spark.sql package tree
    val ss = Class.forName(
      "org.apache.spark.sql.execution.streaming.state.StateStore$")
    ss.getMethod("unloadAll").invoke(ss.getField("MODULE$").get(null))
  }

  private def listDir(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.toArray.toSeq.map(_.asInstanceOf[Path]) finally s.close()
  }

  // ── the staged event log ───────────────────────────────────────────

  private val StagedCols = Seq("event_id", "ts", "user_id", "event_type", "value")

  /** A staged log: its directory, max event time (µs), row count and
    * schema — everything the replays need from the source, computed
    * by the one staging pass. */
  private final case class Staged(dir: String, maxUs: Long, rows: Long, schema: StructType)

  /** The CDC-log surrogate every streaming query replays: the events
    * table staged as two parquet files split at the time midpoint,
    * oldest written first, so file-mtime replay order = event-time order
    * (the ordering a Kafka partition / CDC log gives a consumer — the
    * property that makes watermark eviction provably safe; see
    * streamStateful/streamJoin). A [[graft.StageDirs.staged]] input
    * shared by every streaming query: the staging write is harness
    * scaffolding standing in for the durable log, not operator work. */
  private[graft] def stagedEventLog(spark: SparkSession, sfDir: String): String =
    staged(spark, sfDir).dir

  private def staged(spark: SparkSession, sfDir: String): Staged =
    graft.StageDirs.staged(spark, "graft-eventlog", sfDir, Seq("events"),
        graft.StageDirs.streamRoot) { dir =>
      import spark.implicits._
      val inDir = dir.toString
      val batch = graft.Tables.events(spark, sfDir)
        .select(StagedCols.map(col): _*)
      val mm = batch.agg(unix_micros(min($"ts")), unix_micros(max($"ts")), count(lit(1)))
        .first()
      val midUs = (mm.getLong(0) + mm.getLong(1)) / 2
      def parquets() = listDir(dir).filter(_.toString.endsWith(".parquet")).toSet
      batch.filter(unix_micros($"ts") <= midUs)
        .coalesce(1).write.mode("overwrite").parquet(inDir)
      val firstHalf = parquets()
      batch.filter(unix_micros($"ts") > midUs)
        .coalesce(1).write.mode("append").parquet(inDir)
      // pin replay order explicitly: mtime resolution could otherwise tie
      val t0 = System.currentTimeMillis()
      firstHalf.foreach(p => Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(t0)))
      (parquets() -- firstHalf).foreach(p => Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(t0 + 1000)))
      Staged(inDir, mm.getLong(1), mm.getLong(2), batch.schema)
    }

  /** A streaming read of the staged log (or of `dir`, a copy of it)
    * with the given column subset, `maxFilesPerTrigger` files per
    * micro-batch (`None`: everything in one batch). */
  private def logStream(spark: SparkSession, sfDir: String, cols: Seq[String],
      maxFilesPerTrigger: Option[Int] = Some(1), dir: Option[String] = None): DataFrame = {
    val log = staged(spark, sfDir)
    val r = spark.readStream.schema(StructType(cols.map(log.schema(_))))
    maxFilesPerTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n.toString))
      .parquet(dir.getOrElse(log.dir))
  }

  /** The finalized horizon H = max(ts) − 1 h: the watermark after the
    * trailing no-data batch. */
  private def horizonUs(spark: SparkSession, sfDir: String): Long =
    staged(spark, sfDir).maxUs - 3600L * 1000000L

  // ── windowed and keyless aggregates ────────────────────────────────

  /** `cdc_stream_windowed`: event-time tumbling windows computed by a
    * *streaming* query (watermark + window aggregate, complete mode so the
    * bounded final state is the full answer) — the streaming twin of the
    * batch `cdc_stream_tumbling`, sharing its oracle SQL: the gate checks
    * streaming/batch equivalence through DuckDB. */
  def streamWindowed(spark: SparkSession, sfDir: String): DataFrame =
    replayLog(spark, sfDir, keepNoDataBatch = false, StateLayout.SessionDefault) { _ =>
      Query(hourlyByType(logStream(spark, sfDir, Seq("ts", "event_type", "value"))),
        "complete", Sink.Keep)
    } { run => hourlyRows(run.emitted) }

  /** Watermarked hourly (window, event_type) count + decimal-exact sum. */
  private def hourlyByType(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 6))).as("sum_dec"))

  private def hourlyRows(windows: DataFrame): DataFrame =
    windows.select(
        unix_millis(col("w.start")).as("bucket_ms"),
        col("event_type"), col("n_events"),
        round(col("sum_dec").cast("double"), 4).as("sum_value"))
      .orderBy(col("bucket_ms"), col("event_type"))

  /** `cdc_stream_sliding`: event-time SLIDING windows (1 hour every
    * 15 minutes) computed by a streaming query — completes the
    * window-type × mode matrix (tumbling: `cdc_stream_windowed`;
    * session: `cdc_stream_sessionize`; sliding: here). Each event lands
    * in 4 overlapping windows, so state is 4 window-rows per
    * (window, type) group — still bounded by the window/type
    * cardinality, evicted by the watermark in a live deployment;
    * complete mode makes the bounded final state the full answer, which
    * is why the query shares the batch `window_sliding_time` oracle
    * (the gate checks streaming/batch sliding-window equivalence
    * through DuckDB). */
  def streamSliding(spark: SparkSession, sfDir: String): DataFrame =
    replayLog(spark, sfDir, keepNoDataBatch = false, StateLayout.SessionDefault) { _ =>
      Query(logStream(spark, sfDir, Seq("ts", "event_type", "event_id"))
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          min(col("event_id")).as("min_event_id"),
          max(col("event_id")).as("max_event_id")),
        "complete", Sink.Keep)
    } { run =>
      run.emitted
        .select(unix_micros(col("w.start")).as("win_start_us"), col("event_type"),
          col("n_events"), col("min_event_id"), col("max_event_id"))
        .orderBy(col("win_start_us"), col("event_type"))
    }

  /** `cdc_stream_sessionize`: streaming session windows — 30-minute-gap
    * sessions per user computed incrementally, emitted in APPEND mode,
    * i.e. only once the watermark proves a session can no longer grow
    * (watermark past session end + gap). Oracle via the finalized-horizon
    * restriction (same trick as `cdc_stream_join_outer`): the output is
    * pinned to sessions whose window end is STRICTLY below the final
    * watermark H = max(ts) − 1 h — Round2OpsSpec proves Spark emits every
    * such session (completeness bound) and that each equals its batch
    * twin, so `emitted ∩ {end < H}` IS the deterministic set
    * `{batch sessions : end < H}`, which plain SQL can reproduce
    * (lag/cumsum islands + the same horizon filter). Sessions at/after
    * the horizon stay in state awaiting more data and are excluded on
    * both sides. State: one (user, open-session) accumulator, merged on
    * gap-overlap, evicted at emission. Emission needs the trailing
    * no-data batch. */
  def streamSessionize(spark: SparkSession, sfDir: String): DataFrame =
    replayLog(spark, sfDir, keepNoDataBatch = true, StateLayout.SessionDefault) { _ =>
      Query(logStream(spark, sfDir, Seq("ts", "user_id", "value"))
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 6))).as("sum_dec")),
        "append", Sink.Keep)
    } { run =>
      run.emitted
        .filter(unix_micros(col("sw.end")) < horizonUs(spark, sfDir))
        .select(col("user_id"),
          unix_micros(col("sw.start")).as("session_start_us"),
          col("n_events"),
          round(col("sum_dec").cast("double"), 4).as("sum_value"))
        .orderBy(col("user_id"), col("session_start_us"))
    }

  /** `cdc_stream_dedup`: streaming exactly-once dedup — the at-least-once
    * delivery repair every CDC consumer needs (the reference worker's
    * offset tracking is at-least-once: connect-standalone.properties:4-5,
    * re-delivery on crash replays events). The input is the staged log
    * TWICE: plain filesystem copies with stepped mtimes, so with
    * maxFilesPerTrigger = half-count the whole replay arrives in a later
    * micro-batch than every original;
    * `dropDuplicatesWithinWatermark` on the record key keeps state only
    * within the watermark horizon — bounded state at 100 TB, unlike plain
    * dropDuplicates whose key state grows forever. A replayed record is
    * either deduped against state (inside the horizon) or dropped as
    * late (behind it) — both paths erase the duplicate, which is why the
    * result can share the exact batch oracle (per-type counts of the
    * single-copy log). */
  def streamDedup(spark: SparkSession, sfDir: String): DataFrame =
    replayLog(spark, sfDir, keepNoDataBatch = false, StateLayout.SessionDefault) { run =>
      val files = listDir(Paths.get(stagedEventLog(spark, sfDir)))
        .filter(_.toString.endsWith(".parquet"))
        .sortBy(p => Files.getLastModifiedTime(p).toMillis)
      val inDir = Files.createDirectories(run.dir.resolve("in"))
      (files ++ files).zipWithIndex.foreach { case (src, i) =>
        val dst = Files.copy(src, inDir.resolve(f"f$i%02d.parquet"))
        Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + i))
      }
      Query(logStream(spark, sfDir, Seq("event_id", "ts", "event_type"),
          Some(files.size), Some(inDir.toString))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id"),
        "append", Sink.Keep)
    } { run =>
      run.emitted
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy(col("event_type"))
    }

  /** `cdc_stream_update_counts`: UPDATE-mode streaming aggregation —
    * the one output mode the suite didn't yet exercise (complete:
    * streamWindowed; append: sessionize/dedup/joins; update so far only
    * via flatMapGroupsWithState). A windowless per-type count re-emits
    * each CHANGED group per micro-batch; the read-back upserts the
    * emissions by group ([[Run.lastPer]]), so each group's row from its
    * last emitting batch is its total — which is why this query shares
    * exact batch-count semantics: the last update for a group equals
    * the full-log aggregate. At 100 TB this is the live-dashboard
    * shape: bounded state (one row per group), bounded emission
    * (changed groups only), no watermark needed. */
  def streamUpdateCounts(spark: SparkSession, sfDir: String): DataFrame =
    replayLog(spark, sfDir, keepNoDataBatch = false, StateLayout.SessionDefault) { _ =>
      Query(logStream(spark, sfDir, StagedCols)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).as("sum_value_dec")),
        "update", Sink.Keep)
    } { run =>
      run.lastPer("event_type")
        .select(col("event_type"), col("n_events"),
          round(col("sum_value_dec").cast("double"), 4).as("sum_value"))
        .orderBy(col("event_type"))
    }

  /** `cdc_stream_union`: UNION of two live streams feeding ONE stateful
    * aggregate — the fan-in topology (many CDC topics → one consumer)
    * the reference's single-topic tutorial is the degenerate case of.
    * Two independent file sources replay the same staged log with
    * different predicates/projections (purchases keep their value,
    * clicks ride a zero — the schema-alignment step any real fan-in
    * needs), `unionByName` merges them BEFORE the watermark, so one
    * watermark/state pipeline serves both sources; complete-mode hourly
    * aggregate = the full answer. Scale: the union is a no-shuffle
    * narrow op — each source's partitions feed the shared hash
    * aggregate directly; state stays bounded by (window × type). */
  def streamUnion(spark: SparkSession, sfDir: String): DataFrame =
    replayLog(spark, sfDir, keepNoDataBatch = false, StateLayout.SessionDefault) { _ =>
      val cols = Seq("ts", "event_type", "value")
      val purchases = logStream(spark, sfDir, cols)
        .filter(col("event_type") === "purchase")
        .select(col("ts"), col("event_type"), col("value"))
      val clicks = logStream(spark, sfDir, cols)
        .filter(col("event_type") === "click")
        .select(col("ts"), col("event_type"), lit(0.0).as("value"))
      Query(hourlyByType(purchases.unionByName(clicks)), "complete", Sink.Keep)
    } { run => hourlyRows(run.emitted) }

  /** `cdc_stream_windowed_append`: the tumbling aggregate in APPEND
    * mode — each window row is emitted exactly ONCE, when the watermark
    * finalizes it, and never revised. Complete mode
    * (`cdc_stream_windowed`) re-emits the whole result every batch —
    * fine for a small dashboard sink; append is the mode a downstream
    * TABLE needs (immutable window rows, incremental consumption), and
    * its state is evicted at emission instead of held forever, which is
    * what bounds state at 100 TB. The no-data micro-batch is REQUIRED
    * here (unlike the complete-mode queries): emission happens on
    * watermark advance, so the final watermark-only batch is what
    * flushes the last closed windows. Output pinned to the finalized
    * horizon H = max(ts) − 1 h (strictly-below filter on BOTH engines,
    * the `streamSessionize` oracle trick) so the emitted set is
    * deterministic and closed-form. */
  def streamWindowedAppend(spark: SparkSession, sfDir: String): DataFrame =
    replayLog(spark, sfDir, keepNoDataBatch = true, StateLayout.SessionDefault) { _ =>
      Query(hourlyByType(logStream(spark, sfDir, Seq("ts", "event_type", "value"))),
        "append", Sink.Keep)
    } { run =>
      hourlyRows(run.emitted
        .filter(unix_micros(col("w.end")) < horizonUs(spark, sfDir)))
    }

  // ── stream-stream and stream-static joins ──────────────────────────

  /** Purchases joined (`how`) to the same user's clicks from the
    * preceding hour, both sides watermarked streams of `source` (read
    * once per side). The time-bound condition plus the two watermarks is
    * what lets Spark evict join state (a click older than
    * purchase-watermark − 1 h can never match a future purchase), so
    * state stays bounded. */
  private def clickJoin(source: => DataFrame, how: String): DataFrame = {
    val purchases = source.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("ts").as("p_ts"), col("user_id").as("p_user"))
      .withWatermark("p_ts", "1 hour")
    val clicks = source.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("ts").as("c_ts"), col("user_id").as("c_user"))
      .withWatermark("c_ts", "1 hour")
    purchases.join(clicks,
      expr("p_user = c_user AND c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts <= p_ts"), how)
  }

  /** The staged log's columns [[clickJoin]] reads. */
  private val ClickCols = Seq("event_id", "ts", "user_id", "event_type")

  private val PairCols = Seq(col("p_id").as("purchase_event_id"), col("c_id").as("click_event_id"))

  /** `cdc_stream_join`: watermarked stream-stream interval join — each
    * purchase joined to the same user's clicks from the preceding hour,
    * both sides live streams. The staged replay is event-time-ordered
    * (same files as streamStateful's contract): eviction then provably
    * never races a pending match — every batch-2 purchase needs clicks
    * newer than (watermark − 1 h), which are still in state — so the
    * streaming result shares an exact batch oracle. */
  def streamJoin(spark: SparkSession, sfDir: String): DataFrame =
    joinOver(spark, logStream(spark, sfDir, ClickCols), logParts(spark, sfDir))

  /** [[streamJoin]]'s body over any streaming `source` of the event
    * columns, replayed on `parts` state partitions. */
  private[graft] def joinOver(spark: SparkSession, source: => DataFrame, parts: Int): DataFrame =
    replay(spark, parts, keepNoDataBatch = false, StateLayout.SessionDefault) { _ =>
      Query(clickJoin(source, "inner").select(PairCols: _*), "append", Sink.Keep)
    } { run =>
      run.emitted.orderBy(col("purchase_event_id"), col("click_event_id"))
    }

  /** `cdc_stream_join_outer`: watermarked stream-stream LEFT OUTER
    * interval join — streamJoin's shape, but purchases with no click in
    * the preceding hour survive with a null click id. The null rows are
    * what makes outer streaming hard: one can only be emitted once the
    * watermark proves no future click can still match (c_ts ≤ p_ts, and
    * future clicks have c_ts ≥ watermark ⇒ finalized when watermark
    * passes p_ts), so the engine emits them on state eviction — which is
    * why this query must KEEP the trailing no-data micro-batch (the
    * final watermark advance happens after the last data batch).
    *
    * Oracle: the finalized-horizon trick. At end of replay the global
    * watermark is min(max purchase ts, max click ts) − 1 h (two
    * watermarked inputs combine with the default "min" policy), so the
    * streaming output is exactly the batch left-outer join with null
    * rows RESTRICTED to purchases below that horizon — a closed-form
    * DuckDB twin, no streaming machinery needed on the oracle side. */
  def streamJoinOuter(spark: SparkSession, sfDir: String): DataFrame =
    replayLog(spark, sfDir, keepNoDataBatch = true, StateLayout.SessionDefault) { _ =>
      Query(clickJoin(logStream(spark, sfDir, ClickCols), "left_outer").select(PairCols: _*),
        "append", Sink.Keep)
    } { run =>
      run.emitted.orderBy(col("purchase_event_id"), col("click_event_id"))
    }

  /** `cdc_stream_join_full`: watermarked stream-stream FULL OUTER
    * interval join — both unmatched sides survive with nulls, each
    * finalized by its OWN watermark horizon: a purchase with no click
    * is emittable once the watermark passes `p_ts` (future clicks have
    * `c_ts ≥ wm > p_ts`, outside the window — same rule as the left
    * outer), while a click with no purchase must wait until the
    * watermark passes `c_ts + 1 h` (its matches lie in its FUTURE:
    * `p_ts ∈ [c_ts, c_ts+1h]`). The asymmetry is the point — the same
    * interval condition finalizes at different horizons per side, and
    * the closed-form oracle states both predicates below the
    * end-of-replay watermark. Trailing no-data batch KEPT (null
    * emissions happen on state eviction). */
  def streamJoinFull(spark: SparkSession, sfDir: String): DataFrame =
    replayLog(spark, sfDir, keepNoDataBatch = true, StateLayout.SessionDefault) { _ =>
      Query(clickJoin(logStream(spark, sfDir, ClickCols), "full_outer").select(PairCols: _*),
        "append", Sink.Keep)
    } { run =>
      run.emitted
        .orderBy(col("purchase_event_id").asc_nulls_first, col("click_event_id").asc_nulls_first)
    }

  /** `cdc_stream_join_semi`: watermarked stream-stream LEFT SEMI
    * interval join — completing the stream-stream join-type matrix
    * (inner / left outer / left semi): purchases that had AT LEAST one
    * click in the preceding hour, each emitted at most ONCE with no
    * click payload — the streaming existence filter (did-engage
    * gating) whose batch twin is `join_semi`. Semi is the cheap one of
    * the three: the left row needs no null-finalization wait (compare
    * streamJoinOuter) and no per-match fan-out; it emits on first
    * match and is marked, so state carries matched-bits instead of
    * match multiplicity. Because every candidate click lies in the
    * purchase's PAST (c_ts ≤ p_ts) and the staged replay is
    * event-time-ordered, a purchase's matches are already in state
    * when it arrives — emissions all happen on data batches and the
    * output is EXACTLY the batch semi join, no horizon restriction
    * (compare the outer join's finalized-horizon oracle). */
  def streamJoinSemi(spark: SparkSession, sfDir: String): DataFrame =
    replayLog(spark, sfDir, keepNoDataBatch = false, StateLayout.SessionDefault) { _ =>
      Query(clickJoin(logStream(spark, sfDir, ClickCols), "left_semi")
        .select(col("p_id").as("purchase_event_id"), col("p_user").as("user_id"),
          unix_micros(col("p_ts")).as("p_ts_us")),
        "append", Sink.Keep)
    } { run => run.emitted.orderBy(col("purchase_event_id")) }

  /** `cdc_stream_static_join`: stream-static enrichment join — the
    * streaming side (the replayed CDC log) joined per micro-batch
    * against a STATIC dimension computed once in batch (each user's
    * first-seen event time). Stream-static inner joins are STATELESS in
    * Structured Streaming — the static side is just re-planned into
    * every micro-batch, no watermark, no join state — which is what
    * makes them the scale-safe way to enrich a CDC stream with dimension
    * data (vs. a stream-stream join that must hold state). Because the
    * join is stateless and append-only, the result is EXACTLY the batch
    * join: the DuckDB oracle recomputes it directly. */
  def streamStaticJoin(spark: SparkSession, sfDir: String): DataFrame =
    replayLog(spark, sfDir, keepNoDataBatch = false, StateLayout.SessionDefault) { _ =>
      val firstSeen = graft.Tables.events(spark, sfDir)
        .groupBy(col("user_id").as("d_user"))
        .agg(unix_micros(min(col("ts"))).as("first_us"))
      Query(logStream(spark, sfDir, StagedCols)
        .join(broadcast(firstSeen), col("user_id") === col("d_user"))
        .select(col("event_id"), col("user_id"), col("first_us"),
          (unix_micros(col("ts")) - col("first_us")).as("since_first_us")),
        "append", Sink.Keep)
    } { run => run.emitted.orderBy(col("event_id")) }

  // ── keyed state: latest-wins and its variants ──────────────────────

  /** The latest-wins winner rule every state body shares: fold `events`
    * into `prev`, keeping the max by (ts_us, event_id). Returns the new
    * winner, or None when no event beat `prev`. */
  private[graft] def latestOf(key: Long, prev: Option[LatestRow],
      events: Iterator[Ev]): Option[LatestRow] = {
    val before = prev.orNull
    val best = events.foldLeft(before) { (best, e) =>
      val us = tsMicros(e.ts)
      if (best == null || us > best.last_ts_us ||
          (us == best.last_ts_us && e.event_id > best.last_event_id))
        LatestRow(key, e.event_id, e.event_type, e.value, us)
      else best
    }
    if (best eq before) None else Some(best)
  }

  /** Event-time TTL arm (ms) of a latest row: 2 h after its last event. */
  private def ttlArmMs(r: LatestRow): Long = r.last_ts_us / 1000L + 2L * 3600 * 1000

  private def ttlRow(r: LatestRow, expired: Boolean): TtlRow =
    TtlRow(r.user_id, r.last_event_id, r.last_event_type, r.last_value, r.last_ts_us, expired)

  /** Keep the max-(ts_us, event_id) record per key; emit the new latest on
    * every update (OutputMode.Update). */
  private[graft] def updateKey(userId: Long, it: Iterator[Ev],
      state: GroupState[LatestRow]): Iterator[LatestRow] =
    latestOf(userId, state.getOption, it).map { b => state.update(b); b }.iterator

  /** State body for [[streamStateTtl]]: latest-wins plus an EVENT-TIME
    * TTL — every update re-arms a timeout at last_ts + 2 h; when the
    * watermark passes it the state is EVICTED and its final value
    * emitted flagged `expired`. The eviction branch (hasTimedOut) is
    * the one GroupState feature no other query exercises. */
  private[graft] def ttlKey(userId: Long, it: Iterator[Ev],
      state: GroupState[LatestRow]): Iterator[TtlRow] =
    if (state.hasTimedOut) {
      val s = state.get
      state.remove()
      Iterator.single(ttlRow(s, expired = true))
    } else latestOf(userId, state.getOption, it).map { b =>
      state.update(b)
      state.setTimeoutTimestamp(ttlArmMs(b))
      ttlRow(b, expired = false)
    }.iterator

  /** A latest-wins read-back's columns, one row per key, by key. The
    * rows are each key's last emission ([[Run.lastPer]]): latest-wins
    * bodies emit at most one row per key per batch, and under the
    * event-time-ordered replay an eviction row always lands in a later
    * batch than the update it evicts (late events are dropped before the
    * state body runs, so `last_ts + 2 h` lies above the watermark of the
    * batch that wrote it). So a key's last emitting batch holds its
    * final state. */
  private def latestRows(rows: DataFrame, more: String*): DataFrame =
    rows.select(Seq(col("user_id"), col("last_event_id"), col("last_event_type"),
        round(col("last_value"), 4).as("last_value"), col("last_ts_us")) ++ more.map(col): _*)
      .orderBy(col("user_id"))

  /** The watermarked staged log as typed events, grouped by user. */
  private def eventsByUser(spark: SparkSession, sfDir: String) = {
    import spark.implicits._
    logStream(spark, sfDir, StagedCols)
      .withWatermark("ts", "1 hour")
      .select(StagedCols.map(col): _*).as[Ev]
      .groupByKey(_.user_id)
  }

  /** `cdc_stream_stateful`: run the streaming query to completion over the
    * events parquet (Trigger.AvailableNow) and return the final keyed
    * state. Shares the batch `cdc_latest_state` DuckDB oracle — sound
    * because the staged replay is event-time-ordered (the ordering
    * contract a CDC log/Kafka topic gives the connector — reference:
    * offset-ordered partition 0, rpk_topic_consume.json), so the
    * watermark can never drop a key's winning event (the SIGMOD'18
    * batch/streaming-equivalence argument, PAPERS.md; StreamingSpec
    * additionally asserts the equivalence in-process at smoke scale).
    * The two-file staged log with maxFilesPerTrigger=1 exercises
    * incremental multi-batch state updates. */
  def streamStateful(spark: SparkSession, sfDir: String): DataFrame =
    latestWinsOver(spark, logStream(spark, sfDir, StagedCols), logParts(spark, sfDir),
      StateLayout.SessionDefault)

  /** `cdc_stream_stateful_rocksdb`: [[streamStateful]] with the state
    * store swapped to RocksDB — the provider a 100 TB deployment runs,
    * because keyed CDC state grows with key cardinality and an on-heap
    * HDFS-backed store OOMs long before the disk does. Identical query,
    * identical result (it shares the batch latest-state oracle), so the
    * gate proves the state-store choice is a pure capacity knob, not a
    * semantics change. */
  def streamStatefulRocksDb(spark: SparkSession, sfDir: String): DataFrame =
    latestWinsOver(spark, logStream(spark, sfDir, StagedCols), logParts(spark, sfDir),
      StateLayout.RocksDb)

  /** The latest-wins pipeline body, source-agnostic: `source` is any
    * STREAMING DataFrame carrying the event columns — the staged file
    * log (the gate/bench path) or a real Kafka topic
    * ([[KafkaWire.latestState]]). Everything downstream of the source —
    * watermark, keyed flatMapGroupsWithState, keeping sink, checkpoint
    * lifecycle, upsert read-back — is THIS one method, so the two
    * paths cannot drift. */
  private[graft] def latestWinsOver(spark: SparkSession, source: => DataFrame, parts: Int,
      layout: StateLayout): DataFrame =
    replay(spark, parts, keepNoDataBatch = false, layout) { _ =>
      import spark.implicits._
      Query(source
        .withWatermark("ts", "1 hour")
        .select(StagedCols.map(col): _*).as[Ev]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(updateKey),
        "update", Sink.Keep)
    } { run => latestRows(run.lastPer("user_id")) }

  /** `cdc_stream_state_ttl`: latest-wins with EVENT-TIME state TTL —
    * the bounded-state discipline a 100 TB CDC consumer actually needs:
    * unbounded key cardinality means state must EVICT, and event-time
    * timeouts (armed at last activity + 2 h, fired by watermark
    * advance) are Spark's mechanism for it. A key idle past the TTL is
    * evicted mid-replay and, if it reappears, re-created fresh —
    * session-style lifecycle. Emissions: every new latest (update
    * mode, expired=false) plus one flagged row per eviction carrying
    * the evicted state; the trailing no-data micro-batch (which this
    * query therefore KEEPS) advances the final watermark to
    * max(ts) − 1 h and fires the remaining timeouts.
    *
    * Closed-form oracle (the finalized-horizon trick): with the
    * event-time-ordered replay, each key's last emission (see
    * [[latestRows]]) is exactly the batch latest state, and a key ends
    * expired iff the final watermark
    * strictly passed its last activity + TTL:
    * `max_ts − 1 h > last_ts + 2 h` — plain SQL, no streaming
    * machinery. 111 of the 150 fixture users expire; 39 stay live, so
    * both lifecycle branches are oracle-covered. */
  def streamStateTtl(spark: SparkSession, sfDir: String): DataFrame =
    replayLog(spark, sfDir, keepNoDataBatch = true, StateLayout.SessionDefault) { _ =>
      import spark.implicits._
      Query(eventsByUser(spark, sfDir)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(ttlKey),
        "update", Sink.Keep)
    } { run => latestRows(run.lastPer("user_id"), "expired") }

  /** Latest-wins as a Spark 4 state-API-v2 [[StatefulProcessor]]: one
    * typed ValueState per key, the [[latestOf]] winner rule, new latest
    * emitted on change (update-mode shape). */
  private[graft] class LatestWinsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, LatestRow] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var latest: ValueState[LatestRow] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      latest = getHandle.getValueState[LatestRow]("latest",
        org.apache.spark.sql.Encoders.product[LatestRow], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[LatestRow] =
      latestOf(key, Option.when(latest.exists())(latest.get()), rows)
        .map { b => latest.update(b); b }.iterator
  }

  /** `cdc_stream_stateful_tws`: [[streamStateful]] re-expressed on the
    * Spark 4 arbitrary-state API v2 (`transformWithState`) — the
    * successor to flatMapGroupsWithState a new 100 TB deployment would
    * write against: typed named state slots (value/list/map per key),
    * TTL-capable, RocksDB-backed by design (the API refuses the on-heap
    * provider, because state API v2 deployments are exactly the ones
    * whose keyed state outgrows the heap). Identical winner rule,
    * identical result: shares the batch `cdc_latest_state` oracle, so
    * the gate proves the state API generation is an implementation
    * detail, not a semantics change. */
  def streamStatefulTws(spark: SparkSession, sfDir: String): DataFrame =
    replayLog(spark, sfDir, keepNoDataBatch = false, StateLayout.RocksDb) { _ =>
      import spark.implicits._
      Query(eventsByUser(spark, sfDir).transformWithState(new LatestWinsProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update()),
        "update", Sink.Keep)
    } { run => latestRows(run.lastPer("user_id")) }

  /** [[LatestWinsProcessor]] plus NATIVE event-time eviction on the
    * state-API-v2 timer surface: same winner rule and update-mode
    * emissions, but each update re-arms a per-key EVENT-TIME timer at
    * last activity + 2 h TTL (`registerTimer`, the previous arm deleted
    * first — v2 timers are multi-shot per key, unlike the old API's
    * single timeout slot). When the watermark passes the arm,
    * [[handleExpiredTimer]] emits the evicted state flagged
    * `expired = true` and clears it — the exact lifecycle
    * [[ttlKey]] implements on `GroupStateTimeout.EventTimeTimeout`. */
  private[graft] class LatestWinsTtlProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, TtlRow] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var latest: ValueState[LatestRow] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      latest = getHandle.getValueState[LatestRow]("latest",
        org.apache.spark.sql.Encoders.product[LatestRow], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[TtlRow] = {
      val prev = Option.when(latest.exists())(latest.get())
      latestOf(key, prev, rows).map { b =>
        latest.update(b)
        prev.foreach(p => getHandle.deleteTimer(ttlArmMs(p)))
        getHandle.registerTimer(ttlArmMs(b))
        ttlRow(b, expired = false)
      }.iterator
    }
    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[TtlRow] = {
      val b = Option.when(latest.exists())(latest.get())
      latest.clear()
      b.map(ttlRow(_, expired = true)).iterator
    }
  }

  /** `cdc_stream_tws_ttl`: [[streamStateTtl]] re-expressed on the
    * state-API-v2 timer surface — completing the API matrix:
    * latest-wins ([[streamStateful]] old API / [[streamStatefulTws]]
    * v2) now has its TTL-evicting twin on BOTH generations too. Event
    * time drives everything: `TimeMode.EventTime` timers are armed at
    * last activity + 2 h and fired by watermark advance (the trailing
    * no-data batch is therefore KEPT — it advances the final watermark
    * to max(ts) − 1 h and fires the remaining timers), RocksDB-backed
    * as the v2 API requires. Shares `cdc_stream_state_ttl`'s
    * closed-form finalized-horizon oracle verbatim: a hash match
    * proves timer eviction is semantics-identical across the API
    * generations. */
  def streamTwsTtl(spark: SparkSession, sfDir: String): DataFrame =
    replayLog(spark, sfDir, keepNoDataBatch = true, StateLayout.RocksDb) { _ =>
      import spark.implicits._
      Query(eventsByUser(spark, sfDir).transformWithState(new LatestWinsTtlProcessor,
          org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Update()),
        "update", Sink.Keep)
    } { run => latestRows(run.lastPer("user_id"), "expired") }

  case class TopEntry(event_id: Long, value: Double)
  case class TopkRow(user_id: Long, rank: Int, event_id: Long, value: Double)

  /** Per-key top-3 events by (value, event_id) on state-API-v2
    * [[org.apache.spark.sql.streaming.ListState]] — the bounded-list
    * retention pattern (leaderboards, best-N samples per key) that the
    * old API forced into a single opaque blob: v2 stores the list
    * ELEMENT-WISE in RocksDB, so an append touches one entry, not a
    * reserialized whole. Each change emits the whole current list, so a
    * key's last emitting batch holds its final top-3. */
  private[graft] class TopKListProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, TopkRow] {
    import org.apache.spark.sql.streaming.{ListState, TTLConfig, TimeMode, TimerValues}
    @transient private var top: ListState[TopEntry] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      top = getHandle.getListState[TopEntry]("top3",
        org.apache.spark.sql.Encoders.product[TopEntry], TTLConfig.NONE)
    private def beats(a: TopEntry, b: TopEntry): Boolean =
      a.value > b.value || (a.value == b.value && a.event_id > b.event_id)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[TopkRow] = {
      val cur = top.get().toList
      var best = cur
      rows.foreach { e =>
        best = (TopEntry(e.event_id, e.value) :: best).sortWith(beats).take(3)
      }
      if (best != cur) {
        top.put(best.toArray)
        best.iterator.zipWithIndex.map { case (t, i) =>
          TopkRow(key, i + 1, t.event_id, t.value)
        }
      } else Iterator.empty
    }
  }

  /** `cdc_stream_tws_topk`: bounded per-key retention on v2 ListState —
    * each user's top-3 events by value maintained incrementally across
    * the replay (constant state per key: 3 entries, the 100 TB-safe
    * alternative to buffering every event). The read-back keeps each
    * key's rows from its last emitting batch ([[Run.lastPer]]) — the
    * last time its top-3 changed, which IS the final top-3. Oracle: the
    * batch window top-3 over the same log; a hash match proves
    * incremental list maintenance equals the global rank. */
  def streamTwsTopk(spark: SparkSession, sfDir: String): DataFrame =
    replayLog(spark, sfDir, keepNoDataBatch = false, StateLayout.RocksDb) { _ =>
      import spark.implicits._
      Query(eventsByUser(spark, sfDir).transformWithState(new TopKListProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update()),
        "update", Sink.Keep)
    } { run =>
      run.lastPer("user_id")
        .select(col("user_id"), col("rank"), col("event_id"),
          round(col("value"), 4).as("value"))
        .orderBy(col("user_id"), col("rank"))
    }

  case class TypeCountRow(user_id: Long, event_type: String, n_events: Long)

  /** Per-(key, event_type) counts on state-API-v2
    * [[org.apache.spark.sql.streaming.MapState]] — the keyed sub-map
    * pattern (per-entity feature counters) that the old API also forced
    * into one blob: v2 reads/writes single map ENTRIES in RocksDB, so a
    * batch touching one event_type leaves the others unread. Each
    * touched (key, type) emits its counter once per batch, so its last
    * emission is its final value. */
  private[graft] class TypeCountsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, TypeCountRow] {
    import org.apache.spark.sql.streaming.{MapState, TTLConfig, TimeMode, TimerValues}
    @transient private var counts: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[TypeCountRow] = {
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      rows.foreach { e =>
        val n = (if (counts.containsKey(e.event_type)) counts.getValue(e.event_type) else 0L) + 1L
        counts.updateValue(e.event_type, n)
        touched += e.event_type
      }
      touched.iterator.map(t => TypeCountRow(key, t, counts.getValue(t)))
    }
  }

  /** `cdc_stream_tws_counts`: keyed sub-map aggregation on v2 MapState —
    * per-user event-type counters maintained entry-wise across the
    * replay; only the types a batch touches are emitted, and the
    * read-back upserts them by (user, type) ([[Run.lastPer]]). Oracle:
    * the batch two-column GROUP BY; a hash match proves the entry-wise
    * map maintenance equals the global aggregate. Completes
    * the state-API-v2 slot matrix: ValueState (latest/TTL), timers
    * (eviction), ListState (top-k), MapState (keyed counters). */
  def streamTwsCounts(spark: SparkSession, sfDir: String): DataFrame =
    replayLog(spark, sfDir, keepNoDataBatch = false, StateLayout.RocksDb) { _ =>
      import spark.implicits._
      Query(eventsByUser(spark, sfDir).transformWithState(new TypeCountsProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update()),
        "update", Sink.Keep)
    } { run =>
      run.lastPer("user_id", "event_type")
        .select(col("user_id"), col("event_type"), col("n_events"))
        .orderBy(col("user_id"), col("event_type"))
    }

  // ── sinks that maintain or inspect state outside the query ─────────

  /** `cdc_stream_foreachbatch`: the CDC → lakehouse MERGE sink — the
    * deployment shape the reference pipeline feeds (topic consumer
    * maintaining a queryable table): each micro-batch of the replayed
    * change log is MERGEd into a versioned parquet snapshot inside
    * `foreachBatch` — delta reduced to per-key latest (one max-struct
    * agg, map-side combined), unioned with the current snapshot,
    * latest-wins re-resolved, keys whose winner is a delete dropped.
    * Per-batch cost is ∝ snapshot + delta (the [[Changelog.mergeUpsert]]
    * incremental-apply invariant, here iterated across real streaming
    * batches with a checkpoint); at 100 TB the union+window step is what
    * a Delta/Iceberg MERGE INTO plans, with file pruning replacing the
    * full snapshot rewrite. Dropping deleted keys from the snapshot is
    * sound because the staged log replays in event-time order (see
    * [[stagedEventLog]]): no later batch can carry an older event that
    * would wrongly resurrect a deleted key. The final snapshot equals
    * the batch full-log rebuild, so the query shares
    * `cdc_latest_state_del`'s oracle SQL — the gate proves N-batch
    * incremental MERGE ≡ one-shot materialization through DuckDB. */
  def streamForeachBatchMerge(spark: SparkSession, sfDir: String): DataFrame = {
    // driver-side pointer to the current snapshot version; foreachBatch
    // bodies run sequentially on the driver, so a plain var is safe
    var snapDir: Option[String] = None
    replayLog(spark, sfDir, keepNoDataBatch = false, StateLayout.SessionDefault) { run =>
      Query(logStream(spark, sfDir, StagedCols), "append", Sink.Each { (batch, id) =>
        val rec = struct(unix_micros(col("ts")).as("last_ts_us"),
          col("event_id").as("last_event_id"),
          col("event_type").as("last_event_type"),
          col("value").as("last_value"))
        val delta = batch.groupBy(col("user_id")).agg(max(rec).as("rec"))
          .select(col("user_id"), col("rec.last_ts_us").as("last_ts_us"),
            col("rec.last_event_id").as("last_event_id"),
            col("rec.last_event_type").as("last_event_type"),
            col("rec.last_value").as("last_value"))
        val merged = snapDir match {
          case None => delta
          case Some(cur) =>
            val w = Window.partitionBy(col("user_id"))
              .orderBy(col("last_ts_us").desc, col("last_event_id").desc)
            spark.read.parquet(cur).unionByName(delta)
              .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
              .drop("rn")
        }
        val next = s"${run.dir}/snap-$id"
        merged.filter(Changelog.opCol(col("last_event_type")) =!= "d")
          .write.mode("overwrite").parquet(next)
        snapDir = Some(next)
      })
    } { _ =>
      spark.read.parquet(snapDir.getOrElse(
        sys.error("foreachBatch merge produced no snapshot")))
        .select(col("user_id"), col("last_event_id"), col("last_event_type"),
          round(col("last_value"), 4).as("last_value"))
        .orderBy(col("user_id"))
        // materialize before cleanup deletes the snapshot dirs the plan reads
        .transform(graft.Materialize.reuse)
    }
  }

  /** `cdc_state_reader`: the state-store BATCH READER (Spark 4.x
    * `spark.read.format("statestore")`) — operational state
    * introspection. A streaming aggregation (per-user event count +
    * decimal-exact value sum) populates a checkpoint over the staged
    * event log; the checkpoint's state store is then read back as a
    * batch DataFrame — key struct → user_id, value struct → the
    * running aggregate. The gate's oracle recomputes the aggregate
    * from the raw events, so a hash match proves the PERSISTED state
    * is exactly the aggregate — the invariant an operator debugging a
    * production streaming job relies on when querying its checkpoint
    * in place. The read plans one task per state partition, so
    * inspecting a 1000-partition production store scales like any
    * columnar scan; no stream restart, no state export job.
    * (Reference analogue: inspecting the connector's committed offsets
    * + table state out-of-band, `connect-standalone.properties:5`.) */
  def streamStateReader(spark: SparkSession, sfDir: String): DataFrame =
    replayLog(spark, sfDir, keepNoDataBatch = false, StateLayout.SessionDefault) { _ =>
      Query(logStream(spark, sfDir, StagedCols, maxFilesPerTrigger = None)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).as("sum_value")),
        "update", Sink.Discard)
    } { run =>
      spark.read.format("statestore").load(run.ckpt)
        .select(col("key.user_id").as("user_id"),
          col("value.count").as("n_events"),
          round(col("value.sum").cast("double"), 4).as("sum_value"))
        .orderBy(col("user_id"))
        // materialize BEFORE cleanup deletes the checkpoint the reader scans
        .transform(graft.Materialize.reuse)
    }
}
