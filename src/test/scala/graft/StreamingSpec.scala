package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{Changelog, StreamingLatest}

/** Streaming/batch equivalence (SURVEY.md §5.5): the stateful streaming
  * latest-wins must converge to exactly the batch window result. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val sf = SparkFixture.Sf

  test("cdc_stream_static_join equals the batch enrichment join exactly") {
    val s2 = spark
    import s2.implicits._
    import org.apache.spark.sql.functions._
    val stream = StreamingLatest.streamStaticJoin(spark, sf).collect().toSeq
    val first = Tables.events(spark, sf)
      .groupBy($"user_id".as("d_user"))
      .agg(unix_micros(min($"ts")).as("first_us"))
    val batch = Tables.events(spark, sf)
      .join(first, $"user_id" === $"d_user")
      .select($"event_id", $"user_id", $"first_us",
        (unix_micros($"ts") - $"first_us").as("since_first_us"))
      .orderBy($"event_id").collect().toSeq
    assert(stream == batch, "stateless stream-static join must equal the batch join")
  }

  test("cdc_stream_foreachbatch incremental MERGE equals batch latest-state-with-deletes") {
    val streamRows = StreamingLatest.streamForeachBatchMerge(spark, sf).collect().toSeq
    val batchRows  = Changelog.latestStateWithDeletes(spark, sf).collect().toSeq
    assert(streamRows.length == batchRows.length)
    assert(streamRows == batchRows,
      "N-batch foreachBatch MERGE must equal the one-shot full-log rebuild")
  }

  test("cdc_stream_stateful final state equals batch cdc_latest_state") {
    val streamRows = StreamingLatest.streamStateful(spark, sf).collect().toSeq
    val batchRows  = Changelog.latestState(spark, sf).collect().toSeq
    assert(streamRows.length == batchRows.length)
    assert(streamRows == batchRows)
  }

  test("cdc_stream_windowed equals batch cdc_stream_tumbling") {
    val streamRows = StreamingLatest.streamWindowed(spark, sf).collect().toSeq
    val batchRows  = Changelog.streamTumbling(spark, sf).collect().toSeq
    assert(streamRows == batchRows)
  }

  test("salted two-phase latest-wins equals the window formulation") {
    val salted = Changelog.latestStateSalted(spark, sf).collect().toSeq
    val window = Changelog.latestState(spark, sf).collect().toSeq
    assert(salted == window)
  }

  test("checkpoint resume (R18): restart picks up only new files, final state correct") {
    resumeScenario()
  }

  // The scenario again under the replay runner's checkpoint conf, on
  // each state store provider the runner uses: recovery reads offsets,
  // commits and state written through the replay checkpoint manager.
  for ((provider, layout) <- Seq(
      "HDFS" -> Seq("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"),
      "RocksDB + changelog" -> StreamingLatest.StateLayout.RocksDb.conf))
    test(s"checkpoint resume through the replay checkpoint manager on the $provider provider") {
      val ckpt = Tuning.withConf(spark, StreamingLatest.CheckpointConf ++ layout: _*) {
        try resumeScenario() finally StreamingLatest.unloadStateStores()
      }
      // Spark's default manager writes through Hadoop's checksummed
      // local FileContext, which leaves a .crc sidecar per file
      val sidecars = Seq("offsets", "commits").flatMap { d =>
        val s = java.nio.file.Files.list(ckpt.resolve(d))
        try s.toArray.toSeq.map(_.toString).filter(_.endsWith(".crc")) finally s.close()
      }
      assert(sidecars.isEmpty, s"written by Spark's default checkpoint manager: $sidecars")
    }

  /** Replays half the log into a checkpoint, appends the other half and
    * resumes; returns the checkpoint dir. */
  private def resumeScenario(): java.nio.file.Path = {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{OutputMode, GroupStateTimeout, Trigger}

    val runDir = StageDirs.fresh(StageDirs.streamRoot, "resume")
    val inDir = s"$runDir/in"; val outDir = s"$runDir/out"; val ckpt = s"$runDir/ckpt"

    val ev = Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
    val firstHalf  = ev.filter($"event_id" % 2 === 0)
    val secondHalf = ev.filter($"event_id" % 2 === 1)

    def runOnce(): Unit = {
      val q = spark.readStream.schema(ev.schema).parquet(inDir)
        .as[StreamingLatest.Ev]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
          StreamingLatest.updateKey _)
        .writeStream.outputMode("update")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[StreamingLatest.LatestRow], _: Long) =>
            b.write.mode("append").parquet(outDir)
        }.start()
      q.awaitTermination()
    }

    firstHalf.coalesce(1).write.mode("append").parquet(inDir)
    runOnce()                        // processes first half, commits offsets
    val afterFirst = spark.read.parquet(outDir).count()
    secondHalf.coalesce(1).write.mode("append").parquet(inDir)
    runOnce()                        // RESUME: must process only the new file
    val afterSecond = spark.read.parquet(outDir).count()
    assert(afterSecond > afterFirst)

    // final state (latest row per user across appended snapshots) == batch
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"last_ts_us".desc, $"last_event_id".desc)
    val finalState = spark.read.parquet(outDir)
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"user_id", $"last_event_id", $"last_event_type",
        round($"last_value", 4).as("last_value"), $"last_ts_us")
      .orderBy($"user_id").collect().toSeq
    assert(finalState == Changelog.latestState(spark, sf).collect().toSeq)

    // the resumed run must NOT have reprocessed the first file: the output
    // appended by run 2 reflects only keys whose latest changed or arrived
    assert(afterSecond - afterFirst <=
      secondHalf.select($"user_id").distinct().count())
    java.nio.file.Paths.get(ckpt)
  }

  test("derived state-partition count is checkpoint-pinned: a grown source keeps the launch count, correctly") {
    // Lifecycle contract of Tuning.statePartitions (r18): the shuffle
    // partition count at a streaming query's FIRST start is pinned into
    // the checkpoint as the state-store partition count for the
    // checkpoint's whole lifetime — a source that GROWS under an
    // existing checkpoint keeps the launch-time count silently. This
    // spec proves both halves of the operational story: (a) the stale
    // count is a CAPACITY regression only, never a correctness one —
    // the restarted query still answers exactly; (b) re-sharding means
    // a NEW checkpoint + full replay, which picks up the count derived
    // from the grown volume.
    val s = spark
    import s.implicits._
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{OutputMode, GroupStateTimeout, Trigger}

    val runDir = StageDirs.fresh(StageDirs.streamRoot, "pinned")
    val inDir = s"$runDir/in"; val outDir = s"$runDir/out"

    val ev = Tables.events(spark, sf)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
    val firstHalf  = ev.filter($"event_id" % 2 === 0)
    val secondHalf = ev.filter($"event_id" % 2 === 1)

    def runOnce(ckpt: String, shufflePartitions: Int, out: String): Unit = {
      val k = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(k)
      spark.conf.set(k, shufflePartitions.toString)
      try {
        val q = spark.readStream.schema(ev.schema).parquet(inDir)
          .as[StreamingLatest.Ev]
          .groupByKey(_.user_id)
          .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
            StreamingLatest.updateKey _)
          .writeStream.outputMode("update")
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[StreamingLatest.LatestRow], _: Long) =>
              b.write.mode("append").parquet(out)
          }.start()
        q.awaitTermination()
      } finally spark.conf.set(k, prev)
    }
    // state-store partition directories under <ckpt>/state/0/ — the
    // physical record of the pinned count
    def statePartitionDirs(ckpt: String): Int = {
      val st = Files.list(Paths.get(s"$ckpt/state/0"))
      try st.filter(p => p.getFileName.toString.forall(_.isDigit)).count().toInt
      finally st.close()
    }
    def latestFrom(out: String) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"last_ts_us".desc, $"last_event_id".desc)
      spark.read.parquet(out)
        .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .select($"user_id", $"last_event_id", $"last_event_type",
          round($"last_value", 4).as("last_value"), $"last_ts_us")
        .orderBy($"user_id").collect().toSeq
    }

    // launch on the small log: count 4 (the fixture-scale derivation)
    val ckptA = s"$runDir/ckptA"
    firstHalf.coalesce(1).write.mode("append").parquet(inDir)
    runOnce(ckptA, 4, outDir)
    assert(statePartitionDirs(ckptA) == 4,
      "first start must pin the launch-time partition count into the checkpoint")

    // the source GROWS; restart on the SAME checkpoint with a LARGER
    // derived count (9): the checkpoint must keep 4 — and still answer
    secondHalf.coalesce(1).write.mode("append").parquet(inDir)
    runOnce(ckptA, 9, outDir)
    assert(statePartitionDirs(ckptA) == 4,
      "a restart must reuse the checkpoint-pinned count, not the session conf")
    assert(latestFrom(outDir) == Changelog.latestState(spark, sf).collect().toSeq,
      "the stale pinned count must never change the answer")

    // re-shard = NEW checkpoint + full replay: the fresh launch adopts
    // the count derived from the grown volume
    val ckptB = s"$runDir/ckptB"; val outB = s"$runDir/outB"
    runOnce(ckptB, 9, outB)
    assert(statePartitionDirs(ckptB) == 9,
      "a fresh checkpoint must adopt the newly derived count")
    assert(latestFrom(outB) == Changelog.latestState(spark, sf).collect().toSeq)
  }

  test("a replay whose sink throws still deletes its checkpoint and leaves no active query") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.functions.col
    import StreamingLatest.{Query, Sink, StateLayout}
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val providerBefore = spark.conf.getOption(provider)
    val isolation = StreamingLatest.SharedClassLoader._1
    // what the caller set, not the default an unset key reads as
    def isolationSetting = spark.conf.getAll.get(isolation)
    val isolationBefore = isolationSetting
    def setIsolation(v: Option[String]): Unit =
      v.fold(spark.conf.unset(isolation))(spark.conf.set(isolation, _))
    // the replay's artifact-isolation value must not outlive it, whether
    // the caller left the key unset or set it
    try for (callerIsolation <- Seq(None, Some("true"))) {
      setIsolation(callerIsolation)
      var ckpt: String = null
      val err = intercept[Exception] {
        StreamingLatest.replay(spark, 4, keepNoDataBatch = false, StateLayout.RocksDb) { run =>
          ckpt = run.ckpt
          val counts = spark.readStream
            .schema(Tables.events(spark, sf).select(col("user_id")).schema)
            .parquet(StreamingLatest.stagedEventLog(spark, sf))
            .groupBy(col("user_id")).count()
          // run the stateful batch first so the RocksDB stores are loaded
          Query(counts, "update", Sink.Each { (b, _) => b.collect(); sys.error("sink failed") })
        } { run => run.emitted }
      }
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(e => Option(e.getMessage).exists(_.contains("sink failed"))),
        s"the sink's exception must reach the caller, got $err")
      assert(ckpt != null && !Files.exists(Paths.get(ckpt)),
        "a failed replay must still delete its checkpoint")
      assert(spark.streams.active.isEmpty, "a failed replay must leave no active query")
      assert(spark.conf.getOption(provider) == providerBefore,
        "the replay's state layout must not outlive it")
      assert(isolationSetting == callerIsolation,
        s"the caller's $isolation must be restored")
    } finally setIsolation(isolationBefore)
  }

  test("a repeated replay compiles no new code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    def round(): Unit = {
      StreamingLatest.streamStateful(spark, sf).collect()
      StreamingLatest.streamStatefulRocksDb(spark, sf).collect()
      StreamingLatest.streamJoin(spark, sf).collect()
    }
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    round()
    val before = compiles
    round()
    assert(compiles == before, s"the second round compiled ${compiles - before} classes")
  }

  /** Writes each frame as one parquet file, replayed in the given order
    * (stepped mtimes); returns their dir. */
  private def fileLog(name: String, parts: Seq[org.apache.spark.sql.DataFrame]): String = {
    import java.nio.file.{Files, Path}
    val dir = StageDirs.fresh(StageDirs.streamRoot, name)
    val t0 = System.currentTimeMillis()
    parts.zipWithIndex.foreach { case (df, f) =>
      val part = dir.resolve(s"f$f")
      df.coalesce(1).write.parquet(part.toString)
      val s = Files.list(part)
      val file = try s.toArray.map(_.asInstanceOf[Path])
        .filter(_.toString.endsWith(".parquet")).head finally s.close()
      val dst = Files.move(file, dir.resolve(s"f$f.parquet"))
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(t0 + 1000L * f))
      StageDirs.rm(part)
    }
    dir.toString
  }

  /** Three parquet files, `file` = 0, 1, 2 with 2, 3 and 4 rows (`id`),
    * replayed oldest first; returns their dir. */
  private def threeFileLog(): String = {
    import org.apache.spark.sql.functions.lit
    fileLog("threefile", (0 to 2).map(f => spark.range(0, f + 2).withColumn("file", lit(f.toLong))))
  }

  /** Replays `dir` one file per micro-batch through [[StreamingLatest.Sink.Keep]];
    * `frame` shapes the stream. Returns the rows `readBack` reads, sorted. */
  private def replayThree(dir: String, mode: String)(
      frame: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)(
      readBack: StreamingLatest.Run => org.apache.spark.sql.DataFrame = _.emitted) = {
    import StreamingLatest.{Query, Sink, StateLayout}
    val log = spark.readStream.schema("id LONG, file LONG")
      .option("maxFilesPerTrigger", "1").parquet(dir)
    StreamingLatest.replay(spark, 2, keepNoDataBatch = false, StateLayout.SessionDefault) { _ =>
      Query(frame(log), mode, Sink.Keep)
    }(readBack).collect().map(_.toSeq).toSeq.sortBy(_.mkString(","))
  }

  test("Keep keeps every append-mode micro-batch's rows") {
    val dir = threeFileLog()
    try {
      val all = (0L to 2L).flatMap(f => (0L until f + 2).map(id => Seq[Any](id, f)))
        .sortBy(_.mkString(","))
      assert(replayThree(dir, "append")(identity)() == all)
    } finally StageDirs.rm(java.nio.file.Paths.get(dir))
  }

  test("a re-delivered batch id replaces its kept frame") {
    val dir = StageDirs.fresh(StageDirs.streamRoot, "redeliver")
    try {
      val run = new StreamingLatest.Run(dir, spark)
      def ids() = run.emitted.collect().map(_.getLong(0)).sorted.toSeq
      run.keep(0, spark.range(0, 3).toDF())
      run.keep(0, spark.range(10, 12).toDF())
      assert(ids() == Seq(10L, 11L), "the second delivery of batch 0 is kept, once")
      run.keep(1, spark.range(20, 21).toDF())
      assert(ids() == Seq(10L, 11L, 20L))
    } finally StageDirs.rm(dir)
  }

  test("lastPer returns each key's rows from the last batch in which it emitted") {
    import org.apache.spark.sql.functions.{col, count, lit, max}
    val dir = threeFileLog()
    try {
      // ids 0 and 1 arrive in batches 0 and 2, id 2 only in batch 1; an
      // update-mode count re-emits each key in every batch it arrives in
      val got = replayThree(dir, "update")(_.filter(
          (col("file") =!= 1 && col("id") < 2) || (col("file") === 1 && col("id") === 2))
        .groupBy(col("id")).agg(count(lit(1)).as("n"), max(col("file")).as("last_file")))(
        _.lastPer("id"))
      assert(got == Seq(Seq[Any](0L, 2L, 2L), Seq[Any](1L, 2L, 2L), Seq[Any](2L, 1L, 1L)))
    } finally StageDirs.rm(java.nio.file.Paths.get(dir))
  }

  test("complete-mode Keep returns only the last micro-batch's answer") {
    import org.apache.spark.sql.functions.{count, lit, max}
    val dir = threeFileLog()
    try {
      // each batch is the whole answer so far: (rows, newest file); keeping
      // every batch would return (2, 0), (5, 1) and (9, 2)
      val got = replayThree(dir, "complete")(_.agg(count(lit(1)), max("file")))()
      assert(got == Seq(Seq[Any](9L, 2L)))
    } finally StageDirs.rm(java.nio.file.Paths.get(dir))
  }

  private lazy val events = Tables.events(spark, sf)
    .select("event_id", "ts", "user_id", "event_type", "value")

  /** The file of a log cut at `cutsUs` (µs) an event lands in: how many cuts its time reaches. */
  private def fileOf(cutsUs: Seq[Long]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit, unix_micros, when}
    cutsUs.map(c => when(unix_micros(col("ts")) >= c, 1).otherwise(0)).foldLeft(lit(0))(_ + _)
  }

  /** The events cut at `cutsUs` into event-time-ordered files; returns the directory. */
  private def cutLog(name: String, cutsUs: Seq[Long]): String =
    fileLog(name, (0 to cutsUs.size).map(f => events.filter(fileOf(cutsUs) === f)))

  /** A fresh streaming read of `dir`, one file per micro-batch. */
  private def oneFilePerBatch(dir: String): org.apache.spark.sql.DataFrame =
    spark.readStream.schema(events.schema).option("maxFilesPerTrigger", "1").parquet(dir)

  test("latest-wins over six event-time-ordered files, one per batch, equals the batch latest state") {
    import org.apache.spark.sql.functions.{col, countDistinct, max, min, unix_micros}
    val span = events.agg(unix_micros(min(col("ts"))), unix_micros(max(col("ts")))).first()
    val (lo, hi) = (span.getLong(0), span.getLong(1))
    val cuts = (1 until 6).map(k => lo + (hi - lo + 1) * k / 6)
    val dir = cutLog("sixfile", cuts)
    try {
      assert(events.groupBy(col("user_id")).agg(countDistinct(fileOf(cuts)).as("files"))
        .filter(col("files") > 1).count() > 0, "some key must emit in several batches")
      val got = StreamingLatest.latestWinsOver(spark, oneFilePerBatch(dir), 4,
        StreamingLatest.StateLayout.SessionDefault).collect().toSeq
      assert(got == Changelog.latestState(spark, sf).collect().toSeq)
    } finally StageDirs.rm(java.nio.file.Paths.get(dir))
  }

  // The join keeps each side's rows in state until the other side's
  // watermark evicts them; over an event-time-ordered log, where the log
  // is cut must not change which pairs it emits. Each cut falls between
  // a matching click and its purchase, so every pair is matched from state
  // carried across a micro-batch boundary.
  test("the inner stream-stream join over a log cut inside every match equals its two-file replay") {
    import org.apache.spark.sql.functions.{col, expr, unix_micros}
    val cuts = events.filter(col("event_type") === "purchase").as("p")
      .join(events.filter(col("event_type") === "click").as("c"),
        expr("p.user_id = c.user_id AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts"))
      .select(((unix_micros(col("p.ts")) + unix_micros(col("c.ts"))) / 2).cast("long"))
      .collect().map(_.getLong(0)).distinct.sorted.toSeq
    assert(cuts.nonEmpty, "the fixture must hold a click and a later purchase that match")
    val dir = cutLog("cutjoin", cuts)
    try {
      // passed by name: each side of the join builds its own source, as in production
      val got = StreamingLatest.joinOver(spark, oneFilePerBatch(dir), 4).collect().toSeq
      assert(got.nonEmpty && got == StreamingLatest.streamJoin(spark, sf).collect().toSeq)
    } finally StageDirs.rm(java.nio.file.Paths.get(dir))
  }

  test("a replay over a source with no file returns an empty frame with the query's schema") {
    import StreamingLatest.{Query, Run, Sink, StateLayout}
    import org.apache.spark.sql.functions.col
    val dir = StageDirs.fresh(StageDirs.streamRoot, "nofile")
    try {
      val frame = spark.readStream.schema("id LONG, file LONG").parquet(dir.toString)
        .select(col("id"), (col("file") * 2).as("twice"))
      for ((name, readBack) <- Seq[(String, Run => org.apache.spark.sql.DataFrame)](
          "emitted" -> (_.emitted), "lastPer" -> (_.lastPer("id")))) {
        val out = StreamingLatest.replay(spark, 2, keepNoDataBatch = false,
            StateLayout.SessionDefault) { _ =>
          Query(frame, "append", Sink.Keep)
        }(readBack)
        assert(out.columns.toSeq == Seq("id", "twice"), name)
        assert(out.schema.fields.forall(_.dataType == org.apache.spark.sql.types.LongType))
        assert(out.count() == 0, name)
      }
    } finally StageDirs.rm(dir)
  }

  test("a replay leaves nothing of its run dir once it returns and its frame is read") {
    val mine = StageDirs.streamRoot.resolve(s"jvm-${ProcessHandle.current().pid()}")
    def runDirs(): Set[String] = {
      val s = java.nio.file.Files.list(mine)
      try s.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
        .filter(_.startsWith("run")).toSet
      finally s.close()
    }
    StreamingLatest.stagedEventLog(spark, sf)
    val before = runDirs()
    assert(StreamingLatest.streamStateful(spark, sf).collect().nonEmpty)
    assert(runDirs() -- before == Set.empty, s"left under $mine")
  }

  test("cdc_state_reader: persisted streaming-agg state equals the batch aggregate") {
    val s2 = spark
    import s2.implicits._
    import org.apache.spark.sql.functions._
    val got = StreamingLatest.streamStateReader(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val want = Tables.events(spark, sf)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        round(sum($"value".cast("decimal(18,6)")).cast("double"), 4).as("sum_value"))
      .orderBy($"user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == want && got.nonEmpty)
  }

  // A source regenerated in place within one JVM must re-stage under its
  // new part-file signature AND the superseded staged copy (a full
  // parquet copy of the log) must be deleted eagerly, not leaked until
  // JVM exit.
  test("staged-log memo evicts and deletes the superseded staged copy on in-place regeneration") {
    val s2 = spark
    import s2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-restage").toFile
    try {
      val ev = Tables.events(spark, sf)
      ev.write.mode("overwrite").parquet(s"${dir.getPath}/events.parquet")
      val staged1 = graft.cdc.StreamingLatest.stagedEventLog(spark, dir.getPath)
      assert(new java.io.File(staged1).exists(), "first staging must exist")
      // memo hit: same signature → same dir, nothing deleted
      assert(graft.cdc.StreamingLatest.stagedEventLog(spark, dir.getPath) == staged1)
      // regenerate IN PLACE with different content (drops half the rows,
      // so the part-file signature moves)
      ev.filter($"event_id" % 2 === 0)
        .write.mode("overwrite").parquet(s"${dir.getPath}/events.parquet")
      val staged2 = graft.cdc.StreamingLatest.stagedEventLog(spark, dir.getPath)
      assert(staged2 != staged1,
        "a regenerated source must re-stage under its new signature")
      assert(new java.io.File(staged2).exists(), "second staging must exist")
      assert(!new java.io.File(staged1).exists(),
        "the superseded staged copy must be deleted eagerly, not leaked until JVM exit")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }
}
