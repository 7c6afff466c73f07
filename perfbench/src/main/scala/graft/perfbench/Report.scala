package graft.perfbench

import scala.collection.mutable

/** Turns the traced passes into per-layer metrics, spans and checks. */
final case class Report(metrics: Seq[(String, (String, Double))], trace: Map[String, Any],
    streamTable: Seq[String], coverageMisses: Seq[String])

object Report {
  /** Coverage tolerance: listener timestamps have millisecond resolution
    * and the bus delivers them late, so an interval may overhang its query
    * span by this much before it counts as misattributed. */
  def toleranceMs(wallMs: Double): Double = math.max(25.0, 0.02 * wallMs)

  private val Units: Map[String, String] = Map(
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.failed_tasks" -> "count", "exec.stage_retries" -> "count",
    "catalyst.executions" -> "count", "catalyst.aqe_replans" -> "count",
    "codegen.compiles" -> "count", "codegen.source_kb" -> "KiB",
    "shuffle.records" -> "count", "scan.input_rows" -> "count")

  /** Counters summed over each query's `QueryRec.m`, reported per pass. */
  private val Summed: Seq[String] = Seq(
    "catalyst.analysis_s", "catalyst.optimizer_s", "catalyst.planning_s",
    "catalyst.executions", "catalyst.aqe_replans",
    "codegen.compiles", "codegen.compile_s", "codegen.source_kb",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_wait_s", "exec.stage_wall_s",
    "exec.straggler_s", "exec.failed_tasks", "exec.stage_retries",
    "exec.task_run_s", "exec.task_cpu_s", "exec.task_gc_s",
    "spill.mem_mb", "spill.disk_mb", "jvm.gc_s",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.records", "shuffle.write_s",
    "shuffle.fetch_wait_s", "scan.input_mb", "scan.input_rows", "output.write_mb")

  private val Phases: Seq[(String, String)] = Seq(
    "latest_offset_ms" -> "latestOffset", "planning_ms" -> "queryPlanning",
    "add_batch_ms" -> "addBatch", "wal_commit_ms" -> "walCommit",
    "commit_offsets_ms" -> "commitOffsets")

  private def unit(k: String): String =
    Units.getOrElse(k, if (k.endsWith("_s")) "s" else if (k.endsWith("_ms")) "ms"
      else if (k.endsWith("_mb")) "MB" else "count")

  def layers(passes: Seq[(Double, Seq[QueryRec])], cores: Int): Report = {
    val n = math.max(1, passes.size).toDouble
    val recs = passes.flatMap(_._2)
    val out = mutable.LinkedHashMap.empty[String, (String, Double)]
    def put(k: String, v: Double): Unit = out(k) = (unit(k), v)

    Inventory.Modules.foreach { mod =>
      val rs = recs.filter(_.module == mod)
      put(s"$mod.build_s", rs.map(q => q.buildEndMs - q.startMs).sum / 1e3 / n)
      put(s"$mod.action_s", rs.map(q => q.endMs - q.buildEndMs).sum / 1e3 / n)
    }
    Summed.foreach(k => put(k, recs.map(_.m(k)).sum / n))
    put("exec.peak_exec_mb", (0.0 +: recs.map(_.m("exec.peak_exec_mb"))).max)

    // per-query timeline: Catalyst phases and stages inside the query span;
    // whatever neither covers is off-stage driver time
    val misses = mutable.ArrayBuffer.empty[String]
    var catS, stageS, offS, wallS = 0.0
    recs.foreach { q =>
      val (lo, hi) = (q.startMs, q.endMs)
      val w = hi - lo
      val tol = toleranceMs(w)
      val cat = q.catalyst.map(c => (c._2, c._3)).toSeq
      val all = cat ++ q.stages.map(s => (s._2, s._3))
      val outside = all.map { case (s, e) =>
        (e - s) - Tracer.unionMs(Tracer.clip(Seq((s, e)), lo - tol, hi + tol))
      }.sum
      val c = Tracer.unionMs(Tracer.clip(cat, lo, hi))
      val u = Tracer.unionMs(Tracer.clip(all, lo, hi))
      if (outside > tol)
        misses += f"${q.name}%s: ${outside}%.0f ms of Catalyst/stage time outside its ${w}%.0f ms wall"
      catS += c; stageS += u - c; offS += w - u; wallS += w
    }
    put("driver.offstage_s", offS / 1e3 / n)
    put("trace.coverage_misses", misses.size.toDouble)
    val wall = math.max(wallS, 1e-9)
    out("share.fixed") = ("ratio", (catS + offS) / wall)
    out("share.stage") = ("ratio", stageS / wall)
    out("exec.busy_share") = ("ratio", recs.map(_.m("exec.task_run_s")).sum * 1e3 / (cores * wall))

    // streaming progress and state-store metrics
    val streamRecs = recs.filter(_.batches.nonEmpty)
    val batches = streamRecs.flatMap(_.batches)
    def dur(b: Batch, k: String): Double = b.durations.getOrElse(k, 0L).toDouble
    put("stream.batches", batches.size / n)
    put("stream.input_rows", batches.map(_.inputRows.toDouble).sum / n)
    Phases.foreach { case (k, p) => put(s"stream.$k", batches.map(dur(_, p)).sum / n) }
    put("stream.first_batch_ms", streamRecs.map(q => dur(q.batches.head, "triggerExecution")).sum / n)
    put("stream.lifecycle_s", streamRecs.map { q =>
      (q.buildEndMs - q.startMs - q.batches.map(dur(_, "triggerExecution")).sum) / 1e3
    }.sum / n)
    val trig = batches.map(dur(_, "triggerExecution"))
    put("microbatch_p50_ms", if (trig.isEmpty) 0.0 else trig.sorted.apply(trig.size / 2))
    put("microbatch_tail_ms", if (trig.isEmpty) 0.0 else trig.sorted.apply(math.max(0, trig.size - 11)))
    Seq("commit_ms", "update_ms", "removal_ms", "rows_total", "rows_updated",
      "rows_dropped_by_watermark").foreach { k =>
      put(s"state.$k", batches.map(_.state(k)).sum / n)
    }
    Seq("memory_mb", "partitions", "rocksdb_sst_mb").foreach { k =>
      put(s"state.$k", (0.0 +: batches.map(_.state(k))).max)
    }

    val table = if (streamRecs.isEmpty) Nil else {
      val head = f"${"query"}%-28s ${"batches"}%7s ${"trigger_ms"}%22s ${"stateCommit_ms"}%22s ${"lifecycle_s"}%11s"
      head +: streamRecs.map { q =>
        val tr = q.batches.map(b => dur(b, "triggerExecution").toLong).mkString("/")
        val sc = q.batches.map(_.state("commit_ms").toLong).mkString("/")
        val life = (q.buildEndMs - q.startMs - q.batches.map(dur(_, "triggerExecution")).sum) / 1e3
        f"${q.name}%-28s ${q.batches.size}%7d $tr%22s $sc%22s $life%11.2f"
      }
    }

    Report(out.toSeq, Map(
      "spans" -> recs.flatMap(spans),
      "streams" -> streamRecs.map(q => Map("query" -> q.name, "batches" -> q.batches.map(b =>
        Map("start_ms" -> b.startMs, "durations" -> b.durations, "input_rows" -> b.inputRows,
          "state" -> b.state))))),
      table, misses.toSeq)
  }

  /** Spans of one query: the query, its module call ("build") and its
    * action, and inside them Catalyst phases, micro-batches and stages.
    * Self time is a span's duration minus what its children cover. */
  def spans(q: QueryRec): Seq[Map[String, Any]] = {
    final case class S(id: Int, parent: Int, layer: String, name: String, s: Double, e: Double)
    val root = S(0, -1, "query", q.name, q.startMs, q.endMs)
    val build = S(1, 0, q.module, s"${q.module}.build", q.startMs, q.buildEndMs)
    val action = S(2, 0, q.module, s"${q.module}.action", q.buildEndMs, q.endMs)
    var next = 3
    def within(a: Double, p: S) = a >= p.s && a < p.e
    def host(a: Double) = if (within(a, action)) action.id else build.id
    val batches = q.batches.map { b =>
      val d = b.durations.getOrElse("triggerExecution", 0L).toDouble
      next += 1
      S(next - 1, host(b.startMs), "stream", "microbatch", b.startMs, b.startMs + d)
    }
    val cat = q.catalyst.map { case (ph, s, e) =>
      next += 1; S(next - 1, host(s), "catalyst", ph, s, e)
    }
    val stages = q.stages.map { case (id, s, e) =>
      next += 1
      S(next - 1, batches.find(within(s, _)).map(_.id).getOrElse(host(s)), "exec", s"stage $id", s, e)
    }
    val all = Seq(root, build, action) ++ batches ++ cat ++ stages
    all.map { sp =>
      val kids = all.filter(_.parent == sp.id).map(k => (k.s, k.e))
      val self = (sp.e - sp.s) - Tracer.unionMs(Tracer.clip(kids, sp.s, sp.e))
      Map("trace" -> q.traceId, "id" -> sp.id, "parent" -> sp.parent, "layer" -> sp.layer,
        "name" -> sp.name, "start_ms" -> sp.s, "end_ms" -> sp.e, "self_ms" -> self)
    }
  }
}
