package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.commons.math3.special.Beta
import org.apache.spark.sql.SparkSession

/** In-JVM benchmark runner. `perfbench/run.py` builds the classpath and
  * starts it; see that file for the command line.
  *
  * `--mode run`: after the set-up, one closed-loop client issues one
  * `SparkEntry.queries` call at a time over a workload's fixed,
  * seed-permuted query list, in whole passes sized to `--seconds`. Each
  * query is its module call plus one action, the result signature, which
  * is checked against the recorded reference. With `--trace 1` each
  * measured pass is followed by the same pass with the listeners of
  * [[Tracer]] installed.
  *
  * `--mode record`: dumps every query's output for the DuckDB oracle and
  * writes each result's signature (and `Golden.hash` for queries without
  * an oracle twin); `perfbench/record.py` keeps the ones that pass. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val code = opts.getOrElse("mode", "run") match {
      case "run" => run(opts)
      case "record" => record(opts)
      case other => sys.error(s"unknown mode $other")
    }
    sys.exit(code)
  }

  /** Harrell-Davis estimate of the median: the order statistics weighted by
    * a Beta((n+1)/2, (n+1)/2) density. It estimates the same median as the
    * middle sample, with a lower variance on a run's small per-query sample
    * (the middle sample alone jumps between neighbouring queries). */
  private def hdMedian(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val a = (s.size + 1) / 2.0
    def cdf(x: Double): Double = Beta.regularizedBeta(x, a, a)
    s.indices.map(i => (cdf((i + 1.0) / s.size) - cdf(i.toDouble / s.size)) * s(i)).sum
  }

  /** The value with exactly ten samples above it: the highest percentile
    * that still has ten samples beyond it. The maximum for small samples. */
  private def tail(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.max(0, s.size - 11))
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def inputDir(root: String, input: String): String = input match {
    case "sf0.1" => s"$root/perfbench/data/sf0.1"
    case "x10" => s"$root/.bench_build/replica/x10"
  }

  private def rssPeakMb(): Double = {
    val status = Paths.get("/proc/self/status")
    import scala.jdk.CollectionConverters._
    if (!Files.exists(status)) -1.0
    else Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(-1.0)
  }

  private def heapPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed / 1048576.0).sum
  }

  private def loadavg(): Double = {
    val p = Paths.get("/proc/loadavg")
    if (Files.exists(p)) new String(Files.readAllBytes(p)).split(" ")(0).toDouble else -1.0
  }

  private def readRefs(path: String): Map[String, String] =
    if (Files.exists(Paths.get(path))) Json.readStringMap(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))
    else Map.empty

  def run(opts: Map[String, String]): Int = {
    val root = opts("root")
    val work = opts("work")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val table = Inventory.moduleTable(root)
    val named = Workloads.byName(opts("workload"), table)
    val w = if (!opts.get("list").contains("full")) named
      else named.copy(queries = named.full, passS = Double.PositiveInfinity)
    val sfDir = inputDir(root, w.input)
    val refs = readRefs(s"$root/perfbench/signatures/${w.input}.json")
    val load = loadavg()

    val t0 = System.nanoTime()
    val spark = Setup.session(cores, work)
    spark.sparkContext.setLogLevel("ERROR")
    val setup = mutable.LinkedHashMap("session" -> secs(t0))
    w.setupSteps.foreach { st =>
      val t = System.nanoTime()
      Setup.step(st, spark, sfDir, work)
      setup(st) = secs(t)
    }
    val setupS = secs(t0)
    val calib = Setup.calibS(spark)

    val fns = graft.SparkEntry.queries
    val order = w.order(seed)
    val errors = ArrayBuffer.empty[String]
    var traceSeq = 0

    def runQuery(session: SparkSession, name: String, tracer: Option[Tracer]): QueryRec = {
      traceSeq += 1
      val q = new QueryRec(name, table.getOrElse(name, "?"), traceSeq)
      def now(): Double = tracer.fold(System.nanoTime() / 1e6)(_.nowMs())
      tracer.foreach(_.begin(q))
      val sc = session.sparkContext
      sc.setJobGroup(s"perfbench:$name", name)
      q.startMs = now()
      q.buildEndMs = q.startMs
      try {
        val df = fns(name)(session, sfDir)
        q.buildEndMs = now()
        val sig = Signature.of(df)
        q.ok = refs.get(name).contains(sig)
        if (!q.ok) q.error = s"signature $sig != reference ${refs.getOrElse(name, "(none)")}"
      } catch {
        case NonFatal(e) => q.error = s"${e.getClass.getName}: ${e.getMessage}"
      } finally {
        q.endMs = now()
        sc.clearJobGroup()
        tracer.foreach(_.end(q))
      }
      if (!q.ok) {
        errors += s"$name: ${q.error}"
        System.err.println(s"[perfbench] $name FAILED: ${q.error}")
      }
      q
    }

    // One pass runs the whole list in a fresh session of the same context:
    // the engine memoizes some intermediate results per session, and a
    // repeated call would time the memo instead of the query.
    def runPass(tracer: Option[Tracer]): (Double, Seq[QueryRec]) = {
      val session = spark.newSession()
      tracer.foreach(_.attach(session))
      val p0 = System.nanoTime()
      val recs = order.map(runQuery(session, _, tracer))
      val wall = secs(p0)
      tracer.foreach(_.detach(session))
      (wall, recs)
    }

    // untimed warm-up pass: JIT and the codegen cache warm for the list's
    // plans, so the order the seed picks does not decide which queries pay
    val warm = runPass(None)
    // With --trace 1 every measured pass is followed by a traced one: the
    // layer metrics come from the traced passes, the end-to-end ones from
    // the untraced passes, and their best walls give the tracing overhead.
    val tracer = if (traced) Some(new Tracer(spark.sparkContext)) else None
    val rounds = Seq.fill(w.passes(seconds)) {
      val plain = runPass(None)
      (plain, tracer.map { t =>
        t.install()
        try runPass(Some(t)) finally t.uninstall()
      })
    }
    val passes = rounds.map(_._1)
    val tracedPasses = rounds.flatMap(_._2)
    val rss = rssPeakMb()

    val recs = warm._2 ++ (passes ++ tracedPasses).flatMap(_._2)
    val failed = recs.count(!_.ok)
    val lat = passes.flatMap(_._2).map(_.wallS)
    // graft.Bench's stall-robust rule: a box stall only ever slows a pass,
    // so each query counts at its best of the run's passes
    val best = passes.flatMap(_._2).groupBy(_.name).values.map(_.map(_.wallS).min).toSeq
    val e2e = Seq(
      "setup_s" -> ("s", setupS),
      "wall_s" -> ("s", passes.map(_._1).min),
      "query_p50_s" -> ("s", hdMedian(best)))

    val layers = mutable.LinkedHashMap.empty[String, (String, Double)]
    Seq("session", "event_log", "catalog", "warmup").foreach { st =>
      layers(s"setup.${st}_s") = ("s", setup.getOrElse(st, 0.0))
    }
    layers("box.calib_s") = ("s", calib)
    layers("box.loadavg") = ("load", load)
    layers("query.samples") = ("count", lat.size.toDouble)
    layers("query_tail_s") = ("s", tail(lat))
    layers("error_rate") = ("ratio", failed.toDouble / math.max(1, recs.size))
    var traceOut: Map[String, Any] = Map.empty
    if (traced) {
      val t = Report.layers(tracedPasses, cores)
      t.metrics.foreach { case (k, v) => layers(k) = v }
      layers("trace.overhead_share") =
        ("ratio", tracedPasses.map(_._1).min / passes.map(_._1).min - 1)
      layers("jvm.rss_peak_mb") = ("MB", rss)
      layers("jvm.heap_peak_mb") = ("MB", heapPeakMb())
      traceOut = t.trace
      t.streamTable.foreach(l => System.err.println(s"[perfbench] $l"))
      t.coverageMisses.foreach(l => System.err.println(s"[perfbench] coverage: $l"))
    }

    // as the passes' sessions resolve it
    val conf = spark.newSession().conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" || k == "spark.local.dir"
    }
    val record = Map(
      "workload" -> w.name, "seed" -> seed, "input" -> w.input, "cores" -> cores,
      "order" -> order, "warmup_pass_s" -> warm._1, "passes" -> passes.size,
      "traced" -> traced,
      "attempted" -> recs.size, "failed" -> failed, "correct" -> (failed == 0),
      "errors" -> errors.toSeq,
      "spark_conf" -> conf, "java" -> System.getProperty("java.version"),
      "setup" -> setup,
      "end_to_end" -> e2e.map { case (k, (u, v)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "per_layer" -> layers.map { case (k, (u, v)) => k -> Map("value" -> v, "unit" -> u) },
      "queries" -> (passes.zipWithIndex.flatMap { case ((_, rs), p) =>
        rs.map(q => Map("name" -> q.name, "module" -> q.module, "pass" -> p,
          "build_s" -> (q.buildEndMs - q.startMs) / 1e3, "wall_s" -> q.wallS, "ok" -> q.ok))
      }))
    Files.createDirectories(Paths.get(opts("out")).getParent)
    Files.writeString(Paths.get(opts("out")), Json.write(record))
    if (traced) Files.writeString(Paths.get(opts("out").stripSuffix(".json") + "-trace.json"),
      Json.write(traceOut))
    Setup.stop(spark)
    if (failed == 0) 0 else 1
  }

  def record(opts: Map[String, String]): Int = {
    val root = opts("root")
    val work = opts("work")
    val sfDir = inputDir(root, opts("input"))
    val dump = opts("dump")
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Setup.session(cores, work)
    spark.sparkContext.setLogLevel("ERROR")
    val fns = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    val names = opts.get("queries").map(_.split(",").toSeq).getOrElse(fns.keys.toSeq.sorted)
    val sigs = mutable.LinkedHashMap.empty[String, String]
    val golden = mutable.LinkedHashMap.empty[String, String]
    names.foreach { name =>
      try {
        fns(name)(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$dump/$name")
        sigs(name) = Signature.of(fns(name)(spark, sfDir))
        if (!oracle.contains(name)) golden(name) = graft.Golden.hash(fns(name)(spark, sfDir))
      } catch {
        case NonFatal(e) =>
          sigs(name) = s"ERROR: $e"
          System.err.println(s"[record] $name failed: $e")
      }
    }
    Files.writeString(Paths.get(s"$dump/oracle_sql.json"),
      Json.write(oracle.filter { case (k, _) => names.contains(k) }))
    Files.writeString(Paths.get(s"$dump/signatures.json"), Json.write(sigs))
    Files.writeString(Paths.get(s"$dump/golden.json"), Json.write(golden))
    Setup.stop(spark)
    0
  }
}
