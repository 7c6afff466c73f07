package graft.perfbench

import java.nio.file.{Files, Paths}

/** Which module answers each `SparkEntry.queries` key, and which keys each
  * workload runs.
  *
  * The module of a key is read from the entry's own source line
  * (`"key" -> ((s, d) => Object.method(s, d))`), so the table follows the
  * engine instead of a hand-kept copy; `MembershipSpec` checks it covers
  * every key. */
object Inventory {
  /** Engine object → benchmark layer name. */
  val ObjectModule: Map[String, String] = Map(
    "Changelog" -> "cdc", "Envelope" -> "cdc",
    "StreamingLatest" -> "cdc_stream",
    "Relational" -> "rel", "TpchShapes" -> "rel", "SqlSurface" -> "rel",
    "FuncSurface" -> "rel", "Modern" -> "rel", "TypedOps" -> "rel",
    "Formats" -> "rel_io", "Bucketing" -> "rel_io",
    "TextOps" -> "llm_text", "MinHash" -> "llm_text", "SimHash" -> "llm_text",
    "VectorOps" -> "llm_vec", "EmbedLsh" -> "llm_vec", "IvfAnn" -> "llm_vec",
    "PqAnn" -> "llm_vec",
    "GraphOps" -> "llm_graph",
    "MultiModal" -> "mm")

  val Modules: Seq[String] = ObjectModule.values.toSeq.distinct.sorted

  private val Entry = "\"([a-z0-9_]+)\"\\s*->\\s*\\(\\(s, d\\) => ([A-Za-z]+)\\.".r

  /** key → module, parsed from `src/main/scala/graft/SparkEntry.scala`
    * under `srcRoot` (the checkout root). Keys whose object has no layer
    * map to "?" so a coverage check can name them. */
  def moduleTable(srcRoot: String): Map[String, String] = {
    val src = new String(Files.readAllBytes(
      Paths.get(srcRoot, "src", "main", "scala", "graft", "SparkEntry.scala")), "UTF-8")
    Entry.findAllMatchIn(src)
      .map(m => m.group(1) -> ObjectModule.getOrElse(m.group(2), "?")).toMap
  }
}

/** A workload: a fixed query list over one input, plus the engine staging
  * it needs before the first query. `full` is the whole set the list was
  * drawn from (`run.py --list full`). The seed only permutes the order.
  *
  * `passS` is the nominal time of one pass on a 4-core box. A run measures
  * `seconds / passS` passes (at least one), a count fixed by the run length
  * rather than by the clock: a run on a slow moment of a shared box does
  * the same work instead of fewer, less warmed-up passes, and two commits
  * are compared on equal work. */
final case class Workload(name: String, input: String, queries: Seq[String],
    full: Seq[String], setupSteps: Seq[String], passS: Double) {
  def order(seed: Long): Seq[String] = new scala.util.Random(seed).shuffle(queries)
  def passes(seconds: Double): Int = math.max(1, math.round(seconds / passS).toInt)
}

object Workloads {
  /** Every query whose call starts a StreamingQuery (`MembershipSpec`
    * checks this against the listener). */
  def streaming(table: Map[String, String]): Seq[String] =
    table.collect { case (k, "cdc_stream") => k }.toSeq.sorted

  def batch(table: Map[String, String]): Seq[String] =
    table.keys.filterNot(streaming(table).toSet).toSeq.sorted

  /** Every 21st query, from the 7th, of the sorted batch queries that need
    * no staged input copies (modules other than `rel_io`, whose format and
    * bucketing staging takes 10-40 s), less `agg_skew_kurtosis`, which took
    * a fifth of the pass: 11 queries, about 6.5 s a pass. */
  val OlapFixture: Seq[String] = Seq(
    "agg_conditional", "cdc_sessionize", "gen_inline_zip", "join_radius_grid",
    "mm_patch_grid", "q4_order_priority", "sim_knn_join", "sql_udaf_typed",
    "text_edit_distance", "text_tokenize_counts", "window_first_last")

  /** The latest-wins state on the default and on the RocksDB state store,
    * and a stream-stream join: about 7 s a pass. */
  val CdcReplay: Seq[String] = Seq(
    "cdc_stream_stateful", "cdc_stream_stateful_rocksdb", "cdc_stream_join")

  /** Batch queries with oracle twins whose work grows with the data: a
    * six-way join, a window over the event log and iterative k-means;
    * about 16 s a pass over the replica. */
  val BulkX10: Seq[String] = Seq("q5_local_supplier", "cdc_sessionize", "vec_kmeans_lloyd")

  def byName(name: String, table: Map[String, String]): Workload = name match {
    case "olap_fixture" =>
      Workload(name, "sf0.1", OlapFixture, batch(table), Seq("catalog", "warmup"), 6.0)
    case "cdc_replay" =>
      Workload(name, "sf0.1", CdcReplay, streaming(table), Seq("event_log", "warmup"), 6.0)
    case "bulk_x10" =>
      Workload(name, "x10", BulkX10, BulkX10, Seq("warmup"), 15.0)
    case other =>
      throw new IllegalArgumentException(s"unknown workload $other")
  }
}
