package graft

/** Dev-only multi-scan sweep (r21 verdict item 6, re-run each round):
  * for every batch query, counts parquet scans, exchanges, and — the
  * actionable signal — the tables whose scan subtree is embedded MORE
  * THAN ONCE in one physical plan (the duplicated-subtree class §7.2
  * that r21's fixes came from). Output is one line per query, sorted by
  * duplicated-scan count then scan count, so the remaining multi-scan
  * tail can be triaged (fix / exempt with reason) instead of re-found.
  * `runMain graft.DevSweep [minDupes]` — default prints everything with
  * at least one duplicated table scan.
  *
  * Same construction-time exclusions as PlanAuditSpec: iterative
  * queries run their jobs during DataFrame construction (their returned
  * plan is a checkpoint scan — nothing to sweep), and cdc_stream_*
  * would run whole streaming jobs. */
object DevSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val minDupes = args.headOption.map(_.toInt).getOrElse(1)
    val spark = Sessions.build()
    val skip = Set("dedup_cluster_canonical", "graph_pagerank",
      "graph_label_propagation", "graph_bfs_distance") ++
      SparkEntry.queries.keys.filter(_.startsWith("cdc_stream_")) + "cdc_state_reader"
    // details-section lines only ("(7) Scan parquet" / "(3) Exchange"):
    // the formatted dump prints each operator twice (tree + details), so
    // tree-line matches would double every count
    val ScanRe = "(?m)^\\(\\d+\\) Scan parquet".r
    val ExchRe = "(?m)^\\(\\d+\\) (?:Exchange|BroadcastExchange)".r
    val Loc = "Location: \\S*InMemoryFileIndex(?:\\(\\d+ paths\\))? ?\\[([^,\\]]+)".r
    val rows = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => skip(n) }
      .flatMap { case (name, fn) =>
        try {
          val qe = fn(spark, sfDir).queryExecution
          val plan = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
          val scans = ScanRe.findAllIn(plan).length
          val exchanges = ExchRe.findAllIn(plan).length
          val perTable = Loc.findAllMatchIn(plan).map(_.group(1))
            .map(p => p.substring(p.lastIndexOf('/') + 1)).toSeq
            .groupBy(identity).map { case (t, os) => t -> os.size }
          val dupes = perTable.filter(_._2 >= 2)
          Some((name, scans, exchanges, dupes))
        } catch { case e: Throwable =>
          System.err.println(s"[sweep] $name FAILED: $e"); None
        }
      }
    println(f"${"query"}%-30s ${"scans"}%5s ${"exchg"}%5s  duplicated-table scans")
    rows.sortBy { case (_, s, _, d) => (-d.values.sum, -s) }
      .filter { case (_, _, _, d) => d.values.sum >= minDupes || minDupes == 0 }
      .foreach { case (name, s, e, d) =>
        val ds = if (d.isEmpty) "-"
          else d.toSeq.sortBy(_._1).map { case (t, c) => s"$t x$c" }.mkString(", ")
        println(f"$name%-30s $s%5d $e%5d  $ds")
      }
    spark.stop()
  }
}
