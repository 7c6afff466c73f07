package graft
/** Dev-only plan auditor: prints formatted plans for named queries. */
object DevExplain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Sessions.build()
    args.foreach { name =>
      println(s"===== $name =====")
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } catch { case e: Throwable => println(s"EXPLAIN FAILED: $e") }
    }
    spark.stop()
  }
}
