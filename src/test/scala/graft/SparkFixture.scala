package graft

import java.nio.file.{Path, Paths}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (Spark startup is ~5s; per-suite
  * sessions would dominate test time). */
object SparkFixture {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", target("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val Sf = "/root/testdata/sf0.001"

  /** `<checkout>/target/<name>`, derived from the test JVM's working
    * directory (sbt forks tests in the project base dir) so a clone or
    * worktree elsewhere writes under its own `target/`. */
  def target(name: String): Path =
    Paths.get(sys.props.getOrElse("user.dir", "."), "target", name)
}
