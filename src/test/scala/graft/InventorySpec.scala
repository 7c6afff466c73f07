package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The contract between the blueprint and the code: SURVEY.md §2.2's
  * declared-query table rows (`| `query_id` | …`) must be EXACTLY the
  * keys of SparkEntry.queries, and every oracle key must name a declared
  * query. A query added to one side but not the other — the drift this
  * suite exists to catch — would either overstate coverage in the doc or
  * ship an undocumented operator. */
class InventorySpec extends AnyFunSuite {

  private lazy val surveyIds: Set[String] = {
    val src = scala.io.Source.fromFile("SURVEY.md")(scala.io.Codec.UTF8)
    try src.getLines()
      .flatMap("""^\| `([a-z0-9_]+)`""".r.findFirstMatchIn(_))
      .map(_.group(1)).toSet
    finally src.close()
  }

  test("SURVEY.md §2.2 inventory equals SparkEntry.queries exactly") {
    val declared = SparkEntry.queries.keySet
    val docOnly = surveyIds -- declared
    val codeOnly = declared -- surveyIds
    assert(docOnly.isEmpty, s"in SURVEY.md but not implemented: $docOnly")
    assert(codeOnly.isEmpty, s"implemented but missing from SURVEY.md: $codeOnly")
  }

  test("every oracle key names a declared query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL for undeclared queries: $orphans")
  }

  /** Names of the `src/main` Scala files whose text matches `pattern`. */
  private def mainFilesMatching(pattern: String): Set[String] = {
    val re = pattern.r
    val files = Files.walk(Paths.get("src", "main"))
    try files.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => re.findFirstIn(new String(Files.readAllBytes(p), "UTF-8")).isDefined)
      .map(_.getFileName.toString).toSet
    finally files.close()
  }

  // Session knobs and A/B escapes are not options of the engine: only the
  // deployment settings (Bench's fixture dir, the cores in Sessions, the
  // staging roots, the Kafka bootstrap servers and topic) may read the
  // environment or system properties. A new reader must be a deliberate
  // edit of this list.
  test("only deployment settings read sys.env / sys.props") {
    val allowed = Set("Bench.scala", "Sessions.scala", "StageDirs.scala", "KafkaWire.scala")
    val readers = mainFilesMatching("""sys\.(env|props)|System\.(getenv|getProperty)""")
    assert(readers.nonEmpty, "the scan must see src/main")
    assert(readers.subsetOf(allowed),
      s"new sys.env/sys.props readers: ${(readers -- allowed).toSeq.sorted}")
  }

  // Staged input copies go through one memo (StageDirs.staged): a fresh
  // staging dir taken anywhere else in the engine is a hand-rolled memo.
  // The replay runner takes one scratch dir per replay.
  test("only StageDirs and the replay runner take fresh staging dirs") {
    val takers = mainFilesMatching("""StageDirs\.fresh\(""")
    assert(takers.subsetOf(Set("StageDirs.scala", "StreamingLatest.scala")),
      s"hand-rolled staging outside StageDirs.staged: ${takers.toSeq.sorted}")
    val replay = new String(Files.readAllBytes(Paths.get(
      "src", "main", "scala", "graft", "cdc", "StreamingLatest.scala")), "UTF-8")
    assert("""StageDirs\.fresh\(""".r.findAllMatchIn(replay).size == 1,
      "StreamingLatest takes a fresh dir only in its replay runner")
  }

  // Query work is materialized, released and memoized per session through
  // one module (graft.Materialize).
  test("only Materialize materializes, releases or memoizes frames") {
    val sites = mainFilesMatching(
      """localCheckpoint\(|\.cache\(\)|\.persist\(|unpersist\(|ConcurrentHashMap\[\(SparkSession""")
    assert(sites == Set("Materialize.scala"),
      s"materialization outside Materialize: ${(sites - "Materialize.scala").toSeq.sorted}")
  }

  // Every stream runs through one lifecycle, the replay runner.
  test("only the replay runner starts a stream") {
    assert(mainFilesMatching("""\.writeStream""") == Set("StreamingLatest.scala"))
    val replay = new String(Files.readAllBytes(Paths.get(
      "src", "main", "scala", "graft", "cdc", "StreamingLatest.scala")), "UTF-8")
    assert("""\.writeStream""".r.findAllMatchIn(replay).size == 1,
      "StreamingLatest starts a stream only in its replay runner")
  }

  test("only Sessions builds a session") {
    assert(mainFilesMatching("""SparkSession\.builder""") == Set("Sessions.scala"))
  }

  // Session conf is fixed where the session is built (Sessions); a query
  // that needs a different value scopes it with Tuning.withConf, which
  // restores the caller's setting. A bare set elsewhere would leak into
  // every later query of the session.
  test("only Tuning.withConf sets or unsets session conf") {
    assert(mainFilesMatching("""conf\.(set|unset)\(""") == Set("Tuning.scala"))
    val tuning = new String(Files.readAllBytes(Paths.get(
      "src", "main", "scala", "graft", "Tuning.scala")), "UTF-8")
    assert("""conf\.(set|unset)\(""".r.findAllMatchIn(tuning).size == 3,
      "Tuning sets and restores conf only in withConf")
  }

  // The benchmark keeps its own copy of the session profile
  // (perfbench/src/.../Setup.scala): the suite must run the same AQE values.
  test("the suite runs the benchmarked AQE config") {
    val setup = new String(Files.readAllBytes(Paths.get(
      "perfbench", "src", "main", "scala", "graft", "perfbench", "Setup.scala")), "UTF-8")
    val benched = """\.config\("(spark\.sql\.adaptive\.[^"]+)", "([^"]+)"\)""".r
      .findAllMatchIn(setup).map(m => m.group(1) -> m.group(2)).toMap
    assert(benched.size == 3, s"the benchmark's AQE values: $benched")
    benched.foreach { case (k, v) =>
      assert(SparkFixture.spark.conf.get(k) == v, s"$k differs from the benchmark")
    }
  }
}
