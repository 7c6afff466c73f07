package graft

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

  // Session knobs and A/B escapes are not options of the engine: only the
  // deployment settings (fixture dir and cores in Bench and Verify, the
  // staging roots, the Kafka bootstrap servers and topic) and the dev
  // mains' own protocol knobs may read the environment or system
  // properties. A new reader must be a deliberate edit of this list.
  test("only deployment settings and dev mains read sys.env / sys.props") {
    val allowed = Set("Bench.scala", "Verify.scala", "StageDirs.scala", "KafkaWire.scala",
      "DevExplain.scala", "DevStress.scala", "DevSweep.scala")
    val reader = """sys\.(env|props)|System\.(getenv|getProperty)""".r
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src", "main"))
    val readers =
      try files.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => reader.findFirstIn(
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).isDefined)
        .map(_.getFileName.toString).toSet
      finally files.close()
    assert(readers.nonEmpty, "the scan must see src/main")
    assert(readers.subsetOf(allowed),
      s"new sys.env/sys.props readers: ${(readers -- allowed).toSeq.sorted}")
  }
}
