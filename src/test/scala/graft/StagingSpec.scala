package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.rel.{Bucketing, Formats, SqlSurface}

/** Staged input copies ([[StageDirs.staged]]): built once per Spark
  * context and source signature, superseded copies deleted, and every
  * one pre-built by [[StageDirs.stageAll]]. */
class StagingSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val sf = SparkFixture.Sf

  private def list(dir: Path): List[Path] =
    if (!Files.isDirectory(dir)) Nil
    else { val s = Files.list(dir); try s.iterator().asScala.toList finally s.close() }

  /** Every entry under `<stage root>/jvm-<pid>/`, batch and streaming. */
  private def stagedEntries(): Set[Path] = {
    val mine = s"jvm-${ProcessHandle.current().pid()}"
    Seq(StageDirs.root, StageDirs.streamRoot).flatMap(r => list(r.resolve(mine))).toSet
  }

  private def named(prefix: String, in: Set[Path]): Set[Path] =
    in.filter(_.getFileName.toString.startsWith(prefix))

  /** A private copy of the sf0.001 fixture: a source directory no other
    * test has staged from. */
  private def fixtureCopy(): String = {
    val dir = StageDirs.fresh("fixture-copy")
    list(Paths.get(sf)).foreach(f => Files.copy(f, dir.resolve(f.getFileName)))
    dir.toString
  }

  test("a new session re-stages no staged input") {
    StageDirs.stageAll(spark, sf)
    val before = stagedEntries()
    val s2 = spark.newSession()
    StageDirs.stageAll(s2, sf)
    val added = stagedEntries() -- before
    assert(added.isEmpty,
      s"staged again in a new session: ${added.map(_.getFileName.toString).toSeq.sorted}")
    // the bucketed tables live in the context's catalog: the new session
    // reads the tables the first one staged, inside the staged dir
    val db = Bucketing.bucketedDb(s2, sf)
    def path(uri: String) = Paths.get(new java.net.URI(uri))
    val loc = path(s2.catalog.getDatabase(db).locationUri)
    Seq("orders_b", "lineitem_b").foreach { t =>
      val files = s2.table(s"$db.$t").inputFiles
      assert(files.nonEmpty && files.forall(path(_).startsWith(loc)),
        s"$db.$t files outside the staged location $loc: ${files.toSeq}")
    }
    assert(Bucketing.bucketedJoin(s2, sf).collect().toSeq ==
      Bucketing.bucketedJoin(spark, sf).collect().toSeq)
  }

  test("an in-place regenerated source is re-staged and its superseded copy deleted") {
    val s = spark
    import s.implicits._
    val src = StageDirs.fresh("regen-src").toString
    /** Writes orders and lineitem into `src`, all rows or even keys only. */
    def writeSource(half: Boolean): Unit =
      Seq("orders" -> "o_orderkey", "lineitem" -> "l_orderkey").foreach { case (t, key) =>
        val df = Tables.table(spark, sf, t)
        (if (half) df.filter(col(key) % 2 === 0) else df)
          .write.mode("overwrite").parquet(s"$src/$t.parquet")
      }
    def csvRows() = Formats.csvRoundtrip(spark, src)
      .select($"o_orderstatus", $"n_orders", $"min_key", $"max_key").collect().toSeq
    def csvTruth() = Tables.orders(spark, src).groupBy($"o_orderstatus")
      .agg(count(lit(1)), min($"o_orderkey"), max($"o_orderkey"))
      .orderBy($"o_orderstatus").collect().toSeq
    def bucketRows() = Bucketing.bucketedJoin(spark, src)
      .select($"o_orderpriority", $"n_orders", $"n_items").collect().toSeq
    def bucketTruth() = Tables.orders(spark, src)
      .join(Tables.lineitem(spark, src), $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderpriority")
      .agg(countDistinct($"o_orderkey"), count(lit(1)))
      .orderBy($"o_orderpriority").collect().toSeq
    /** Runs `body` and returns the one `prefix` copy it staged. */
    def stagedBy(prefix: String)(body: => Unit): Path = {
      val before = stagedEntries()
      body
      val added = named(prefix, stagedEntries() -- before)
      assert(added.size == 1, s"expected one new $prefix copy, got $added")
      added.head
    }
    try {
      writeSource(half = false)
      val csv1 = stagedBy("graft-csv")(assert(csvRows() == csvTruth()))
      val bkt1 = stagedBy("graft-bucket")(assert(bucketRows() == bucketTruth()))
      writeSource(half = true)
      val csv2 = stagedBy("graft-csv")(assert(csvRows() == csvTruth(),
        "the CSV copy must follow the regenerated orders"))
      val bkt2 = stagedBy("graft-bucket")(assert(bucketRows() == bucketTruth(),
        "the bucketed tables must follow the regenerated sources"))
      assert(!Files.exists(csv1) && Files.exists(csv2), "the superseded CSV copy must be deleted")
      assert(!Files.exists(bkt1) && Files.exists(bkt2),
        "the superseded bucketed copy must be deleted")
      assert(list(bkt2).nonEmpty, "the re-staged tables must be written into the new staged dir")
    } finally StageDirs.rm(Paths.get(src))
  }

  // The call sites are read from the code, so a staged input added
  // without a warm-up entry fails here instead of inside a timed query.
  test("stageAll pre-builds every staged-input call site in src/main") {
    val site = """StageDirs\.staged\(\s*\w+\s*,\s*"([^"]+)"""".r
    val files = Files.walk(Paths.get("src", "main"))
    val names = try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .flatMap(p => site.findAllMatchIn(new String(Files.readAllBytes(p), "UTF-8")).map(_.group(1)))
      .toSet
    finally files.close()
    assert(names.size >= 14, s"the scan must see the staged-input call sites: $names")
    val copy = fixtureCopy()
    val s2 = spark.newSession()
    StageDirs.stageAll(s2, copy)
    val missing = names.filterNot(StageDirs.isStaged(s2, _, copy))
    assert(missing.isEmpty, s"staged inputs stageAll leaves to the first query: $missing")
  }

  test("sql_column_default reuses one table location across runs") {
    val first = SqlSurface.columnDefault(spark, sf).collect().toSeq
    val locations = named("graft-def", stagedEntries())
    val second = SqlSurface.columnDefault(spark, sf).collect().toSeq
    assert(named("graft-def", stagedEntries()) == locations,
      "a second run must not take a new table location")
    assert(locations.contains(StageDirs.location(spark, "graft-def", sf)))
    assert(second == first && first.nonEmpty, "the recreated table must not keep the old rows")
  }
}
