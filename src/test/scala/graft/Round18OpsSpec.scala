package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-18 mechanism guards: direct unit coverage for the golden-hash
  * rendering, the state-partition derivation and the replica stamp
  * signature.
  *
  * (1) [[Golden]]'s canonical rendering claims INJECTIVITY (r17 advisor
  * low): a string value containing a structural delimiter must never
  * alias a differently-shaped result into the same hash, because the 42
  * golden pins are only as strong as that property. Each case below is
  * a pair of frames whose canonical forms COLLIDED under the pre-r18
  * unquoted rendering; the pins would have been blind to a drift
  * between them.
  *
  * (2) The streaming state-partition count derives from the replayed
  * volume ([[Tuning.statePartitions]]).
  *
  * (3) `StageDirs.srcSig` must key replica memo stamps on the part files
  * INSIDE a fixture directory, not the directory inode's mtime (r17
  * advisor low): a file rewritten without touching the directory entry
  * must still invalidate the stamp. */
class Round18OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  // ── (1) Golden canonical-form injectivity ──────────────────────────

  test("golden hash: delimiter-carrying strings cannot alias across columns") {
    val s = spark
    import s.implicits._
    // pre-r18 both rendered the line  a=x|b=y|b=z
    val df1 = Seq(("x|b=y", "z")).toDF("a", "b")
    val df2 = Seq(("x", "y|b=z")).toDF("a", "b")
    assert(Golden.hash(df1) != Golden.hash(df2))
  }

  test("golden hash: the string \"∅\" cannot alias SQL null") {
    val s = spark
    import s.implicits._
    val asNull = Seq(Option.empty[String]).toDF("v")
    val asText = Seq("∅").toDF("v")
    assert(Golden.hash(asNull) != Golden.hash(asText))
  }

  test("golden hash: container renderings cannot alias equal-looking strings") {
    val s = spark
    import s.implicits._
    // each left/right pair rendered identically before strings were
    // JSON-quoted: "[1,2]" vs array(1,2); "{1→2}" vs map(1→2);
    // "0x0a" vs the single byte 0x0a
    assert(Golden.hash(Seq("[1,2]").toDF("v")) !=
      Golden.hash(Seq(Seq(1, 2)).toDF("v")))
    assert(Golden.hash(Seq("{1→2}").toDF("v")) !=
      Golden.hash(Seq(Map("1" -> "2")).toDF("v")))
    assert(Golden.hash(Seq("0x0a").toDF("v")) !=
      Golden.hash(Seq(Array[Byte](0x0a)).toDF("v")))
  }

  test("golden hash: escape sequences are themselves injective") {
    val s = spark
    import s.implicits._
    // the literal control char 0x01 renders as the escape text
    // \u0001; the six-char TEXT "\u0001" must render with its
    // backslash itself escaped (\\u0001), not collide with it
    val ctl = 1.toChar.toString
    val txt = "\\" + "u0001"
    assert(Golden.hash(Seq(ctl).toDF("v")) != Golden.hash(Seq(txt).toDF("v")))
    assert(Golden.hash(Seq("a\"b").toDF("v")) !=
      Golden.hash(Seq("a\\\"b").toDF("v")))
  }

  test("golden hash: row order, partitioning and column order cannot move it") {
    val s = spark
    import s.implicits._
    val base = Seq((1L, "x|y"), (2L, "∅"), (3L, null: String)).toDF("id", "v")
    val h = Golden.hash(base)
    assert(Golden.hash(base.orderBy($"id".desc)) == h)
    assert(Golden.hash(base.repartition(7, $"v")) == h)
    assert(Golden.hash(base.select($"v", $"id")) == h)
  }

  // ── (2) streaming state-partition derivation ───────────────────────

  test("statePartitions: fixture volumes land on the pre-r18 floor of 4; large replays scale") {
    // the streaming launch-time twin of roundPartitions: the count is
    // checkpoint-pinned at first start, so the floor must hold at every
    // fixture scale (identical checkpoints/state layouts to the old
    // literal) and the derivation must engage for big replays
    assert(Tuning.statePartitions(0L) == 4)
    assert(Tuning.statePartitions(100000L) == 4)     // sf0.1 events
    assert(Tuning.statePartitions(8000000L) == 4)    // floor edge
    assert(Tuning.statePartitions(8000001L) == 5)
    assert(Tuning.statePartitions(2000000000L) == 1000)
  }

  // ── (3) srcSig stamp signature ──────────────────────────────────────

  test("srcSig keys on part files inside the directory, not the dir inode") {
    val dir = java.nio.file.Files.createTempDirectory("graft-srcsig").toFile
    try {
      val part = new java.io.File(dir, "part-00000")
      java.nio.file.Files.write(part.toPath, "aaaa".getBytes("UTF-8"))
      val sig1 = StageDirs.srcSig(dir.getPath)
      // the directory's own mtime moving must NOT move the signature
      assert(dir.setLastModified(dir.lastModified() - 60000))
      assert(StageDirs.srcSig(dir.getPath) == sig1)
      // a part file rewritten to different content (length) MUST move it,
      // even with the directory entry untouched
      java.nio.file.Files.write(part.toPath, "bbbbbbbb".getBytes("UTF-8"))
      assert(StageDirs.srcSig(dir.getPath) != sig1)
      // and so must a new part file appearing
      val sig2 = StageDirs.srcSig(dir.getPath)
      java.nio.file.Files.write(new java.io.File(dir, "part-00001").toPath,
        "cc".getBytes("UTF-8"))
      assert(StageDirs.srcSig(dir.getPath) != sig2)
    } finally {
      Option(dir.listFiles()).foreach(_.foreach(_.delete())); dir.delete(); ()
    }
  }
}
