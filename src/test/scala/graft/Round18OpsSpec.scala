package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-18 mechanism guards: direct unit coverage for the two
  * correctness-load-bearing helpers this round introduced and for the
  * stamp-signature advisor fix.
  *
  * (1) [[Golden]]'s canonical rendering claims INJECTIVITY (r17 advisor
  * low): a string value containing a structural delimiter must never
  * alias a differently-shaped result into the same hash, because the 42
  * golden pins are only as strong as that property. Each case below is
  * a pair of frames whose canonical forms COLLIDED under the pre-r18
  * unquoted rendering; the pins would have been blind to a drift
  * between them.
  *
  * (2) `dedup_containment`'s length-bucketed posting join computes
  * ⌊log₄ n⌋ with integer bit-length arithmetic because a float log at
  * n = 4^k could round across the bucket edge and silently prune a
  * legitimate pair. The planted fixture puts container docs EXACTLY at
  * the 4² and 4³ bucket boundaries with containment exactly at the 0.8
  * threshold — the coordinates where such a rounding bug (or an
  * off-by-one in the replication range) deletes output — and asserts
  * the bucketed form against both the flat form and the hand-computed
  * truth. This is the in-suite twin of the `DevStress containment`
  * equality assertion, which only runs on salted replicas out-of-suite.
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

  // ── (2) containment bucket-edge fixture ────────────────────────────

  test("dedup_containment: 4^k bucket-boundary pairs at exactly τ survive the bucketed join") {
    val s = spark
    import s.implicits._
    // disjoint vocab per group so the only shingle overlaps are the
    // planted prefixes; ShingleSize=3 ⇒ a w-word doc has w−2 shingles
    def words(group: String, w: Int): String =
      (0 until w).map(i => s"${group}tok$i").mkString(" ")
    val docs = Seq(
      // group g1: container at n=16 (exactly 4², the g4 bucket edge),
      // contained at n=20 with ceil(0.8·20)=16 ⇒ containment 16/20 = τ
      (1L, words("g1", 22)), (2L, words("g1", 18)),
      // group g2: same shape one bucket up — 64 = 4³ of 80
      (3L, words("g2", 82)), (4L, words("g2", 66)),
      // group g3: container one shingle SHORT of the gate (15 < 16):
      // (5,6) must not pair; (6,5) is full containment 15/15
      (5L, words("g3", 22)), (6L, words("g3", 17)))
    val dir = java.nio.file.Files.createTempDirectory("graft-cont-edge").toFile
    try {
      docs.toDF("doc_id", "text")
        .select($"doc_id", $"text", lit("en").as("lang"),
          lit("planted").as("source"), length($"text").cast("long").as("n_chars"))
        .write.mode("overwrite").parquet(s"${dir.getPath}/documents.parquet")
      def rows(lengthBucketed: Boolean): Set[(Long, Long, Double)] =
        graft.llm.TextOps.dedupContainment(spark, dir.getPath,
            lengthBucketed = lengthBucketed)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val bucketed = rows(lengthBucketed = true)
      val expected = Set(
        (1L, 2L, 0.8), (2L, 1L, 1.0),
        (3L, 4L, 0.8), (4L, 3L, 1.0),
        (6L, 5L, 1.0))
      assert(bucketed == expected,
        s"bucketed output diverged from the hand-computed truth: $bucketed")
      assert(rows(lengthBucketed = false) == expected,
        "flat form diverged from the hand-computed truth")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  // ── (2b) streaming state-partition derivation ───────────────────────

  test("statePartitions: fixture volumes land on the pre-r18 floor of 4; large replays scale") {
    // the streaming launch-time twin of roundPartitions: the count is
    // checkpoint-pinned at first start, so the floor must hold at every
    // fixture scale (identical checkpoints/state layouts to the old
    // literal) and the derivation must engage for big replays.
    // statePartitions honors a sys-prop/env override chain (the A/B
    // reproduction knob) — pin the sys-prop layer around the derivation
    // asserts so a leaked graft.statePartitions from another test (or a
    // SPARK_GRAFT_STATE_PARTITIONS in the ambient environment, which a
    // JVM can't unset) can't fail them spuriously, then restore it
    val saved = sys.props.remove("graft.statePartitions")
    try {
      if (sys.env.contains("SPARK_GRAFT_STATE_PARTITIONS")) {
        // env layer is active and unclearable in-JVM: assert the
        // derivation through roundPartitions directly (same math,
        // no override chain) and the override through statePartitions
        assert(Tuning.statePartitions(0L) ==
          sys.env("SPARK_GRAFT_STATE_PARTITIONS").trim.toInt)
      } else {
        assert(Tuning.statePartitions(0L) == 4)
        assert(Tuning.statePartitions(100000L) == 4)     // sf0.1 events
        assert(Tuning.statePartitions(8000000L) == 4)    // floor edge
        assert(Tuning.statePartitions(8000001L) == 5)
        assert(Tuning.statePartitions(2000000000L) == 1000)
        // the sys-prop override layer wins over the derivation…
        sys.props("graft.statePartitions") = "17"
        assert(Tuning.statePartitions(2000000000L) == 17)
        // …and a malformed/non-positive override fails descriptively,
        // not with a bare NumberFormatException
        for (bad <- Seq("banana", "0", "-3", "")) {
          sys.props("graft.statePartitions") = bad
          val e = intercept[IllegalArgumentException] {
            Tuning.statePartitions(100L)
          }
          assert(e.getMessage.contains("positive integer"),
            s"override '$bad' should name the knob and constraint: ${e.getMessage}")
        }
      }
      // the derivation itself, independent of any override layer
      assert(Tuning.roundPartitions(0L) == 4)
      assert(Tuning.roundPartitions(8000000L) == 4)
      assert(Tuning.roundPartitions(8000001L) == 5)
      assert(Tuning.roundPartitions(2000000000L) == 1000)
    } finally {
      sys.props.remove("graft.statePartitions")
      saved.foreach(v => sys.props("graft.statePartitions") = v)
    }
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
