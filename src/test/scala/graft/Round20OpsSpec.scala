package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-20 mechanism guards.
  *
  * (1) `StreamingLatest.cleanupCkpt` reaches `StateStore.unloadAll()`
  * by reflection (compile-time `private[sql]`, bytecode-public) to close
  * RocksDB native stores before checkpoint deletion — the r19 SIGSEGV
  * fix. A Spark upgrade that renames the object or method would
  * otherwise fail INSIDE a RocksDB query teardown; this pins the lookup
  * at a named test (r19 verdict item 4).
  *
  * (2) The mixture-clustered embedding replica (`DevScale.mixReplica`,
  * the r19-verdict item-3 occupancy fixture) must be deterministic
  * (rebuild-identical — the recall rows in SCALE.md are only
  * reproducible if the fixture is), keep replica 0 pristine (the probe
  * and the IVF seed centroids keep their base geometry), and actually
  * CLUSTER: same-cluster replicated vectors must be far more aligned
  * than cross-cluster ones, else the "clustered occupancy" measurement
  * would silently run on a uniform corpus.
  */
class Round20OpsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkFixture.spark
  private val sf = SparkFixture.Sf

  private val mixDirA =
    java.nio.file.Files.createTempDirectory("r20-mix-a").toString
  private val mixDirB =
    java.nio.file.Files.createTempDirectory("r20-mix-b").toString

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(new java.io.File(mixDirA))
    rm(new java.io.File(mixDirB))
    super.afterAll()
  }

  test("the StateStore.unloadAll reflective lookup in cleanupCkpt resolves") {
    // mirrors the exact lookup unloadStateStores performs — if Spark renames
    // either piece, this fails here instead of inside a query teardown
    val ss = Class.forName(
      "org.apache.spark.sql.execution.streaming.state.StateStore$")
    val m = ss.getMethod("unloadAll")
    assert(m != null)
    val module = ss.getField("MODULE$").get(null)
    assert(module != null, "StateStore companion MODULE$ must exist")
    // RESOLVABILITY ONLY — deliberately not invoked (r20 advisor): the
    // method is JVM-global, and invoking it here would unload a
    // concurrently running streaming suite's providers mid-query if
    // suite parallelism were ever enabled. The rename pin needs only the
    // lookup: Class.getMethod resolves public members only, so the
    // successful lookup above already proves the member stayed public
    // in bytecode — no separate isPublic assert (it would be
    // tautological; r21 advisor).
  }

  test("LSH probe-radius escape: masks are exactly the Hamming ball, default untouched") {
    import graft.llm.EmbedLsh
    // radius 1: the exact bucket + one mask per bit
    assert(EmbedLsh.probeMasks == 0 +: (0 until EmbedLsh.BitsPerTable).map(1 << _),
      "masks must be Hamming-0 plus every single-bit flip")
  }

  test("mixReplica is deterministic, replica-0-pristine, and genuinely clustered") {
    val s2 = spark
    import s2.implicits._
    DevScale.mixReplica(spark, sf, mixDirA, 3)
    DevScale.mixReplica(spark, sf, mixDirB, 3)
    def load(dir: String): Map[Long, Seq[Float]] =
      spark.read.parquet(s"$dir/embeddings.parquet")
        .select($"vec_id", $"embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val a = load(mixDirA)
    assert(a == load(mixDirB), "mixture replica must be rebuild-identical")
    // replica 0 (vec_id < 1e6) is byte-identical to the source
    val src = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(a.filter(_._1 < 1000000L) == src, "replica 0 must stay pristine")
    // clustering: mean cosine within a cluster ≫ across clusters for
    // the replicated (i > 0) vectors; cluster = pmod(hash(vec_id), K)
    // exactly as the generator assigns it
    val rep = spark.read.parquet(s"$mixDirA/embeddings.parquet")
      .filter($"vec_id" >= 1000000L)
      .select($"vec_id",
        pmod(hash($"vec_id"), lit(DevScale.MixClusters)).as("cluster"),
        $"embedding")
    val pairs = rep.toDF("ida", "ca", "ea")
      .join(rep.toDF("idb", "cb", "eb"), $"ida" < $"idb")
      .select(($"ca" === $"cb").as("same"),
        (graft.llm.VectorOps.dot($"ea", $"eb") /
          (graft.llm.VectorOps.l2Norm($"ea") * graft.llm.VectorOps.l2Norm($"eb")))
          .as("cos"))
      .groupBy($"same").agg(avg($"cos").as("mean_cos"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(pairs(true) > 0.35,
      s"within-cluster mean cosine ${pairs(true)} too low — fixture not clustered")
    assert(pairs(true) - pairs(false) > 0.3,
      s"within ${pairs(true)} vs cross ${pairs(false)} — clusters not separated")
  }
}
