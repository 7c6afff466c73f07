package graft

/** Dev-only: measure ANN recall@10 vs the exact cosine top-10 at both
  * gate scales, to pin the spec thresholds on recorded values.
  * Optional args override the measured dirs — pass `target/scale10`
  * (the DevScale replica) to check the band/codebook parameters hold
  * as corpus density grows 10× (r15 verdict item 8), `jit:<m>` to
  * build/reuse the ε-jittered replica ([[DevScale.jitteredEmbeddings]])
  * whose M× ground truth is near-duplicate RANKINGS rather than
  * verbatim clones — the discrimination measurement the r16 caveat
  * asked for (verdict item 3) — or `mix:<m>` for the mixture-CLUSTERED
  * replica ([[DevScale.mixedEmbeddings]]) whose occupancy is skewed
  * into [[DevScale.MixClusters]] clumps: the regime where fixed IVF
  * probe budgets and LSH band counts actually lose recall (r19 verdict
  * item 3). */
object DevRecall {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.build()
    val dirs = if (args.nonEmpty) args.toSeq.map {
        case s if s.startsWith("jit:") =>
          DevScale.jitteredEmbeddings(spark, s.stripPrefix("jit:").toInt)
        case s if s.startsWith("mix:") =>
          DevScale.mixedEmbeddings(spark, s.stripPrefix("mix:").toInt)
        case s => s
      }
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    dirs.foreach { sf =>
      val exact = graft.llm.VectorOps.simTopkCosine(spark, sf).collect()
        .map(_.getAs[Long]("vec_id")).toSet
      val lsh = graft.llm.EmbedLsh.simAnnLsh(spark, sf).collect()
        .map(_.getAs[Long]("vec_id")).toSet
      val ivf = graft.llm.IvfAnn.simAnnIvf(spark, sf).collect()
        .map(_.getAs[Long]("vec_id")).toSet
      val pq = graft.llm.PqAnn.simAnnPq(spark, sf).collect()
        .map(_.getAs[Long]("vec_id")).toSet
      println(s"[recall] $sf lsh=${lsh.intersect(exact).size}/10 ivf=${ivf.intersect(exact).size}/10 pq=${pq.intersect(exact).size}/10")
    }
    spark.stop()
  }
}
