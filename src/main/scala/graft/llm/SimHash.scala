package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}

/** SimHash near-duplicate detection (Charikar random-hyperplane sketch in
  * its Manku/Jain/Sarma web-dedup form): each document gets a 64-bit
  * fingerprint whose bits are the signs of per-bit vote sums over feature
  * hashes; near-duplicates differ in few bits.
  *
  * Deterministic: features are word 3-shingles hashed with xxhash64 (no
  * RNG anywhere).
  *
  * Scale path: candidate generation splits the 64-bit fingerprint into 4
  * 16-bit chunks — documents within hamming distance 3 must share at
  * least one chunk (pigeonhole), so the pair search is an equi-join on
  * (chunk_idx, chunk_value), never an O(n²) scan. The 64 per-bit vote
  * sums are one hash aggregate with map-side partial combine.
  */
object SimHash {
  val Bits = 64
  val Chunks = 4
  val ChunkBits: Int = Bits / Chunks
  val MaxHamming = 3

  /** doc_id -> 64-bit simhash fingerprint. One custom bit-vote aggregate
    * ([[graft.functions.SimHashVoteAgg]]) per key: bit b is set iff ones
    * outnumber zeros among the feature hashes — a single
    * map-side-combined pass whose shuffle carries one 520-byte buffer
    * per key (the 65-column declarative version it replaced spent more
    * time compiling its generated update function than aggregating). */
  def fingerprints(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(MinHash.shingleHashesCol(col("text"))).as("h"))
      .groupBy(col("doc_id"))
      .agg(graft.functions.SimHashFunctions.simhash_agg(col("h")).as("simhash"))

  /** `dedup_simhash`: near-dup pairs at hamming distance <= MaxHamming.
    * Declared without a SQL oracle (bit-vote aggregation is not sanely
    * SQL-expressible); SimHashSpec asserts exact-dup recall and agreement
    * with the MinHash pair set. */
  def dedupSimhash(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // materialize the fingerprint table once — both banded join sides
    // re-derive it otherwise (explode + bit-vote shuffle ×2)
    val fp = Materialize.reuse(fingerprints(Tables.documents(spark, sfDir)))
    val chunkCols = (0 until Chunks).map { i =>
      struct(lit(i).as("chunk_idx"),
        shiftright($"simhash", i * ChunkBits).bitwiseAND(lit((1L << ChunkBits) - 1))
          .as("chunk_val"))
    }
    val banded = fp
      .select($"doc_id", $"simhash", explode(array(chunkCols: _*)).as("c"))
      .select($"doc_id", $"simhash", $"c.chunk_idx".as("chunk_idx"), $"c.chunk_val".as("chunk_val"))
    val a = banded.select($"doc_id".as("doc_a"), $"simhash".as("sim_a"), $"chunk_idx", $"chunk_val")
    val b = banded.select($"doc_id".as("doc_b"), $"simhash".as("sim_b"), $"chunk_idx", $"chunk_val")
    a.join(b, Seq("chunk_idx", "chunk_val"))
      .filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b", $"sim_a", $"sim_b")
      .dropDuplicates("doc_a", "doc_b")
      .select($"doc_a", $"doc_b",
        bit_count($"sim_a".bitwiseXOR($"sim_b")).cast("int").as("hamming"))
      .filter($"hamming" <= MaxHamming)
      .orderBy($"doc_a", $"doc_b")
  }
}
