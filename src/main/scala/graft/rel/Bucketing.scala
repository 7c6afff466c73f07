package graft.rel

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** Bucketed co-located joins — the storage-layout half of the scale
  * story: write both fact tables bucketed (and sorted) by the join key
  * and the join needs **no shuffle exchange at all** — each task
  * sort-merge-joins bucket i of one table against bucket i of the other.
  * At 100 TB this converts the biggest shuffle in the workload
  * (orders⋈lineitem) into a map-side join; the same mechanism backs the
  * reference's partition-key clustering (`PRIMARY KEY(customer_id,
  * order_id)` — partition key routes, clustering key sorts;
  * README.md:96-103).
  *
  * Demonstrated (and plan-asserted) in BucketingSpec rather than shipped
  * as a declared query: the driver's query surface reads the immutable
  * test parquet, while bucketing is a property of how *derived* tables
  * are written.
  */
object Bucketing {
  val NumBuckets = 8

  /** Write orders + lineitem as bucketed, in-bucket-sorted tables. */
  def writeBucketed(spark: SparkSession, sfDir: String, db: String): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    Tables.orders(spark, sfDir).write
      .bucketBy(NumBuckets, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable(s"$db.orders_b")
    Tables.lineitem(spark, sfDir).write
      .bucketBy(NumBuckets, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable(s"$db.lineitem_b")
  }

  /** The co-located join: revenue per order, no Exchange in the plan. */
  def colocatedJoin(spark: SparkSession, db: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    spark.table(s"$db.orders_b")
      .join(spark.table(s"$db.lineitem_b"), $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderkey")
      .agg(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
        .cast(DecimalType(18, 4))).cast(DoubleType).as("revenue"))
      .orderBy($"o_orderkey")
  }

  /** Bucketed orders+lineitem, a [[graft.StageDirs.staged]] input;
    * returns the database name. The pre-write `repartition(NumBuckets, key)`
    * matters: HashPartitioning and the bucket-id function share the same
    * Murmur3-pmod mapping, so each write task holds exactly ONE bucket's
    * rows → one file per bucket → the scan side needs neither a shuffle
    * NOR a sort (multiple files per bucket would force a per-bucket
    * sort back into the plan). */
  private[graft] def bucketedDb(spark: SparkSession, sfDir: String): String =
    graft.StageDirs.staged(spark, "graft-bucket", sfDir, Seq("orders", "lineitem")) { loc =>
      val db = "graft_bkt_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_")
      // the database lives at the staged dir (StageDirs lifecycle): the
      // default warehouse dir persists across JVMs while the in-memory
      // catalog does not, so a stale table location from a dead run
      // would block saveAsTable. A re-stage drops the database first,
      // or the catalog would keep the superseded (deleted) location and
      // the tables would be written outside the staged dir
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
      spark.sql(s"CREATE DATABASE $db LOCATION '$loc'")
      Tables.orders(spark, sfDir)
        .repartition(NumBuckets, org.apache.spark.sql.functions.col("o_orderkey"))
        .write.bucketBy(NumBuckets, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable(s"$db.orders_b")
      Tables.lineitem(spark, sfDir)
        .repartition(NumBuckets, org.apache.spark.sql.functions.col("l_orderkey"))
        .write.bucketBy(NumBuckets, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable(s"$db.lineitem_b")
      db
    }

  /** `layout_bucketed_join`: the pre-bucketed co-located join as a
    * declared query — the last classic scan-side layout op after
    * z-order/compaction/DPP: both fact tables are written
    * `bucketBy(8, orderkey).sortBy(orderkey)` (staged, like the
    * compaction fixture), and the orders⋈lineitem join then
    * plans a SortMergeJoin with ZERO exchange below it — bucket i joins
    * bucket i map-side, which at 100 TB converts the workload's largest
    * shuffle into pure scan work (BucketingSpec pins the plan shape:
    * SMJ, no `Exchange hashpartitioning` under the join,
    * `SelectedBucketsCount` present). The per-order revenue aggregate
    * also reuses the bucket distribution (no exchange); only the final
    * 5-row priority rollup shuffles. The oracle runs the same join+agg
    * on the ORIGINAL parquet — a hash match proves the bucketed layout
    * changed the plan, not the data. */
  def bucketedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val db = bucketedDb(spark, sfDir)
    spark.table(s"$db.orders_b")
      .select($"o_orderkey", $"o_orderpriority")
      .join(spark.table(s"$db.lineitem_b")
        .select($"l_orderkey", $"l_extendedprice", $"l_discount"),
        $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderkey", $"o_orderpriority")
      .agg(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
        .cast(DecimalType(18, 4))).as("rev_dec"),
        count(lit(1)).as("n_items"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum($"n_items").as("n_items"),
        round(sum($"rev_dec").cast(DoubleType), 4).as("revenue"))
      .orderBy($"o_orderpriority")
  }

  private val cachedDims =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** The customer dim pinned in Spark's in-memory columnar cache, once
    * per (session, sfDir); materialized eagerly so the declared query
    * reads the cache, not the build. */
  private[graft] def cachedCustomer(spark: SparkSession, sfDir: String): DataFrame = {
    // evicted frames are unpersisted eagerly EVEN for live sessions
    // (releaseLive): CacheManager holds a strong ref, so a dropped memo
    // reference alone would pin executor storage until session stop —
    // and a persist()-backed frame rebuilds lazily from lineage, so the
    // eager release is safe for any concurrent holder (unlike the
    // localCheckpoint-backed memos, which keep the default)
    graft.SessionCache.prune(cachedDims, (spark, sfDir),
      releaseLive = true)(_.unpersist())
    cachedDims.computeIfAbsent((spark, sfDir), _ => {
      val df = Tables.customer(spark, sfDir)
        .select(org.apache.spark.sql.functions.col("c_custkey"),
          org.apache.spark.sql.functions.col("c_nationkey"),
          org.apache.spark.sql.functions.col("c_mktsegment"),
          org.apache.spark.sql.functions.col("c_acctbal"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      df.count()
      df
    })
  }

  /** `layout_cached_scan`: the in-memory columnar cache as a layout
    * op — the standard treatment for a hot dimension that every query
    * in a workload touches (at 100 TB you cache DIMS, not facts: the
    * customer projection here is a few MB per executor, and the cache
    * is compressed columnar batches served without parquet decode or
    * fs round-trips). The declared query aggregates the CACHED frame
    * (per market segment × nation: customer count, exact decimal
    * balance sum) through a broadcast nation join; Round9OpsSpec pins
    * `InMemoryTableScan` in the executed plan — proof the cache, not
    * the file, served the scan. The oracle recomputes from the
    * original parquet: a hash match proves the cache layer changed the
    * physical source, never the values. */
  def cachedScan(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val nat = Tables.nation(spark, sfDir).select($"n_nationkey", $"n_name")
    cachedCustomer(spark, sfDir)
      .join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
      .groupBy($"c_mktsegment", $"n_name")
      .agg(count(lit(1)).as("n_cust"),
        round(sum($"c_acctbal".cast(DecimalType(18, 4))).cast(DoubleType), 4)
          .as("sum_bal"))
      .orderBy($"c_mktsegment", $"n_name")
  }

  /** The Morton/z-value of two 16-bit coordinates as a column expression
    * (bit i of x → bit 2i, bit i of y → bit 2i+1): pure shifts/masks, so
    * it stays inside whole-stage codegen and costs one projection. */
  private[graft] def zValueExpr(x: String, y: String): String =
    (0 until 16).map(i =>
      s"(shiftleft(shiftright($x, $i) & 1, ${2 * i}) + " +
      s"shiftleft(shiftright($y, $i) & 1, ${2 * i + 1}))").mkString(" + ")

  /** `layout_zorder_cluster`: multi-dimensional data clustering — the
    * Z-ORDER layout step a 100 TB table needs when queries filter on TWO
    * keys (order AND part): interleave the keys' bits into a Morton
    * z-value, cluster by its range, and every cluster covers a NARROW
    * range of BOTH dimensions — so min/max file statistics prune scans
    * on either predicate (a single-key sort gives pruning on one
    * dimension and nothing on the other). The query emits the per-bucket
    * locality report (top-8-z-bits bucket → count + min/max of both
    * 16-bit coordinates); BucketingSpec asserts each bucket's span is
    * ≤ 2^12 in BOTH dims — the file-skipping guarantee. The layout
    * action itself is `repartitionByRange(z).sortWithinPartitions(z)`
    * before the write; the z arithmetic is identical. */
  def zorderCluster(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    Tables.lineitem(spark, sfDir)
      .select(pmod($"l_orderkey", lit(65536L)).as("xk"),
        pmod($"l_partkey", lit(65536L)).as("yk"))
      .withColumn("z", expr(zValueExpr("xk", "yk")))
      .withColumn("bucket", expr("z div 16777216"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_rows"),
        min($"xk").as("min_x"), max($"xk").as("max_x"),
        min($"yk").as("min_y"), max($"yk").as("max_y"))
      .orderBy($"bucket")
  }

  /** `layout_compact_files`: small-file compaction — the maintenance
    * operation every streaming/CDC ingest path owes its readers at
    * 100 TB: micro-batches leave thousands of tiny files whose
    * per-file open/footer cost eventually dominates scans. Stage a
    * deliberately fragmented copy of lineitem (64 shards), then
    * compact: `repartitionByRange(l_orderkey)` (re-established key
    * clustering → per-file min/max stats prune again, same motivation
    * as the z-order layout) + `maxRecordsPerFile` (bounds the large
    * end; the range partitioning bounds the small end). The declared
    * query aggregates the COMPACTED copy and the oracle aggregates
    * the ORIGINAL table — a hash match proves compaction rewrote the
    * layout, not the data. BucketingSpec asserts the mechanics: file
    * count collapses 64 → ≤8, every file respects maxRecordsPerFile,
    * and per-file l_orderkey ranges are pairwise disjoint (via the
    * `_metadata.file_name` hidden column — the pruning guarantee). */
  def compactFiles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    spark.read.parquet(compactedDir(spark, sfDir))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        sum($"l_quantity".cast(DecimalType(18, 4))).cast(DoubleType).as("sum_qty"),
        min($"l_orderkey").as("min_key"), max($"l_orderkey").as("max_key"))
      .orderBy($"l_returnflag")
  }

  /** Staged fragmented → compacted lineitem copies; returns the
    * compacted directory. Exposed for the spec's file-level
    * assertions. */
  private[graft] def compactedDir(spark: SparkSession, sfDir: String): String =
    graft.StageDirs.staged(spark, "graft-compact", sfDir, Seq("lineitem")) { d =>
      val src = Tables.lineitem(spark, sfDir)
      // the "damage": 64 hash-scattered shards, the layout a
      // key-partitioned micro-batch ingest leaves behind
      src.repartition(64).write.mode("overwrite").parquet(s"$d/fragmented")
      val rowsPerFile = math.max(1L, src.count() / 4)
      spark.read.parquet(s"$d/fragmented")
        .repartitionByRange(4, org.apache.spark.sql.functions.col("l_orderkey"))
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", rowsPerFile)
        .parquet(s"$d/compacted")
      s"$d/compacted"
    }

  /** `layout_rebalance_write`: AQE-rebalanced skew-proof write — the
    * layout answer when the NATURAL write key is heavily skewed:
    * `repartition(l_returnflag)` would put each of the 3 flag values in
    * ONE fat task/file (the classic skewed-writer stall, and at 100 TB
    * a multi-GB file no reader parallelizes), while the `REBALANCE(key)`
    * hint lets AQE split oversized key partitions into
    * advisory-byte-sized pieces AND coalesce tiny ones — key-clustered
    * layout without key-sized files. The advisory size is pinned low
    * during staging so the mechanism is exercised at fixture scale
    * (production keeps the 64 MB default); Round10OpsSpec asserts every
    * flag's rows land in ≥2 files (the split happened) with no file
    * over the advisory ceiling's row equivalent. The declared query
    * aggregates the re-read staged copy; the oracle aggregates the
    * ORIGINAL lineitem — a hash match proves rebalancing moved bytes,
    * never values. */
  def rebalanceWrite(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    spark.read.parquet(rebalancedDir(spark, sfDir))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        sum($"l_quantity".cast(DecimalType(18, 4))).cast(DoubleType).as("sum_qty"),
        min($"l_orderkey").as("min_key"), max($"l_orderkey").as("max_key"))
      .orderBy($"l_returnflag")
  }

  /** Staged REBALANCE(l_returnflag) copy of lineitem; exposed for the
    * spec's file-level balance assertions. */
  private[graft] def rebalancedDir(spark: SparkSession, sfDir: String): String =
    graft.StageDirs.staged(spark, "graft-rebal", sfDir, Seq("lineitem")) { d =>
      // AQE on, and the advisory size pinned LOW so the skew-split
      // mechanism is exercised even at the sf0.001 smoke fixture
      // (whose per-flag shuffle blocks compress to a few KB);
      // production keeps the 64 MB default. Both are pinned so the
      // copy, shared by every session of the context, does not depend
      // on the staging session's conf
      graft.Tuning.withConf(spark, "spark.sql.adaptive.enabled" -> "true",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2048") {
        // AQE splits a rebalance partition at MAPPER-BLOCK granularity,
        // and an adjacent repartition(8) would just COLLAPSE into the
        // rebalance exchange (leaving the smoke fixture's single-file
        // scan = one mapper = nothing to split), so the many-mapper
        // reality of a production shuffle is staged as 8 physical
        // shard files first — the same "damage" idiom compactFiles
        // uses, here modeling a normal multi-file input
        Tables.lineitem(spark, sfDir)
          .select(org.apache.spark.sql.functions.col("l_orderkey"),
            org.apache.spark.sql.functions.col("l_returnflag"),
            org.apache.spark.sql.functions.col("l_quantity"))
          .repartition(8)
          .write.mode("overwrite").parquet(s"$d/shards")
        graft.Views.withTemp(spark)(
          "graft_rebal_src" -> spark.read.parquet(s"$d/shards")) { v =>
          spark.sql(
            s"SELECT /*+ REBALANCE(l_returnflag) */ * FROM ${v("graft_rebal_src")}")
        }.write.mode("overwrite").parquet(s"$d/rebalanced")
      }
      s"$d/rebalanced"
    }
}
