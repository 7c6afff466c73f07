package graft.rel

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Columnar/wire-format interop beyond parquet. The engine's primary
  * format is parquet (every fixture table); an analytics-engine claim
  * also needs to WRITE and read back the other mainstream columnar
  * format the runtime ships (ORC), plus the Connect wire format the
  * reference's converter slot defaults to after JSON: Avro. This Spark
  * build carries the avro CORE jars but not the `spark-avro` runtime
  * expressions, so `from_avro`/`to_avro` would fail at run time — the
  * wire round-trip below ([[avroRoundtrip]]) therefore encodes/decodes
  * with `GenericDatumWriter`/`GenericDatumReader` directly, which is
  * the same binary encoding a Connect Avro converter produces. */
object Formats {

  /** `source_csv_roundtrip`: orders written to CSV (header, default
    * comma dialect) and read back under the EXPLICIT source schema —
    * never inference, which is a second full pass and a schema-drift
    * hazard at 100 TB — then aggregated; the oracle computes the SAME
    * aggregate from the original parquet, so a hash match proves the
    * text round-trip lossless across all four column classes: long keys,
    * strings, IEEE doubles (Spark writes shortest-round-trip decimal
    * text), and the NTZ timestamp through its ISO text form (the min/max
    * epoch columns pin it). The copy is a [[graft.StageDirs.staged]]
    * input. */
  def csvRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val src = Tables.orders(spark, sfDir)
    val dir = graft.StageDirs.staged(spark, "graft-csv", sfDir, Seq("orders")) { d =>
      src.write.mode("overwrite").option("header", "true").csv(s"$d/orders")
      d
    }
    spark.read.schema(src.schema).option("header", "true").csv(s"$dir/orders")
      .groupBy($"o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        round(sum($"o_totalprice".cast("decimal(18,4)")).cast("double"), 4)
          .as("sum_price"),
        min($"o_orderkey").as("min_key"),
        max($"o_orderkey").as("max_key"),
        unix_micros(min($"o_orderdate")
          .cast(org.apache.spark.sql.types.TimestampType)).as("min_date_us"),
        unix_micros(max($"o_orderdate")
          .cast(org.apache.spark.sql.types.TimestampType)).as("max_date_us"))
      .orderBy($"o_orderstatus")
  }

  /** `source_orc_roundtrip`: orders written to ORC (zlib default) and
    * read back, then aggregated — the gate's oracle computes the SAME
    * aggregate from the original parquet, so a hash match proves the
    * ORC write/read cycle is lossless, including the NTZ timestamp
    * column surviving as partition of the row (not projected out). The
    * copy is a [[graft.StageDirs.staged]] input, like the streaming
    * event log; repeated consumers pay only the read. */
  def orcRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = graft.StageDirs.staged(spark, "graft-orc", sfDir, Seq("orders")) { d =>
      Tables.orders(spark, sfDir).write.mode("overwrite").orc(s"$d/orders")
      d
    }
    spark.read.orc(s"$dir/orders")
      .groupBy($"o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        round(sum($"o_totalprice".cast("decimal(18,4)")).cast("double"), 4)
          .as("sum_price"),
        min($"o_orderkey").as("min_key"),
        max($"o_orderkey").as("max_key"))
      .orderBy($"o_orderstatus")
  }

  /** Avro record schema for the order wire rows — declared as JSON text
    * (not a Schema object) so the closure ships a string and each
    * partition parses its own instance; `org.apache.avro.Schema` caches
    * are not meant to cross serialization boundaries. */
  private val OrderWireSchema =
    """{"type":"record","name":"OrderWire","namespace":"graft.wire","fields":[
      |{"name":"o_orderkey","type":"long"},
      |{"name":"o_custkey","type":"long"},
      |{"name":"o_orderstatus","type":"string"},
      |{"name":"o_totalprice","type":"double"}]}""".stripMargin

  /** `source_avro_roundtrip`: orders serialized row-by-row to Avro
    * BINARY wire encoding (the reference's Connect converter slot after
    * JSON — connect-standalone.properties:2-3) and deserialized back,
    * then aggregated; the oracle computes the SAME aggregate from the
    * original parquet, so a hash match proves the encode/decode cycle
    * lossless across all four field types (two longs, string, IEEE
    * double). `mapPartitions` is the honest shape here — an opaque
    * per-record byte codec is exactly the imperative-per-partition case
    * Catalyst expressions can't cover — and writer/encoder/decoder/
    * record instances are created once per PARTITION and reused per
    * record (Avro's `binaryEncoder(out, reuse)` contract), so the hot
    * loop allocates only the output byte arrays. At 100 TB this is a
    * narrow map on both sides of an aggregation — no shuffle beyond the
    * final groupBy, no driver involvement. */
  def avroRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
    import org.apache.avro.io.{BinaryDecoder, BinaryEncoder, DecoderFactory, EncoderFactory}

    val schemaJson = OrderWireSchema
    val src = Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus",
        $"o_totalprice".cast("double").as("o_totalprice"))
      .as[(Long, Long, String, Double)]

    val wire = src.mapPartitions { it =>
      val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
      val writer = new GenericDatumWriter[GenericRecord](schema)
      val rec = new GenericData.Record(schema)
      val bos = new java.io.ByteArrayOutputStream(64)
      var enc: BinaryEncoder = null
      it.map { case (key, cust, status, price) =>
        rec.put("o_orderkey", key)
        rec.put("o_custkey", cust)
        rec.put("o_orderstatus", status)
        rec.put("o_totalprice", price)
        bos.reset()
        enc = EncoderFactory.get().binaryEncoder(bos, enc)
        writer.write(rec, enc)
        enc.flush()
        bos.toByteArray
      }
    }

    val decoded = wire.mapPartitions { it =>
      val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
      val reader = new GenericDatumReader[GenericRecord](schema)
      var dec: BinaryDecoder = null
      var rec: GenericRecord = null
      it.map { bytes =>
        dec = DecoderFactory.get().binaryDecoder(bytes, dec)
        rec = reader.read(rec, dec)
        (rec.get("o_orderkey").asInstanceOf[Long],
          rec.get("o_custkey").asInstanceOf[Long],
          rec.get("o_orderstatus").toString,
          rec.get("o_totalprice").asInstanceOf[Double])
      }
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")

    decoded.groupBy($"o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct($"o_custkey").as("n_cust"),
        round(sum($"o_totalprice".cast("decimal(18,4)")).cast("double"), 4)
          .as("sum_price"),
        min($"o_orderkey").as("min_key"),
        max($"o_orderkey").as("max_key"))
      .orderBy($"o_orderstatus")
  }

  /** `source_partitioned_roundtrip`: Hive-style PARTITIONED layout —
    * orders written `partitionBy(o_year)` (one directory per year), then
    * read back with a partition-key predicate. The filter resolves
    * against the directory listing, not the data: `.explain` shows it
    * under PartitionFilters and the executed scan's numFiles metric
    * counts only the matching `o_year=1995/` directory (asserted in
    * FormatsSpec). At 100 TB this is the first and cheapest scan
    * reducer — whole partitions never become tasks, which row-group
    * statistics pushdown (scan_filter_project) cannot do. The oracle
    * aggregates the ORIGINAL parquet under the same predicate, so a
    * hash match proves the partitioned write/read cycle lossless AND
    * the pruning semantics-preserving. */
  /** Orders staged as a Hive-partitioned (`o_year=YYYY/`) parquet tree —
    * a [[graft.StageDirs.staged]] input shared by the pruning queries. */
  private[graft] def stagedPartitionedOrders(spark: SparkSession, sfDir: String): String = {
    import spark.implicits._
    graft.StageDirs.staged(spark, "graft-part", sfDir, Seq("orders")) { d =>
      Tables.orders(spark, sfDir)
        .withColumn("o_year", year($"o_orderdate"))
        .write.mode("overwrite").partitionBy("o_year").parquet(s"$d/orders")
      s"$d/orders"
    }
  }

  def partitionedRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(stagedPartitionedOrders(spark, sfDir))
      .filter($"o_year" === 1995)
      .groupBy($"o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        round(sum($"o_totalprice".cast("decimal(18,4)")).cast("double"), 4)
          .as("sum_price"))
      .orderBy($"o_orderstatus")
  }

  /** `source_text_lines`: the line-oriented `text` source — the format
    * raw corpora actually arrive in before any columnar conversion (one
    * record per line, no schema at all), completing the format matrix
    * (parquet/ORC/Avro/CSV/JSON/binaryFile/bucketed/cached/text). Each
    * document is staged as one `<doc_id>\t<text>` line (the fixture
    * corpus is tab- and newline-free printable ASCII — asserted by the
    * staging filter, not assumed), read back as the single `value`
    * column, parsed with one split bounded to 2 fields, and aggregated
    * per id-bucket with an md5 content digest — the oracle recomputes
    * all of it from the original parquet, so a hash match proves the
    * text write/read cycle lost nothing. At 100 TB this is the
    * ingestion path: line splitting is within-partition, the parse is
    * one projection, and malformed lines would route through the same
    * quarantine pattern as `source_json_corrupt_quarantine`. */
  def textLines(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = graft.StageDirs.staged(spark, "graft-text", sfDir, Seq("documents")) { root =>
      val d = s"$root/docs"
      // the delimiter-safety precondition is CHECKED, not assumed: a
      // corpus with embedded tabs/newlines must fail loudly here, not
      // round-trip corrupted lines; bare \r is a record terminator to
      // Hadoop's line reader too, so it gets the same loud rejection
      val bad = Tables.documents(spark, sfDir)
        .filter($"text".contains("\t") || $"text".contains("\n") ||
          $"text".contains("\r")).count()
      require(bad == 0,
        s"text staging needs a tab/CR/newline-free corpus ($bad violations)")
      Tables.documents(spark, sfDir)
        .select(concat_ws("\t", $"doc_id", $"text").as("value"))
        .write.mode("overwrite").text(d)
      d
    }
    spark.read.text(dir)
      .select(split($"value", "\t", 2).as("p"))
      .select($"p".getItem(0).cast("long").as("doc_id"),
        $"p".getItem(1).as("text"))
      .groupBy(($"doc_id" % 10).as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length($"text")).as("sum_chars"),
        min(md5($"text")).as("min_md5"),
        min($"doc_id").as("min_id"), max($"doc_id").as("max_id"))
      .orderBy($"bucket")
  }

  /** Step 1 of the dynamic-overwrite fixture: orders Hive-partitioned
    * by status. Exposed so the spec can observe the file listing
    * between the two steps. */
  private[graft] def writeStatusPartitioned(spark: SparkSession, sfDir: String,
      dir: String): Unit =
    Tables.orders(spark, sfDir)
      .write.partitionBy("o_orderstatus").mode("overwrite").parquet(dir)

  /** Step 2: DYNAMIC partition overwrite — replace ONLY the 'O'
    * partition (same rows, totalprice doubled, read from the ORIGINAL
    * source, never the target being overwritten); under the default
    * STATIC mode this same mode("overwrite") write would truncate the
    * whole table. */
  private[graft] def dynamicOverwriteO(spark: SparkSession, sfDir: String,
      dir: String): Unit = {
    import spark.implicits._
    graft.Tuning.withConf(spark, "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      Tables.orders(spark, sfDir)
        .filter($"o_orderstatus" === "O")
        .withColumn("o_totalprice", $"o_totalprice" * 2.0)
        .write.partitionBy("o_orderstatus").mode("overwrite").parquet(dir)
    }
  }

  private[graft] def stagedDynOverwrite(spark: SparkSession, sfDir: String): String = {
    graft.StageDirs.staged(spark, "graft-dynow", sfDir, Seq("orders")) { root =>
      val d = s"$root/orders_p"
      writeStatusPartitioned(spark, sfDir, d)
      dynamicOverwriteO(spark, sfDir, d)
      d
    }
  }

  /** `layout_dynamic_overwrite`: dynamic partition overwrite — the
    * partition-granular rewrite every lakehouse maintenance job (GDPR
    * redaction, late-data restatement, backfill) relies on at 100 TB:
    * `partitionOverwriteMode=dynamic` makes `mode("overwrite")` replace
    * ONLY the partitions present in the incoming frame, while static
    * mode would truncate the whole table first. The fixture overwrites
    * the 'O' status partition with doubled totals; the declared query
    * aggregates the final table and the oracle rebuilds it with a CASE
    * on the original parquet — a hash match proves exactly one
    * partition's content changed. Round9OpsSpec additionally asserts at
    * the FILE level that the untouched partitions' files are
    * byte-identical across the overwrite (the no-collateral-damage
    * guarantee that distinguishes dynamic from static). */
  def dynamicOverwrite(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(stagedDynOverwrite(spark, sfDir))
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum($"o_totalprice".cast("decimal(18,4)")).cast("double"), 4)
          .as("sum_price"))
      .orderBy($"o_orderstatus")
  }

  /** `join_dpp_partitioned`: DYNAMIC partition pruning — the star-schema
    * optimization a 100 TB fact table lives or dies by: the partition
    * predicate isn't known at plan time (it's the result of filtering
    * the dim side), so Catalyst injects a runtime subquery
    * (`dynamicpruningexpression` in the fact scan's PartitionFilters)
    * that broadcasts the dim's qualifying years and prunes fact
    * DIRECTORIES before any fact task launches. Here: shipment years
    * 1995-96 (a filtered distinct over lineitem) drive which o_year
    * partitions of the staged fact are read — FormatsSpec asserts the
    * dynamic filter is present and the executed numFiles metric shows
    * the pruning happened. The oracle states the same semantics as a
    * static IN-subquery. */
  def dppJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val fact = spark.read.parquet(stagedPartitionedOrders(spark, sfDir))
    val dim = Tables.lineitem(spark, sfDir)
      .select(year($"l_shipdate").as("ship_year")).distinct()
      .filter($"ship_year".isin(1995, 1996))
    fact.join(broadcast(dim), fact("o_year") === dim("ship_year"))
      .groupBy($"o_year", $"o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        round(sum($"o_totalprice".cast("decimal(18,4)")).cast("double"), 4)
          .as("sum_price"))
      .select($"o_year".cast("long").as("o_year"), $"o_orderstatus",
        $"n_orders", $"sum_price")
      .orderBy($"o_year", $"o_orderstatus")
  }

  /** `source_binaryfile_scan`: the `binaryFile` source — the ingestion
    * path a multimodal corpus actually arrives through at 100 TB (one
    * opaque image/audio/doc file per record, no row format at all).
    * Stages each document's UTF-8 bytes as an individual `.bin` file,
    * written executor-side per partition through the Hadoop `FileSystem`
    * API — the path's filesystem is resolved ON the executor, so a
    * schemeless staging dir lands on the cluster's default fs (HDFS/
    * object store) visible to the later listing, while in local mode it
    * resolves to the local fs with identical behavior (in the real-world
    * case the binary corpus already IS the input and no staging exists),
    * plus one `.tmp` decoy, then reads the directory
    * back with `format("binaryFile")` + `pathGlobFilter`: the decoy is
    * excluded at LISTING time, before any task reads a byte — the
    * binary-corpus analogue of partition pruning (asserted in
    * Round7OpsSpec). Output is one row per file (id from the path,
    * byte length, content digest); the oracle recomputes all three
    * from the original `documents` table, so a hash match proves the
    * file write/list/read cycle byte-lossless. The fixture corpus is
    * small; at scale this layout is the input, not a staging step. */
  def binaryFileScan(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = graft.StageDirs.staged(spark, "graft-bin", sfDir, Seq("documents")) { d =>
      val outPath = s"$d/docs"
      val base = new org.apache.hadoop.fs.Path(outPath)
      val dfs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
      dfs.mkdirs(base)
      // ship the DRIVER's merged Hadoop conf (incl. spark.hadoop.*
      // overrides) to the write tasks — a fresh executor-side
      // Configuration sees only classpath XML, so on a cluster whose
      // default FS/credentials live in Spark conf the executors would
      // write to a different filesystem than this driver-side listing
      val bcConf = org.apache.spark.graftbridge.HadoopConfBridge
        .broadcast(spark.sparkContext)
      graft.Tables.documents(spark, sfDir)
        .select($"doc_id", $"text").as[(Long, String)]
        .foreachPartition { (it: Iterator[(Long, String)]) =>
          // resolve the FileSystem on the EXECUTOR from the broadcast
          // conf; FileSystem instances are task-local, never serialized
          val p = new org.apache.hadoop.fs.Path(outPath)
          val fs = p.getFileSystem(
            org.apache.spark.graftbridge.HadoopConfBridge.conf(bcConf))
          it.foreach { case (id, text) =>
            val out = fs.create(
              new org.apache.hadoop.fs.Path(p, s"doc_$id.bin"), true)
            try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            finally out.close()
          }
        }
      val decoy = dfs.create(
        new org.apache.hadoop.fs.Path(base, "listing-decoy.tmp"), true)
      try decoy.write(Array[Byte](0x7f, 0x45, 0x4c, 0x46))
      finally decoy.close()
      d
    }
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin")
      .load(s"$dir/docs")
      .select(
        regexp_extract($"path", "doc_(\\d+)\\.bin$", 1).cast("long").as("doc_id"),
        $"length".as("n_bytes"),
        md5($"content").as("content_md5"))
      .orderBy($"doc_id")
  }

  /** `source_json_multiline`: multiLine JSON — the OTHER json read mode:
    * line-delimited JSONL (the default, one record per line, splittable
    * within a file) vs one pretty-printed JSON ARRAY per file (the
    * API-export / config-dump shape, `multiLine=true`, parallel only
    * ACROSS files because a file must parse as one value — which is why
    * a 100 TB ingest converts such dumps to JSONL once and the
    * quarantine path `source_json_corrupt_quarantine` handles the rest).
    * Staging renders orders rows to an indented array per partition
    * file; the declared query reads it back under an explicit schema
    * and aggregates; the oracle aggregates the ORIGINAL table — a hash
    * match proves the render/parse cycle lossless across all four field
    * types. */
  def jsonMultiline(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = graft.StageDirs.staged(spark, "graft-mljson", sfDir, Seq("orders")) { d =>
      Tables.orders(spark, sfDir)
        .select(to_json(struct($"o_orderkey", $"o_custkey",
          $"o_orderstatus", $"o_totalprice".cast("double").as("o_totalprice")))
          .as("j"))
        .as[String]
        .mapPartitions { it =>
          // one indented JSON array per partition file (empty
          // partitions yield no file rather than an invalid "[]"-less
          // fragment); embedded newlines are the point of the exercise
          if (it.hasNext) Iterator.single(it.mkString("[\n  ", ",\n  ", "\n]"))
          else Iterator.empty
        }
        .write.mode("overwrite").text(s"$d/mljson")
      s"$d/mljson"
    }
    spark.read
      .option("multiLine", "true")
      .schema("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
      .json(dir)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        countDistinct($"o_custkey").as("n_cust"),
        round(sum($"o_totalprice".cast("decimal(18,4)")).cast("double"), 4)
          .as("sum_price"),
        min($"o_orderkey").as("min_key"), max($"o_orderkey").as("max_key"))
      .orderBy($"o_orderstatus")
  }

  /** JSONL staging shared by [[jsonCorruptQuarantine]] and its spec:
    * one JSON object per line from events, with every line whose
    * `event_id % 17 == 0` made unparseable (leading `#`) — the
    * deterministic stand-in for the malformed records every real 100 TB
    * JSON ingest contains. */
  private[graft] def stagedCorruptJsonl(spark: SparkSession, sfDir: String): String = {
    import spark.implicits._
    graft.StageDirs.staged(spark, "graft-jsonl", sfDir, Seq("events")) { d =>
      Tables.events(spark, sfDir)
        .select($"event_id", $"event_type", $"user_id")
        .withColumn("line", to_json(struct($"event_id", $"event_type", $"user_id")))
        .select(when($"event_id" % 17 === 0, concat(lit("#"), $"line"))
          .otherwise($"line").as("value"))
        .write.mode("overwrite").text(s"$d/events-jsonl")
      s"$d/events-jsonl"
    }
  }

  /** `source_json_corrupt_quarantine`: malformed-record routing on a
    * semi-structured source — the ingest-robustness contract a 100 TB
    * JSON feed is read under: an EXPLICIT schema (inference is a full
    * extra pass and a schema-drift hazard) plus PERMISSIVE mode with
    * `columnNameOfCorruptRecord`, so unparseable lines surface as rows
    * with the raw text in the corrupt column and nulls elsewhere —
    * quarantined and COUNTED, never silently dropped (DROPMALFORMED's
    * failure mode, demonstrated by contrast in Round7OpsSpec) and never
    * job-fatal (FAILFAST's). Output: per-bucket row/parsed-id counts
    * with corrupt lines under `_corrupt`; the oracle reconstructs both
    * from the original table and the deterministic corruption rule. */
  def jsonCorruptQuarantine(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, event_type STRING, user_id BIGINT, _corrupt_record STRING")
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(stagedCorruptJsonl(spark, sfDir))
      .select(when($"_corrupt_record".isNotNull, lit("_corrupt"))
        .otherwise($"event_type").as("bucket"),
        $"event_id")
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_rows"), count($"event_id").as("n_parsed"))
      .orderBy($"bucket")
  }

  /** `source_parquet_merge_schema`: schema-evolution read — a dataset
    * whose older files predate a column addition, read under
    * `mergeSchema=true` so the union schema resolves and the legacy
    * files surface NULLs for the added columns (the evolution mode every
    * long-lived 100 TB table lives in; the footer-merge pass is why
    * mergeSchema is opt-in — here it's the point). The staged copy
    * holds even keys as the v1 schema, odd keys as v2 with
    * `o_year INT` + `o_band STRING` appended. The aggregate pins both
    * populations: `n_with_year` counts exactly the v2 rows, and the v2
    * extras reproduce closed-form from the base table, so the oracle
    * needs only the original parquet. */
  def parquetMergeSchema(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = graft.StageDirs.staged(spark, "graft-mergeschema", sfDir, Seq("orders")) { d =>
      val src = Tables.orders(spark, sfDir)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice", $"o_orderdate")
      src.filter($"o_orderkey" % 2 === 0)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
        .write.mode("overwrite").parquet(s"$d/orders/v1")
      src.filter($"o_orderkey" % 2 === 1)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice",
          year($"o_orderdate").as("o_year"),
          when($"o_totalprice" > 200000.0, "big").otherwise("small").as("o_band"))
        .write.mode("overwrite").parquet(s"$d/orders/v2")
      d
    }
    spark.read.option("mergeSchema", "true")
      .parquet(s"$dir/orders/v1", s"$dir/orders/v2")
      .groupBy($"o_orderstatus")
      .agg(
        count(lit(1)).as("n_rows"),
        count($"o_year").as("n_with_year"),
        count(when($"o_band" === "big", 1)).as("n_big"),
        round(sum($"o_totalprice".cast("decimal(18,4)")).cast("double"), 4)
          .as("sum_price"),
        min($"o_orderkey").as("min_key"))
      .orderBy($"o_orderstatus")
  }

  /** `layout_partition_only_agg`: an aggregate answered ENTIRELY from
    * the directory layout — grouping a partitioned dataset by its
    * partition column reads ZERO data columns (the scan's ReadSchema is
    * empty; row counts come from parquet footers via the batch reader,
    * values from the path). The layout-design payoff this pins: at
    * 100 TB, the freshness dashboard over a date-partitioned table is a
    * metadata-priced query, IF the partition column exists — the same
    * staged layout `source_partitioned_roundtrip` prunes against. The
    * spec asserts the empty ReadSchema, not just the numbers. */
  def layoutPartitionOnlyAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(stagedPartitionedOrders(spark, sfDir))
      .groupBy($"o_year")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy($"o_year")
  }

  /** `source_csv_malformed_permissive`: the CSV twin of the JSON
    * quarantine — a feed where some lines are truncated (too few
    * columns) or carry a non-numeric key, parsed under PERMISSIVE mode
    * with `columnNameOfCorruptRecord`, so every malformed line lands in
    * the quarantine bucket instead of killing the 100 TB job (FAILFAST)
    * or silently vanishing (DROPMALFORMED). Corruption is synthesized
    * deterministically from the key (every 7th line truncated, every
    * 13th key lettered); the oracle reproduces the closed form.
    *
    * The parse rides text-source + `from_csv`, NOT the CSV FileFormat,
    * and that is the trap this query pins: the CSV source's short-row
    * detection is column-pruning-dependent (prune `o_totalprice` out of
    * a downstream aggregate and a line missing only that token silently
    * stops being malformed — the quarantine count CHANGES with the
    * consumer's projection). `from_csv` parses the whole line as one
    * expression, so the corrupt flag is stable under any downstream
    * plan. A short row's PARSED PREFIX columns still surface next to
    * the corrupt-record column — the aggregate counts both
    * populations. */
  def csvMalformedPermissive(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = graft.StageDirs.staged(spark, "graft-badcsv", sfDir, Seq("orders")) { d =>
      Tables.orders(spark, sfDir)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
        .select(
          when($"o_orderkey" % 13 === 0,
            concat(lit("K"), $"o_orderkey".cast("string")))
            .otherwise($"o_orderkey".cast("string")).as("k"),
          $"o_orderstatus".as("s"),
          // price text via the DECIMAL(18,2) render (exact-decimal,
          // scale-preserving in both engines) — a %.2f printf would
          // diverge on ties: Java rounds HALF_UP, C half-to-even
          when($"o_orderkey" % 7 === 0, lit(null: String))
            .otherwise($"o_totalprice".cast("decimal(18,2)").cast("string")).as("p"))
        .select(when($"p".isNull, concat_ws(",", $"k", $"s"))
          .otherwise(concat_ws(",", $"k", $"s", $"p")).as("line"))
        .write.mode("overwrite").text(s"$d/orders_csv")
      d
    }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "o_orderkey LONG, o_orderstatus STRING, o_totalprice DOUBLE, _bad STRING")
    spark.read.text(s"$dir/orders_csv")
      .select(from_csv($"value", schema,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_bad"))
        .as("r"))
      .select($"r.*")
      .groupBy($"o_orderstatus")
      .agg(
        count(lit(1)).as("n_rows"),
        count($"_bad").as("n_quarantined"),
        count($"o_orderkey").as("n_key_parsed"),
        round(sum($"o_totalprice".cast("decimal(18,4)")).cast("double"), 4)
          .as("sum_price_clean"))
      .orderBy($"o_orderstatus")
  }
}
