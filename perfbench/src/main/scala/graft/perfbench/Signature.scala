package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive result signature, used as every query's timed action:
  * `rows:sum:xor` over a 64-bit hash of each output row. Every output
  * column feeds the hash, so Catalyst cannot prune a computed column the
  * way it can under `count()`.
  *
  * Maps and variants have no Spark hash; they are first rewritten to a
  * hashable canonical form (maps to their entries sorted by key, variants
  * to their JSON text), recursively inside arrays and structs. */
object Signature {
  def of(df: DataFrame): String = {
    val names = df.columns.indices.map(i => s"c$i")
    val renamed = df.toDF(names: _*)
    val cols = renamed.schema.fields.toSeq.map(f => canon(col(f.name), f.dataType))
    val h = (if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)).as("h")
    val r = renamed.select(h)
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))), bit_xor(col("h")))
      .first()
    val total = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    val xor = if (r.isNullAt(2)) 0L else r.getLong(2)
    s"${r.getLong(0)}:$total:$xor"
  }

  private def needsCanon(t: DataType): Boolean = t match {
    case _: MapType | _: VariantType => true
    case ArrayType(e, _) => needsCanon(e)
    case StructType(fs) => fs.exists(f => needsCanon(f.dataType))
    case _ => false
  }

  private def canon(c: Column, t: DataType): Column =
    if (!needsCanon(t)) c else t match {
      case _: VariantType => to_json(c)
      case MapType(k, v, _) =>
        val entry = StructType(Seq(StructField("key", k), StructField("value", v)))
        array_sort(canon(map_entries(c), ArrayType(entry)))
      case ArrayType(e, _) => transform(c, x => canon(x, e))
      case StructType(fs) =>
        when(c.isNull, lit(null)).otherwise(
          struct(fs.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*))
      case _ => c
    }
}
