package graft

import org.apache.spark.sql.DataFrame

/** Canonical result hashing for the no-oracle exempt queries.
  *
  * The driver's DuckDB gate cannot check the 14 exempt queries (sketch
  * estimates, binary payloads, ANN indexes — no DuckDB analog), so each
  * is property- or golden-pinned in the suite instead. This helper turns
  * a result frame into one order-insensitive hash so the WHOLE output
  * can be pinned as a constant (Round17OpsSpec): every exempt query is a
  * pure function of fixture + in-plan seeds, so a Spark or DataSketches
  * upgrade that silently shifts any value fails at test time instead of
  * drifting unnoticed (r16 verdict item 4).
  *
  * Canonical form: columns sorted by name, every value rendered
  * recursively (binary as hex, arrays/maps/structs element-wise, floats
  * via their shortest-repr toString — deterministic for identical bits),
  * rows rendered then SORTED before hashing, so partitioning and output
  * order cannot move the hash. The rendering is INJECTIVE (r17 advisor
  * note): strings are JSON-quoted-and-escaped, so a value containing a
  * structural delimiter (`|`, `,`, `=`, `→`) or the literal null marker
  * `∅` can never collide with the structure around it — two distinct
  * results cannot share a canonical form. Every other scalar renders
  * from a quote-free alphabet (digits, `-.:TZ eE`, booleans), and the
  * unquoted `∅` is reachable only from SQL null. */
object Golden {

  private def quote(s: String): String =
    s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case c if c < ' '  => f"\\u${c.toInt}%04x"
      case c             => c.toString
    }.mkString("\"", "", "\"")

  private def fmt(v: Any): String = v match {
    case null => "∅"
    case s: String => quote(s)
    case b: Array[Byte] => "0x" + b.map(x => f"$x%02x").mkString
    case s: Seq[_] => s.map(fmt).mkString("[", ",", "]")
    case a: Array[_] => a.map(fmt).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => fmt(k) + "→" + fmt(x) }
        .sorted.mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row =>
      r.toSeq.map(fmt).mkString("(", ",", ")")
    case x => x.toString
  }

  /** First 16 hex chars of the SHA-256 over the canonical form. */
  def hash(df: DataFrame): String = {
    val cols = df.columns.sorted
    val proj = df.select(cols.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
    val lines = proj.collect()
      .map(r => cols.indices.map(i => cols(i) + "=" + fmt(r.get(i))).mkString("|"))
      .sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().take(8).map(x => f"$x%02x").mkString
  }
}
