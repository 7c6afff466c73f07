package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.rel.SqlSurface

/** Specs for the pure-SQL surface shapes (recursive CTE, LATERAL,
  * LIMIT/OFFSET). */
class SqlSurfaceSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val sf = SparkFixture.Sf

  test("sql_recursive_cte: calendar is dense (80 months) and counts conserve") {
    val s = spark
    import s.implicits._
    val df = SqlSurface.recursiveCte(spark, sf).cache()
    assert(df.count() == 80, "1995-01 .. 2001-08 inclusive = 80 months")
    val total = df.agg(sum($"n_orders")).collect().head.getLong(0)
    assert(total == Tables.orders(spark, sf).count(),
      "every order lands in exactly one month; densified months add zeros")
    df.unpersist()
  }

  test("join_lateral_topk: lateral row is that customer's max-price order") {
    val s = spark
    import s.implicits._
    val got = SqlSurface.lateralTopk(spark, sf)
    val want = Tables.orders(spark, sf)
      .groupBy($"o_custkey").agg(max($"o_totalprice").as("mx"))
    val viol = got.join(want, got("c_custkey") === want("o_custkey"))
      .filter($"o_totalprice" =!= $"mx").count()
    assert(viol == 0)
    // one row per qualifying customer that has orders
    assert(got.groupBy($"c_custkey").count().filter($"count" > 1).count() == 0)
  }

  test("sort_limit_offset: page 3 equals rows 21-30 of the full ordering") {
    val s = spark
    import s.implicits._
    val page = SqlSurface.sortLimitOffset(spark, sf).collect().map(_.getLong(0))
    val full = Tables.orders(spark, sf)
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(30).collect().map(_.getLong(0)).drop(20)
    assert(page.sameElements(full))
  }

  test("sql_pipe_query: pipe syntax gives the plain formulation's rows") {
    val pipe = SqlSurface.pipeQuery(spark, sf).collect()
      .map(r => (r.getAs[String]("o_orderpriority"), r.getAs[Long]("n_orders"),
        r.getAs[Double]("sum_price"))).toSeq
    val plain = SqlSurface.paramQuery(spark, sf).collect()
      .map(r => (r.getAs[String]("o_orderpriority"), r.getAs[Long]("n_orders"),
        r.getAs[Double]("sum_price"))).toSeq
    assert(pipe == plain, "pipe syntax diverged from the plain query")
    assert(pipe.nonEmpty)
  }

  test("sql_session_variable: variable binds max*0.5 and filters like the literal") {
    val s = spark
    import s.implicits._
    val got = SqlSurface.sessionVariable(spark, sf).agg(sum($"n_orders"))
      .collect().head.getLong(0)
    val orders = Tables.orders(spark, sf)
    val thr = orders.agg(max($"o_totalprice")).collect().head.getDouble(0) * 0.5
    assert(got == orders.filter($"o_totalprice" > thr).count())
  }

  test("sql_exec_immediate: dynamic text + USING equals the static query") {
    val s = spark
    import s.implicits._
    val dyn = SqlSurface.execImmediate(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val static = Tables.customer(spark, sf).filter($"c_acctbal" > 1000.0)
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"), min($"c_custkey").as("mk"))
      .orderBy($"c_mktsegment").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(dyn == static)
  }

  test("sql_udf_scalar: UDF revenue equals the inlined expression") {
    val s = spark
    import s.implicits._
    val got = SqlSurface.sqlUdfScalar(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    val want = Tables.lineitem(spark, sf)
      .filter($"l_shipdate" < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")))
      .groupBy($"l_returnflag")
      .agg(round(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
          .cast("decimal(18,4)")).cast("double"), 4).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"l_returnflag").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(got == want)
  }

  test("sql_udf_table: UDTF token counts equal the explode formulation") {
    val s = spark
    import s.implicits._
    val got = SqlSurface.sqlUdfTable(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = Tables.documents(spark, sf)
      .select(explode(split($"text", " ")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("n"))
      .filter($"n" >= 5).orderBy($"tok").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want && got.nonEmpty)
  }

  test("sql_identifier_clause: parameter-bound table name equals the static query") {
    val s = spark
    import s.implicits._
    val got = SqlSurface.identifierClause(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val want = Tables.orders(spark, sf)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n"),
        round(sum($"o_totalprice".cast("decimal(18,4)")).cast("double"), 4).as("sp"))
      .orderBy($"o_orderstatus").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == want && got.nonEmpty)
  }

  test("table_observe_metrics: observed metrics equal the plain aggregate") {
    val s = spark
    import s.implicits._
    val row = graft.rel.FuncSurface.tableObserveMetrics(spark, sf).collect().head
    val want = Tables.lineitem(spark, sf).agg(
      count(lit(1)),
      sum($"l_quantity".cast("decimal(18,2)")).cast("double"),
      unix_millis(min($"l_shipdate").cast("timestamp")),
      unix_millis(max($"l_shipdate").cast("timestamp"))).collect().head
    assert(row.getLong(0) == want.getLong(0) && row.getDouble(1) == want.getDouble(1)
      && row.getLong(2) == want.getLong(2) && row.getLong(3) == want.getLong(3))
  }

  test("sql_scripting: WHILE-loop accumulation equals the unrolled sum") {
    val s = spark
    import s.implicits._
    val row = SqlSurface.sqlScripting(spark, sf).collect().head
    assert(row.getInt(0) == 1995 && row.getInt(1) == 1997)
    val perYear = (1995 to 1997).map { y =>
      Tables.orders(spark, sf).filter(year($"o_orderdate") === y)
        .agg(sum($"o_totalprice".cast("decimal(18,4)")).cast("double"))
        .collect().head.getDouble(0)
    }
    val want = math.round(perYear.foldLeft(0.0)(_ + _) * 10000) / 10000.0
    assert(row.getDouble(2) == want)
  }

  test("sql_column_default: two runs log no FileNotFoundException and fill the declared defaults") {
    val s = spark
    import s.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    val (log, runs) = LogCapture.during {
      Seq.fill(2)(rows(SqlSurface.columnDefault(spark, sf)))
    }
    assert(!log.contains("FileNotFoundException"), log)
    val o = Tables.orders(spark, sf)
    val want = rows(o.filter($"o_orderkey" % 3 === 0)
        .select(lit("backfill").as("channel"), lit(0).as("priority_boost"),
          $"o_orderkey", $"o_totalprice")
      .unionByName(o.filter($"o_orderkey" % 3 === 1)
        .select(lit("live").as("channel"),
          when($"o_orderpriority" === "1-URGENT", 1).otherwise(0).as("priority_boost"),
          $"o_orderkey", $"o_totalprice"))
      .groupBy($"channel", $"priority_boost")
      .agg(count(lit(1)), min($"o_orderkey".cast("long")),
        sum($"o_totalprice".cast("double").cast("decimal(18,4)")).cast("double"))
      .orderBy($"channel", $"priority_boost"))
    assert(runs.forall(_ == want) && want.nonEmpty)
  }
}
