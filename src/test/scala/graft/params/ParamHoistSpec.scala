package graft.params

import graft.{GraftEngine, SparkSpec}
import graft.params.Sql._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Encoders, GraftPlanBridge, Row}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.{ExplainMode, FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

final case class PointRow(lOrderkey: Long, lLinenumber: Int, lQuantity: Double)
final case class CustRow(oOrderkey: Long, lLinenumber: Int, lQuantity: Double)
final case class KeyCount(lOrderkey: Long, n: Long)

/** Comparison literals in filters are read from the generated class's
  * references, so statements that differ only in a value share one
  * compiled class ([[ParamHoist]]).
  */
class ParamHoistSpec extends SparkSpec {
  private implicit val pointEnc: org.apache.spark.sql.Encoder[PointRow] = Encoders.product[PointRow]
  private implicit val custEnc: org.apache.spark.sql.Encoder[CustRow] = Encoders.product[CustRow]
  private implicit val countEnc: org.apache.spark.sql.Encoder[KeyCount] = Encoders.product[KeyCount]

  /** lineitem range-clustered on l_orderkey into 16 files, and orders. */
  private lazy val engine: GraftEngine = {
    val e = new GraftEngine(spark, tmpDir("graft-param-wh"))
    e.executeNonQuery(sql"CREATE SCHEMA IF NOT EXISTS p")
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
    e.catalog.createTable("p", "lineitem", li.schema)
    e.catalog.insert("p", "lineitem",
      li.repartitionByRange(16, col("l_orderkey")).sortWithinPartitions("l_orderkey"))
    val ord = spark.read.parquet(s"$sf001/orders.parquet")
    e.catalog.createTable("p", "orders", ord.schema)
    e.catalog.insert("p", "orders", ord)
    e.executeNonQuery(sql"USE p")
    e
  }

  // the model: the corpus rows, collected
  private lazy val lines: Seq[(Long, Int, Double)] =
    spark.read.parquet(s"$sf001/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_quantity").collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
  private lazy val custOf: Map[Long, Long] =
    spark.read.parquet(s"$sf001/orders.parquet").select("o_orderkey", "o_custkey")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec        => nodes(s.plan)
    case other                    => other +: other.children.flatMap(nodes)
  }

  /** Hoisted literals in the filters of `df`'s executed plan (run first). */
  private def hoisted(df: DataFrame): Seq[Literal] = {
    df.collect()
    nodes(df.queryExecution.executedPlan).collect { case f: FilterExec => f.condition }
      .flatMap(_.collect { case p: ParamLiteral => p.literal })
  }

  private def sameRows[A](got: Seq[A], want: Seq[A]): Unit =
    assert(got.sortBy(_.toString) == want.sortBy(_.toString))

  private def point(k: Long) =
    sql"SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_orderkey = $k"
  private def range(lo: Long) =
    sql"SELECT SUM(l_quantity) FROM lineitem WHERE l_orderkey BETWEEN $lo AND ${lo + 200}"
  private def join(c: Long) =
    sql"SELECT o_orderkey, l_linenumber, l_quantity FROM orders JOIN lineitem ON l_orderkey = o_orderkey WHERE o_custkey = $c"
  private def having(n: Long) =
    sql"SELECT l_orderkey, COUNT(*) AS n FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) > $n"
  private def inList(k: Long) =
    sql"SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_orderkey IN ($k, ${k + 1}, ${k + 2})"

  // one statement shape: (statement for a value, run and check it)
  private val shapes: Seq[(String, Long => SqlStatement, Long => Unit)] = Seq(
    ("point", point, k => sameRows(engine.queryAs[PointRow](point(k)),
      lines.filter(_._1 == k).map(PointRow.tupled))),
    ("range", range, lo => assert(engine.queryScalar[Double](range(lo)) ==
      Some(lines.filter(l => l._1 >= lo && l._1 <= lo + 200).map(_._3).sum).filter(_ > 0))),
    ("join", join, c => sameRows(engine.queryIterator[CustRow](join(c)).toSeq,
      lines.filter(l => custOf.get(l._1).contains(c)).map(l => CustRow(l._1, l._2, l._3)))),
    ("having", having, n => sameRows(engine.queryAs[KeyCount](having(n)),
      lines.groupBy(_._1).map { case (k, ls) => KeyCount(k, ls.size.toLong) }
        .filter(_.n > n).toSeq)),
    ("in-list", inList, k => sameRows(engine.queryAs[PointRow](inList(k)),
      lines.filter(l => l._1 >= k && l._1 <= k + 2).map(PointRow.tupled))))

  // two values per shape, each with matching rows in the sf0.001 corpus
  // (order keys 0-1499, customer keys 0-149)
  private val values = Map("point" -> (1L, 32L), "range" -> (100L, 900L),
    "join" -> (19L, 112L), "having" -> (5L, 3L), "in-list" -> (33L, 65L))

  for ((name, stmt, run) <- shapes) {
    test(s"$name: a statement that differs only in its value compiles nothing") {
      val (first, second) = values(name)
      run(first)
      val before = compiles
      run(second)
      assert(compiles - before == 0, s"$name compiled ${compiles - before} classes")
      assert(hoisted(engine.query(stmt(second))).nonEmpty, s"$name hoisted nothing")
    }
  }

  test("2,000 distinct-key lookups add at most one shape's compiles") {
    engine.queryAs[PointRow](point(0L))
    val before = compiles
    (1L to 2000L).foreach(k => engine.queryAs[PointRow](point(k)))
    // one shape compiles at most twice: once on the driver, once in a task
    assert(compiles - before <= 2, s"${compiles - before} compiles for one shape")
  }

  test("a point lookup on the 16-file table still reads 1 file with pushed filters") {
    val df = engine.query(point(37L))
    assert(hoisted(df).map(_.value) == Seq(37L))
    val scans = nodes(df.queryExecution.executedPlan).collect { case s: FileSourceScanExec => s }
    assert(scans.map(_.metrics("numFiles").value) == Seq(1L))
    assert(scans.head.metadata("PushedFilters").contains("EqualTo(l_orderkey,37)"),
      scans.head.metadata("PushedFilters"))
    // the scan keeps real literals for bounds, bloom and parquet pruning
    assert(scans.head.dataFilters.forall(_.find(_.isInstanceOf[ParamLiteral]).isEmpty))
  }

  test("EXPLAIN text is byte-identical to planning without the rewrite") {
    // exchange ids come from a global counter, so two plannings differ there
    def explain(df: DataFrame, mode: String): String =
      df.queryExecution.explainString(ExplainMode.fromString(mode))
        .replaceAll("plan_id=\\d+", "plan_id=N")
    for ((name, stmt, _) <- shapes) {
      val df = engine.query(stmt(values(name)._1))
      // same analyzed plan, planned in a session without the rewrite
      val plain = GraftPlanBridge.ofRows(spark.newSession(), GraftPlanBridge.planOf(df))
      for (mode <- Seq("simple", "formatted"))
        assert(explain(df, mode) == explain(plain, mode), s"$name $mode")
      assert(hoisted(df).nonEmpty, name)
    }
  }

  test("a streaming aggregation still plans with the streaming strategies") {
    engine // the rewrite is installed with the engine
    val dir = tmpDir("graft-param-stream")
    spark.read.parquet(s"$sf001/lineitem.parquet").select("l_orderkey", "l_linenumber")
      .repartition(3).write.parquet(s"$dir/in")
    // one file per micro-batch: the counts are right only if state carries over
    val q = spark.readStream.schema("l_orderkey BIGINT, l_linenumber INT")
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
      .filter(col("l_linenumber") > 3).groupBy("l_linenumber").count()
      .writeStream.outputMode("complete").format("memory").queryName("param_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination(120000) finally q.stop()
    val got = spark.table("param_stream").collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == lines.filter(_._2 > 3).groupBy(_._2).map { case (n, ls) => n -> ls.size.toLong })
  }

  test("null, string and decimal literals are not hoisted") {
    val a = AttributeReference("a", LongType)()
    val s = AttributeReference("s", StringType)()
    val d = AttributeReference("d", DecimalType(10, 2))()
    val kept = Seq[Expression](
      EqualTo(a, Literal(null, LongType)),
      EqualNullSafe(a, Literal(null, LongType)),
      EqualTo(s, Literal("x")),
      LessThan(d, Literal(Decimal(BigDecimal("1.50")), DecimalType(10, 2))),
      In(s, Seq(Literal("x"), Literal("y"))))
    kept.foreach(e => assert(ParamHoist.hoist(e) == e, e))
    val in = ParamHoist.hoist(In(a, Seq(Literal(1L), Literal(null, LongType))))
    assert(in == In(a, Seq(ParamLiteral(Literal(1L)), Literal(null, LongType))))
    // a literal that is not a comparison operand stays inline
    val arith = EqualTo(Add(a, Literal(1L)), a)
    assert(ParamHoist.hoist(arith) == arith)
  }

  test("hoisted literals keep every value: a model of the collected table agrees") {
    // column -> (SQL type, values; null = NULL)
    val columns: Seq[(String, String, Seq[String])] = Seq(
      ("b", "TINYINT", Seq("-128", "0", "7", "127", null)),
      ("s", "SMALLINT", Seq("-32768", "-1", "300", "32767", null)),
      ("i", "INT", Seq("-2147483648", "0", "42", "2147483647", null)),
      ("l", "BIGINT", Seq("-9223372036854775808", "-1", "37376", "9223372036854775807", null)),
      ("f", "FLOAT", Seq("NaN", "-0.0", "0.0", "1.5", "-Infinity", null)),
      ("d", "DOUBLE", Seq("NaN", "-0.0", "0.0", "2.5", "Infinity", "-1.0E300", null)),
      ("dt", "DATE", Seq("1969-07-20", "1900-01-01", "1970-01-01", "2024-02-29", null)),
      ("ts", "TIMESTAMP", Seq("1969-12-31 23:59:59.999999", "1970-01-01 00:00:00.000001",
        "2024-02-29 12:34:56.123456", "1900-01-01 00:00:00", null)),
      ("ntz", "TIMESTAMP_NTZ", Seq("1969-12-31 23:59:59.999999", "1970-01-01 00:00:00.000001",
        "2024-02-29 12:34:56.123456", "1900-01-01 00:00:00", null)))
    val nRows = columns.map(_._3.size).max
    def lit(v: String, t: String) = if (v == null) s"CAST(NULL AS $t)" else s"CAST('$v' AS $t)"
    val rowsSql = (0 until nRows).map { r =>
      (s"$r" +: columns.map { case (_, t, vs) => lit(vs.lift(r).orNull, t) }).mkString("(", ", ", ")")
    }
    val dir = tmpDir("graft-param-values")
    spark.sql(s"SELECT * FROM VALUES ${rowsSql.mkString(", ")} AS v(id, ${columns.map(_._1).mkString(", ")})")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("param_values")
    engine // the rewrite is installed with the engine
    val table: Seq[Row] = spark.table("param_values").collect().toSeq

    // Spark's comparison semantics: NaN equals NaN and sorts above every
    // other value; -0.0 equals 0.0
    def cmp(x: Any, y: Any): Int = (x, y) match {
      case (a: Float, b: Float)   => if (a == b) 0 else java.lang.Float.compare(a, b)
      case (a: Double, b: Double) => if (a == b) 0 else java.lang.Double.compare(a, b)
      case (a: java.sql.Date, b: java.sql.Date) => a.toLocalDate.compareTo(b.toLocalDate)
      case (a: Comparable[Any] @unchecked, b) => a.compareTo(b)
    }
    val ops: Seq[(String, Int => Boolean)] = Seq("=" -> (_ == 0), "<>" -> (_ != 0),
      "<" -> (_ < 0), "<=" -> (_ <= 0), ">" -> (_ > 0), ">=" -> (_ >= 0), "<=>" -> (_ == 0))
    for ((c, t, vs) <- columns) {
      val probes = vs.filter(_ != null)
      for (p <- probes) {
        val pv = spark.sql(s"SELECT ${lit(p, t)}").head().get(0)
        for ((op, holds) <- ops) {
          val df = spark.sql(s"SELECT id FROM param_values WHERE $c $op ${lit(p, t)}")
          val got = df.collect().map(_.getInt(0)).sorted.toSeq
          val want = table.filter(r => !r.isNullAt(r.fieldIndex(c)) &&
            holds(cmp(r.get(r.fieldIndex(c)), pv))).map(_.getInt(0)).sorted
          assert(got == want, s"$c $op $p")
          assert(hoisted(df).nonEmpty, s"$c $op $p was not hoisted")
        }
      }
      val in = spark.sql(s"SELECT id FROM param_values WHERE $c IN (${probes.take(2).map(lit(_, t)).mkString(", ")})")
      val inVals = probes.take(2).map(p => spark.sql(s"SELECT ${lit(p, t)}").head().get(0))
      assert(in.collect().map(_.getInt(0)).sorted.toSeq == table.filter(r =>
        !r.isNullAt(r.fieldIndex(c)) && inVals.exists(v => cmp(r.get(r.fieldIndex(c)), v) == 0))
        .map(_.getInt(0)).sorted, s"$c IN")
      assert(hoisted(in).size == 2, s"$c IN")
    }
  }
}
