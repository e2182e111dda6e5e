package graft

import graft.params.SqlStatement
import org.apache.spark.sql.catalyst.expressions.SortOrder

/** Trino NULL-ordering parity on the SQL surface: "The default null
  * ordering is NULLS LAST, regardless of the ordering direction" (Trino
  * docs; DuckDB agrees), while Spark defaults to NULLS FIRST on ASC.
  * The facade's parser gives every ORDER BY item lacking an explicit
  * NULLS clause Trino's default (reference stack behavior —
  * trino.io/docs/current/sql/select.html#order-by-clause), so a nullable
  * sort key orders the way the reference would, while explicit NULLS
  * clauses pass through untouched. One NULL row per fixture unless a
  * later item breaks the tie — relative order WITHIN the null block is
  * unspecified on both engines.
  */
class SqlNullOrderingSpec extends SparkSpec {
  import spark.implicits._

  private def engine(name: String, rows: String): GraftEngine = {
    val e = new GraftEngine(spark, tmpDir(name))
    e.executeNonQuery(SqlStatement("CREATE TABLE demo.t (id bigint, k bigint)"))
    e.executeNonQuery(SqlStatement(s"INSERT INTO demo.t VALUES $rows"))
    e
  }
  private val oneNull = "(1, 10), (2, NULL), (3, 5)"

  private def ids(e: GraftEngine, sql: String): Seq[Long] =
    e.query(SqlStatement(sql)).select("id").as[Long].collect().toSeq

  test("bare ORDER BY: NULLs sort last in BOTH directions (Trino default)") {
    val e = engine("nullord-bare", oneNull)
    assert(ids(e, "SELECT id FROM demo.t ORDER BY k") === Seq(3L, 1L, 2L))
    assert(ids(e, "SELECT id FROM demo.t ORDER BY k ASC") === Seq(3L, 1L, 2L))
    assert(ids(e, "SELECT id FROM demo.t ORDER BY k DESC") === Seq(1L, 3L, 2L))
    // explicit NULLS clauses are the user's choice — untouched
    assert(ids(e, "SELECT id FROM demo.t ORDER BY k NULLS FIRST") === Seq(2L, 3L, 1L))
    assert(ids(e, "SELECT id FROM demo.t ORDER BY k DESC NULLS FIRST") === Seq(2L, 1L, 3L))
  }

  test("clause boundaries: LIMIT, multiple items, subqueries, semicolons") {
    val e = engine("nullord-bounds", oneNull)
    assert(ids(e, "SELECT id FROM demo.t ORDER BY k LIMIT 2") === Seq(3L, 1L))
    assert(ids(e, "SELECT id FROM demo.t ORDER BY k DESC LIMIT 2") === Seq(1L, 3L))
    // an inner ORDER BY gets its own rewrite (nulls-last keeps the two
    // non-null rows in the LIMIT); the outer one too
    assert(ids(e,
      """SELECT id FROM (SELECT id, k FROM demo.t ORDER BY k LIMIT 2) x
        |ORDER BY k DESC""".stripMargin) === Seq(1L, 3L))
    assert(ids(e, "SELECT id FROM demo.t ORDER BY k;") === Seq(3L, 1L, 2L))
    // two NULL rows: the second item breaks the tie inside the null block
    val e2 = engine("nullord-multi", "(1, 10), (2, NULL), (3, 5), (4, NULL)")
    assert(ids(e2, "SELECT id FROM demo.t ORDER BY k, id DESC") ===
      Seq(3L, 1L, 4L, 2L))
  }

  test("window ORDER BY follows the same defaults; frames still parse") {
    val e = engine("nullord-win", oneNull)
    // rank by k ascending: the NULL row ranks LAST (Trino), not first (Spark)
    val r = e.query(SqlStatement(
      """SELECT id, row_number() OVER (ORDER BY k) AS rn FROM demo.t"""))
      .orderBy("rn").select("id").as[Long].collect().toSeq
    assert(r === Seq(3L, 1L, 2L))
    // a frame's ROWS keyword terminates the item scan
    val s = e.query(SqlStatement(
      """SELECT id, sum(coalesce(k, 0)) OVER
        |  (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        |FROM demo.t""".stripMargin))
      .orderBy("id").select("c").as[Long].collect().toSeq
    assert(s === Seq(15L, 15L, 5L)) // nulls last: 5, 15, then the null row
  }

  test("parsed plan: each sort item without NULLS sorts last") {
    // each SortOrder of the parsed plan, in plan order
    def orders(sql: String): Seq[String] =
      TableRefs.parse(sql).flatMap(_.expressions.flatMap(_.collect {
        case s: SortOrder => s"${s.direction.sql} ${s.nullOrdering.sql}"
      }))
    // 'ORDER BY' inside a string literal is no clause
    assert(orders("SELECT 'ORDER BY x' AS s FROM demo.t") === Nil)
    assert(orders("SELECT id FROM demo.t ORDER BY k") === Seq("ASC NULLS LAST"))
    assert(orders("SELECT id FROM demo.t ORDER BY k DESC, id") ===
      Seq("DESC NULLS LAST", "ASC NULLS LAST"))
    assert(orders("SELECT id FROM demo.t ORDER BY coalesce(k, id) DESC LIMIT 1") ===
      Seq("DESC NULLS LAST"))
    // an explicit NULLS clause is the user's choice
    assert(orders("SELECT id FROM demo.t ORDER BY k NULLS FIRST") === Seq("ASC NULLS FIRST"))
    // the ORDER BY of a UNION branch
    assert(orders(
      "(SELECT id FROM demo.t ORDER BY id LIMIT 1) UNION ALL (SELECT id FROM demo.t)") ===
      Seq("ASC NULLS LAST"))
    // columns named like frame keywords
    assert(orders("SELECT id FROM t ORDER BY rows") === Seq("ASC NULLS LAST"))
    assert(orders("SELECT id FROM t ORDER BY range DESC, x LIMIT 2") ===
      Seq("DESC NULLS LAST", "ASC NULLS LAST"))
    // a window frame after the window's ORDER BY
    assert(orders("SELECT sum(v) OVER (ORDER BY k ROWS 2 PRECEDING) FROM t") ===
      Seq("ASC NULLS LAST"))
    // 'ORDER BY' inside a quoted identifier is no clause
    assert(orders("""SELECT "order by weird" FROM t""") === Nil)
    assert(orders("SELECT `order by weird` FROM t") === Nil)
    // an ordinal
    assert(orders("SELECT id, k FROM demo.t ORDER BY 2") === Seq("ASC NULLS LAST"))
  }
}
