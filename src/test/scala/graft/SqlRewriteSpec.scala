package graft

import graft.params.Sql._
import graft.params.SqlStatement

/** Table-name binding (catalog refs, time travel) works on the parsed
  * plan, so text inside string literals is never a reference:
  * `SELECT 'FROM demo.t'` with an existing `demo.t` has to pass through
  * byte-identical, and a literal that happens to precede a quoted
  * timestamp must not be read as a time-travel clause. The test names
  * keep the older "rewrite" wording.
  */
class SqlRewriteSpec extends SparkSpec {
  import spark.implicits._

  lazy val engine: GraftEngine = {
    val e = new GraftEngine(spark, tmpDir("graft-rewrite-wh"))
    e.executeNonQuery(sql"CREATE SCHEMA demo")
    e.executeNonQuery(SqlStatement("CREATE TABLE demo.t (id bigint, name varchar)"))
    e.executeNonQuery(SqlStatement("INSERT INTO demo.t VALUES (1, 'one'), (2, 'two')"))
    e
  }

  test("catalog-ref rewrite resolves a real FROM schema.table") {
    val n = engine.query(sql"SELECT COUNT(*) AS n FROM demo.t")
      .as[Long].collect().head
    assert(n == 2L)
  }

  test("catalog-ref text inside a string literal passes through unrewritten") {
    val s = engine.query(sql"SELECT 'FROM demo.t' AS s")
      .as[String].collect().head
    assert(s == "FROM demo.t")
  }

  test("literal + real ref in one statement: only the real ref rewrites") {
    val rows = engine.query(
      sql"SELECT 'JOIN demo.t' AS lit, name FROM demo.t ORDER BY id")
      .as[(String, String)].collect()
    assert(rows.toSeq == Seq(("JOIN demo.t", "one"), ("JOIN demo.t", "two")))
  }

  test("time-travel-shaped text inside a literal is not parsed as time travel") {
    // before masking, the regex saw `demo.t FOR TIMESTAMP AS OF TIMESTAMP
    // ' AS a, '` and exploded parsing ` AS a, ` as a timestamp
    val (a, b) = engine.query(
      sql"SELECT 'demo.t FOR TIMESTAMP AS OF TIMESTAMP ' AS a, '2024-01-01 00:00:00' AS b")
      .as[(String, String)].collect().head
    assert(a == "demo.t FOR TIMESTAMP AS OF TIMESTAMP ")
    assert(b == "2024-01-01 00:00:00")
  }

  test("escaped quotes ('') keep the literal span closed over the whole literal") {
    val s = engine.query(sql"SELECT 'it''s FROM demo.t here' AS s")
      .as[String].collect().head
    assert(s == "it's FROM demo.t here")
  }
}
