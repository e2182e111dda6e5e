package graft

import graft.params.SqlStatement

/** SQL MERGE INTO — the third Trino Iceberg DML verb
  * (https://trino.io/docs/current/sql/merge.html semantics): full-outer
  * clause resolution with first-match-wins, the at-most-one-source-match
  * cardinality rule, 3VL clause predicates, and copy-on-write snapshot
  * commits with an updated+deleted+inserted affected count.
  */
class SqlMergeSpec extends SparkSpec {
  import spark.implicits._

  private def freshEngine(name: String): GraftEngine = {
    val e = new GraftEngine(spark, tmpDir(name))
    e.executeNonQuery(SqlStatement(
      "CREATE TABLE demo.t (id bigint, name varchar, qty bigint)"))
    e.executeNonQuery(SqlStatement(
      "INSERT INTO demo.t VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30)"))
    e
  }

  private def stateOf(e: GraftEngine): Seq[(Long, String, Long)] =
    e.query(SqlStatement("SELECT id, name, qty FROM demo.t ORDER BY id"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq

  test("MERGE upsert: matched rows update, unmatched source rows insert") {
    val e = freshEngine("merge-upsert")
    e.executeNonQuery(SqlStatement(
      "CREATE TABLE demo.src (id bigint, name varchar, qty bigint)"))
    e.executeNonQuery(SqlStatement(
      "INSERT INTO demo.src VALUES (2, 'B', 200), (4, 'd', 400)"))
    val n = e.executeNonQuery(SqlStatement(
      """MERGE INTO demo.t AS t USING demo.src AS s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET name = s.name, qty = s.qty
        |WHEN NOT MATCHED THEN INSERT VALUES (s.id, s.name, s.qty)""".stripMargin))
    assert(n == 2L) // one update + one insert
    assert(stateOf(e) == Seq((1L, "a", 10L), (2L, "B", 200L), (3L, "c", 30L), (4L, "d", 400L)))
    // copy-on-write: pre-merge snapshot still intact
    val pre = e.catalog.snapshots("demo", "t").head.committedAtMillis
    assert(e.catalog.readAsOf("demo", "t", pre).count() == 3)
  }

  test("MERGE WHEN MATCHED AND cond THEN DELETE, first-match-wins across clauses") {
    val e = freshEngine("merge-delete")
    // source matches all three target rows; qty>=30 deletes, others doubled.
    // No explicit target alias: the bare table name is the default alias.
    val n = e.executeNonQuery(SqlStatement(
      """MERGE INTO demo.t USING (SELECT * FROM demo.t) AS s ON t.id = s.id
        |WHEN MATCHED AND t.qty >= 30 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET qty = t.qty * 2""".stripMargin))
    assert(n == 3L)
    assert(stateOf(e) == Seq((1L, "a", 20L), (2L, "b", 40L)))
  }

  test("MERGE first-match-wins: an earlier narrow clause beats a later broad one") {
    val e = freshEngine("merge-priority")
    e.executeNonQuery(SqlStatement(
      "CREATE TABLE demo.u (id bigint, v bigint)"))
    e.executeNonQuery(SqlStatement("INSERT INTO demo.u VALUES (1, 7), (2, 7), (3, 7)"))
    e.executeNonQuery(SqlStatement(
      """MERGE INTO demo.t t USING demo.u u ON t.id = u.id
        |WHEN MATCHED AND t.id = 1 THEN UPDATE SET qty = 111
        |WHEN MATCHED THEN UPDATE SET qty = u.v""".stripMargin))
    assert(stateOf(e) == Seq((1L, "a", 111L), (2L, "b", 7L), (3L, "c", 7L)))
  }

  test("MERGE matched row with no applicable clause passes through unchanged") {
    val e = freshEngine("merge-passthrough")
    val n = e.executeNonQuery(SqlStatement(
      """MERGE INTO demo.t t USING (SELECT 1 AS id) s ON t.id = s.id
        |WHEN MATCHED AND t.qty > 999 THEN DELETE""".stripMargin))
    assert(n == 0L)
    assert(stateOf(e).map(_._1) == Seq(1L, 2L, 3L))
  }

  test("MERGE INSERT with explicit column list NULL-fills unlisted columns") {
    val e = freshEngine("merge-insert-cols")
    val n = e.executeNonQuery(SqlStatement(
      """MERGE INTO demo.t t USING (SELECT 9 AS id, 'z' AS nm) s ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT (id, name) VALUES (s.id, s.nm)""".stripMargin))
    assert(n == 1L)
    assert(stateOf(e).last == ((9L, "z", -1L))) // qty NULL (read back as -1 sentinel)
  }

  test("MERGE NOT MATCHED AND cond filters inserts (3VL: NULL cond does not insert)") {
    val e = freshEngine("merge-insert-cond")
    val n = e.executeNonQuery(SqlStatement(
      """MERGE INTO demo.t t
        |USING (SELECT * FROM VALUES (8, 'h', 80), (9, NULL, 90) AS v(id, nm, q)) s
        |ON t.id = s.id
        |WHEN NOT MATCHED AND s.nm = 'h' THEN INSERT VALUES (s.id, s.nm, s.q)""".stripMargin))
    assert(n == 1L) // NULL predicate on id=9 -> not inserted
    assert(stateOf(e).map(_._1) == Seq(1L, 2L, 3L, 8L))
  }

  test("MERGE cardinality rule: two source matches for one target row error out") {
    val e = freshEngine("merge-cardinality")
    val ex = intercept[GraftQueryException] {
      e.executeNonQuery(SqlStatement(
        """MERGE INTO demo.t t
          |USING (SELECT * FROM VALUES (1, 10), (1, 11) AS v(id, q)) s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET qty = s.q""".stripMargin))
    }
    assert(ex.getMessage.contains("more than one source row"))
    // and the table is untouched (error happened before any commit)
    assert(stateOf(e) == Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)))
  }

  test("MERGE parser rejects invalid clause/action combinations") {
    val e = freshEngine("merge-parse")
    intercept[GraftQueryException] { // matched INSERT
      e.executeNonQuery(SqlStatement(
        "MERGE INTO demo.t t USING demo.t s ON t.id = s.id WHEN MATCHED THEN INSERT VALUES (1, 'x', 1)"))
    }
    intercept[GraftQueryException] { // not-matched DELETE
      e.executeNonQuery(SqlStatement(
        "MERGE INTO demo.t t USING demo.t s ON t.id = s.id WHEN NOT MATCHED THEN DELETE"))
    }
    intercept[GraftQueryException] { // no WHEN clause
      e.executeNonQuery(SqlStatement(
        "MERGE INTO demo.t t USING demo.t s ON t.id = s.id"))
    }
    intercept[GraftQueryException] { // nonexistent table
      e.executeNonQuery(SqlStatement(
        "MERGE INTO demo.nope t USING demo.t s ON t.id = s.id WHEN MATCHED THEN DELETE"))
    }
  }

  test("MERGE ON condition may be non-equi (range match)") {
    val e = freshEngine("merge-nonequi")
    // qty bands: source row (15, 35) matches targets with qty between
    val n = e.executeNonQuery(SqlStatement(
      """MERGE INTO demo.t t USING (SELECT 25 AS lo, 35 AS hi, 'band' AS tag) s
        |ON t.qty >= s.lo AND t.qty <= s.hi
        |WHEN MATCHED THEN UPDATE SET name = s.tag""".stripMargin))
    assert(n == 1L)
    assert(stateOf(e) == Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "band", 30L)))
  }

  test("MERGE with string literals containing keywords parses correctly") {
    val e = freshEngine("merge-quoted")
    val n = e.executeNonQuery(SqlStatement(
      """MERGE INTO demo.t t USING (SELECT 7 AS id) s ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT VALUES (s.id, 'WHEN MATCHED THEN ON', 0)""".stripMargin))
    assert(n == 1L)
    assert(stateOf(e).last == ((7L, "WHEN MATCHED THEN ON", 0L)))
  }

  test("MERGE expressions parse in the Trino dialect (unsized VARCHAR)") {
    val e = freshEngine("merge-dialect")
    val n = e.executeNonQuery(SqlStatement(
      """MERGE INTO demo.t t USING (SELECT 2 AS id, 77 AS v) s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET name = CAST(s.v AS VARCHAR)""".stripMargin))
    assert(n == 1L)
    assert(stateOf(e) == Seq((1L, "a", 10L), (2L, "77", 20L), (3L, "c", 30L)))
  }
}
