package graft

import graft.params.SqlStatement

/** How the facade resolves table names: the statement is parsed once and
  * every relation the snapshot catalog owns is bound in the plan — every
  * FROM item (comma lists, joins, subqueries, CTE bodies), qualified or
  * bare under USE, aliased or qualified by its own name. A WITH name
  * shadows a table of the same name, names the catalog does not own
  * reach Spark untouched, and no read leaves a temp view behind.
  */
class SqlTableRefsSpec extends SparkSpec {
  import spark.implicits._

  private def freshEngine(name: String): GraftEngine = {
    val e = new GraftEngine(spark, tmpDir(name))
    e.executeScript(
      """CREATE TABLE demo.a (id bigint, v varchar);
        |INSERT INTO demo.a VALUES (1, 'a1'), (2, 'a2');
        |CREATE TABLE demo.b (id bigint, w varchar);
        |INSERT INTO demo.b VALUES (1, 'b1')""".stripMargin)
    e
  }

  private def idW(e: GraftEngine, sql: String): Seq[(Long, String)] =
    e.query(SqlStatement(sql)).as[(Long, String)].collect().toSeq

  test("a comma-separated FROM list binds every catalog table") {
    val e = freshEngine("refs-comma")
    assert(idW(e, "SELECT a.id, w FROM demo.a a, demo.b b WHERE a.id = b.id") ===
      Seq((1L, "b1")))
  }

  test("a WITH name shadows the catalog table of the same name") {
    val e = freshEngine("refs-cte")
    e.executeNonQuery(SqlStatement("USE demo"))
    assert(e.query(SqlStatement("WITH a AS (SELECT 99 AS id) SELECT id FROM a"))
      .as[Int].collect().toSeq === Seq(99))
    // a CTE body still reads the catalog, and a later CTE sees an earlier one
    assert(e.query(SqlStatement(
      """WITH x AS (SELECT id FROM a), b AS (SELECT id FROM x WHERE id > 1)
        |SELECT count(*) FROM b""".stripMargin)).as[Long].head() === 1L)
    // a qualified name is never a CTE reference
    assert(e.query(SqlStatement(
      "WITH a AS (SELECT 99 AS id) SELECT count(*) FROM demo.a")).as[Long].head() === 2L)
  }

  test("a materialized view records only the catalog tables it reads, not its CTE names") {
    val e = freshEngine("refs-cte-mv")
    e.executeNonQuery(SqlStatement("USE demo"))
    e.executeNonQuery(SqlStatement(
      "CREATE MATERIALIZED VIEW demo.mvc AS WITH a AS (SELECT id, w FROM b) SELECT id FROM a"))
    assert(e.catalog.materializedViewMeta("demo", "mvc").get._2.keySet === Set("demo.b"))
    // a commit to the shadowed table does not make the view stale
    e.executeNonQuery(SqlStatement("INSERT INTO demo.a VALUES (3, 'a3')"))
    assert(e.catalog.staleSources("demo", "mvc").isEmpty)
    assert(MvIncremental.classify(spark, "WITH a AS (SELECT id, w FROM b) SELECT id FROM a",
      Set(("demo", "b")), "demo") === None)
  }

  test("a table's own name qualifies its columns, bare or schema-qualified") {
    val e = freshEngine("refs-qualifier")
    assert(idW(e, "SELECT a.id, w FROM demo.a JOIN demo.b ON a.id = b.id") === Seq((1L, "b1")))
    assert(idW(e, "SELECT demo.a.id, w FROM demo.a JOIN demo.b ON demo.a.id = b.id") ===
      Seq((1L, "b1")))
    e.executeNonQuery(SqlStatement("USE demo"))
    assert(idW(e, "SELECT a.id, w FROM a JOIN b ON a.id = b.id") === Seq((1L, "b1")))
  }

  test("a self-join of one catalog table") {
    val e = freshEngine("refs-self")
    assert(idW(e, "SELECT x.id, y.v FROM demo.a x JOIN demo.a y ON x.id = y.id ORDER BY x.id") ===
      Seq((1L, "a1"), (2L, "a2")))
  }

  test("names the catalog does not own pass through to Spark") {
    val e = freshEngine("refs-passthrough")
    e.registerView("refs_tv", Seq(7L, 8L).toDF("id"))
    e.registerTable("demo", "a")
    def n(sql: String) = e.query(SqlStatement(sql)).as[Long].head()
    assert(n("SELECT count(*) FROM refs_tv") === 2L)
    assert(n("SELECT count(*) FROM demo_a") === 2L)
    assert(n("SELECT count(*) FROM range(5)") === 5L)
    assert(n("SELECT count(*) FROM refs_tv t JOIN demo.a a ON t.id = a.id + 6") === 2L)
  }

  test("Trino quoting: \"…\" is an identifier, literals and comments stay as written") {
    val e = freshEngine("refs-quoting")
    assert(idW(e, """SELECT "id", "v" FROM demo."a" WHERE id = 1""") === Seq((1L, "a1")))
    assert(e.query(SqlStatement("""SELECT 1 AS "x""y"""")).columns.toSeq === Seq("x\"y"))
    assert(e.query(SqlStatement("""SELECT 'say "hi" to demo.a$files' AS s"""))
      .as[String].head() === """say "hi" to demo.a$files""")
    assert(e.query(SqlStatement(
      "SELECT count(*) FROM demo.a -- it's \"not\" a$files\nWHERE id > 1"))
      .as[Long].head() === 1L)
  }

  test("a temp view created through the facade keeps its dialect and catalog reads") {
    val e = freshEngine("refs-tempview")
    e.executeNonQuery(SqlStatement(
      """CREATE OR REPLACE TEMPORARY VIEW refs_tv_a AS
        |SELECT "id", row_number() OVER (ORDER BY v DESC) AS rn FROM demo.a""".stripMargin))
    assert(e.query(SqlStatement("SELECT id, rn FROM refs_tv_a ORDER BY id"))
      .as[(Long, Int)].collect().toSeq === Seq((1L, 2), (2L, 1)))
    spark.catalog.dropTempView("refs_tv_a")
  }

  test("facade reads and an incremental MV refresh register no session temp views") {
    val e = freshEngine("refs-no-views")
    e.catalog.createTag("demo", "a", "t1", None)
    e.catalog.createBranch("demo", "a", "br", None)
    e.executeNonQuery(SqlStatement("CREATE VIEW demo.av AS SELECT id FROM demo.a"))
    e.executeNonQuery(SqlStatement("CREATE MATERIALIZED VIEW demo.mva AS SELECT id, v FROM demo.a"))
    e.executeNonQuery(SqlStatement("INSERT INTO demo.a VALUES (3, 'a3')"))
    val ts = java.time.LocalDateTime.ofInstant(java.time.Instant.ofEpochMilli(
      e.catalog.snapshots("demo", "a").head.committedAtMillis), java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    def views = spark.catalog.listTables().collect().map(_.name).toSet
    val before = views
    val counts = Seq(
      "SELECT count(*) FROM demo.a",
      s"SELECT count(*) FROM demo.a FOR TIMESTAMP AS OF TIMESTAMP '$ts'",
      "SELECT count(*) FROM demo.a FOR VERSION AS OF 1",
      "SELECT count(*) FROM demo.a FOR VERSION AS OF 't1'",
      """SELECT count(*) FROM demo."a@br" FOR VERSION AS OF 1""",
      """SELECT count(*) FROM demo."a$snapshots"""",
      "SELECT count(*) FROM demo.av"
    ).map(s => e.query(SqlStatement(s)).as[Long].head())
    assert(counts === Seq(3L, 2L, 2L, 2L, 2L, 2L, 3L))
    e.executeNonQuery(SqlStatement("REFRESH MATERIALIZED VIEW demo.mva"))
    assert(e.lastMvRefreshMode === "incremental-append")
    assert(e.query(SqlStatement("SELECT count(*) FROM demo.mva")).as[Long].head() === 3L)
    assert(views === before)
  }
}
