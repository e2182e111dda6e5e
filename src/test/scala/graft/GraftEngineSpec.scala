package graft

import graft.params.Sql._
import org.apache.spark.sql.types._

/** End-to-end engine spec recreating the reference's seeded fixture tables
  * and golden assertions (FIXTURES.md §A; reference
  * tests/IntegrationTests/Scripts/insert/01-test-data.sql and the golden
  * values in TrinoClientIntegrationTests.cs / QueryScalarTests.cs /
  * TrinoAdoNetIntegrationTests.cs).
  */
case class User(id: Int, username: String, email: Option[String], phone: Option[String])
case class Employee(employeeId: Int, firstName: String, lastName: String, hireDate: java.sql.Date)

class GraftEngineSpec extends SparkSpec {
  import spark.implicits._

  lazy val engine: GraftEngine = {
    val e = new GraftEngine(spark, tmpDir("graft-engine-wh"))
    // category_data (FIXTURES.md): totals A=250, B=500
    e.registerView("category_data",
      Seq((100L, "A"), (200L, "B"), (150L, "A"), (300L, "B")).toDF("amount", "category"))
    // shared_data subset used by typed-mapping tests
    e.registerView("shared_data",
      Seq(
        (1, "test", Some("alice"), Some("alice@example.com"), Some("555-0001")),
        (2, "data", Some("bob"), None: Option[String], Some("555-0002")),
        (3, null, Some("charlie"), Some("charlie@example.com"), None: Option[String]))
        .toDF("id", "value", "username", "email", "phone"))
    // scalar_test golden fixture (QueryScalarTests.cs)
    e.registerView("scalar_test",
      Seq(
        (1, 10, "apple", true, "2024-01-01 08:00:00", BigDecimal("100.50"), "A"),
        (2, 20, "banana", false, "2024-01-02 09:30:00", BigDecimal("150.25"), "A"),
        (3, 30, "cherry", true, "2024-01-03 10:45:00", BigDecimal("100.25"), "B"))
        .toDF("id", "int_value", "string_value", "bool_value", "ts_str", "decimal_value", "category")
        .withColumn("datetime_value", $"ts_str".cast("timestamp")).drop("ts_str"))
    e
  }

  test("raw query: aggregate with group/order (TrinoClientIntegrationTests.cs:87-95)") {
    val rows = engine.query(sql"SELECT category, SUM(amount) AS total FROM category_data GROUP BY category ORDER BY category")
      .as[(String, Long)].collect()
    assert(rows.toSeq == Seq(("A", 250L), ("B", 500L)))
  }

  test("queryAs[T]: typed rows with NULL→None (AthenaClientTests.cs:32-61)") {
    val users = engine.queryAs[User](
      sql"SELECT id, username, email, phone FROM shared_data ORDER BY id")
    assert(users == Seq(
      User(1, "alice", Some("alice@example.com"), Some("555-0001")),
      User(2, "bob", None, Some("555-0002")),
      User(3, "charlie", Some("charlie@example.com"), None)))
  }

  test("parameterized equality filter (AthenaClientTests.cs:90)") {
    val userId = 2
    val got = engine.queryAs[User](
      sql"SELECT id, username, email, phone FROM shared_data WHERE id = $userId")
    assert(got.map(_.username) == Seq("bob"))
  }

  test("empty result → Nil (AthenaClientTests.cs:57-61)") {
    assert(engine.queryAs[User](
      sql"SELECT id, username, email, phone FROM shared_data WHERE id > 999") == Nil)
  }

  test("queryScalar golden values (QueryScalarTests.cs:14-132)") {
    assert(engine.queryScalar[Int](sql"SELECT MAX(int_value) FROM scalar_test") == Some(30))
    assert(engine.queryScalar[Int](sql"SELECT MIN(int_value) FROM scalar_test") == Some(10))
    assert(engine.queryScalar[String](sql"SELECT MIN(string_value) FROM scalar_test") == Some("apple"))
    // decimal sum exact: 100.50+150.25+100.25 = 351.00 (QueryScalarTests.cs:109-115)
    assert(engine.queryScalar[BigDecimal](
      sql"SELECT CAST(SUM(decimal_value) AS DECIMAL(10,2)) FROM scalar_test") == Some(BigDecimal("351.00")))
    // filtered sum (QueryScalarTests.cs:125-127)
    val cat = "A"
    assert(engine.queryScalar[Int](
      sql"SELECT SUM(int_value) FROM scalar_test WHERE category = $cat") == Some(30))
    // empty set → None (QueryScalarTests.cs:44-50)
    assert(engine.queryScalar[Int](
      sql"SELECT MAX(int_value) FROM scalar_test WHERE id > 999") == None)
  }

  test("executeNonQuery returns -1 for DDL-ish, count for count-returning statements") {
    assert(engine.executeNonQuery(sql"SELECT COUNT(*) FROM scalar_test") == 3L)
  }

  test("executeBatch runs statements in parallel (TrinoIcebergStack.cs:233-257)") {
    engine.executeBatch(Seq(
      sql"SELECT COUNT(*) FROM scalar_test",
      sql"SELECT COUNT(*) FROM category_data",
      sql"SELECT 1"))
  }

  test("time-travel SQL composes with WHERE/ORDER BY end-to-end (AthenaClientTests.cs:348-391)") {
    engine.catalog.createSchema("tt")
    engine.catalog.createTable("tt", "events", StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType))))
    val s1 = engine.catalog.insert("tt", "events",
      Seq((1L, "login"), (2L, "click")).toDF("event_id", "event_type"))
    engine.catalog.insert("tt", "events",
      Seq((3L, "purchase"), (4L, "logout")).toDF("event_id", "event_type"))
    val asOf = java.time.Instant.ofEpochMilli(s1.committedAtMillis)
    val stmt = sql"SELECT event_id, event_type FROM tt.events FOR TIMESTAMP AS OF TIMESTAMP $asOf WHERE event_id >= 1 ORDER BY event_id"
    val got = engine.query(stmt).as[(Long, String)].collect()
    assert(got.toSeq == Seq((1L, "login"), (2L, "click")))
  }

  test("SQL INSERT INTO VALUES commits a snapshot and returns rows affected (S5/C5)") {
    engine.catalog.createSchema("ins")
    engine.catalog.createTable("ins", "people", StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType))))
    val n = engine.executeNonQuery(sql"INSERT INTO ins.people VALUES (1, 'Alice'), (2, ${"Bo'b"})")
    assert(n == 2)
    val n2 = engine.executeNonQuery(sql"INSERT INTO ins.people VALUES (3, 'Carol')")
    assert(n2 == 1)
    // two INSERTs = two snapshots (commit model)
    assert(engine.catalog.snapshots("ins", "people").size == 2)
    val rows = engine.catalog.readLatest("ins", "people")
      .orderBy($"id").as[(Int, String)].collect().toSeq
    assert(rows == Seq((1, "Alice"), (2, "Bo'b"), (3, "Carol")))
  }

  test("unload through the engine (C4)") {
    val target = tmpDir("engine-unload") + "/exp"
    val resp = engine.unload(sql"SELECT id, username FROM shared_data", target)
    assert(resp.rowCount == 3)
    assert(spark.read.parquet(target).count() == 3)
  }

  test("reference seed scripts run verbatim through SQL-text DDL routing (TrinoIcebergStack.cs:152-197)") {
    val e2 = new GraftEngine(spark, tmpDir("seed-wh"))
    val loc = tmpDir("seed-loc") + "/common_test_data"
    // 01-schema.sql — verbatim except the s3:// location, ported to a local
    // path (the only environment-specific token in the scripts)
    e2.executeScript(
      s"""-- Create the test schema (with S3 location for Iceberg tables)
         |CREATE SCHEMA IF NOT EXISTS iceberg.common_test_data WITH (location = '$loc');""".stripMargin)
    // 02-tables.sql — verbatim (subset: the four seeded tables)
    val tablesSql =
      """-- shared_data: multi-purpose table combining several test patterns
        |CREATE TABLE IF NOT EXISTS iceberg.common_test_data.shared_data (
        |    id int,
        |    value varchar,
        |    name varchar,
        |    age int,
        |    active boolean,
        |    username varchar,
        |    email varchar,
        |    phone varchar,
        |    content varchar,
        |    value_int bigint,
        |    value_double double,
        |    value_decimal decimal(10,2)
        |);
        |
        |-- category_data: for aggregation tests
        |CREATE TABLE IF NOT EXISTS iceberg.common_test_data.category_data (
        |    amount bigint,
        |    category varchar
        |);
        |
        |-- employee_data: for snake_case column mapping + date type tests
        |CREATE TABLE IF NOT EXISTS iceberg.common_test_data.employee_data (
        |    employee_id int,
        |    first_name varchar,
        |    last_name varchar,
        |    hire_date date
        |);
        |
        |-- scalar_test: for QueryScalar tests with various data types
        |CREATE TABLE IF NOT EXISTS iceberg.common_test_data.scalar_test (
        |    id int,
        |    int_value int,
        |    string_value varchar,
        |    bool_value boolean,
        |    guid_value varchar,
        |    datetime_value timestamp,
        |    decimal_value decimal(10,2),
        |    category varchar
        |);""".stripMargin
    e2.executeScript(tablesSql)
    // IF NOT EXISTS: replaying the create script is a no-op, not an error
    e2.executeScript(tablesSql)
    // 01-test-data.sql — verbatim (escaped quotes, NULLs, DATE/TIMESTAMP
    // literals, numeric extremes)
    val counts = e2.executeScript(
      """-- Populate shared_data with test records
        |INSERT INTO iceberg.common_test_data.shared_data VALUES
        |    (1, 'test', 'Alice', 30, true, 'alice', 'alice@example.com', '555-0001', 'Hello World', NULL, NULL, NULL),
        |    (2, 'data', 'Bob', 25, false, 'bob', NULL, '555-0002', 'It''s a test', NULL, NULL, NULL),
        |    (3, NULL, 'Charlie', 35, true, 'charlie', 'charlie@example.com', NULL, 'Quote: "test"', NULL, NULL, NULL),
        |    (100, 'test', NULL, NULL, NULL, NULL, NULL, NULL, NULL, 9223372036854775807, 3.14159, 99.99),
        |    (200, 'data', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL);
        |
        |-- Populate category_data for aggregation tests
        |INSERT INTO iceberg.common_test_data.category_data VALUES (100, 'A'), (200, 'B'), (150, 'A'), (300, 'B');
        |
        |-- Populate employee_data for snake_case mapping tests
        |INSERT INTO iceberg.common_test_data.employee_data VALUES
        |    (1, 'John', 'Doe', DATE '2020-01-15'),
        |    (2, 'Jane', 'Smith', DATE '2019-03-22');
        |
        |-- Populate scalar_test for QueryScalar tests
        |INSERT INTO iceberg.common_test_data.scalar_test VALUES
        |    (1, 10, 'apple', true, 'a1b2c3d4-e5f6-7890-abcd-ef1234567890', TIMESTAMP '2024-01-15 10:30:00', 100.50, 'A'),
        |    (2, 20, 'banana', false, 'b2c3d4e5-f6a7-8901-bcde-f12345678901', TIMESTAMP '2024-02-20 14:45:00', 200.25, 'A'),
        |    (3, 30, 'cherry', true, 'c3d4e5f6-a7b8-9012-cdef-123456789012', TIMESTAMP '2024-03-25 09:15:00', 50.25, 'B')""".stripMargin)
    assert(counts == Seq(5L, 4L, 2L, 3L))
    // tables landed at the schema's custom location, not the warehouse root
    assert(new java.io.File(s"$loc/shared_data/commits.json").exists())
    // golden aggregation over the VERBATIM catalog-qualified name — no
    // registerTable step (TrinoClientIntegrationTests.cs:87-95)
    assert(e2.query(sql"SELECT category, SUM(amount) AS total FROM iceberg.common_test_data.category_data GROUP BY category ORDER BY category")
      .as[(String, Long)].collect().toSeq == Seq(("A", 250L), ("B", 500L)))
    // snake_case→camelCase typed mapping over a DDL-created table
    val emps = e2.queryAs[Employee](
      sql"SELECT employee_id, first_name, last_name, hire_date FROM iceberg.common_test_data.employee_data ORDER BY employee_id")
    assert(emps.map(e => (e.employeeId, e.firstName, e.lastName, e.hireDate.toString)) ==
      Seq((1, "John", "Doe", "2020-01-15"), (2, "Jane", "Smith", "2019-03-22")))
    // numeric extremes + escaped quote survived the INSERT routing; the
    // two-part spelling resolves too
    assert(e2.queryScalar[Long](
      sql"SELECT value_int FROM iceberg.common_test_data.shared_data WHERE id = 100") == Some(Long.MaxValue))
    assert(e2.queryScalar[String](
      sql"SELECT content FROM common_test_data.shared_data WHERE id = 2") == Some("It's a test"))
    // CTAS through SQL text returns the row count (S4 contract)
    assert(e2.executeNonQuery(graft.params.SqlStatement(
      "CREATE TABLE common_test_data.category_copy AS SELECT * FROM iceberg.common_test_data.category_data")) == 4L)
    assert(e2.catalog.tableExists("common_test_data", "category_copy"))
    // INSERT INTO … SELECT commits a snapshot and counts rows
    assert(e2.executeNonQuery(graft.params.SqlStatement(
      "INSERT INTO common_test_data.category_copy " +
        "SELECT amount * 10, category FROM iceberg.common_test_data.category_data WHERE category = 'A'")) == 2L)
    assert(e2.queryScalar[Long](
      sql"SELECT COUNT(*) FROM iceberg.common_test_data.category_copy") == Some(6L))
    assert(e2.catalog.snapshots("common_test_data", "category_copy").size == 2)
    // time travel composes with the 3-part spelling: as of commit 1 the
    // copy has only the CTAS rows
    val asOfC1 = java.time.Instant.ofEpochMilli(
      e2.catalog.snapshots("common_test_data", "category_copy").head.committedAtMillis)
    assert(e2.queryScalar[Long](
      sql"SELECT COUNT(*) FROM iceberg.common_test_data.category_copy FOR TIMESTAMP AS OF TIMESTAMP $asOfC1") == Some(4L))
    // DROP TABLE routes to the snapshot catalog
    e2.executeNonQuery(sql"DROP TABLE iceberg.common_test_data.scalar_test")
    assert(!e2.catalog.tableExists("common_test_data", "scalar_test"))
    // and a second DROP without IF EXISTS is a typed failure
    intercept[GraftQueryException](
      e2.executeNonQuery(sql"DROP TABLE iceberg.common_test_data.scalar_test"))
    assert(e2.executeNonQuery(sql"DROP TABLE IF EXISTS iceberg.common_test_data.scalar_test") == 0L)
  }

  test("DDL: decimal columns and Iceberg partitioning clause coexist in one statement") {
    val e2 = new GraftEngine(spark, tmpDir("ddl-edge-wh"))
    e2.executeNonQuery(graft.params.SqlStatement(
      "CREATE TABLE edge.t (id bigint, amount decimal(10,2), category varchar) " +
        "WITH (partitioning = ARRAY['category'])"))
    assert(e2.catalog.partitionSpec("edge", "t") == Seq("category"))
    val declared = e2.catalog.declaredSchema("edge", "t").get
    assert(declared.fields.map(_.dataType.simpleString).toSeq ==
      Seq("bigint", "decimal(10,2)", "string"))
    assert(e2.executeNonQuery(graft.params.SqlStatement(
      "INSERT INTO edge.t VALUES (1, 9.99, 'a'), (2, 1.25, 'b')")) == 2L)
    // partition landed hive-style and reads back through the catalog ref
    assert(e2.queryScalar[java.math.BigDecimal](
      sql"SELECT amount FROM edge.t WHERE category = 'a'").map(_.toString) == Some("9.99"))
    // malformed column list is a typed failure
    intercept[GraftQueryException](e2.executeNonQuery(
      graft.params.SqlStatement("CREATE TABLE edge.bad (justonetoken)")))
  }

  test("invalid SQL surfaces as GraftQueryException naming the statement (TrinoClientIntegrationTests.cs:126-132)") {
    val bad = intercept[GraftQueryException](
      engine.query(sql"SELECT * FROM nonexistent_table_xyz"))
    assert(bad.statement.contains("nonexistent_table_xyz"))
    assert(bad.getMessage.contains("nonexistent_table_xyz"))
    val unparsable = intercept[GraftQueryException](
      engine.query(graft.params.SqlStatement("SELEKT 1 FROM")))
    assert(unparsable.statement == "SELEKT 1 FROM")
    // CREATE TABLE on an existing table (no IF NOT EXISTS) is typed too
    engine.catalog.createSchema("dupdd")
    engine.executeNonQuery(graft.params.SqlStatement("CREATE TABLE dupdd.t (id int)"))
    intercept[GraftQueryException](
      engine.executeNonQuery(graft.params.SqlStatement("CREATE TABLE dupdd.t (id int)")))
  }

  test("string parameters round-trip through Spark's parser (backslashes, quotes)") {
    import graft.params.Sql._
    for (v <- Seq("plain", "it's", "a\\nb", "x\\", "\\' OR 1=1 --", "tab\there", "uni \u00e9\u4e2d")) {
      val got = engine.queryScalar[String](sql"SELECT $v AS v")
      assert(got.contains(v), s"round-trip failed for <$v>: got $got")
    }
  }

  test("CREATE SCHEMA IF NOT EXISTS on an existing schema never relocates it") {
    val e2 = new GraftEngine(spark, tmpDir("relocate-wh"))
    e2.executeScript(
      """CREATE SCHEMA reloc;
        |CREATE TABLE reloc.t (id int);
        |INSERT INTO reloc.t VALUES (1), (2);""".stripMargin)
    // a second seed run pointing at a DIFFERENT location must be a no-op
    val elsewhere = tmpDir("relocate-elsewhere")
    e2.executeNonQuery(graft.params.SqlStatement(
      s"CREATE SCHEMA IF NOT EXISTS reloc WITH (location = '$elsewhere')"))
    assert(e2.catalog.tableExists("reloc", "t"), "table orphaned by relocation")
    assert(e2.catalog.readLatest("reloc", "t").count() == 2L)
  }

  test("executeScript strips trailing inline comments, even apostrophed ones") {
    val e2 = new GraftEngine(spark, tmpDir("inline-comment-wh"))
    val counts = e2.executeScript(
      """CREATE SCHEMA ic; -- the schema's home
        |CREATE TABLE ic.t (id int); -- don't split here
        |INSERT INTO ic.t VALUES (1), (2); -- two rows
        |SELECT count(*) FROM ic.t;""".stripMargin)
    assert(counts == Seq(0L, 0L, 2L, 2L), s"got $counts")
    // a block comment and a quoted name keep their `;` too
    val more = e2.executeScript(
      """/* seed; two rows */ INSERT INTO ic.t VALUES (3), (4);
        |SELECT count(*) AS "a;b" FROM ic.t;""".stripMargin)
    assert(more == Seq(2L, 4L), s"got $more")
    // a -- inside a string literal is NOT a comment
    assert(e2.queryScalar[String](graft.params.SqlStatement(
      "SELECT 'a -- b' AS v")).contains("a -- b"))
  }

  test("catalog tables with underscore-ambiguous names resolve to distinct views") {
    val e2 = new GraftEngine(spark, tmpDir("ambig-wh"))
    e2.executeScript(
      """CREATE SCHEMA a; CREATE SCHEMA a_b;
        |CREATE TABLE a.b_c (v int); CREATE TABLE a_b.c (v int);
        |INSERT INTO a.b_c VALUES (1); INSERT INTO a_b.c VALUES (2);""".stripMargin)
    val got = e2.query(graft.params.SqlStatement(
      "SELECT x.v AS xv, y.v AS yv FROM a.b_c x CROSS JOIN a_b.c y")).collect()
    assert(got.length == 1 && got(0).getInt(0) == 1 && got(0).getInt(1) == 2,
      s"ambiguous view names collided: ${got.mkString}")
  }

  test("CREATE TABLE WITH (format = 'PARQUET') is accepted; other properties rejected loudly") {
    val e2 = new GraftEngine(spark, tmpDir("withprops-wh"))
    e2.executeScript(
      """CREATE SCHEMA wp;
        |CREATE TABLE wp.t (id int, status varchar)
        |WITH (format = 'PARQUET', partitioning = ARRAY['status']);
        |INSERT INTO wp.t VALUES (1, 'A'), (2, 'B');""".stripMargin)
    assert(e2.catalog.readLatest("wp", "t").count() == 2L)
    val err = intercept[GraftQueryException] {
      e2.executeNonQuery(graft.params.SqlStatement(
        "CREATE TABLE wp.u (id int) WITH (format = 'ORC')"))
    }
    assert(err.getMessage.contains("unsupported format"))
    val err2 = intercept[GraftQueryException] {
      e2.executeNonQuery(graft.params.SqlStatement(
        "CREATE TABLE wp.v (id int) WITH (bucket_count = 16)"))
    }
    assert(err2.getMessage.contains("unsupported table property"))
  }

  test("unsized VARCHAR is a string; the q1_pricing oracle text runs") {
    val cast = engine.query(sql"SELECT CAST(42 AS VARCHAR) AS v, CAST('x' AS CHAR) AS c")
    assert(cast.schema.map(_.dataType) === Seq(StringType, StringType))
    assert(cast.collect().map(r => (r.getString(0), r.getString(1))).toSeq === Seq(("42", "x")))
    val e = new GraftEngine(spark, tmpDir("graft-engine-q1"))
    e.catalog.createSchema("tpch")
    val lineitem = Tables.lineitem(spark, sf001)
    e.catalog.createTable("tpch", "lineitem", lineitem.schema)
    e.catalog.insert("tpch", "lineitem", lineitem)
    e.executeNonQuery(sql"USE tpch")
    val got = e.query(graft.params.SqlStatement(SparkEntry.oracleSql("q1_pricing")))
    val want = operators.Joins.q1Pricing(spark, sf001)
    assert(got.columns.toSeq === want.columns.toSeq)
    assert(got.collect().toSeq === want.collect().toSeq)
  }
}
