package graft.mapper

import graft.SparkSpec
import org.apache.spark.sql.{Encoders, Row}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Typed-mapping contract, ported from the reference's mapper tests
  * (reference tests/IntegrationTests/AthenaClientTests.cs:32-61, :419-425;
  * Mapping/QueryResultMapper.cs semantics).
  */
case class Employee(employeeId: Int, firstName: String, lastName: String)
case class Person(id: Int, name: Option[String], age: Option[Int], active: Option[Boolean])
case class JustId(id: Long)

case class BadPayloadRow(id: Long, payload: java.sql.Timestamp)

class ResultMapperSpec extends SparkSpec {
  import spark.implicits._

  test("snake_case columns map to camelCase fields (AthenaClientTests.cs:49-54)") {
    val df = Seq((1, "John", "Doe"), (2, "Jane", "Smith"))
      .toDF("employee_id", "first_name", "last_name")
    val got = ResultMapper.datasetOf[Employee](df).collect().sortBy(_.employeeId)
    assert(got.toSeq == Seq(Employee(1, "John", "Doe"), Employee(2, "Jane", "Smith")))
  }

  test("camelize") {
    assert(ResultMapper.camelize("employee_id") == "employeeId")
    assert(ResultMapper.camelize("id") == "id")
    assert(ResultMapper.camelize("a_b_c") == "aBC")
  }

  test("unmapped result columns are silently skipped (QueryResultMapper.cs:37-38)") {
    val df = Seq((5L, "extra", 1.5)).toDF("id", "unused_col", "also_unused")
    val got = ResultMapper.datasetOf[JustId](df).collect()
    assert(got.toSeq == Seq(JustId(5L)))
  }

  test("NULLs map to None in Option fields (AthenaClientTests.cs:45-46)") {
    val df = Seq(
      (1, Some("Alice"), Some(30), Some(true)),
      (2, None: Option[String], None: Option[Int], None: Option[Boolean]))
      .toDF("id", "name", "age", "active")
    val got = ResultMapper.datasetOf[Person](df).collect().sortBy(_.id)
    assert(got(1) == Person(2, None, None, None))
  }

  test("case-insensitive match (QueryResultMapper.cs:21-28)") {
    val df = Seq((7, "x", "y")).toDF("EMPLOYEE_ID", "First_Name", "last_name")
    val got = ResultMapper.datasetOf[Employee](df).collect()
    assert(got.head == Employee(7, "x", "y"))
  }

  test("value coercion: numeric widening via cast") {
    val df = Seq(("3", "J", "D")).toDF("employee_id", "first_name", "last_name")
    assert(ResultMapper.datasetOf[Employee](df).collect().head.employeeId == 3)
  }

  // ---- scalar extraction (C3, QueryScalarTests.cs:14-132) ----

  test("scalar: int / string / bool / decimal golden values") {
    val df = Seq((30, "apple", true, BigDecimal("351.00")))
      .toDF("int_value", "string_value", "bool_value", "decimal_value")
    assert(ResultMapper.scalar[Int](df.select("int_value")) == Some(30))
    assert(ResultMapper.scalar[String](df.select("string_value")) == Some("apple"))
    assert(ResultMapper.scalar[Boolean](df.select("bool_value")) == Some(true))
    assert(ResultMapper.scalar[BigDecimal](df.select("decimal_value")) == Some(BigDecimal("351.00")))
  }

  test("scalar on empty result → None (QueryScalarTests.cs:44-50, AthenaClient.cs:77-87)") {
    val df = Seq(1).toDF("x").filter($"x" > 10)
    assert(ResultMapper.scalar[Int](df) == None)
  }

  test("scalar NULL value → None") {
    val df = Seq((1, None: Option[String])).toDF("id", "v").select($"v")
    assert(ResultMapper.scalar[String](df) == None)
  }

  test("scalar GUID parsed from string (AthenaClient.cs:98-101)") {
    val u = "123e4567-e89b-12d3-a456-426614174000"
    val df = Seq(u).toDF("guid_value")
    assert(ResultMapper.scalar[java.util.UUID](df) ==
      Some(java.util.UUID.fromString(u)))
  }

  test("scalar takes first row, first column only") {
    val df = Seq((10, "a"), (20, "b")).toDF("v", "s").orderBy($"v")
    assert(ResultMapper.scalar[Int](df) == Some(10))
  }

  test("scalar reads the first column by position: a dotted name resolves") {
    val df = spark.sql("SELECT 1 AS `a.b`, 2 AS c")
    assert(ResultMapper.scalar[Int](df) == Some(1))
  }

  test("scalar reads the first column by position: a repeated name resolves") {
    val df = spark.sql("SELECT 7 AS x, 8 AS x")
    assert(ResultMapper.scalar[Int](df) == Some(7))
  }

  test("datasetOf maps a dotted column name by position") {
    val schema = StructType(Seq(StructField("a.b", LongType), StructField("c", IntegerType)))
    val df = spark.sql("SELECT 3 AS c, 5L AS `a.b`")
    val got = ResultMapper.datasetOf[Row](df)(Encoders.row(schema)).collect()
    assert(got.toSeq == Seq(Row(5L, 3)))
  }

  test("datasetOf maps a repeated column name to its first occurrence") {
    val df = spark.sql("SELECT 9L AS id, 10L AS id")
    assert(ResultMapper.datasetOf[JustId](df).collect().toSeq == Seq(JustId(9L)))
  }

  test("timestamptz scalars render offset-carrying java.time values (UTC, Trino parity)") {
    // `timestamp with time zone` collects as a UTC instant; Trino
    // RENDERS it with an offset — the scalar edge offers the
    // offset-carrying types, landing at +00:00 (the pinned session zone)
    val df = spark.sql("SELECT TIMESTAMP '2024-03-01 10:30:00+00:00' AS ts")
    val want = java.time.Instant.parse("2024-03-01T10:30:00Z")
    assert(ResultMapper.scalar[java.time.Instant](df) === Some(want))
    assert(ResultMapper.scalar[java.time.OffsetDateTime](df) ===
      Some(want.atOffset(java.time.ZoneOffset.UTC)))
    assert(ResultMapper.scalar[java.time.OffsetDateTime](df)
      .get.getOffset === java.time.ZoneOffset.UTC)
    assert(ResultMapper.scalar[java.time.ZonedDateTime](df) ===
      Some(want.atZone(java.time.ZoneOffset.UTC)))
    // timestamp (NTZ) and date land on the zone-less types
    val ntz = spark.sql("SELECT TIMESTAMP_NTZ '2024-03-01 10:30:00' AS ts")
    assert(ResultMapper.scalar[java.time.LocalDateTime](ntz) ===
      Some(java.time.LocalDateTime.of(2024, 3, 1, 10, 30)))
    val d = spark.sql("SELECT DATE '2024-03-01' AS d")
    assert(ResultMapper.scalar[java.time.LocalDate](d) ===
      Some(java.time.LocalDate.of(2024, 3, 1)))
  }

  test("coercion failures name the value and target type, not a bare MatchError") {
    val e = intercept[IllegalArgumentException] {
      ResultMapper.scalar[Int](spark.sql("SELECT true AS v"))
    }
    assert(e.getMessage.contains("true") && e.getMessage.contains("Int"))
  }

  test("impossible column->field casts fail fast naming both sides") {
    import spark.implicits._
    val df = Seq((1L, Array(1.0, 2.0))).toDF("id", "payload")
    val e = intercept[IllegalArgumentException] {
      ResultMapper.datasetOf[BadPayloadRow](df)
    }
    assert(e.getMessage.contains("payload") && e.getMessage.contains("timestamp"))
  }
}
