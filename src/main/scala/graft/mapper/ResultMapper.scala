package graft.mapper

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, GraftPlanBridge}
import org.apache.spark.sql.functions.lit
import scala.reflect.ClassTag

/** Typed result mapping, ported from the reference's reflection mapper
  * (reference src/AthenaTrinoClient/Mapping/QueryResultMapper.cs:14-86):
  *
  *   - column → field match is case-insensitive with snake_case→camelCase
  *     normalization (QueryResultMapper.cs:21-28, :75-84)
  *   - result columns with no matching field are silently skipped
  *     (QueryResultMapper.cs:37-38)
  *   - fields with no matching column become null/None (reference leaves the
  *     property at its default)
  *   - values are coerced to the field type; an impossible column→field
  *     cast fails fast at mapping time with an error naming both sides
  *     (QueryResultMapper.cs:53-65); runtime value errors surface through
  *     Spark's ANSI cast
  *
  * Implemented as a plan rewrite (select + cast + alias), not per-row
  * reflection, so mapping is distributed and codegen-friendly — the 100 TB
  * path never touches the driver until the caller collects.
  */
object ResultMapper {

  /** `employee_id` → `employeeid` — normalization key used for matching. */
  private def normKey(name: String): String =
    name.replace("_", "").toLowerCase

  /** `employee_id` → `employeeId` (the rename applied for exact-name cases). */
  def camelize(name: String): String = {
    val parts = name.split("_")
    (parts.head +: parts.tail.map(p =>
      if (p.isEmpty) p else p.head.toUpper + p.tail)).mkString
  }

  /** Rewrite `df` so its columns line up with `Encoder[T]`'s schema, then
    * expose it as a typed Dataset. Missing columns → typed nulls; extra
    * columns → dropped; name match is case/underscore-insensitive.
    */
  def datasetOf[T: Encoder](df: DataFrame): Dataset[T] = {
    val enc = implicitly[Encoder[T]]
    val src = df.schema.fields
    // first column index per normalized name
    val byKey: Map[String, Int] =
      src.indices.groupBy(i => normKey(src(i).name)).map { case (k, is) => k -> is.head }
    // by position: a result name may hold a dot or repeat (`SELECT x, x`),
    // which `col(name)` would parse or reject
    val byPosition = GraftPlanBridge.columnsOf(df)
    val cols: Array[Column] = enc.schema.fields.map { f =>
      byKey.get(normKey(f.name)) match {
        case Some(i) =>
          // fail fast with NAMES when the cast cannot exist at all —
          // Spark's own analysis error would not say which field
          if (!org.apache.spark.sql.catalyst.expressions.Cast
                .canCast(src(i).dataType, f.dataType))
            throw new IllegalArgumentException(
              s"Cannot map result column '${src(i).name}' (${src(i).dataType.simpleString}) " +
                s"to field '${f.name}' (${f.dataType.simpleString})")
          byPosition(i).cast(f.dataType).as(f.name)
        case None   => lit(null).cast(f.dataType).as(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*).as[T]
  }

  /** First row, first column → `Option[T]`; empty result or NULL value →
    * None (reference AthenaClient.cs:77-87: returns `default(T)`).
    * Coercion mirrors AthenaClient.cs:92-104 (`Nullable` unwrap + Guid
    * parse + Convert.ChangeType).
    */
  def scalar[T: ClassTag](df: DataFrame): Option[T] = {
    val first = df.select(GraftPlanBridge.columnsOf(df).head).limit(1).collect()
    first.headOption.flatMap(r => Option(r.get(0))).map(coerce[T])
  }

  private def coerce[T](v: Any)(implicit ct: ClassTag[T]): T = {
    val c = ct.runtimeClass
    val out: Any =
      if (c == classOf[java.util.UUID]) v match {
        case u: java.util.UUID => u
        case s: String         => java.util.UUID.fromString(s)
        case other             => java.util.UUID.fromString(other.toString)
      }
      else if (c == classOf[Int] || c == classOf[java.lang.Integer]) v match {
        case n: Number => n.intValue()
        case s: String => s.toInt
        case other     => incoercible(other, "Int")
      }
      else if (c == classOf[Long] || c == classOf[java.lang.Long]) v match {
        case n: Number => n.longValue()
        case s: String => s.toLong
        case other     => incoercible(other, "Long")
      }
      else if (c == classOf[Double] || c == classOf[java.lang.Double]) v match {
        case n: Number => n.doubleValue()
        case s: String => s.toDouble
        case other     => incoercible(other, "Double")
      }
      else if (c == classOf[Boolean] || c == classOf[java.lang.Boolean]) v match {
        case b: Boolean => b
        case s: String  => s.toBoolean
        case other      => incoercible(other, "Boolean")
      }
      else if (c == classOf[String]) v.toString
      // temporal render path: `timestamp with time zone` columns collect
      // as java.sql.Timestamp (UTC instants — the engine session is
      // pinned to UTC); Trino renders timestamptz WITH an offset, so the
      // client edge offers the offset-carrying java.time types too.
      // OffsetDateTime/ZonedDateTime land at +00:00/UTC — exactly the
      // offset the reference stack pins (TrinoConfigurationProvider.cs
      // session zone)
      else if (c == classOf[java.time.Instant]) v match {
        case t: java.sql.Timestamp    => t.toInstant
        case i: java.time.Instant     => i
        case l: java.time.LocalDateTime => l.toInstant(java.time.ZoneOffset.UTC)
        case s: String => java.time.Instant.parse(s)
        case other     => incoercible(other, "Instant")
      }
      else if (c == classOf[java.time.OffsetDateTime]) v match {
        case t: java.sql.Timestamp => t.toInstant.atOffset(java.time.ZoneOffset.UTC)
        case i: java.time.Instant  => i.atOffset(java.time.ZoneOffset.UTC)
        case o: java.time.OffsetDateTime => o
        case s: String => java.time.OffsetDateTime.parse(s)
        case other     => incoercible(other, "OffsetDateTime")
      }
      else if (c == classOf[java.time.ZonedDateTime]) v match {
        case t: java.sql.Timestamp => t.toInstant.atZone(java.time.ZoneOffset.UTC)
        case i: java.time.Instant  => i.atZone(java.time.ZoneOffset.UTC)
        case z: java.time.ZonedDateTime => z
        case s: String => java.time.ZonedDateTime.parse(s)
        case other => incoercible(other, "ZonedDateTime")
      }
      // a host session with spark.sql.datetime.java8API.enabled collects
      // TimestampType as Instant instead of java.sql.Timestamp — both
      // shapes coerce
      else if (c == classOf[java.time.LocalDateTime]) v match {
        case l: java.time.LocalDateTime => l // TimestampNTZ collects as this
        case t: java.sql.Timestamp =>
          t.toInstant.atOffset(java.time.ZoneOffset.UTC).toLocalDateTime
        case i: java.time.Instant =>
          i.atOffset(java.time.ZoneOffset.UTC).toLocalDateTime
        case other => incoercible(other, "LocalDateTime")
      }
      else if (c == classOf[java.time.LocalDate]) v match {
        case d: java.sql.Date       => d.toLocalDate
        case l: java.time.LocalDate => l
        case s: String => java.time.LocalDate.parse(s)
        case other => incoercible(other, "LocalDate")
      }
      else if (c == classOf[BigDecimal]) v match {
        case d: java.math.BigDecimal => BigDecimal(d)
        case n: Number => BigDecimal(n.toString)
        case s: String => BigDecimal(s)
        case other     => incoercible(other, "BigDecimal")
      }
      else v
    out.asInstanceOf[T]
  }

  /** Descriptive coercion failure (QueryResultMapper.cs:53-65 contract) —
    * a bare scala.MatchError would name neither value nor target type.
    */
  private def incoercible(v: Any, target: String): Nothing =
    throw new IllegalArgumentException(
      s"Cannot coerce scalar value '$v' (${v.getClass.getSimpleName}) to $target")
}
