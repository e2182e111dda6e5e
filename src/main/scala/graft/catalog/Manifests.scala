package graft.catalog

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** Per-column min/max bounds + null count of one data file, footer- or
  * partition-derived. `kind` fixes the comparison space — a literal
  * participates ONLY when it maps into the same space, so a date column
  * never gets compared against a timestamp literal's micros:
  *  - "long"   — plain integral parquet stats (INT32/INT64)
  *  - "date"   — DATE-annotated INT32: epoch days
  *  - "ts"     — TIMESTAMP-annotated INT64, normalized to MICROS
  *  - "double" — FLOAT/DOUBLE stats: compare numerically
  *  - "string" — UTF8 BINARY stats: compare as UTF-8 byte strings (the
  *    unsigned byte order parquet min/max uses)
  * `nulls` = -1 when the writer recorded no null count. Bounds are an
  * over-approximation contract: a file may be skipped ONLY when its
  * bounds PROVE no row can satisfy a predicate — absent or unparseable
  * bounds always keep the file.
  */
final case class ColBounds(kind: String, min: String, max: String, nulls: Long)

/** One data file tracked by a manifest: table-relative path (first
  * segment = the snap dir, hive `col=value` segments follow for
  * partitioned tables), footer record count, byte size, per-column
  * bounds. The Iceberg manifest-entry shape (spec:
  * iceberg.apache.org/spec/#manifests) over JSON instead of Avro.
  * Manifests written before reads planned from entries carry a `d`
  * (files in the entry's snap dir) key, which parsing ignores.
  */
final case class DataFileEntry(path: String, rows: Long, bytes: Long,
                               bounds: Map[String, ColBounds],
                               blooms: Map[String, ColBloom] = Map.empty)

/** Per-file bloom filter over one column's values ([[Manifests.BloomBits]]
  * bits, [[Manifests.BloomHashes]] double-hashed probes — the Iceberg
  * puffin / parquet column-bloom idea at the MANIFEST tier, so equality
  * predicates skip whole FILES at plan time even on high-cardinality
  * columns whose min/max bounds overlap every file, where range bounds
  * prune nothing — a point lookup by user id on an unsorted 100 TB table).
  *
  * `dtype` = the Spark SQL type string of the hashed values: a probe is
  * attempted ONLY when the predicate literal has the identical type
  * (xxhash64 of an int and a long differ — a cross-type probe would skip
  * files that DO match). Same over-approximation contract as bounds: a
  * clear bit PROVES absence; a set bit says nothing.
  */
final case class ColBloom(dtype: String, bits: Array[Long]) {
  def mightContain(h1: Long, h2: Long): Boolean = {
    val m = bits.length.toLong * 64 // geometry travels with the filter
    var i = 0
    while (i < Manifests.BloomHashes) {
      val pos = ((h1 + i * h2) & Long.MaxValue) % m
      if ((bits((pos >> 6).toInt) & (1L << (pos & 63))) == 0L) return false
      i += 1
    }
    true
  }
}

/** Manifest-file machinery: immutable JSON manifest files grouping data
  * files with per-column bounds, the footer-statistics extraction that
  * populates them at commit time, and the conservative bounds evaluator
  * the DML probe uses for file skipping. All driver-side metadata work,
  * proportional to file count — never data volume.
  */
object Manifests {
  private val mapper = new ObjectMapper

  /** Bloom geometry: ~10 bits per row × 4 probes ≈ 1.2% false positives
    * whatever the file size, clamped to [1 KiB, 128 KiB] of bits per
    * (file, column) — the filter's own length carries its geometry
    * ([[ColBloom.mightContain]]), so differently-sized files coexist in
    * one manifest. Probes per element stay fixed: blooms are rebuilt per
    * commit from data, never merged across files.
    */
  val BloomHashes: Int = 4
  val MinBloomBits: Long = 8192L
  val MaxBloomBits: Long = 1L << 20

  /** Bits for a file of `rows` rows: smallest power of two ≥ 10×rows
    * within the clamp (a power of two keeps the bit positions uniform
    * under the mod).
    */
  def bloomBitsFor(rows: Long): Long = {
    val target = math.min(MaxBloomBits, math.max(MinBloomBits, 10L * math.max(1L, rows)))
    java.lang.Long.highestOneBit(target - 1) << 1
  }

  // ---- JSON encode/decode (compact keys: manifests are the metadata
  //      hot path, stored once per file per rewrite) ----

  /** Write one manifest shard directly from an EXECUTOR (the adoption
    * path's distributed footer job writes its partition's entries in
    * place instead of collecting them to the driver). UUID name, no
    * coordination needed: manifests are immutable and only become live
    * when a committed manifest list references them — a failed job's
    * shards are unreferenced debris for expire's manifest GC.
    */
  def writeShard(conf: Configuration, manifestDir: Path,
                 entries: Seq[DataFileEntry]): String = {
    val name = s"m-${java.util.UUID.randomUUID().toString.take(16)}.json"
    val p = new Path(manifestDir, name)
    val scheme = p.toUri.getScheme
    if (scheme == null || scheme == "file") {
      // fork-free local write (Hadoop's create chmods via a shell fork
      // when libhadoop is absent); CREATE_NEW keeps the fail-if-exists
      // contract of create(p, overwrite = false); parent dirs created on
      // demand like Hadoop's create()
      val np = java.nio.file.Paths.get(p.toUri.getPath)
      val bytes = toJson(entries).getBytes("UTF-8")
      try java.nio.file.Files.write(np, bytes,
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE)
      catch {
        case _: java.nio.file.NoSuchFileException =>
          java.nio.file.Files.createDirectories(np.getParent)
          java.nio.file.Files.write(np, bytes,
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
      }
    } else {
      val out = p.getFileSystem(conf).create(p, false)
      try out.write(toJson(entries).getBytes("UTF-8")) finally out.close()
    }
    name
  }

  def toJson(entries: Seq[DataFileEntry]): String = {
    val root = mapper.createObjectNode()
    val arr = root.putArray("entries")
    entries.foreach { e =>
      val o = arr.addObject()
      o.put("p", e.path)
      o.put("r", e.rows)
      o.put("b", e.bytes)
      if (e.bounds.nonEmpty) {
        val c = o.putObject("c")
        e.bounds.foreach { case (name, cb) =>
          val b = c.putObject(name)
          b.put("k", cb.kind)
          if (cb.min != null) b.put("mn", cb.min)
          if (cb.max != null) b.put("mx", cb.max)
          if (cb.nulls >= 0) b.put("n", cb.nulls)
        }
      }
      if (e.blooms.nonEmpty) {
        val f = o.putObject("f")
        e.blooms.foreach { case (name, bl) =>
          val b = f.putObject(name)
          b.put("t", bl.dtype)
          val bb = java.nio.ByteBuffer.allocate(bl.bits.length * 8)
          bl.bits.foreach(bb.putLong)
          b.put("v", java.util.Base64.getEncoder.encodeToString(bb.array()))
        }
      }
    }
    mapper.writeValueAsString(root)
  }

  def fromJson(json: String): Seq[DataFileEntry] = {
    val root = mapper.readTree(json)
    root.get("entries").elements.asScala.map { o =>
      val bounds = Option(o.get("c")).map { c =>
        c.properties().asScala.map { e =>
          val b = e.getValue
          e.getKey -> ColBounds(
            b.get("k").asText,
            Option(b.get("mn")).map(_.asText).orNull,
            Option(b.get("mx")).map(_.asText).orNull,
            Option(b.get("n")).map(_.asLong).getOrElse(-1L))
        }.toMap
      }.getOrElse(Map.empty[String, ColBounds])
      val blooms = Option(o.get("f")).map { f =>
        f.properties().asScala.map { e =>
          val b = e.getValue
          val raw = java.util.Base64.getDecoder.decode(b.get("v").asText)
          val bb = java.nio.ByteBuffer.wrap(raw)
          val bits = Array.fill(raw.length / 8)(bb.getLong)
          e.getKey -> ColBloom(b.get("t").asText, bits)
        }.toMap
      }.getOrElse(Map.empty[String, ColBloom])
      DataFileEntry(o.get("p").asText, o.get("r").asLong, o.get("b").asLong, bounds, blooms)
    }.toSeq
  }

  // ---- footer-statistics extraction (commit-time, driver-side) ----

  /** Max stored length for string bounds: longer values drop the bound
    * (a TRUNCATED max would under-approximate the range — Iceberg
    * increments the last byte instead; dropping is simpler and still
    * correct, just less selective on very long keys).
    */
  private[catalog] val MaxStringBound = 64

  /** Build the manifest entry for one data file from its parquet footer:
    * record count, per-top-level-column min/max/null-count for the
    * statistics-friendly types (integral, floating, UTF8 string — the
    * types the probe's predicates compare against literals). Hive
    * `col=value` segments in `relPath` contribute partition-value bounds
    * (min = max = value): partition columns never appear in footers, and
    * without them a partition-scoped DELETE could not skip files by
    * bounds at all.
    */
  /** [[footerEntry]] plus the file's Spark-visible schema from the SAME
    * footer read — what [[SnapshotCatalog.addFiles]] needs: per-file
    * schema validation without a second footer open or a per-file
    * DataFrameReader resolution.
    */
  def footerEntryWithSchema(conf: Configuration, file: Path, relPath: String,
                            fileLen: Long)
    : (DataFileEntry, org.apache.spark.sql.types.StructType) = {
    val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      conf, file, org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
    // conf-driven converter (not SQLConf.get): this runs inside executor
    // tasks on the distributed add_files validation pass, where no
    // session-propagated SQLConf exists. The Configuration constructor
    // reads five SQL keys RAW (`conf.get(key).toBoolean`, no default) —
    // fill any absent one with its ConfigEntry default so a bare hadoop
    // conf works; callers overlay session values when they have them.
    val c: Configuration = new Configuration(conf)
    locally {
      import org.apache.spark.sql.internal.SQLConf._
      Seq(PARQUET_BINARY_AS_STRING, PARQUET_INT96_AS_TIMESTAMP, CASE_SENSITIVE,
          PARQUET_INFER_TIMESTAMP_NTZ_ENABLED, LEGACY_PARQUET_NANOS_AS_LONG)
        .foreach(e =>
          if (c.get(e.key) == null) c.set(e.key, e.defaultValue.get.toString))
    }
    val sparkSchema = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter(c)
      .convert(footer.getFileMetaData.getSchema)
    (entryFromFooter(footer, relPath, fileLen), sparkSchema)
  }

  def footerEntry(conf: Configuration, file: Path, relPath: String,
                  fileLen: Long): DataFileEntry =
    entryFromFooter(
      org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        conf, file, org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER),
      relPath, fileLen)

  private def entryFromFooter(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      relPath: String, fileLen: Long): DataFileEntry = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val blocks = footer.getBlocks.asScala.toSeq
    val rows = blocks.map(_.getRowCount).sum
    // (kind, min, max, nulls, boundsValid) per column, accumulated over blocks
    final case class Acc(kind: String, var min: Any, var max: Any,
                         var nulls: Long, var valid: Boolean)
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, Acc]
    for (b <- blocks; c <- b.getColumns.asScala) {
      val parts = c.getPath.toArray
      if (parts.length == 1) {
        val name = parts(0)
        val pt = c.getPrimitiveType
        val logical = pt.getLogicalTypeAnnotation
        val kind: Option[String] = pt.getPrimitiveTypeName match {
          case INT32 | INT64 => logical match {
            case null => Some("long")
            case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation if i.isSigned => Some("long")
            case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => Some("date")
            case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
              // values normalized to micros below; NANOS would overflow a
              // multiply and MILLIS is what legacy writers emit
              => Some("ts")
            case _ => None // decimal, unsigned, time-of-day: skip bounds
          }
          case FLOAT | DOUBLE => Some("double")
          case BINARY => logical match {
            case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation => Some("string")
            case _ => None
          }
          case _ => None
        }
        // micros normalization factor for "ts" (None = unit unsupported)
        val tsScale: Option[Long => Long] = logical match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MICROS => Some(identity[Long])
              case LogicalTypeAnnotation.TimeUnit.MILLIS => Some((v: Long) => v * 1000L)
              case LogicalTypeAnnotation.TimeUnit.NANOS  => Some((v: Long) => v / 1000L)
              case _ => None
            }
          case _ => Some(identity[Long])
        }
        kind.filter(k => k != "ts" || tsScale.isDefined).foreach { k =>
          val a = acc.getOrElseUpdate(name, Acc(k, null, null, 0L, valid = true))
          val stats = c.getStatistics
          if (stats == null) { a.valid = false; a.nulls = -1L }
          else {
            if (a.nulls >= 0 && !stats.isNumNullsSet) a.nulls = -1L
            else if (a.nulls >= 0) a.nulls += stats.getNumNulls
            if (stats.hasNonNullValue) {
              def scaled(v: Any): Any = v match {
                case l: Long if k == "ts" => tsScale.get(l)
                case other => other
              }
              val (mn, mx) = (scaled(boundValue(k, stats.genericGetMin.asInstanceOf[AnyRef])),
                scaled(boundValue(k, stats.genericGetMax.asInstanceOf[AnyRef])))
              if (mn == null || mx == null) a.valid = false
              else {
                if (a.min == null || compareBound(k, mn, a.min) < 0) a.min = mn
                if (a.max == null || compareBound(k, mx, a.max) > 0) a.max = mx
              }
            }
          }
        }
      }
    }
    val footerBounds = acc.flatMap { case (name, a) =>
      if (!a.valid && a.nulls < 0) None
      else Some(name -> ColBounds(a.kind,
        if (a.valid && a.min != null) a.min.toString else null,
        if (a.valid && a.max != null) a.max.toString else null,
        a.nulls))
    }.toMap
    // hive `col=value` path segments carry the partition value the files
    // themselves don't store — but ONLY for table-internal layouts.
    // Files adopted in place (absolute entry paths, [[SnapshotCatalog
    // .addFiles]]) live under arbitrary external directories whose names
    // may LOOK hive-partitioned (`/lake/region=eu/`) while the files
    // store the real column — letting the segment override the footer
    // stats would fabricate min=max bounds and mis-prune
    val pathBounds =
      if (relPath.startsWith("/")) Map.empty[String, ColBounds]
      else partitionBounds(relPath, rows)
    DataFileEntry(relPath, rows, fileLen, footerBounds ++ pathBounds)
  }

  /** Raw parquet statistic → comparable bound value, or null to drop the
    * bound (NaN floats — parquet NaN stats are unreliable; over-long
    * strings — see [[MaxStringBound]]).
    */
  private def boundValue(kind: String, v: AnyRef): Any = kind match {
    case "long" | "date" | "ts" => v match {
      case i: java.lang.Integer => i.longValue
      case l: java.lang.Long    => l.longValue
      case _ => null
    }
    case "double" => v match {
      case f: java.lang.Float if !f.isNaN  => f.doubleValue
      case d: java.lang.Double if !d.isNaN => d.doubleValue
      case _ => null
    }
    case "string" => v match {
      case b: org.apache.parquet.io.api.Binary =>
        val s = b.toStringUsingUTF8
        if (s.length <= MaxStringBound) s else null
      case _ => null
    }
  }

  private def compareBound(kind: String, a: Any, b: Any): Int = kind match {
    case "long" | "date" | "ts" =>
      java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case "double" => java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case "string" => utf8Compare(a.toString, b.toString)
  }

  /** Unsigned UTF-8 byte comparison — the order parquet's min/max for
    * strings are computed in (Java String.compareTo orders UTF-16 code
    * units, which disagrees on supplementary characters).
    */
  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** Hive `col=value` segments of a table-relative file path → exact
    * partition bounds (min = max = value). The leading `_snap=` segment
    * is the storage layout's own key, not a user column; the hive null
    * marker contributes a nulls-only bound.
    */
  private def partitionBounds(relPath: String, rows: Long): Map[String, ColBounds] = {
    val segs = relPath.split('/').dropRight(1) // last segment = file name
    segs.iterator.flatMap { seg =>
      val eq = seg.indexOf('=')
      if (eq <= 0) None
      else {
        val name = seg.substring(0, eq)
        if (name == "_snap") None
        else {
          val raw = seg.substring(eq + 1)
          val value = unescapePathName(raw)
          if (value == "__HIVE_DEFAULT_PARTITION__")
            Some(name -> ColBounds("string", null, null, rows))
          else {
            val kind =
              if (value.matches("-?\\d{1,18}")) "long"
              else if (value.matches("-?\\d+\\.\\d+([eE][+-]?\\d+)?")) "double"
              else "string"
            Some(name -> ColBounds(kind, value, value, 0L))
          }
        }
      }
    }.toMap
  }

  /** Reverse hive partition-path escaping (%xx sequences). */
  /** Shared hive-path percent-decoding — also used by the manifest
    * file index ([[org.apache.spark.sql.GraftManifestFileIndex]]), so
    * the bounds tier and the scan tier can never decode a directory
    * value differently.
    */
  def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        try {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  // ---- conservative bounds evaluator (DML probe file skipping) ----

  /** TRUE unless `entry`'s bounds PROVE no row of the file can satisfy
    * `predicate`. Handles conjunction/disjunction and comparisons of a
    * bare column against a literal — anything else (casts, functions,
    * subqueries, unknown nodes) conservatively keeps the file. This is
    * Iceberg's inclusive-projection metrics evaluator in miniature
    * (iceberg spec §Scan Planning): the probe scan that follows remains
    * the correctness authority; bounds only shrink its file list.
    */
  def mayMatch(predicate: org.apache.spark.sql.catalyst.expressions.Expression,
               entry: DataFileEntry): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    predicate match {
      case And(l, r) => mayMatch(l, entry) && mayMatch(r, entry)
      case Or(l, r)  => mayMatch(l, entry) || mayMatch(r, entry)
      case Literal(v: Boolean, org.apache.spark.sql.types.BooleanType) => v
      case Coalesce(children) if children.length == 2 &&
        children(1) == Literal.FalseLiteral => mayMatch(children(0), entry)
      case EqualTo(a, Literal(v, dt)) =>
        colBounds(a, entry).forall(rangeContains(_, v, dt, entry)) && bloomKeeps(a, v, dt, entry)
      case EqualTo(Literal(v, dt), a) =>
        colBounds(a, entry).forall(rangeContains(_, v, dt, entry)) && bloomKeeps(a, v, dt, entry)
      case EqualNullSafe(a, Literal(v, dt)) if v != null =>
        colBounds(a, entry).forall(rangeContains(_, v, dt, entry)) && bloomKeeps(a, v, dt, entry)
      case GreaterThan(a, Literal(v, dt)) => colBounds(a, entry).forall(maxAbove(_, v, dt, strict = true))
      case GreaterThanOrEqual(a, Literal(v, dt)) => colBounds(a, entry).forall(maxAbove(_, v, dt, strict = false))
      case LessThan(a, Literal(v, dt)) => colBounds(a, entry).forall(minBelow(_, v, dt, strict = true))
      case LessThanOrEqual(a, Literal(v, dt)) => colBounds(a, entry).forall(minBelow(_, v, dt, strict = false))
      case GreaterThan(Literal(v, dt), a) => colBounds(a, entry).forall(minBelow(_, v, dt, strict = true))
      case GreaterThanOrEqual(Literal(v, dt), a) => colBounds(a, entry).forall(minBelow(_, v, dt, strict = false))
      case LessThan(Literal(v, dt), a) => colBounds(a, entry).forall(maxAbove(_, v, dt, strict = true))
      case LessThanOrEqual(Literal(v, dt), a) => colBounds(a, entry).forall(maxAbove(_, v, dt, strict = false))
      case In(a, values) if values.forall(_.isInstanceOf[Literal]) =>
        values.exists { case Literal(v, dt) =>
          colBounds(a, entry).forall(rangeContains(_, v, dt, entry)) &&
            bloomKeeps(a, v, dt, entry)
        }
      case IsNull(a) => colBounds(a, entry).forall(cb => cb.nulls != 0L)
      case IsNotNull(a) => colBounds(a, entry).forall(cb =>
        cb.nulls < 0 || cb.nulls < entry.rows || cb.min != null)
      case _ => true
    }
  }

  /** Dual of [[mayMatch]]: TRUE only when the entry's bounds PROVE every
    * row of the file satisfies the predicate — the metadata-delete
    * question ("can this file leave the table without being read?").
    * Default for any unrecognized shape is FALSE: a miss costs a probe or
    * rewrite, a false positive would drop live rows.
    *
    * NULL discipline: a row whose predicate evaluates to NULL does NOT
    * satisfy it, so every comparison requires an exact zero null count
    * (`nulls == 0`; unknown (−1) blocks the proof). Doubles are excluded
    * entirely — parquet NaN statistics are not trustworthy enough to
    * prove totality. String bounds are exact or absent (never truncated;
    * [[MaxStringBound]] drops long bounds instead), so string proofs are
    * sound.
    */
  def mustMatch(predicate: org.apache.spark.sql.catalyst.expressions.Expression,
                entry: DataFileEntry): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    predicate match {
      case And(l, r) => mustMatch(l, entry) && mustMatch(r, entry)
      case Or(l, r)  => mustMatch(l, entry) || mustMatch(r, entry)
      case Literal(v: Boolean, org.apache.spark.sql.types.BooleanType) => v
      case Coalesce(children) if children.length == 2 &&
        children(1) == Literal.FalseLiteral => mustMatch(children(0), entry)
      case EqualTo(a, Literal(v, dt)) => allEqual(a, v, dt, entry)
      case EqualTo(Literal(v, dt), a) => allEqual(a, v, dt, entry)
      case GreaterThan(a, Literal(v, dt)) => allCmp(a, v, dt, entry)(
        (cb, lv) => cmp(cb, cb.min, lv) > 0)
      case GreaterThanOrEqual(a, Literal(v, dt)) => allCmp(a, v, dt, entry)(
        (cb, lv) => cmp(cb, cb.min, lv) >= 0)
      case LessThan(a, Literal(v, dt)) => allCmp(a, v, dt, entry)(
        (cb, lv) => cmp(cb, cb.max, lv) < 0)
      case LessThanOrEqual(a, Literal(v, dt)) => allCmp(a, v, dt, entry)(
        (cb, lv) => cmp(cb, cb.max, lv) <= 0)
      case GreaterThan(Literal(v, dt), a) => allCmp(a, v, dt, entry)(
        (cb, lv) => cmp(cb, cb.max, lv) < 0)
      case GreaterThanOrEqual(Literal(v, dt), a) => allCmp(a, v, dt, entry)(
        (cb, lv) => cmp(cb, cb.max, lv) <= 0)
      case LessThan(Literal(v, dt), a) => allCmp(a, v, dt, entry)(
        (cb, lv) => cmp(cb, cb.min, lv) > 0)
      case LessThanOrEqual(Literal(v, dt), a) => allCmp(a, v, dt, entry)(
        (cb, lv) => cmp(cb, cb.min, lv) >= 0)
      case In(a, values) if values.forall(_.isInstanceOf[Literal]) =>
        // totality through IN only via a constant column equal to a member
        values.exists { case Literal(v, dt) => allEqual(a, v, dt, entry) }
      case IsNull(a) => colBounds(a, entry).exists(cb =>
        cb.nulls >= 0 && cb.nulls == entry.rows)
      case IsNotNull(a) => colBounds(a, entry).exists(_.nulls == 0L)
      case _ => false
    }
  }

  /** Every row's `col == v`: constant column (min == max == v), no nulls,
    * non-double kind. */
  private def allEqual(e: org.apache.spark.sql.catalyst.expressions.Expression,
                       v: Any, dt: org.apache.spark.sql.types.DataType,
                       entry: DataFileEntry): Boolean =
    allCmp(e, v, dt, entry)((cb, lv) =>
      cmp(cb, cb.min, lv) == 0 && cmp(cb, cb.max, lv) == 0)

  /** Shared gate for totality proofs: bounds present, kind comparable and
    * not double, zero nulls, literal representable — then `check`. */
  private def allCmp(e: org.apache.spark.sql.catalyst.expressions.Expression,
                     v: Any, dt: org.apache.spark.sql.types.DataType,
                     entry: DataFileEntry)
                    (check: (ColBounds, Any) => Boolean): Boolean =
    colBounds(e, entry).exists { cb =>
      cb.kind != "double" && cb.nulls == 0L &&
        cb.min != null && cb.max != null &&
        literalIn(cb, v, dt).exists(lv => check(cb, lv))
    }

  /** The engine-side xxhash64 pair a bloom probe needs for literal `v` —
    * IDENTICAL to the write-side hashing ([[graft.catalog.BloomAgg]] input:
    * `xxhash64(col)` and `xxhash64(col, 1)`), evaluated through the same
    * Catalyst expression so the bit patterns can never drift.
    */
  def bloomHashes(v: Any, dt: org.apache.spark.sql.types.DataType): (Long, Long) = {
    // memoized per literal: a scan-planning walk probes the SAME literal
    // against every manifest entry — without the memo the two XxHash64
    // expression evaluations re-run per FILE (measured 6-10× of the
    // whole bounds walk at 10⁵ entries). Keyed by (value, type) — binary
    // literals wrap in a value-equality Seq (Array[Byte] compares by
    // reference, which would miss every hit and bloat the map). Bounded:
    // predicate literals per process are few; clear() on overflow is a
    // correctness no-op, just a refill (a concurrent put dropped by the
    // clear re-memoizes on its next probe).
    val key = (v match {
      case b: Array[Byte] => b.toSeq
      case x => x
    }, dt)
    val hit = bloomHashCache.get(key)
    if (hit != null) return hit
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val l = Literal.create(v, dt)
    val h1 = XxHash64(Seq(l), 42L).eval(null).asInstanceOf[Long]
    val h2 = XxHash64(Seq(l, Literal(1)), 42L).eval(null).asInstanceOf[Long]
    if (bloomHashCache.size > 4096) bloomHashCache.clear()
    bloomHashCache.put(key, (h1, h2))
    (h1, h2)
  }

  private val bloomHashCache =
    new java.util.concurrent.ConcurrentHashMap[
      (Any, org.apache.spark.sql.types.DataType), (Long, Long)]()

  /** Bloom veto for an equality probe: false ONLY when the file has a
    * bloom for the column, the literal's type matches the hashed type
    * exactly, and the filter proves absence. Any doubt keeps the file.
    */
  private def bloomKeeps(e: org.apache.spark.sql.catalyst.expressions.Expression,
                         v: Any, dt: org.apache.spark.sql.types.DataType,
                         entry: DataFileEntry): Boolean = {
    if (v == null) return true
    colName(e).flatMap(n => entry.blooms.collectFirst {
      case (k, b) if k.equalsIgnoreCase(n) => b
    }) match {
      case Some(bl) if bl.dtype == dt.sql =>
        try { val (h1, h2) = bloomHashes(v, dt); bl.mightContain(h1, h2) }
        catch { case scala.util.control.NonFatal(_) => true }
      case _ => true
    }
  }

  /** Bare-column name an expression references, or None. Multi-part
    * unresolved names (`t.col`, `meta.ts`) are REJECTED, not bound by
    * their last part: a nested-struct field or misqualified reference
    * that shares a leaf name with a top-level column would otherwise
    * bind to the wrong column's bounds — in [[mayMatch]] that over-prunes
    * a probe, and in [[mustMatch]] it turns into a false totality proof
    * that drops live rows. Resolved plans are unaffected (a nested field
    * resolves to GetStructField, never an AttributeReference, so the
    * single-name AttributeReference case below is always a real
    * top-level column).
    */
  private def colName(e: org.apache.spark.sql.catalyst.expressions.Expression): Option[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    e match {
      case u: UnresolvedAttribute if u.nameParts.length == 1 => Some(u.nameParts.head)
      case a: AttributeReference  => Some(a.name)
      case _ => None
    }
  }

  /** Bounds of the column `e` references, or None when `e` is not a bare
    * single-part column (see [[colName]]) or the file has no bounds for
    * it (→ keep the file in [[mayMatch]], block the proof in
    * [[mustMatch]]).
    */
  private def colBounds(e: org.apache.spark.sql.catalyst.expressions.Expression,
                        entry: DataFileEntry): Option[ColBounds] =
    colName(e).flatMap(n => entry.bounds.collectFirst {
      case (k, v) if k.equalsIgnoreCase(n) => v
    })

  /** Catalyst literal (internal representation) → value in the bound's
    * comparison space, or None when the spaces don't line up (→ keep).
    */
  private def literalIn(cb: ColBounds, v: Any,
                        dt: org.apache.spark.sql.types.DataType): Option[Any] = {
    import org.apache.spark.sql.types._
    if (v == null) return None
    (cb.kind, dt) match {
      case ("long", ByteType | ShortType | IntegerType | LongType) =>
        Some(v.asInstanceOf[Number].longValue)
      case ("date", DateType) =>
        Some(v.asInstanceOf[Number].longValue) // catalyst days
      case ("ts", TimestampType | TimestampNTZType) =>
        Some(v.asInstanceOf[Number].longValue) // catalyst micros
      case ("double", FloatType | DoubleType) =>
        val d = v.asInstanceOf[Number].doubleValue
        if (d.isNaN) None else Some(d)
      case ("double", ByteType | ShortType | IntegerType | LongType) =>
        Some(v.asInstanceOf[Number].doubleValue)
      case ("string", StringType) => Some(v.toString)
      case _ => None
    }
  }

  private def cmp(cb: ColBounds, bound: String, v: Any): Int = cb.kind match {
    case "long" | "date" | "ts" =>
      java.lang.Long.compare(bound.toLong, v.asInstanceOf[Long])
    case "double" => java.lang.Double.compare(bound.toDouble, v.asInstanceOf[Double])
    case "string" => utf8Compare(bound, v.toString)
  }

  /** May `col = v` hold in the file? min <= v <= max; a provably all-null
    * column (no value bounds, nulls == file rows) can never equal a
    * non-null literal.
    */
  private def rangeContains(cb: ColBounds, v: Any,
                            dt: org.apache.spark.sql.types.DataType,
                            entry: DataFileEntry): Boolean =
    (literalIn(cb, v, dt), Option(cb.min), Option(cb.max)) match {
      case (Some(lv), Some(mn), Some(mx)) => cmp(cb, mn, lv) <= 0 && cmp(cb, mx, lv) >= 0
      case (Some(_), None, None) => !(cb.nulls >= 0 && cb.nulls == entry.rows)
      case _ => true
    }

  // ---- value-space helpers shared with GraftBoundsBridge (the
  //      ColumnNode walker — it must live in the org.apache.spark.sql
  //      package because the Spark 4 Column API's node classes are
  //      private[sql]) ----

  /** Bounds of `name` in this entry (case-insensitive), if tracked. */
  def boundsFor(entry: DataFileEntry, name: String): Option[ColBounds] =
    entry.bounds.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }

  /** User-space literal value (what `lit(...)` captured) → the bound's
    * comparison space; None when the spaces don't line up (→ keep).
    */
  def nodeLiteralIn(cb: ColBounds, v: Any): Option[Any] = (cb.kind, v) match {
    case ("long", x: Byte)  => Some(x.toLong)
    case ("long", x: Short) => Some(x.toLong)
    case ("long", x: Int)   => Some(x.toLong)
    case ("long", x: Long)  => Some(x)
    case ("date", d: java.time.LocalDate) => Some(d.toEpochDay)
    case ("date", d: java.sql.Date)       => Some(d.toLocalDate.toEpochDay)
    case ("ts", t: java.time.Instant) =>
      Some(t.getEpochSecond * 1000000L + t.getNano / 1000L)
    case ("ts", t: java.sql.Timestamp) =>
      Some(math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L)
    case ("double", x: Float)  => if (x.isNaN) None else Some(x.toDouble)
    case ("double", x: Double) => if (x.isNaN) None else Some(x)
    case ("double", x: Byte)   => Some(x.toDouble)
    case ("double", x: Short)  => Some(x.toDouble)
    case ("double", x: Int)    => Some(x.toDouble)
    case ("double", x: Long)   => Some(x.toDouble)
    case ("string", s: String) => Some(s)
    case _ => None
  }

  /** `col = v` feasible: min <= v <= max (all-null column → infeasible). */
  def eqContains(cb: ColBounds, v: Any, entry: DataFileEntry): Boolean =
    (Option(cb.min), Option(cb.max)) match {
      case (Some(mn), Some(mx)) => cmp(cb, mn, v) <= 0 && cmp(cb, mx, v) >= 0
      case (None, None) => !(cb.nulls >= 0 && cb.nulls == entry.rows)
      case _ => true
    }

  /** Gate for totality (must-match) proofs: bounds present, kind not
    * double (parquet NaN statistics), exact zero null count — shared with
    * [[org.apache.spark.sql.GraftBoundsBridge]]'s node walker.
    */
  def totalityGate(cb: ColBounds): Boolean =
    cb.kind != "double" && cb.nulls == 0L && cb.min != null && cb.max != null

  /** File min compared to `v` (caller must hold [[totalityGate]]). */
  def minCmp(cb: ColBounds, v: Any): Int = cmp(cb, cb.min, v)

  /** File max compared to `v` (caller must hold [[totalityGate]]). */
  def maxCmp(cb: ColBounds, v: Any): Int = cmp(cb, cb.max, v)

  /** Every value in `[lo, hi]`: min >= lo and max <= hi. */
  def allWithin(cb: ColBounds, lo: Any, hi: Any): Boolean =
    minCmp(cb, lo) >= 0 && maxCmp(cb, hi) <= 0

  /** `col > v` / `col >= v` feasible: max above v. */
  def boundAbove(cb: ColBounds, v: Any, strict: Boolean): Boolean =
    Option(cb.max) match {
      case Some(mx) => if (strict) cmp(cb, mx, v) > 0 else cmp(cb, mx, v) >= 0
      case None => true
    }

  /** `col < v` / `col <= v` feasible: min below v. */
  def boundBelow(cb: ColBounds, v: Any, strict: Boolean): Boolean =
    Option(cb.min) match {
      case Some(mn) => if (strict) cmp(cb, mn, v) < 0 else cmp(cb, mn, v) <= 0
      case None => true
    }

  /** May `col > v` (strict) / `col >= v` hold? max must exceed v. */
  private def maxAbove(cb: ColBounds, v: Any,
                       dt: org.apache.spark.sql.types.DataType, strict: Boolean): Boolean =
    (literalIn(cb, v, dt), Option(cb.max)) match {
      case (Some(lv), Some(mx)) => if (strict) cmp(cb, mx, lv) > 0 else cmp(cb, mx, lv) >= 0
      case _ => true
    }

  /** May `col < v` (strict) / `col <= v` hold? min must undercut v. */
  private def minBelow(cb: ColBounds, v: Any,
                       dt: org.apache.spark.sql.types.DataType, strict: Boolean): Boolean =
    (literalIn(cb, v, dt), Option(cb.min)) match {
      case (Some(lv), Some(mn)) => if (strict) cmp(cb, mn, lv) < 0 else cmp(cb, mn, lv) <= 0
      case _ => true
    }
}
