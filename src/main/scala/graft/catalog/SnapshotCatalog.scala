package graft.catalog

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StructField, StructType}
import com.fasterxml.jackson.databind.ObjectMapper
import graft.logging.Log
import scala.jdk.CollectionConverters._

/** One committed snapshot. `schemaJson` is the declared schema AT COMMIT
  * TIME — Iceberg pins a schema id per snapshot, so time travel presents
  * the schema as of the snapshot, not today's (None on pre-versioning
  * commit logs → falls back to the current declared schema). `deletes`
  * lists the POSITIONAL-DELETE file dirs of the snapshot (Iceberg v2
  * merge-on-read: each delete file holds (file_path, pos) rows that reads
  * subtract from the data files; empty on copy-on-write tables).
  *
  * Data files are tracked MANIFEST-TIER (Iceberg's metadata shape,
  * iceberg.apache.org/spec/#manifests): `manifestList` names an immutable
  * `_manifests/ml-*.json` file listing immutable `m-*.json` manifest
  * files, each grouping [[DataFileEntry]]s with per-column bounds. A
  * commit writes only the NEW manifest(s) and one manifest-list file —
  * unchanged manifests carry BY NAME — so the commit-log entry is O(1)
  * per commit whatever the file count. A snapshot with no data file has
  * no `manifestList`.
  */
final case class Snapshot(snapshotId: Long, committedAtMillis: Long,
                          schemaJson: Option[String] = None,
                          operation: Option[String] = None,
                          deletes: Seq[String] = Nil,
                          manifestList: Option[String] = None,
                          txn: Option[(String, Long)] = None,
                          eqDeletes: Seq[EqDelete] = Nil)

/** One equality-delete file (Iceberg v2's second delete-file kind, the
  * shape Flink CDC / streaming upsert writers commit): `path` holds the
  * key tuples whose rows are shadowed, `keys` names the equality columns,
  * and `appliesTo` pins the snapshot whose data files the delete covers —
  * rows in files added AFTER that snapshot are exempt (Iceberg's
  * sequence-number rule), so a later plain INSERT of a deleted key
  * survives. This is what makes keyed upsert O(batch): the writer never
  * reads the target — it appends the new rows plus one key file.
  */
final case class EqDelete(path: String, keys: Seq[String], appliesTo: Long,
                          rows: Long = -1L)

/** A commit lost the optimistic-concurrency race: another writer advanced
  * the table's commit-log generation between this writer's read and its
  * commit attempt. The table state is untouched by the loser — retry from
  * a fresh read. This is the Nessie/Iceberg optimistic-commit contract the
  * reference stack provides (reference
  * tests/IntegrationTests/TrinoConfigurationProvider.cs:45-47).
  */
final class CommitConflictException(val schema: String, val table: String,
                                    val expectedGen: Long)
  extends RuntimeException(
    s"Concurrent commit detected on $schema.$table: generation ${expectedGen + 1} " +
      "already exists (another writer committed first); retry from a fresh read")

/** The table is still in the pre-manifest on-disk format (a snapshot
  * lists data `dirs`, an array-form log, or a log in `commits.json`);
  * [[SnapshotCatalog.rewriteManifests]] upgrades it once. Not an
  * IllegalStateException, which some callers take as "recompute".
  */
final class LegacyTableFormatException(val table: String)
  extends RuntimeException(
    s"Table $table is in the pre-manifest on-disk format; upgrade it once " +
      s"with ALTER TABLE $table EXECUTE optimize_manifests")

/** Both refs advanced past the merge base with branch-side DML — the
  * table-granular content conflict Nessie reports for a non-replayable
  * merge ([[SnapshotCatalog.mergeBranch]]).
  */
final class MergeConflictException(val schema: String, val table: String,
                                   val branch: String, msg: String)
  extends RuntimeException(msg)

/** A catalog-level publish found member tables whose main ref advanced
  * past the branch (not fast-forwardable) — the cross-table content
  * conflict of a Nessie multi-table merge. NOTHING was published: the
  * publish CAS happens only after every member checks clean.
  */
final class CatalogPublishConflictException(val ref: String,
                                            val tables: Seq[String], msg: String)
  extends RuntimeException(msg)

/** One member table of a catalog-level ref. `headId` is set when the
  * ref is published: the pinned branch snapshot main reads resolve.
  */
final case class CatalogRefMember(schema: String, table: String,
                                  headId: Option[Long])

/** State record of a catalog-level ref: `open` (branch writes
  * accumulating) or `published` (pinned heads visible on main).
  */
final case class CatalogRefState(state: String, members: Seq[CatalogRefMember])

/** Resolved MERGE clause actions ([[SnapshotCatalog.mergeInto]]): the
  * engine parses the SQL-text conditions/expressions into Columns, the
  * catalog executes them. Clause order = first-match-wins priority.
  */
sealed trait MergeAction
final case class MergeUpdateAction(cond: Option[org.apache.spark.sql.Column],
                                   sets: Seq[(String, org.apache.spark.sql.Column)]) extends MergeAction
final case class MergeDeleteAction(cond: Option[org.apache.spark.sql.Column]) extends MergeAction
final case class MergeInsertAction(cond: Option[org.apache.spark.sql.Column],
                                   columns: Option[Seq[String]],
                                   values: Seq[org.apache.spark.sql.Column]) extends MergeAction

/** Namespaced, snapshot-versioned Parquet tables — the lakehouse layer the
  * reference gets from Trino+Iceberg+Nessie (reference
  * tests/IntegrationTests/TrinoConfigurationProvider.cs:40-67), rebuilt over
  * plain Parquet because no Iceberg runtime jar exists offline
  * (SURVEY.md §0, §7.3).
  *
  * Layout (schema = namespace with a physical location, reference
  * Scripts/create/01-schema.sql:2):
  *
  *   <warehouse>/<schema>/<table>/
  *     _table_schema.json        — declared StructType (DDL, S3)
  *     commits.json              — "[]", the table-exists marker
  *     commits-<gen>.json        — the commit log, one file per generation:
  *                                 {segments, schemas, snapshots[]}
  *     _log_segments/seg-*.json  — frozen, content-addressed log prefixes
  *     _manifests/ml-*.json      — a snapshot's manifest list
  *     _manifests/m-*.json       — manifests: data files with bounds
  *     snap-<n>/part-*.parquet   — data files of commit n
  *
  * Every INSERT appends a snapshot (reference AthenaClientTests.cs:351-364:
  * each INSERT commit is time-travel-visible); `readAsOf` resolves the max
  * snapshot with committedAt <= ts (AthenaClientTests.cs:374-391 semantics).
  *
  * Scale notes: data stays distributed (df.write.parquet); only the commit
  * log (KB-sized JSON) touches the driver. Snapshot resolution is O(log n)
  * metadata work, independent of data volume, so the same design holds at
  * 100 TB with the commit log in object storage.
  */
class SnapshotCatalog(spark: SparkSession, val warehouse: String) {
  private val mapper = new ObjectMapper
  private val log = Log(classOf[SnapshotCatalog])
  private def fs(p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  // Attached-Iceberg schemas carry parquet.field.id metadata
  // ([[IcebergInterop.FieldIdKey]]); this makes Spark's parquet reader
  // resolve those columns by FIELD ID — the Iceberg spec's required
  // column-projection rule, which keeps a foreign RENAME COLUMN from
  // silently NULLing pre-rename files. A no-op for every other table:
  // id resolution only engages when the read schema carries ids, and
  // native graft schemas never do. SESSION-level by necessity (Spark
  // exposes no per-read switch, SPARK-38094) — a host application
  // sharing the session and relying on the flag being FALSE for its own
  // id-annotated schemas would be overridden here; documented trade-off.
  spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")

  /** Physical root of a table. Normally `<schemaLocation>/<table>`; a
    * table attached with [[registerTable]] resolves through a
    * `_table_location` pointer marker instead (one marker stat per call
    * on the miss path — metadata-scale; positive resolutions cache
    * forever, invalidated by register/unregister/drop/rename).
    */
  private def tableDir(schema: String, table: String): Path = {
    val key = s"$schema.$table"
    val cached = tableLocationCache.get(key)
    if (cached != null) return cached
    val entry = new Path(schemaLocation(schema), table)
    val marker = new Path(entry, "_table_location")
    if (fs(marker).exists(marker)) {
      val p = new Path(readString(marker))
      tableLocationCache.put(key, p)
      p
    } else entry
  }

  private val tableLocationCache =
    new java.util.concurrent.ConcurrentHashMap[String, Path]()

  // ---- DDL (S2, S3, S6) ----

  /** CREATE SCHEMA [WITH (location = '…')] — a directory namespace. A
    * custom location (reference Scripts/create/01-schema.sql:2:
    * `WITH (location = 's3://warehouse/…')`) is recorded in a
    * `_schema_location` marker under the warehouse entry, so every later
    * tableDir resolution — any process, any session — lands on it.
    */
  def createSchema(schema: String, location: Option[String] = None): Unit = {
    // '_'-prefixed names are the catalog's own metadata namespace
    // (_catalog_refs, _schema_location, …): listSchemas hides them, so a
    // user schema spelled that way would be writable yet invisible — and
    // exempt from every listSchemas-driven guard (e.g. registerTable's
    // alias check). Reject at the door.
    require(schema.nonEmpty && !schema.startsWith("_"),
      s"Malformed schema name: '$schema' ('_'-prefixed names are reserved)")
    val p = new Path(s"$warehouse/$schema")
    mkdirsFast(p)
    location.foreach { loc =>
      val lp = new Path(loc)
      mkdirsFast(lp)
      writeString(new Path(p, "_schema_location"), loc)
      locationCache.put(schema, lp)
    }
  }

  def schemaExists(schema: String): Boolean = {
    val p = new Path(s"$warehouse/$schema")
    fs(p).exists(p)
  }

  /** Physical root of a schema: its custom location if one was declared,
    * else `<warehouse>/<schema>`. Cached — one marker read per schema.
    */
  def schemaLocation(schema: String): Path =
    locationCache.computeIfAbsent(schema, _ => {
      val marker = new Path(s"$warehouse/$schema/_schema_location")
      if (fs(marker).exists(marker)) new Path(readString(marker))
      else new Path(s"$warehouse/$schema")
    })

  private val locationCache =
    new java.util.concurrent.ConcurrentHashMap[String, Path]()

  /** CREATE TABLE [IF NOT EXISTS] with a declared schema (S3), optionally
    * partitioned Iceberg-style (`WITH (partitioning = ARRAY['col'])`):
    * every snapshot's data lands in hive-layout `col=value` subdirectories
    * and reads prune to matching directories before any file is opened —
    * at 100 TB the difference between scanning a day and scanning a year.
    */
  def createTable(schema: String, table: String, columns: StructType,
                  ifNotExists: Boolean = false,
                  partitionedBy: Seq[String] = Nil,
                  formatVersion: Int = 1,
                  sortedBy: Seq[String] = Nil,
                  bloomFilterColumns: Seq[String] = Nil,
                  allowInternalColumns: Boolean = false): Unit = {
    require(formatVersion == 1 || formatVersion == 2,
      s"format_version must be 1 (copy-on-write) or 2 (merge-on-read), got $formatVersion")
    // `__mv_` is the avg-MV hidden-partial namespace: the engine CONCEALS
    // such columns on every read, so a user table declaring one would see
    // its column silently vanish from results — reject at CREATE instead
    if (!allowInternalColumns)
      columns.fieldNames.find(_.toLowerCase(java.util.Locale.ROOT)
          .startsWith("__mv_")).foreach(n =>
        throw new IllegalArgumentException(
          s"Column name $n uses the reserved __mv_ prefix (internal " +
            "materialized-view state)"))
    val dir = tableDir(schema, table)
    val f = fs(dir)
    val pFields = partitionedBy.map(PartitionTransforms.parse)
    val missing = pFields.map(_.source).filterNot(p =>
      columns.fieldNames.exists(_.equalsIgnoreCase(p)))
    require(missing.isEmpty,
      s"Partition column(s) ${missing.mkString(", ")} not in declared schema")
    pFields.filterNot(_.isIdentity).foreach { f =>
      require(!columns.fieldNames.exists(_.equalsIgnoreCase(f.derivedName)),
        s"Partition transform ${f.specText} derives directory key " +
          s"'${f.derivedName}', which collides with a declared column")
      val dt = columns.fields.find(_.name.equalsIgnoreCase(f.source)).get.dataType
      // fail CREATE, not the first INSERT, on a type the transform
      // cannot apply to
      f.derive(org.apache.spark.sql.functions.col(f.source), dt)
      f match {
        case _: TimeField => require(
          dt == org.apache.spark.sql.types.TimestampType ||
            dt == org.apache.spark.sql.types.TimestampNTZType ||
            dt == org.apache.spark.sql.types.DateType,
          s"${f.specText}: source must be a timestamp or date, got $dt")
        case _ => ()
      }
    }
    val missingSort = sortedBy.flatMap(sortEntryCols)
      .filterNot(c => columns.fieldNames.exists(_.equalsIgnoreCase(c)))
    require(missingSort.isEmpty,
      s"Sort column(s) ${missingSort.mkString(", ")} not in declared schema")
    val missingBloom = bloomFilterColumns
      .filterNot(c => columns.fieldNames.exists(_.equalsIgnoreCase(c)))
    require(missingBloom.isEmpty,
      s"Bloom filter column(s) ${missingBloom.mkString(", ")} not in declared schema")
    sortedBy.foreach {
      case zorderRe(inner) =>
        val zc = inner.split(",").map(_.trim).filter(_.nonEmpty)
        require(zc.length >= 2, s"zorder($inner) needs at least two columns")
        zc.foreach { c =>
          columns.fields.find(_.name.equalsIgnoreCase(c)).foreach { f =>
            require(zorderableType(f.dataType),
              s"zorder column $c must be numeric, date, or timestamp " +
                s"(got ${f.dataType.simpleString}) — string order has no " +
                "cheap order-preserving numeric projection")
          }
        }
      case _ => ()
    }
    columns.fieldNames.foreach(validateColumnName(_, formatVersion))
    // `_snap` is the reserved snapshot-dir partition key of the storage
    // layout (see snapDirName) — a user column with that name would
    // collide with the discovery column the reader drops
    require(partitionedBy.isEmpty ||
      !columns.fieldNames.exists(_.equalsIgnoreCase("_snap")),
      "Column name _snap is reserved in partitioned tables")
    if (f.exists(dir)) {
      // an unregisterTable tombstone keeps the layout invisible to the
      // catalog but ON DISK — without this check the name was both
      // un-creatable ("already exists") and un-queryable, and IF NOT
      // EXISTS silently no-op'd against a hidden table
      if (f.exists(new Path(dir, "_unregistered")))
        throw new IllegalStateException(
          s"Table $schema.$table was unregistered but its layout remains at " +
            s"$dir — CALL system.register_table to re-attach it, or delete " +
            "the directory to create fresh")
      if (ifNotExists) return
      throw new IllegalStateException(s"Table $schema.$table already exists")
    }
    mkdirsFast(dir)
    writeString(new Path(dir, "_table_schema.json"), columns.json)
    if (partitionedBy.nonEmpty)
      writeString(new Path(dir, "_partition_spec.json"),
        partitionedBy.mkString("\n"))
    if (formatVersion == 2)
      writeString(new Path(dir, "_format_version"), formatVersion.toString)
    if (sortedBy.nonEmpty)
      writeString(new Path(dir, "_sorted_by.json"), sortedBy.mkString("\n"))
    if (bloomFilterColumns.nonEmpty)
      writeString(new Path(dir, "_bloom_columns.json"),
        bloomFilterColumns.mkString("\n"))
    // commits.json stays as the cheap existence marker (tableExists probes
    // it); the versioned generation files carry the actual log
    writeString(new Path(dir, "commits.json"), "[]")
    // incarnation identity (see tableIdentity): minted eagerly so every
    // new table has one from its first commit
    writeString(new Path(dir, "_identity"), java.util.UUID.randomUUID().toString)
    writeCommits(schema, table, Nil, -1L)
  }

  /** `CREATE TABLE t (LIKE src [INCLUDING PROPERTIES])` (Trino): a new
    * EMPTY table with the source's declared schema. INCLUDING PROPERTIES
    * also copies the physical contract — partitioning spec (transforms
    * included), sorted_by, bloom columns, format_version, and free-form
    * table properties; the default (EXCLUDING) copies columns only.
    * Data, snapshots, refs, comments, and stats never copy — LIKE
    * clones a shape, not a table.
    */
  def createTableLike(schema: String, table: String,
                      srcSchema: String, srcTable: String,
                      includingProps: Boolean,
                      ifNotExists: Boolean = false): Unit = synchronized {
    require(tableExists(srcSchema, srcTable),
      s"Table $srcSchema.$srcTable does not exist")
    val cols = declaredSchema(srcSchema, srcTable).getOrElse(
      throw new IllegalStateException(
        s"$srcSchema.$srcTable has no declared schema"))
    if (!includingProps) createTable(schema, table, cols, ifNotExists)
    else {
      // IF NOT EXISTS may no-op against a pre-existing table — the
      // property copy must not mutate it in that case
      val preExisted = tableExists(schema, table)
      createTable(schema, table, cols, ifNotExists,
        partitionedBy = partitionSpec(srcSchema, srcTable),
        formatVersion = formatVersion(srcSchema, srcTable),
        sortedBy = sortSpec(srcSchema, srcTable),
        bloomFilterColumns = bloomColumnsAt(tableDir(srcSchema, srcTable)))
      if (!preExisted)
        tableProperties(srcSchema, srcTable).foreach { case (k, v) =>
          setTableProperty(schema, table, k, v) }
    }
  }

  /** Iceberg table format version: 1 = copy-on-write row-level DML
    * (default), 2 = merge-on-read — DELETE/UPDATE write positional delete
    * files instead of rewriting data files (Trino's `format_version`
    * table property, trino.io/docs/current/connector/iceberg.html).
    */
  def formatVersion(schema: String, table: String): Int = {
    val p = new Path(tableDir(schema, table), "_format_version")
    if (fs(p).exists(p)) readString(p).trim.toInt else 1
  }

  /** Declared partition spec elements — identity column names and/or
    * transform texts like `bucket(16, id)` (empty for unpartitioned
    * tables). [[partitionFields]] gives the parsed form.
    */
  def partitionSpec(schema: String, table: String): Seq[String] = {
    val p = new Path(tableDir(schema, table), "_partition_spec.json")
    if (fs(p).exists(p)) readString(p).split("\n").map(_.trim).filter(_.nonEmpty).toSeq
    else Nil
  }

  def partitionFields(schema: String, table: String): Seq[PartitionField] =
    partitionSpec(schema, table).map(PartitionTransforms.parse)

  /** Add the derived (non-identity) partition columns a write needs —
    * recomputed from sources, so any DataFrame with the declared columns
    * can be written regardless of where it came from.
    */
  private def withDerivedPartitionCols(schema: String, table: String,
                                       df: DataFrame): DataFrame = {
    val declared = declaredSchema(schema, table)
    partitionFields(schema, table).filterNot(_.isIdentity).foldLeft(df) { (d, f) =>
      val dt = declared.flatMap(_.fields.find(_.name.equalsIgnoreCase(f.source)))
        .map(_.dataType).getOrElse(d.schema.fields
          .find(_.name.equalsIgnoreCase(f.source))
          .map(_.dataType)
          .getOrElse(throw new IllegalStateException(
            s"Partition source ${f.source} missing from write to $schema.$table")))
      d.withColumn(f.derivedName, f.derive(org.apache.spark.sql.functions.col(f.source), dt))
    }
  }

  /** Declared sort columns (Trino Iceberg `sorted_by`; empty when the
    * table is unsorted). Entries are `col` or `col DESC`.
    */
  def sortSpec(schema: String, table: String): Seq[String] = {
    val p = new Path(tableDir(schema, table), "_sorted_by.json")
    if (fs(p).exists(p)) readString(p).split("\n").map(_.trim).filter(_.nonEmpty).toSeq
    else Nil
  }

  /** `col` / `col ASC` / `col DESC` → bare column name. */
  private def sortColName(s: String): String =
    s.trim.split("\\s+").head

  /** `zorder(c1, c2[, …])` sort-spec spelling (Iceberg's
    * rewrite_data_files z-order sort strategy, Delta's OPTIMIZE ZORDER):
    * multi-dimensional clustering so manifest/footer bounds stay
    * selective on EVERY referenced column, not just a lexicographic
    * prefix.
    */
  private val zorderRe = """(?i)^\s*zorder\s*\(\s*([^)]*)\)\s*$""".r

  /** Bare column names one sort-spec entry references (a zorder entry
    * expands to all its source columns) — what existence validation and
    * the DROP/RENAME COLUMN guards must check.
    */
  private def sortEntryCols(s: String): Seq[String] = s.trim match {
    case zorderRe(inner) => inner.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    case other => Seq(other.split("\\s+").head)
  }

  /** `ALTER TABLE … SET PROPERTIES sorted_by = ARRAY[…]` — re-cluster
    * FUTURE writes (and the next compact): the sort spec only shapes
    * data layout, never semantics, so changing it is always safe;
    * existing files keep their old clustering until compaction folds
    * them forward. Empty list clears the spec.
    */
  def setSortSpec(schema: String, table: String, entries: Seq[String]): Unit = synchronized {
    require(tableExists(schema, table), s"Table $schema.$table does not exist")
    val columns = declaredSchema(schema, table).getOrElse(
      throw new IllegalStateException(s"Table $schema.$table has no declared schema"))
    val missing = entries.flatMap(sortEntryCols)
      .filterNot(c => columns.fieldNames.exists(_.equalsIgnoreCase(c)))
    require(missing.isEmpty,
      s"Sort column(s) ${missing.mkString(", ")} not in declared schema")
    entries.foreach {
      case zorderRe(inner) =>
        val zc = inner.split(",").map(_.trim).filter(_.nonEmpty)
        require(zc.length >= 2, s"zorder($inner) needs at least two columns")
        zc.foreach { c =>
          columns.fields.find(_.name.equalsIgnoreCase(c)).foreach { f =>
            require(zorderableType(f.dataType),
              s"zorder column $c must be numeric, date, or timestamp " +
                s"(got ${f.dataType.simpleString})")
          }
        }
      case _ => ()
    }
    val p = new Path(tableDir(schema, table), "_sorted_by.json")
    if (entries.isEmpty) { if (fs(p).exists(p)) fs(p).delete(p, false) }
    else writeString(p, entries.mkString("\n"))
  }

  /** `ALTER TABLE … SET PROPERTIES partitioning = ARRAY[…]` — Iceberg
    * partition-spec evolution, restricted to the TRANSFORM fields:
    * identity partition columns must stay identical (they are physically
    * ABSENT from data files, so changing them would need a rewrite),
    * while bucket/truncate/year/month/day/hour fields may be added,
    * removed, or retuned freely — their sources stay stored in the data
    * files, old files keep their old derived directories (reads parse
    * each file's own path; transform pruning on old files degrades
    * conservatively), and only FUTURE writes lay out under the new spec.
    */
  def setPartitionSpec(schema: String, table: String, entries: Seq[String]): Unit = synchronized {
    require(tableExists(schema, table), s"Table $schema.$table does not exist")
    val columns = declaredSchema(schema, table).getOrElse(
      throw new IllegalStateException(s"Table $schema.$table has no declared schema"))
    val oldFields = partitionFields(schema, table)
    val newFields = entries.map(PartitionTransforms.parse)
    val missing = newFields.map(_.source).filterNot(s =>
      columns.fieldNames.exists(_.equalsIgnoreCase(s)))
    require(missing.isEmpty,
      s"Partition source column(s) ${missing.mkString(", ")} not in declared schema")
    val allRefs = readCommits(schema, table) ++
      listBranches(schema, table).flatMap(b =>
        branch(b).readCommitsWithGen(schema, table)._1)
    if (allRefs.nonEmpty) { // a written layout exists → evolution limits
      require(oldFields.nonEmpty == newFields.nonEmpty,
        s"Cannot evolve $schema.$table between partitioned and unpartitioned " +
          "layouts (snapshot directory shapes differ); create a new table instead")
      def identitySet(fs0: Seq[PartitionField]) =
        fs0.filter(_.isIdentity).map(_.source.toLowerCase(java.util.Locale.ROOT)).toSet
      require(identitySet(oldFields) == identitySet(newFields),
        s"Cannot change identity partition columns of $schema.$table " +
          "(identity-partitioned values are not stored in data files — " +
          "evolution is transform-only)")
    }
    val p = new Path(tableDir(schema, table), "_partition_spec.json")
    if (entries.isEmpty) { if (fs(p).exists(p)) fs(p).delete(p, false) }
    else writeString(p, entries.mkString("\n"))
  }

  /** Reserved-name gate for every column-introducing DDL path
    * (createTable / addColumn / renameColumn): the `__graft_` prefix is
    * the engine's internal provenance namespace (`__graft_file`,
    * `__graft_pos`, the MERGE bookkeeping columns) — a user column there
    * would alias the DML machinery's own columns; on `format_version = 2`
    * tables, `file_path`/`pos` are additionally reserved because the
    * positional-delete anti-join ([[readSnapshotMeta]]) references the
    * delete-file schema by those names and a duplicate would make the
    * join condition ambiguous on every read.
    */
  private def validateColumnName(name: String, formatVersion: Int): Unit = {
    require(!name.toLowerCase.startsWith("__graft_"),
      s"Column name $name is reserved (the __graft_ prefix is internal)")
    if (formatVersion == 2)
      require(!name.equalsIgnoreCase("file_path") && !name.equalsIgnoreCase("pos"),
        s"Column name $name is reserved in format_version = 2 tables " +
          "(it collides with the positional-delete file schema)")
  }

  private def sortCol(s: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.col
    val parts = s.trim.split("\\s+")
    if (parts.length > 1 && parts(1).equalsIgnoreCase("DESC")) col(parts.head).desc
    else col(parts.head).asc
  }

  def tableExists(schema: String, table: String): Boolean = {
    val dir = tableDir(schema, table)
    val f = fs(dir)
    // an `_unregistered` tombstone ([[unregisterTable]]) keeps the data
    // intact but removes the table from the catalog's visible surface
    f.exists(new Path(dir, "commits.json")) && !f.exists(new Path(dir, "_unregistered"))
  }

  /** ALTER TABLE ADD COLUMN (schema evolution, Iceberg-style additive
    * path): the declared schema gains a trailing nullable column; existing
    * snapshot files are untouched and read back NULL for it on
    * current-table reads (schema-on-read). Time travel is snapshot-schema
    * faithful: each commit pins the schema declared at commit time, so
    * `readAsOf` to a pre-evolution snapshot does NOT show the new column
    * (Iceberg semantics). Only additive evolution is offered: drops/renames
    * would silently orphan data in old files.
    */
  def addColumn(schema: String, table: String, name: String,
                dataType: org.apache.spark.sql.types.DataType): Unit = synchronized {
    require(tableExists(schema, table), s"Table $schema.$table does not exist")
    val current = declaredSchema(schema, table).getOrElse(
      throw new IllegalStateException(s"Table $schema.$table has no declared schema"))
    require(!current.fieldNames.map(_.toLowerCase).contains(name.toLowerCase),
      s"Column $name already exists in $schema.$table")
    validateColumnName(name, formatVersion(schema, table))
    writeString(new Path(tableDir(schema, table), "_table_schema.json"),
      current.add(name, dataType, nullable = true).json)
  }

  /** `ALTER TABLE … DROP COLUMN` (Trino Iceberg column evolution,
    * trino.io/docs/current/connector/iceberg.html): metadata-only — the
    * declared schema loses the field, data files are untouched. Current
    * reads stop presenting the column (schema-on-read projects it away);
    * snapshots committed BEFORE the drop pinned the pre-drop schema, so
    * time travel to them still presents the column WITH its values.
    */
  def dropColumn(schema: String, table: String, name: String): Unit = synchronized {
    require(tableExists(schema, table), s"Table $schema.$table does not exist")
    val current = declaredSchema(schema, table).getOrElse(
      throw new IllegalStateException(s"Table $schema.$table has no declared schema"))
    require(current.fieldNames.exists(_.equalsIgnoreCase(name)),
      s"Column $name does not exist in $schema.$table")
    require(!partitionFields(schema, table).exists(_.source.equalsIgnoreCase(name)),
      s"Cannot drop partition (source) column $name of $schema.$table")
    // a dropped sort column would leave _sorted_by.json referencing a
    // nonexistent column and every later write failing to resolve it —
    // the same permanent-unwritability hazard as dropping a partition
    // column, so the same guard (round-7 advice)
    require(!sortSpec(schema, table).flatMap(sortEntryCols).exists(_.equalsIgnoreCase(name)),
      s"Cannot drop sort column $name of $schema.$table " +
        "(the table's sorted_by clustering references it)")
    requireNoEqDeleteKey(schema, table, name, "drop")
    require(current.fields.length > 1,
      s"Cannot drop the only column of $schema.$table")
    writeString(new Path(tableDir(schema, table), "_table_schema.json"),
      StructType(current.fields.filterNot(_.name.equalsIgnoreCase(name))).json)
    // blooms are an optimization, not structure: a dropped bloom column
    // just leaves the config (stale manifest blooms are never probed for
    // a column the schema no longer has)
    val blooms = bloomColumns(schema, table)
    if (blooms.exists(_.equalsIgnoreCase(name)))
      writeString(new Path(tableDir(schema, table), "_bloom_columns.json"),
        blooms.filterNot(_.equalsIgnoreCase(name)).mkString("\n"))
  }

  /** Reject column DDL on a pending equality-delete KEY: the eq
    * anti-join rebuilds `col(key)` against CURRENT reads, so renaming or
    * dropping the key would make every read — including the compact()
    * that folds the delete — throw UNRESOLVED_COLUMN, bricking the
    * table. Same hazard class as the sort-column guard; the remedy is
    * `ALTER TABLE … EXECUTE optimize` first (folds deletes to zero).
    * Branch heads are checked too (a branch read pays the same join).
    */
  private def requireNoEqDeleteKey(schema: String, table: String,
                                   name: String, verb: String): Unit = {
    val heads = readCommits(schema, table).lastOption.toSeq ++
      listBranches(schema, table).flatMap(b =>
        branch(b).readCommitsWithGen(schema, table)._1.lastOption)
    require(!heads.exists(_.eqDeletes.exists(_.keys.exists(_.equalsIgnoreCase(name)))),
      s"Cannot $verb column $name of $schema.$table: it is a pending " +
        "equality-delete key — run ALTER TABLE … EXECUTE optimize to fold " +
        "the deletes first")
  }

  /** `ALTER TABLE … RENAME COLUMN old TO new`: metadata-only rename in the
    * declared schema. Schema-on-read is NAME-based (plain parquet carries
    * no Iceberg field ids), so pre-rename files NULL-fill under the new
    * name in current reads — the documented schema-on-read rule — while
    * time travel to pre-rename snapshots presents the old name with its
    * values via the pinned snapshot schema.
    */
  def renameColumn(schema: String, table: String,
                   from: String, to: String): Unit = synchronized {
    require(tableExists(schema, table), s"Table $schema.$table does not exist")
    val current = declaredSchema(schema, table).getOrElse(
      throw new IllegalStateException(s"Table $schema.$table has no declared schema"))
    require(current.fieldNames.exists(_.equalsIgnoreCase(from)),
      s"Column $from does not exist in $schema.$table")
    require(!current.fieldNames.exists(_.equalsIgnoreCase(to)),
      s"Column $to already exists in $schema.$table")
    require(!partitionFields(schema, table).exists(_.source.equalsIgnoreCase(from)),
      s"Cannot rename partition (source) column $from of $schema.$table")
    requireNoEqDeleteKey(schema, table, from, "rename")
    require(to.matches("""[A-Za-z_]\w*"""), s"Malformed column name: '$to'")
    validateColumnName(to, formatVersion(schema, table))
    writeString(new Path(tableDir(schema, table), "_table_schema.json"),
      StructType(current.fields.map(f =>
        if (f.name.equalsIgnoreCase(from)) f.copy(name = to) else f)).json)
    // a renamed sort column follows into _sorted_by.json (keeping its
    // ASC/DESC direction) so writes keep clustering on it — leaving the
    // old name would make the table permanently unwritable (round-7
    // advice)
    val sorted = sortSpec(schema, table)
    if (sorted.exists(s => sortEntryCols(s).exists(_.equalsIgnoreCase(from))))
      writeString(new Path(tableDir(schema, table), "_sorted_by.json"),
        sorted.map { s =>
          s.trim match {
            case zorderRe(inner) if sortEntryCols(s).exists(_.equalsIgnoreCase(from)) =>
              "zorder(" + inner.split(",").map(_.trim).map(c =>
                if (c.equalsIgnoreCase(from)) to else c).mkString(", ") + ")"
            case _ if sortColName(s).equalsIgnoreCase(from) =>
              (to +: s.trim.split("\\s+").tail).mkString(" ")
            case _ => s
          }
        }.mkString("\n"))
    // a renamed bloom column follows into _bloom_columns.json so FUTURE
    // commits keep building its blooms; pre-rename manifests keep blooms
    // under the old name, which new-name probes simply never consult
    val blooms = bloomColumns(schema, table)
    if (blooms.exists(_.equalsIgnoreCase(from)))
      writeString(new Path(tableDir(schema, table), "_bloom_columns.json"),
        blooms.map(c => if (c.equalsIgnoreCase(from)) to else c).mkString("\n"))
  }

  /** `ALTER TABLE … ALTER COLUMN c SET DATA TYPE t` — Iceberg's SAFE type
    * promotions only (iceberg.apache.org/spec/#schema-evolution, Trino's
    * set_column_type): integral widening up to bigint, real → double,
    * decimal precision widening at the same scale. Metadata-only:
    * existing files keep their physical type and the parquet reader
    * widens values on scan; snapshots committed BEFORE the promotion
    * pinned the narrower schema, so time travel presents the old type.
    */
  def setColumnType(schema: String, table: String, name: String,
                    newType: org.apache.spark.sql.types.DataType): Unit = synchronized {
    require(tableExists(schema, table), s"Table $schema.$table does not exist")
    val current = declaredSchema(schema, table).getOrElse(
      throw new IllegalStateException(s"Table $schema.$table has no declared schema"))
    val field = current.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(
        s"Column $name does not exist in $schema.$table"))
    require(promotionOk(field.dataType, newType),
      s"Unsafe type change for $schema.$table.$name: ${field.dataType.sql} -> " +
        s"${newType.sql} (safe promotions: tinyint/smallint/int -> bigint, " +
        "real -> double, decimal(p,s) -> decimal(p',s) with p' > p)")
    // bucket/truncate transforms derive directory values from the
    // PHYSICAL representation — a promotion would re-derive differently
    // for identical logical values (xxhash64 of int 5 != of long 5),
    // silently breaking transform projection on every pre-promotion file
    require(!partitionFields(schema, table).exists(f =>
      !f.isIdentity && f.source.equalsIgnoreCase(name)),
      s"Cannot change the type of $name: it is a partition-transform source " +
        s"of $schema.$table")
    writeString(new Path(tableDir(schema, table), "_table_schema.json"),
      StructType(current.fields.map(f =>
        if (f.name.equalsIgnoreCase(name)) f.copy(dataType = newType) else f)).json)
  }

  private def promotionOk(from: org.apache.spark.sql.types.DataType,
                          to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType)            => true
      case (IntegerType, LongType)                        => true
      case (FloatType, DoubleType)                        => true
      case (a: DecimalType, b: DecimalType) => b.scale == a.scale && b.precision > a.precision
      case _ => false
    }
  }

  /** DROP TABLE (S6). */
  def dropTable(schema: String, table: String): Unit = {
    val dir = tableDir(schema, table)
    fs(dir).delete(dir, true)
    // a pointer-registered table also drops its catalog pointer dir
    val entry = new Path(schemaLocation(schema), table)
    if (entry.toUri.getPath != dir.toUri.getPath) fs(entry).delete(entry, true)
    tableLocationCache.remove(s"$schema.$table")
  }

  // ---- register / unregister / add_files (Trino Iceberg's
  //      system.register_table / system.unregister_table procedures and
  //      `ALTER TABLE … EXECUTE add_files`) ----

  /** CALL system.register_table: attach an existing table layout at
    * `location` to the catalog as `schema.table` WITHOUT moving or
    * copying any data (Trino Iceberg's register_table procedure,
    * trino.io/docs/current/connector/iceberg.html#register-table; the
    * reference stack gets this from its Nessie catalog). Two shapes:
    *  - `location` IS the table's default catalog path (re-registering a
    *    layout detached by [[unregisterTable]]): the tombstone is removed
    *    in place;
    *  - any other location: the catalog entry becomes a pointer dir
    *    holding only a `_table_location` marker, which every later
    *    [[tableDir]] resolution follows — the data never moves, and
    *    snapshots/refs/stats arrive with it.
    */
  def registerTable(schema: String, table: String, location: String): Unit =
    registerTableImpl(schema, table, location, checkAlias = true)

  private def registerTableImpl(schema: String, table: String,
                                location: String,
                                checkAlias: Boolean): Unit = synchronized {
    require(schemaExists(schema), s"Schema $schema does not exist")
    require(!tableExists(schema, table) && !viewExists(schema, table),
      s"Table or view $schema.$table already exists")
    val loc = new Path(location)
    require(fs(loc).exists(new Path(loc, "commits.json")),
      s"$location does not hold a table layout (no commits.json)")
    // reject a location that ALIASES a live catalog table: two names
    // over one commit log means DROP TABLE through either deletes the
    // shared data while the other name still resolves (a tombstoned /
    // unregistered layout is fine — registering it IS the revival path).
    // migrateTable ran the identical scan before writing any metadata
    // and skips the repeat (the lock is held across both halves).
    if (checkAlias) {
      val locKey = fs(loc).makeQualified(loc).toUri.getPath
      listSchemas().foreach { s =>
        listTables(s).foreach { t =>
          val d = tableDir(s, t)
          require(fs(d).makeQualified(d).toUri.getPath != locKey,
            s"Location $location is already the storage of catalog table " +
              s"$s.$t — a second name over the same commit log would make " +
              "DROP through either delete the other's data")
        }
      }
    }
    val entry = new Path(schemaLocation(schema), table)
    val tomb = new Path(loc, "_unregistered")
    if (fs(loc).makeQualified(loc).toUri.getPath ==
        fs(entry).makeQualified(entry).toUri.getPath) {
      fs(tomb).delete(tomb, false) // re-register in place
    } else {
      require(!fs(entry).exists(new Path(entry, "commits.json")),
        s"Catalog entry $schema.$table already holds a table layout")
      writeString(new Path(entry, "_table_location"), location)
      fs(tomb).delete(tomb, false) // registration revives a tombstoned layout
    }
    tableLocationCache.remove(s"$schema.$table")
  }

  /** CALL system.register_iceberg_table: attach a table written in the
    * APACHE ICEBERG FORMAT (v1/v2 — the reference stack's native format,
    * TrinoConfigurationProvider.cs:42 `connector.name=iceberg`) to this
    * catalog READ-ONLY-IN-PLACE: the genuine `metadata.json` + Avro
    * manifest tree parses into the engine's own snapshot model
    * ([[IcebergInterop]]), one graft snapshot per Iceberg snapshot with
    * the ICEBERG snapshot ids and commit timestamps preserved — `FOR
    * VERSION AS OF <iceberg-id>` and `FOR TIMESTAMP AS OF` work
    * unchanged — and per-file bounds decoded from the manifests' binary
    * single-value serialization, so bounds pruning and metadata DELETE
    * proofs see the same statistics Iceberg readers do.
    *
    * The Iceberg tree is NEVER written to: the graft commit log lives in
    * the catalog's own entry directory and references the data files by
    * absolute path (the adopted-in-place representation). Later graft
    * commits version the registered state forward in the graft log only
    * — the Iceberg metadata does not see them (one-way interop; the
    * registration is a metadata snapshot, KB-scale, data untouched).
    *
    * Column resolution follows the spec's projection rule: data files
    * are read by FIELD ID (the parsed schema carries
    * `parquet.field.id` metadata, [[IcebergInterop.FieldIdKey]]), so a
    * foreign RENAME COLUMN keeps reading pre-rename files' values. A
    * tree whose sampled data files carry no parquet field ids
    * (migrate/add_files imports) falls back to name resolution — but
    * only after the sampled footers' names all prove present in the
    * schema; a mismatch (the rename-hazard shape) refuses loudly.
    * V2 row-level deletes import onto the engine's own merge-on-read
    * kinds: POSITIONAL delete files rewrite into engine delete dirs,
    * and EQUALITY delete files become [[EqDelete]]s whose `appliesTo`
    * snapshot is derived from — and VERIFIED against — the delete's
    * data sequence number ([[importEqualityDeletes]]; an
    * unrepresentable scoping refuses loudly).
    */
  def registerIcebergTable(schema: String, table: String, location: String,
                           metadataFile: Option[String] = None): Unit = synchronized {
    require(schemaExists(schema), s"Schema $schema does not exist")
    require(!tableExists(schema, table) && !viewExists(schema, table),
      s"Table or view $schema.$table already exists")
    val loc = new Path(location)
    val f = fs(loc)
    val conf = spark.sparkContext.hadoopConfiguration
    val mdPath = metadataFile.map(new Path(_)).getOrElse(
      IcebergInterop.currentMetadataPath(f, loc))
    require(f.exists(mdPath), s"Iceberg metadata file $mdPath does not exist")
    val mdJson = readString(mdPath)
    val meta = IcebergInterop.parseMetadata(mdJson)
    // main-line ancestry only: staged (WAP) snapshots and post-rollback
    // survivors in the snapshots list are NOT the table's state
    val ordered = IcebergInterop.mainLine(meta)
    require(ordered.nonEmpty, s"$mdPath records no snapshots")
    val tableSchema = icebergReadSchema(
      new Path(schemaLocation(schema), table), loc, meta, ordered)
    createTable(schema, table, tableSchema)
    val dir = tableDir(schema, table)
    try {
      // Column Projection attach (spec §Column Projection): when the
      // tree's data files do NOT store an identity-source column, its
      // values must fill from the manifest `partition` structs — the
      // shape graft's own export writes. Declaring the identity spec as
      // graft partitioning routes reads through the manifest relation's
      // per-entry fill ([[org.apache.spark.sql.GraftManifestFileIndex]]).
      val projIdents = icebergProjectionIdentityCols(dir, loc, meta,
        ordered, s"$schema.$table")
      if (projIdents.nonEmpty)
        writeString(new Path(dir, "_partition_spec.json"),
          projIdents.mkString("\n"))
      val manifestReuse = scala.collection.mutable.Map
        .empty[(String, Option[Long]), Seq[String]]
      val snaps = convertIcebergSnapshots(dir, loc, meta, ordered,
        prevAt = 0L, pinSchema = tableSchema, manifestReuse = manifestReuse)
      if (projIdents.nonEmpty)
        verifyProjectionReconstructible(dir, snaps, projIdents,
          s"$schema.$table")
      val (commits, gen) = readCommitsWithGen(schema, table)
      require(commits.isEmpty, s"fresh table $schema.$table has commits?")
      writeCommits(schema, table, snaps, gen)
      // the one-way sync anchor: refreshIcebergTable re-reads this
      // location's current metadata and appends the snapshots that
      // arrived since. The IMPORTED id set travels with it — a local
      // graft commit mints sequential ids adjacent to the imported ones,
      // so "which snapshots came from Iceberg" cannot be recovered from
      // the log alone
      val mirroredTags = syncIcebergTags(schema, table, meta.tags,
        ordered.map(_.id).toSet, Set.empty)
      val regSeqs = ordered.flatMap(s => s.seq.map(s.id -> _)).toMap
      val mirroredBranches = syncIcebergBranches(schema, table, dir, loc,
        meta, tableSchema, regSeqs, manifestReuse, Map.empty)
      writeIcebergSource(dir, f.makeQualified(loc).toUri.toString,
        ordered.map(_.id), meta.specFields,
        seqs = regSeqs,
        manifests = manifestReuse.toMap,
        manifestSchemaHash = icebergDecodeHash(tableSchema, meta.specFields),
        tagNames = mirroredTags.toSeq,
        branchHeads = mirroredBranches)
      // exported ANALYZE stats restore when they observe an imported
      // snapshot — SHOW STATS is metadata-only from the first query
      // (round-12 verdict #7); junk in a foreign property skips quietly
      try Option(mapper.readTree(mdJson).get("properties"))
        .flatMap(p => Option(p.get("graft.stats"))).map(_.asText)
        .foreach { raw =>
          val sid = mapper.readTree(raw).get("snapshotId").asLong
          if (ordered.exists(_.id == sid))
            writeString(statsPath(schema, table), raw)
        }
      catch { case scala.util.control.NonFatal(_) => () }
    } catch {
      case scala.util.control.NonFatal(ex) =>
        // never leave a half-registered table behind
        try dropTable(schema, table) catch { case _: Exception => () }
        throw ex
    }
  }

  /** ONE path convention for everything an attached snapshot references
    * (round-11 advice — the old re-anchor dropped scheme+authority
    * inconsistently): scheme-normalize, re-anchor paths under the
    * RECORDED table location onto the registration location, qualify on
    * the source filesystem, and require the result to live on the SAME
    * filesystem as the catalog entry. The read path resolves stored
    * absolute paths against the table dir's filesystem, so a
    * cross-filesystem file would silently read from the wrong store —
    * refuse loudly instead.
    */
  private def iceResolver(dir: Path, loc: Path, recLocation: String): String => Path = {
    val fSrc = fs(loc)
    val locQ = fSrc.makeQualified(loc)
    val dirU = fs(dir).makeQualified(dir).toUri
    val recRoot = recLocation.replaceFirst(SchemeNormRe, "/").stripSuffix("/")
    (p: String) => {
      val b = p.replaceFirst(SchemeNormRe, "/")
      val q =
        if (b.startsWith(recRoot + "/"))
          fSrc.makeQualified(new Path(locQ, b.stripPrefix(recRoot + "/")))
        else {
          val raw = new Path(p)
          if (raw.toUri.getScheme != null) raw
          else fSrc.makeQualified(if (raw.isAbsolute) raw else new Path(locQ, p))
        }
      val u = q.toUri
      require(Option(u.getScheme) == Option(dirU.getScheme) &&
          Option(u.getAuthority) == Option(dirU.getAuthority),
        s"Iceberg path $p resolves to $q, on a different filesystem than " +
          s"the catalog entry (${dirU.getScheme}://${Option(dirU.getAuthority)
            .getOrElse("")}) — cross-filesystem registration is not " +
          "supported; register into a catalog schema on the same store")
      q
    }
  }

  /** Data-file footer sampling that picks the column-resolution mode
    * for an attached tree: the id-carrying schema when every sampled
    * file (first/last entries of the first/last snapshots, ≤8 footers)
    * has parquet field ids — real Iceberg writers always write them —
    * else the id-stripped schema for NAME resolution, but only after
    * every sampled footer's names prove present in the schema. An
    * id-less footer with an unknown column name means the tree evolved
    * by rename/drop and a name read would silently misread history:
    * refuse loudly ("fails loud, never silently misreads").
    */
  /** The identity-source column names an attached tree must COLUMN-
    * PROJECT (spec §Column Projection: fill from the manifest
    * `partition` struct) because its data files don't store them —
    * graft's own exports, and migrate-style foreign writers. Samples
    * the same ≤8 footers as the resolution-mode pick; a column counts
    * as stored when the footer carries its field id (id trees) or its
    * name. Returns ALL identity sources when ANY sampled file misses
    * any of them — projecting a column that IS also stored is equally
    * exact (the spec requires every row to equal the partition value),
    * while reading a missing one would silently NULL. Empty for
    * unpartitioned / fully-stored trees (the status quo read).
    */
  private def icebergProjectionIdentityCols(dir: Path, loc: Path,
                                            meta: IcebergInterop.IceMeta,
                                            ordered: Seq[IcebergInterop.IceSnapshot],
                                            what: String): Seq[String] = {
    val idents = meta.specFields.filter(_.transform == "identity")
      .flatMap(sf => meta.fields.find(_.id == sf.sourceId))
    if (idents.isEmpty) return Nil
    val conf = spark.sparkContext.hadoopConfiguration
    val sampled = sampleIcebergDataFiles(dir, loc, meta, ordered)
    val anyMissing = sampled.exists { p =>
      val footer = IcebergInterop.parquetFooterFields(conf, p)
      idents.exists(f => !footer.exists { case (n, id) =>
        id.contains(f.id) || (id.isEmpty && n.equalsIgnoreCase(f.name)) })
    }
    if (!anyMissing) Nil
    else {
      require(!meta.schema.fieldNames.exists(_.equalsIgnoreCase("_snap")),
        s"$what: column-projection tree declares a column named _snap, " +
          "which is reserved in partitioned graft tables — cannot attach")
      idents.map(_.name)
    }
  }

  /** Every data file of a column-projection attachment must have a
    * reconstructible value per projected identity column: an exact
    * manifest bound (min = max, zero nulls), the all-null marker
    * (nulls = rows), or a hive `col=value` path segment. Anything else
    * — an over-long string value, a NaN, a type the bounds tier drops —
    * would read as NULL, so the attach refuses loudly instead.
    */
  private def verifyProjectionReconstructible(dir: Path, snaps: Seq[Snapshot],
                                              cols: Seq[String],
                                              what: String): Unit = {
    val seen = scala.collection.mutable.Set.empty[String]
    snaps.foreach { s =>
      manifestEntriesOf(dir, s).foreach { e =>
        if (seen.add(e.path)) cols.foreach { c =>
          val cb = e.bounds.collectFirst {
            case (n, b) if n.equalsIgnoreCase(c) => b }
          val ok = cb.exists(b =>
            (b.min != null && b.min == b.max && b.nulls == 0L) ||
              (b.min == null && b.max == null && b.nulls == e.rows)) ||
            e.path.split('/').dropRight(1).exists { seg =>
              val i = seg.indexOf('=')
              i > 0 && seg.substring(0, i).equalsIgnoreCase(c)
            }
          require(ok, s"$what: data file ${e.path} stores no identity " +
            s"column $c and neither the manifest partition struct nor " +
            "the path determines its value — a read would silently NULL " +
            "it; refusing to attach")
        }
      }
    }
  }

  /** Footer-sample file set for an attached tree's resolution-mode and
    * column-projection picks: the first/last entries of the first/last
    * data manifests of UP TO 16 snapshots — first, last, and evenly
    * spaced between (≤64 footers). Wider than first/last snapshots
    * alone so a migrate-shaped batch landing in a MIDDLE snapshot
    * (id-less files, or files missing an identity column) is seen;
    * still a bounded sample, never O(files) footer reads — the
    * per-entry reconstructibility verification is the exact backstop
    * for projection mode.
    */
  private def sampleIcebergDataFiles(dir: Path, loc: Path,
                                     meta: IcebergInterop.IceMeta,
                                     ordered: Seq[IcebergInterop.IceSnapshot]): Seq[Path] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val resolve = iceResolver(dir, loc, meta.location)
    val picked =
      if (ordered.size <= 16) ordered
      else (0 until 16).map(i =>
        ordered(((ordered.size - 1).toLong * i / 15).toInt)).distinct
    picked.flatMap { s =>
      val mans = IcebergInterop.readManifestList(conf, resolve(s.manifestList))
        .filter(_.content == 0)
      (mans.headOption.toSeq ++ mans.lastOption.toSeq).distinct.flatMap { m =>
        val es = IcebergInterop.readManifest(conf, resolve(m.path), meta.fields)
        (es.headOption.toSeq ++ es.lastOption.toSeq).map(e => resolve(e.path))
      }
    }.distinct.take(64)
  }

  private def icebergReadSchema(dir: Path, loc: Path,
                                meta: IcebergInterop.IceMeta,
                                ordered: Seq[IcebergInterop.IceSnapshot]): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val sampled: Seq[Path] = sampleIcebergDataFiles(dir, loc, meta, ordered)
    if (sampled.isEmpty ||
        sampled.forall(IcebergInterop.parquetHasFieldIds(conf, _)))
      meta.schema
    else {
      val names = meta.schema.fieldNames
        .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
      sampled.foreach { p =>
        val alien = IcebergInterop.parquetFooterNames(conf, p)
          .filterNot(n => names(n.toLowerCase(java.util.Locale.ROOT)))
        require(alien.isEmpty,
          s"Iceberg data file $p carries no parquet field ids and its " +
            s"footer holds column(s) ${alien.mkString(", ")} absent from " +
            "the table schema — the tree evolved by rename/drop, and a " +
            "name-based read would silently misread it; refusing")
      }
      IcebergInterop.stripFieldIds(meta.schema)
    }
  }

  private def convertIcebergSnapshots(dir: Path, loc: Path,
                                      meta: IcebergInterop.IceMeta,
                                      ordered: Seq[IcebergInterop.IceSnapshot],
                                      prevAt: Long,
                                      pinSchema: StructType,
                                      priorCommits: Seq[Snapshot] = Nil,
                                      storedSeqs: Map[Long, Long] = Map.empty,
                                      manifestReuse: scala.collection.mutable.Map[
                                        (String, Option[Long]), Seq[String]] =
                                        scala.collection.mutable.Map.empty,
                                      lineOverride: Option[Seq[IcebergInterop.IceSnapshot]] =
                                        None)
      : Seq[Snapshot] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val resolve = iceResolver(dir, loc, meta.location)
    // the raw read-time form of an imported entry path — what
    // `_metadata.file_path` yields when the manifest relation scans it
    // (the index qualifies entries against the table dir): imported
    // positional-delete coordinates are rewritten to this form so the
    // engine's (file, pos) anti-join and footer arithmetic stay exact
    val rawPrefix = {
      val probe = new Path(fs(dir).makeQualified(dir), "/__p__").toString
      probe.stripSuffix("/__p__")
    }
    var at = prevAt
    // snapshots usually carry the same delete files forward — convert
    // each distinct (delete files, live files) state once
    val delDirCache =
      scala.collection.mutable.Map.empty[(Seq[String], Seq[String]), Option[String]]
    // manifests carry forward across snapshots (Iceberg's own layout) —
    // decode each resolved manifest ONCE per call, not once per
    // snapshot that lists it. Keyed by (path, inherited seq): a
    // re-listed manifest keeps its original sequence number, so the key
    // degenerates to the path in practice
    val manMemo = new java.util.concurrent.ConcurrentHashMap[
      (String, Option[Long]), Seq[(DataFileEntry, Option[Long])]]()
    def decodeDataManifests(mans: Seq[IcebergInterop.IceManifest])
        : Seq[(DataFileEntry, Option[Long])] = {
      // PARALLEL driver threads: a 10⁶-file registration should be
      // bounded by Avro decode throughput × cores, not a serial loop.
      // Entry order stays deterministic (indexed result slots).
      val arr = mans.toIndexedSeq
      val out = new Array[Seq[(DataFileEntry, Option[Long])]](arr.size)
      java.util.stream.IntStream.range(0, arr.size).parallel().forEach { i =>
        val m = arr(i)
        out(i) = manMemo.computeIfAbsent((m.path, m.seq), _ =>
          IcebergInterop.readManifestWithSeq(conf, resolve(m.path),
            meta.fields, meta.specFields, m.seq).map { case (e, seq) =>
            // re-anchor relocated data paths the same way as the manifests
            (e.copy(path = resolve(e.path).toUri.getPath), seq)
          })
      }
      out.toSeq.flatten
    }
    // the GRAFT manifests mirror the foreign sharing: ONE graft manifest
    // (set) per distinct foreign manifest, reused by every snapshot that
    // carries it — without this, snapshot i re-serializes all i×F
    // entries and a 10⁶-file × 100-snapshot registration writes 10⁸
    // entry copies (measured 0.22 → 0.095 s/snapshot even at 64×64
    // before the fix; linear in DISTINCT manifests after)
    def writeGraftManifests(mans: Seq[IcebergInterop.IceManifest]): Seq[String] =
      mans.flatMap { m =>
        manifestReuse.getOrElseUpdate((m.path, m.seq),
          writeManifests(dir, decodeDataManifests(Seq(m)).map(_._1)))
      }
    // every main-line snapshot, oldest-first by sequence — the
    // equality-delete appliesTo search runs over the FULL line (a
    // refresh's candidate may predate the fresh slice); a BRANCH
    // conversion overrides it with the branch's own ancestry
    val lineAll = lineOverride.getOrElse(IcebergInterop.mainLine(meta))
    val eqImports = scala.collection.mutable.Map.empty[String, EqDelete]
    ordered.map { s =>
      val manifests = IcebergInterop.readManifestList(conf, resolve(s.manifestList))
      val (delMans, dataMans) = manifests.partition(_.content != 0)
      val entriesWithSeq = decodeDataManifests(dataMans)
      val entries = entriesWithSeq.map(_._1)
      val delFiles = delMans.flatMap(m =>
        IcebergInterop.readDeleteManifest(conf, resolve(m.path), m.seq))
      val (eqFiles, posFiles) = delFiles.partition(_.content == 2)
      // v2 positional deletes (spec §Position Delete Files): rewrite the
      // foreign (file_path, pos) parquet into an engine delete dir —
      // coordinates re-anchored to the raw read-time form, deduped, and
      // restricted to THIS snapshot's data files, so every engine
      // invariant over Snapshot.deletes (exact footer arithmetic, the
      // carry/compact logic) holds for imports too.
      val posPaths = posFiles.map(_.path).distinct.sorted
      val delKey = (posPaths, entries.map(_.path).sorted)
      val deletes = delDirCache.getOrElseUpdate(delKey,
        importPositionalDeletes(dir, posPaths.map(resolve),
          entries.map(e => rawPrefix + e.path), rawPrefix,
          meta.location, loc)).toSeq
      val eqDels = importEqualityDeletes(dir, loc, meta, s, lineAll,
        eqFiles, entriesWithSeq, decodeDataManifests, resolve, eqImports,
        pinSchema, priorCommits, storedSeqs)
      val names = writeGraftManifests(dataMans)
      at = math.max(s.timestampMs, at + 1) // graft history is monotonic
      Snapshot(s.id, at, Some(pinSchema.json),
        s.operation.orElse(Some("append")), deletes,
        Some(writeManifestList(dir, names)), None, eqDels)
    }
  }

  /** Map one imported snapshot's live EQUALITY-delete files (Iceberg v2
    * content-2 files — key tuples scoped by DATA SEQUENCE NUMBER, spec
    * §Equality Delete Files / §Scan Planning) onto the engine's own
    * [[EqDelete]] merge-on-read kind, whose scope is an `appliesTo`
    * SNAPSHOT (rows of files belonging to it are shadowed; later files
    * are exempt).
    *
    * The two scopes are reconciled EXACTLY, never approximately: for a
    * delete at sequence Nd the candidate appliesTo is the latest
    * main-line snapshot P with seq(P) < Nd, and the import VERIFIES per
    * snapshot that `{live data file f : dataSeq(f) < Nd}` equals
    * `files(P) ∩ live files` — the two agree whenever data files carry
    * the sequence number of the snapshot that added them (every normal
    * writer), and disagree only when a compaction carried OLD data
    * sequence numbers onto files committed PAST the pending delete
    * (Iceberg's rewrite provision). That shape cannot be expressed as
    * an appliesTo snapshot, so it refuses loudly — never a silent
    * misread — with compaction-by-the-source-engine as the recovery
    * path.
    *
    * Key columns resolve from `equality_ids` through the CURRENT schema
    * (ids are rename-stable); the foreign key parquet rewrites once per
    * file into an engine delete dir under a DETERMINISTIC name, so a
    * later refresh re-listing the same carried delete file reuses the
    * dir and the resulting [[EqDelete]] values stay identical across
    * syncs (CDC diffs between refreshes see no phantom deletes).
    */
  private def importEqualityDeletes(dir: Path, loc: Path,
      meta: IcebergInterop.IceMeta,
      s: IcebergInterop.IceSnapshot,
      lineAll: Seq[IcebergInterop.IceSnapshot],
      eqFiles: Seq[IcebergInterop.IceDeleteFile],
      entriesWithSeq: Seq[(DataFileEntry, Option[Long])],
      decodeDataManifests: Seq[IcebergInterop.IceManifest] => Seq[(DataFileEntry, Option[Long])],
      resolve: String => Path,
      eqImports: scala.collection.mutable.Map[String, EqDelete],
      pinSchema: StructType,
      priorCommits: Seq[Snapshot] = Nil,
      storedSeqs: Map[Long, Long] = Map.empty): Seq[EqDelete] = {
    if (eqFiles.isEmpty) return Nil
    val conf = spark.sparkContext.hadoopConfiguration
    val byId = meta.fields.map(f => f.id -> f).toMap
    require(lineAll.forall(_.seq.isDefined),
      s"${s.manifestList}: equality deletes require every main-line " +
        "snapshot to carry a sequence-number (v2 metadata)")
    entriesWithSeq.find(_._2.isEmpty).foreach { case (e, _) =>
      throw new IllegalArgumentException(
        s"data file ${e.path}: unknown data sequence number — equality " +
          "deletes cannot be scoped without it")
    }
    // appliesTo candidates: surviving main-line snapshots (file sets
    // from the foreign manifests), PLUS previously-imported snapshots
    // the source has since EXPIRED — their sequence numbers were
    // recorded at import time and their file sets live on in the GRAFT
    // manifests, so a carried delete keeps its exact boundary even
    // after the source forgets it
    final case class Cand(id: Long, seq: Long, files: () => Set[String])
    val lineIds = lineAll.map(_.id).toSet
    val cands: Seq[Cand] =
      lineAll.flatMap(x => x.seq.map(sq => Cand(x.id, sq, () =>
        decodeDataManifests(IcebergInterop.readManifestList(conf,
          resolve(x.manifestList)).filter(_.content == 0))
          .map(_._1.path).toSet))) ++
      priorCommits.filterNot(c => lineIds.contains(c.snapshotId))
        .flatMap(c => storedSeqs.get(c.snapshotId).map(sq =>
          Cand(c.snapshotId, sq, () =>
            manifestEntriesOf(dir, c).map(_.path).toSet)))
    val distinctEq = eqFiles.groupBy(_.path).values.map(_.head).toSeq
      .sortBy(f => (f.dataSeq.getOrElse(Long.MaxValue), f.path))
    distinctEq.flatMap { del =>
      val nd = del.dataSeq.getOrElse(throw new IllegalArgumentException(
        s"equality delete ${del.path}: unknown data sequence number — " +
          "cannot scope it to the data files it shadows"))
      val keyNames = del.equalityIds.map(id => byId.getOrElse(id,
        throw new IllegalArgumentException(
          s"equality delete ${del.path} keys on field id $id, absent " +
            "from the current schema")).name)
      // Iceberg truth for THIS snapshot: live files strictly older than
      // the delete
      val shadowed = entriesWithSeq.collect {
        case (e, Some(ds)) if ds < nd => e.path
      }.toSet
      val candidate = cands.filter(_.seq < nd).sortBy(_.seq).lastOption
      candidate match {
        case None =>
          require(shadowed.isEmpty,
            s"equality delete ${del.path} (seq $nd) shadows " +
              s"${shadowed.size} file(s) but no snapshot precedes it — " +
              "unrepresentable scoping")
          None // nothing to shadow at any snapshot: drop the delete
        case Some(p) =>
          // the engine shadows files(P) ∩ live files — verify it equals
          // the sequence-number truth, else refuse
          val pFiles = p.files()
          val live = entriesWithSeq.map(_._1.path).toSet
          val engineShadow = pFiles intersect live
          require(engineShadow == shadowed,
            s"equality delete ${del.path} (seq $nd): its sequence-number " +
              s"scope does not match any snapshot boundary (a compaction " +
              "carried old data sequence numbers past the pending delete) " +
              "— refusing; compact the table with its own engine first")
          val imported = eqImports.getOrElseUpdate(del.path, {
            val resolved = resolve(del.path)
            // deterministic name: a later refresh re-listing this
            // carried file reuses the dir instead of re-writing it
            val delDir = s"eqdel-import-${sha1Hex(resolved.toUri.toString).take(16)}"
            val target = new Path(dir, delDir)
            // a crashed earlier sync may have left a half-committed dir:
            // only a _SUCCESS-marked write is reusable — anything else
            // rewrites from scratch (an empty delete would silently
            // resurrect every shadowed row)
            if (fs(dir).exists(target) &&
                !fs(dir).exists(new Path(target, "_SUCCESS")))
              fs(dir).delete(target, true)
            if (!fs(dir).exists(target)) {
              // the key columns, conformed to CURRENT names: the pinned
              // schema restricted to the key fields resolves the foreign
              // parquet by field id (or by name in the id-less fallback
              // mode), exactly like the data read path
              val delSchema = StructType(keyNames.map(n =>
                pinSchema.fields.find(_.name == n).getOrElse(
                  throw new IllegalStateException(
                    s"key column $n missing from pinned schema"))))
              spark.read.schema(delSchema).parquet(resolved.toString)
                .distinct().coalesce(1)
                .write.mode("errorifexists").parquet(target.toString)
            }
            val rows = scanEntries(dir, delDir).map(_.rows).sum
            EqDelete(delDir, keyNames, p.id, rows)
          })
          require(imported.appliesTo == p.id,
            s"equality delete ${del.path}: appliesTo drifted between " +
              s"snapshots (${imported.appliesTo} vs ${p.id}) — a carried " +
              "delete file changed sequence number, refusing")
          Some(imported)
      }
    }
  }

  /** Rewrite foreign positional-delete parquet (`file_path` string,
    * `pos` long — spec §Position Delete Files) into one engine delete
    * dir under the graft table: file_path values scheme-normalize and
    * re-anchor exactly like data entries (a relocated tree's deletes
    * must follow its files), then take the raw read-time form; rows are
    * deduped and restricted to the snapshot's live files (a foreign
    * delete file may address files long rewritten away — carrying those
    * rows would break the engine's exact footer arithmetic). Returns
    * None when nothing survives. Delete files are bounded by the
    * foreign writer's DML selectivity — KB-to-MB-scale jobs at import
    * time, never per read.
    */
  private def importPositionalDeletes(dir: Path, files: Seq[Path],
                                      liveRaw: Seq[String], rawPrefix: String,
                                      recLocation: String, loc: Path): Option[String] = {
    if (files.isEmpty) return None
    import org.apache.spark.sql.functions.{col, concat, lit, regexp_replace, when}
    // authority-FREE bare forms on BOTH sides: the live set is built
    // from toUri.getPath (authority dropped), so coordinates recorded
    // on an authority-bearing filesystem (hdfs://nn:8020/…) must drop
    // it too or out-of-root files would silently stop matching
    val bareRec = new Path(recLocation).toUri.getPath.stripSuffix("/")
    val recAuth = Option(new Path(recLocation).toUri.getAuthority)
      .filter(_.nonEmpty)
    val locPath = fs(loc).makeQualified(loc).toUri.getPath
    val b0 = regexp_replace(col("file_path"), SchemeNormRe, "/")
    val b = recAuth match {
      case Some(a) => when(b0.startsWith(s"/$a/"),
        b0.substr(lit(a.length + 2), lit(Int.MaxValue))).otherwise(b0)
      case None => b0
    }
    val anchored =
      if (bareRec == locPath) b // not relocated: the bare form is final
      else when(b.startsWith(bareRec + "/"),
        concat(lit(locPath), b.substr(lit(bareRec.length + 1), lit(Int.MaxValue))))
        .otherwise(b)
    val rewritten = spark.read.parquet(files.map(_.toString): _*)
      .select(concat(lit(rawPrefix), anchored).as("file_path"),
        col("pos").cast("long").as("pos"))
      .distinct()
    val kept = fileSetFilter(rewritten, "file_path", liveRaw, anti = false)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // DETERMINISTIC dir name keyed by (delete files, the live files
      // they actually address): a later snapshot that merely APPENDS a
      // data file while carrying the same deletes reuses the SAME dir —
      // cur.deletes stays equal to prev.deletes, so append-only commit
      // classification (streaming reads, incremental MV, CDC) survives
      // carried foreign deletes (same stability contract as the
      // eq-delete import's SHA-named dirs)
      val relevant = kept.select("file_path").distinct()
        .collect().map(_.getString(0)).sorted
      if (relevant.isEmpty) return None // addresses nothing live
      // NUL between the two lists: without a boundary, (files=[A],
      // relevant=[B,C]) and (files=[A,B], relevant=[C]) would hash
      // identically and the second state would reuse the first's dir
      val digest = sha1Hex(files.map(_.toString).sorted.mkString("\n") +
        "\u0000" + relevant.mkString("\n")).take(16)
      val dirName = s"delete-import-$digest"
      val target = new Path(dir, dirName)
      // only a _SUCCESS-marked earlier write is reusable (a crashed
      // sync's partial dir must rewrite, not serve an empty delete)
      if (fs(dir).exists(target) &&
          !fs(dir).exists(new Path(target, "_SUCCESS")))
        fs(dir).delete(target, true)
      if (!fs(dir).exists(target))
        kept.repartitionByRange(col("file_path"), col("pos"))
          .write.mode("errorifexists").parquet(target.toString)
      Some(dirName)
    } finally kept.unpersist()
  }

  /** CALL system.refresh_iceberg_table: one-way sync for a table
    * attached by [[registerIcebergTable]] — re-read the source
    * location's CURRENT Iceberg metadata and append the snapshots that
    * arrived since, newest state becoming the graft head. Refuses when
    * the graft log diverged (a local commit after the last import —
    * the two histories cannot merge) and is a no-op when no new
    * snapshot exists. Snapshot ids stay the Iceberg ids, so time travel
    * spans the whole imported history.
    */
  def refreshIcebergTable(schema: String, table: String): Long = synchronized {
    require(tableExists(schema, table), s"Table $schema.$table does not exist")
    val dir = tableDir(schema, table)
    val marker = new Path(dir, "_iceberg_source")
    require(fs(marker).exists(marker),
      s"$schema.$table was not attached by register_iceberg_table")
    val (locStr, imported) = readIcebergSource(dir)
    val loc = new Path(locStr)
    val f = fs(loc)
    val mdPath = IcebergInterop.currentMetadataPath(f, loc)
    val meta = IcebergInterop.parseMetadata(readString(mdPath))
    val line = IcebergInterop.mainLine(meta)
    val (commits, gen) = readCommitsWithGen(schema, table)
    val lineIds = line.map(_.id).toSet
    // BOTH refusal checks run before the no-new-work early return — a
    // diverged or rolled-back table must never report a silent 0
    // (round-11 advice)
    commits.lastOption.foreach { c =>
      // divergence: the graft HEAD must be an imported Iceberg snapshot,
      // or the sync would interleave two unrelated histories (any local
      // commit — insert, DML, rollback — moves the head to a
      // locally-minted id)
      require(imported.contains(c.snapshotId),
        s"$schema.$table diverged from its Iceberg source (local head " +
          s"${c.snapshotId} was not imported from it) — cannot sync")
      // a foreign ROLLBACK rewrites history (with or without new commits
      // on top): our imported head is no longer on the source main line
      // while an OLDER imported snapshot still is. Distinguished from
      // snapshot EXPIRY — which trims oldest-first, so the head either
      // stays on the line or every imported id leaves it together;
      // expiry syncs fine, a rewrite refuses (drop + re-register is the
      // recovery path).
      require(lineIds.contains(c.snapshotId) ||
          line.forall(s => !imported.contains(s.id)),
        s"$schema.$table: the Iceberg source rolled back past imported " +
          s"snapshot ${c.snapshotId} — cannot sync a history rewrite " +
          "(drop and re-register)")
    }
    val fresh = line.filterNot(s => imported.contains(s.id))
    if (fresh.isEmpty) {
      // no new snapshots on MAIN, but the source's refs may still have
      // moved — tags re-point, and a BRANCH can advance without main
      val mirroredTags = syncIcebergTags(schema, table, meta.tags,
        imported, readIcebergTagNames(dir))
      val storedBranches = readIcebergBranchHeads(dir)
      val mirroredBranches =
        if (meta.branches.isEmpty && storedBranches.isEmpty)
          Map.empty[String, Long]
        else {
          val useIds0 = declaredSchema(schema, table).exists(_.fields.exists(
            _.metadata.contains(IcebergInterop.FieldIdKey)))
          val pin = if (useIds0) meta.schema
            else icebergReadSchema(dir, loc, meta, line)
          val hash0 = icebergDecodeHash(pin, meta.specFields)
          val reuse0 = readIcebergManifestReuse(dir, hash0)
          val res = syncIcebergBranches(schema, table, dir, loc, meta, pin,
            readIcebergSeqs(dir) ++
              line.flatMap(s => s.seq.map(s.id -> _)).toMap,
            reuse0, storedBranches)
          persistBranchManifestReuse(dir, loc, meta, res, reuse0, hash0)
          res
        }
      rewriteIcebergRefs(dir, mirroredTags.toSeq, mirroredBranches)
      return 0L
    }
    // the column-resolution mode from registration: the id-carrying
    // schema if the declared one has ids; otherwise re-run the footer
    // sampling — a name-mode tree that evolved by rename since the last
    // sync must refuse here too, not silently NULL history (and a tree
    // whose files gained ids upgrades to id resolution)
    val useIds = declaredSchema(schema, table).exists(_.fields.exists(
      _.metadata.contains(IcebergInterop.FieldIdKey)))
    val pinSchema =
      if (useIds) meta.schema else icebergReadSchema(dir, loc, meta, line)
    val prevAt = commits.lastOption.map(_.committedAtMillis).getOrElse(0L)
    // conversion FIRST (a failure here — e.g. an equality-delete
    // manifest — must leave the table exactly as it was; orphaned
    // manifest shards are GC-able debris), THEN the schema + commit-log
    // writes
    val decodeHash = icebergDecodeHash(pinSchema, meta.specFields)
    val manifestReuse = readIcebergManifestReuse(dir, decodeHash)
    val storedSeqs = readIcebergSeqs(dir)
    val snaps = convertIcebergSnapshots(dir, loc, meta, fresh, prevAt, pinSchema,
      priorCommits = commits, storedSeqs = storedSeqs,
      manifestReuse = manifestReuse)
    // a source writer may switch to column-projection files (identity
    // columns no longer stored) mid-stream: upgrade the attachment the
    // same way register does — projecting stored columns is equally
    // exact, reading missing ones would silently NULL
    if (partitionSpec(schema, table).isEmpty) {
      val projIdents = icebergProjectionIdentityCols(dir, loc, meta, fresh,
        s"$schema.$table")
      if (projIdents.nonEmpty) {
        verifyProjectionReconstructible(dir, commits ++ snaps, projIdents,
          s"$schema.$table")
        writeString(new Path(dir, "_partition_spec.json"),
          projIdents.mkString("\n"))
      }
    } else {
      // ALREADY projection-mode: every fresh snapshot's entries must
      // stay reconstructible — a foreign file whose identity value the
      // bounds tier drops (over-long string, NaN) and whose path holds
      // no hive segment would otherwise silently read NULL from here on
      verifyProjectionReconstructible(dir, snaps,
        partitionFields(schema, table).filter(_.isIdentity).map(_.source),
        s"$schema.$table")
    }
    // foreign schema evolution between syncs: the source's CURRENT
    // schema becomes the declared schema (new snapshots' files carry the
    // new columns; old files read NULL for them through the ordinary
    // conformance path — same as a local ADD COLUMN)
    if (!declaredSchema(schema, table).contains(pinSchema))
      writeString(new Path(dir, "_table_schema.json"), pinSchema.json)
    // prune the reuse map to the NEW TIP's manifest set: a foreign
    // manifest absent from the current snapshot never returns (lists
    // are complete per snapshot; rollbacks refuse above), so dropped
    // entries only bound the map — compaction churn on the source
    // must not grow _iceberg_source forever. Read BEFORE writeCommits:
    // a transient store failure here must leave the table exactly as
    // it was, never half-synced (commits written, imported set not)
    val tipManifests: Set[(String, Option[Long])] =
      IcebergInterop.readManifestList(spark.sparkContext.hadoopConfiguration,
        iceResolver(dir, loc, meta.location)(fresh.last.manifestList))
        .map(m => (m.path, m.seq)).toSet
    // ... and the seqs map prunes to ids still in the graft log or on
    // the line — entries for snapshots expired from BOTH are garbage
    val keepIds = (commits ++ snaps).map(_.snapshotId).toSet ++ lineIds
    val prunedSeqs = (storedSeqs ++
      line.flatMap(s => s.seq.map(s.id -> _)).toMap)
      .view.filterKeys(keepIds).toMap
    val storedTagNames = readIcebergTagNames(dir)
    val storedBranches = readIcebergBranchHeads(dir)
    writeCommits(schema, table, commits ++ snaps, gen)
    // record the MAIN sync before ANY ref mirroring (tags touch local
    // tag files and can refuse on collisions; branches read the foreign
    // store again): a failure in either must leave a fully-synced main,
    // not a table whose next refresh refuses as diverged
    writeIcebergSource(dir, locStr, (imported ++ fresh.map(_.id)).toSeq.sorted,
      meta.specFields,
      seqs = prunedSeqs,
      manifests = manifestReuse.toMap.view
        .filterKeys(tipManifests.contains).toMap,
      manifestSchemaHash = decodeHash,
      tagNames = storedTagNames.toSeq,
      branchHeads = storedBranches)
    val mirroredTags = syncIcebergTags(schema, table, meta.tags,
      (imported ++ fresh.map(_.id)).toSet, storedTagNames)
    val mirroredBranches = syncIcebergBranches(schema, table, dir, loc, meta,
      pinSchema, prunedSeqs, manifestReuse, storedBranches)
    rewriteIcebergRefs(dir, mirroredTags.toSeq, mirroredBranches)
    persistBranchManifestReuse(dir, loc, meta, mirroredBranches,
      manifestReuse, decodeHash)
    fresh.size.toLong
  }

  /** The Iceberg source location a table was attached from, or None for
    * ordinary tables — DESCRIBE observability.
    */
  def icebergSourceOf(schema: String, table: String): Option[String] = {
    val p = new Path(tableDir(schema, table), "_iceberg_source")
    if (fs(p).exists(p)) Some(readIcebergSource(tableDir(schema, table))._1)
    else None
  }

  /** Sync posture of an attached table vs its source — (imported head
    * id, source current head id, main-line snapshots not yet imported).
    * ONE KB-scale metadata read of the foreign tree, no manifest or
    * data I/O: DESCRIBE surfaces drift without a refresh. None for
    * tables not attached by register_iceberg_table.
    */
  def icebergSyncLag(schema: String, table: String): Option[(Long, Option[Long], Long)] = {
    val dir = tableDir(schema, table)
    val marker = new Path(dir, "_iceberg_source")
    if (!fs(marker).exists(marker)) return None
    val (locStr, imported) = readIcebergSource(dir)
    val loc = new Path(locStr)
    val mdPath = IcebergInterop.currentMetadataPath(fs(loc), loc)
    val meta = IcebergInterop.parseMetadata(readString(mdPath))
    val behind = IcebergInterop.mainLine(meta)
      .count(s => !imported.contains(s.id)).toLong
    Some((readCommits(schema, table).lastOption.map(_.snapshotId).getOrElse(0L),
      meta.currentSnapshotId, behind))
  }

  /** CALL system.export_iceberg_table: write a SPEC-CONFORMANT Apache
    * Iceberg v2 metadata tree (`metadata.json` + Avro manifest list +
    * manifest per snapshot, binary Appendix-D bounds re-encoded from
    * the graft manifests) for `schema.table` at `location` — the
    * reverse of [[registerIcebergTable]], closing the round-trip the
    * reference stack's users live in: a graft table becomes readable by
    * any Iceberg reader (Trino, Spark-with-Iceberg, DuckDB iceberg).
    * The FULL commit history exports, one Iceberg snapshot per graft
    * snapshot with ids and timestamps preserved — including BRANCH
    * logs, whose off-main commits become branch-ancestry snapshots
    * under `refs` (ids remapped when a per-ref graft id collides with
    * a main id: Iceberg ids are global) — plus tags; data files are
    * referenced IN PLACE by absolute URI — the export writes metadata
    * only, KB-scale whatever the table size, EXCEPT pending row-level
    * deletes, which rewrite once into `location/data/`: positional
    * delete dirs re-emit as content-1 files with coordinates mapped to
    * the exported data-file URIs (sorted by (file_path, pos) as the
    * spec requires), and [[EqDelete]]s as content-2 files whose
    * explicit data sequence number `seq(appliesTo)+1` makes Iceberg's
    * strictly-smaller rule shadow exactly `files(appliesTo)` — the
    * inverse of [[importEqualityDeletes]]'s mapping. Carried files ride
    * later manifests as EXISTING entries with their original sequence
    * number and adding snapshot, like a real writer's.
    *
    * Graft parquet carries no footer field ids, so the metadata
    * declares ordinal field ids AND ships the spec's
    * `schema.name-mapping.default` property — exactly how Iceberg's own
    * migrate/add_files procedures make id-less files readable.
    *
    * IDENTITY-partitioned layouts export a real partition spec with
    * per-file `partition` structs (values recovered from the exact
    * manifest bounds / hive path segments): graft's data files don't
    * store the identity column, so readers fill it via the spec's
    * Column Projection rule — the exact inverse of
    * [[IcebergInterop.decodePartitionValue]]. Delete manifests
    * reference a second, unpartitioned spec (global deletes).
    *
    * Refused loudly (each would misread on the Iceberg side):
    * nested/unsupported column types, positional-delete coordinates
    * referencing files outside their snapshot, a tag/branch name
    * collision (Iceberg refs share one namespace), an unreconstructible
    * identity partition value, and an eq delete whose sequence-scoped
    * shadow set differs from files(appliesTo) on any carrying snapshot (a
    * rollback/restore carried it across the restore point — third-party
    * readers would silently read different rows than the engine).
    * Returns the number of snapshots exported.
    */
  def exportIcebergTable(schema: String, table: String,
                         location: String): Long = synchronized {
    require(tableExists(schema, table), s"Table $schema.$table does not exist")
    val dir = tableDir(schema, table)
    val conf = spark.sparkContext.hadoopConfiguration
    val commits = readCommits(schema, table)
    require(commits.nonEmpty, s"$schema.$table has no snapshots to export")
    val decl = declaredSchema(schema, table).getOrElse(
      throw new IllegalArgumentException(s"$schema.$table has no schema"))
    // INCREMENTAL re-export (sync-out, the inverse of
    // refresh_iceberg_table's sync-in): exporting onto a location that
    // already holds an export of THIS table appends only the snapshots
    // committed since — new manifests + a v(N+1) metadata.json whose
    // prior snapshots keep their on-disk manifest lists, preserving
    // table-uuid and lineage, so a foreign reader polling the tree
    // sees an ordinary metadata advance. The prior export must be a
    // PREFIX of the current main line (expiry/rollback past it
    // refuses); a location holding a different table's tree (no
    // matching identity property) refuses.
    val locPath = new Path(location)
    val locFs = fs(locPath)
    val identity = tableIdentity(schema, table)
    val prior: Option[(IcebergInterop.IceMeta,
        com.fasterxml.jackson.databind.JsonNode, Int)] =
      if (!locFs.exists(new Path(locPath, "metadata"))) None
      else {
        val mdPath = IcebergInterop.currentMetadataPath(locFs, locPath)
        require(locFs.exists(mdPath),
          s"$location has a metadata directory but no readable metadata file")
        val rawJson = readString(mdPath)
        val raw = mapper.readTree(rawJson)
        val recorded = Option(raw.get("properties"))
          .flatMap(p => Option(p.get("graft.export.table-identity")))
          .map(_.asText)
        require(recorded.contains(identity),
          s"$location already holds an Iceberg tree that is not an export " +
            s"of $schema.$table — export to a fresh location")
        val verRe = "^v(\\d+)\\.metadata\\.json$".r
        val ver = mdPath.getName match {
          case verRe(v) => v.toInt
          case other => throw new IllegalStateException(
            s"Exported metadata file $other does not follow the vN naming")
        }
        Some((IcebergInterop.parseMetadata(rawJson), raw, ver))
      }
    val priorSnaps: Seq[IcebergInterop.IceSnapshot] =
      prior.map(_._1.snapshots).getOrElse(Nil)
    val oldCount = priorSnaps.size
    // field ids: reuse the declared ones (iceberg-attached tables),
    // ordinals otherwise
    val ids: Seq[Int] = decl.fields.toIndexedSeq.zipWithIndex.map {
      case (f, i) =>
        if (f.metadata.contains(IcebergInterop.FieldIdKey))
          f.metadata.getLong(IcebergInterop.FieldIdKey).toInt
        else i + 1
    }
    prior.foreach { case (pm, _, _) =>
      require(pm.snapshots.map(_.id) ==
          commits.map(_.snapshotId).take(oldCount),
        s"$schema.$table: the existing export at $location is not a prefix " +
          "of the current main line (expiry or rollback rewrote history " +
          "since, or it carries branch-ancestry snapshots) — export to a " +
          "fresh location")
      // schema may only have GROWN since the prior export: old manifests
      // keep their recorded ids, so a drop/rename/retype would misalign
      // the ids third-party readers resolve by
      val shared = math.min(pm.fields.size, decl.fields.size)
      require(pm.fields.size <= decl.fields.size &&
        pm.fields.take(shared).zip(decl.fields.take(shared).toSeq.zip(ids))
          .forall { case (pf, (df, id)) =>
            pf.id == id && pf.name.equalsIgnoreCase(df.name) &&
              pf.dataType.catalogString == df.dataType.catalogString },
        s"$schema.$table: the declared schema changed incompatibly since " +
          s"the export at $location — export to a fresh location")
      // nested field ids allocate PAST the top-level ids: a schema that
      // GREW re-derives different nested ids than the prior export
      // assigned (a new top-level column takes the id an old nested
      // field held) — Iceberg field ids must never be reused, so that
      // shape refuses rather than shipping a same-uuid metadata advance
      // whose ids silently moved
      val priorNested = pm.fields.exists(_.dataType match {
        case _: StructType | _: org.apache.spark.sql.types.ArrayType |
             _: org.apache.spark.sql.types.MapType => true
        case _ => false
      })
      require(pm.fields.size == decl.fields.size || !priorNested,
        s"$schema.$table: columns were added since the export at " +
          s"$location and the exported schema holds nested types — " +
          "re-deriving nested field ids would reuse ids the prior " +
          "export assigned; export to a fresh location")
    }
    // nested field ids allocate past the top-level ones; the name
    // mapping grows matching nested entries as the types serialize
    var nestedId = ids.maxOption.getOrElse(0)
    val allocNested = () => { nestedId += 1; nestedId }
    val mappingArr = mapper.createArrayNode()
    val fields: Seq[(Int, String, String)] =
      decl.fields.toIndexedSeq.zip(ids).map { case (f, id) =>
        val me = mappingArr.addObject()
        me.put("field-id", id)
        me.putArray("names").add(f.name)
        val sub = mapper.createArrayNode()
        val t = icebergTypeExport(f.dataType, allocNested, sub)
        if (sub.size > 0)
          me.set[com.fasterxml.jackson.databind.JsonNode]("fields", sub)
        (id, f.name, t)
      }
    // IDENTITY partitioning exports as a real Iceberg partition spec
    // with per-file `partition` structs: graft stores identity values
    // in hive PATHS, not the data files, so the export relies on the
    // spec's Column Projection rule — a reader fills the missing
    // source column from the manifest partition struct (the exact
    // mechanism [[IcebergInterop.decodePartitionValue]] exploits on
    // import). Derived transforms (bucket/month/…) need no spec: their
    // files store every declared column and read flat.
    val identExp: Seq[(StructField, Int)] =
      partitionFields(schema, table).filter(_.isIdentity).map { pf =>
        val i = decl.fields.indexWhere(_.name.equalsIgnoreCase(pf.source))
        require(i >= 0, s"partition column ${pf.source} missing from the " +
          s"declared schema of $schema.$table")
        (decl.fields(i), ids(i))
      }
    // TIME (year/month/day/hour) and TRUNCATE transforms export as real
    // Iceberg spec fields too, their per-file values CONVERTED from
    // graft's ordered calendar ints (202403) to the spec's epoch
    // ordinals (months-from-1970) — Iceberg readers then partition-
    // prune time-partitioned exports like native tables. BUCKET stays
    // unexported: graft buckets with xxhash64, Iceberg with murmur3 —
    // a claimed bucket[n] spec would make readers prune the WRONG
    // files. Transform sources stay stored in the data files, so the
    // export is correct either way; the spec only adds pruning.
    val transformExp: Seq[(PartitionField, StructField, Int)] =
      partitionFields(schema, table).flatMap {
        case pf @ (_: TimeField | _: TruncateField) =>
          val i = decl.fields.indexWhere(_.name.equalsIgnoreCase(pf.source))
          require(i >= 0, s"partition source ${pf.source} missing from the " +
            s"declared schema of $schema.$table")
          // string truncate exports too (identical semantics: first w
          // chars); integral truncate matches Iceberg's floor rule
          Some((pf, decl.fields(i), ids(i)))
        case _ => None
      }
    def transformSpecName(pf: PartitionField, f: StructField): String =
      pf match {
        case TimeField(_, unit) => s"${f.name}_$unit"
        case TruncateField(_, w) => s"${f.name}_trunc_$w"
        case other => throw new IllegalStateException(
          s"unreachable transform $other")
      }
    def transformSpecText(pf: PartitionField): String = pf match {
      case TimeField(_, unit) => unit
      case TruncateField(_, w) => s"truncate[$w]"
      case other => throw new IllegalStateException(
        s"unreachable transform $other")
    }
    val specFieldsExp: Seq[(String, String, Int)] =
      identExp.map { case (f, id) => (f.name, "identity", id) } ++
        transformExp.map { case (pf, f, id) =>
          (transformSpecName(pf, f), transformSpecText(pf), id) }
    val partAvro: Seq[(String, String)] =
      identExp.map { case (f, _) => f.name -> avroPartitionType(f.dataType,
        s"$schema.$table partition column ${f.name}") } ++
        transformExp.map { case (pf, f, _) =>
          val t = pf match {
            case _: TimeField => "int"
            case _: TruncateField => f.dataType match {
              case org.apache.spark.sql.types.StringType  => "string"
              case org.apache.spark.sql.types.LongType    => "long"
              case org.apache.spark.sql.types.IntegerType |
                   org.apache.spark.sql.types.ShortType |
                   org.apache.spark.sql.types.ByteType    => "int"
              case other => throw new IllegalArgumentException(
                s"$schema.$table: truncate over $other has no Iceberg " +
                  "partition export mapping")
            }
          }
          transformSpecName(pf, f) -> t
        }
    val qualDir = fs(dir).makeQualified(dir)
    // graft BRANCHES export too: each branch log's commits that are not
    // on main become branch-ancestry snapshots (explicit parent = the
    // log predecessor, so the chain forks exactly where the branch
    // does), and the branch heads land in `refs` — the mirror of the
    // import side's branch sync
    val branchLogs: Seq[(String, Seq[Snapshot])] =
      listBranches(schema, table)
        .map(n => n -> branch(n).readCommits(schema, table))
        .filter(_._2.nonEmpty)
    // graft snapshot ids are unique PER REF (a branch commit may mint
    // the same id as a later main commit); Iceberg ids are global — so
    // branch-only commits REMAP to fresh ids when theirs is taken, and
    // every in-log reference (parent, eq-delete appliesTo) resolves
    // through the log's own rename map. "Shared with main" is decided
    // by (id, manifest list) identity, not id alone.
    val mainKey = commits.map(c => (c.snapshotId, c.manifestList)).toSet
    val usedIds = scala.collection.mutable.Set(commits.map(_.snapshotId): _*)
    var nextFree =
      (commits.map(_.snapshotId) ++
        branchLogs.flatMap(_._2.map(_.snapshotId))).max + 1L
    // (snapshot, exported id, exported parent id, log-local id resolver)
    val mainResolve: Map[Long, Long] =
      commits.map(c => c.snapshotId -> c.snapshotId).toMap
    val mainUnits: Seq[(Snapshot, Long, Option[Long], Map[Long, Long])] =
      commits.zipWithIndex.map { case (s, i) =>
        (s, s.snapshotId,
          if (i > 0) Some(commits(i - 1).snapshotId) else None, mainResolve) }
    val branchHeadExp = scala.collection.mutable.Map.empty[String, Long]
    val branchUnits = branchLogs.flatMap { case (name, log) =>
      var resolve = mainResolve
      val out = log.zipWithIndex.flatMap { case (s, j) =>
        if (mainKey((s.snapshotId, s.manifestList))) {
          resolve += (s.snapshotId -> s.snapshotId); None
        } else {
          val expId =
            if (usedIds.add(s.snapshotId)) s.snapshotId
            else { while (!usedIds.add(nextFree)) nextFree += 1; nextFree }
          resolve += (s.snapshotId -> expId)
          Some((s, expId,
            if (j > 0) resolve.get(log(j - 1).snapshotId) else None,
            Map.empty[Long, Long])) // resolver patched below (needs final map)
        }
      }
      branchHeadExp(name) = resolve(log.last.snapshotId)
      out.map { case (s, e, p, _) => (s, e, p, resolve) }
    }
    // old manifests' partition structs were written under the PRIOR
    // spec but share spec-id 0 — a changed spec would make third-party
    // readers misinterpret them; refuse the incremental re-export
    prior.foreach { case (pm, _, _) =>
      require(pm.specFields == specFieldsExp.map { case (n, t, s) =>
          IcebergInterop.IceSpecField(n, t, s) },
        s"$schema.$table: the partition spec changed since the export at " +
          s"$location — export to a fresh location")
    }
    // incremental re-export cannot stably remap BRANCH-only commit ids
    // across runs (the remap is allocation-order-local) — refuse loudly
    require(prior.isEmpty || branchUnits.isEmpty,
      s"$schema.$table has branch-only commits — incremental re-export " +
        "onto an existing tree cannot stably remap their ids; export to " +
        "a fresh location")
    // only NEW units write manifests; the already-exported prefix is
    // replayed below for first-listing seqs and delete-file reuse
    val units = mainUnits.drop(oldCount) ++ branchUnits
    // v2 sequence numbers: export position + 1 past the prior export's
    // last (main first, then branch suffixes — parents always precede
    // children); a data file's DATA sequence number is the sequence of
    // the snapshot that first listed it, carried explicitly on later
    // EXISTING entries — what scopes row-level deletes on the Iceberg
    // side exactly as the engine's appliesTo scopes them here
    val priorSeqOf: Map[Long, Long] =
      priorSnaps.flatMap(s => s.seq.map(s.id -> _)).toMap
    val baseSeq = priorSeqOf.values.maxOption.getOrElse(0L)
    val seqOfId: Map[Long, Long] = priorSeqOf ++
      units.zipWithIndex.map { case ((_, e, _, _), i) =>
        e -> (baseSeq + i + 1L) }.toMap
    val firstSeen = scala.collection.mutable.Map.empty[String, (Long, Long)]
    // row-level delete files rewrite ONCE into the export location's
    // data dir (their engine form — raw-prefixed coordinates, key dirs —
    // is not what an Iceberg reader expects); carried states reuse the
    // written file
    val posDelCache = scala.collection.mutable.Map.empty[Seq[String], IcebergFixture.FileRef]
    val eqDelCache = scala.collection.mutable.Map.empty[String, IcebergFixture.FileRef]
    var delNo = 0
    val exportData = new Path(new Path(location), "data")
    // exported-id → that snapshot's data-file URI set, filled in unit
    // order (parents precede children — main first, then each branch
    // log in order): the eq-delete scope check below needs
    // files(appliesTo)
    val filesOfExp = scala.collection.mutable.Map.empty[Long, Set[String]]
    // replay the already-exported prefix (incremental runs): first-
    // listing seqs and per-snapshot file sets from the graft manifests,
    // and the delete-file caches from the prior tree's own delete
    // manifests — carried delete states then reuse the files already on
    // disk instead of rewriting them
    priorSnaps.zip(commits.take(oldCount)).foreach { case (ps, s) =>
      val seq = seqOfId(s.snapshotId)
      val uris = manifestEntriesOf(dir, s)
        .map(e => new Path(qualDir, e.path).toUri.toString)
      uris.foreach(u => firstSeen.getOrElseUpdate(u, (seq, s.snapshotId)))
      filesOfExp(s.snapshotId) = uris.toSet
      if (s.deletes.nonEmpty || s.eqDeletes.nonEmpty) {
        val dels = IcebergInterop.readManifestList(conf,
            new Path(ps.manifestList))
          .filter(_.content == 1)
          .flatMap(m => IcebergInterop.readDeleteManifest(conf,
            new Path(m.path), m.seq))
        val (eqF, posF) = dels.partition(_.content == 2)
        if (s.deletes.nonEmpty && posF.nonEmpty)
          posDelCache.getOrElseUpdate(s.deletes.sorted,
            IcebergFixture.FileRef(posF.head.path, posF.head.rows,
              posF.head.bytes, Map.empty, dataSeq = posF.head.dataSeq))
        // exported in s.eqDeletes order — zip restores the pairing
        s.eqDeletes.zip(eqF).foreach { case (ed, pf) =>
          eqDelCache.getOrElseUpdate(ed.path,
            IcebergFixture.FileRef(pf.path, pf.rows, pf.bytes, Map.empty,
              eqIds = pf.equalityIds, dataSeq = pf.dataSeq))
        }
      }
    }
    val snapRefs = units.map { case (s, expId, parent, resolve) =>
      val seq = seqOfId(expId)
      val entries = manifestEntriesOf(dir, s)
      val files = entries.map { e =>
        val stats = decl.fields.toIndexedSeq.zip(ids).flatMap { case (f, id) =>
          e.bounds.find(_._1.equalsIgnoreCase(f.name)).collect {
            case (_, cb) if cb.min != null && cb.max != null && cb.nulls >= 0L =>
              for {
                lo <- encodeIcebergBound(f.dataType, cb.min)
                hi <- encodeIcebergBound(f.dataType, cb.max)
              } yield id -> (lo, hi, cb.nulls)
          }.flatten
        }.toMap
        val uri = new Path(qualDir, e.path).toUri.toString
        val (addSeq, addId) = firstSeen.getOrElseUpdate(uri, (seq, expId))
        val partVals: Seq[(String, Any)] = identExp.map { case (f, _) =>
          f.name -> identityPartitionAvroValue(f, e, s"$schema.$table")
        } ++ transformExp.map { case (pf, f, _) =>
          transformSpecName(pf, f) ->
            transformPartitionAvroValue(pf, f, e, s"$schema.$table")
        }
        val fr = IcebergFixture.FileRef(uri, e.rows, e.bytes, stats,
          partition = partVals)
        if (addSeq == seq) fr // ADDED here: inherits the list's sequence
        else fr.copy(status = 0, dataSeq = Some(addSeq), addedSnapId = Some(addId))
      }
      filesOfExp(expId) = files.map(_.path).toSet
      // POSITIONAL deletes: the engine dirs hold (raw-prefixed path,
      // pos) — rewrite to the exported data-file URIs, sorted by
      // (file_path, pos) as the spec requires, one file per distinct
      // engine delete-dir set
      val posDel: Seq[IcebergFixture.FileRef] =
        if (s.deletes.isEmpty) Nil
        else Seq {
          val cached = posDelCache.get(s.deletes.sorted)
          val base = cached.getOrElse {
            import org.apache.spark.sql.functions.{col, regexp_replace}
            import spark.implicits._
            val raw = spark.read.parquet(
              s.deletes.map(d => new Path(dir, d).toString): _*)
            // both sides scheme-normalize: coordinates recorded with or
            // without an authority match the exported URI form
            val mapping = entries.map { e =>
              (new Path(qualDir, e.path).toUri.toString
                .replaceFirst(SchemeNormRe, "/"),
                new Path(qualDir, e.path).toUri.toString)
            }.toDF("__bare", "file_path")
            val rows = raw.select(
              regexp_replace(col("file_path"), SchemeNormRe, "/").as("__bare"),
              col("pos").cast("long").as("pos")).distinct()
            val total = rows.count()
            val joined = rows.join(mapping, "__bare")
              .select(col("file_path"), col("pos"))
            delNo += 1
            // the carrying snapshot id in the name keeps incremental
            // runs from colliding with a prior run's delete files
            val target = new Path(exportData,
              f"posdel-$expId-$delNo%03d.parquet")
            val written = IcebergFixture.writeOneParquet(conf,
              joined.orderBy(col("file_path"), col("pos")), target)
            val kept = parquetFooterRows(target)
            require(kept == total,
              s"$schema.$table snapshot ${s.snapshotId}: ${total - kept} " +
                "positional-delete coordinate(s) reference files outside " +
                "the snapshot — cannot export a dangling delete")
            val fr = IcebergFixture.FileRef(target.toUri.toString, kept,
              written, Map.empty, dataSeq = Some(seq))
            posDelCache(s.deletes.sorted) = fr
            fr
          }
          if (cached.isEmpty) base else base.copy(status = 0)
        }
      // EQUALITY deletes: the engine key dirs re-emit as content-2
      // files; the data sequence number seq(appliesTo)+1 makes
      // Iceberg's strictly-smaller rule shadow exactly files(appliesTo)
      // (explicit even on first carry — a rollback commit may carry a
      // delete whose appliesTo is not its parent)
      val eqDel: Seq[IcebergFixture.FileRef] = s.eqDeletes.map { e =>
        val cached = eqDelCache.get(e.path)
        val base = cached.getOrElse {
          val keyIds = e.keys.map(k =>
            fields.find(_._2.equalsIgnoreCase(k)).getOrElse(
              throw new IllegalArgumentException(
                s"equality-delete key column ${k} is not in the declared " +
                  s"schema of $schema.$table")
            )._1)
          val appliesSeq = resolve.get(e.appliesTo).flatMap(seqOfId.get)
            .getOrElse(throw new IllegalStateException(
              s"Equality delete ${e.path} references snapshot " +
                s"${e.appliesTo}, absent from the commit log of " +
                s"$schema.$table"))
          delNo += 1
          val target = new Path(exportData, f"eqdel-$expId-$delNo%03d.parquet")
          import org.apache.spark.sql.functions.col
          val keyDf = spark.read.parquet(new Path(dir, e.path).toString)
            .select(e.keys.map(col): _*)
          val written = IcebergFixture.writeOneParquet(conf, keyDf, target)
          val fr = IcebergFixture.FileRef(target.toUri.toString,
            parquetFooterRows(target), written, Map.empty,
            eqIds = keyIds, dataSeq = Some(appliesSeq + 1L))
          eqDelCache(e.path) = fr
          fr
        }
        require(base.dataSeq.exists(_ <= seq),
          s"Equality delete ${e.path}: appliesTo ${e.appliesTo} does not " +
            s"precede the carrying snapshot ${s.snapshotId} — cannot export")
        // export-side scope verification, the mirror of
        // [[importEqualityDeletes]]'s per-snapshot check: an Iceberg
        // reader shadows {live f : dataSeq(f) < nd}, the engine shadows
        // files(appliesTo) ∩ live. A rollback-restored snapshot can
        // carry a delete across the restore point where the two
        // DISAGREE — refuse the export loudly here instead of writing a
        // tree that third-party readers (who never run the graft
        // re-import check) silently read differently.
        val nd = base.dataSeq.get
        val appliesExp = resolve.getOrElse(e.appliesTo,
          throw new IllegalStateException(
            s"Equality delete ${e.path} references snapshot " +
              s"${e.appliesTo}, absent from the commit log of " +
              s"$schema.$table"))
        val live = files.map(_.path).toSet
        val shadowIce = files.filter(f => f.dataSeq.getOrElse(seq) < nd)
          .map(_.path).toSet
        val shadowEng = filesOfExp.getOrElse(appliesExp, Set.empty)
          .intersect(live)
        require(shadowIce == shadowEng,
          s"$schema.$table snapshot ${s.snapshotId}: equality delete " +
            s"${e.path} (appliesTo ${e.appliesTo}) is not representable " +
            "by Iceberg's strictly-smaller sequence rule — the " +
            "sequence-scoped shadow set differs from files(appliesTo) " +
            "on this snapshot (a rollback/restore carried the delete " +
            "across the restore point); compact the table before " +
            "exporting")
        if (cached.isEmpty) base else base.copy(status = 0)
      }
      IcebergFixture.SnapRef(expId, s.committedAtMillis, files,
        deletes = posDel, eqDeletes = eqDel,
        seq = Some(seq), parentId = parent)
    }
    // the spec's name-mapping property: id-less parquet (graft's own
    // files) resolves by name — nested entries included — on any
    // Iceberg reader
    val mapping = mapper.writeValueAsString(mappingArr)
    // graft TAGS and BRANCHES export as Iceberg `refs` — the mirror of
    // the import side, so a round trip keeps every name readable. A tag
    // pinning a snapshot EXPIRED from the commit log skips: a ref to a
    // snapshot absent from the metadata is invalid per spec
    val tagRefsExp: Map[String, Long] = {
      val exportedMain = commits.map(_.snapshotId).toSet
      listTags(schema, table).collect {
        case (n, s) if exportedMain(s.snapshotId) => n -> s.snapshotId }
    }
    val branchRefsExp = branchHeadExp.toMap
    // graft tags and branches are separate namespaces; Iceberg `refs`
    // is ONE object — a shared name (or one colliding with the
    // spec-reserved `main`) would silently drop a ref. Refuse loudly,
    // the repo's refuse-on-ambiguity convention.
    val refCollisions = tagRefsExp.keySet.intersect(branchRefsExp.keySet) ++
      (tagRefsExp.keySet ++ branchRefsExp.keySet).filter(_ == "main")
    require(refCollisions.isEmpty,
      s"$schema.$table: ref name(s) ${refCollisions.mkString(", ")} exist " +
        "as both a tag and a branch (or collide with the reserved `main` " +
        "ref) — Iceberg refs share one namespace; rename one side before " +
        "exporting")
    // persisted ANALYZE stats ride the export as a table property
    // (Iceberg carries table stats via properties/Puffin) — a register
    // of this tree restores them, so SHOW STATS stays metadata-only
    // across the round trip. Only stats observing an EXPORTED snapshot
    // travel; stale ones stay home.
    val statsProp: Map[String, String] = {
      val sp = statsPath(schema, table)
      if (!fs(sp).exists(sp)) Map.empty
      else {
        val raw = readString(sp)
        val sid = mapper.readTree(raw).get("snapshotId").asLong
        if (commits.exists(_.snapshotId == sid)) Map("graft.stats" -> raw)
        else Map.empty
      }
    }
    val existingRefs: Seq[(IcebergFixture.SnapRef, Path)] =
      priorSnaps.map(ps => (IcebergFixture.SnapRef(ps.id, ps.timestampMs,
        Nil, seq = ps.seq, parentId = ps.parentId), new Path(ps.manifestList)))
    IcebergFixture.writeTreeAppend(conf, locPath, fields,
      existingRefs, snapRefs, commits.last.snapshotId,
      version = prior.map(_._3 + 1).getOrElse(1), formatVersion = 2,
      properties = Map("schema.name-mapping.default" -> mapping,
        "graft.export.table-identity" -> identity) ++ statsProp,
      specFields = specFieldsExp, partAvroTypes = partAvro,
      tagRefs = tagRefsExp,
      branchRefs = branchRefsExp,
      tableUuid = prior.flatMap(p =>
        Option(p._2.get("table-uuid")).map(_.asText)))
    // snapshots exported THIS call (the full history on a fresh
    // location; only the new suffix on an incremental re-export)
    (commits.size - oldCount).toLong
  }

  /** Spark type → Iceberg type for EXPORT: primitives return the
    * spec's type string; struct/list/map return a JSON object (spec
    * §Schemas) with fresh UNIQUE nested field ids drawn from `alloc`
    * (element-id / key-id / value-id for collections), appending
    * matching nested name-mapping entries (spec §Name Mapping: nested
    * `fields`, list `element`, map `key`/`value`) to `mappingOut` so
    * id-less graft parquet resolves nested names on any reader.
    */
  private def icebergTypeExport(dt: org.apache.spark.sql.types.DataType,
      alloc: () => Int,
      mappingOut: com.fasterxml.jackson.databind.node.ArrayNode): String = {
    import org.apache.spark.sql.types._
    def typed(o: com.fasterxml.jackson.databind.node.ObjectNode,
              key: String, t: String): Unit =
      if (t.startsWith("{")) o.set(key, mapper.readTree(t)) else o.put(key, t)
    def mappingEntry(id: Int, name: String): (com.fasterxml.jackson.databind.node.ObjectNode,
        com.fasterxml.jackson.databind.node.ArrayNode) = {
      val me = mappingOut.addObject()
      me.put("field-id", id)
      me.putArray("names").add(name)
      (me, mapper.createArrayNode())
    }
    dt match {
      case s: StructType =>
        val o = mapper.createObjectNode()
        o.put("type", "struct")
        val fs = o.putArray("fields")
        s.fields.foreach { f =>
          val id = alloc()
          val fn = fs.addObject()
          fn.put("id", id); fn.put("name", f.name); fn.put("required", false)
          val (me, sub) = mappingEntry(id, f.name)
          typed(fn, "type", icebergTypeExport(f.dataType, alloc, sub))
          if (sub.size > 0) me.set[com.fasterxml.jackson.databind.JsonNode]("fields", sub)
        }
        mapper.writeValueAsString(o)
      case a: ArrayType =>
        val o = mapper.createObjectNode()
        o.put("type", "list")
        val id = alloc()
        o.put("element-id", id)
        val (me, sub) = mappingEntry(id, "element")
        typed(o, "element", icebergTypeExport(a.elementType, alloc, sub))
        if (sub.size > 0) me.set[com.fasterxml.jackson.databind.JsonNode]("fields", sub)
        o.put("element-required", false)
        mapper.writeValueAsString(o)
      case m: MapType =>
        val o = mapper.createObjectNode()
        o.put("type", "map")
        val kid = alloc()
        o.put("key-id", kid)
        val (kme, ksub) = mappingEntry(kid, "key")
        typed(o, "key", icebergTypeExport(m.keyType, alloc, ksub))
        if (ksub.size > 0) kme.set[com.fasterxml.jackson.databind.JsonNode]("fields", ksub)
        val vid = alloc()
        o.put("value-id", vid)
        val (vme, vsub) = mappingEntry(vid, "value")
        typed(o, "value", icebergTypeExport(m.valueType, alloc, vsub))
        if (vsub.size > 0) vme.set[com.fasterxml.jackson.databind.JsonNode]("fields", vsub)
        o.put("value-required", false)
        mapper.writeValueAsString(o)
      case prim => icebergTypeName(prim)
    }
  }

  /** Spark type → Iceberg schema type string (spec §Schemas) for
    * PRIMITIVES; nested types go through [[icebergTypeExport]]. Exotic
    * types refuse loudly — the export must never declare a schema an
    * Iceberg reader would misread.
    */
  private def icebergTypeName(dt: org.apache.spark.sql.types.DataType): String = dt match {
    case org.apache.spark.sql.types.BooleanType      => "boolean"
    case org.apache.spark.sql.types.IntegerType      => "int"
    case org.apache.spark.sql.types.LongType         => "long"
    case org.apache.spark.sql.types.FloatType        => "float"
    case org.apache.spark.sql.types.DoubleType       => "double"
    case org.apache.spark.sql.types.StringType       => "string"
    case org.apache.spark.sql.types.DateType         => "date"
    case org.apache.spark.sql.types.TimestampNTZType => "timestamp"
    case org.apache.spark.sql.types.TimestampType    => "timestamptz"
    case org.apache.spark.sql.types.BinaryType       => "binary"
    case d: org.apache.spark.sql.types.DecimalType   =>
      s"decimal(${d.precision},${d.scale})"
    case other => throw new IllegalArgumentException(
      s"Column type $other has no Iceberg export mapping")
  }

  /** Avro primitive type name for an identity partition field of
    * declared Spark type `dt` in an exported manifest `partition`
    * struct (spec §Avro / §Partition Transforms: date → int days,
    * timestamps → long micros). Types without a faithful primitive
    * refuse loudly — a wrong partition value would misread on every
    * Iceberg reader.
    */
  private def avroPartitionType(dt: org.apache.spark.sql.types.DataType,
                                what: String): String = dt match {
    case org.apache.spark.sql.types.IntegerType      => "int"
    case org.apache.spark.sql.types.LongType         => "long"
    case org.apache.spark.sql.types.StringType       => "string"
    case org.apache.spark.sql.types.BooleanType      => "boolean"
    case org.apache.spark.sql.types.FloatType        => "float"
    case org.apache.spark.sql.types.DoubleType       => "double"
    case org.apache.spark.sql.types.DateType         => "int"
    case org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType => "long"
    case other => throw new IllegalArgumentException(
      s"$what: type $other has no Iceberg partition-struct export mapping")
  }

  /** One data file's identity partition value for export — from the
    * entry's EXACT bound (min = max, zero nulls: native tables fold the
    * hive path value in at commit time, attached trees the foreign
    * partition struct), the all-null marker (nulls = rows), or the hive
    * `col=value` path segment as a last resort. Unrecoverable values
    * refuse the export loudly rather than writing a partition struct an
    * Iceberg reader would trust and misread.
    */
  private def identityPartitionAvroValue(f: StructField, e: DataFileEntry,
                                         tableRef: String): Any = {
    val cb = e.bounds.collectFirst {
      case (n, b) if n.equalsIgnoreCase(f.name) => b }
    val raw: Option[(String, String)] = cb match {
      case Some(b) if b.min == null && b.max == null && b.nulls == e.rows =>
        return null // all-null partition value
      case Some(b) if b.min != null && b.min == b.max && b.nulls == 0L =>
        Some((b.kind, b.min))
      case _ =>
        e.path.split('/').dropRight(1).iterator.map { seg =>
          (seg.indexOf('='), seg)
        }.collectFirst {
          case (i, seg) if i > 0 && seg.substring(0, i).equalsIgnoreCase(f.name) =>
            Manifests.unescapePathName(seg.substring(i + 1))
        } match {
          case Some("__HIVE_DEFAULT_PARTITION__") => return null
          case Some(v) => Some(("path", v))
          case None => None
        }
    }
    val (kind, v) = raw.getOrElse(throw new IllegalArgumentException(
      s"$tableRef: cannot reconstruct identity partition value of " +
        s"${f.name} for data file ${e.path} — neither an exact manifest " +
        "bound nor a hive path segment carries it; cannot export"))
    import org.apache.spark.sql.types._
    try (f.dataType, kind) match {
      case (IntegerType, _)            => v.toInt
      case (LongType, _)               => v.toLong
      case (StringType, _)             => v
      case (BooleanType, _)            => v.toBoolean
      case (FloatType, _)              => v.toFloat
      case (DoubleType, _)             => v.toDouble
      case (DateType, "date" | "long") => v.toLong.toInt
      case (DateType, _)               => java.time.LocalDate.parse(v)
        .toEpochDay.toInt
      case (TimestampType | TimestampNTZType, "ts" | "long") => v.toLong
      case (TimestampNTZType, _) =>
        // hive path render, zone-free: parse as a local datetime
        val fmt = java.time.format.DateTimeFormatter.ofPattern(
          "yyyy-MM-dd HH:mm:ss[.SSSSSS][.SSS]")
        java.time.LocalDateTime.parse(v, fmt)
          .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
          java.time.LocalDateTime.parse(v, fmt).getNano / 1000L
      case (dt, k) => throw new IllegalArgumentException(
        s"$tableRef: identity partition value '$v' (kind $k) of column " +
          s"${f.name} ($dt) has no unambiguous Iceberg serialization — " +
          "cannot export")
    } catch {
      case _: NumberFormatException | _: java.time.DateTimeException =>
        throw new IllegalArgumentException(
          s"$tableRef: identity partition value '$v' of column ${f.name} " +
            s"does not parse as ${f.dataType.simpleString} — cannot export")
    }
  }

  /** One data file's TIME/TRUNCATE transform partition value for
    * export: the derived directory value (an exact bound under the
    * derived hive key, folded at commit time) converted from graft's
    * ordered calendar int (202403) to the spec's epoch ordinal
    * (months-from-1970, days/hours from epoch; truncate values pass
    * through — the floor rule matches Iceberg's). Refuses loudly when
    * no exact derived bound exists (mixed partition-spec generations) —
    * a wrong value would make Iceberg readers prune wrong files.
    */
  private def transformPartitionAvroValue(pf: PartitionField, f: StructField,
                                          e: DataFileEntry,
                                          tableRef: String): Any = {
    val cb = e.bounds.collectFirst {
      case (n, b) if n.equalsIgnoreCase(pf.derivedName) => b }
    cb match {
      case Some(b) if b.min == null && b.max == null && b.nulls == e.rows =>
        null // all-null partition
      case Some(b) if b.min != null && b.min == b.max && b.nulls == 0L =>
        val v = b.min
        try pf match {
          case TimeField(_, unit) =>
            val n = v.toLong
            unit match {
              case "year"  => (n - 1970L).toInt
              case "month" => ((n / 100 - 1970) * 12 + (n % 100 - 1)).toInt
              case "day"   =>
                java.time.LocalDate.of((n / 10000).toInt,
                  ((n / 100) % 100).toInt, (n % 100).toInt).toEpochDay.toInt
              case "hour"  =>
                val ymd = n / 100
                (java.time.LocalDate.of((ymd / 10000).toInt,
                  ((ymd / 100) % 100).toInt, (ymd % 100).toInt)
                  .toEpochDay * 24 + n % 100).toInt
            }
          case TruncateField(_, _) => f.dataType match {
            case org.apache.spark.sql.types.StringType => v
            case org.apache.spark.sql.types.LongType   => v.toLong
            case _                                     => v.toInt
          }
          case other => throw new IllegalStateException(
            s"unreachable transform $other")
        } catch {
          case _: NumberFormatException | _: java.time.DateTimeException =>
            throw new IllegalArgumentException(
              s"$tableRef: derived partition value '$v' of ${pf.specText} " +
                "does not parse — cannot export")
        }
      case _ => throw new IllegalArgumentException(
        s"$tableRef: cannot reconstruct the ${pf.specText} partition " +
          s"value for data file ${e.path} — no exact derived bound (a " +
          "mixed partition-spec history?); compact the table before " +
          "exporting")
    }
  }

  /** Engine bound string → Appendix-D single-value bytes for the
    * DECLARED type (the byte width is type-, not kind-, dependent: an
    * int column's "long"-kind bounds serialize as 4 bytes). Undecodable
    * values drop the bound — conservative, like the import side.
    */
  private def encodeIcebergBound(dt: org.apache.spark.sql.types.DataType,
                                 v: String): Option[Array[Byte]] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def le(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    try dt match {
      case org.apache.spark.sql.types.IntegerType =>
        Some(le(4).putInt(v.toInt).array())
      case org.apache.spark.sql.types.LongType =>
        Some(le(8).putLong(v.toLong).array())
      case org.apache.spark.sql.types.DateType =>
        Some(le(4).putInt(v.toLong.toInt).array())
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType =>
        Some(le(8).putLong(v.toLong).array())
      case org.apache.spark.sql.types.FloatType =>
        Some(le(4).putFloat(v.toDouble.toFloat).array())
      case org.apache.spark.sql.types.DoubleType =>
        Some(le(8).putDouble(v.toDouble).array())
      case org.apache.spark.sql.types.StringType =>
        Some(v.getBytes("UTF-8"))
      case _ => None
    } catch { case _: NumberFormatException => None }
  }

  private def writeIcebergSource(dir: Path, location: String,
                                 imported: Seq[Long],
                                 spec: Seq[IcebergInterop.IceSpecField] = Nil,
                                 seqs: Map[Long, Long] = Map.empty,
                                 manifests: Map[(String, Option[Long]), Seq[String]] =
                                   Map.empty,
                                 manifestSchemaHash: String = "",
                                 tagNames: Seq[String] = Nil,
                                 branchHeads: Map[String, Long] = Map.empty): Unit = {
    val o = mapper.createObjectNode()
    o.put("location", location)
    val arr = o.putArray("imported")
    imported.foreach(arr.add)
    if (spec.nonEmpty) {
      val sp = o.putArray("spec")
      spec.foreach { f =>
        val n = sp.addObject()
        n.put("name", f.name); n.put("transform", f.transform)
        n.put("source_id", f.sourceId)
      }
    }
    // imported snapshot id → Iceberg sequence number: survives foreign
    // snapshot EXPIRY, so a later sync can still scope a carried
    // equality delete to a boundary snapshot the source forgot but the
    // graft log retains
    if (seqs.nonEmpty) {
      val sq = o.putArray("seqs")
      seqs.toSeq.sorted.foreach { case (id, seq) =>
        val n = sq.addObject(); n.put("id", id); n.put("seq", seq)
      }
    }
    // tag names MIRRORED from the source's refs — the sync reconciles
    // only these, never a locally-created tag
    if (tagNames.nonEmpty) {
      val ta = o.putArray("tags")
      tagNames.sorted.foreach(ta.add)
    }
    // branch name → foreign head id MIRRORED from the source's refs —
    // same local-never-clobbered contract as tags
    if (branchHeads.nonEmpty) {
      val ba = o.putArray("branches")
      branchHeads.toSeq.sortBy(_._1).foreach { case (n, h) =>
        val b = ba.addObject(); b.put("name", n); b.put("head", h)
      }
    }
    // foreign manifest → graft manifest names, keyed by the schema
    // fingerprint it was decoded under: a refresh that re-lists a
    // carried manifest reuses the written graft manifests instead of
    // re-decoding + re-serializing every carried entry on every sync
    // (a minute-level CDC sync on a 10⁶-file table must be O(new), not
    // O(table)); a foreign schema change invalidates the fingerprint
    if (manifests.nonEmpty) {
      o.put("manifest_schema", manifestSchemaHash)
      val mArr = o.putArray("manifests")
      manifests.toSeq.sortBy(_._1._1).foreach { case ((p, seq), names) =>
        val n = mArr.addObject()
        n.put("path", p)
        seq.foreach(n.put("seq", _))
        val na = n.putArray("names"); names.foreach(na.add)
      }
    }
    writeString(new Path(dir, "_iceberg_source"), mapper.writeValueAsString(o))
  }

  private def readIcebergSource(dir: Path): (String, Set[Long]) = {
    val root = mapper.readTree(readString(new Path(dir, "_iceberg_source")))
    (root.get("location").asText,
      root.get("imported").elements.asScala.map(_.asLong).toSet)
  }

  /** Replace ONLY the mirrored-refs fields (tags, branch heads) in
    * `_iceberg_source`, preserving every other recorded field — the
    * refs-only sync path (no new snapshots).
    */
  private def rewriteIcebergRefs(dir: Path, tagNames: Seq[String],
                                 branchHeads: Map[String, Long]): Unit = {
    val p = new Path(dir, "_iceberg_source")
    val root = mapper.readTree(readString(p))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    root.remove("tags")
    if (tagNames.nonEmpty) {
      val ta = root.putArray("tags")
      tagNames.sorted.foreach(ta.add)
    }
    root.remove("branches")
    if (branchHeads.nonEmpty) {
      val ba = root.putArray("branches")
      branchHeads.toSeq.sortBy(_._1).foreach { case (n, h) =>
        val b = ba.addObject(); b.put("name", n); b.put("head", h)
      }
    }
    writeString(p, mapper.writeValueAsString(root))
  }

  /** Replace ONLY the manifest-reuse fields in `_iceberg_source`,
    * preserving everything else — the post-branch-sync record.
    */
  private def rewriteIcebergManifests(dir: Path,
      manifests: Map[(String, Option[Long]), Seq[String]],
      schemaHash: String): Unit = {
    val p = new Path(dir, "_iceberg_source")
    val root = mapper.readTree(readString(p))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    root.remove("manifests"); root.remove("manifest_schema")
    if (manifests.nonEmpty) {
      root.put("manifest_schema", schemaHash)
      val mArr = root.putArray("manifests")
      manifests.toSeq.sortBy(_._1._1).foreach { case ((pth, seq), names) =>
        val n = mArr.addObject()
        n.put("path", pth)
        seq.foreach(n.put("seq", _))
        val na = n.putArray("names"); names.foreach(na.add)
      }
    }
    writeString(p, mapper.writeValueAsString(root))
  }

  /** Re-record the manifest-reuse map AFTER a branch sync, keeping the
    * MAIN tip's manifest-list entries ∪ each mirrored branch head's
    * (round-12 advice: pruning to the main tip alone dropped the graft
    * manifests minted for branch states, so every branch advance
    * re-decoded and re-serialized the whole carried branch — O(branch),
    * not O(new)).
    */
  private def persistBranchManifestReuse(dir: Path, loc: Path,
      meta: IcebergInterop.IceMeta,
      mirroredBranches: Map[String, Long],
      manifestReuse: scala.collection.Map[(String, Option[Long]), Seq[String]],
      decodeHash: String): Unit = {
    if (mirroredBranches.isEmpty) return
    val conf = spark.sparkContext.hadoopConfiguration
    val resolve = iceResolver(dir, loc, meta.location)
    val byId = meta.snapshots.map(s => s.id -> s).toMap
    val tipIds = mirroredBranches.values.toSet ++ meta.currentSnapshotId.toSet
    val keep: Set[(String, Option[Long])] = tipIds.flatMap(id =>
      byId.get(id).toSeq.flatMap(s =>
        IcebergInterop.readManifestList(conf, resolve(s.manifestList))
          .map(m => (m.path, m.seq))))
    rewriteIcebergManifests(dir,
      manifestReuse.view.filterKeys(keep).toMap, decodeHash)
  }

  /** Mirror-intent WRITE-AHEAD (round-12 advice): record a ref name in
    * `_iceberg_source` BEFORE the first tag/branch mutation lands, so a
    * crash between the two leaves a recorded-but-unapplied ref the next
    * sync reconciles — instead of an unrecorded local ref that every
    * later sync refuses as a name collision until dropped manually.
    * No-op before the attachment record exists (register's failure path
    * drops the whole table, so it has no such window).
    */
  private def recordRefIntent(dir: Path, tagName: Option[String],
                              branchHead: Option[(String, Long)]): Unit = {
    val p = new Path(dir, "_iceberg_source")
    if (!fs(p).exists(p)) return
    val root = mapper.readTree(readString(p))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    tagName.foreach { n =>
      val existing = Option(root.get("tags")).toSeq
        .flatMap(_.elements.asScala).map(_.asText)
      if (!existing.contains(n)) {
        root.remove("tags")
        val ta = root.putArray("tags")
        (existing :+ n).sorted.foreach(ta.add)
      }
    }
    branchHead.foreach { case (n, h) =>
      val existing = Option(root.get("branches")).toSeq
        .flatMap(_.elements.asScala)
        .map(b => b.get("name").asText -> b.get("head").asLong).toMap
      root.remove("branches")
      val ba = root.putArray("branches")
      (existing + (n -> h)).toSeq.sortBy(_._1).foreach { case (bn, bh) =>
        val b = ba.addObject(); b.put("name", bn); b.put("head", bh)
      }
    }
    writeString(p, mapper.writeValueAsString(root))
  }

  /** Tag names the attachment mirrors from the source's `refs`. */
  private def readIcebergTagNames(dir: Path): Set[String] = {
    val root = mapper.readTree(readString(new Path(dir, "_iceberg_source")))
    Option(root.get("tags")).toSeq.flatMap(_.elements.asScala)
      .map(_.asText).toSet
  }

  /** Branch name → foreign head id the attachment mirrors. */
  private def readIcebergBranchHeads(dir: Path): Map[String, Long] = {
    val root = mapper.readTree(readString(new Path(dir, "_iceberg_source")))
    Option(root.get("branches")).toSeq.flatMap(_.elements.asScala)
      .map(n => n.get("name").asText -> n.get("head").asLong).toMap
  }

  /** Mirror the source's TAGS onto the graft tag set: tags pinning an
    * imported main-line snapshot are created; a moved tag follows; a
    * tag the source dropped drops here — but ONLY over the names this
    * attachment recorded as mirrored ([[writeIcebergSource]] `tags`),
    * so locally-created tags are never touched. A source tag pinning a
    * NON-imported snapshot (staged/rolled-back ancestry) is skipped —
    * it has no graft snapshot to pin. A source tag colliding with a
    * LOCAL tag name refuses loudly (mirroring it would silently move a
    * user's pin). Returns the new mirrored-name set.
    */
  private def syncIcebergTags(schema: String, table: String,
                              sourceTags: Map[String, Long],
                              importedIds: Set[Long],
                              mirrored: Set[String]): Set[String] = {
    // tags pinning a non-imported snapshot (staged/rolled-back
    // ancestry) or carrying a name this engine's ref grammar cannot
    // hold (dots/dashes) are SKIPPED, never a refusal — an exotic tag
    // must not block the whole attachment
    val portable = sourceTags.filter { case (name, sid) =>
      importedIds(sid) && refNameOk(name) }
    val existing = listTags(schema, table)
    // a pre-existing LOCAL tag that happens to agree with the source
    // stays LOCAL: adopting it into the mirrored set would let a later
    // source-side drop delete the user's tag
    val localKept = scala.collection.mutable.Set.empty[String]
    portable.foreach { case (name, sid) =>
      existing.get(name) match {
        case None =>
          // first mirror of this name: record the intent BEFORE the tag
          // lands — a crash between the two must not leave an
          // unrecorded local tag later syncs refuse as a collision
          recordRefIntent(tableDir(schema, table), Some(name), None)
          faultPoint("icesync.tag-intent") // intent on disk, tag absent
          createTag(schema, table, name, Some(sid))
          faultPoint("icesync.tag-created") // tag on disk, final record pending
        case Some(snap) if mirrored(name) && snap.snapshotId != sid =>
          dropTag(schema, table, name) // the source re-pointed the tag
          createTag(schema, table, name, Some(sid))
        case Some(snap) if !mirrored(name) =>
          require(snap.snapshotId == sid,
            s"Source tag '$name' collides with a local tag on " +
              s"$schema.$table pinning a different snapshot — rename one")
          localKept += name
        case _ => () // already mirrored at the right snapshot
      }
    }
    // tags the source dropped (or re-pointed off the imported line)
    (mirrored -- portable.keySet).foreach { name =>
      if (listTags(schema, table).contains(name)) dropTag(schema, table, name)
    }
    portable.keySet -- localKept
  }

  /** Mirror the source's BRANCHES (every `refs` entry of type branch
    * except `main`, which IS the imported line) onto graft branch logs:
    * each branch's ancestry walks back from its head, splits at the
    * main-line fork, and the OFF-MAIN suffix converts onto a per-ref
    * commit log seeded with the imported main prefix — so
    * `FOR VERSION AS OF '<branch>'` and branch-scoped travel work like
    * native branches. Reconciled only over the names this attachment
    * recorded as mirrored: a LOCAL branch colliding with a source name
    * refuses, local commits on a mirrored branch refuse the sync
    * (one-way mirror, never clobber), a source-dropped branch drops
    * here, and an advanced/rewritten source branch REBUILDS its log
    * (conversion is manifest-reuse-memoized, so a rebuild costs the
    * branch's own suffix, not the table). A branch whose fork point is
    * no longer imported (expired past the fork) refuses loudly.
    * Returns the new mirrored name → foreign-head map.
    */
  private def syncIcebergBranches(schema: String, table: String,
      dir: Path, loc: Path, meta: IcebergInterop.IceMeta,
      pinSchema: StructType, storedSeqs: Map[Long, Long],
      manifestReuse: scala.collection.mutable.Map[(String, Option[Long]), Seq[String]],
      mirrored: Map[String, Long]): Map[String, Long] = {
    if (meta.branches.isEmpty && mirrored.isEmpty) return Map.empty
    val mainCommits = readCommits(schema, table)
    val mainIdx = mainCommits.map(_.snapshotId).zipWithIndex.toMap
    val result = scala.collection.mutable.Map.empty[String, Long]
    meta.branches.foreach { case (name, headId) =>
      // a name this engine's ref grammar cannot hold is SKIPPED, never
      // a refusal — an exotic branch name must not block the attachment
      if (!refNameOk(name)) ()
      else {
      val localExists = branchExists(schema, table, name)
      val recorded = mirrored.get(name)
      val localHead =
        if (localExists) branch(name).readCommits(schema, table)
          .lastOption.map(_.snapshotId)
        else None
      if (recorded.isDefined && localExists && localHead.contains(headId)) {
        // a RECORDED mirror already at the source head — including the
        // crash window where a rebuild landed before its record
        result(name) = headId
      } else {
        // an UNRECORDED local branch never silently adopts, even at the
        // same head — a later source-side advance/drop would clobber it
        require(recorded.isDefined || !localExists,
          s"Source branch '$name' collides with a local branch on " +
            s"$schema.$table — rename one side (or drop the local " +
            "branch to mirror the source's)")
        if (recorded.isDefined && localExists)
          require(localHead == recorded || localHead.contains(headId),
            s"Mirrored branch '$name' on $schema.$table has local commits " +
              "— cannot sync over them (drop the branch to re-mirror)")
        // head on the main line: a pure fast-forward shape — the branch
        // log is the imported prefix, nothing to convert
        val log: Seq[Snapshot] =
          if (mainIdx.contains(headId)) mainCommits.take(mainIdx(headId) + 1)
          else {
            val chain = IcebergInterop.branchChain(meta, headId)
            require(chain.nonEmpty,
              s"Source branch '$name' heads at unknown snapshot $headId")
            val (onMain, offMain) = chain.span(s => mainIdx.contains(s.id))
            require(offMain.forall(s => !mainIdx.contains(s.id)),
              s"Source branch '$name' ancestry interleaves the main " +
                "line — cannot mirror")
            val base = onMain.lastOption match {
              case Some(fork) => mainCommits.take(mainIdx(fork.id) + 1)
              case None =>
                require(chain.head.parentId.isEmpty,
                  s"Source branch '$name' forks below the imported " +
                    "history (expired past the fork) — cannot mirror")
                Nil // a root-grown branch: no shared prefix
            }
            val prevAt = base.lastOption.map(_.committedAtMillis).getOrElse(0L)
            base ++ convertIcebergSnapshots(dir, loc, meta, offMain, prevAt,
              pinSchema, priorCommits = base, storedSeqs = storedSeqs,
              manifestReuse = manifestReuse, lineOverride = Some(chain))
          }
        val bGen =
          if (localExists) branch(name).readCommitsWithGen(schema, table)._2
          else -1L
        // first mirror of this name: record the intent BEFORE the
        // branch log lands (mirror-intent write-ahead) — a crash
        // between the two must not leave an unrecorded local branch
        // every later sync refuses as a collision
        if (recorded.isEmpty) {
          recordRefIntent(dir, None, Some(name -> headId))
          faultPoint("icesync.branch-intent") // intent on disk, log absent
        }
        branch(name).writeCommits(schema, table, log, bGen)
        faultPoint("icesync.branch-written") // log on disk, record pending
        result(name) = headId
      }
      }
    }
    // branches the source dropped: drop the mirror, but never a locally
    // advanced one
    (mirrored.keySet -- meta.branches.keySet).foreach { name =>
      if (branchExists(schema, table, name)) {
        val localHead = branch(name).readCommits(schema, table)
          .lastOption.map(_.snapshotId)
        require(localHead == mirrored.get(name),
          s"Mirrored branch '$name' was dropped at the source but has " +
            s"local commits on $schema.$table — drop it manually")
        dropBranch(schema, table, name)
      }
    }
    result.toMap
  }

  /** The recorded imported-id → sequence-number map ([[writeIcebergSource]]);
    * empty for pre-round-12 attachments and v1 trees.
    */
  private def readIcebergSeqs(dir: Path): Map[Long, Long] = {
    val root = mapper.readTree(readString(new Path(dir, "_iceberg_source")))
    Option(root.get("seqs")).toSeq.flatMap(_.elements.asScala)
      .map(n => n.get("id").asLong -> n.get("seq").asLong).toMap
  }

  /** The recorded foreign-manifest → graft-manifest-names map, seeded
    * into a refresh ONLY when the decode fingerprint matches AND every
    * named graft manifest still exists (expire + orphan-removal may
    * have trimmed ones referenced solely by expired commits).
    */
  private def readIcebergManifestReuse(dir: Path, schemaHash: String)
      : scala.collection.mutable.Map[(String, Option[Long]), Seq[String]] = {
    val out = scala.collection.mutable.Map
      .empty[(String, Option[Long]), Seq[String]]
    val root = mapper.readTree(readString(new Path(dir, "_iceberg_source")))
    if (!Option(root.get("manifest_schema")).exists(_.asText == schemaHash))
      return out
    val mdir = manifestDirPath(dir)
    val f = fs(dir)
    Option(root.get("manifests")).toSeq.flatMap(_.elements.asScala).foreach { n =>
      val names = n.get("names").elements.asScala.map(_.asText).toSeq
      if (names.forall(nm => f.exists(new Path(mdir, nm))))
        out((n.get("path").asText,
          Option(n.get("seq")).filterNot(_.isNull).map(_.asLong))) = names
    }
    out
  }

  /** Fingerprint of everything the manifest decode depends on: the
    * pinned read schema (bounds are keyed by COLUMN NAME — a foreign
    * rename must invalidate reuse) and the partition spec (identity
    * values fold into bounds).
    */
  private def icebergDecodeHash(pinSchema: StructType,
                                spec: Seq[IcebergInterop.IceSpecField]): String =
    sha1Hex(pinSchema.json + "|" + spec.mkString(","))

  private def sha1Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The FOREIGN partition spec recorded when an Iceberg table was
    * attached (field name, transform, source field id) — observability
    * plus the `$partitions` reconstruction; empty for native tables and
    * unpartitioned attachments.
    */
  def icebergSpecOf(schema: String, table: String): Seq[IcebergInterop.IceSpecField] = {
    val p = new Path(tableDir(schema, table), "_iceberg_source")
    if (!fs(p).exists(p)) return Nil
    val root = mapper.readTree(readString(p))
    Option(root.get("spec")).toSeq.flatMap(_.elements.asScala).map { n =>
      IcebergInterop.IceSpecField(n.get("name").asText,
        n.get("transform").asText, n.get("source_id").asInt)
    }
  }

  /** CALL system.unregister_table: remove `schema.table` from the catalog
    * WITHOUT deleting its data (vs DROP TABLE, which deletes both). A
    * pointer-registered table loses only the pointer dir; a physical
    * table gains an `_unregistered` tombstone that hides it from
    * [[tableExists]]/[[listTables]] while every file stays intact —
    * [[registerTable]] against the same location brings it back whole
    * (snapshots, branches, stats included).
    */
  def unregisterTable(schema: String, table: String): Unit = synchronized {
    require(tableExists(schema, table), s"Table $schema.$table does not exist")
    val entry = new Path(schemaLocation(schema), table)
    val marker = new Path(entry, "_table_location")
    if (fs(marker).exists(marker)) fs(entry).delete(entry, true) // pointer dir only
    else writeString(new Path(entry, "_unregistered"), "")
    tableLocationCache.remove(s"$schema.$table")
  }

  /** Distributed footer validation over external / in-place parquet
    * files — `(qualifiedUri, recordedPath, length)` triples: executors
    * extract manifest entries and check each file's schema EQUALS the
    * declared data columns (name + type + column COUNT — a file carrying
    * extra columns would silently lose them at read time); only the
    * KB-scale entries (or error strings) return to the driver. Shared by
    * [[addFiles]] and [[migrateTable]] — this is the 100 TB adoption
    * path, where a serial driver-side loop would pay one object-store
    * round trip per file.
    */
  private def validateExternalFooters(files: Seq[(String, String, Long)],
                                      declData: StructType,
                                      opName: String): Seq[DataFileEntry] = {
    val confMap: Map[String, String] = {
      // newHadoopConf = hadoop conf + every explicitly-set session SQL
      // conf (e.g. nanosAsLong), so executor-side schema conversion sees
      // the same settings a driver-side read would
      val it = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.newHadoopConf().iterator()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
      b.result()
    }
    val sc = spark.sparkContext
    val bcConf = sc.broadcast(confMap)
    val bcDecl = sc.broadcast(declData.json)
    val slices = math.max(1, math.min(files.size, sc.defaultParallelism * 2))
    val checked: Seq[Either[String, DataFileEntry]] =
      sc.parallelize(files, slices).mapPartitions { it =>
        val c = new org.apache.hadoop.conf.Configuration(false)
        bcConf.value.foreach { case (k, v) => c.set(k, v) }
        val decl = org.apache.spark.sql.types.DataType.fromJson(bcDecl.value)
          .asInstanceOf[StructType]
        it.map { case (qual, rec, len) =>
          try {
            val (entry, fileSchema) =
              Manifests.footerEntryWithSchema(c, new Path(qual), rec, len)
            val missing = decl.fields.find(f =>
              !fileSchema.fields.exists(_.name.equalsIgnoreCase(f.name)))
            val mismatch = decl.fields.flatMap(f =>
              fileSchema.fields.find(_.name.equalsIgnoreCase(f.name))
                .filter(_.dataType != f.dataType).map(f -> _)).headOption
            if (missing.isDefined)
              Left(s"$opName: $rec lacks declared column ${missing.get.name}")
            else if (mismatch.isDefined) {
              val (f, g) = mismatch.get
              Left(s"$opName: type mismatch on ${f.name} in $rec: " +
                s"declared ${f.dataType.simpleString} vs file ${g.dataType.simpleString}")
            } else if (fileSchema.fields.length != decl.fields.length)
              Left(s"$opName: $rec carries ${fileSchema.fields.length} columns, " +
                s"table declares ${decl.fields.length} data columns")
            else Right(entry)
          } catch {
            case e: Exception => Left(s"$opName: $rec: ${e.getMessage}")
          }
        }
      }.collect().toSeq
    val errs = checked.collect { case Left(m) => m }
    if (errs.nonEmpty)
      throw new IllegalArgumentException(errs.head +
        (if (errs.size > 1) s" (and ${errs.size - 1} more file(s))" else ""))
    checked.collect { case Right(e) => e }
  }

  /** [[validateExternalFooters]] for adoptions with no bloom columns:
    * each job partition validates its files AND writes its entries as
    * manifest shards IN PLACE (≤ [[SnapshotCatalog.manifestEntryCap]]
    * entries each, [[Manifests.writeShard]]), so the driver never
    * materializes the entry list — it receives only shard NAMES plus
    * the entry paths (for the duplicate-adoption check): bytes
    * proportional to file COUNT, not to entries × bounds. A validation
    * or commit failure leaves written shards as unreferenced debris
    * (manifests only go live via a committed manifest list); expire's
    * manifest GC reclaims them.
    */
  private def validateAndShardExternalFooters(files: Seq[(String, String, Long)],
                                              declData: StructType,
                                              opName: String,
                                              dir: Path): (Seq[String], Seq[String]) = {
    val confMap: Map[String, String] = {
      val it = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.newHadoopConf().iterator()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
      b.result()
    }
    val sc = spark.sparkContext
    val bcConf = sc.broadcast(confMap)
    val bcDecl = sc.broadcast(declData.json)
    val manifestDirStr = fs(dir).makeQualified(manifestDirPath(dir)).toString
    val cap = SnapshotCatalog.manifestEntryCap
    val slices = math.max(1, math.min(files.size, sc.defaultParallelism * 2))
    val res: Seq[Either[String, (String, Seq[String])]] =
      sc.parallelize(files, slices).mapPartitions { it =>
        val c = new org.apache.hadoop.conf.Configuration(false)
        bcConf.value.foreach { case (k, v) => c.set(k, v) }
        val decl = org.apache.spark.sql.types.DataType.fromJson(bcDecl.value)
          .asInstanceOf[StructType]
        val checked = it.map { case (qual, rec, len) =>
          try {
            val (entry, fileSchema) =
              Manifests.footerEntryWithSchema(c, new Path(qual), rec, len)
            val missing = decl.fields.find(f =>
              !fileSchema.fields.exists(_.name.equalsIgnoreCase(f.name)))
            val mismatch = decl.fields.flatMap(f =>
              fileSchema.fields.find(_.name.equalsIgnoreCase(f.name))
                .filter(_.dataType != f.dataType).map(f -> _)).headOption
            if (missing.isDefined)
              Left(s"$opName: $rec lacks declared column ${missing.get.name}")
            else if (mismatch.isDefined) {
              val (f, g) = mismatch.get
              Left(s"$opName: type mismatch on ${f.name} in $rec: " +
                s"declared ${f.dataType.simpleString} vs file ${g.dataType.simpleString}")
            } else if (fileSchema.fields.length != decl.fields.length)
              Left(s"$opName: $rec carries ${fileSchema.fields.length} columns, " +
                s"table declares ${decl.fields.length} data columns")
            else Right(entry)
          } catch {
            case e: Exception => Left(s"$opName: $rec: ${e.getMessage}")
          }
        }.toVector
        val errs = checked.collect { case Left(m) => m }
        if (errs.nonEmpty) errs.iterator.take(8).map(Left(_))
        else checked.iterator.collect { case Right(e) => e }.grouped(cap)
          .map { chunk =>
            val name = Manifests.writeShard(c, new Path(manifestDirStr), chunk.toSeq)
            Right((name, chunk.map(_.path)))
          }
      }.collect().toSeq
    val errs = res.collect { case Left(m) => m }
    if (errs.nonEmpty)
      throw new IllegalArgumentException(errs.head +
        (if (errs.size > 1) s" (and ${errs.size - 1} more file(s))" else ""))
    (res.collect { case Right((n, _)) => n },
      res.collect { case Right((_, ps)) => ps }.flatten)
  }

  /** `CALL system.migrate('sch', 't', '/path')`: convert an existing
    * plain parquet layout (flat or hive `col=value` partitioned) IN
    * PLACE into a catalog table — Trino Iceberg's migrate procedure
    * (trino.io/docs/current/connector/iceberg.html#migrate-table),
    * re-expressed for path-addressed layouts. Zero data movement, and
    * unlike [[addFiles]] the files become the table's OWN storage (the
    * directory IS the table: compaction, expire and orphan cleanup
    * manage them like any native file). Schema comes from Spark's own
    * discovery — typed hive partition columns included; every file is
    * footer-validated against it in one distributed job before any
    * metadata is written. Crash-safe ordering: manifests + the
    * generation-0 commit land first, the `commits.json` existence
    * marker second, registration last — a crash before the marker
    * re-migrates cleanly (stale manifests are orphan debris), a crash
    * after it attaches with register_table (the retry error says so).
    * Returns the migrated file count.
    */
  def migrateTable(schema: String, table: String, location: String): Long = synchronized {
    require(schemaExists(schema), s"Schema $schema does not exist")
    require(!tableExists(schema, table) && !viewExists(schema, table),
      s"Table or view $schema.$table already exists")
    val loc = new Path(location)
    val f = fs(loc)
    require(f.exists(loc), s"migrate: $location does not exist")
    require(!f.exists(new Path(loc, "commits.json")),
      s"migrate: $location already holds a table layout — " +
        "CALL system.register_table to attach it")
    // same aliasing guard as registerTable: a live table's storage must
    // not gain a second name (DROP through either would strand the other)
    val locKey = f.makeQualified(loc).toUri.getPath
    listSchemas().foreach { s0 =>
      listTables(s0).foreach { t0 =>
        val d0 = tableDir(s0, t0)
        require(fs(d0).makeQualified(d0).toUri.getPath != locKey,
          s"migrate: $location is already the storage of catalog table $s0.$t0")
      }
    }
    val statuses = dataFileStatusesUnder(loc)
    require(statuses.nonEmpty, s"migrate: no parquet files under $location")
    // Spark's discovery gives the full schema including TYPED hive
    // partition columns; the partition spec is the `col=value` path
    // segment sequence, which every file must share. The read anchors at
    // basePath over the EXPLICIT data-file list (not the directory):
    // a retry after a crashed earlier migrate would otherwise trip over
    // its stranded metadata JSON
    val full = spark.read.option("basePath", location)
      .parquet(statuses.map(_._1.toString): _*).schema
    val rels = statuses.map { case (p, len) =>
      val q = fs(p).makeQualified(p)
      (q.toString, q.toUri.getPath.stripPrefix(locKey).stripPrefix("/"), len)
    }
    def segsOf(rel: String): Seq[String] =
      rel.split('/').dropRight(1).filter(_.contains('=')).map(_.split("=", 2)(0)).toSeq
    val segNames = segsOf(rels.head._2)
    rels.foreach { case (_, rel, _) =>
      require(segsOf(rel) == segNames,
        s"migrate: inconsistent hive layout — $rel carries partition " +
          s"segments [${segsOf(rel).mkString(",")}], expected [${segNames.mkString(",")}]")
    }
    val partCols = segNames.map(n => full.fields.find(_.name.equalsIgnoreCase(n))
      .getOrElse(throw new IllegalArgumentException(
        s"migrate: path partition column $n missing from the discovered schema")).name)
    val partLower = partCols.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val dataFields = full.fields.filterNot(c =>
      partLower.contains(c.name.toLowerCase(java.util.Locale.ROOT)))
    full.fieldNames.foreach(validateColumnName(_, 1))
    require(partCols.isEmpty || !full.fieldNames.exists(_.equalsIgnoreCase("_snap")),
      "Column name _snap is reserved in partitioned tables")
    // distributed footer validation + manifest entries (relative paths —
    // the files are table-owned from here), incl. the column-COUNT
    // equality check: Spark's discovery reads one footer, so a stray
    // wider file would otherwise be accepted or rejected depending on
    // which file discovery happened to sample
    val (shardNames, _) = validateAndShardExternalFooters(rels,
      StructType(dataFields.toSeq), "migrate", loc)
    // metadata lands in place; the commits.json existence marker is LAST
    // so a crash mid-migrate leaves a re-migratable plain directory
    writeString(new Path(loc, "_table_schema.json"), full.json)
    if (partCols.nonEmpty)
      writeString(new Path(loc, "_partition_spec.json"), partCols.mkString("\n"))
    val ml = writeManifestList(loc, shardNames)
    val snap = Snapshot(1L, System.currentTimeMillis(), Some(full.json),
      Some("append"), manifestList = Some(ml))
    writeString(genPath(loc, 0L), commitsJson(Seq(snap), Nil))
    faultPoint("migrate.layout-written")
    writeString(new Path(loc, "commits.json"), "[]")
    registerTableImpl(schema, table, location, checkAlias = false)
    statuses.size.toLong
  }

  /** `ALTER TABLE t EXECUTE add_files(location => '…')`: adopt existing
    * parquet files into the table IN PLACE (Trino Iceberg's add_files
    * procedure) — a metadata-only commit, no data byte moves or copies;
    * the 100 TB ingest path for data that already sits in the lake. Each
    * file under `location` is footer-scanned once (record count + column
    * bounds; blooms when the table declares them) and referenced from a
    * new manifest by its ABSOLUTE scheme-less URI path — reads, DML
    * probes and metadata tables then plan through the same manifest
    * machinery as native files. Contract (same spirit as Trino's):
    * unpartitioned tables only, file schema must equal the declared data
    * columns (name + type), and a file already referenced by the current
    * snapshot is rejected. Compaction naturally migrates adopted files
    * into table-owned storage; remove_orphan_files never touches them
    * (it scans only the table dir). Returns the adopted file count.
    */
  def addFiles(schema: String, table: String, location: String): Long = synchronized {
    require(tableExists(schema, table), s"Table $schema.$table does not exist")
    val fieldsP = partitionFields(schema, table)
    require(fieldsP.forall(_.isIdentity),
      "add_files supports unpartitioned or identity-partitioned (hive layout) " +
        "tables only — transform partitioning has no external hive spelling")
    val dir = tableDir(schema, table)
    val statuses = dataFileStatusesUnder(new Path(location))
    require(statuses.nonEmpty, s"No parquet files under $location")
    val declared = declaredSchema(schema, table).getOrElse(
      throw new IllegalStateException(s"Table $schema.$table has no declared schema"))
    // hive convention: identity partition values live in the PATH, never
    // in the files — the declared DATA columns are the rest
    val identLower = fieldsP.map(_.source.toLowerCase(java.util.Locale.ROOT)).toSet
    val dataFields = declared.fields.filterNot(f =>
      identLower.contains(f.name.toLowerCase(java.util.Locale.ROOT)))
    val (commits, gen) = readCommitsWithGen(schema, table)
    val tableRoot = fs(dir).makeQualified(dir).toUri.getPath
    // driver-side path checks (no I/O): inside-table guard + a hive
    // `col=value` segment present for EVERY declared partition column
    // (the read path parses partition values from these segments)
    val qualified = statuses.map { case (p, len) =>
      val q = fs(p).makeQualified(p)
      (q.toString, q.toUri.getPath, len)
    }
    // same filesystem REQUIRED: manifest entries store scheme-and-
    // authority-less absolute paths and re-anchor on the TABLE dir's
    // scheme+authority at read time, so a file on another bucket/
    // cluster would silently resolve into the wrong store — fail loud
    // instead (copy or unload the data into the table's store first)
    val tq = fs(dir).makeQualified(dir).toUri
    qualified.foreach { case (full, _, _) =>
      val u = new Path(full).toUri
      require(u.getScheme == tq.getScheme &&
        java.util.Objects.equals(u.getAuthority, tq.getAuthority),
        s"add_files: $full is on a different filesystem than the table " +
          s"(${tq.getScheme}://${Option(tq.getAuthority).getOrElse("")}) — " +
          "adopted entries resolve against the table's scheme+authority")
    }
    qualified.foreach { case (_, abs, _) =>
      require(!abs.startsWith(tableRoot + "/"),
        s"add_files location is inside the table directory: $abs")
      fieldsP.foreach { f =>
        val key = f.source.toLowerCase(java.util.Locale.ROOT) + "="
        require(abs.split('/').dropRight(1)
          .exists(_.toLowerCase(java.util.Locale.ROOT).startsWith(key)),
          s"add_files: $abs lacks a hive partition segment for ${f.source}")
      }
    }
    // EVERY file is validated (not a sample): external directories give
    // no uniformity guarantee, and one mismatched file would fail or
    // null out at read time AFTER the commit. The footer/validation pass
    // runs as a DISTRIBUTED Spark job ([[validateExternalFooters]]).
    val existing = commits.lastOption.toSeq.flatMap(manifestEntriesOf(dir, _))
      .map(e => entryKey(tableRoot, e)).toSet
    val bloomCols = bloomColumnsAt(dir)
    // no-bloom adoption (the common shape): the distributed footer job
    // writes manifest shards in place and only shard names + entry
    // paths return to the driver — driver memory stays flat however
    // many files are adopted. Bloom-declared tables keep the
    // entry-collecting path (blooms are computed in a second pass and
    // merged into the entries before the manifest write).
    val (newNames, newPaths) =
      if (bloomCols.isEmpty)
        validateAndShardExternalFooters(qualified,
          StructType(dataFields.toSeq), "add_files", dir)
      else {
        val entries0 = validateExternalFooters(qualified,
          StructType(dataFields.toSeq), "add_files")
        // chunked bloom jobs: a giant adoption on a bloom-configured
        // table would otherwise collect files × cols × ≤16 KiB bitsets
        // in ONE aggregation — per-chunk collects bound the driver's
        // transient spike (the entries still carry every bloom; that
        // steady-state footprint is the manifest's, not this job's)
        val maxRows = entries0.map(_.rows).max
        val byPath = statuses.map(_._1.toString).grouped(1024).flatMap(chunk =>
          Blooms.bloomsFor(spark, chunk, bloomCols, maxRows))
          .map { case (k, v) => new Path(k).toUri.getPath -> v }.toMap
        val entries = entries0.map(e =>
          e.copy(blooms = byPath.getOrElse(e.path, Map.empty)))
        (writeManifests(dir, entries), entries.map(_.path))
      }
    val dups = newPaths.filter(existing)
    require(dups.isEmpty,
      s"add_files: ${dups.size} file(s) already referenced by the current snapshot")
    val (carried, _) = carryManifests(schema, table, commits.lastOption, Set.empty)
    val names = carried ++ newNames
    val ml = writeManifestList(dir, compactManifestSet(dir, names))
    val (id, at) = nextCommit(commits.lastOption)
    val snap = Snapshot(id, at, declaredSchema(schema, table).map(_.json),
      Some("append"), commits.lastOption.map(_.deletes).getOrElse(Nil), Some(ml),
      None, commits.lastOption.map(_.eqDeletes).getOrElse(Nil))
    writeCommits(schema, table, commits :+ snap, gen)
    statuses.size.toLong
  }

  /** `ALTER TABLE t EXECUTE add_files_from_table(schema_name => 's',
    * table_name => 'src')`: adopt every data file of ANOTHER catalog
    * table's current snapshot IN PLACE (Trino Iceberg's
    * add_files_from_table). Pure metadata — the source's manifest
    * entries (bounds, blooms, sizes included) are referenced by
    * absolute path in a new target manifest: ZERO footer reads, zero
    * data bytes moved, however large the source. Contract: identical
    * partitioning spec and identical declared data schema (name +
    * type); the source head must carry no pending delete files
    * (adopting raw files would resurrect deleted rows — optimize
    * first). Later target DML rewrites touched adopted files into
    * target-owned storage; the source is never affected — the target's
    * own expire/orphan maintenance never deletes outside the target
    * directory, so adopted files are never reclaimed from here.
    *
    * The reverse direction is the operator's to manage (Trino Iceberg
    * add_files_from_table has the same contract): the SOURCE does not
    * know the target references its files, so source-side
    * compact + expire (or DROP TABLE) can reclaim files the target
    * still lists. Adopt from sources whose maintenance you control, or
    * re-own the data on the target (EXECUTE optimize rewrites adopted
    * files into target storage).
    */
  def addFilesFromTable(schema: String, table: String,
                        srcSchema: String, srcTable: String): Long = synchronized {
    require(tableExists(schema, table), s"Table $schema.$table does not exist")
    require(tableExists(srcSchema, srcTable),
      s"Table $srcSchema.$srcTable does not exist")
    require(!(srcSchema == schema && srcTable == table),
      "add_files_from_table: source and target are the same table")
    val tSpec = partitionSpec(schema, table)
      .map(_.toLowerCase(java.util.Locale.ROOT))
    val sSpec = partitionSpec(srcSchema, srcTable)
      .map(_.toLowerCase(java.util.Locale.ROOT))
    require(tSpec == sSpec,
      "add_files_from_table requires identical partitioning on source " +
        s"and target (source: $sSpec, target: $tSpec)")
    val declared = declaredSchema(schema, table).getOrElse(
      throw new IllegalStateException(s"Table $schema.$table has no declared schema"))
    val srcDecl = declaredSchema(srcSchema, srcTable).getOrElse(
      throw new IllegalStateException(s"Table $srcSchema.$srcTable has no declared schema"))
    def shape(s: StructType) = s.fields.toSeq
      .map(f => (f.name.toLowerCase(java.util.Locale.ROOT), f.dataType))
    require(shape(srcDecl) == shape(declared),
      s"add_files_from_table: declared schemas differ (source " +
        s"${srcDecl.simpleString}, target ${declared.simpleString})")
    val sDir = tableDir(srcSchema, srcTable)
    val sHead = readCommits(srcSchema, srcTable).lastOption.getOrElse(return 0L)
    require(sHead.deletes.isEmpty && sHead.eqDeletes.isEmpty,
      s"add_files_from_table: $srcSchema.$srcTable has pending delete " +
        "files — EXECUTE optimize it first (adopting raw files would " +
        "resurrect deleted rows)")
    val sKey = fs(sDir).makeQualified(sDir).toUri.getPath
    val entries0 = manifestEntriesOf(sDir, sHead).map { e =>
      e.copy(path = if (e.path.startsWith("/")) e.path else s"$sKey/${e.path}")
    }
    require(entries0.nonEmpty, s"$srcSchema.$srcTable has no data files")
    val dir = tableDir(schema, table)
    val (commits, gen) = readCommitsWithGen(schema, table)
    val tableRoot = fs(dir).makeQualified(dir).toUri.getPath
    // same filesystem REQUIRED (see addFiles): absolute entry paths
    // re-anchor on the target's scheme+authority at read time
    val squ = fs(sDir).makeQualified(sDir).toUri
    val tqu = fs(dir).makeQualified(dir).toUri
    require(squ.getScheme == tqu.getScheme &&
      java.util.Objects.equals(squ.getAuthority, tqu.getAuthority),
      s"add_files_from_table: $srcSchema.$srcTable lives on a different " +
        s"filesystem (${squ.getScheme}://${Option(squ.getAuthority).getOrElse("")}) " +
        s"than the target (${tqu.getScheme}://${Option(tqu.getAuthority).getOrElse("")})")
    entries0.foreach(e => require(!e.path.startsWith(tableRoot + "/"),
      s"add_files_from_table: source file is inside the target directory: ${e.path}"))
    val existing = commits.lastOption.toSeq.flatMap(manifestEntriesOf(dir, _))
      .map(e => entryKey(tableRoot, e)).toSet
    val dups = entries0.filter(e => existing(e.path))
    require(dups.isEmpty,
      s"add_files_from_table: ${dups.size} file(s) already referenced by " +
        "the current snapshot")
    val (carried, _) = carryManifests(schema, table, commits.lastOption, Set.empty)
    val names = carried ++ writeManifests(dir, entries0)
    val ml = writeManifestList(dir, compactManifestSet(dir, names))
    val (id, at) = nextCommit(commits.lastOption)
    val snap = Snapshot(id, at, Some(declared.json), Some("append"),
      commits.lastOption.map(_.deletes).getOrElse(Nil), Some(ml),
      None, commits.lastOption.map(_.eqDeletes).getOrElse(Nil))
    writeCommits(schema, table, commits :+ snap, gen)
    entries0.size.toLong
  }

  /** ALTER TABLE RENAME TO (Trino rename): one directory move — the
    * commit log, schema, comments, and every snapshot travel with it;
    * data files are untouched. Manifest entry paths are relative to the
    * table dir, so they remain valid at the new location. Cross-schema
    * renames are allowed like Trino's; the target must not exist.
    */
  def renameTable(schema: String, table: String,
                  newSchema: String, newTable: String): Unit = synchronized {
    require(tableExists(schema, table), s"Table $schema.$table does not exist")
    require(schemaExists(newSchema), s"Schema $newSchema does not exist")
    require(!tableExists(newSchema, newTable) && !viewExists(newSchema, newTable),
      s"Table or view $newSchema.$newTable already exists")
    // rename moves the CATALOG ENTRY (pointer dir for a registered
    // table — its external data stays put), which for a physical table
    // is the data dir itself
    val src = new Path(schemaLocation(schema), table)
    val dst = new Path(schemaLocation(newSchema), newTable)
    val f = fs(src)
    require(f.rename(src, dst), s"Filesystem rename $src -> $dst failed")
    tableLocationCache.remove(s"$schema.$table")
    tableLocationCache.remove(s"$newSchema.$newTable")
  }

  /** CTAS (S4): create + single snapshot from a query result; returns the
    * row count, like the reference's CTAS row-count contract
    * (AthenaClient.cs:152-160), from the commit's own footers.
    */
  def createTableAs(schema: String, table: String, df: DataFrame): Long = {
    createTable(schema, table, df.schema)
    insertCounted(schema, table, df)._2
  }

  /** `CREATE OR REPLACE TABLE t AS …` (Trino Iceberg's atomic replace):
    * the table's content AND declared schema are replaced in ONE commit
    * on the SAME commit log — the previous state stays reachable through
    * `FOR TIMESTAMP/VERSION AS OF` (each commit pins its schema), unlike
    * DROP + CREATE which destroys history. Layout properties that could
    * reference replaced columns (partitioning, sorted_by, bloom columns)
    * reset — the replacement declares a fresh physical contract; the
    * format_version and comments survive. CDC across the replace reports
    * the old rows deleted and the new rows inserted. Returns the new row
    * count.
    */
  def replaceTableAs(schema: String, table: String, df: DataFrame): Long = synchronized {
    if (!tableExists(schema, table)) return createTableAs(schema, table, df)
    val dir = tableDir(schema, table)
    val (commits, gen) = readCommitsWithGen(schema, table)
    df.schema.fieldNames.foreach(validateColumnName(_, formatVersion(schema, table)))
    val last = commits.lastOption
    val (id, at) = nextCommit(last)
    // ORDER MATTERS: data write → staged marker → commit CAS → marker
    // promotion. The write may fail mid-query (it can read the table
    // being replaced) and the CAS may lose to a concurrent writer — in
    // both cases the table must be untouched (the staged snap dir is
    // orphan debris, reclaimed by remove_orphan_files). Mutating the
    // declared schema or layout markers FIRST corrupted the table on any
    // such failure; mutating them AFTER the CAS without the staged
    // marker left a crash window where a reader paired the new replace
    // snapshot with the OLD declared schema and partition spec. The
    // staged marker closes it: any reader that observes it next to a
    // matching replace head finishes the promotion itself
    // ([[promoteReplaceStaged]], triggered from the commit-log read's
    // existing directory listing — idempotent, zero extra I/O).
    val snapDir = snapDirName(schema, table, attemptTag(id))
    // the one-task rule of [[writeData]], but not the table's layout: the
    // replacement resets it, and the old sort columns may be gone
    oneTaskIfLocal(df).write.mode("errorifexists").parquet(new Path(dir, snapDir).toString)
    faultPoint("replace.data-written") // staged dir is orphan debris from here
    // no blooms: the replacement resets bloom columns, and the OLD ones
    // may not exist in the new schema
    val newEntries = scanEntries(dir, snapDir, bloomOverride = Some(Nil))
    val names = writeManifests(dir, newEntries)
    val snap = Snapshot(id, at, Some(df.schema.json), Some("replace"),
      Nil, Some(writeManifestList(dir, names)))
    val stagedP = new Path(dir, s"_replace_staged-$id.json")
    writeString(stagedP, "{}")
    faultPoint("replace.marker-staged") // marker on disk, CAS not yet attempted
    try writeCommits(schema, table, commits :+ snap, gen)
    catch { case e: CommitConflictException =>
      fs(stagedP).delete(stagedP, false) // loser: marker is debris
      throw e
    }
    faultPoint("replace.committed") // new head visible, markers not yet promoted
    promoteReplaceStaged(dir, commits :+ snap, Seq(stagedP.getName))
    newEntries.map(_.rows).sum
  }

  // ---- DML (S5) ----

  /** INSERT INTO: write a new snap dir, append a commit; the commit path
    * of [[insertCounted]], returning only the snapshot.
    *
    * `txn = Some((appId, version))` makes the write IDEMPOTENT: if any
    * commit already records `appId` at a version >= `version`, the insert
    * is skipped (no files written, no commit) and that commit's snapshot
    * is returned — the Delta-style transactional-writer contract that
    * gives a restarted streaming query exactly-once sink semantics even
    * when its checkpoint is replayed or lost ([[graft.streaming.EventStreams
    * .streamIntoCatalog]]). The check shares the optimistic-concurrency
    * read with the commit itself, so a racing duplicate writer loses the
    * generation CAS, retries, and then observes the recorded version.
    */
  def insert(schema: String, table: String, df: DataFrame,
             txn: Option[(String, Long)] = None): Snapshot =
    insertCounted(schema, table, df, txn)._1

  /** [[insert]] that also reports the rows it committed: the record
    * counts of the new files' footers, which the manifest entries read
    * anyway — so the source runs once, in the write job (the reference's
    * writer reports its own row count the same way). A `txn` skip commits
    * nothing and reports 0.
    */
  def insertCounted(schema: String, table: String, df: DataFrame,
                    txn: Option[(String, Long)] = None): (Snapshot, Long) = synchronized {
    val dir = tableDir(schema, table)
    require(tableExists(schema, table), s"Table $schema.$table does not exist")
    val (commits, gen) = readCommitsWithGen(schema, table)
    for ((app, v) <- txn; seen <- txnSeen(commits, app, v)) return (seen, 0L)
    val (id, at) = nextCommit(commits.lastOption)
    val snapDir = snapDirName(schema, table, attemptTag(id))
    writeData(schema, table, df, dir, snapDir)
    faultPoint("insert.staged") // data files on disk, commit not yet attempted
    // prior files carry by manifest NAME; only the new dir is
    // footer-scanned. deletes carry
    // forward: they address (file, pos) coordinates in the PRIOR files,
    // which the append leaves in place
    val (carried, _) = carryManifests(schema, table, commits.lastOption, Set.empty)
    val newEntries = scanEntries(dir, snapDir)
    val names = carried ++
      writeManifests(dir, newEntries)
    val ml = writeManifestList(dir, compactManifestSet(dir, names))
    val snap = Snapshot(id, at,
      declaredSchema(schema, table).map(_.json), Some("append"),
      commits.lastOption.map(_.deletes).getOrElse(Nil), Some(ml), txn,
      commits.lastOption.map(_.eqDeletes).getOrElse(Nil))
    writeCommits(schema, table, commits :+ snap, gen)
    val rows = newEntries.map(_.rows).sum
    Log.debug(log, "Inserted into {0}.{1}: snapshot {2}, {3} data files, {4} rows",
      schema, table, id, newEntries.size, rows)
    (snap, rows)
  }

  /** Keyed UPSERT via equality deletes (Iceberg v2's streaming-writer
    * shape, `format_version = 2` only): ONE commit appends the batch
    * plus one equality-delete key file shadowing prior rows with the
    * same keys — the writer never reads, joins, or probes the target,
    * so a 100-row upsert against a 100 TB table costs 100 rows. MERGE
    * (the CoW alternative) costs a bounds probe plus a rewrite of every
    * touched file; this is the Flink-CDC / streaming-sink write shape.
    * Last-wins across commits: a later upsert's delete covers the
    * earlier one's appended rows (its `appliesTo` snapshot includes
    * them). `txn` gives the same idempotent-writer contract as
    * [[insert]]. Reads pay one broadcast key anti-join per pending
    * delete — `EXECUTE optimize` folds them back to zero.
    */
  def upsert(schema: String, table: String, df: DataFrame, keys: Seq[String],
             txn: Option[(String, Long)] = None): Snapshot = synchronized {
    val dir = tableDir(schema, table)
    require(tableExists(schema, table), s"Table $schema.$table does not exist")
    require(formatVersion(schema, table) == 2,
      "upsert (equality deletes) requires format_version = 2")
    require(keys.nonEmpty, "upsert requires at least one key column")
    val declared = declaredSchema(schema, table)
    keys.foreach(k => require(
      declared.exists(_.fieldNames.exists(_.equalsIgnoreCase(k))),
      s"Upsert key column $k is not in the declared schema"))
    val (commits, gen) = readCommitsWithGen(schema, table)
    for ((app, v) <- txn; seen <- txnSeen(commits, app, v)) return seen
    val prior = commits.lastOption
    val (id, at) = nextCommit(prior)
    // the batch evaluates ONCE: through the sink it is a per-batch
    // aggregation (or an arbitrary caller query) — without the persist
    // the key-file write and the data write would each recompute it
    val batch = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val eq: Seq[EqDelete] = prior match {
        case Some(p) =>
          // the delete file: the batch's distinct key tuples. The exact
          // key count rides the commit (from the written footers — no
          // extra job) so the read side can decide driver-local vs
          // distributed WITHOUT any I/O: on-disk bytes alone undercount
          // badly (sequential keys delta-encode ~100×)
          val delDir = s"eqdel-${attemptTag(id)}"
          batch.select(keys.map(org.apache.spark.sql.functions.col): _*)
            .distinct().coalesce(1)
            .write.mode("errorifexists").parquet(new Path(dir, delDir).toString)
          val delRows = scanEntries(dir, delDir).map(_.rows).sum
          p.eqDeletes :+ EqDelete(delDir, keys, p.snapshotId, delRows)
        case None => Nil // empty table: nothing to shadow
      }
      val snapDir = snapDirName(schema, table, attemptTag(id))
      writeData(schema, table, batch, dir, snapDir)
      val (carried, _) = carryManifests(schema, table, prior, Set.empty)
      val newEntries = scanEntries(dir, snapDir)
      val names = carried ++
        writeManifests(dir, newEntries)
      val ml = writeManifestList(dir, compactManifestSet(dir, names))
      val snap = Snapshot(id, at, declared.map(_.json), Some("overwrite"),
        prior.map(_.deletes).getOrElse(Nil), Some(ml), txn, eq)
      faultPoint("upsert.staged") // batch + key file on disk, commit pending
      writeCommits(schema, table, commits :+ snap, gen)
      snap
    } finally batch.unpersist()
  }

  /** Latest committed snapshot recording writer `appId` at version >=
    * `version` (the idempotent-write skip witness), if any.
    */
  private def txnSeen(commits: Seq[Snapshot], appId: String,
                      version: Long): Option[Snapshot] =
    commits.filter(_.txn.exists(t => t._1 == appId && t._2 >= version)).lastOption

  /** Highest version writer `appId` has committed to this table, if any —
    * the resume point for a transactional writer recovering without its
    * own state (Delta's txn metadata surface).
    */
  def lastTxnVersion(schema: String, table: String, appId: String): Option[Long] =
    readCommits(schema, table).flatMap(_.txn).filter(_._1 == appId)
      .map(_._2).maxOption

  /** Types with a cheap order-preserving numeric projection — what
    * [[zValueParts]] can bucket.
    */
  private def zorderableType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: NumericType | DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
  }

  /** Z-order clustering key over `zCols`: per-column quantile bucket
    * (64 buckets, cuts from ONE approxQuantile pass over the batch being
    * written) bit-interleaved into a single integer — pure column
    * arithmetic, fully codegen'd, no UDF. Interleaving makes file bounds
    * tight on EVERY z column at once, so manifest/footer pruning works
    * for predicates on any of them — the multi-dimensional counterpart
    * of `sorted_by` (Iceberg rewrite_data_files z-order / Delta OPTIMIZE
    * ZORDER). NULLs land in bucket 0 and cluster together.
    */
  private def zValueParts(df: DataFrame, zCols: Seq[String], tag: Int)
    : (Seq[(String, org.apache.spark.sql.Column)], org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val bits = 6 // 64 buckets/column; k columns → 6k-bit z-values
    val proj: Seq[org.apache.spark.sql.Column] = zCols.map { c =>
      val f = df.schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(s"zorder column $c does not exist"))
      f.dataType match {
        case _: NumericType => col(f.name).cast("double")
        case DateType => unix_date(col(f.name)).cast("double")
        case TimestampType | TimestampNTZType =>
          col(f.name).cast(TimestampType).cast("double")
        case other => throw new IllegalArgumentException(
          s"zorder column $c: unsupported type ${other.simpleString}")
      }
    }
    val probs = (1 until (1 << bits)).map(_.toDouble / (1 << bits)).toArray
    // ONE approxQuantile pass over ALL z columns (one Spark job, not one
    // per column — the multi-column sketch skips null/NaN per column,
    // same treatment as the old per-column na.drop path, so the cuts are
    // identical)
    val qNames = zCols.indices.map(j => s"__graft_zq$j")
    val cutsAll = df
      .select(proj.zip(qNames).map { case (p, n) => p.as(n) }: _*)
      .stat.approxQuantile(qNames.toArray, probs, 0.01)
    // bucket index = number of cuts at or below the value, as ONE
    // binary-search expression per column (graft.functions.
    // QuantileBucket). The previous spelling — a fold of 63
    // when(p >= cut, 1) adds — generated a method body past the JIT
    // compile thresholds, so the projection ran INTERPRETED: executor
    // stack sampling put it at ~70% of zorder_demo's executor compute
    // (§4 per-task work). Identical bucket values (null → 0, NaN counts
    // every cut, -0.0 == 0.0) pinned by QuantileBucketSpec's
    // differential test against the old chain. Each bucket stays
    // MATERIALIZED as a helper column so it is planned and evaluated
    // once rather than once per interleave bit.
    val helpers = proj.zip(zCols.indices).map { case (p, j) =>
      val cuts = cutsAll(j).distinct.sorted // same cut set as the old chain
      (s"__graft_zb${tag}_$j", graft.functions.QuantileBucket.bucket(p, cuts))
    }
    val k = helpers.length
    val z = (for (b <- 0 until bits; j <- 0 until k) yield
      shiftleft(shiftright(col(helpers(j)._1), b).bitwiseAND(lit(1)), b * k + j))
      .reduce(_ + _)
    (helpers, z)
  }

  /** Sort keys for a clustered write over `withD` (derived partition
    * columns present): plain entries map to asc/desc columns, a zorder
    * entry materializes its interleaved key as a helper column. Returns
    * (frame possibly + helpers, sort keys, helper names to drop).
    */
  private def sortKeyCols(withD: DataFrame, sorted: Seq[String])
    : (DataFrame, Seq[org.apache.spark.sql.Column], Seq[String]) = {
    import org.apache.spark.sql.functions.col
    var df = withD
    val helpers = scala.collection.mutable.ArrayBuffer.empty[String]
    val keys = sorted.zipWithIndex.map { case (s, i) =>
      s.trim match {
        case zorderRe(inner) =>
          val zCols = inner.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          val name = s"__graft_z$i"
          val (bucketCols, zc) = zValueParts(withD, zCols, i)
          bucketCols.foreach { case (hn, hc) =>
            df = df.withColumn(hn, hc); helpers += hn
          }
          df = df.withColumn(name, zc)
          helpers += name
          col(name).asc
        case _ => sortCol(s)
      }
    }
    (df, keys, helpers.toSeq)
  }

  /** When the declared schema carries parquet field ids (attached
    * Iceberg tables), stamp them onto `df` so the written files resolve
    * by id like the foreign ones — without this, a local INSERT would
    * write id-less files that the table's id-resolving reads then
    * refuse. A no-op for every native table (one metadata scan).
    */
  private def withDeclaredFieldIds(schema: String, table: String,
                                   df: DataFrame): DataFrame = {
    val decl = declaredSchema(schema, table).getOrElse(return df)
    if (!decl.fields.exists(_.metadata.contains(IcebergInterop.FieldIdKey)))
      return df
    import org.apache.spark.sql.functions.col
    df.select(df.schema.fields.toIndexedSeq.map { f =>
      decl.fields.find(_.name.equalsIgnoreCase(f.name)) match {
        case Some(d) if d.metadata.contains(IcebergInterop.FieldIdKey) =>
          col(f.name).as(f.name, d.metadata)
        case _ => col(f.name)
      }
    }: _*)
  }

  /** Stage `df` under `dir/snapDir` honoring the table's partition/sort
    * spec. A CLUSTERED write (sort spec, or non-identity partition
    * transforms) evaluates its input 2-3 times — the z-order/sort
    * approxQuantile cuts, the range partitioner's sampling pass, and the
    * write itself — and each pass re-runs the full source scan (profiled
    * on zorder_demo: three single-task decodes of the same slice, one
    * per pass). Persist the input across those passes — the same
    * pattern [[upsert]] uses for its two passes — and let the first
    * pass materialize it; single-pass writes stay streaming, under
    * [[oneTaskIfLocal]].
    */
  private def writeData(schema: String, table: String, df: DataFrame,
                        dir: Path, snapDir: String): Unit = {
    val dest = new Path(dir, snapDir).toString
    val multiPass = sortSpec(schema, table).nonEmpty ||
      partitionFields(schema, table).exists(!_.isIdentity)
    if (multiPass) {
      val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try partitionedWriter(schema, table, cached)
        .mode("errorifexists").parquet(dest)
      finally cached.unpersist(false)
    } else partitionedWriter(schema, table, oneTaskIfLocal(df))
      .mode("errorifexists").parquet(dest)
  }

  /** A source that optimizes to a `LocalRelation` (a VALUES list,
    * driver-resident rows) is written by ONE task: scanned as is, it
    * splits into one slice per core and so one tiny file per core.
    */
  private def oneTaskIfLocal(df: DataFrame): DataFrame =
    if (df.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]) df.coalesce(1)
    else df

  /** Data writer honoring the table's partition spec: partitioned tables
    * get hive-layout `col=value` subdirectories inside every snap dir.
    * A `sorted_by` table gets its data CLUSTERED on the way in: range-
    * repartitioned on (partition cols ++ sort cols) then sorted within
    * tasks, so each written file covers a disjoint sort-key range and its
    * parquet footer min/max stats become selective — point/range
    * predicates skip whole row groups at read time and the file-pruned
    * DML probe touches one file instead of all of them. AQE sizes the
    * range shuffle, so small inserts collapse to one file while large
    * ones split sorted.
    */
  private def partitionedWriter(schema: String, table: String, df0: DataFrame) = {
    val df = withDeclaredFieldIds(schema, table, df0)
    val fieldsP = partitionFields(schema, table)
    val sorted = sortSpec(schema, table)
    val withD = withDerivedPartitionCols(schema, table, df)
    val clustered =
      if (sorted.nonEmpty) {
        val (zdf, sortKeys, helpers) = sortKeyCols(withD, sorted)
        val keys = fieldsP.map(f =>
          org.apache.spark.sql.functions.col(f.derivedName).asc) ++ sortKeys
        zdf.repartitionByRange(keys: _*).sortWithinPartitions(keys: _*)
          .drop(helpers: _*)
      } else if (fieldsP.exists(!_.isIdentity)) {
        // transform-partitioned writes cluster on the derived values:
        // without this every task writes into every partition dir —
        // tasks × partitions tiny files (a month+bucket table at scale
        // would produce thousands per insert). The AQE-sized range
        // shuffle keeps small inserts at one file per dir and lets big
        // ones split.
        val keys = fieldsP.map(f =>
          org.apache.spark.sql.functions.col(f.derivedName).asc)
        withD.repartitionByRange(keys: _*)
      } else withD
    if (fieldsP.isEmpty) clustered.write
    else clustered.write.partitionBy(fieldsP.map(_.derivedName): _*)
  }

  /** Snapshot directory name. PARTITIONED tables use the hive-parseable
    * `_snap=<tag>` spelling so every snap dir participates in ONE
    * partition-discovering read rooted at the table dir ([[readSnapshot]]:
    * `_snap` scans as an extra partition column and is dropped) — the plan
    * stays O(1) in commit count. Unpartitioned tables keep the plain
    * `snap-<tag>` name (their multi-path read needs no discovery).
    */
  private def snapDirName(schema: String, table: String, tag: String): String =
    if (partitionSpec(schema, table).nonEmpty) s"_snap=$tag" else s"snap-$tag"

  /** Per-attempt uniquifier baked into staged dir tags: two writers racing
    * the same prospective snapshot id both STAGE data before the
    * commit-log rename decides the winner, so id-only names would collide
    * at the FS layer mid-write (Iceberg writes UUID-suffixed files for the
    * same reason). The loser's staged dir is never referenced by any
    * commit and `removeOrphanFiles` reclaims it.
    */
  private def attemptTag(id: Long): String =
    f"$id%05d-${java.util.UUID.randomUUID().toString.take(8)}"

  /** The commit clock: id and commit time of the snapshot after `head`.
    * Commit times are strictly monotonic, so `FOR TIMESTAMP AS OF`
    * between two commits is well-defined even for sub-millisecond commit
    * spacing (SURVEY.md §7.3).
    */
  private def nextCommit(head: Option[Snapshot]): (Long, Long) =
    (head.fold(0L)(_.snapshotId) + 1,
      math.max(System.currentTimeMillis(), head.fold(0L)(_.committedAtMillis + 1)))

  // ---- manifest tier (Iceberg-shaped metadata: immutable manifest
  //      files grouping data-file entries with per-column bounds;
  //      snapshots reference ONE manifest-list file; commits write only
  //      the new manifest(s) — see the Snapshot scaladoc) ----

  private def manifestDirPath(dir: Path) = new Path(dir, "_manifests")

  // manifest and manifest-list files are IMMUTABLE once written (UUID
  // names, never rewritten) — cache them forever, keyed by absolute path
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[DataFileEntry]]()
  private val manifestListCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  /** Normalizes any `scheme://authority/p` or `scheme:/p` URI to a bare
    * `/…` path — the single rule both sides of every file-identity match
    * (eq-delete coverage, CDC provenance) must share, so authority-
    * carrying URIs (hdfs://nn, s3a://bucket) classify identically to
    * authority-less file paths.
    */
  private[catalog] val SchemeNormRe = "^[A-Za-z][A-Za-z0-9+.-]*:/+"

  // eq-delete read-rent caches (round 10): a committed snapshot's file
  // list and an eq-delete file's key rows are both immutable, and every
  // name involved embeds a UUID attempt tag, so entries never alias
  // across drop/recreate. Size-guarded clear() keeps a long-lived
  // session bounded; entries are KB-scale.
  private val snapFileKeysCache =
    new java.util.concurrent.ConcurrentHashMap[String, Set[String]]()

  /** Row-weighted LRU for collected eq-delete key files: bounded by
    * TOTAL retained rows (not just entry count — a count bound alone
    * would let 4096 × 1M-row arrays pin the driver heap), evicting
    * least-recently-used files instead of clearing everything (the old
    * `size > N → clear()` cold-restarted every cached file at once).
    */
  private val eqDelSizeGate =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  private object eqDelKeysLru {
    private val maxRows = 4L << 20 // ~4M key rows across all cached files
    private val maxEntries = 4096
    private var rows = 0L
    private val map = new java.util.LinkedHashMap[
      String, (StructType, Array[org.apache.spark.sql.Row])](256, 0.75f, true)
    def get(k: String): Option[(StructType, Array[org.apache.spark.sql.Row])] =
      synchronized(Option(map.get(k)))
    def put(k: String, v: (StructType, Array[org.apache.spark.sql.Row])): Unit =
      synchronized {
        val prev = map.put(k, v)
        if (prev != null) rows -= prev._2.length
        rows += v._2.length
        val it = map.entrySet().iterator()
        while ((rows > maxRows || map.size > maxEntries) && it.hasNext) {
          val e = it.next()
          if (e.getKey != k) { rows -= e.getValue._2.length; it.remove() }
        }
      }
  }

  /** Bounded registry of EXECUTOR-persisted key frames for
    * past-threshold (distributed-path) eq-delete files: a hot CDC table
    * pays the parquet key scan once and every later read joins against
    * cached blocks — the driver holds only the frame handle, the 10⁷-key
    * payload lives on executors (MEMORY_AND_DISK, spills instead of
    * OOMing). Files are immutable (UUID names), so there is no
    * staleness; eviction unpersists. A harness CacheHygiene sweep may
    * drop the blocks between queries — storageLevel turns NONE and the
    * next use RE-persists (cold-scan price once, never wrong). Entries
    * for compacted-away files age out of the LRU.
    */
  private object eqDelBigLru {
    private val maxEntries = 8
    private val map = new java.util.LinkedHashMap[String, DataFrame](16, 0.75f, true)
    def getOrCreate(p: String): DataFrame = synchronized {
      val df = {
        val hit = map.get(p)
        if (hit != null) hit
        else {
          val fresh = spark.read.parquet(p)
          map.put(p, fresh)
          val it = map.entrySet().iterator()
          while (map.size > maxEntries && it.hasNext) {
            val e = it.next()
            if (e.getKey != p) {
              try e.getValue.unpersist(blocking = false)
              catch { case scala.util.control.NonFatal(_) => () }
              it.remove()
            }
          }
          fresh
        }
      }
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df
    }
  }

  /** Qualified, scheme-normalized data-file keys of `snap` — the
    * representation eq-delete coverage classes compare on. Cached per
    * (table dir, snapshot id, manifest-list name).
    */
  private def snapshotFileKeys(schema: String, table: String, snap: Snapshot): Set[String] = {
    val dir = tableDir(schema, table)
    val f = fs(dir)
    val ck = f.makeQualified(dir).toString + "#" + snap.snapshotId + "#" +
      snap.manifestList.getOrElse("")
    if (snapFileKeysCache.size > 4096) snapFileKeysCache.clear()
    snapFileKeysCache.computeIfAbsent(ck, _ =>
      dataFilePaths(schema, table, snap).map(fileKey(dir, _)).toSet)
  }

  /** Qualified, scheme-normalized key of the data file at table-relative
    * (or adopted absolute) path `rel`.
    */
  private def fileKey(dir: Path, rel: String): String =
    fs(dir).makeQualified(new Path(dir, rel)).toString.replaceFirst(SchemeNormRe, "/")

  /** Key tuples of an equality-delete file, plus whether the frame is
    * driver-local (broadcastable for free). Small files — the
    * interactive-upsert shape — collect ONCE per immutable file into a
    * LocalRelation (zero storage I/O on later reads). Files past
    * [[SnapshotCatalog.eqDelDriverMaxBytes]] (the streaming-CDC shape:
    * an eq-delete file can carry 10⁷-10⁸ keys at 100 TB) are served as a
    * DISTRIBUTED parquet scan and never touch the driver heap — the
    * size gate runs BEFORE any read, on one FileSystem metadata call.
    */
  private def eqDelKeyDf(dir: Path, e: EqDelete): (DataFrame, Boolean) = {
    val f = fs(dir)
    val p = f.makeQualified(new Path(dir, e.path)).toString
    eqDelKeysLru.get(p) match {
      case Some((sch, rows)) =>
        (spark.createDataFrame(java.util.Arrays.asList(rows: _*), sch), true)
      case None =>
        // gate BEFORE any read: the exact key count recorded at commit
        // time when available, on-disk bytes for legacy commits (bytes
        // undercount compressible keys, hence the count is primary). The
        // legacy byte probe memoizes per immutable path — without it
        // every table read re-pays one FileSystem RPC per legacy file
        val big =
          if (e.rows >= 0) e.rows > SnapshotCatalog.eqDelDriverMaxRows
          else eqDelSizeGate.computeIfAbsent(p, _ => Boolean.box(
            f.getContentSummary(new Path(p)).getLength >
              SnapshotCatalog.eqDelDriverMaxBytes)).booleanValue
        if (big)
          (eqDelBigLru.getOrCreate(p), false)
        else {
          val df = spark.read.parquet(p)
          val r = (df.schema, df.collect())
          // a tiny-on-disk file can still be row-huge (all-duplicate
          // columns compress away): keep the row-count retention guard
          if (r._2.length <= (1 << 20)) eqDelKeysLru.put(p, r)
          (spark.createDataFrame(java.util.Arrays.asList(r._2: _*), r._1), true)
        }
    }
  }

  /** Write `entries` as one or more manifests, each holding at most
    * [[SnapshotCatalog.manifestEntryCap]] entries. A 10⁶-file adoption
    * or a giant insert must not serialize one GB-scale JSON through a
    * single driver buffer — Iceberg shards manifests under a manifest
    * list for exactly this reason, and the list indirection is already
    * here. Nil in, Nil out (callers drop the empty-manifest branch).
    */
  private def writeManifests(dir: Path, entries: Seq[DataFileEntry]): Seq[String] =
    if (entries.isEmpty) Nil
    else entries.grouped(SnapshotCatalog.manifestEntryCap)
      .map(g => writeManifest(dir, g.toSeq)).toSeq

  private def writeManifest(dir: Path, entries: Seq[DataFileEntry]): String = {
    val name = s"m-${java.util.UUID.randomUUID().toString.take(16)}.json"
    val p = new Path(manifestDirPath(dir), name)
    writeString(p, Manifests.toJson(entries))
    manifestCache.put(p.toString, entries)
    name
  }

  private def readManifest(dir: Path, name: String): Seq[DataFileEntry] = {
    val p = new Path(manifestDirPath(dir), name)
    manifestCache.computeIfAbsent(p.toString, _ => Manifests.fromJson(readString(p)))
  }

  private def writeManifestList(dir: Path, names: Seq[String]): String = {
    val name = s"ml-${java.util.UUID.randomUUID().toString.take(16)}.json"
    val p = new Path(manifestDirPath(dir), name)
    writeString(p, manifestListJson(names))
    manifestListCache.put(p.toString, names)
    name
  }

  private def manifestListJson(names: Seq[String]): String = {
    val arr = mapper.createArrayNode()
    names.foreach(arr.add)
    mapper.writeValueAsString(arr)
  }

  /** `_manifests/<prefix>-<digest>.json` holding `json`: equal content,
    * equal name ([[upgradeFormat]] names its manifests and lists so).
    */
  private def writeAddressed(dir: Path, prefix: String, json: String): String = {
    val name = s"$prefix-${digest16(json)}.json"
    val p = new Path(manifestDirPath(dir), name)
    if (!fs(p).exists(p)) writeString(p, json)
    name
  }

  private def readManifestList(dir: Path, name: String): Seq[String] = {
    val p = new Path(manifestDirPath(dir), name)
    manifestListCache.computeIfAbsent(p.toString, _ =>
      mapper.readTree(readString(p)).elements.asScala.map(_.asText).toSeq)
  }

  /** Declared columns (lower-case `declLower` names) whose values ride
    * this file path as hive `col=value` segments. Identity-partitioned
    * layouts keep these values in the path, not the files; `_snap=` tags,
    * derived-transform segments and junk '=' dirs name no declared column.
    */
  private def declaredColumnsInPath(declLower: Set[String], p: String): Iterator[String] =
    p.split('/').dropRight(1).iterator.flatMap { seg =>
      val i = seg.indexOf('=')
      Option.when(i > 0)(seg.substring(0, i).toLowerCase(java.util.Locale.ROOT)).filter(declLower)
    }

  /** Absolute qualified path of a manifest entry's data file. Entries
    * normally carry table-relative paths (first segment = the snap dir);
    * files adopted in place by [[addFiles]] carry absolute scheme-less
    * URI paths, which `Path(parent, child)` keeps as-is (URI-resolution
    * semantics: an absolute child wins, taking the parent's scheme).
    */
  private def entryAbsPath(dir: Path, e: DataFileEntry): Path =
    fs(dir).makeQualified(new Path(dir, e.path))

  /** Scheme-less absolute URI path of an entry — the representation the
    * DML probe's touched-file sets use (`_metadata.file_path` sans
    * scheme). `tableKey` = the table dir's own scheme-less URI path.
    */
  private def entryKey(tableKey: String, e: DataFileEntry): String =
    if (e.path.startsWith("/")) e.path else s"$tableKey/${e.path}"

  /** Every data file a snapshot references, as the entries of its
    * manifests.
    */
  private def manifestEntriesOf(dir: Path, snap: Snapshot): Seq[DataFileEntry] =
    snap.manifestList.toSeq.flatMap(readManifestList(dir, _))
      .flatMap(readManifest(dir, _))

  /** Manifest entries for the data files under a just-written snap dir:
    * one footer read per NEW file (driver-side, proportional to the
    * commit's own output only), capturing record count + column bounds so
    * later metadata queries and DML probes never reopen these footers.
    */
  private def scanEntries(dir: Path, entryRel: String,
                          bloomOverride: Option[Seq[String]] = None): Seq[DataFileEntry] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val tableKey = fs(dir).makeQualified(dir).toUri.getPath
    val statuses = dataFileStatusesUnder(new Path(dir, entryRel))
    val files = statuses.map { case (p, len) =>
      val rel = p.toUri.getPath.stripPrefix(tableKey).stripPrefix("/")
      Manifests.footerEntry(conf, p, rel, len)
    }
    // bloom_filter_columns tables: one column-pruned pass over the NEW
    // files builds per-file equality blooms into the manifest entries —
    // the commit-time cost is bounded by the commit's own data volume,
    // never the table's
    val bloomCols = bloomOverride.getOrElse(bloomColumnsAt(dir))
    if (bloomCols.isEmpty || statuses.isEmpty) files
    else {
      val byPath = Blooms.bloomsFor(spark, statuses.map(_._1.toString), bloomCols,
          files.map(_.rows).max)
        .map { case (k, v) => new Path(k).toUri.getPath -> v }
      files.map { e =>
        e.copy(blooms = byPath.getOrElse(s"$tableKey/${e.path}", Map.empty))
      }
    }
  }

  /** Declared `bloom_filter_columns` of the table at `dir` (empty when
    * the property was never set).
    */
  private def bloomColumnsAt(dir: Path): Seq[String] = {
    val p = new Path(dir, "_bloom_columns.json")
    if (fs(p).exists(p)) readString(p).split("\n").map(_.trim).filter(_.nonEmpty).toSeq
    else Nil
  }

  /** Declared bloom-filter columns (Trino Iceberg
    * `parquet_bloom_filter_columns`; empty when unset).
    */
  def bloomColumns(schema: String, table: String): Seq[String] =
    bloomColumnsAt(tableDir(schema, table))

  /** Carry `prior`'s data files minus `touchedKeys` (scheme-less absolute
    * URI paths) into manifest form. Returns (manifest names referencing
    * every untouched file, the touched files' entries).
    * Manifests with NO touched file carry by NAME — zero bytes rewritten;
    * manifests with touched files have their survivors compacted into one
    * new carry manifest.
    */
  private def carryManifests(schema: String, table: String, prior: Option[Snapshot],
                             touchedKeys: Set[String]): (Seq[String], Seq[DataFileEntry]) = {
    val dir = tableDir(schema, table)
    prior match {
      case None => (Nil, Nil)
      case Some(s) =>
        val mlNames = s.manifestList.toSeq.flatMap(readManifestList(dir, _))
        if (touchedKeys.isEmpty)
          return (compactManifestSet(dir, mlNames), Nil)
        val tableKey = fs(dir).makeQualified(dir).toUri.getPath
        def key(e: DataFileEntry) = entryKey(tableKey, e)
        val carried = Vector.newBuilder[String]
        val survivors = Vector.newBuilder[DataFileEntry]
        val touched = Vector.newBuilder[DataFileEntry]
        mlNames.foreach { n =>
          val (hit, keep) = readManifest(dir, n).partition(e => touchedKeys(key(e)))
          if (hit.isEmpty) carried += n
          else {
            touched ++= hit
            survivors ++= keep
          }
        }
        val surv = survivors.result()
        val names = carried.result() ++
          writeManifests(dir, surv)
        (compactManifestSet(dir, names), touched.result())
    }
  }

  /** Bound the manifest count a snapshot references: past 32, merge the
    * small manifests (< 512 entries) into one. Big manifests keep
    * carrying by reference — the steady state is O(files / 512) + a few
    * recent small ones, so neither the manifest list nor commit-time
    * metadata work grows with commit count (Iceberg's
    * merge-manifests-on-commit behavior).
    */
  private def compactManifestSet(dir: Path, names: Seq[String]): Seq[String] = {
    if (names.size <= 32) return names
    val sized = names.map(n => n -> readManifest(dir, n))
    val (small, big) = sized.partition(_._2.size < 512)
    if (small.size <= 1) names
    else big.map(_._1) ++ writeManifests(dir, small.flatMap(_._2))
  }

  /** The entries of `snap` whose manifest bounds MAY satisfy `cond` —
    * manifest-powered file skipping for the DML probe: a file is dropped
    * only when its per-column min/max PROVE no row can match
    * ([[Manifests.mayMatch]]), so dropped files are exactly the
    * provably-untouched ones. Left when bounds prove NO file can match
    * (caller commits a metadata-only no-op without any scan); Right(None)
    * when no file is dropped or the snapshot predates manifests.
    */
  private def restrictByBounds(schema: String, table: String, snap: Option[Snapshot],
                               cond: Option[org.apache.spark.sql.Column])
    : Either[Unit, Option[Seq[DataFileEntry]]] =
    (snap, cond) match {
      case (Some(s), Some(c)) if s.manifestList.isDefined =>
        val dir = tableDir(schema, table)
        val entries = manifestEntriesOf(dir, s)
        // partition-transform projection (hidden partitioning): a
        // top-level conjunct equality on a transform SOURCE implies an
        // exact derived directory value — `id = 5` on a
        // `bucket(16, id)` table prunes every file outside bucket(5)'s
        // directories, which source min/max bounds alone cannot do (a
        // hash scatters the source range across every bucket)
        val transforms = partitionFields(schema, table).filterNot(_.isIdentity)
        val derivedChecks: Seq[DataFileEntry => Boolean] =
          if (transforms.isEmpty) Nil
          else {
            val declared = declaredSchema(schema, table)
            for {
              (name, v) <- org.apache.spark.sql.GraftBoundsBridge.conjunctEqualities(c)
              f <- transforms if f.source.equalsIgnoreCase(name)
              dt <- declared.flatMap(_.fields.find(_.name.equalsIgnoreCase(f.source)))
                .map(_.dataType).toSeq
              dv <- f.deriveValue(v, dt).toSeq
            } yield (e: DataFileEntry) =>
              Manifests.boundsFor(e, f.derivedName).forall(cb =>
                Manifests.nodeLiteralIn(cb, dv).forall(x =>
                  Manifests.eqContains(cb, x, e)))
          }
        val candidates = entries.filter(e =>
          org.apache.spark.sql.GraftBoundsBridge.mayMatchColumn(c, e) &&
            derivedChecks.forall(_(e)))
        if (candidates.isEmpty && entries.nonEmpty) Left(())
        else if (candidates.size == entries.size) Right(None)
        else Right(Some(candidates))
      case _ => Right(None)
    }

  // ---- Reads (S1, T1) ----

  def readLatest(schema: String, table: String): DataFrame =
    readSnapshot(schema, table, readCommits(schema, table).lastOption)

  /** FOR TIMESTAMP AS OF: max snapshot with committedAt <= tsMillis;
    * earlier than the first commit → empty table at declared schema.
    *
    * Schema follows Iceberg's snapshot-schema time travel: the read
    * presents the schema pinned in the resolved commit (a column added
    * AFTER that snapshot does not appear), while current-table reads
    * always present today's declared schema. Pre-versioning commit logs
    * carry no pinned schema and fall back to the declared one.
    */
  def readAsOf(schema: String, table: String, tsMillis: Long): DataFrame = {
    val snap = readCommits(schema, table)
      .takeWhile(_.committedAtMillis <= tsMillis).lastOption
    readSnapshot(schema, table, snap, useSnapshotSchema = true)
  }

  /** FOR VERSION AS OF: read an exact snapshot by id (Trino's second
    * Iceberg time-travel form). Same snapshot-schema semantics as
    * [[readAsOf]]; a missing id is an error, not an empty table — the
    * user named a specific version.
    */
  def readVersion(schema: String, table: String, snapshotId: Long): DataFrame = {
    val snap = readCommits(schema, table).find(_.snapshotId == snapshotId).getOrElse(
      throw new IllegalArgumentException(
        s"Snapshot $snapshotId does not exist in $schema.$table"))
    readSnapshot(schema, table, Some(snap), useSnapshotSchema = true)
  }

  /** [[readVersion]] conformed to the CURRENT declared schema (missing
    * columns null-filled, types cast) — the incremental-MV join replay
    * needs the table's OLD state expressed in today's shape, exactly as
    * [[appendsBetween]] conforms delta rows. snapshotId 0 names the
    * empty pre-first-commit state (an MV can be created over an empty
    * source).
    */
  def readVersionConformed(schema: String, table: String, snapshotId: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val declared = declaredSchema(schema, table).getOrElse(StructType(Nil))
    val base =
      if (snapshotId == 0L)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], declared)
      else readVersion(schema, table, snapshotId)
    base.select(declared.fields.toIndexedSeq.map { f =>
      if (base.columns.exists(_.equalsIgnoreCase(f.name)))
        col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  private def readSnapshot(schema: String, table: String, snap: Option[Snapshot],
                           useSnapshotSchema: Boolean = false,
                           entriesOverride: Option[Seq[DataFileEntry]] = None): DataFrame =
    readSnapshotMeta(schema, table, snap, useSnapshotSchema,
      keepFile = false, keepPos = false, entriesOverride = entriesOverride)

  /** [[readSnapshot]] plus per-row file provenance: `keepFile` retains the
    * source data file path as `__graft_file` (`_metadata.file_path`),
    * `keepPos` the row's position within that file as `__graft_pos`
    * (`_metadata.row_index`) — the (path, pos) coordinate Iceberg v2
    * positional deletes address rows by. When the snapshot carries delete
    * files, they are subtracted here via a left-anti join on that
    * coordinate BEFORE any caller-visible projection, so every read path —
    * current, time travel, DML probe — sees the merged state. The delete
    * side is a small parquet scan (delete files are bounded by DML
    * selectivity, and `compact`/rewrites fold them away), so Spark's
    * size-based planning broadcasts it: the merge costs no extra shuffle
    * of the data side.
    */
  private def readSnapshotMeta(schema: String, table: String, snap: Option[Snapshot],
                               useSnapshotSchema: Boolean = false,
                               keepFile: Boolean = false,
                               keepPos: Boolean = false,
                               entriesOverride: Option[Seq[DataFileEntry]] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val dir = tableDir(schema, table)
    val base = readSnapshotData(schema, table, snap, useSnapshotSchema, entriesOverride)
    val deletes = snap.map(_.deletes).getOrElse(Nil)
    val eqDels = snap.map(_.eqDeletes).getOrElse(Nil)
    if (deletes.isEmpty && eqDels.isEmpty && !keepFile && !keepPos) base
    else {
      // resolving _metadata throws AnalysisException on an empty table
      // (no file-source relation) — callers requesting provenance catch
      // it; delete-carrying snapshots always reference data files
      val withMeta = base.select(col("*"),
        col("_metadata.file_path").as("__graft_file"),
        col("_metadata.row_index").as("__graft_pos"))
      val merged =
        if (deletes.isEmpty) withMeta
        else {
          val del = spark.read.parquet(deletes.map(d => new Path(dir, d).toString): _*)
          withMeta.join(del,
            withMeta("__graft_file") === del("file_path") &&
              withMeta("__graft_pos") === del("pos"),
            "left_anti")
        }
      // equality deletes (v2 keyed upsert): a row is shadowed when its
      // key tuple appears in an eq-delete file AND its data file belongs
      // to the snapshot the delete applies to — files appended LATER are
      // exempt (Iceberg's sequence-number rule), so re-inserting a
      // deleted key sticks. ALL pending deletes fold into a LINEAR plan:
      // one broadcast map join attaches each row's applicable delete ids
      // (per-file, driver-computed from the appliesTo file sets), then
      // ONE broadcast anti-join per distinct key-column set (normally 1)
      // drops rows whose keys match a delete that covers their file. N
      // pending deletes between compactions therefore cost O(N) driver
      // metadata + a constant number of joins — never a per-delete
      // split/union (which doubled the logical plan per delete).
      // Round-10 rent trims: appliesTo file sets and delete-key rows are
      // content-cached (both immutable per UUID-tagged name), and when
      // every CURRENT file carries the same delete-id list the attach
      // join collapses to a literal array — no per-row file key at all.
      val afterEq =
        if (eqDels.isEmpty) merged
        else {
          import org.apache.spark.sql.functions.{array_contains, broadcast, lit, regexp_replace, typedLit}
          val commits = readCommits(schema, table)
          val appliesSets: Seq[Set[String]] = eqDels.map { e =>
            // fail loud, never resurrect: expireSnapshots protects
            // appliesTo-referenced snapshots, so an unresolvable id means
            // a corrupted/hand-trimmed log — silent Nil would re-expose
            // every shadowed row
            val appliesSnap = commits.find(_.snapshotId == e.appliesTo).getOrElse(
              throw new IllegalStateException(
                s"Equality delete ${e.path} references snapshot ${e.appliesTo}, " +
                  s"which is no longer in the commit log of $schema.$table"))
            snapshotFileKeys(schema, table, appliesSnap)
          }
          val fdMap: Map[String, Seq[Int]] = appliesSets.zipWithIndex
            .flatMap { case (s, i) => s.map(_ -> i) }
            .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
          // coverage classes over the files the read will actually scan:
          // the appliesTo sets may name files long rewritten away, but
          // only CURRENT files produce rows, so they alone decide plan
          // shape (and bound the broadcast side of the attach join)
          val curFiles: Set[String] = entriesOverride match {
            case Some(es) => es.map(e => fileKey(dir, e.path)).toSet
            case None     => snap.map(snapshotFileKeys(schema, table, _)).getOrElse(Set.empty)
          }
          val classes = curFiles.iterator.map(f => fdMap.getOrElse(f, Nil)).toSet
          val antiJoins: DataFrame => DataFrame = df0 =>
            eqDels.zipWithIndex.groupBy(_._1.keys).toSeq.sortBy(_._2.head._2)
              .foldLeft(df0) { case (df, (keys, dels)) =>
                val sides = dels.map { case (e, i) =>
                  val (kdf, local) = eqDelKeyDf(dir, e)
                  (kdf.toDF(keys.map("__graft_eq_" + _): _*)
                    .withColumn("__graft_del_id", lit(i)), local)
                }
                val delKeys = sides.map(_._1).reduce(_ unionByName _)
                // null __graft_dels (file covered by no delete) → null
                // condition → row kept: exemption without a plan split
                val cond = keys.map(k => col(k) <=> col("__graft_eq_" + k))
                  .reduce(_ && _) &&
                  array_contains(col("__graft_dels"), col("__graft_del_id"))
                // driver-local key sets broadcast for free; a group with
                // any past-threshold (distributed) delete file anti-joins
                // by shuffle instead — forcing the broadcast would pull
                // the 10⁷-key CDC shape through the driver after all
                val side =
                  if (sides.forall(_._2)) broadcast(delKeys) else delKeys
                df.join(side, cond, "left_anti")
              }.drop("__graft_fkey", "__graft_dels")
          if (classes.isEmpty || classes == Set(Seq.empty[Int]))
            merged // no current file is covered: every row exempt
          else if (classes.size == 1)
            // uniform coverage (post-rewrite steady states, one delete
            // over the whole table): the per-file attach join degenerates
            // to a constant — skip the file-key column and the join
            antiJoins(merged.withColumn("__graft_dels", typedLit(classes.head)))
          else {
            // BOTH sides of the file match normalize with the SAME regex
            // ('scheme://authority/p' and 'scheme:/p' both → '/…'), so
            // URIs with an authority (hdfs://nn, s3a://bucket) classify
            // identically to authority-less file paths
            val keyed = merged.withColumn("__graft_fkey",
              regexp_replace(col("__graft_file"), SchemeNormRe, "/"))
            val fdDf = {
              import spark.implicits._
              fdMap.toSeq.filter(kv => curFiles.contains(kv._1) && kv._2.nonEmpty)
                .toDF("__graft_fkey2", "__graft_dels")
            }
            antiJoins(keyed.join(broadcast(fdDf),
              keyed("__graft_fkey") === fdDf("__graft_fkey2"), "left")
              .drop("__graft_fkey2"))
          }
        }
      val dropFile = if (keepFile) Nil else Seq("__graft_file")
      val dropPos = if (keepPos) Nil else Seq("__graft_pos")
      afterEq.drop(dropFile ++ dropPos: _*)
    }
  }

  /** Rows of `snap`, or of its `entriesOverride` subset, as one manifest
    * relation ([[org.apache.spark.sql.GraftScanBridge.manifestScan]]):
    * file names, sizes and bounds come from the manifest entries, so
    * planning makes no storage LIST call and pushed-down predicates prune
    * files against the bounds (Iceberg's scan planning). A snapshot with
    * no data file reads as an empty frame at the declared schema.
    */
  private def readSnapshotData(schema: String, table: String, snap: Option[Snapshot],
                               useSnapshotSchema: Boolean = false,
                               entriesOverride: Option[Seq[DataFileEntry]] = None): DataFrame = {
    import org.apache.spark.sql.types.{DataType, StringType}
    val dir = tableDir(schema, table)
    val pinned =
      if (useSnapshotSchema)
        snap.flatMap(_.schemaJson).map(j => DataType.fromJson(j).asInstanceOf[StructType])
      else None
    val entries = entriesOverride.getOrElse(snap.toSeq.flatMap(manifestEntriesOf(dir, _)))
    val decl = pinned.orElse(declaredSchema(schema, table)).getOrElse(
      throw new IllegalStateException(s"Table $schema.$table has no schema"))
    if (entries.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], decl)
    def lower(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    val fieldsP = partitionFields(schema, table)
    // columns whose values come from the path instead of the files: the
    // current spec's identity columns, and any declared column a
    // table-relative entry path names (files written under an older
    // spec, e.g. time travel past a CREATE OR REPLACE that dropped the
    // partitioning). An adopted absolute path carries values only for
    // the current spec: an external dir may look hive-partitioned on a
    // column its files hold
    val declLower = decl.fieldNames.map(lower).toSet
    val pathCols = fieldsP.filter(_.isIdentity).map(f => lower(f.source)).toSet ++
      entries.iterator.filterNot(_.path.startsWith("/"))
        .flatMap(e => declaredColumnsInPath(declLower, e.path))
    val transforms = fieldsP.filterNot(_.isIdentity)
    // derived transform columns (`ts_month=…`) scan as string partition
    // columns and are dropped again — hidden partitioning: the surface
    // shows only the SOURCE columns, which the data files store
    val partCols: Seq[(String, DataType)] =
      decl.fields.toSeq.filter(f => pathCols(lower(f.name))).map(f => f.name -> f.dataType) ++
        transforms.map(_.derivedName -> (StringType: DataType))
    val projection: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        DataFileEntry => Boolean =
      if (transforms.isEmpty) _ => _ => true
      else filters => {
        val checks = for {
          f0 <- filters
          (name, v) <- org.apache.spark.sql.GraftBoundsBridge.conjunctEqualitiesExpr(f0)
          f <- transforms if f.source.equalsIgnoreCase(name)
          dt <- decl.fields.find(_.name.equalsIgnoreCase(f.source)).map(_.dataType).toSeq
          dv <- f.deriveValue(v, dt).toSeq
        } yield (e: DataFileEntry) =>
          Manifests.boundsFor(e, f.derivedName).forall(cb =>
            Manifests.nodeLiteralIn(cb, dv).forall(x =>
              Manifests.eqContains(cb, x, e)))
        e => checks.forall(_(e))
      }
    val scan = org.apache.spark.sql.GraftScanBridge.manifestScan(spark, dir, entries,
      StructType(decl.fields.filterNot(f => pathCols(lower(f.name)))), partCols, projection)
    if (partCols.isEmpty) scan
    else scan.select(decl.fieldNames.toSeq.map(org.apache.spark.sql.functions.col): _*)
  }

  def declaredSchema(schema: String, table: String): Option[StructType] = {
    val p = new Path(tableDir(schema, table), "_table_schema.json")
    if (fs(p).exists(p))
      Some(org.apache.spark.sql.types.DataType.fromJson(readString(p)).asInstanceOf[StructType])
    else None
  }

  def snapshots(schema: String, table: String): Seq[Snapshot] = readCommits(schema, table)

  /** Table-relative paths of every data file `snap` references — manifest
    * entries resolved by name (no listing). The stable metadata view: DML
    * contracts like "this commit rewrote no data file" are asserted
    * against this set, not against the storage-layout internals of
    * `Snapshot`.
    */
  def dataFilePaths(schema: String, table: String, snap: Snapshot): Seq[String] =
    manifestEntriesOf(tableDir(schema, table), snap).map(_.path)

  /** Manifest names `snap` references (empty for a snapshot with no data) —
    * exposes the carry-by-reference contract: an untouched manifest's
    * NAME reappears verbatim in the next snapshot's list.
    */
  def manifestNames(schema: String, table: String, snap: Snapshot): Seq[String] =
    snap.manifestList.toSeq.flatMap(readManifestList(tableDir(schema, table), _))

  /** Data bytes `snap`'s manifests ADD over `prev` — a manifest-NAME
    * diff (carried manifests skip by name), so the cost is proportional
    * to the commit's own new manifests and zero data I/O: the streaming
    * source's byte-based admission control reads this per candidate
    * commit. A commit that also merged small manifests
    * ([[compactManifestSet]]) counts the merged entries as new —
    * overcounting only paces admission more conservatively.
    */
  private[graft] def addedBytes(schema: String, table: String, snap: Snapshot,
                                prev: Option[Snapshot]): Long = {
    val dir = tableDir(schema, table)
    val prevNames = prev.toSeq.flatMap(p =>
      p.manifestList.toSeq.flatMap(readManifestList(dir, _))).toSet
    snap.manifestList.toSeq.flatMap(readManifestList(dir, _))
      .filterNot(prevNames).flatMap(readManifest(dir, _)).map(_.bytes).sum
  }

  /** Manifest entries of a snapshot — the public metadata view (per-file
    * record counts, sizes, column min/max bounds) served without opening
    * any data file.
    */
  def manifestEntries(schema: String, table: String, snap: Snapshot): Seq[DataFileEntry] =
    manifestEntriesOf(tableDir(schema, table), snap)

  // ---- rewrite DML: upsert / delete (Iceberg MERGE INTO / DELETE FROM
  //      equivalents — copy-on-write rewrite commits) ----

  /** MERGE (upsert): rows in `updates` replace current rows with the same
    * `key`; unmatched update rows are inserted. Copy-on-write: the new
    * snapshot references only the rewritten data, so history stays
    * time-travel-consistent and `expireSnapshots` reclaims the old files.
    * One anti-join + union + write — all distributed.
    */
  def merge(schema: String, table: String, updates: DataFrame, key: String,
            txn: Option[(String, Long)] = None): Snapshot = {
    // like Iceberg's MERGE INTO, a source key may match at most once —
    // duplicate update keys would silently corrupt the table's key
    // uniqueness, so they are rejected upfront
    val dups = updates.groupBy(key)
      .count().filter(org.apache.spark.sql.functions.col("count") > 1)
      .limit(1).collect()
    require(dups.isEmpty,
      s"MERGE updates contain duplicate key '${key}'=${dups.headOption.map(_.get(0)).orNull}")
    // touched files = files holding a current row whose key an update row
    // replaces (left-semi probe); untouched files carry by path, and the
    // rewrite reads only touched files (their unmatched rows pass through)
    // plus appends every update row. emitWhenUntouched: an all-new-keys
    // MERGE still inserts.
    rewritePruned(schema, table,
      _.join(updates.select(key), Seq(key), "left_semi"),
      emitWhenUntouched = true, txn = txn) { current =>
      current.join(updates.select(key), Seq(key), "left_anti").unionByName(updates)
    }._1
  }

  /** General ANSI/Trino MERGE INTO: full WHEN-clause semantics over an
    * arbitrary ON condition (the simple key-upsert [[merge]] stays as the
    * client-API shortcut). First-match-wins across clauses; a target row
    * matching MORE than one source row is an error (Trino's cardinality
    * rule); matched rows with no applicable clause pass through; unmatched
    * source rows with no applicable clause are ignored.
    *
    * Execution is one full-outer join on the ON condition (equi-conditions
    * get a shuffled hash/sort-merge join — the scale path; non-equi falls
    * back to BNLJ exactly as engines must) plus per-row CASE projections —
    * no driver-side row handling. The target is stamped with a row id and
    * persisted (MEMORY_AND_DISK) before the join: the id freezes the
    * match-cardinality bookkeeping against recomputation, the same
    * row-tracking trick Delta's MERGE uses; it is released before return.
    *
    * Returns (new snapshot, affected rows = updated + deleted + inserted).
    */
  def mergeInto(schema: String, table: String,
                source: DataFrame, targetAlias: String, sourceAlias: String,
                on: org.apache.spark.sql.Column,
                whenMatched: Seq[MergeAction],
                whenNotMatched: Seq[MergeInsertAction]): (Snapshot, Long) = synchronized {
    import org.apache.spark.sql.functions.{coalesce, col, lit, monotonically_increasing_id, when}
    // the commit log is read BEFORE the target so the optimistic-
    // concurrency check covers the whole read-compute-commit span
    val rc = new RowCommit(schema, table, None)
    whenMatched.foreach {
      case _: MergeInsertAction =>
        throw new IllegalArgumentException("WHEN MATCHED cannot INSERT")
      case _ =>
    }
    // UPDATE SET targets validated up front (same contract as
    // [[updateCounted]]): a bogus column fails analysis even when no row
    // ends up matching the clause
    declaredSchema(schema, table).foreach { declared =>
      whenMatched.foreach {
        case MergeUpdateAction(_, sets) => sets.foreach { case (c, _) =>
          require(declared.fieldNames.exists(_.equalsIgnoreCase(c)),
            s"MERGE UPDATE target column '$c' does not exist in $schema.$table")
        }
        case _ =>
      }
    }
    // target with per-row file provenance (file-pruned CoW, like
    // delete/update); provenance-free states merge as full rewrites.
    // format_version = 2 additionally needs per-row POSITIONS — its MERGE
    // path commits positional deletes instead of rewriting files
    val isV2 = formatVersion(schema, table) == 2
    val (t0, hasProv) = withProvenance(schema, table, rc.current, withPos = isV2) match {
      case Some(p) =>
        val r = p.withColumnRenamed("__graft_file", "__graft_t_file")
        (if (isV2) r.withColumnRenamed("__graft_pos", "__graft_t_pos") else r, true)
      case None => (readSnapshot(schema, table, rc.current)
        .withColumn("__graft_t_file", lit(null).cast("string")), false)
    }
    val fields = t0.schema.fields.toIndexedSeq.filterNot(f =>
      f.name == "__graft_t_file" || f.name == "__graft_t_pos")
    val reserved = Seq("__graft_t_id", "__graft_t_mark", "__graft_s_mark",
      "__graft_aidx", "__graft_t_file", "__graft_file", "__graft_t_pos", "__graft_pos")
    (fields.map(_.name) ++ source.columns).foreach(c =>
      require(!reserved.exists(_.equalsIgnoreCase(c)),
        s"MERGE reserves the column name $c; rename it first"))

    val tgt = t0
      .withColumn("__graft_t_id", monotonically_increasing_id())
      .withColumn("__graft_t_mark", lit(1))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      tgt.count() // materialize: freeze the row ids for the whole merge
      val src = source.withColumn("__graft_s_mark", lit(1))
      val joined = tgt.alias(targetAlias).join(src.alias(sourceAlias), on, "full_outer")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val isMatch = col("__graft_t_mark").isNotNull && col("__graft_s_mark").isNotNull

        val multi = joined.filter(isMatch)
          .groupBy(col("__graft_t_id")).count()
          .filter(col("count") > 1).limit(1).count() > 0
        if (multi) throw new IllegalStateException(
          "MERGE: one target row matched more than one source row " +
            "(the ON condition must identify at most one source row per target row)")

        // first-match-wins clause index, -1 = no clause applies
        def firstIdx(conds: Seq[Option[org.apache.spark.sql.Column]]): org.apache.spark.sql.Column =
          conds.zipWithIndex.reverse.foldLeft(lit(-1)) { case (acc, (c, i)) =>
            when(coalesce(c.getOrElse(lit(true)), lit(false)), lit(i)).otherwise(acc)
          }

        val matchedRows = joined.filter(isMatch)
          .withColumn("__graft_aidx", firstIdx(whenMatched.map {
            case MergeUpdateAction(c, _) => c
            case MergeDeleteAction(c)    => c
            case _: MergeInsertAction    => None // unreachable, validated above
          }))
        val deleteIdxs = whenMatched.zipWithIndex.collect {
          case (_: MergeDeleteAction, i) => i
        }
        val keptMatched =
          if (deleteIdxs.isEmpty) matchedRows
          else matchedRows.filter(!col("__graft_aidx").isin(deleteIdxs: _*))
        // files whose rows a clause actually modifies: only THOSE files get
        // rewritten; rows in every other file are carried by path below.
        // lazy — the MoR path never collects the touched-file list
        lazy val touchedAbs: Seq[String] =
          if (!hasProv) Nil
          else matchedRows.filter(col("__graft_aidx") =!= -1)
            .select(col("__graft_t_file")).distinct()
            .collect().map(_.getString(0)).toSeq
        // restriction to touched files: broadcast semi-join past a small
        // threshold — never an O(files) literal In list in the plan
        def restrictTouched(df: DataFrame): DataFrame =
          if (!hasProv) df
          else fileSetFilter(df, "__graft_t_file", touchedAbs, anti = false)

        /* per-clause UPDATE assignments applied to matched rows (rows
         * whose first-match clause is not an update keep the base value) */
        def applyUpdates(df: DataFrame): DataFrame = df.select(fields.map { f =>
          val base = col(s"$targetAlias.${f.name}")
          whenMatched.zipWithIndex.foldLeft(base) {
            case (acc, (MergeUpdateAction(_, sets), i)) =>
              sets.find(_._1.equalsIgnoreCase(f.name)) match {
                case Some((_, e)) =>
                  when(col("__graft_aidx") === i, e.cast(f.dataType)).otherwise(acc)
                case None => acc
              }
            case (acc, _) => acc
          }.as(f.name)
        }: _*)

        lazy val matchedOut = applyUpdates(restrictTouched(keptMatched))

        lazy val targetOnly = restrictTouched(
          joined.filter(col("__graft_s_mark").isNull &&
            col("__graft_t_mark").isNotNull))
          .select(fields.map(f => col(s"$targetAlias.${f.name}").as(f.name)): _*)

        val srcOnly = joined.filter(col("__graft_t_mark").isNull)
          .withColumn("__graft_aidx", firstIdx(whenNotMatched.map(_.cond)))
          .filter(col("__graft_aidx") =!= -1)
        val insertOut = whenNotMatched.zipWithIndex.map {
          case (MergeInsertAction(_, colsOpt, values), i) =>
            val names = colsOpt.getOrElse(fields.map(_.name))
            require(names.length == values.length,
              s"MERGE INSERT: ${names.length} columns but ${values.length} values")
            names.foreach(n => require(fields.exists(_.name.equalsIgnoreCase(n)),
              s"MERGE INSERT column '$n' does not exist in $schema.$table"))
            val assign = names.map(_.toLowerCase).zip(values).toMap
            srcOnly.filter(col("__graft_aidx") === i).select(fields.map { f =>
              assign.get(f.name.toLowerCase)
                .map(_.cast(f.dataType))
                .getOrElse(lit(null).cast(f.dataType)).as(f.name)
            }: _*)
        }.reduceOption(_.unionByName(_))

        val affected =
          matchedRows.filter(col("__graft_aidx") =!= -1).count() + srcOnly.count()
        lazy val merged = insertOut.foldLeft(matchedOut.unionByName(targetOnly))(_.unionByName(_))

        val snap =
          if (hasProv && affected == 0L) rc.noOp() // no clause fired, nothing inserted
          else if (isV2 && hasProv) {
            // merge-on-read MERGE: every matched row a clause modifies
            // becomes a positional-delete coordinate; updated versions and
            // inserted rows append. NO existing data file is rewritten
            val updateIdxs = whenMatched.zipWithIndex.collect {
              case (_: MergeUpdateAction, i) => i
            }
            val updatedOut =
              if (updateIdxs.isEmpty) None
              else Some(applyUpdates(
                matchedRows.filter(col("__graft_aidx").isin(updateIdxs: _*))))
            morTail(rc, matchedRows.filter(col("__graft_aidx") =!= -1)
                .select(col("__graft_t_file").as("file_path"), col("__graft_t_pos").as("pos")),
              dropKeys = Set.empty, pureDelete = false) { _ =>
              (updatedOut.toSeq ++ insertOut.toSeq).reduceOption(_.unionByName(_))
            }._1
          } else cowTail(rc, touchedAbs.map(p => new Path(p).toUri.getPath).toSet,
            Option.when(hasProv)(touchedAbs))(_ => Some(merged))
        (snap, affected)
      } finally joined.unpersist()
    } finally tgt.unpersist()
  }

  /** DELETE FROM … WHERE cond (rows matching `cond` removed). SQL
    * three-valued logic: only rows where cond is TRUE are deleted — a
    * NULL-valued predicate keeps the row (plain `filter(!cond)` would
    * drop it, since !NULL is NULL and filter discards NULLs).
    * File-pruned copy-on-write: see [[rewritePruned]].
    */
  def delete(schema: String, table: String, cond: org.apache.spark.sql.Column): Snapshot =
    deleteCounted(schema, table, cond)._1

  /** [[delete]] that also reports the removed-row count, counted INSIDE
    * the same synchronized section as the rewrite so a concurrent commit
    * cannot slip between the count and the delete (the count+delete pair
    * in the engine's DELETE/TRUNCATE was not atomic — round-5 advice).
    * The count rides the same probe scan that finds the touched files —
    * one predicate-column pass, no second job.
    */
  def deleteCounted(schema: String, table: String,
                    cond: org.apache.spark.sql.Column): (Snapshot, Long) = {
    val hit = org.apache.spark.sql.functions.coalesce(
      cond, org.apache.spark.sql.functions.lit(false))
    rowLevel(schema, table, hit, None)(_.filter(!hit))
  }

  /** DELETE (`setsOpt` None) or UPDATE of the rows where `hit` holds:
    * merge-on-read ([[morRowLevel]]) on a `format_version = 2` table
    * whose state has per-row provenance, otherwise file-pruned
    * copy-on-write ([[rewritePruned]]) rewriting touched files through `f`.
    */
  private def rowLevel(schema: String, table: String, hit: org.apache.spark.sql.Column,
                       setsOpt: Option[Seq[(String, org.apache.spark.sql.Column)]])
                      (f: DataFrame => DataFrame): (Snapshot, Long) =
    (if (formatVersion(schema, table) == 2) morRowLevel(schema, table, hit, setsOpt) else None)
      .getOrElse(rewritePruned(schema, table, _.filter(hit), probeCond = Some(hit),
        dropFullyCovered = setsOpt.isEmpty)(f))

  /** TRUNCATE TABLE: a METADATA-ONLY commit. The new snapshot references
    * no data files (a snapshot with no manifest list reads as the empty
    * table at the declared schema), and the removed-row count is the
    * parquet-footer record-count sum over the current snapshot's files —
    * no data is read or written, whatever the table size. The pre-truncate snapshot stays
    * time-travel-visible exactly like any copy-on-write DML commit.
    */
  def truncateCounted(schema: String, table: String): (Snapshot, Long) = synchronized {
    require(tableExists(schema, table), s"Table $schema.$table does not exist")
    val dir = tableDir(schema, table)
    // ONE (commits, gen) read up front: the removed-row count and the
    // truncated snapshot derive from the SAME observed state, so a commit
    // landing from another process mid-truncate either loses the
    // generation race (CommitConflictException) or happened entirely
    // before — never a count from one snapshot and a truncate of another
    // (round-7 advice)
    val (commits, gen) = readCommitsWithGen(schema, table)
    val last = commits.lastOption
    // merge-on-read: live rows = data footer rows minus positional-delete
    // rows (exact because every delete row references a live file and no
    // (file, pos) repeats — the carryDeletes/morRowLevel invariant)
    val delRows = last
      .map(_.deletes.map(d => parquetFooterRows(new Path(dir, d))).sum).getOrElse(0L)
    // pending EQUALITY deletes make the footer arithmetic an
    // over-count (shadowed rows are decided by key joins, not
    // coordinates) — pay one counting scan in that case only
    val n =
      if (last.exists(_.eqDeletes.nonEmpty))
        readSnapshot(schema, table, last).count()
      else filesOfSnapshot(schema, table, last).map(_._3).sum - delRows
    val (id, at) = nextCommit(last)
    val snap = Snapshot(id, at,
      declaredSchema(schema, table).map(_.json), Some("overwrite"))
    writeCommits(schema, table, commits :+ snap, gen)
    (snap, n)
  }

  /** [[update]] reporting the hit-row count from the same synchronized
    * section (see [[deleteCounted]]).
    */
  def updateCounted(schema: String, table: String,
                    sets: Seq[(String, org.apache.spark.sql.Column)],
                    cond: org.apache.spark.sql.Column): (Snapshot, Long) = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    // SET-target validation happens BEFORE any zero-match short-circuit:
    // `UPDATE t SET bogus = 1 WHERE false` must fail analysis (as Trino
    // does), not silently commit a no-op (round-7 advice) — the rewrite
    // paths only reach their own checks when rows match
    require(tableExists(schema, table), s"Table $schema.$table does not exist")
    declaredSchema(schema, table).foreach { declared =>
      sets.foreach { case (c, _) =>
        require(declared.fieldNames.exists(_.equalsIgnoreCase(c)),
          s"UPDATE target column '$c' does not exist in $schema.$table")
      }
    }
    val hit = coalesce(cond, lit(false))
    rowLevel(schema, table, hit, Some(sets)) { current =>
      sets.foreach { case (c, _) =>
        require(current.columns.exists(_.equalsIgnoreCase(c)),
          s"UPDATE target column '$c' does not exist in $schema.$table")
      }
      current.select(current.schema.fields.map { f =>
        sets.find(_._1.equalsIgnoreCase(f.name)) match {
          case Some((_, e)) =>
            when(hit, e.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }.toIndexedSeq: _*)
    }
  }

  /** UPDATE … SET … WHERE cond: rows where cond is TRUE get the assigned
    * values (computed from the PRE-update row — simultaneous-assignment
    * SQL semantics, so `SET a = b, b = a` swaps); all other rows —
    * including NULL-valued predicates, per 3VL — pass through unchanged.
    * Assigned expressions are cast to the column's existing type so the
    * table schema is stable under any UPDATE. Copy-on-write commit like
    * [[delete]].
    */
  def update(schema: String, table: String,
             sets: Seq[(String, org.apache.spark.sql.Column)],
             cond: org.apache.spark.sql.Column): Snapshot =
    updateCounted(schema, table, sets, cond)._1

  // ---- merge-on-read DML (format_version = 2): positional deletes ----

  /** Merge-on-read row-level DML (Iceberg v2 semantics — Trino's
    * `format_version = 2` default delete mode): instead of rewriting the
    * data files that contain matching rows, commit a small POSITIONAL
    * DELETE file of (file_path, pos) coordinates; for UPDATE additionally
    * append the new row versions as a regular data dir (delete-old +
    * append-new, Iceberg's MoR update shape). A 1-row DELETE on a 100 TB
    * table writes a 1-row parquet file and touches no data file; reads
    * subtract the delete set via a broadcast anti-join
    * ([[readSnapshotMeta]]). The write amplification trade vs
    * copy-on-write: O(matched rows) written per commit instead of
    * O(touched files), at the price of a (broadcast) merge per read until
    * `compact` folds the deletes away.
    *
    * `setsOpt` = None → DELETE, Some(sets) → UPDATE. Returns None when the
    * current state exposes no per-row provenance (empty table) — the
    * caller falls back to copy-on-write, which handles that trivially. The touched-row count comes from the delete file's own
    * parquet footers — no second scan of the data.
    */
  private def morRowLevel(schema: String, table: String,
                          hit: org.apache.spark.sql.Column,
                          setsOpt: Option[Seq[(String, org.apache.spark.sql.Column)]])
    : Option[(Snapshot, Long)] = synchronized {
    import org.apache.spark.sql.functions.col
    val rc = new RowCommit(schema, table, None)
    val scope = boundsTier(rc, Some(hit), delete = setsOpt.isEmpty, coveredOp = "delete") match {
      case Left(done) => return Some(done)
      case Right(sc)  => sc
    }
    val matched = withProvenance(schema, table, rc.current, withPos = true,
        entriesOverride = scope.entries) match {
      case None    => return None // CoW fallback re-derives the drop set
      case Some(p) => p.filter(hit)
    }
    // UPDATE reads `matched` twice (delete coordinates + new versions) —
    // persist freezes one probe scan for both
    if (setsOpt.isDefined)
      matched.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (snap, n) = morTail(rc,
          matched.select(col("__graft_file").as("file_path"), col("__graft_pos").as("pos")),
          scope.mustKeys, pureDelete = setsOpt.isEmpty) { n =>
        setsOpt.filter(_ => n > 0L).map { sets =>
          val dataFields = matched.schema.fields.toIndexedSeq
            .filterNot(f => f.name == "__graft_file" || f.name == "__graft_pos")
          sets.foreach { case (c, _) =>
            require(dataFields.exists(_.name.equalsIgnoreCase(c)),
              s"UPDATE target column '$c' does not exist in $schema.$table")
          }
          // every row here matched the predicate — assignments apply
          // unconditionally, from PRE-update values (simultaneous-
          // assignment SQL semantics, same as the CoW path)
          matched.select(dataFields.map { f =>
            sets.find(_._1.equalsIgnoreCase(f.name)) match {
              case Some((_, e)) => e.cast(f.dataType).as(f.name)
              case None         => col(f.name)
            }
          }: _*)
        }
      }
      Some((snap, n + scope.mustRows))
    } finally if (setsOpt.isDefined) matched.unpersist()
  }

  /** Sum of parquet footer record counts under `p` — driver-side metadata
    * read proportional to file count, no data scan.
    */
  private def parquetFooterRows(p: Path): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    dataFilesUnder(p).map { f =>
      org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        conf, f, org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
        .getBlocks.asScala.map(_.getRowCount).sum
    }.sum
  }

  /** Deletes list for a snapshot that rewrites the `touchedRaw` data files
    * (raw `_metadata.file_path` strings) and carries the rest: delete rows
    * addressing a rewritten file are obsolete (the rewrite already
    * materialized their effect), so survivors are compacted into one fresh
    * delete dir. Maintains the invariant that every delete row references
    * a data file of the snapshot and every (file, pos) appears at most
    * once — what makes footer arithmetic ([[truncateCounted]]) exact.
    */
  private def carryDeletes(dir: Path, prevDeletes: Seq[String],
                           touchedRaw: Seq[String], tag: String): Seq[String] = {
    if (prevDeletes.isEmpty) return Nil
    if (touchedRaw.isEmpty) return prevDeletes
    val del = spark.read.parquet(prevDeletes.map(d => new Path(dir, d).toString): _*)
    writeDeleteFile(dir, fileSetFilter(del, "file_path", touchedRaw, anti = true), tag)._1.toSeq
  }

  /** Writes `coords` — (file_path, pos) rows — as the positional-delete
    * dir `delete-<tag>`. Range-partitioned by coordinate: AQE folds a
    * small delete set into one output file; a huge one splits sorted by
    * file, keeping per-commit file counts bounded at any selectivity.
    * Returns (the dir, or None when it came out empty and was removed
    * again; its row count from the footers).
    */
  private def writeDeleteFile(dir: Path, coords: DataFrame, tag: String): (Option[String], Long) = {
    import org.apache.spark.sql.functions.col
    val delDir = s"delete-$tag"
    val p = new Path(dir, delDir)
    coords.repartitionByRange(col("file_path"), col("pos"))
      .write.mode("errorifexists").parquet(p.toString)
    val n = parquetFooterRows(p)
    if (n == 0L) fs(dir).delete(p, true)
    (Option.when(n > 0L)(delDir), n)
  }

  /** Restrict `df` by membership of `fileCol` in `files`: tiny sets
    * inline as an IN list; larger ones become a BROADCAST hash semi/anti
    * join, so the plan never carries an O(files) literal list (a broad
    * MERGE touching 10⁴-10⁵ files would otherwise build an In expression
    * with that many children — driver memory + analysis time, round-7
    * advice). `files.isEmpty` with `anti` keeps everything; without,
    * keeps nothing.
    */
  private[catalog] def fileSetFilter(df: DataFrame, fileCol: String,
                                     files: Seq[String], anti: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    if (files.isEmpty) return if (anti) df else df.filter(lit(false))
    if (files.size <= 16) {
      val in = col(fileCol).isin(files: _*)
      df.filter(if (anti) !in else in)
    } else {
      val setCol = "__graft_file_set"
      val fdf = spark.createDataset(files)(org.apache.spark.sql.Encoders.STRING)
        .toDF(setCol)
      df.join(broadcast(fdf), col(fileCol) === col(setCol),
        if (anti) "left_anti" else "left_semi")
    }
  }

  // ---- row-level commit core: DELETE, UPDATE and MERGE ----

  /** Current state of `snap` with a `__graft_file` provenance column — the
    * absolute data-file path each row came from, via Spark's
    * `_metadata.file_path` column (resolvable through the projection the
    * snapshot read applies). None for an empty table, which has no
    * file-source relation: callers fall back to whole-table rewrites.
    */
  private def withProvenance(schema: String, table: String,
                             snap: Option[Snapshot],
                             withPos: Boolean = false,
                             entriesOverride: Option[Seq[DataFileEntry]] = None)
    : Option[DataFrame] =
    try Some(readSnapshotMeta(schema, table, snap,
      keepFile = true, keepPos = withPos, entriesOverride = entriesOverride))
    catch { case _: org.apache.spark.sql.AnalysisException => None }

  /** Non-empty `.parquet` files under `p` (`p` itself when it names
    * one). Driver-side metadata listing, proportional to file count.
    */
  private def dataFilesUnder(p: Path): Seq[Path] =
    dataFileStatusesUnder(p).map(_._1)

  /** Non-empty `.parquet` files under `p` with their byte sizes. The walk
    * uses plain `listStatus`: `listFiles(p, true)` yields
    * LocatedFileStatus, whose CONSTRUCTOR eagerly loads the POSIX
    * permission — on the stock local filesystem without libhadoop that
    * is a forked `ls` PER FILE (profiled: the dominant remaining
    * driver-side fork source in every commit's footer scan). Plain
    * FileStatus loads permissions lazily and nothing here reads them,
    * so the walk is pure stat calls on any filesystem.
    */
  private def dataFileStatusesUnder(p: Path): Seq[(Path, Long)] = {
    val f = fs(p)
    val root = try f.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException => return Nil }
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Path, Long)]
    def walk(st: org.apache.hadoop.fs.FileStatus): Unit =
      if (st.isDirectory) f.listStatus(st.getPath).foreach(walk)
      else if (st.getPath.getName.endsWith(".parquet") && st.getLen > 0)
        buf += ((st.getPath, st.getLen))
    walk(root)
    buf.toSeq
  }

  /** The state one row-level commit (DELETE, UPDATE, MERGE) builds on,
    * observed once up front: the commit log and its generation, so the
    * optimistic-concurrency check covers the whole read-compute-commit
    * span; the `txn` skip witness (same contract as [[insert]]'s txn);
    * the next id; the declared schema; the pending deletes. The commit
    * time is read when the commit is written, so `FOR TIMESTAMP AS OF` a
    * time during a long rewrite reads the same state before and after.
    */
  private final class RowCommit(val schema: String, val table: String,
                                txn: Option[(String, Long)]) {
    require(tableExists(schema, table), s"Table $schema.$table does not exist")
    val dir: Path = tableDir(schema, table)
    val tableKey: String = fs(dir).makeQualified(dir).toUri.getPath
    private val (commits, gen) = readCommitsWithGen(schema, table)
    val current: Option[Snapshot] = commits.lastOption
    val seen: Option[Snapshot] = txn.flatMap { case (app, v) => txnSeen(commits, app, v) }
    val id: Long = nextCommit(current)._1
    private val schemaJson = declaredSchema(schema, table).map(_.json)
    val prevDeletes: Seq[String] = current.fold(Seq.empty[String])(_.deletes)
    val prevEq: Seq[EqDelete] = current.fold(Seq.empty[EqDelete])(_.eqDeletes)

    /** Commits the next snapshot. Equality deletes carry verbatim: files
      * a commit adds are exempt from them (`appliesTo`), untouched files
      * stay covered.
      */
    def commit(op: String, deletes: Seq[String], manifestList: Option[String]): Snapshot = {
      val snap = Snapshot(id, nextCommit(current)._2, schemaJson, Some(op), deletes,
        manifestList, txn, prevEq)
      writeCommits(schema, table, commits :+ snap, gen)
      snap
    }

    /** Commits the current data files, carried by reference, with `deletes`. */
    def keepFiles(op: String, deletes: Seq[String]): Snapshot =
      commit(op, deletes, current.flatMap(_.manifestList))

    /** Commits the current state unchanged: a metadata-only no-op. */
    def noOp(): Snapshot = keepFiles("overwrite", prevDeletes)
  }

  /** What a row-level probe scans after the bounds tier: the current
    * snapshot's manifest entries when restricted; a delete's `candidates`;
    * and the files bounds prove fully covered (`mustKeys`, `mustRows`
    * rows), which leave by manifest without a probe.
    */
  private final class ProbeScope(val entries: Option[Seq[DataFileEntry]],
                                 val candidates: Seq[DataFileEntry],
                                 val mustKeys: Set[String], val mustRows: Long)

  /** Manifest-bounds tier of a row-level commit: the probe scans only
    * files whose bounds MAY match `cond`, and when bounds prove no file
    * can, the no-op commits without any Spark job. A `delete` over a
    * state with no pending deletes (live rows = manifest rows) lists its
    * candidate files, and those whose bounds prove EVERY row matches skip
    * the probe and leave by manifest; when that covers every candidate,
    * the metadata delete commits as `coveredOp` — a retention DELETE
    * aligned with file ranges runs ZERO Spark jobs. Left = committed
    * (snapshot, rows removed).
    */
  private def boundsTier(rc: RowCommit, cond: Option[org.apache.spark.sql.Column],
                         delete: Boolean, coveredOp: String)
    : Either[(Snapshot, Long), ProbeScope] = {
    val entries0 = restrictByBounds(rc.schema, rc.table, rc.current, cond) match {
      case Left(())  => return Left((rc.noOp(), 0L))
      case Right(es) => es
    }
    val candidates: Seq[DataFileEntry] =
      if (!delete || cond.isEmpty || rc.prevDeletes.nonEmpty || rc.prevEq.nonEmpty) Nil
      else entries0.getOrElse(rc.current.toSeq.flatMap(manifestEntriesOf(rc.dir, _)))
    val must = candidates.filter(e =>
      org.apache.spark.sql.GraftBoundsBridge.mustMatchColumn(cond.get, e))
    val mustKeys = must.map(e => entryKey(rc.tableKey, e)).toSet
    val mustRows = must.iterator.map(_.rows).sum
    val maybe = candidates.filterNot(e => mustKeys.contains(entryKey(rc.tableKey, e)))
    if (mustKeys.isEmpty) Right(new ProbeScope(entries0, candidates, mustKeys, 0L))
    else if (maybe.isEmpty)
      Left((rc.commit(coveredOp, Nil, manifestListWith(rc, carryExcept(rc, mustKeys)._1, None)),
        mustRows))
    else Right(new ProbeScope(Some(maybe), candidates, mustKeys, mustRows))
  }

  /** [[carryManifests]] of the commit's current state minus `keys`, every
    * one of which must name a current data file. Returns (carried
    * manifest names, the entries of the `keys` files).
    */
  private def carryExcept(rc: RowCommit, keys: Set[String]): (Seq[String], Seq[DataFileEntry]) = {
    val (carried, touched) = carryManifests(rc.schema, rc.table, rc.current, keys)
    require(touched.size == keys.size,
      s"file-pruning provenance mismatch on ${rc.schema}.${rc.table}: " +
        s"${keys.size} touched files, ${touched.size} matched under current snapshot entries")
    (carried, touched)
  }

  /** Manifest list of the `carried` manifests plus, when `data` is given,
    * those of `data` written as the commit's rewrite dir.
    */
  private def manifestListWith(rc: RowCommit, carried: Seq[String],
                               data: Option[DataFrame]): Option[String] = {
    val added = data.toSeq.flatMap { df =>
      val snapDir = snapDirName(rc.schema, rc.table, s"${attemptTag(rc.id)}-rewrite")
      writeData(rc.schema, rc.table, df, rc.dir, snapDir)
      writeManifests(rc.dir, scanEntries(rc.dir, snapDir))
    }
    Some(writeManifestList(rc.dir, compactManifestSet(rc.dir, carried ++ added)))
  }

  /** Copy-on-write commit tail: carries every current data file outside
    * `touchedKeys` by manifest, writes what `rewrite` makes of the touched
    * files (their entries) as the new data, drops the
    * positional deletes addressing the `touchedRaw` files, and commits an
    * "overwrite". `rewrite` returning None commits the carry alone (a
    * metadata delete). `touchedRaw = None` means no per-row provenance:
    * the whole table is rewritten and its pending deletes materialized.
    */
  private def cowTail(rc: RowCommit, touchedKeys: Set[String], touchedRaw: Option[Seq[String]])
                     (rewrite: Seq[DataFileEntry] => Option[DataFrame]): Snapshot = {
    val (carried, touched) =
      if (touchedRaw.isEmpty) (Nil, Nil) else carryExcept(rc, touchedKeys)
    val ml = manifestListWith(rc, carried, rewrite(touched))
    val deletes = touchedRaw.fold(Seq.empty[String])(
      carryDeletes(rc.dir, rc.prevDeletes, _, s"${attemptTag(rc.id)}-carry"))
    rc.commit("overwrite", deletes, ml)
  }

  /** Merge-on-read commit tail (Iceberg v2 row-level semantics): `coords`
    * — the (file_path, pos) of every row the statement removes or
    * replaces — become one positional-delete file, dropped again when it
    * comes out empty; `append(delete rows)` (new row versions, inserts),
    * if any, is appended as a data dir. No data file is rewritten; the
    * bounds-covered `dropKeys` files leave by manifest. A `pureDelete`
    * that removes rows records "delete", every other commit "overwrite".
    * Returns (snapshot, delete rows written).
    */
  private def morTail(rc: RowCommit, coords: DataFrame, dropKeys: Set[String],
                      pureDelete: Boolean)
                     (append: Long => Option[DataFrame]): (Snapshot, Long) = {
    val (delDir, n) = writeDeleteFile(rc.dir, coords, attemptTag(rc.id))
    val deletes = rc.prevDeletes ++ delDir
    val data = append(n)
    val op = if (pureDelete && (n > 0L || dropKeys.nonEmpty)) "delete" else "overwrite"
    val snap =
      if (data.isEmpty && dropKeys.isEmpty) rc.keepFiles(op, deletes)
      else rc.commit(op, deletes, manifestListWith(rc, carryExcept(rc, dropKeys)._1, data))
    (snap, n)
  }

  /** File-pruned copy-on-write commit — Trino Iceberg CoW semantics
    * (trino.io/docs/current/connector/iceberg.html): `touchedRows` narrows
    * the current state (carrying its `__graft_file` provenance column) to
    * the rows the DML modifies; only the files those rows live in are
    * re-read and rewritten through `f`, while every other data file of the
    * current snapshot is carried into the new snapshot BY PATH — a
    * metadata-only move. A 1-row DELETE on a 100 TB table rewrites one
    * file, not 100 TB: the probe scan reads only the predicate's columns
    * (column pruning) with parquet footer stats skipping non-matching row
    * groups, and the rewrite reads only the touched files.
    *
    * Returns (snapshot, touched-row count — the probe's matched rows,
    * counted in the same pass that finds the files, atomically inside the
    * commit's synchronized section). `emitWhenUntouched` forces the
    * rewritten-data write even when no current row is touched — required
    * by MERGE, whose `f` can introduce rows (inserts) with zero matches;
    * DELETE/UPDATE leave it false and commit metadata-only no-ops.
    * Falls back to the whole-table rewrite when no per-file provenance is
    * available (empty table).
    *
    * `dropFullyCovered` (DELETE only — `f` must REMOVE matched rows for
    * this to be sound): a touched file whose manifest record count equals
    * its matched-row count has NO surviving row — it is dropped from the
    * manifests without being read or rewritten (Iceberg's metadata
    * delete). `DELETE WHERE ts < X` on a time-ordered 100 TB table then
    * rewrites only the boundary files; interior files leave by metadata,
    * and a partition-aligned retention delete is a pure metadata commit.
    * Gated off when the snapshot carries positional/equality deletes
    * (live rows < manifest rows — coverage unprovable from metadata).
    */
  private def rewritePruned(schema: String, table: String,
                            touchedRows: DataFrame => DataFrame,
                            emitWhenUntouched: Boolean = false,
                            probeCond: Option[org.apache.spark.sql.Column] = None,
                            txn: Option[(String, Long)] = None,
                            dropFullyCovered: Boolean = false)
                           (f: DataFrame => DataFrame): (Snapshot, Long) = synchronized {
    import org.apache.spark.sql.functions.{col, lit, count => countAgg}
    val rc = new RowCommit(schema, table, txn)
    for (s <- rc.seen) return (s, 0L)
    // an emitting rewrite (MERGE's inserts) runs even when bounds rule
    // out every file, so only a non-emitting one gets the bounds no-op
    val scope = boundsTier(rc, probeCond.filterNot(_ => emitWhenUntouched),
        delete = dropFullyCovered, coveredOp = "overwrite") match {
      case Left(done) => return done
      case Right(sc)  => sc
    }
    withProvenance(schema, table, rc.current, entriesOverride = scope.entries) match {
      case None =>
        // no per-row provenance: whole-table rewrite of the FULL current
        // state (ignore any bounds-must split — correctness first)
        val base = readSnapshot(schema, table, rc.current)
        val n = touchedRows(
          base.withColumn("__graft_file", lit(null).cast("string"))).count()
        (cowTail(rc, Set.empty, None)(_ => Some(f(base))), n)
      case Some(prov) =>
        // ONE probe pass: touched files AND matched-row counts together
        val perFile = touchedRows(prov)
          .groupBy(col("__graft_file")).agg(countAgg(lit(1)).as("n")).collect()
        val nTouched = perFile.map(_.getLong(1)).sum + scope.mustRows
        val probedRaw = perFile.map(_.getString(0)).toSeq
        val probedKeys = probedRaw.map(p => new Path(p).toUri.getPath).toSet
        val touchedKeys = probedKeys ++ scope.mustKeys
        if (touchedKeys.isEmpty && !emitWhenUntouched) return (rc.noOp(), 0L)
        // metadata delete, count tier: a probed file whose matched-row
        // count equals its manifest record count is fully covered too
        // (catches totality the bounds alone cannot prove) — the count
        // rides the probe pass, so this tier costs nothing extra
        val entriesByKey: Map[String, Long] =
          scope.candidates.map(e => entryKey(rc.tableKey, e) -> e.rows).toMap
        val matchedByKey: Map[String, Long] = perFile.map(r =>
          new Path(r.getString(0)).toUri.getPath -> r.getLong(1)).toMap
        val dropKeys = scope.mustKeys ++ probedKeys.filter(k =>
          entriesByKey.get(k).contains(matchedByKey(k)))
        // candidates are only listed for a delete with no pending deletes,
        // so passing only the probed raw paths to the delete-carry is complete
        (cowTail(rc, touchedKeys, Some(probedRaw)) { touched =>
          // EVERY touched file fully covered: pure metadata commit — zero
          // data bytes read or written, whatever volume left
          if ((touchedKeys -- dropKeys).isEmpty && !emitWhenUntouched) None
          // the sub-read applies the snapshot's delete files, so the
          // touched rows are the LIVE rows
          else Some(f(readSnapshot(schema, table, rc.current, entriesOverride =
            Some(touched.filterNot(e => dropKeys.contains(entryKey(rc.tableKey, e)))))))
        }, nTouched)
    }
  }

  // ---- catalog introspection (Trino SHOW SCHEMAS / SHOW TABLES /
  //      DESCRIBE client surface) ----

  /** Schemas under the warehouse (names only — a schema is a directory,
    * with or without a custom-location marker).
    */
  def listSchemas(): Seq[String] = {
    val root = new Path(warehouse)
    val f = fs(root)
    if (!f.exists(root)) return Nil
    f.listStatus(root).filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(_.startsWith("_")) // catalog-internal dirs (_catalog_refs)
      .sorted.toSeq
  }

  /** DROP SCHEMA: RESTRICT (default) refuses a non-empty schema — the
    * ANSI/Trino contract that keeps a typo from deleting a warehouse —
    * while CASCADE removes the schema with every table and view under it.
    * Both the physical location and the warehouse marker dir go away.
    */
  def dropSchema(schema: String, cascade: Boolean = false): Unit = synchronized {
    require(schemaExists(schema), s"Schema $schema does not exist")
    if (!cascade)
      require(listTables(schema).isEmpty && listViews(schema).isEmpty,
        s"Schema $schema is not empty (use CASCADE to drop its tables and views)")
    val loc = schemaLocation(schema)
    fs(loc).delete(loc, true)
    val marker = new Path(s"$warehouse/$schema")
    fs(marker).delete(marker, true)
    locationCache.remove(schema)
  }

  /** Tables of a schema: directories holding a commits.json. Views are
    * NOT listed here — [[listViews]] owns those (same split as Trino's
    * SHOW TABLES vs information_schema.views).
    */
  def listTables(schema: String): Seq[String] = {
    val dir = schemaLocation(schema)
    val f = fs(dir)
    if (!f.exists(dir)) return Nil
    f.listStatus(dir).filter(_.isDirectory).map(_.getPath.getName)
      .filter(t => tableExists(schema, t)).sorted.toSeq
  }

  // ---- comments (Trino COMMENT ON TABLE/COLUMN; `_comments.json`) ----

  private def commentsPath(schema: String, table: String) =
    new Path(tableDir(schema, table), "_comments.json")

  /** Set or clear (None) the table comment or a column's comment. */
  def setComment(schema: String, table: String, column: Option[String],
                 comment: Option[String]): Unit = synchronized {
    require(tableExists(schema, table), s"Table $schema.$table does not exist")
    column.foreach(c => require(
      declaredSchema(schema, table).exists(_.fieldNames.exists(_.equalsIgnoreCase(c))),
      s"Column $c does not exist in $schema.$table"))
    val (tblC, colC) = comments(schema, table)
    val (newTbl, newCols) = column match {
      case None => (comment, colC)
      case Some(c) =>
        (tblC, comment match {
          case Some(v) => colC + (c.toLowerCase -> v)
          case None => colC - c.toLowerCase
        })
    }
    val o = mapper.createObjectNode()
    newTbl.foreach(o.put("table", _))
    val cn = o.putObject("columns")
    newCols.foreach { case (k, v) => cn.put(k, v) }
    writeString(commentsPath(schema, table), mapper.writeValueAsString(o))
  }

  /** (table comment, column comments keyed by lowercase name). */
  def comments(schema: String, table: String): (Option[String], Map[String, String]) = {
    val p = commentsPath(schema, table)
    if (!fs(p).exists(p)) return (None, Map.empty)
    val root = mapper.readTree(readString(p))
    val tbl = Option(root.get("table")).filterNot(_.isNull).map(_.asText)
    val cols = Option(root.get("columns")).map { cn =>
      cn.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
    }.getOrElse(Map.empty[String, String])
    (tbl, cols)
  }

  // ---- views (logical, SQL-text persisted — Trino CREATE VIEW) ----

  private def viewPath(schema: String, view: String) =
    new Path(schemaLocation(schema), s"_view_$view.sql")

  /** CREATE [OR REPLACE] VIEW: persist the defining SQL text; expansion
    * happens at query time against the then-current table state (Trino's
    * run-time-expanded view semantics, not a materialization).
    */
  def createView(schema: String, view: String, selectSql: String,
                 orReplace: Boolean = false): Unit = synchronized {
    require(!tableExists(schema, view),
      s"Cannot create view $schema.$view: a table with that name exists")
    val p = viewPath(schema, view)
    if (fs(p).exists(p) && !orReplace)
      throw new IllegalStateException(s"View $schema.$view already exists")
    writeString(p, selectSql)
  }

  def viewExists(schema: String, view: String): Boolean = {
    val p = viewPath(schema, view)
    fs(p).exists(p)
  }

  /** The defining SQL of a view, or None. */
  def viewSql(schema: String, view: String): Option[String] = {
    val p = viewPath(schema, view)
    if (fs(p).exists(p)) Some(readString(p)) else None
  }

  def dropView(schema: String, view: String): Unit = synchronized {
    val p = viewPath(schema, view)
    if (!fs(p).exists(p))
      throw new IllegalStateException(s"View $schema.$view does not exist")
    fs(p).delete(p, false)
  }

  def listViews(schema: String): Seq[String] = {
    val dir = schemaLocation(schema)
    val f = fs(dir)
    if (!f.exists(dir)) return Nil
    f.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.startsWith("_view_") && n.endsWith(".sql") =>
        n.stripPrefix("_view_").stripSuffix(".sql") }
      .sorted.toSeq
  }

  // ---- materialized views (Trino Iceberg CREATE MATERIALIZED VIEW +
  //      REFRESH: the result persists as a snapshot table, the defining
  //      SQL and the SOURCE tables' snapshot ids at refresh time persist
  //      in _mv.json; reads serve the materialized state even when
  //      stale, REFRESH re-runs the definition as a replace commit,
  //      staleness = any source advanced past its recorded snapshot) ----

  private def mvMetaPath(schema: String, name: String) =
    new Path(tableDir(schema, name), "_mv.json")

  def isMaterializedView(schema: String, name: String): Boolean = {
    val p = mvMetaPath(schema, name)
    fs(p).exists(p)
  }

  /** (defining SQL, source → snapshot id at last refresh). */
  def materializedViewMeta(schema: String, name: String): Option[(String, Map[String, Long])] = {
    val p = mvMetaPath(schema, name)
    if (!fs(p).exists(p)) return None
    val root = mapper.readTree(readString(p))
    Some((root.get("sql").asText,
      root.get("sources").properties().asScala
        .map(e => e.getKey -> e.getValue.asLong).toMap))
  }

  /** Source → table identity ([[tableIdentity]]) captured when the MV
    * last (re)freshed. Empty for metas written before identities existed
    * — the caller must treat that as "unknown incarnation" and recompute
    * (which rewrites the meta with identities, self-healing).
    */
  def materializedViewSourceIds(schema: String, name: String): Map[String, String] = {
    val p = mvMetaPath(schema, name)
    if (!fs(p).exists(p)) return Map.empty
    val root = mapper.readTree(readString(p))
    Option(root.get("source_ids")).map(_.properties().asScala
      .map(e => e.getKey -> e.getValue.asText).toMap).getOrElse(Map.empty)
  }

  private def writeMvMeta(schema: String, name: String, sql: String,
                          sources: Map[String, Long]): Unit = {
    val o = mapper.createObjectNode()
    o.put("sql", sql)
    val s = o.putObject("sources")
    sources.toSeq.sortBy(_._1).foreach { case (k, v) => s.put(k, v) }
    // per-source table identity: sequential snapshot ids restart at 1 on
    // drop/recreate, so "source X is at snapshot N" is only meaningful
    // together with WHICH incarnation of X it was — without this an
    // incremental refresh after a drop/recreate could declare a false
    // noop or replay a tail of commits over a base the MV never saw
    val ids = o.putObject("source_ids")
    sources.keys.toSeq.sorted.foreach { key =>
      key.split('.') match {
        case Array(sch, tbl) if tableExists(sch, tbl) =>
          ids.put(key, tableIdentity(sch, tbl))
        case _ => ()
      }
    }
    writeString(mvMetaPath(schema, name), mapper.writeValueAsString(o))
  }

  /** Stable identity of a table INCARNATION — a UUID minted at CREATE
    * time (tables created before identities existed get one lazily on
    * first ask). Snapshot ids are per-incarnation sequence numbers; any
    * consumer recording "table T at snapshot N" for later delta
    * reconstruction must record this identity alongside, or a
    * drop/recreate silently aliases an unrelated history.
    */
  def tableIdentity(schema: String, table: String): String = synchronized {
    require(tableExists(schema, table), s"Table $schema.$table does not exist")
    val p = new Path(tableDir(schema, table), "_identity")
    val f = fs(p)
    if (f.exists(p)) readString(p).trim
    else {
      val id = java.util.UUID.randomUUID().toString
      writeString(p, id)
      id
    }
  }

  def createMaterializedView(schema: String, name: String, selectSql: String,
                             result: DataFrame,
                             sources: Map[String, Long]): Unit = synchronized {
    require(!viewExists(schema, name),
      s"Cannot create materialized view $schema.$name: a view with that name exists")
    createTable(schema, name, result.schema, allowInternalColumns = true)
    writeMvMeta(schema, name, selectSql, sources)
    insert(schema, name, result)
  }

  /** REFRESH: the re-computed result replaces the materialized state as a
    * `replace` commit (prior states stay time-travel-visible like any
    * snapshot history); the recorded source snapshots move forward.
    */
  def refreshMaterializedView(schema: String, name: String, result: DataFrame,
                              sources: Map[String, Long]): Snapshot = {
    val meta = materializedViewMeta(schema, name).getOrElse(
      throw new IllegalArgumentException(
        s"$schema.$name is not a materialized view"))
    // a full recompute re-DERIVES the stored shape: a definition like
    // `SELECT *` legitimately changes column set when a source evolved,
    // and serving the new result through the stale declared schema would
    // silently hide (or fail on) the new columns
    if (!declaredSchema(schema, name).contains(result.schema))
      writeString(new Path(tableDir(schema, name), "_table_schema.json"),
        result.schema.json)
    val snap = overwriteAll(schema, name, result)
    writeMvMeta(schema, name, meta._1, sources)
    snap
  }

  /** Incremental REFRESH, append shape: a select-project-filter view's
    * delta rows land as ONE append commit — O(|delta|) whatever the
    * source table's size ([[graft.MvIncremental.MvProjectShape]]). The
    * recorded source snapshots advance with the commit.
    */
  def refreshMaterializedViewAppend(schema: String, name: String,
                                    delta: DataFrame,
                                    sources: Map[String, Long]): Snapshot = {
    val meta = materializedViewMeta(schema, name).getOrElse(
      throw new IllegalArgumentException(
        s"$schema.$name is not a materialized view"))
    val snap = insert(schema, name, delta)
    writeMvMeta(schema, name, meta._1, sources)
    snap
  }

  /** Advance the recorded source snapshots WITHOUT a data commit — the
    * incremental refresh found the delta empty (sources moved but
    * appended no rows), so the materialized state is already exact.
    */
  def advanceMaterializedViewSources(schema: String, name: String,
                                     sources: Map[String, Long]): Unit = {
    val meta = materializedViewMeta(schema, name).getOrElse(
      throw new IllegalArgumentException(
        s"$schema.$name is not a materialized view"))
    writeMvMeta(schema, name, meta._1, sources)
  }

  /** Row count of a snapshot from its manifest entries / footers —
    * metadata-only for manifest-backed snapshots (exact: entries carry
    * commit-time record counts). Only valid for snapshots without
    * pending delete files (replace/append commits).
    */
  def snapshotRowCount(schema: String, table: String, snap: Snapshot): Long = {
    require(snap.deletes.isEmpty && snap.eqDeletes.isEmpty,
      "snapshotRowCount is exact only for delete-free snapshots")
    filesOfSnapshot(schema, table, Some(snap)).map(_._3).sum
  }

  /** Sources whose current head moved past the snapshot recorded at the
    * materialized view's last refresh (empty = fresh).
    */
  def staleSources(schema: String, name: String): Seq[String] =
    materializedViewMeta(schema, name).toSeq.flatMap(_._2.toSeq).filter {
      case (src, recorded) =>
        src.split('.') match {
          case Array(s, t) =>
            !tableExists(s, t) ||
              readCommits(s, t).lastOption.forall(_.snapshotId != recorded)
          case _ => true
        }
    }.map(_._1).sorted

  /** Replace the table's whole content with `df` as ONE `replace` commit
    * (the REFRESH primitive — also the INSERT OVERWRITE shape).
    */
  private def overwriteAll(schema: String, table: String, df: DataFrame): Snapshot = synchronized {
    require(tableExists(schema, table), s"Table $schema.$table does not exist")
    val dir = tableDir(schema, table)
    val (commits, gen) = readCommitsWithGen(schema, table)
    val (id, at) = nextCommit(commits.lastOption)
    val snapDir = snapDirName(schema, table, s"${attemptTag(id)}-rewrite")
    writeData(schema, table, df, dir, snapDir)
    val newEntries = scanEntries(dir, snapDir)
    val names = writeManifests(dir, newEntries)
    val snap = Snapshot(id, at,
      declaredSchema(schema, table).map(_.json), Some("replace"),
      Nil, Some(writeManifestList(dir, names)))
    writeCommits(schema, table, commits :+ snap, gen)
    snap
  }

  // ---- metadata tables (Trino Iceberg's `"t$snapshots"` family:
  //      https://trino.io/docs/current/connector/iceberg.html#metadata-tables) ----

  /** `"t$snapshots"`: one row per commit, Trino column shapes
    * (committed_at / snapshot_id / parent_id / operation). `operation`
    * derives from the commit kind: append commits (INSERT) vs overwrite
    * commits (UPDATE/DELETE/MERGE rewrites) vs replace (OPTIMIZE
    * compaction) — the same operation vocabulary Iceberg stamps in its
    * snapshot summary.
    */
  def snapshotsMeta(schema: String, table: String): DataFrame = {
    require(tableExists(schema, table), s"Table $schema.$table does not exist")
    val commits = readCommits(schema, table)
    val rows = commits.zip(None +: commits.map(c => Some(c.snapshotId))).map {
      case (c, parent) =>
        // operation is stamped at commit time (round-5 advice)
        (new java.sql.Timestamp(c.committedAtMillis), c.snapshotId,
          parent.map(java.lang.Long.valueOf).orNull, c.operation.getOrElse("append"))
    }
    import spark.implicits._
    rows.toDF("committed_at", "snapshot_id", "parent_id", "operation")
  }

  /** `"t$history"`: when each snapshot became current. Every commit in
    * this catalog is linear (no branches), so every snapshot is a current
    * ancestor.
    */
  def historyMeta(schema: String, table: String): DataFrame = {
    import spark.implicits._
    require(tableExists(schema, table), s"Table $schema.$table does not exist")
    val commits = readCommits(schema, table)
    commits.zip(None +: commits.map(c => Some(c.snapshotId))).map { case (c, parent) =>
      (new java.sql.Timestamp(c.committedAtMillis), c.snapshotId,
        parent.map(java.lang.Long.valueOf).orNull, true)
    }.toDF("made_current_at", "snapshot_id", "parent_id", "is_current_ancestor")
  }

  /** `"t$files"`: data files of the CURRENT snapshot with sizes and
    * per-file record counts (Trino's content/file_path/file_format/
    * record_count/file_size_in_bytes columns). Record counts come from
    * parquet footers — metadata reads, no data scan; footer reads happen
    * driver-side because the file list of one table's current snapshot is
    * metadata-scale, not data-scale.
    */
  def filesMeta(schema: String, table: String): DataFrame = {
    import spark.implicits._
    val dir = tableDir(schema, table)
    val data = currentFiles(schema, table).map { case (path, _, recordCount, size) =>
      (0, path, "PARQUET", recordCount, size)
    }
    // positional-delete files surface with content = 1, Iceberg's
    // POSITION_DELETES content id in the $files table
    val head = readCommits(schema, table).lastOption
    val dels = head.toSeq
      .flatMap(_.deletes)
      .flatMap(d => dataFilesUnder(new Path(dir, d)))
      .map { p =>
        val st = fs(p).getFileStatus(p)
        (1, p.toString, "PARQUET", parquetFooterRows(p), st.getLen)
      }
    // equality-delete files carry Iceberg's EQUALITY_DELETES content id
    val eqs = head.toSeq
      .flatMap(_.eqDeletes)
      .flatMap(e => dataFilesUnder(new Path(dir, e.path)))
      .map { p =>
        val st = fs(p).getFileStatus(p)
        (2, p.toString, "PARQUET", parquetFooterRows(p), st.getLen)
      }
    (data ++ dels ++ eqs)
      .toDF("content", "file_path", "file_format", "record_count", "file_size_in_bytes")
  }

  /** `"t$partitions"`: per-partition rollup of the current snapshot —
    * partition (the hive `col=value` path, '' for unpartitioned tables),
    * file count, record count, total bytes. Same footer-metadata source
    * as [[filesMeta]], no data scan.
    */
  def partitionsMeta(schema: String, table: String): DataFrame = {
    import spark.implicits._
    // attached-Iceberg tables: entry paths are absolute (no hive
    // subpath to parse), but the foreign IDENTITY partition values were
    // folded into the manifests as EXACT bounds (min = max) at import —
    // reconstruct the `name=value` partition string from them, so the
    // rollup matches what the table's own engine reports
    val identCols: Seq[(String, String)] = icebergSpecOf(schema, table)
      .filter(_.transform == "identity")
      .flatMap { sf =>
        declaredSchema(schema, table).toSeq.flatMap(_.fields)
          .find(f => sf.sourceId == (if (f.metadata.contains(IcebergInterop.FieldIdKey))
            f.metadata.getLong(IcebergInterop.FieldIdKey).toInt else -1))
          .orElse(declaredSchema(schema, table).toSeq.flatMap(_.fields)
            .find(_.name.equalsIgnoreCase(sf.name)))
          .map(f => sf.name -> f.name)
      }
    val rows =
      if (identCols.isEmpty)
        currentFiles(schema, table).map(t => (t._2, t._3, t._4))
      else {
        val dir = tableDir(schema, table)
        readCommits(schema, table).lastOption.toSeq
          .flatMap(manifestEntriesOf(dir, _)).map { e =>
            val part = identCols.flatMap { case (specName, colName) =>
              e.bounds.find(_._1.equalsIgnoreCase(colName)).collect {
                case (_, cb) if cb.min != null && cb.min == cb.max =>
                  s"$specName=${cb.min}"
              }
            }.mkString("/")
            (part, e.rows, e.bytes)
          }
      }
    rows.groupBy(_._1)
      .map { case (part, fs) =>
        (part, fs.size.toLong, fs.map(_._2).sum, fs.map(_._3).sum)
      }
      .toSeq.sortBy(_._1)
      .toDF("partition", "file_count", "record_count", "total_size_in_bytes")
  }

  /** Data files of the current snapshot: (absolute path, hive partition
    * subpath relative to the snap dir — '' when unpartitioned, parquet
    * footer record count, byte size). Footer reads are driver-side
    * metadata work, proportional to file count, not data volume.
    */
  private def currentFiles(schema: String, table: String): Seq[(String, String, Long, Long)] = {
    require(tableExists(schema, table), s"Table $schema.$table does not exist")
    filesOfSnapshot(schema, table, readCommits(schema, table).lastOption)
  }

  /** [[currentFiles]] against an explicit snapshot — callers that already
    * hold a (commits, gen) read derive file metadata from THAT state
    * instead of re-reading the log (keeps count+commit atomic under
    * cross-process writers). Files are served straight from manifest
    * entries — record counts and sizes were captured at commit time, so
    * NO parquet footer is opened.
    */
  private def filesOfSnapshot(schema: String, table: String,
                              snap: Option[Snapshot]): Seq[(String, String, Long, Long)] = {
    val dir = tableDir(schema, table)
    snap.toSeq.flatMap(manifestEntriesOf(dir, _)).map { e =>
      val segs = e.path.split('/')
      // fully-qualified path (scheme included), matching what a listing-
      // based FileStatus or `_metadata.file_path` reports; files adopted
      // in place (absolute entry paths) have no hive partition subpath
      val part = if (e.path.startsWith("/")) ""
                 else segs.drop(1).dropRight(1).mkString("/")
      (entryAbsPath(dir, e).toString, part, e.rows, e.bytes)
    }
  }

  /** `"t$refs"`: named refs (Trino Iceberg's $refs table) — main, every
    * branch (head snapshot id), every tag (pinned snapshot id).
    */
  def refsMeta(schema: String, table: String): DataFrame = {
    import spark.implicits._
    require(tableExists(schema, table), s"Table $schema.$table does not exist")
    val main = readCommits(schema, table).lastOption
      .map(s => ("main", "BRANCH", s.snapshotId))
    val branches = listBranches(schema, table).map { b =>
      (b, "BRANCH",
        branch(b).readCommitsWithGen(schema, table)._1.lastOption
          .map(_.snapshotId).getOrElse(0L))
    }
    val tags = listTags(schema, table).toSeq.map { case (n, s) =>
      (n, "TAG", s.snapshotId)
    }
    (main.toSeq ++ branches ++ tags).sortBy(_._1)
      .toDF("name", "type", "snapshot_id")
  }

  /** `"t$manifests"`: the current snapshot's manifest files with entry
    * counts and byte sizes — the metadata ABOUT the metadata (Trino
    * Iceberg's $manifests).
    */
  def manifestsMeta(schema: String, table: String): DataFrame = {
    import spark.implicits._
    require(tableExists(schema, table), s"Table $schema.$table does not exist")
    val dir = tableDir(schema, table)
    readCommits(schema, table).lastOption.toSeq
      .flatMap(s => s.manifestList.toSeq.flatMap(readManifestList(dir, _)))
      .map { name =>
        val p = new Path(manifestDirPath(dir), name)
        val entries = readManifest(dir, name)
        (s"_manifests/$name", fs(p).getFileStatus(p).getLen,
          entries.size.toLong, entries.map(_.rows).sum)
      }
      .toDF("path", "length", "added_data_files_count", "added_rows_count")
  }

  /** `"t$properties"`: the table's WITH-clause properties as key/value
    * rows (Trino Iceberg's $properties table) — the same property set
    * SHOW CREATE TABLE round-trips, plus the resolved physical location.
    */
  def propertiesMeta(schema: String, table: String): DataFrame = {
    import spark.implicits._
    require(tableExists(schema, table), s"Table $schema.$table does not exist")
    val dir = tableDir(schema, table)
    def arr(vs: Seq[String]) = vs.map(v => s"'$v'").mkString("ARRAY[", ", ", "]")
    val rows = Seq(
      "format" -> "PARQUET",
      "format_version" -> formatVersion(schema, table).toString,
      "location" -> fs(dir).makeQualified(dir).toString) ++
      Some(partitionSpec(schema, table)).filter(_.nonEmpty)
        .map(p => "partitioning" -> arr(p)) ++
      Some(sortSpec(schema, table)).filter(_.nonEmpty)
        .map(s => "sorted_by" -> arr(s)) ++
      Some(bloomColumns(schema, table)).filter(_.nonEmpty)
        .map(b => "parquet_bloom_filter_columns" -> arr(b)) ++
      tableProperties(schema, table)
    rows.toDF("key", "value")
  }

  /** `"t$entries"`: one row per manifest entry of the CURRENT snapshot
    * (Iceberg's entries metadata table). `status` 1 = ADDED (the entry's
    * manifest is first referenced by the head snapshot), 0 = EXISTING
    * (carried from an earlier commit); `snapshot_id` = the commit that
    * first referenced the manifest. Granularity is manifest-level: a
    * metadata compaction that rewrites small manifests re-stamps their
    * entries (Iceberg preserves per-entry ids through rewrites; this
    * engine's manifests don't carry per-entry commit ids). Bounds and
    * null counts render as canonical JSON objects keyed by column —
    * the readable_metrics idea flattened. Pure metadata: manifest JSON
    * resolves from cache, no data file is opened.
    */
  def entriesMeta(schema: String, table: String): DataFrame = {
    import spark.implicits._
    require(tableExists(schema, table), s"Table $schema.$table does not exist")
    val dir = tableDir(schema, table)
    val commits = readCommits(schema, table)
    val head = commits.lastOption
    val names = head.toSeq.flatMap(_.manifestList.toSeq).flatMap(readManifestList(dir, _))
    def firstRef(name: String): Long =
      commits.find(_.manifestList.exists(ml => readManifestList(dir, ml).contains(name)))
        .map(_.snapshotId).getOrElse(head.map(_.snapshotId).getOrElse(0L))
    def js(pairs: Seq[(String, Any)]): String = {
      val o = mapper.createObjectNode()
      pairs.sortBy(_._1).foreach {
        case (k, v: Long)   => o.put(k, v)
        case (k, v)         => o.put(k, v.toString)
      }
      mapper.writeValueAsString(o)
    }
    val rows = names.flatMap { mn =>
      val added = firstRef(mn)
      val status = if (head.exists(_.snapshotId == added)) 1 else 0
      readManifest(dir, mn).map { e =>
        (status, added, entryAbsPath(dir, e).toString, e.rows, e.bytes,
          js(e.bounds.toSeq.map { case (c, b) => c -> b.min }),
          js(e.bounds.toSeq.map { case (c, b) => c -> b.max }),
          js(e.bounds.toSeq.collect { case (c, b) if b.nulls >= 0 => c -> b.nulls }))
      }
    }
    rows.toDF("status", "snapshot_id", "file_path", "record_count",
      "file_size_in_bytes", "lower_bounds", "upper_bounds", "null_value_counts")
  }

  /** `$metadata_log_entries` (Trino Iceberg's metadata-log table): one
    * row per commit-log metadata file still on disk — the generation
    * files ARE the metadata log. Reports each file's modification time,
    * path, and the latest snapshot id it declares. Generations GC past a
    * slack of 8, so the log stays bounded like Iceberg's
    * `write.metadata.previous-versions-max`.
    */
  def metadataLogEntriesMeta(schema: String, table: String): DataFrame = {
    val dir = tableDir(schema, table)
    val f = fs(dir)
    import spark.implicits._
    val logs =
      if (!f.exists(dir)) Array.empty[org.apache.hadoop.fs.FileStatus]
      else f.listStatus(dir).filter(s => commitGenRe.pattern.matcher(s.getPath.getName).matches())
        .sortBy(_.getPath.getName)
    logs.map { s =>
      val snaps = parseLog(dir, readString(s.getPath), s"$schema.$table")
      (new java.sql.Timestamp(s.getModificationTime), s.getPath.toString,
        snaps.lastOption.map(_.snapshotId))
    }.toSeq.toDF("timestamp", "file", "latest_snapshot_id")
  }

  /** Metadata-table dispatch for the SQL surface (`sch."t$<kind>"`). */
  def metadataTable(schema: String, table: String, kind: String): DataFrame =
    kind.toLowerCase match {
      case "metadata_log_entries" => metadataLogEntriesMeta(schema, table)
      case "snapshots"  => snapshotsMeta(schema, table)
      case "history"    => historyMeta(schema, table)
      case "files"      => filesMeta(schema, table)
      case "partitions" => partitionsMeta(schema, table)
      case "refs"       => refsMeta(schema, table)
      case "manifests"  => manifestsMeta(schema, table)
      case "properties" => propertiesMeta(schema, table)
      case "entries"    => entriesMeta(schema, table)
      case "changes"    =>
        // the HEAD commit's row-level changes (full-range CDC goes
        // through readChanges with explicit bounds)
        val commits = readCommits(schema, table)
        require(commits.nonEmpty, s"Table $schema.$table has no snapshots")
        val from = if (commits.length >= 2) commits(commits.length - 2).snapshotId else 0L
        readChanges(schema, table, from, commits.last.snapshotId)
      case other => throw new IllegalArgumentException(
        s"Unknown metadata table $$$other (supported: snapshots, history, " +
          "files, partitions, refs, manifests, properties, entries, changes, " +
          "metadata_log_entries)")
    }

  // ---- persisted table statistics (ANALYZE → metadata-only SHOW STATS;
  //      Iceberg stores these in Puffin stats files referenced from
  //      table metadata) ----

  /** One persisted SHOW STATS row: (column_name — null for the summary
    * row, data_size, ndv, nulls_fraction, row_count, low, high).
    */
  type StatsRow = (Option[String], Option[Double], Option[Double],
    Option[Double], Option[Double], Option[String], Option[String])

  private def statsPath(schema: String, table: String) =
    new Path(tableDir(schema, table), "_table_stats.json")

  /** Persist ANALYZE's result keyed by the snapshot it observed; a later
    * SHOW STATS serves it without any scan while the head still matches.
    */
  def writeTableStats(schema: String, table: String, snapshotId: Long,
                      rows: Seq[StatsRow]): Unit = {
    val o = mapper.createObjectNode()
    o.put("snapshotId", snapshotId)
    val arr = o.putArray("rows")
    rows.foreach { case (cn, ds, ndv, nf, rc, lo, hi) =>
      val n = arr.addObject()
      cn.foreach(n.put("column", _))
      ds.foreach(n.put("data_size", _))
      ndv.foreach(n.put("ndv", _))
      nf.foreach(n.put("nulls_fraction", _))
      rc.foreach(n.put("row_count", _))
      lo.foreach(n.put("low", _))
      hi.foreach(n.put("high", _))
    }
    writeString(statsPath(schema, table), mapper.writeValueAsString(o))
  }

  /** `ALTER TABLE t EXECUTE drop_extended_stats` (Trino Iceberg's
    * procedure): discard the persisted ANALYZE statistics — SHOW STATS
    * falls back to scan-derived numbers until the next ANALYZE.
    */
  def dropExtendedStats(schema: String, table: String): Unit = {
    require(tableExists(schema, table), s"Table $schema.$table does not exist")
    val p = statsPath(schema, table)
    fs(p).delete(p, false)
  }

  /** Persisted stats and the snapshot id they were computed at. */
  def readTableStats(schema: String, table: String): Option[(Long, Seq[StatsRow])] = {
    val p = statsPath(schema, table)
    if (!fs(p).exists(p)) return None
    val root = mapper.readTree(readString(p))
    def optD(n: com.fasterxml.jackson.databind.JsonNode, k: String) =
      if (n.has(k)) Some(n.get(k).asDouble) else None
    def optS(n: com.fasterxml.jackson.databind.JsonNode, k: String) =
      if (n.has(k)) Some(n.get(k).asText) else None
    val rows = root.get("rows").elements().asScala.map { n =>
      (optS(n, "column"), optD(n, "data_size"), optD(n, "ndv"),
        optD(n, "nulls_fraction"), optD(n, "row_count"),
        optS(n, "low"), optS(n, "high"))
    }.toSeq
    Some((root.get("snapshotId").asLong, rows))
  }

  // ---- incremental / CDC reads (Iceberg incremental scan + the
  //      changelog shape of Delta's table_changes; the feature a
  //      training-data pipeline needs to process ONLY what a commit
  //      changed instead of rescanning 100 TB) ----

  /** Row-level changes between two snapshots: the table's columns plus
    * `_change_type` ('insert' | 'delete' — an UPDATE appears as its
    * delete + insert pair) and `_commit_snapshot_id` (the commit that
    * introduced the change). `fromSnapshotId` is EXCLUSIVE (0 = from the
    * empty table), `toSnapshotId` inclusive.
    *
    * Scale posture: per commit, only TOUCHED data files are read —
    * files added, files removed, and files addressed by new positional
    * delete files. A pure append therefore plans a scan of exactly the
    * appended files with NO shuffle; CoW/MoR DML diffs only the
    * rewritten/addressed files (bounded by the DML's own footprint, not
    * table size) via except-all on full rows — which also makes a
    * compaction/OPTIMIZE commit report zero changes, since its file
    * churn rewrites identical rows.
    */
  def readChanges(schema: String, table: String,
                  fromSnapshotId: Long, toSnapshotId: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(tableExists(schema, table), s"Table $schema.$table does not exist")
    val commits = readCommits(schema, table)
    val toIdx = commits.indexWhere(_.snapshotId == toSnapshotId)
    require(toIdx >= 0, s"Snapshot $toSnapshotId does not exist in $schema.$table")
    val fromIdx =
      if (fromSnapshotId == 0L) -1
      else {
        val i = commits.indexWhere(_.snapshotId == fromSnapshotId)
        require(i >= 0, s"Snapshot $fromSnapshotId does not exist in $schema.$table")
        i
      }
    require(fromIdx <= toIdx,
      s"from snapshot $fromSnapshotId is newer than to snapshot $toSnapshotId")
    val parts = (fromIdx until toIdx).map { i =>
      changesBetween(schema, table, if (i < 0) None else Some(commits(i)), commits(i + 1))
    }.filter(_.nonEmpty).map(_.get)
    if (parts.isEmpty) {
      val base = declaredSchema(schema, table).getOrElse(StructType(Nil))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        base.add("_change_type", org.apache.spark.sql.types.StringType)
            .add("_commit_snapshot_id", org.apache.spark.sql.types.LongType))
    } else {
      val all = parts.reduce(_.unionByName(_, allowMissingColumns = true))
      // schema evolution inside the range makes unionByName append
      // later-added columns after the change columns — keep the contract
      // of data columns first, `_change_type`/`_commit_snapshot_id` last
      val changeCols = Seq("_change_type", "_commit_snapshot_id")
      val dataCols = all.columns.filterNot(changeCols.contains).toSeq
      all.select((dataCols ++ changeCols).map(org.apache.spark.sql.functions.col): _*)
    }
  }

  /** Rows APPENDED between two snapshots — the incremental read a
    * streaming source makes per micro-batch ([[graft.streaming
    * .GraftTableSource]]): for each commit in `(from, to]` only its ADDED
    * data files are read (served through the snapshot's manifest relation,
    * so hive partition values and commit-pinned schemas resolve exactly
    * like any other read), and rows conform to the CURRENT declared
    * schema. A pure append therefore costs a scan of exactly the new
    * files with no shuffle, whatever the table size.
    *
    * A commit that removed or rewrote data (CoW DML, MoR deletes,
    * compaction, truncate) has no append-only row representation: with
    * `skipChangeCommits = false` it throws (the Delta streaming-source
    * contract — fail rather than silently emit rewritten rows as new);
    * with `skipChangeCommits = true` the WHOLE commit is skipped, added
    * files included. Row-level change streams use
    * [[readChanges]] instead.
    */
  def appendsBetween(schema: String, table: String,
                     fromSnapshotId: Long, toSnapshotId: Long,
                     skipChangeCommits: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val declared = declaredSchema(schema, table).getOrElse(StructType(Nil))
    val dir = tableDir(schema, table)
    val parts = appendOnlyCommits(schema, table, fromSnapshotId, toSnapshotId,
        skipChangeCommits).flatMap { case (cur, added) =>
      if (added.isEmpty) None
      else {
        val entries = manifestEntriesOf(dir, cur).filter(e => added.contains(e.path))
        Some(readSnapshotMeta(schema, table, Some(cur),
          useSnapshotSchema = true, entriesOverride = Some(entries)))
      }
    }
    val conformed = parts.map { df =>
      df.select(declared.fields.toIndexedSeq.map { f =>
        if (df.columns.exists(_.equalsIgnoreCase(f.name)))
          col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
    }
    if (conformed.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], declared)
    else conformed.reduce(_.unionByName(_))
  }

  /** The append-only commit walk shared by [[appendsBetween]] and
    * [[appendedRowCountBetween]]: per commit in `(from, to]`, the set of
    * data files it ADDED, after verifying it removed no file and
    * retracted no rows. A non-append commit throws (or is dropped when
    * `skipChangeCommits`) — the guard both callers rely on.
    */
  private def appendOnlyCommits(schema: String, table: String,
                                fromSnapshotId: Long, toSnapshotId: Long,
                                skipChangeCommits: Boolean): Seq[(Snapshot, Set[String])] = {
    require(tableExists(schema, table), s"Table $schema.$table does not exist")
    val commits = readCommits(schema, table)
    val toIdx = commits.indexWhere(_.snapshotId == toSnapshotId)
    require(toIdx >= 0, s"Snapshot $toSnapshotId does not exist in $schema.$table")
    val fromIdx =
      if (fromSnapshotId == 0L) -1
      else {
        val i = commits.indexWhere(_.snapshotId == fromSnapshotId)
        require(i >= 0, s"Snapshot $fromSnapshotId does not exist in $schema.$table")
        i
      }
    require(fromIdx <= toIdx,
      s"from snapshot $fromSnapshotId is newer than to snapshot $toSnapshotId")
    (fromIdx until toIdx).flatMap { i =>
      val prev = if (i < 0) None else Some(commits(i))
      val cur = commits(i + 1)
      val prevFiles = prev.map(dataFilePaths(schema, table, _).toSet).getOrElse(Set.empty[String])
      val curFiles = dataFilePaths(schema, table, cur).toSet
      val removed = prevFiles -- curFiles
      val newDeletes = cur.deletes.filterNot(prev.map(_.deletes.toSet).getOrElse(Set.empty))
      // a NEW equality delete (upsert commit) retracts rows without
      // removing a file — still not append-only
      val newEqDeletes = cur.eqDeletes
        .filterNot(prev.map(_.eqDeletes.toSet).getOrElse(Set.empty))
      if (removed.nonEmpty || newDeletes.nonEmpty || newEqDeletes.nonEmpty) {
        if (skipChangeCommits) None
        else throw new IllegalStateException(
          s"Commit ${cur.snapshotId} of $schema.$table is not append-only " +
            s"(operation=${cur.operation.getOrElse("unknown")}); stream with " +
            "skipChangeCommits=true to drop change commits, or " +
            "readChangeFeed=true for row-level changes")
      } else Some((cur, curFiles -- prevFiles))
    }
  }

  /** Metadata-only row count of what [[appendsBetween]] would return —
    * manifest entries carry commit-time record counts, so "did anything
    * land since snapshot X" costs zero Spark jobs (the incremental-MV
    * refresh asks this on every trigger); throws exactly like
    * [[appendsBetween]] on non-append commits.
    */
  def appendedRowCountBetween(schema: String, table: String,
                              fromSnapshotId: Long, toSnapshotId: Long): Long = {
    val dir = tableDir(schema, table)
    appendOnlyCommits(schema, table, fromSnapshotId, toSnapshotId,
        skipChangeCommits = false).iterator.map { case (cur, added) =>
      manifestEntriesOf(dir, cur).iterator.filter(e => added.contains(e.path)).map(_.rows).sum
    }.sum
  }

  /** Scheme-independent path form for cross-domain file comparison:
    * manifest-relative paths qualify against the table dir, while
    * `_metadata.file_path` carries a URI — both normalize to the bare
    * URI path (one table's files always share a filesystem authority).
    */
  private def uriPath(p: Path): String = p.toUri.getPath

  private def changesBetween(schema: String, table: String,
                             prev: Option[Snapshot], cur: Snapshot): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{col, lit, regexp_replace}
    val dir = tableDir(schema, table)
    val f = fs(dir)
    def absSet(s: Snapshot): Map[String, String] =
      dataFilePaths(schema, table, s)
        .map(rel => rel -> uriPath(f.makeQualified(new Path(dir, rel)))).toMap
    val prevAbs = prev.map(absSet).getOrElse(Map.empty)
    val curAbs = absSet(cur)
    val removed = (prevAbs.keySet -- curAbs.keySet).map(prevAbs)
    val added = (curAbs.keySet -- prevAbs.keySet).map(curAbs)
    val newDeletes = cur.deletes.filterNot(prev.map(_.deletes.toSet).getOrElse(Set.empty))
    // positional delete files are bounded by the DML's selectivity; their
    // distinct file_path set is the CDC equivalent of a manifest read
    val addressed: Set[String] =
      if (newDeletes.isEmpty) Set.empty
      else spark.read.parquet(newDeletes.map(d => new Path(dir, d).toString): _*)
        .select("file_path").distinct()
        .collect().map(r => uriPath(new Path(r.getString(0)))).toSet
    // NEW equality deletes (upsert commits) shadow rows in the files of
    // their appliesTo snapshot — those files enter the row diff so the
    // shadowed rows surface as CDC deletes (the new-side read applies
    // the delete; exceptAll emits the difference)
    val newEq = cur.eqDeletes.filterNot(prev.toSeq.flatMap(_.eqDeletes).toSet)
    val eqAddressed: Set[String] =
      if (newEq.isEmpty) Set.empty
      else {
        val commits = readCommits(schema, table)
        newEq.flatMap { e =>
          val s = commits.find(_.snapshotId == e.appliesTo).getOrElse(
            throw new IllegalStateException(
              s"Equality delete ${e.path} references snapshot ${e.appliesTo}, " +
                s"which is no longer in the commit log of $schema.$table"))
          dataFilePaths(schema, table, s)
            .map(rel => uriPath(f.makeQualified(new Path(dir, rel))))
        }.toSet
      }
    val touched = removed ++ added ++ addressed ++ eqAddressed
    if (touched.isEmpty) return None
    val schemeRe = "^[A-Za-z][A-Za-z0-9+.-]*:/+"
    def restrict(s: Option[Snapshot], fileCount: Int): Option[DataFrame] = s match {
      case None => None
      case Some(sn) if fileCount == 0 =>
        // a fileless state (fresh table, post-TRUNCATE) has no file-source
        // relation to resolve _metadata against — it is simply empty
        val sch = sn.schemaJson
          .map(j => org.apache.spark.sql.types.DataType.fromJson(j).asInstanceOf[StructType])
          .orElse(declaredSchema(schema, table)).getOrElse(StructType(Nil))
        Some(spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch))
      case Some(sn) =>
        val df = readSnapshotMeta(schema, table, Some(sn),
          useSnapshotSchema = true, keepFile = true)
          .withColumn("__graft_file", regexp_replace(col("__graft_file"), schemeRe, "/"))
        Some(fileSetFilter(df, "__graft_file", touched.toSeq.sorted, anti = false)
          .drop("__graft_file"))
    }
    val newT = restrict(Some(cur), curAbs.size).get
    val oldT = if (prev.isEmpty ||
                   (removed.isEmpty && addressed.isEmpty && eqAddressed.isEmpty)) None
               else restrict(prev, prevAbs.size)
    val withOld = oldT.map { o =>
      // conform the old side to the new side's (possibly evolved) columns
      val newSchema = newT.schema
      o.select(newSchema.map(fld =>
        if (o.columns.exists(_.equalsIgnoreCase(fld.name))) col(fld.name)
        else lit(null).cast(fld.dataType).as(fld.name)): _*)
    }
    val changes = withOld match {
      case None =>
        // pure append: every new-side row is an insert, no shuffle
        newT.withColumn("_change_type", lit("insert"))
      case Some(o) =>
        newT.exceptAll(o).withColumn("_change_type", lit("insert"))
          .unionByName(o.exceptAll(newT).withColumn("_change_type", lit("delete")))
    }
    Some(changes.withColumn("_commit_snapshot_id", lit(cur.snapshotId)))
  }

  /** Roll the table back to `snapshotId` (Trino
    * `rollback_to_snapshot`): appends a NEW commit that re-exposes the
    * target snapshot's file set and schema — history is preserved (the
    * rolled-back-over commits stay time-travel-visible), exactly
    * Iceberg's rollback model of moving the current pointer via a new
    * history entry rather than erasing commits.
    */
  def rollbackToSnapshot(schema: String, table: String, snapshotId: Long): Snapshot = synchronized {
    val (commits, gen) = readCommitsWithGen(schema, table)
    val target = commits.find(_.snapshotId == snapshotId).getOrElse(
      throw new IllegalArgumentException(
        s"Snapshot $snapshotId does not exist in $schema.$table"))
    val (id, at) = nextCommit(commits.lastOption)
    // operation recorded AT COMMIT TIME — a rollback reusing the
    // target's manifest list is still a 'rollback' (round-5 advice)
    val snap = Snapshot(id, at, target.schemaJson, Some("rollback"),
      target.deletes, target.manifestList, None, target.eqDeletes)
    // the rollback also restores the declared schema of the target era so
    // current reads match what the rolled-back-to snapshot exposed
    target.schemaJson.foreach(j =>
      writeString(new Path(tableDir(schema, table), "_table_schema.json"), j))
    writeCommits(schema, table, commits :+ snap, gen)
    snap
  }

  /** `rollback_to_timestamp` (Iceberg's sibling procedure): roll back to
    * the latest snapshot committed at or before `millis` — the same
    * resolution rule as `FOR TIMESTAMP AS OF`, landed as a new rollback
    * commit (history stays intact, exactly like [[rollbackToSnapshot]]).
    */
  def rollbackToTimestamp(schema: String, table: String, millis: Long): Snapshot = synchronized {
    val target = readCommits(schema, table)
      .filter(_.committedAtMillis <= millis).lastOption.getOrElse(
        throw new IllegalArgumentException(
          s"No snapshot of $schema.$table exists at or before timestamp $millis"))
    rollbackToSnapshot(schema, table, target.snapshotId)
  }

  // ---- maintenance (reference config surface: expire-snapshots /
  //      remove-orphan-files, TrinoConfigurationProvider.cs:62-63) ----

  /** `ALTER TABLE t EXECUTE optimize_manifests` (Trino Iceberg's
    * manifest-compaction procedure; Spark Iceberg calls it
    * rewrite_manifests): rewrite the CURRENT snapshot's manifest set into
    * ⌈entries/512⌉ right-sized manifests and commit a metadata-only
    * snapshot referencing them — data files untouched, CDC reports zero
    * row changes. The automatic [[compactManifestSet]] bounds manifest
    * growth incrementally (merging small ones past 32); this is the
    * explicit full pass for a table whose manifest set fragmented under
    * sustained DML — at 100 TB the scan-planning cost is proportional to
    * manifest count × size, so a periodic rewrite keeps plan time flat.
    * Returns the manifest count after the rewrite. A table still in the
    * pre-manifest on-disk format is upgraded first ([[upgradeFormat]]).
    */
  def rewriteManifests(schema: String, table: String): Long = synchronized {
    require(tableExists(schema, table), s"Table $schema.$table does not exist")
    upgradeFormat(schema, table)
    val dir = tableDir(schema, table)
    val (commits, gen) = readCommitsWithGen(schema, table)
    require(commits.nonEmpty, s"Nothing to rewrite in $schema.$table")
    val last = commits.last
    val entries = manifestEntriesOf(dir, last)
    val names =
      if (entries.isEmpty) Nil
      else entries.grouped(512).map(g => writeManifest(dir, g.toSeq)).toSeq
    val ml = writeManifestList(dir, names)
    val (id, at) = nextCommit(Some(last))
    val snap = Snapshot(id, at, declaredSchema(schema, table).map(_.json),
      Some("replace"), last.deletes, Some(ml), None, last.eqDeletes)
    writeCommits(schema, table, commits :+ snap, gen)
    names.size.toLong
  }

  /** The one-way upgrade from the pre-manifest on-disk format (Iceberg's
    * format upgrades are one-way too,
    * iceberg.apache.org/spec/#format-versioning), and the only place that
    * decodes it. Every log of the table the readers refuse — the main log
    * (generation files or a pre-versioning `commits.json`), each branch
    * log, the `_tags.json` pins and the catalog-tag members pinning this
    * table — is rewritten in the current form, each ref atomically on its
    * own. A snapshot keeps its id, commit time, schema, delete files and
    * txn; its `dirs` become a manifest list, and a missing operation is
    * stamped from the last dir's name. Each distinct `dirs` entry is
    * footer-scanned once into manifests that every snapshot naming it
    * references. Manifests and lists are content-addressed, so a snapshot
    * two refs share stays equal, and a rerun after a crash between two
    * refs' writes reproduces the names the upgraded refs hold.
    */
  private def upgradeFormat(schema: String, table: String): Unit = {
    import com.fasterxml.jackson.databind.JsonNode
    val dir = tableDir(schema, table)
    val f = fs(dir)
    val qn = s"$schema.$table"
    def refused(read: => Any): Boolean =
      try { read; false }
      catch {
        case _: LegacyTableFormatException => true
        case _: java.io.FileNotFoundException => false // GC'd since the listing
      }
    val entryManifests = scala.collection.mutable.Map.empty[String, Seq[String]]
    def upgraded(n: JsonNode, schemas: Map[Int, String]): Snapshot = {
      val s = snapshotFields(n, schemas)
      val dirs = Option(n.get("dirs")).toSeq.flatMap(_.elements.asScala.map(_.asText))
      if (dirs.isEmpty) s
      else {
        val names = s.manifestList.toSeq.flatMap(readManifestList(dir, _)) ++
          dirs.flatMap(e => entryManifests.getOrElseUpdate(e,
            scanEntries(dir, e).sortBy(_.path).grouped(SnapshotCatalog.manifestEntryCap)
              .map(g => writeAddressed(dir, "m", Manifests.toJson(g))).toSeq))
        val op =
          if (dirs.last.endsWith("-compacted")) "replace"
          else if (dirs.last.endsWith("-rewrite")) "overwrite"
          else "append"
        s.copy(operation = s.operation.orElse(Some(op)),
          manifestList = Some(writeAddressed(dir, "ml", manifestListJson(names))))
      }
    }
    // a log of either form: its frozen segments, then an array of
    // snapshots with inline schemas or the object form's snapshots
    def upgradedLog(json: String): Seq[Snapshot] = {
      val root = mapper.readTree(json)
      segmentNamesIn(root).flatMap(n =>
        upgradedLog(readString(new Path(logSegmentsDir(dir), n)))) ++
        (if (root.isArray) root.elements.asScala.map(upgraded(_, Map.empty))
         else root.get("snapshots").elements.asScala.map(upgraded(_, schemasOf(root))))
    }
    val marker = new Path(dir, "commits.json")
    (this +: listBranches(schema, table).map(branch)).foreach { ref =>
      val gens = f.listStatus(dir).iterator.map(_.getPath).flatMap(p => p.getName match {
        case ref.commitGenRe(g) => Some(g.toLong -> p)
        case _                  => None
      }).toSeq.sortBy(_._1)
      // the newest generation, else a pre-versioning log in the marker
      val head = gens.lastOption.map { case (g, p) => (readString(p), g) }.orElse(
        Option.when((ref eq this) && f.exists(marker))((readString(marker), 0L))
          .filter(_._1.trim != "[]"))
      for ((json, g) <- head if refused(parseLog(dir, json, qn))) {
        ref.writeCommits(schema, table, upgradedLog(json), g, carrySegments = false)
        faultPoint("upgrade.ref-written")
      }
      // generations still in the old format are unreadable: drop them
      gens.foreach { case (_, p) =>
        if (refused(parseLog(dir, readString(p), qn))) f.delete(p, false) }
    }
    if (f.exists(marker) && readString(marker).trim != "[]") writeString(marker, "[]")
    val tp = tagsPath(schema, table)
    if (f.exists(tp) && refused(listTags(schema, table))) {
      writeTags(schema, table, mapper.readTree(readString(tp)).properties().asScala
        .map(e => e.getKey -> upgraded(e.getValue, Map.empty)).toMap)
      faultPoint("upgrade.ref-written")
    }
    listCatalogTags().filter(n => refused(catalogTagSnapshot(n, schema, table))).foreach { n =>
      val p = catalogTagPath(n)
      val root = mapper.readTree(readString(p))
      root.get("members").elements.asScala
        .filter(m => m.get("schema").asText == schema && m.get("table").asText == table)
        .foreach(m => snapshotIntoNode(upgraded(m.get("snapshot"), Map.empty),
          m.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].putObject("snapshot")))
      writeString(p, mapper.writeValueAsString(root))
      SnapshotCatalog.catalogTagCache.clear()
      faultPoint("upgrade.ref-written")
    }
  }

  /** Compact the table: rewrite the current state into `numFiles` files as
    * a NEW snapshot whose manifests reference only the compacted files (a
    * rewrite commit, not an append). Reads keep working against older
    * snapshots until `expireSnapshots` runs, at which point the
    * pre-compaction files become unreferenced and are physically
    * reclaimed — the small-files lifecycle at scale: stream in, compact,
    * expire.
    */
  def compact(schema: String, table: String, numFiles: Int = 1,
              where: Option[org.apache.spark.sql.Column] = None): Snapshot = synchronized {
    val dir = tableDir(schema, table)
    val (commits, gen) = readCommitsWithGen(schema, table)
    require(commits.nonEmpty, s"Nothing to compact in $schema.$table")
    val last = commits.last
    val (id, at) = nextCommit(Some(last))
    val snapDir = snapDirName(schema, table, s"${attemptTag(id)}-compacted")
    val sorted = sortSpec(schema, table)
    val fieldsP = partitionFields(schema, table)
    /* cluster + write `base` as exactly `numFiles` files (not
     * partitionedWriter — its AQE-sized clustering shuffle would override
     * the explicit layout) */
    def writeCompacted(base0: DataFrame): Unit = {
      val base1 = withDeclaredFieldIds(schema, table, base0)
      // sorted compaction evaluates its input 3× (quantile cuts, range
      // sample, write) — persist across the passes like writeData does
      val base =
        if (sorted.isEmpty) base1
        else base1.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val compacted =
          if (sorted.isEmpty) base.coalesce(numFiles)
          else {
            // sorted table: hit the target file count WITH the sort order —
            // an explicit numFiles-way range shuffle + in-task sort instead
            // of coalesce (which would interleave sorted inputs)
            val (zdf, sortKeys, helpers) = sortKeyCols(base, sorted)
            val keys = fieldsP.map(f =>
              org.apache.spark.sql.functions.col(f.derivedName).asc) ++ sortKeys
            zdf.repartitionByRange(numFiles, keys: _*).sortWithinPartitions(keys: _*)
              .drop(helpers: _*)
          }
        val w =
          if (fieldsP.isEmpty) compacted.write
          else compacted.write.partitionBy(fieldsP.map(_.derivedName): _*)
        w.mode("errorifexists").parquet(new Path(dir, snapDir).toString)
      } finally if (sorted.nonEmpty) base.unpersist(false)
    }
    // Trino's scoped optimize (`EXECUTE optimize WHERE …`, Iceberg
    // rewrite_data_files with a filter): compact only the files whose
    // manifest bounds MAY match the predicate — at 100 TB you compact
    // yesterday's partition, not the table. The candidate set expands to
    // every file addressed by a pending positional delete so ALL deletes
    // fold in one rewrite (delete files cannot be split across a carried/
    // rewritten boundary); untouched files carry by manifest reference.
    val scoped: Option[Seq[DataFileEntry]] = where match {
      case Some(c) if last.manifestList.isDefined =>
        val all = manifestEntriesOf(dir, last)
        val cand = restrictByBounds(schema, table, Some(last), Some(c)) match {
          case Left(())     => Seq.empty[DataFileEntry]
          case Right(entOpt) => entOpt.getOrElse(all)
        }
        val tableKey = fs(dir).makeQualified(dir).toUri.getPath
        val addressedRel: Set[String] =
          if (last.deletes.isEmpty) Set.empty
          else spark.read.parquet(last.deletes.map(d => new Path(dir, d).toString): _*)
            .select("file_path").distinct().collect()
            .map(r => uriPath(new Path(r.getString(0)))
              .stripPrefix(tableKey).stripPrefix("/")).toSet
        val candSet = cand.map(_.path).toSet ++ addressedRel
        val entries = all.filter(e => candSet.contains(e.path))
        if (entries.size == all.size) None else Some(entries)
      case _ => None
    }
    val snap = scoped match {
      case Some(entries) if entries.isEmpty =>
        // bounds prove nothing matches: metadata-only replace, state kept
        Snapshot(id, at, declaredSchema(schema, table).map(_.json),
          Some("replace"), last.deletes, last.manifestList, None, last.eqDeletes)
      case Some(entries) =>
        val rows = withDerivedPartitionCols(schema, table,
          readSnapshotMeta(schema, table, Some(last), entriesOverride = Some(entries)))
        writeCompacted(rows)
        val f = fs(dir)
        val touchedKeys = entries.map(e =>
          uriPath(f.makeQualified(new Path(dir, e.path)))).toSet
        val (carried, _) = carryManifests(schema, table, Some(last), touchedKeys)
        val newEntries = scanEntries(dir, snapDir)
        val names = carried ++
          writeManifests(dir, newEntries)
        // scoped compaction: the rewritten subset read its eq-shadowed
        // rows out; carried files stay covered by the carried eq-deletes
        Snapshot(id, at, declaredSchema(schema, table).map(_.json),
          Some("replace"), Nil,
          Some(writeManifestList(dir, compactManifestSet(dir, names))),
          None, last.eqDeletes)
      case None =>
        // whole-table compaction; derived transform-partition columns
        // were dropped on read — re-derive
        writeCompacted(withDerivedPartitionCols(schema, table, readLatest(schema, table)))
        // rewrite: references only its own (freshly-manifested) files;
        // the compaction read applied pending deletes, so none carry
        Snapshot(id, at, declaredSchema(schema, table).map(_.json),
          Some("replace"), Nil,
          Some(writeManifestList(dir, writeManifests(dir, scanEntries(dir, snapDir)))))
    }
    faultPoint("compact.staged") // compacted files on disk, commit pending
    writeCommits(schema, table, commits :+ snap, gen)
    snap
  }

  // ---- free-form table properties (`_properties.json`) — the store
  //      behind policy properties like history.expire.min-snapshots-to-
  //      keep; layout properties (partitioning/sorted_by/bloom) keep
  //      their dedicated markers ----

  private def propsPath(schema: String, table: String) =
    new Path(tableDir(schema, table), "_properties.json")

  def tableProperty(schema: String, table: String, key: String): Option[String] = {
    val p = propsPath(schema, table)
    if (!fs(p).exists(p)) None
    else Option(mapper.readTree(readString(p)).get(key))
      .filterNot(_.isNull).map(_.asText)
  }

  def setTableProperty(schema: String, table: String,
                       key: String, value: String): Unit = synchronized {
    require(tableExists(schema, table), s"Table $schema.$table does not exist")
    val p = propsPath(schema, table)
    val root =
      if (fs(p).exists(p))
        mapper.readTree(readString(p))
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      else mapper.createObjectNode()
    root.put(key, value)
    writeString(p, mapper.writeValueAsString(root))
  }

  /** Keys and values of every free-form property (empty when none set). */
  def tableProperties(schema: String, table: String): Seq[(String, String)] = {
    val p = propsPath(schema, table)
    if (!fs(p).exists(p)) Nil
    else mapper.readTree(readString(p)).properties().asScala
      .map(e => e.getKey -> e.getValue.asText).toSeq.sortBy(_._1)
  }

  /** Expire snapshots committed before `olderThanMillis`, keeping at least
    * the latest. Data files, manifests and delete files still referenced
    * by a surviving snapshot (or a branch or tag) are kept; those
    * referenced only by expired snapshots are deleted. Time travel earlier
    * than the oldest surviving snapshot then reads as an empty table — the
    * same contract as Iceberg's expire_snapshots.
    */
  def expireSnapshots(schema: String, table: String, olderThanMillis: Long): Seq[Long] = synchronized {
    val dir = tableDir(schema, table)
    val (commits, gen) = readCommitsWithGen(schema, table)
    if (commits.isEmpty) return Nil
    // `history.expire.min-snapshots-to-keep` (Iceberg's
    // min-snapshots-to-keep): a retention FLOOR in snapshot count that
    // wins over the timestamp — the enforceable operating contract for
    // streaming tables, whose checkpointed offsets need their snapshot
    // retained across maintenance (an expired offset fails the stream)
    val minKeep = tableProperty(schema, table,
      "history.expire.min-snapshots-to-keep")
      .flatMap(_.toIntOption).filter(_ > 0).getOrElse(1)
    val floorIds = commits.takeRight(minKeep).map(_.snapshotId).toSet
    val (expired, kept0) = commits.partition(c =>
      c.committedAtMillis < olderThanMillis && !floorIds(c.snapshotId))
    val kept1 = if (kept0.isEmpty) Seq(commits.last) else kept0
    // a retained snapshot's equality deletes resolve their covered file
    // set through their appliesTo snapshot (readSnapshotMeta) — expiring
    // that snapshot would silently resurrect the shadowed rows, so
    // appliesTo-referenced snapshots are protected like ref heads
    val eqRefs = (kept1 ++ refSnapshots(schema, table))
      .flatMap(_.eqDeletes.map(_.appliesTo)).toSet
    val kept = commits.filter(c =>
      kept1.exists(_.snapshotId == c.snapshotId) || eqRefs(c.snapshotId))
    val reallyExpired = commits.filterNot(c => kept.exists(_.snapshotId == c.snapshotId))
    if (reallyExpired.isEmpty) return Nil
    // delete-file dirs participate like data dirs: referenced by a kept
    // snapshot → stay; referenced only by expired snapshots → reclaimed.
    // branch heads and pinned tags protect their snapshots' files exactly
    // like kept main-log snapshots (a branch outliving main-log expiry
    // must keep reading)
    val protectedSnaps = kept ++ refSnapshots(schema, table)
    val referenced = protectedSnaps
      .flatMap(c => c.deletes ++ c.eqDeletes.map(_.path)).toSet
    val orphanEntries = reallyExpired
      .flatMap(c => c.deletes ++ c.eqDeletes.map(_.path)).toSet -- referenced
    val f = fs(dir)
    val tableKey = f.makeQualified(dir).toUri.getPath
    // reclamation is file-accurate: an expired delete entry is deleted
    // wholesale only when no kept snapshot references any file under it;
    // otherwise only its unreferenced files go. Kept MANIFESTS protect
    // their data files the same way (no listing — the manifest names
    // them).
    val keptFiles: Set[String] =
      referenced.flatMap(e => dataFilesUnder(new Path(dir, e)).map(_.toUri.getPath)) ++
        protectedSnaps.flatMap(c => manifestEntriesOf(dir, c)).map(e => entryKey(tableKey, e))
    // METADATA FIRST (Iceberg's RemoveSnapshots order): the kept list
    // commits via the generation CAS BEFORE any file is deleted. The
    // previous delete-then-commit order had two failure shapes that
    // dangling-referenced deleted files: a crash between the deletes and
    // the commit left the full log pointing at reclaimed storage (time
    // travel to an "expired" snapshot read a hole), and a LOST CAS race
    // against a concurrent writer was worse — the winner's log still
    // carried the expired snapshots whose files this loser had already
    // deleted. Commit-first inverts both: a crash (or lost race) after
    // the CAS leaves only unreferenced orphan files, which
    // removeOrphanFiles reclaims.
    writeCommits(schema, table, kept, gen)
    faultPoint("expire.committed")
    orphanEntries.filterNot(_.startsWith("/")).foreach { dn =>
      val p = new Path(dir, dn)
      val mine = dataFilesUnder(p)
      if (mine.forall(m => !keptFiles(m.toUri.getPath))) f.delete(p, true)
      else mine.filterNot(m => keptFiles(m.toUri.getPath))
        .foreach(m => f.delete(m, false))
    }
    // manifest-tier reclamation: manifests (and manifest lists) referenced
    // only by expired snapshots go away, along with their data files no
    // kept snapshot references — file-accurate, then now-empty snap dirs
    // are swept
    def mNames(c: Snapshot): Seq[String] =
      c.manifestList.toSeq.flatMap(readManifestList(dir, _))
    val keptM = protectedSnaps.flatMap(mNames).toSet
    val keptMl = protectedSnaps.flatMap(_.manifestList).toSet
    val expiredM = reallyExpired.flatMap(mNames).toSet -- keptM
    val expiredMl = reallyExpired.flatMap(_.manifestList).toSet -- keptMl
    val touchedTop = scala.collection.mutable.Set.empty[String]
    expiredM.foreach { m =>
      readManifest(dir, m).foreach { e =>
        // adopted entries (absolute paths outside the table dir) are
        // NEVER reclaimed by this table's expire — the files belong to
        // their source location (add_files' "the source is never
        // affected" contract); only table-owned storage is deleted
        val key = entryKey(tableKey, e)
        if (!keptFiles(key) && key.startsWith(tableKey + "/")) {
          f.delete(new Path(dir, e.path), false)
          touchedTop += key.stripPrefix(tableKey + "/").split('/').head
        }
      }
      f.delete(new Path(manifestDirPath(dir), m), false)
    }
    expiredMl.foreach(ml => f.delete(new Path(manifestDirPath(dir), ml), false))
    touchedTop.foreach { top =>
      val p = new Path(dir, top)
      if (dataFilesUnder(p).isEmpty) f.delete(p, true)
    }
    reallyExpired.map(_.snapshotId)
  }

  /** Delete files under the table dir that no commit references and that
    * are not catalog metadata — the remove_orphan_files maintenance op
    * (failed-write debris at scale).
    */
  def removeOrphanFiles(schema: String, table: String): Seq[String] = synchronized {
    val dir = tableDir(schema, table)
    val f = fs(dir)
    // all refs' snapshots count as referencing: main log, branch logs,
    // pinned tags — a branch-only snap dir is NOT debris
    val commits = readCommits(schema, table) ++ refSnapshots(schema, table)
    // compare TOP-LEVEL names: a manifest entry references the snap dir
    // its path starts with
    val referenced = commits.flatMap(c =>
      c.deletes ++ c.eqDeletes.map(_.path) ++ manifestEntriesOf(dir, c).map(_.path))
      .map(_.split('/').head).toSet
    val keep = referenced ++
      Set("commits.json", "_table_schema.json", "_partition_spec.json",
        "_comments.json", "_format_version", "_sorted_by.json", "_manifests",
        "_tags.json", "_bloom_columns.json", "_log_segments",
        "_properties.json", "_identity", "_iceberg_source")
    // inside _log_segments: frozen log segments no surviving log file
    // (any generation of any ref) references.
    // Every log is read BEFORE anything is deleted, and a log that cannot
    // be read aborts the sweep: its segments would otherwise look
    // unreferenced and be deleted with it.
    val segRef = f.listStatus(dir).iterator.map(_.getPath).filter { p =>
      val n = p.getName
      commitGenRe.pattern.matcher(n).matches() || branchLogRe.pattern.matcher(n).matches()
    }.flatMap { p =>
      try {
        val root = mapper.readTree(readString(p))
        // an empty file parses to a MissingNode rather than failing
        if (!root.isContainerNode) throw new java.io.IOException("not a JSON log")
        segmentNamesIn(root)
      } catch {
        // GC'd by a concurrent commit since the listing: no longer a
        // surviving log, and a newer generation carries its segments
        case _: java.io.FileNotFoundException => Nil
        case e: Exception => throw new IllegalStateException(
          s"remove_orphan_files aborted: commit log $p is unreadable " +
            s"(${e.getMessage}); nothing was deleted", e)
      }
    }.toSet
    val sdir = logSegmentsDir(dir)
    val sOrphans =
      if (!f.exists(sdir)) Array.empty[Path]
      else f.listStatus(sdir).map(_.getPath).filterNot(p => segRef(p.getName))
    val orphans = f.listStatus(dir)
      .map(_.getPath)
      .filterNot(p => keep.contains(p.getName) ||
        // staged replace markers are in-flight commit state, not debris:
        // deleting one mid-CREATE-OR-REPLACE would reopen the crash
        // window the marker exists to close (readers pairing the new
        // head with the old declared schema). promoteReplaceStaged
        // reclaims them the moment the swap lands.
        p.getName.startsWith("_replace_staged-") ||
        commitGenRe.pattern.matcher(p.getName).matches() ||
        branchLogRe.pattern.matcher(p.getName).matches())
    orphans.foreach(p => f.delete(p, true))
    // inside _manifests: manifest/manifest-list files no ref references
    // (losers of commit races stage manifests BEFORE the rename decides —
    // same debris class as orphaned snap dirs)
    val mlRef = commits.flatMap(_.manifestList).toSet
    val mRef = commits.flatMap(c =>
      c.manifestList.toSeq.flatMap(readManifestList(dir, _))).toSet
    val mdir = manifestDirPath(dir)
    val mOrphans =
      if (!f.exists(mdir)) Array.empty[Path]
      else f.listStatus(mdir).map(_.getPath)
        .filterNot(p => mlRef(p.getName) || mRef(p.getName))
    mOrphans.foreach(p => f.delete(p, false))
    sOrphans.foreach(p => f.delete(p, false))
    (orphans.map(_.getName) ++ mOrphans.map(p => s"_manifests/${p.getName}") ++
      sOrphans.map(p => s"_log_segments/${p.getName}")).toSeq
  }

  // ---- branches and tags (Nessie-style named refs — the reference's
  //      catalog IS Nessie, docker-compose.yml:36 /
  //      TrinoConfigurationProvider.cs:45-47; Iceberg refs give the same
  //      queryable surface: write-to-branch, FOR VERSION AS OF 'ref',
  //      fast-forward) ----

  private def refNameOk(name: String): Boolean =
    name.matches("[A-Za-z][A-Za-z0-9_]*") && name != "main"

  /** A catalog VIEW of the same warehouse addressed through branch
    * `name`: every read, time travel, and DML commits against that
    * branch's own generation-versioned log (`branch-<name>-<gen>.json`),
    * with per-ref optimistic concurrency from the same exclusive-rename
    * protocol — while data files, manifests, and the declared schema stay
    * shared with the table. Writes through the view advance ONLY the
    * branch; `main` never sees them until [[fastForward]].
    */
  def branch(name: String): SnapshotCatalog = {
    require(refNameOk(name), s"Malformed branch name: '$name'")
    new SnapshotCatalog(spark, warehouse) {
      override protected def logPrefix: String = s"branch-$name"
    }
  }

  def branchExists(schema: String, table: String, name: String): Boolean =
    listBranches(schema, table).contains(name)

  private val branchLogRe = """branch-([A-Za-z][A-Za-z0-9_]*)-\d+\.json""".r

  def listBranches(schema: String, table: String): Seq[String] = {
    val dir = tableDir(schema, table)
    val f = fs(dir)
    if (!f.exists(dir)) return Nil
    f.listStatus(dir).iterator.map(_.getPath.getName).collect {
      case branchLogRe(n) => n
    }.toSeq.distinct.sorted
  }

  /** CALL system.create_branch: the branch starts at `fromSnapshotId`
    * (default: the current main head) by COPYING the snapshot list up to
    * it — cheap, since snapshots carry manifests by name. Exclusive
    * generation-0 create arbitrates concurrent creators.
    */
  def createBranch(schema: String, table: String, name: String,
                   fromSnapshotId: Option[Long] = None): Unit = synchronized {
    require(tableExists(schema, table), s"Table $schema.$table does not exist")
    require(refNameOk(name), s"Malformed branch name: '$name'")
    require(!branchExists(schema, table, name),
      s"Branch $name already exists on $schema.$table")
    val commits = readCommits(schema, table)
    val base = fromSnapshotId match {
      case None => commits
      case Some(id) =>
        val i = commits.indexWhere(_.snapshotId == id)
        require(i >= 0, s"Snapshot $id does not exist in $schema.$table")
        commits.take(i + 1)
    }
    branch(name).writeCommits(schema, table, base, -1L)
  }

  /** DROP BRANCH: the ref's log files go away; data files it alone
    * referenced become unreferenced debris for removeOrphanFiles.
    */
  def dropBranch(schema: String, table: String, name: String): Unit = synchronized {
    require(branchExists(schema, table, name),
      s"Branch $name does not exist on $schema.$table")
    val dir = tableDir(schema, table)
    val f = fs(dir)
    f.listStatus(dir).map(_.getPath).foreach { p =>
      p.getName match {
        case branchLogRe(n) if n == name => f.delete(p, false)
        case _ => ()
      }
    }
  }

  /** Fast-forward MAIN to branch `name` — allowed only when main has not
    * advanced since the branch last contained it (the branch's snapshot
    * list literally starts with main's list); otherwise the refs have
    * diverged and a fast-forward would drop main's commits.
    */
  def fastForward(schema: String, table: String, name: String): Unit = synchronized {
    require(branchExists(schema, table, name),
      s"Branch $name does not exist on $schema.$table")
    val (mainCommits, mainGen) = readCommitsWithGen(schema, table)
    val (branchCommits, _) = branch(name).readCommitsWithGen(schema, table)
    require(branchCommits.size >= mainCommits.size &&
      branchCommits.take(mainCommits.size) == mainCommits,
      s"main has diverged from branch $name on $schema.$table " +
        "(not fast-forwardable)")
    if (branchCommits.size > mainCommits.size)
      writeCommits(schema, table, branchCommits, mainGen)
  }

  /** Merge branch `name` into main (Nessie's merge,
    * projectnessie.org/features/ — the reference's catalog is Nessie,
    * docker-compose.yml:36). Three-way over the snapshot logs:
    *
    *  - branch not past the merge base → no-op (0 commits merged);
    *  - main not past the base → fast-forward main to the branch head;
    *  - both diverged AND every branch commit past the base is an
    *    append → replay: ONE new main snapshot carrying main's current
    *    files plus the data files the branch added since the base
    *    (manifest entries are reused verbatim — no footer re-reads, no
    *    data movement; metadata-only like every commit here);
    *  - both diverged with branch-side DML/rewrite → typed
    *    [[MergeConflictException]], Nessie's content-conflict answer —
    *    a rewrite's row-level outcome can depend on main-side rows the
    *    branch never saw, so replaying it silently would be wrong.
    *
    * After a successful merge the branch log is REBASED onto the merged
    * main head, so an immediate re-merge is a no-op instead of
    * double-applying the same appends. Returns merged commit count.
    */
  def mergeBranch(schema: String, table: String, name: String,
                  upTo: Option[Long] = None): Long = synchronized {
    require(branchExists(schema, table, name),
      s"Branch $name does not exist on $schema.$table")
    val dir = tableDir(schema, table)
    val (mainC, mainGen) = readCommitsWithGen(schema, table)
    val (branchFull, branchGen) = branch(name).readCommitsWithGen(schema, table)
    // `upTo` merges only the branch prefix ending at that snapshot id —
    // the catalog-ref materializer's contract: a publish pinned headId X,
    // so branch commits made AFTER the pin must not ride into main with
    // it (readers of the overlay observed exactly X). When truncating,
    // the branch log is left un-rebased so the post-pin commits survive.
    val branchC = upTo match {
      case None => branchFull
      case Some(hid) =>
        val i = branchFull.indexWhere(_.snapshotId == hid)
        require(i >= 0, s"Branch $name on $schema.$table no longer holds " +
          s"snapshot $hid")
        branchFull.take(i + 1)
    }
    val truncated = branchC.size < branchFull.size
    val common = mainC.zip(branchC).takeWhile { case (a, b) => a == b }.length
    val branchNew = branchC.drop(common)
    if (branchNew.isEmpty) return 0L
    if (common == mainC.length) { // main unmoved since base: fast-forward
      writeCommits(schema, table, branchC, mainGen)
      return branchNew.length.toLong
    }
    if (!branchNew.forall(_.operation.contains("append")))
      throw new MergeConflictException(schema, table, name,
        s"Cannot merge branch $name into main on $schema.$table: both refs " +
          "advanced since the merge base and the branch side contains " +
          "non-append commits (DML/rewrite) — resolve on the branch " +
          "(recreate it from main and re-apply) or merge before diverging")
    val basePaths =
      if (common == 0) Set.empty[String]
      else manifestEntriesOf(dir, branchC(common - 1)).map(_.path).toSet
    val mainHead = mainC.last
    // exclude entries main ALREADY references: a prior merge attempt that
    // committed main but lost the branch-rebase CAS leaves the replay in
    // main — a retry must not append the same files twice (entry paths
    // are attempt-unique, so path identity is file identity)
    val mainPaths = manifestEntriesOf(dir, mainHead).map(_.path).toSet
    val added = manifestEntriesOf(dir, branchC.last)
      .filterNot(e => basePaths.contains(e.path) || mainPaths.contains(e.path))
    if (added.isEmpty) {
      // nothing left to replay (retry after a half-completed merge):
      // only the branch rebase remains
      if (!truncated) branch(name).writeCommits(schema, table, mainC, branchGen)
      return branchNew.length.toLong
    }
    val carried = mainHead.manifestList.toSeq.flatMap(readManifestList(dir, _))
    val names = carried ++
      writeManifests(dir, added)
    val ml = writeManifestList(dir, compactManifestSet(dir, names))
    val (id, at) = nextCommit(Some(mainHead))
    val snap = Snapshot(id, at,
      declaredSchema(schema, table).map(_.json), Some("append"),
      mainHead.deletes, Some(ml), None, mainHead.eqDeletes)
    writeCommits(schema, table, mainC :+ snap, mainGen)
    faultPoint("merge.main-committed") // merged into main, branch not yet rebased
    if (!truncated) branch(name).writeCommits(schema, table, mainC :+ snap, branchGen)
    branchNew.length.toLong
  }

  // tags: immutable named pointers; the full snapshot entry is PINNED in
  // _tags.json, so a tag read survives main-log expiry of the snapshot
  // (data reclamation respects tag references — see expireSnapshots)
  private def tagsPath(schema: String, table: String) =
    new Path(tableDir(schema, table), "_tags.json")

  def listTags(schema: String, table: String): Map[String, Snapshot] = {
    val p = tagsPath(schema, table)
    if (!fs(p).exists(p)) return Map.empty
    mapper.readTree(readString(p)).properties().asScala
      .map(e => e.getKey -> snapshotFromNode(e.getValue, s"$schema.$table")).toMap
  }

  def createTag(schema: String, table: String, name: String,
                snapshotId: Option[Long] = None): Unit = synchronized {
    require(tableExists(schema, table), s"Table $schema.$table does not exist")
    require(refNameOk(name), s"Malformed tag name: '$name'")
    val tags = listTags(schema, table)
    require(!tags.contains(name), s"Tag $name already exists on $schema.$table")
    val commits = readCommits(schema, table)
    require(commits.nonEmpty, s"Cannot tag an empty history on $schema.$table")
    val snap = snapshotId match {
      case None => commits.last
      case Some(id) => commits.find(_.snapshotId == id).getOrElse(
        throw new IllegalArgumentException(
          s"Snapshot $id does not exist in $schema.$table"))
    }
    writeTags(schema, table, tags + (name -> snap))
  }

  def dropTag(schema: String, table: String, name: String): Unit = synchronized {
    val tags = listTags(schema, table)
    require(tags.contains(name), s"Tag $name does not exist on $schema.$table")
    writeTags(schema, table, tags - name)
  }

  private def writeTags(schema: String, table: String,
                        tags: Map[String, Snapshot]): Unit = {
    val o = mapper.createObjectNode()
    tags.toSeq.sortBy(_._1).foreach { case (n, s) =>
      snapshotIntoNode(s, o.putObject(n))
    }
    writeString(tagsPath(schema, table), mapper.writeValueAsString(o))
  }

  /** Read a named ref: a branch's head, a pinned tag (snapshot-schema
    * faithful, like any time travel), or 'main'. The string form behind
    * SQL `FOR VERSION AS OF '<ref>'` (Trino Iceberg branch/tag reads).
    */
  def readRef(schema: String, table: String, ref: String): DataFrame =
    if (ref == "main") readLatest(schema, table)
    else if (branchExists(schema, table, ref)) branch(ref).readLatest(schema, table)
    else listTags(schema, table).get(ref) match {
      case Some(snap) => readSnapshot(schema, table, Some(snap), useSnapshotSchema = true)
      case None =>
        // resolution order branch > table tag > CATALOG tag: a catalog
        // tag pinning this table serves the same `FOR VERSION AS OF
        // '<ref>'` spelling, so one tag name queries every member at a
        // consistent whole-catalog state
        catalogTagSnapshot(ref, schema, table) match {
          case Some(snap) =>
            readSnapshot(schema, table, Some(snap), useSnapshotSchema = true)
          case None => throw new IllegalArgumentException(
            s"Ref '$ref' is neither a branch nor a tag of $schema.$table")
        }
    }

  /** Snapshots referenced by OTHER refs (branches + per-table tags +
    * catalog tags) — what data reclamation must protect beyond the main
    * log.
    */
  private def refSnapshots(schema: String, table: String): Seq[Snapshot] =
    listBranches(schema, table)
      .flatMap(b => branch(b).readCommitsWithGen(schema, table)._1) ++
      listTags(schema, table).values ++
      listCatalogTags().flatMap(n => catalogTagSnapshot(n, schema, table))

  // ---- catalog-level tags: immutable named states of the WHOLE
  //      catalog (Nessie's tag model at catalog scope — the audit /
  //      reproducibility read: "query every table as tagged
  //      v2026-08"). One immutable file pins the FULL snapshot entry
  //      of every table at creation instant, so tag reads survive
  //      main-log expiry exactly like per-table tags, and data
  //      reclamation protects the pinned snapshots ([[refSnapshots]]).
  //      ----

  private def catalogTagsDir = new Path(s"$warehouse/_catalog_tags")
  private def catalogTagPath(name: String) =
    new Path(catalogTagsDir, s"$name.json")

  def listCatalogTags(): Seq[String] = {
    val d = catalogTagsDir
    val f = fs(d)
    if (!f.exists(d)) return Nil
    f.listStatus(d).iterator.map(_.getPath.getName)
      .filter(_.endsWith(".json")).map(_.stripSuffix(".json")).toSeq.sorted
  }

  /** Tag the CURRENT main state of every table in the catalog (or of
    * `tables` when given) as immutable catalog tag `name`. Exclusive
    * create: a second same-name tag fails; the recorded state never
    * moves.
    */
  def createCatalogTag(name: String,
                       tables: Seq[(String, String)] = Nil): Unit = synchronized {
    require(refNameOk(name), s"Malformed catalog tag name: '$name'")
    val members =
      if (tables.nonEmpty) tables
      else listSchemas().flatMap(s => listTables(s).map((s, _)))
    require(members.nonEmpty, "Cannot tag an empty catalog")
    members.foreach { case (s, t) =>
      require(tableExists(s, t), s"Table $s.$t does not exist") }
    val root = mapper.createObjectNode()
    val arr = root.putArray("members")
    members.foreach { case (s, t) =>
      readCommits(s, t).lastOption.foreach { head =>
        val o = arr.addObject()
        o.put("schema", s)
        o.put("table", t)
        snapshotIntoNode(head, o.putObject("snapshot"))
      }
    }
    require(arr.size > 0, s"Catalog tag $name: no member has any commit yet")
    val d = catalogTagsDir
    val f = fs(d)
    mkdirsFast(d)
    val target = catalogTagPath(name)
    if (f.exists(target))
      throw new IllegalArgumentException(s"Catalog tag $name already exists")
    val tmp = new Path(d, "." + target.getName + "." +
      java.util.UUID.randomUUID().toString.take(8) + ".tmp")
    stageBytes(tmp, mapper.writeValueAsString(root).getBytes("UTF-8"))
    try renameNoReplace(tmp, target)
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
           _: java.nio.file.FileAlreadyExistsException =>
        f.delete(tmp, false)
        throw new IllegalArgumentException(s"Catalog tag $name already exists")
    }
  }

  def dropCatalogTag(name: String): Unit = synchronized {
    val p = catalogTagPath(name)
    require(fs(p).exists(p), s"Catalog tag $name does not exist")
    fs(p).delete(p, false)
  }

  /** The pinned snapshot catalog tag `name` records for `schema.table`
    * (None when no such tag, or the tag does not pin this table). Tag
    * files are immutable → parsed members cache process-wide by
    * (path, mtime, length) like ref states. A member's snapshot decodes
    * on lookup, so a member of another table still in the pre-manifest
    * format fails only that table's reads.
    */
  private[catalog] def catalogTagSnapshot(name: String, schema: String,
                                          table: String): Option[Snapshot] = {
    if (!refNameOk(name)) return None
    val p = catalogTagPath(name)
    val f = fs(p)
    val st = try {
      if (!f.exists(p)) return None
      f.getFileStatus(p)
    } catch { case _: java.io.FileNotFoundException => return None }
    val key = s"$p@${st.getModificationTime}:${st.getLen}"
    val members = SnapshotCatalog.catalogTagCache.computeIfAbsent(key, _ => {
      val root = mapper.readTree(readString(p))
      root.get("members").elements.asScala.map(m =>
        (m.get("schema").asText, m.get("table").asText, m.get("snapshot"))).toSeq
    })
    members.collectFirst { case (s, t, snap) if s == schema && t == table =>
      snapshotFromNode(snap, s"$schema.$table") }
  }

  // ---- catalog-level refs: multi-table branches with ONE atomic
  //      publish (Nessie's defining feature — git-like refs over the
  //      WHOLE catalog; the reference's catalog IS Nessie,
  //      docker-compose.yml:36 / TrinoConfigurationProvider.cs:45-47.
  //      Per-table branches cannot publish a fact + dimension table
  //      atomically, which is exactly the write-audit-publish scenario
  //      the branch surface exists for). ----
  //
  // State lives in generation-versioned files under
  // `<warehouse>/_catalog_refs/<name>-<gen>.json` with the same
  // exclusive-rename CAS as the commit log. Lifecycle:
  //   open       — members carry per-table branches (ordinary branch
  //                logs, same namespace as table branches); writes go
  //                through branch views; main sees nothing.
  //   published  — ONE CAS pins every member's branch head; from that
  //                instant main reads of every member resolve the pinned
  //                branch state simultaneously (all-or-nothing — the
  //                read-side overlay below). Materialization then
  //                fast-forwards each member's physical main log (each
  //                a no-op to readers) and retires the ref; a crash
  //                mid-way leaves a published ref that keeps serving
  //                consistently and heals on the next materialize call.

  private def catalogRefsDir = new Path(s"$warehouse/_catalog_refs")
  private val catalogRefGenRe = """([A-Za-z][A-Za-z0-9_]*)-(\d+)\.json""".r

  /** (state, members) of every live catalog ref, keyed by name, paired
    * with the generation it was read at. Gen files are immutable →
    * parsed states cache process-wide by path.
    */
  def listCatalogBranches(): Map[String, CatalogRefState] =
    catalogRefStates().map { case (n, (_, st)) => n -> st }

  private def catalogRefStates(): Map[String, (Long, CatalogRefState)] = {
    val d = catalogRefsDir
    val f = fs(d)
    if (!f.exists(d)) return Map.empty
    var attempt = 0
    while (true) {
      attempt += 1
      try {
        return f.listStatus(d).iterator.flatMap(s => s.getPath.getName match {
          case catalogRefGenRe(n, g) => Iterator.single((n, g.toLong, s))
          case _                     => Iterator.empty
        }).toSeq.groupBy(_._1).map { case (n, gs) =>
          val (_, g, s) = gs.maxBy(_._2)
          val p = s.getPath
          // generation numbers RESTART at 0 after materialize/drop delete
          // every gen file of a ref, so the path alone is ambiguous
          // across a drop-and-recreate of the same name — the cache key
          // carries (mtime, length) so a recreated same-path state is
          // never served from the retired ref's parse
          val key = s"$p@${s.getModificationTime}:${s.getLen}"
          val st = SnapshotCatalog.catalogRefCache.computeIfAbsent(key, _ => {
            val root = mapper.readTree(readString(p))
            CatalogRefState(root.get("state").asText,
              root.get("members").elements.asScala.map(m =>
                CatalogRefMember(m.get("schema").asText, m.get("table").asText,
                  Option(m.get("headId")).filterNot(_.isNull).map(_.asLong))).toSeq)
          })
          n -> (g, st)
        }
      } catch {
        // list-then-read races the immediate gen GC in
        // writeCatalogRefState / materialize / drop: a concurrent CAS
        // deletes the gen we listed before we parse it. The new state is
        // already durable — re-list and read that instead of failing an
        // unrelated table read.
        case _: java.io.FileNotFoundException if attempt < 5 => ()
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** CAS the ref state to generation `expectedGen + 1` (exclusive
    * rename; a concurrent updater surfaces as a typed conflict).
    */
  private def writeCatalogRefState(name: String, expectedGen: Long,
                                   st: CatalogRefState): Unit = {
    val d = catalogRefsDir
    val f = fs(d)
    mkdirsFast(d)
    val root = mapper.createObjectNode()
    root.put("state", st.state)
    val arr = root.putArray("members")
    st.members.foreach { m =>
      val o = arr.addObject()
      o.put("schema", m.schema)
      o.put("table", m.table)
      m.headId.foreach(o.put("headId", _))
    }
    val target = new Path(d, f"$name-${expectedGen + 1}%06d.json")
    if (f.exists(target))
      throw new CommitConflictException("_catalog_refs", name, expectedGen)
    val tmp = new Path(d, "." + target.getName + "." +
      java.util.UUID.randomUUID().toString.take(8) + ".tmp")
    stageBytes(tmp, mapper.writeValueAsString(root).getBytes("UTF-8"))
    try renameNoReplace(tmp, target)
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
           _: java.nio.file.FileAlreadyExistsException =>
        f.delete(tmp, false)
        throw new CommitConflictException("_catalog_refs", name, expectedGen)
    }
    // old ref generations are superseded immediately — GC best-effort
    try {
      f.listStatus(d).foreach(s => s.getPath.getName match {
        case catalogRefGenRe(n, g) if n == name && g.toLong < expectedGen + 1 =>
          f.delete(s.getPath, false)
        case _ => ()
      })
    } catch { case _: Exception => () }
  }

  /** Create catalog branch `name` over `tables`: each member gets an
    * ordinary per-table branch of the same name (so every existing
    * branch surface — branch views, SQL `"t@branch"` DML, merge —
    * works unchanged), tied together by one catalog ref record.
    */
  def createCatalogBranch(name: String, tables: Seq[(String, String)]): Unit = synchronized {
    require(refNameOk(name), s"Malformed catalog branch name: '$name'")
    require(tables.nonEmpty, "A catalog branch needs at least one member table")
    tables.foreach { case (s, t) =>
      require(tableExists(s, t), s"Table $s.$t does not exist") }
    require(!catalogRefStates().contains(name),
      s"Catalog branch $name already exists")
    // a pre-existing same-name per-table branch is NOT adopted: its log
    // was cut from an older main (a materialized predecessor's leftover
    // or an independent table branch), so silently reusing it would base
    // branch writes on stale data and make publish throw a spurious
    // divergence conflict. Materialize drops fully-consumed member
    // branches, so the common recreate flow never hits this.
    val taken = tables.filter { case (s, t) => branchExists(s, t, name) }
    require(taken.isEmpty,
      s"Catalog branch $name: per-table branch '$name' already exists on " +
        taken.map { case (s, t) => s"$s.$t" }.mkString(", ") +
        " — drop it (or pick another name) so members branch from current main")
    tables.foreach { case (s, t) => createBranch(s, t, name) }
    writeCatalogRefState(name, -1L,
      CatalogRefState("open", tables.map { case (s, t) =>
        CatalogRefMember(s, t, None) }))
  }

  /** Publish catalog branch `name` to main ATOMICALLY: after checking
    * every member is fast-forwardable (main has not advanced past the
    * branch — otherwise a typed [[CatalogPublishConflictException]]
    * naming the diverged tables, with nothing published), ONE ref-state
    * CAS pins every member's branch head. From that instant a main read
    * of ANY member resolves the pinned branch state — a reader can
    * never observe one member published without the others. The
    * physical main logs then materialize (each a reader-invisible
    * fast-forward) and the ref retires.
    */
  def publishCatalogBranch(name: String): Unit = synchronized {
    publishCatalogBranchCas(name)
    materializeCatalogBranch(name)
  }

  /** The CAS half of publish, separated so tests and operators can
    * exercise the published-but-not-yet-materialized window (the crash
    * shape): after it returns, every member's pinned branch head is
    * main-visible, and [[materializeCatalogBranch]] (or any later
    * writer/reader) completes the physical fast-forward.
    */
  def publishCatalogBranchCas(name: String): Unit = synchronized {
    val (gen, st) = catalogRefStates().getOrElse(name,
      throw new IllegalArgumentException(s"Catalog branch $name does not exist"))
    if (st.state != "open") return // already published: idempotent
    val checks = st.members.map { m =>
      val (mainC, _) = readCommitsWithGen(m.schema, m.table)
      val (bc, _) = branch(name).readCommitsWithGen(m.schema, m.table)
      val ok = bc.size >= mainC.size && bc.take(mainC.size) == mainC
      (m, bc, ok)
    }
    val bad = checks.collect { case (m, _, false) => s"${m.schema}.${m.table}" }
    if (bad.nonEmpty)
      throw new CatalogPublishConflictException(name, bad,
        s"Cannot publish catalog branch $name: main advanced past the " +
          s"branch on ${bad.mkString(", ")} — recreate the branch from " +
          "current main and re-apply, or merge those tables individually")
    val pinned = checks.map { case (m, bc, _) =>
      m.copy(headId = bc.lastOption.map(_.snapshotId)) }
    writeCatalogRefState(name, gen, CatalogRefState("published", pinned))
  }

  /** Three-way merge of catalog branch `name` whose members may have
    * DIVERGED from main (both refs advanced since the base) — the path
    * [[publishCatalogBranch]] refuses. Nessie's catalog-scope merge
    * shape (the reference's catalog, docker-compose.yml:36), built from
    * the pieces already here:
    *
    * 1. Conflict scan (nothing mutated): every diverged member's
    *    branch-side commits must all be appends — the same replay rule
    *    as the per-table [[mergeBranch]] — else a typed
    *    [[CatalogPublishConflictException]] naming every conflicted
    *    member, with nothing published.
    * 2. Rebase each member's BRANCH log onto current main (replay the
    *    branch-only appends on top of main's head as one synthesized
    *    append commit). Branch-side writes only: main readers observe
    *    nothing.
    * 3. The standard publish CAS pins every rebased head in ONE ref
    *    generation — the all-or-nothing instant — then materializes.
    *
    * A main writer racing between rebase and CAS surfaces as the
    * publish conflict; the loop re-rebases and retries. Failure at any
    * point leaves main untouched (rebased branch logs are the only
    * residue, and a rebased branch is a VALID branch state: main's new
    * data merged in, branch work preserved).
    */
  def mergeCatalogBranch(name: String): Unit = synchronized {
    var attempts = 0
    while (true) {
      attempts += 1
      val (_, st) = catalogRefStates().getOrElse(name,
        throw new IllegalArgumentException(s"Catalog branch $name does not exist"))
      if (st.state != "open") { materializeCatalogBranch(name); return }
      val conflicts = st.members.flatMap { m =>
        val (mainC, _) = readCommitsWithGen(m.schema, m.table)
        val (bc, _) = branch(name).readCommitsWithGen(m.schema, m.table)
        val common = mainC.zip(bc).takeWhile { case (a, b) => a == b }.length
        val branchNew = bc.drop(common)
        if (common < mainC.length && branchNew.nonEmpty &&
            !branchNew.forall(_.operation.contains("append")))
          Some(s"${m.schema}.${m.table}")
        else None
      }
      if (conflicts.nonEmpty)
        throw new CatalogPublishConflictException(name, conflicts,
          s"Cannot merge catalog branch $name: ${conflicts.mkString(", ")} " +
            "diverged from main with non-append branch commits (DML/rewrite) " +
            "— resolve those tables on the branch and retry; nothing was " +
            "published")
      st.members.foreach(m => rebaseBranchOntoMain(m.schema, m.table, name))
      try {
        publishCatalogBranchCas(name)
        materializeCatalogBranch(name)
        return
      } catch {
        case e: CatalogPublishConflictException =>
          // a main writer slipped in after the rebase — re-scan and
          // re-rebase on top of the new main
          if (attempts >= 5) throw e
      }
    }
  }

  /** Rebase one member's branch log onto current main: fast-forward the
    * branch when one side is unmoved, otherwise replay the branch-only
    * appends as ONE synthesized append on top of main's head (same
    * dedup/carry rules as [[mergeBranch]], writing the BRANCH side).
    * Main is never touched.
    */
  private def rebaseBranchOntoMain(schema: String, table: String,
                                   name: String): Unit = {
    val dir = tableDir(schema, table)
    val (mainC, _) = readCommitsWithGen(schema, table)
    val (bc, bGen) = branch(name).readCommitsWithGen(schema, table)
    val common = mainC.zip(bc).takeWhile { case (a, b) => a == b }.length
    val branchNew = bc.drop(common)
    if (common == mainC.length) return // branch extends main already
    if (branchNew.isEmpty) { // branch unmoved: fast-forward it to main
      branch(name).writeCommits(schema, table, mainC, bGen)
      return
    }
    require(branchNew.forall(_.operation.contains("append")),
      s"rebase of $schema.$table branch $name hit non-append branch " +
        "commits — the conflict scan should have rejected this merge")
    val basePaths =
      if (common == 0) Set.empty[String]
      else manifestEntriesOf(dir, bc(common - 1)).map(_.path).toSet
    val mainHead = mainC.last
    val mainPaths = manifestEntriesOf(dir, mainHead).map(_.path).toSet
    val added = manifestEntriesOf(dir, bc.last)
      .filterNot(e => basePaths.contains(e.path) || mainPaths.contains(e.path))
    if (added.isEmpty) { // everything already reachable from main
      branch(name).writeCommits(schema, table, mainC, bGen)
      return
    }
    val carried = mainHead.manifestList.toSeq.flatMap(readManifestList(dir, _))
    val ml = writeManifestList(dir,
      compactManifestSet(dir, carried ++ writeManifests(dir, added)))
    val id = math.max(mainHead.snapshotId, bc.last.snapshotId) + 1
    val at = nextCommit(Some(mainHead))._2
    val snap = Snapshot(id, at,
      declaredSchema(schema, table).map(_.json), Some("append"),
      mainHead.deletes, Some(ml), None, mainHead.eqDeletes)
    branch(name).writeCommits(schema, table, mainC :+ snap, bGen)
  }

  /** Fast-forward every member's physical main log to its pinned branch
    * head and retire the ref. Reader-invisible (the overlay already
    * serves the pinned state); idempotent and crash-resumable. A racing
    * main writer that slipped between the publish check and the CAS
    * surfaces as a replay: its commit wins the generation race and the
    * pinned appends merge on top ([[mergeBranch]] semantics); a
    * non-append branch in that rare shape throws, keeping the ref
    * published for manual resolution.
    */
  def materializeCatalogBranch(name: String): Unit = synchronized {
    val (_, st) = catalogRefStates().getOrElse(name, return)
    if (st.state != "published") return
    st.members.foreach { m =>
      m.headId.foreach { hid =>
        var attempts = 0
        var done = false
        while (!done && attempts < 5) {
          attempts += 1
          val (mainRaw, g) = readCommitsWithGenRaw(m.schema, m.table)
          if (mainRaw.exists(_.snapshotId == hid)) done = true
          else {
            val (bc, _) = branch(name).readCommitsWithGen(m.schema, m.table)
            val idx = bc.indexWhere(_.snapshotId == hid)
            require(idx >= 0, s"Catalog ref $name pins snapshot $hid of " +
              s"${m.schema}.${m.table}, which its branch log no longer holds")
            val pinnedList = bc.take(idx + 1)
            if (pinnedList.startsWith(mainRaw))
              try { writeCommits(m.schema, m.table, pinnedList, g); done = true }
              catch { case _: CommitConflictException => () } // re-read, retry
            else
              // a racing pre-publish writer won the main generation:
              // replay the pinned branch commits on top via the
              // three-way merge (typed conflict if not replayable).
              // upTo pins the replay at the PUBLISHED head — branch
              // commits made after the publish CAS were never part of
              // the atomic overlay readers observed and stay on the
              // branch
              { mergeBranch(m.schema, m.table, name, upTo = Some(hid)); done = true }
          }
        }
        require(done, s"Could not materialize catalog ref $name on " +
          s"${m.schema}.${m.table} after $attempts attempts")
      }
      // one member's physical log fast-forwarded, later members still
      // overlay-served — the window where materialization is half done
      faultPoint("catref.member-materialized")
    }
    // retire fully-consumed member branches: once every branch commit is
    // reachable from main, the leftover branch log would only mislead a
    // later createCatalogBranch of the same name (its base is the OLD
    // main — create rejects such leftovers). A branch with post-publish
    // commits stays: it still carries unpublished work.
    st.members.foreach { m =>
      if (branchExists(m.schema, m.table, name)) {
        val (mainNow, _) = readCommitsWithGenRaw(m.schema, m.table)
        val (bc, _) = branch(name).readCommitsWithGen(m.schema, m.table)
        val mainIds = mainNow.map(_.snapshotId).toSet
        if (bc.lastOption.forall(h => mainIds(h.snapshotId)))
          dropBranch(m.schema, m.table, name)
      }
    }
    faultPoint("catref.pre-retire") // all members physical, ref record still on disk
    val d = catalogRefsDir
    val f = fs(d)
    f.listStatus(d).map(_.getPath).foreach { p =>
      p.getName match {
        case catalogRefGenRe(n, _) if n == name => f.delete(p, false)
        case _ => ()
      }
    }
  }

  /** Drop an OPEN catalog branch: the ref record and every member's
    * branch log go away (their branch-only data files become debris for
    * removeOrphanFiles). A published ref must materialize instead —
    * readers already observe it.
    */
  def dropCatalogBranch(name: String): Unit = synchronized {
    val (_, st) = catalogRefStates().getOrElse(name,
      throw new IllegalArgumentException(s"Catalog branch $name does not exist"))
    require(st.state == "open",
      s"Catalog branch $name is published — call materializeCatalogBranch")
    st.members.foreach(m =>
      if (branchExists(m.schema, m.table, name)) dropBranch(m.schema, m.table, name))
    val d = catalogRefsDir
    val f = fs(d)
    f.listStatus(d).map(_.getPath).foreach { p =>
      p.getName match {
        case catalogRefGenRe(n, _) if n == name => f.delete(p, false)
        case _ => ()
      }
    }
  }

  /** Published-ref overlay for main reads: when a published catalog ref
    * pins this table and its pinned branch prefix extends the physical
    * main log, serve the pinned prefix — the mechanism that makes a
    * multi-table publish visible all-or-nothing. One `exists` probe on
    * the (usually absent) `_catalog_refs` dir per main log read.
    */
  private def publishedOverlay(schema: String, table: String,
                               base: Seq[Snapshot]): Seq[Snapshot] = {
    var best = base
    catalogRefStates().foreach { case (name, (_, st)) =>
      if (st.state == "published")
        st.members.find(m => m.schema == schema && m.table == table)
          .flatMap(_.headId).foreach { hid =>
            val (bc, _) = branch(name).readCommitsWithGen(schema, table)
            val idx = bc.indexWhere(_.snapshotId == hid)
            if (idx >= 0) {
              val pinned = bc.take(idx + 1)
              if (pinned.size > best.size && pinned.startsWith(best)) best = pinned
            }
          }
    }
    best
  }

  // ---- commit log I/O (driver-side metadata only) ----
  //
  // The commit log is GENERATION-VERSIONED (Iceberg's v<N>.metadata.json
  // model): each commit writes the full snapshot list to a NEW
  // `commits-<gen>.json` via temp-file + EXCLUSIVE rename (no overwrite).
  // Two writers racing from the same observed generation both target the
  // same next-generation file — the loser's rename fails and surfaces as
  // a typed [[CommitConflictException]], never a clobbered log: the
  // optimistic-concurrency contract the reference gets from Trino+Nessie
  // (TrinoConfigurationProvider.cs:45-47). Readers resolve the max
  // generation present. `commits.json` is the table-exists marker ("[]");
  // with no generation file yet it reads as the empty log at generation 0.

  /** Commit-log file prefix — "commits" for the main ref; a branch view
    * ([[branch]]) overrides it to `branch-<name>`, which makes EVERY
    * catalog operation (reads, time travel, the whole DML machinery)
    * address that branch's own generation-versioned log while sharing the
    * table's data/manifest storage — the Nessie model of named refs over
    * shared immutable snapshots.
    */
  protected def logPrefix: String = "commits"
  private lazy val commitGenRe =
    (java.util.regex.Pattern.quote(logPrefix) + """-(\d+)\.json""").r
  private def genPath(dir: Path, gen: Long) =
    new Path(dir, f"$logPrefix-$gen%06d.json")

  /** (snapshot list, commit-log generation it was read at). (Nil, -1) for
    * a table directory with no commit log at all. Main-ref reads resolve
    * through the published catalog-ref overlay ([[publishedOverlay]]):
    * the returned generation stays the PHYSICAL main generation, so a
    * writer committing on top of an overlaid read materializes the
    * published prefix as a side effect (self-healing fast-forward).
    */
  private[catalog] def readCommitsWithGen(schema: String, table: String): (Seq[Snapshot], Long) = {
    val (base, g) = readCommitsWithGenRaw(schema, table)
    if (logPrefix != "commits" || g < 0) (base, g)
    else (publishedOverlay(schema, table, base), g)
  }

  /** The physical log read, no catalog-ref overlay (materialization and
    * crash-healing need the on-disk truth).
    */
  private def readCommitsWithGenRaw(schema: String, table: String): (Seq[Snapshot], Long) = {
    val dir = tableDir(schema, table)
    val f = fs(dir)
    if (!f.exists(dir)) return (Nil, -1L)
    val statuses = f.listStatus(dir)
    val gens = statuses.iterator.flatMap(_.getPath.getName match {
      case commitGenRe(g) => Iterator.single(g.toLong)
      case _              => Iterator.empty
    }).toSeq
    // CREATE OR REPLACE crash repair: staged markers found in the SAME
    // listing — zero extra I/O on the common no-marker path
    val staged =
      if (logPrefix != "commits") Nil
      else statuses.iterator.map(_.getPath.getName)
        .filter(_.startsWith("_replace_staged-")).toSeq
    val result =
      if (gens.nonEmpty) {
        val g = gens.max
        (parseLog(dir, readString(genPath(dir, g)), s"$schema.$table"), g)
      } else if (logPrefix == "commits") {
        val marker = new Path(dir, "commits.json")
        if (!f.exists(marker)) (Nil, -1L)
        else if (readString(marker).trim == "[]") (Nil, 0L)
        else throw new LegacyTableFormatException(s"$schema.$table") // pre-versioning log
      } else (Nil, -1L) // a ref with no log yet
    if (staged.nonEmpty) promoteReplaceStaged(dir, result._1, staged)
    result
  }

  /** Finish (or discard) a CREATE OR REPLACE whose commit CAS succeeded
    * but whose declared-schema/layout markers were not yet swapped — the
    * crash window between the two. Idempotent; any reader may run it:
    * the authoritative content comes from the HEAD snapshot's pinned
    * schemaJson (a replace resets partition/sort/bloom layout by
    * contract), the staged marker is only the trigger. Markers for lost
    * or superseded attempts delete as debris; a marker AHEAD of the head
    * (an attempt whose CAS has not happened yet) is left alone.
    */
  private def promoteReplaceStaged(dir: Path, commits: Seq[Snapshot],
                                   staged: Seq[String]): Unit = {
    val head = commits.lastOption
    staged.foreach { name =>
      name.stripPrefix("_replace_staged-").stripSuffix(".json").toLongOption
        .foreach { n =>
          head match {
            case Some(h) if h.snapshotId == n && h.operation.contains("replace") =>
              h.schemaJson.foreach(j =>
                writeString(new Path(dir, "_table_schema.json"), j))
              for (m <- Seq("_partition_spec.json", "_sorted_by.json",
                  "_bloom_columns.json")) {
                val p = new Path(dir, m)
                fs(p).delete(p, false)
              }
              fs(dir).delete(new Path(dir, name), false)
            case Some(h) if h.snapshotId >= n =>
              fs(dir).delete(new Path(dir, name), false) // lost attempt
            case _ => () // pending attempt (id ahead of head): leave
          }
        }
    }
  }

  private def readCommits(schema: String, table: String): Seq[Snapshot] =
    readCommitsWithGen(schema, table)._1

  /** The log's object form `{"schemas": {id: json}, "snapshots": [...]}`:
    * each snapshot carries a `schemaId` — Iceberg's schema-id model: a
    * table with 10⁴ commits and one schema stores that schema ONCE, not
    * 10⁴ times (the schema was the dominant per-snapshot byte term). The
    * pre-manifest array form is refused ([[LegacyTableFormatException]]).
    */
  private def parseCommitsNode(root: com.fasterxml.jackson.databind.JsonNode,
                               table: String): Seq[Snapshot] = {
    if (root.isArray) throw new LegacyTableFormatException(table)
    val schemas = schemasOf(root)
    root.get("snapshots").elements.asScala.map(snapshotFromNode(_, table, schemas)).toSeq
  }

  /** A log's shared schema table: schema id → schema JSON. */
  private def schemasOf(root: com.fasterxml.jackson.databind.JsonNode): Map[Int, String] =
    Option(root.get("schemas")).map(
      _.properties().asScala.map(e => e.getKey.toInt -> e.getValue.asText).toMap)
      .getOrElse(Map.empty)

  /** One snapshot of `table`'s metadata. A snapshot that lists data
    * `dirs` is the pre-manifest format and is refused.
    */
  private def snapshotFromNode(n: com.fasterxml.jackson.databind.JsonNode, table: String,
                               schemas: Map[Int, String] = Map.empty): Snapshot = {
    if (Option(n.get("dirs")).exists(_.size > 0)) throw new LegacyTableFormatException(table)
    snapshotFields(n, schemas)
  }

  private def snapshotFields(n: com.fasterxml.jackson.databind.JsonNode,
                             schemas: Map[Int, String]): Snapshot =
    Snapshot(
      n.get("snapshotId").asLong,
      n.get("committedAtMillis").asLong,
      Option(n.get("schemaJson")).filterNot(_.isNull).map(_.asText)
        .orElse(Option(n.get("schemaId")).filterNot(_.isNull)
          .flatMap(id => schemas.get(id.asInt))),
      Option(n.get("operation")).filterNot(_.isNull).map(_.asText),
      Option(n.get("deletes")).map(_.elements.asScala.map(_.asText).toSeq)
        .getOrElse(Nil),
      Option(n.get("manifestList")).filterNot(_.isNull).map(_.asText),
      Option(n.get("txnAppId")).filterNot(_.isNull).map(_.asText)
        .map(app => app -> n.get("txnVersion").asLong),
      Option(n.get("eqDeletes")).map(_.elements.asScala.map(e =>
        EqDelete(e.get("path").asText,
          e.get("keys").elements.asScala.map(_.asText).toSeq,
          e.get("appliesTo").asLong,
          Option(e.get("rows")).map(_.asLong).getOrElse(-1L))).toSeq)
        .getOrElse(Nil))

  /** `schemaIds` maps a schema's JSON to its id in the log's shared
    * schema table; empty (tag pinning, which stores ONE snapshot) inlines
    * the schema instead.
    */
  private def snapshotIntoNode(s: Snapshot,
                               o: com.fasterxml.jackson.databind.node.ObjectNode,
                               schemaIds: Map[String, Int] = Map.empty): Unit = {
    o.put("snapshotId", s.snapshotId)
    o.put("committedAtMillis", s.committedAtMillis)
    s.schemaJson.foreach { j =>
      schemaIds.get(j) match {
        case Some(id) => o.put("schemaId", id)
        case None     => o.put("schemaJson", j)
      }
    }
    s.operation.foreach(o.put("operation", _))
    if (s.deletes.nonEmpty) {
      val dd = o.putArray("deletes")
      s.deletes.foreach(dd.add)
    }
    s.manifestList.foreach(o.put("manifestList", _))
    s.txn.foreach { case (app, v) =>
      o.put("txnAppId", app)
      o.put("txnVersion", v)
    }
    if (s.eqDeletes.nonEmpty) {
      val ed = o.putArray("eqDeletes")
      s.eqDeletes.foreach { e =>
        val eo = ed.addObject()
        eo.put("path", e.path)
        eo.put("appliesTo", e.appliesTo)
        if (e.rows >= 0) eo.put("rows", e.rows)
        val ks = eo.putArray("keys")
        e.keys.foreach(ks.add)
      }
    }
  }

  // ---- commit-log segmentation: bound the per-commit rewrite ----
  //
  // A generation file holding the FULL cumulative snapshot list is
  // O(total snapshots) to write and parse per commit — a streaming
  // table at one commit per micro-batch rewrites an ever-growing JSON
  // file on every trigger. Instead the log mirrors the manifest-list
  // indirection: once the unfrozen tail exceeds [[LogTailMax]],
  // [[LogSegmentSize]]-snapshot prefixes freeze into IMMUTABLE
  // content-addressed files under `_log_segments/`, carried in later
  // generations BY NAME. Steady-state per-commit bytes = the ≤96-entry
  // tail + one name per segment, O(1)-amortized in commit count; parsed
  // segments cache process-wide (immutable content ⇒ cache never
  // invalidates). A list that no longer starts with the frozen prefix
  // (expire, rollback, branch rebase) re-segments from scratch —
  // content addressing dedupes any re-frozen identical chunk.

  private val LogSegmentSize = 64
  private val LogTailMax = 96

  private def logSegmentsDir(dir: Path) = new Path(dir, "_log_segments")

  /** Serialize a snapshot list in the shared-schema-id object form. */
  private def commitsJson(commits: Seq[Snapshot],
                          segments: Seq[String] = Nil): String = {
    val schemaIds = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    commits.flatMap(_.schemaJson).foreach(j =>
      schemaIds.getOrElseUpdate(j, schemaIds.size))
    val root = mapper.createObjectNode()
    if (segments.nonEmpty) {
      val sg = root.putArray("segments")
      segments.foreach(sg.add)
    }
    if (schemaIds.nonEmpty) {
      val sn = root.putObject("schemas")
      schemaIds.foreach { case (j, id) => sn.put(id.toString, j) }
    }
    val arr = root.putArray("snapshots")
    commits.foreach(s => snapshotIntoNode(s, arr.addObject(), schemaIds.toMap))
    mapper.writeValueAsString(root)
  }

  /** Freeze `snaps` as an immutable content-addressed segment file;
    * returns its name. Re-freezing identical content is a no-op (same
    * name, file already present), which makes branch-create and
    * re-segmentation races benign.
    */
  private def writeLogSegment(dir: Path, snaps: Seq[Snapshot]): String = {
    val json = commitsJson(snaps)
    val name = s"seg-${digest16(json)}.json"
    val p = new Path(logSegmentsDir(dir), name)
    if (!fs(p).exists(p)) writeString(p, json)
    SnapshotCatalog.logSegmentCache.put(p.toString, snaps)
    name
  }

  private def readLogSegment(dir: Path, name: String, table: String): Seq[Snapshot] = {
    val p = new Path(logSegmentsDir(dir), name)
    SnapshotCatalog.logSegmentCache.computeIfAbsent(p.toString,
      _ => parseCommitsNode(mapper.readTree(readString(p)), table))
  }

  /** Segment names a log file references (empty for a flat log). */
  private def segmentNamesIn(root: com.fasterxml.jackson.databind.JsonNode): Seq[String] =
    if (!root.isObject) Nil
    else Option(root.get("segments"))
      .map(_.elements.asScala.map(_.asText).toSeq).getOrElse(Nil)

  /** Parse a generation file: frozen segments (by name, cached) ++ tail. */
  private def parseLog(dir: Path, json: String, table: String): Seq[Snapshot] = {
    val root = mapper.readTree(json)
    segmentNamesIn(root).flatMap(readLogSegment(dir, _, table)) ++ parseCommitsNode(root, table)
  }

  /** First 16 hex digits of the SHA-256 of `json`: the name of a
    * content-addressed metadata file.
    */
  private def digest16(json: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(json.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)

  /** See [[SnapshotCatalog.faultHook]] — a named crash-window boundary. */
  @inline private def faultPoint(id: String): Unit = SnapshotCatalog.faultHook(id)

  /** Commit the snapshot list as generation `expectedGen + 1`. Exclusive
    * rename arbitrates concurrent writers (see the section comment);
    * throws [[CommitConflictException]] when the next generation already
    * exists. After a successful commit, generations more than 8 behind are
    * garbage-collected best-effort (the slack keeps a reader that listed
    * an older generation readable mid-flight). `carrySegments = false`
    * skips reusing the prior generation's frozen segments: the format
    * upgrade passes it, since those segments are in the old format.
    */
  private[catalog] def writeCommits(schema: String, table: String,
                                    commits: Seq[Snapshot], expectedGen: Long,
                                    carrySegments: Boolean = true): Unit = {
    val dir = tableDir(schema, table)
    // reuse the prior generation's frozen prefix when the new list still
    // starts with it (the append/DML common case — the startsWith walk
    // is O(1) per element via case-class eq fast paths on the cached
    // instances); freeze more of the tail past the threshold
    val priorSegs: Seq[String] =
      if (expectedGen < 0 || !carrySegments) Nil
      else {
        val p = genPath(dir, expectedGen)
        if (!fs(p).exists(p)) Nil
        else segmentNamesIn(mapper.readTree(readString(p)))
      }
    def segment(name: String) = readLogSegment(dir, name, s"$schema.$table")
    val frozen = priorSegs.flatMap(segment)
    var segNames =
      if (frozen.nonEmpty && commits.startsWith(frozen)) priorSegs else Nil
    var tail = commits.drop(segNames.flatMap(segment).size)
    while (tail.size > LogTailMax) {
      segNames = segNames :+ writeLogSegment(dir, tail.take(LogSegmentSize))
      tail = tail.drop(LogSegmentSize)
    }
    val next = expectedGen + 1
    val target = genPath(dir, next)
    val f = fs(target)
    if (f.exists(target)) throw new CommitConflictException(schema, table, expectedGen)
    // attempt-unique temp name: two writers racing the same generation
    // both stage a temp BEFORE the exclusive rename decides the winner —
    // a fixed temp name would let one clobber the other's staged bytes
    // mid-race (caught by the DevFuzzDmlRace soak)
    val tmp = new Path(dir, "." + target.getName + "." +
      java.util.UUID.randomUUID().toString.take(8) + ".tmp")
    // stage through the RAW filesystem (no .crc sibling): on the local
    // ChecksumFileSystem the crc file's rename is NOT exclusive with the
    // data file's, so a losing writer could pair its crc with the winner's
    // data — a corrupted-looking commit log (also caught by the soak).
    // Object stores / HDFS checksum server-side; the JSON itself is the
    // integrity check here (parse failure = corruption).
    stageBytes(tmp, commitsJson(tail, segNames).getBytes("UTF-8"))
    faultPoint("commit.staged") // temp bytes written, rename not yet attempted
    try renameNoReplace(tmp, target)
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
           _: java.nio.file.FileAlreadyExistsException =>
        f.delete(tmp, false)
        throw new CommitConflictException(schema, table, expectedGen)
    }
    // best-effort generation GC — failures never fail the commit
    try {
      f.listStatus(dir).foreach(s => s.getPath.getName match {
        case commitGenRe(g) if g.toLong < next - 8 => f.delete(s.getPath, false)
        case _ => ()
      })
    } catch { case _: Exception => () }
  }

  /** True when `p` lives on the local filesystem (scheme `file` or none). */
  private def isLocalPath(p: Path): Boolean = {
    val s = p.toUri.getScheme
    s == null || s == "file"
  }

  /** Stage raw bytes at `tmp` (overwriting), fork-free on the local
    * filesystem: Hadoop's `RawLocalFileSystem.create` applies the default
    * file permission via `setPermission`, which without native libhadoop
    * fork+execs a `chmod` per file (~3-10 ms — profiled as the largest
    * driver-side cost of the metadata commit path after the r13 rename
    * fix; guide §7.3). `Files.write` is open+write+close with the same
    * resulting permissions (process umask). Non-local filesystems keep
    * the raw Hadoop stream (raw = no checksum sidecar; metadata JSON is
    * its own integrity check — parse failure = corruption).
    */
  private def stageBytes(tmp: Path, bytes: Array[Byte]): Unit =
    if (isLocalPath(tmp)) {
      val p = java.nio.file.Paths.get(tmp.toUri.getPath)
      try java.nio.file.Files.write(p, bytes)
      catch {
        // Hadoop's create() makes parent dirs implicitly — keep that
        case _: java.nio.file.NoSuchFileException =>
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.write(p, bytes)
      }
      ()
    } else {
      val rawF = fs(tmp) match {
        case cfs: org.apache.hadoop.fs.ChecksumFileSystem => cfs.getRawFileSystem
        case other => other
      }
      val out = rawF.create(tmp, true)
      try out.write(bytes) finally out.close()
    }

  /** `mkdirs`, fork-free on the local filesystem (Hadoop's
    * `mkOneDirWithMode` chmods every created directory via a shell fork
    * when libhadoop is absent — see [[stageBytes]]). Same contract:
    * succeeds when the directory already exists, creates parents.
    */
  private def mkdirsFast(p: Path): Unit =
    if (isLocalPath(p)) {
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(p.toUri.getPath))
      ()
    } else {
      fs(p).mkdirs(p)
      ()
    }

  /** Delete a Hadoop checksum sidecar (`.name.crc`) left next to `target`
    * by a writer that went through ChecksumFileSystem — after a raw-stream
    * rewrite the stale sidecar would fail every subsequent checksummed
    * read of the file. One unlink syscall, never fails the commit.
    */
  private def dropCrcSidecar(target: Path): Unit = {
    try java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(
      target.getParent.toUri.getPath, "." + target.getName + ".crc"))
    catch { case _: Exception => () }
  }

  /** Atomic rename replacing `target` if present — the metadata visibility
    * switch. On the LOCAL filesystem this is one POSIX rename(2) via
    * java.nio: Hadoop's FileContext.rename on RawLocalFileSystem shells
    * out to `readlink` (a fork+exec per call, ~5-15 ms) — profiling the
    * bench showed those forks were ~35% of mv_incremental_demo's
    * driver-side time (guide §1: measure first). Non-local filesystems
    * keep the FileContext path, whose rename semantics are the store's
    * own. Identical atomicity either way: a reader sees the old bytes or
    * the new bytes, never a missing or torn file.
    */
  private def renameOverwrite(tmp: Path, target: Path): Unit =
    if (isLocalPath(target)) {
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(target.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      dropCrcSidecar(target)
    } else {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        target.toUri, spark.sparkContext.hadoopConfiguration)
      fc.rename(tmp, target, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }

  /** Atomic rename FAILING if `target` exists — the optimistic-concurrency
    * commit switch (generation files, ref generations, catalog tags). On
    * the local filesystem: hard-link + unlink — link(2) fails with EEXIST
    * atomically when the target exists, with no fork (see
    * [[renameOverwrite]] for why FileContext is avoided locally). Throws
    * java.nio.file.FileAlreadyExistsException on conflict with `tmp` left
    * in place, matching FileContext's Rename.NONE contract (callers catch
    * either exception type and clean up `tmp`).
    */
  private def renameNoReplace(tmp: Path, target: Path): Unit =
    if (isLocalPath(target)) {
      val t = java.nio.file.Paths.get(tmp.toUri.getPath)
      val d = java.nio.file.Paths.get(target.toUri.getPath)
      java.nio.file.Files.createLink(d, t)
      try java.nio.file.Files.deleteIfExists(t) catch { case _: Exception => () }
      dropCrcSidecar(target)
    } else {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        target.toUri, spark.sparkContext.hadoopConfiguration)
      fc.rename(tmp, target, org.apache.hadoop.fs.Options.Rename.NONE)
    }

  /** Write-temp-then-rename: a reader (including one in another process)
    * never observes a partially-written metadata file — the visibility
    * switch is the rename, atomic on HDFS-like filesystems (and POSIX
    * rename(2) locally). Closes the cross-process torn-read window on
    * _table_schema.json / commits.json flagged in round 2. The temp is
    * created through the RAW stream (no checksum sidecar): metadata JSON
    * is its own integrity check — parse failure = corruption — and the
    * sidecar would double every metadata write.
    */
  private def writeString(p: Path, s: String): Unit = {
    val tmp = new Path(p.getParent, "." + p.getName + ".tmp")
    stageBytes(tmp, s.getBytes("UTF-8"))
    renameOverwrite(tmp, p)
  }

  private def readString(p: Path): String = {
    val in = fs(p).open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }
}

object SnapshotCatalog {
  /** Test-only crash-window fault injection. Every multi-step metadata
    * operation announces its intermediate states through
    * [[SnapshotCatalog.faultPoint]] (`insert.staged`, `replace.committed`,
    * `expire.committed`, …); CrashInjectionSpec installs a hook that
    * throws at a chosen point to simulate a process crash between the
    * steps, then verifies from a FRESH catalog instance that readers see
    * a consistent pre-or-post state, that removeOrphanFiles reclaims the
    * debris, and that a retry converges to the no-crash result. In
    * production this is a no-op lambda invocation on driver-side
    * metadata paths — never in a per-row loop.
    */
  @volatile private[graft] var faultHook: String => Unit = _ => ()

  /** Max entries per manifest file (sharding threshold) — var so specs
    * can exercise the shard math without writing thousands of files.
    */
  @volatile private[graft] var manifestEntryCap: Int = 4096

  /** On-disk size above which an equality-delete key file is read as a
    * distributed scan instead of collected to a driver LocalRelation
    * (≈1-2M bigint keys at parquet's typical key-column density; the
    * streaming-CDC shape can carry 10⁷-10⁸ keys, which must never pass
    * through the driver). Var so specs can force the distributed path
    * on small fixtures.
    */
  @volatile private[graft] var eqDelDriverMaxBytes: Long = 8L << 20

  /** Key-count twin of [[eqDelDriverMaxBytes]] — primary when the commit
    * recorded the delete file's exact row count (bytes undercount by
    * ~100× on sequential keys thanks to delta encoding; the hazard is
    * driver-held ROWS, not parquet bytes).
    */
  @volatile private[graft] var eqDelDriverMaxRows: Long = 1L << 20

  /** Frozen commit-log segments are immutable content-addressed files —
    * cache them process-wide (shared across catalog instances AND branch
    * views, which are separate instances over the same table dir), keyed
    * by absolute path. Sharing the parsed instances also makes the
    * frozen-prefix `startsWith` walk in writeCommits O(1) per element
    * via the case-class `eq` fast path.
    */
  private[catalog] val logSegmentCache =
    new BoundedCache[Seq[Snapshot]](4096)

  /** Catalog-ref state files are generation-versioned and immutable once
    * written — parsed states cache process-wide, keyed by
    * path@mtime:length (gen numbers restart after materialize/drop, so
    * the path alone is ambiguous across a same-name recreate).
    */
  private[catalog] val catalogRefCache =
    new BoundedCache[CatalogRefState](1024)

  /** Catalog-tag files are immutable (exclusive create, drop deletes) —
    * parsed member pins cache process-wide, keyed by path@mtime:length
    * so a drop-and-recreate of the same name is never served stale.
    */
  private[catalog] val catalogTagCache =
    new BoundedCache[Seq[(String, String, com.fasterxml.jackson.databind.JsonNode)]](1024)

  /** A flat-bounded concurrent cache for immutable parsed metadata: at
    * `max` entries the map resets wholesale. The entries are pure parses
    * of immutable files, so eviction only costs a re-read — the bound
    * keeps a long-lived driver (a streaming job freezing a new log
    * segment every 64 commits per table, forever) from accumulating
    * every segment it ever read.
    */
  private[catalog] final class BoundedCache[V](max: Int) {
    private val m = new java.util.concurrent.ConcurrentHashMap[String, V]()
    def put(k: String, v: V): Unit = { trim(); m.put(k, v) }
    def computeIfAbsent(k: String, f: String => V): V = {
      trim(); m.computeIfAbsent(k, f(_))
    }
    def clear(): Unit = m.clear()
    private def trim(): Unit = if (m.size > max) m.clear()
  }
}
