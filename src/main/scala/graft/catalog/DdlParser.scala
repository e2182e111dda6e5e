package graft.catalog

import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Parsed DDL, CALL and MERGE statements in the Trino dialect the
  * reference's seed scripts use (reference tests/IntegrationTests/
  * Scripts/create/01-schema.sql, 02-tables.sql): `CREATE SCHEMA [IF NOT
  * EXISTS] [cat.]schema [WITH (location = '…')]`, `CREATE TABLE [IF NOT
  * EXISTS] [cat.]schema.table (col type, …)`, CTAS, `DROP TABLE [IF
  * EXISTS]`, `CREATE [OR REPLACE] VIEW … AS …` / `DROP VIEW [IF EXISTS]`,
  * `ALTER TABLE … EXECUTE <procedure>`, `CALL [cat.]system.<procedure>(…)`
  * and `MERGE INTO`. INSERT, DELETE and UPDATE are not here: Spark's
  * parser reads them (`GraftEngine.executeNonQuery`). MERGE stays here
  * because Spark's grammar refuses two Trino-valid spellings — `WHEN NOT
  * MATCHED THEN INSERT VALUES (…)` without a column list, and a `WHEN NOT
  * MATCHED` clause before a `WHEN MATCHED` one.
  * A leading catalog qualifier (the reference's `iceberg.`) names the
  * connector in Trino; here there is exactly one catalog, so it is
  * accepted and dropped.
  */
sealed trait DdlStatement
final case class CreateSchemaStmt(schema: String, ifNotExists: Boolean,
                                  location: Option[String]) extends DdlStatement
final case class CreateTableStmt(schema: String, table: String,
                                 columns: StructType, ifNotExists: Boolean,
                                 partitionedBy: Seq[String],
                                 tableComment: Option[String] = None,
                                 columnComments: Map[String, String] = Map.empty,
                                 formatVersion: Int = 1,
                                 sortedBy: Seq[String] = Nil,
                                 bloomFilterColumns: Seq[String] = Nil)
  extends DdlStatement
final case class CreateTableAsStmt(schema: String, table: String,
                                   select: String, ifNotExists: Boolean,
                                   orReplace: Boolean = false) extends DdlStatement
/** `CREATE TABLE t (LIKE src [INCLUDING|EXCLUDING PROPERTIES])`. */
final case class CreateTableLikeStmt(schema: String, table: String,
                                     srcSchema: String, srcTable: String,
                                     includingProps: Boolean,
                                     ifNotExists: Boolean) extends DdlStatement
final case class DropTableStmt(schema: String, table: String,
                               ifExists: Boolean) extends DdlStatement
final case class AlterExecuteStmt(schema: String, table: String,
                                  procedure: String,
                                  args: Map[String, String]) extends DdlStatement
/** `CALL system.create_catalog_branch('name', ARRAY['s.t1','s.t2'])` /
  * publish_catalog_branch / materialize_catalog_branch /
  * drop_catalog_branch — the multi-table (Nessie-style whole-catalog)
  * ref procedures ([[SnapshotCatalog.createCatalogBranch]]).
  */
final case class CatalogRefStmt(procedure: String, name: String,
                                tables: Seq[(String, String)]) extends DdlStatement
/** `ALTER TABLE sch.t ADD COLUMN [IF NOT EXISTS] c type` (Trino's
  * additive schema-evolution spelling — the only evolution this catalog
  * offers; see SnapshotCatalog.addColumn).
  */
final case class AddColumnStmt(schema: String, table: String,
                               column: String,
                               dataType: org.apache.spark.sql.types.DataType,
                               ifNotExists: Boolean) extends DdlStatement
/** `ALTER TABLE sch.t DROP COLUMN [IF EXISTS] c` (Trino Iceberg column
  * evolution — metadata-only; see SnapshotCatalog.dropColumn for the
  * snapshot-pinned time-travel semantics).
  */
final case class DropColumnStmt(schema: String, table: String,
                                column: String,
                                ifExists: Boolean) extends DdlStatement
/** `ALTER TABLE sch.t RENAME COLUMN [IF EXISTS] c TO c2` (Trino Iceberg
  * column evolution — metadata-only; pre-rename files NULL-fill under the
  * new name, see SnapshotCatalog.renameColumn).
  */
final case class RenameColumnStmt(schema: String, table: String,
                                  from: String, to: String,
                                  ifExists: Boolean) extends DdlStatement
/** `ALTER TABLE sch.t ALTER COLUMN c SET DATA TYPE t` (Trino Iceberg
  * type evolution — safe promotions only; see
  * SnapshotCatalog.setColumnType).
  */
final case class SetColumnTypeStmt(schema: String, table: String,
                                   column: String,
                                   dataType: org.apache.spark.sql.types.DataType)
  extends DdlStatement
/** `ALTER TABLE sch.t RENAME TO [sch2.]t2` (Trino rename — metadata move,
  * data files untouched).
  */
final case class RenameTableStmt(schema: String, table: String,
                                 newSchema: Option[String],
                                 newTable: String) extends DdlStatement

final case class DropSchemaStmt(schema: String, ifExists: Boolean,
                                cascade: Boolean) extends DdlStatement
/** `COMMENT ON TABLE sch.t IS '…'|NULL` / `COMMENT ON COLUMN sch.t.c IS …`
  * (Trino comment surface); `comment` None = clear (IS NULL).
  */
final case class CommentStmt(schema: String, table: String,
                             column: Option[String],
                             comment: Option[String]) extends DdlStatement
final case class TruncateStmt(schema: String, table: String) extends DdlStatement
/** `ALTER TABLE sch.t SET PROPERTIES k = v[, …]` (Trino's property
  * evolution): `sorted_by` re-clusters future writes; `partitioning`
  * evolves the transform fields of the partition spec (Iceberg spec
  * evolution). Values carry the raw expression text (`ARRAY['…']`).
  */
final case class SetPropertiesStmt(schema: String, table: String,
                                   properties: Seq[(String, String)])
  extends DdlStatement
/** `ANALYZE [cat.]sch.t` (Trino's stats-collection verb): one aggregation
  * pass persisting per-column NDV/nulls/low/high keyed by the analyzed
  * snapshot, so SHOW STATS afterwards is metadata-only until the table
  * changes (Iceberg stores these in Puffin stats files).
  */
final case class AnalyzeStmt(schema: String, table: String) extends DdlStatement
final case class CreateViewStmt(schema: String, view: String,
                                select: String, orReplace: Boolean) extends DdlStatement
final case class DropViewStmt(schema: String, view: String,
                              ifExists: Boolean) extends DdlStatement
/** `CREATE MATERIALIZED VIEW [IF NOT EXISTS] sch.mv AS select` /
  * `REFRESH MATERIALIZED VIEW sch.mv` / `DROP MATERIALIZED VIEW
  * [IF EXISTS] sch.mv` (Trino Iceberg materialized views).
  */
final case class CreateMaterializedViewStmt(schema: String, view: String,
                                            select: String,
                                            ifNotExists: Boolean) extends DdlStatement
final case class RefreshMaterializedViewStmt(schema: String,
                                             view: String) extends DdlStatement
final case class DropMaterializedViewStmt(schema: String, view: String,
                                          ifExists: Boolean) extends DdlStatement

/** One `WHEN [NOT] MATCHED [AND cond] THEN action` clause of a MERGE.
  * Clause order is semantic: the FIRST clause whose condition holds for a
  * row applies (Trino/ANSI first-match-wins).
  */
final case class MergeWhen(matched: Boolean, cond: Option[String],
                           action: MergeActionSpec)
sealed trait MergeActionSpec
case object MergeDeleteSpec extends MergeActionSpec
final case class MergeUpdateSpec(sets: Seq[(String, String)]) extends MergeActionSpec
final case class MergeInsertSpec(columns: Option[Seq[String]],
                                 values: Seq[String]) extends MergeActionSpec

/** `MERGE INTO [cat.]sch.t [AS a] USING (query)|table [AS b] ON cond
  * WHEN …` (Trino Iceberg MERGE,
  * https://trino.io/docs/current/sql/merge.html surface). `source` is
  * either raw subquery text (`sourceIsQuery`) or a table name.
  */
final case class MergeStmt(schema: String, table: String,
                           targetAlias: Option[String],
                           source: String, sourceIsQuery: Boolean,
                           sourceAlias: Option[String],
                           on: String,
                           clauses: Seq[MergeWhen]) extends DdlStatement

object DdlParser {

  private val createSchemaRe =
    """(?is)^\s*CREATE\s+SCHEMA\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*(?:WITH\s*\(\s*location\s*=\s*'([^']*)'\s*\))?\s*;?\s*$""".r
  // non-greedy column body: greedy (.*) would swallow a trailing
  // `WITH (…)` clause up to ITS closing paren; the $ anchor still forces
  // the body to extend over nested parens like decimal(10,2) when no WITH
  // clause follows. The WITH body is captured generically — a
  // partitioning-only pattern would backtrack the column body into
  // swallowing any OTHER property (`WITH (format = 'PARQUET')`) and parse
  // garbage column types.
  // LIKE must match before the generic column-list form — `(LIKE src)`
  // would otherwise parse as a column named LIKE
  private val createLikeRe =
    """(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*\(\s*LIKE\s+([\w.]+)\s*(INCLUDING\s+PROPERTIES|EXCLUDING\s+PROPERTIES)?\s*\)\s*;?\s*$""".r
  private val createTableRe =
    """(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*\((.*?)\)\s*(?:COMMENT\s+'((?:[^']|'')*)'\s*)?(?:WITH\s*\((.*)\))?\s*;?\s*$""".r
  private val ctasRe =
    """(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s+AS\s+(.+?)\s*;?\s*$""".r
  private val dropTableRe =
    """(?is)^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([\w.]+)\s*;?\s*$""".r
  private val commentRe =
    """(?is)^\s*COMMENT\s+ON\s+(TABLE|COLUMN)\s+([\w.]+)\s+IS\s+('(?:[^']|'')*'|NULL)\s*;?\s*$""".r
  // the mode keyword REQUIRES a preceding whitespace separator: a lazy
  // name + \s* would parse `DROP SCHEMA foo_cascade` as dropping `foo_`
  // WITH CASCADE — a destructive statement aimed at the wrong schema
  private val dropSchemaRe =
    """(?is)^\s*DROP\s+SCHEMA\s+(IF\s+EXISTS\s+)?([\w.]+?)(?:\s+(CASCADE|RESTRICT))?\s*;?\s*$""".r
  private val truncateRe =
    """(?is)^\s*TRUNCATE\s+TABLE\s+([\w.]+)\s*;?\s*$""".r
  private val analyzeRe =
    """(?is)^\s*ANALYZE\s+([\w.]+)\s*;?\s*$""".r
  private val createViewRe =
    """(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+([\w.]+)\s+AS\s+(.+?)\s*;?\s*$""".r
  private val dropViewRe =
    """(?is)^\s*DROP\s+VIEW\s+(IF\s+EXISTS\s+)?([\w.]+)\s*;?\s*$""".r
  private val createMatViewRe =
    """(?is)^\s*CREATE\s+MATERIALIZED\s+VIEW\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s+AS\s+(.+?)\s*;?\s*$""".r
  private val refreshMatViewRe =
    """(?is)^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+([\w.]+)\s*;?\s*$""".r
  private val dropMatViewRe =
    """(?is)^\s*DROP\s+MATERIALIZED\s+VIEW\s+(IF\s+EXISTS\s+)?([\w.]+)\s*;?\s*$""".r
  // Trino procedure-call spelling: CALL [cat.]system.rollback_to_snapshot(
  //   'sch', 't', id) or named (schema_name => 'sch', table_name => 't',
  //   snapshot_id => id); normalized onto the ALTER…EXECUTE statement
  private val callRollbackRe =
    """(?is)^\s*CALL\s+(?:[\w.]*\bsystem\.)?rollback_to_snapshot\s*\(\s*(.*?)\s*\)\s*;?\s*$""".r
  // named-ref procedures (Nessie-style branches/tags over the snapshot
  // log): CALL system.create_branch('sch','tbl','name'[, snapshot_id])
  // etc., positional or name => value
  private val callRefRe =
    """(?is)^\s*CALL\s+(?:[\w.]*\bsystem\.)?(create_branch|drop_branch|create_tag|drop_tag|fast_forward|merge_branch)\s*\(\s*(.*?)\s*\)\s*;?\s*$""".r
  // catalog-level (multi-table) ref procedures: CALL
  // system.create_catalog_branch('name', ARRAY['s.t1','s.t2']) /
  // publish_catalog_branch('name') / materialize_catalog_branch('name')
  // / merge_catalog_branch('name') — publish that tolerates diverged
  // members via three-way replay — / drop_catalog_branch('name'),
  // positional or name => value
  private val callCatalogRefRe =
    """(?is)^\s*CALL\s+(?:[\w.]*\bsystem\.)?(create_catalog_branch|publish_catalog_branch|materialize_catalog_branch|merge_catalog_branch|drop_catalog_branch|create_catalog_tag|drop_catalog_tag)\s*\(\s*(.*?)\s*\)\s*;?\s*$""".r
  // catalog attachment procedures (Trino Iceberg's register_table /
  // unregister_table / migrate): CALL system.register_table('sch','tbl',
  // '/path') / unregister_table('sch','tbl') / migrate('sch','tbl',
  // '/path'), positional or name => value
  private val callRegisterRe =
    """(?is)^\s*CALL\s+(?:[\w.]*\bsystem\.)?(register_table|register_iceberg_table|refresh_iceberg_table|export_iceberg_table|unregister_table|migrate)\s*\(\s*(.*?)\s*\)\s*;?\s*$""".r
  // Trino Iceberg maintenance syntax: ALTER TABLE t EXECUTE optimize /
  // expire_snapshots(retention_threshold => '7d') / remove_orphan_files(…);
  // optimize additionally takes Trino's scoped form
  // `EXECUTE optimize WHERE <predicate>` (compact only matching files)
  private val alterExecRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+EXECUTE\s+(\w+)\s*(?:\(\s*(.*?)\s*\))?(?:\s+WHERE\s+(.+?))?\s*;?\s*$""".r
  private val addColumnRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+COLUMN\s+(IF\s+NOT\s+EXISTS\s+)?([A-Za-z_]\w*)\s+([\w()\s,]+?)\s*;?\s*$""".r
  private val dropColumnRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+COLUMN\s+(IF\s+EXISTS\s+)?([A-Za-z_]\w*)\s*;?\s*$""".r
  private val renameColumnRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+RENAME\s+COLUMN\s+(IF\s+EXISTS\s+)?([A-Za-z_]\w*)\s+TO\s+([A-Za-z_]\w*)\s*;?\s*$""".r
  private val renameTableRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+RENAME\s+TO\s+([\w.]+)\s*;?\s*$""".r
  private val setPropertiesRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+SET\s+PROPERTIES\s+(.+?)\s*;?\s*$""".r
  private val setColumnTypeRe =
    """(?is)^\s*ALTER\s+TABLE\s+([\w.]+)\s+ALTER\s+COLUMN\s+([A-Za-z_]\w*)\s+SET\s+DATA\s+TYPE\s+([\w()\s,]+?)\s*;?\s*$""".r

  /** Parse one statement; None when the text is not DDL this layer owns
    * (the caller then falls through to Catalyst). Unqualified table names
    * resolve against `defaultSchema` — the engine threads its session
    * default here (Trino's session schema, reference
    * AthenaClient.cs:37-45 ClientSessionProperties).
    */
  def parse(sqlText: String, defaultSchema: String = "default"): Option[DdlStatement] =
    if ("""(?is)^\s*MERGE\s+INTO\s.*""".r.matches(sqlText))
      Some(parseMerge(sqlText, defaultSchema))
    else parseNonMerge(sqlText, defaultSchema)

  private def parseNonMerge(sqlText: String,
                            defaultSchema: String): Option[DdlStatement] = {
    def tableOf(name: String): (String, String) =
      DdlParser.tableOf(name, defaultSchema)
    sqlText match {
    case createSchemaRe(ine, name, loc) =>
      Some(CreateSchemaStmt(schemaOf(name), ine != null, Option(loc)))
    case createLikeRe(ine, name, src, incl) =>
      val (sch, tbl) = tableOf(name)
      val (ssch, stbl) = tableOf(src)
      Some(CreateTableLikeStmt(sch, tbl, ssch, stbl,
        incl != null && incl.toUpperCase(java.util.Locale.ROOT)
          .startsWith("INCLUDING"), ine != null))
    case createTableRe(ine, name, cols, tblComment, props) =>
      val (sch, tbl) = tableOf(name)
      val (schema0, colComments) = parseColumns(cols)
      val (partitioning, formatVersion, sortedBy, bloomCols) = tablePropsOf(props)
      Some(CreateTableStmt(sch, tbl, schema0, ine != null,
        partitioning,
        Option(tblComment).map(_.replace("''", "'")), colComments,
        formatVersion, sortedBy, bloomCols))
    case ctasRe(orReplace, ine, name, select) =>
      require(orReplace == null || ine == null,
        "CREATE OR REPLACE TABLE cannot carry IF NOT EXISTS")
      val (sch, tbl) = tableOf(name)
      Some(CreateTableAsStmt(sch, tbl, select, ine != null, orReplace != null))
    case dropTableRe(ie, name) =>
      val (sch, tbl) = tableOf(name)
      Some(DropTableStmt(sch, tbl, ie != null))
    case commentRe(kind, name, value) =>
      val comment =
        if (value.equalsIgnoreCase("NULL")) None
        else Some(value.stripPrefix("'").stripSuffix("'").replace("''", "'"))
      if (kind.equalsIgnoreCase("TABLE")) {
        val (sch, tbl) = tableOf(name)
        Some(CommentStmt(sch, tbl, None, comment))
      } else {
        val parts = name.split('.')
        require(parts.length >= 2,
          s"COMMENT ON COLUMN expects [[catalog.]schema.]table.column, got: $name")
        if (parts.length >= 3)
          Some(CommentStmt(parts(parts.length - 3), parts(parts.length - 2),
            Some(parts.last), comment))
        else // table.column — the session default schema owns the table
          Some(CommentStmt(defaultSchema, parts(0), Some(parts(1)), comment))
      }
    case dropSchemaRe(ie, name, mode) =>
      Some(DropSchemaStmt(schemaOf(name), ie != null,
        mode != null && mode.equalsIgnoreCase("CASCADE")))
    case truncateRe(name) =>
      val (sch, tbl) = tableOf(name)
      Some(TruncateStmt(sch, tbl))
    case analyzeRe(name) =>
      val (sch, tbl) = tableOf(name)
      Some(AnalyzeStmt(sch, tbl))
    case setPropertiesRe(name, propText) =>
      val (sch, tbl) = tableOf(name)
      val props = splitPropsTopLevel(propText).map { p =>
        val eq = p.indexOf('=')
        require(eq > 0, s"Malformed property assignment: '$p'")
        (p.substring(0, eq).trim.toLowerCase, p.substring(eq + 1).trim)
      }
      require(props.nonEmpty, "SET PROPERTIES requires at least one property")
      Some(SetPropertiesStmt(sch, tbl, props))
    case createMatViewRe(ine, name, select) =>
      val (sch, v) = tableOf(name)
      Some(CreateMaterializedViewStmt(sch, v, select.trim, ine != null))
    case refreshMatViewRe(name) =>
      val (sch, v) = tableOf(name)
      Some(RefreshMaterializedViewStmt(sch, v))
    case dropMatViewRe(ie, name) =>
      val (sch, v) = tableOf(name)
      Some(DropMaterializedViewStmt(sch, v, ie != null))
    case createViewRe(orReplace, name, select) =>
      val (sch, v) = tableOf(name)
      Some(CreateViewStmt(sch, v, select.trim, orReplace != null))
    case dropViewRe(ie, name) =>
      val (sch, v) = tableOf(name)
      Some(DropViewStmt(sch, v, ie != null))
    case callRollbackRe(argText) =>
      val parts = splitQuotedTopLevel(argText)
      val named = parts.forall(_.contains("=>"))
      val kv: Map[String, String] =
        if (named) parts.map { p =>
          val Array(k, v) = p.split("=>", 2)
          k.trim.toLowerCase -> v.trim.stripPrefix("'").stripSuffix("'")
        }.toMap
        else {
          require(parts.length == 3,
            s"CALL rollback_to_snapshot expects (schema, table, snapshot_id), got: $argText")
          Map("schema_name" -> parts(0).stripPrefix("'").stripSuffix("'"),
            "table_name" -> parts(1).stripPrefix("'").stripSuffix("'"),
            "snapshot_id" -> parts(2))
        }
      val sch = kv.get("schema_name").orElse(kv.get("schema")).getOrElse(
        throw new IllegalArgumentException("CALL rollback_to_snapshot: missing schema"))
      val tbl = kv.get("table_name").orElse(kv.get("table")).getOrElse(
        throw new IllegalArgumentException("CALL rollback_to_snapshot: missing table"))
      val id = kv.getOrElse("snapshot_id",
        throw new IllegalArgumentException("CALL rollback_to_snapshot: missing snapshot_id"))
      Some(AlterExecuteStmt(sch, tbl, "rollback_to_snapshot", Map("snapshot_id" -> id)))
    case callRefRe(proc, argText) =>
      val parts = splitQuotedTopLevel(argText)
      def strip(s: String) = s.trim.stripPrefix("'").stripSuffix("'")
      val named = parts.forall(_.contains("=>"))
      val kv: Map[String, String] =
        if (named) parts.map { p =>
          val Array(k, v) = p.split("=>", 2)
          k.trim.toLowerCase -> strip(v)
        }.toMap
        else {
          require(parts.length >= 3,
            s"CALL $proc expects (schema, table, name[, snapshot_id]), got: $argText")
          Map("schema_name" -> strip(parts(0)), "table_name" -> strip(parts(1)),
            "name" -> strip(parts(2))) ++
            parts.lift(3).map(p => "snapshot_id" -> strip(p))
        }
      val sch = kv.get("schema_name").orElse(kv.get("schema")).getOrElse(
        throw new IllegalArgumentException(s"CALL $proc: missing schema"))
      val tbl = kv.get("table_name").orElse(kv.get("table")).getOrElse(
        throw new IllegalArgumentException(s"CALL $proc: missing table"))
      require(kv.contains("name"), s"CALL $proc: missing ref name")
      Some(AlterExecuteStmt(sch, tbl, proc.toLowerCase,
        kv -- Seq("schema_name", "schema", "table_name", "table")))
    case callCatalogRefRe(proc, argText) =>
      def strip(s: String) = s.trim.stripPrefix("'").stripSuffix("'")
      // pull the ARRAY[...] member list out first (its commas are not
      // top-level argument separators)
      val arrRe = """(?is)ARRAY\s*\[(.*?)\]""".r
      val tables = arrRe.findFirstMatchIn(argText).map(_.group(1))
        .map(_.split(",").map(strip).filter(_.nonEmpty).toSeq).getOrElse(Nil)
        .map(tableOf)
      val rest = arrRe.replaceAllIn(argText, "")
      val nameArg = splitQuotedTopLevel(rest).map(_.trim)
        .filter(_.nonEmpty).filterNot(_.endsWith("=>"))
        .map { p =>
          if (p.contains("=>")) strip(p.split("=>", 2)(1)) else strip(p)
        }.headOption.getOrElse(
          throw new IllegalArgumentException(s"CALL $proc: missing ref name"))
      require(proc.equalsIgnoreCase("create_catalog_branch") ||
        proc.equalsIgnoreCase("create_catalog_tag") || tables.isEmpty,
        s"CALL $proc takes only a ref name")
      Some(CatalogRefStmt(proc.toLowerCase, nameArg, tables))
    case callRegisterRe(proc, argText) =>
      val parts = splitQuotedTopLevel(argText)
      def strip(s: String) = s.trim.stripPrefix("'").stripSuffix("'")
      val named = parts.forall(_.contains("=>"))
      val kv: Map[String, String] =
        if (named) parts.map { p =>
          val Array(k, v) = p.split("=>", 2)
          k.trim.toLowerCase -> strip(v)
        }.toMap
        else {
          val wantLoc = proc.equalsIgnoreCase("register_table") ||
            proc.equalsIgnoreCase("register_iceberg_table") ||
            proc.equalsIgnoreCase("export_iceberg_table") ||
            proc.equalsIgnoreCase("migrate")
          require(parts.length == (if (wantLoc) 3 else 2),
            s"CALL $proc expects (schema, table" +
              (if (wantLoc) ", table_location" else "") + s"), got: $argText")
          Map("schema_name" -> strip(parts(0)), "table_name" -> strip(parts(1))) ++
            parts.lift(2).map(p => "table_location" -> strip(p))
        }
      val sch = kv.get("schema_name").orElse(kv.get("schema")).getOrElse(
        throw new IllegalArgumentException(s"CALL $proc: missing schema"))
      val tbl = kv.get("table_name").orElse(kv.get("table")).getOrElse(
        throw new IllegalArgumentException(s"CALL $proc: missing table"))
      if (proc.equalsIgnoreCase("register_table") ||
          proc.equalsIgnoreCase("register_iceberg_table") ||
          proc.equalsIgnoreCase("export_iceberg_table"))
        require(kv.contains("table_location"), s"CALL $proc: missing table_location")
      Some(AlterExecuteStmt(sch, tbl, proc.toLowerCase,
        kv -- Seq("schema_name", "schema", "table_name", "table")))
    case addColumnRe(name, ine, colName, typeText) =>
      val (sch, tbl) = tableOf(name)
      Some(AddColumnStmt(sch, tbl, colName, sparkType(typeText), ine != null))
    case dropColumnRe(name, ie, colName) =>
      val (sch, tbl) = tableOf(name)
      Some(DropColumnStmt(sch, tbl, colName, ie != null))
    case setColumnTypeRe(name, colName, typeText) =>
      val (sch, tbl) = tableOf(name)
      Some(SetColumnTypeStmt(sch, tbl, colName, sparkType(typeText)))
    case renameColumnRe(name, ie, from, to) =>
      val (sch, tbl) = tableOf(name)
      Some(RenameColumnStmt(sch, tbl, from, to, ie != null))
    case renameTableRe(name, newName) =>
      val (sch, tbl) = tableOf(name)
      val parts = newName.split('.')
      // a bare new name stays in the SOURCE schema (Trino RENAME TO
      // semantics), not the session default
      val (newSch, newTbl) =
        if (parts.length >= 2) (Some(parts(parts.length - 2)), parts.last)
        else (None, parts.head)
      Some(RenameTableStmt(sch, tbl, newSch, newTbl))
    case alterExecRe(name, proc, args, whereText) =>
      val (sch, tbl) = tableOf(name)
      val argRe = """(?is)^\s*(\w+)\s*=>\s*(.+?)\s*$""".r
      val argMap = Option(args).filter(_.trim.nonEmpty)
        .map(splitQuotedTopLevel(_).map {
          case argRe(k, v) => k.toLowerCase -> v.stripPrefix("'").stripSuffix("'")
          case other =>
            throw new IllegalArgumentException(
              s"Malformed EXECUTE argument (expect name => value): '$other'")
        }.toMap).getOrElse(Map.empty)
      // the scoped-optimize predicate travels under a reserved key no
      // `name => value` argument can produce (names are \w+)
      val withWhere = Option(whereText).filter(_.trim.nonEmpty)
        .map(w => argMap + ("__where" -> w.trim)).getOrElse(argMap)
      Some(AlterExecuteStmt(sch, tbl, proc.toLowerCase, withWhere))
    case _ => None
  }}

  // ---- MERGE INTO (Trino Iceberg's third DML verb) ----

  /** Index of the first top-level (unquoted, unparenthesized, word-bounded)
    * occurrence of keyword `kw` at or after `from`, or -1. Keyword search
    * is case-insensitive.
    */
  private def topLevelKeywordIndex(s: String, kw: String, from: Int = 0): Int = {
    var depth = 0; var inQuote = false; var i = 0
    val n = kw.length
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' => inQuote = !inQuote
        case '(' if !inQuote => depth += 1
        case ')' if !inQuote => depth -= 1
        case _ if !inQuote && depth == 0 && i >= from &&
          i + n <= s.length && s.regionMatches(true, i, kw, 0, n) &&
          (i == 0 || { val p = s.charAt(i - 1); !p.isLetterOrDigit && p != '_' }) &&
          (i + n == s.length || { val q = s.charAt(i + n); !q.isLetterOrDigit && q != '_' }) =>
          return i
        case _ =>
      }
      i += 1
    }
    -1
  }

  /** Parse a `MERGE INTO …` statement. Structure is scanned top-level
    * (quote- and paren-aware), so ON conditions, subquery sources, and
    * clause predicates may contain parens, commas, and quoted strings
    * freely; a bare (unparenthesized) CASE expression inside a clause's
    * AND-condition is the one unsupported spelling — parenthesize it.
    */
  private def parseMerge(sqlText: String, defaultSchema: String): MergeStmt = {
    val text = sqlText.trim.stripSuffix(";")
    val headRe = """(?is)^\s*MERGE\s+INTO\s+([\w.]+)\s+(.*)$""".r
    val (name, afterTarget) = text match {
      case headRe(n, rest) => (n, rest.trim)
      case _ => throw new IllegalArgumentException(s"Malformed MERGE INTO: $text")
    }
    val (sch, tbl) = tableOf(name, defaultSchema)
    // optional target alias before USING
    val usingIdx = topLevelKeywordIndex(afterTarget, "USING")
    require(usingIdx >= 0, "MERGE requires a USING clause")
    val targetAlias = {
      val a = afterTarget.substring(0, usingIdx).trim
      val stripped = if (a.toUpperCase.startsWith("AS ")) a.substring(3).trim else a
      if (stripped.isEmpty) None
      else if (stripped.matches("""[A-Za-z_]\w*""")) Some(stripped)
      else throw new IllegalArgumentException(s"Malformed MERGE target alias: '$a'")
    }
    val afterUsing = afterTarget.substring(usingIdx + 5).trim
    // source: (subquery) or table name, then optional alias, then ON
    val onIdx = topLevelKeywordIndex(afterUsing, "ON")
    require(onIdx > 0, "MERGE requires an ON condition")
    val sourcePart = afterUsing.substring(0, onIdx).trim
    val (source, sourceIsQuery, sourceAlias) =
      if (sourcePart.startsWith("(")) {
        val close = matchingParen(sourcePart, 0)
        val query = sourcePart.substring(1, close).trim
        val aliasPart = sourcePart.substring(close + 1).trim
        (query, true, aliasOf(aliasPart))
      } else {
        val sp = sourcePart.indexWhere(_.isWhitespace)
        if (sp < 0) (sourcePart, false, None)
        else (sourcePart.substring(0, sp),
          false, aliasOf(sourcePart.substring(sp).trim))
      }
    val afterOn = afterUsing.substring(onIdx + 2).trim
    val firstWhen = topLevelKeywordIndex(afterOn, "WHEN")
    require(firstWhen > 0, "MERGE requires at least one WHEN clause")
    val on = afterOn.substring(0, firstWhen).trim
    // split the clause tail on top-level WHEN keywords
    val clauseTexts = {
      val tail = afterOn.substring(firstWhen)
      val starts = Iterator.iterate(0)(i =>
        topLevelKeywordIndex(tail, "WHEN", i + 1))
        .takeWhile(_ >= 0).toSeq
      starts.zipAll(starts.drop(1), 0, tail.length).map {
        case (a, b) => tail.substring(a, b).trim
      }
    }
    val clauses = clauseTexts.map(parseMergeWhen)
    MergeStmt(sch, tbl, targetAlias, source, sourceIsQuery, sourceAlias, on, clauses)
  }

  /** `alias-part` → Some(alias) (with optional AS), None when empty. */
  private def aliasOf(s: String): Option[String] = {
    val stripped = if (s.toUpperCase.startsWith("AS ")) s.substring(3).trim else s.trim
    if (stripped.isEmpty) None
    else {
      require(stripped.matches("""[A-Za-z_]\w*"""),
        s"Malformed MERGE source alias: '$s'")
      Some(stripped)
    }
  }

  /** Index of the paren matching the opener at `open` (quote-aware). */
  private def matchingParen(s: String, open: Int): Int = {
    var depth = 0; var inQuote = false; var i = open
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' => inQuote = !inQuote
        case '(' if !inQuote => depth += 1
        case ')' if !inQuote =>
          depth -= 1
          if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    throw new IllegalArgumentException(s"Unbalanced parens in MERGE source: $s")
  }

  /** One `WHEN [NOT] MATCHED [AND cond] THEN action` clause. */
  private def parseMergeWhen(clause: String): MergeWhen = {
    val whenRe = """(?is)^\s*WHEN\s+(NOT\s+)?MATCHED\s*(.*)$""".r
    val (matched, rest) = clause match {
      case whenRe(not, r) => (not == null, r.trim)
      case _ => throw new IllegalArgumentException(s"Malformed MERGE WHEN clause: '$clause'")
    }
    val thenIdx = topLevelKeywordIndex(rest, "THEN")
    require(thenIdx >= 0, s"MERGE WHEN clause missing THEN: '$clause'")
    val condPart = rest.substring(0, thenIdx).trim
    val cond =
      if (condPart.isEmpty) None
      else if (condPart.matches("(?is)^AND\\s.*"))
        Some(condPart.substring(3).trim).filter(_.nonEmpty)
      else throw new IllegalArgumentException(
        s"Expected AND <condition> before THEN, got: '$condPart'")
    val actionText = rest.substring(thenIdx + 4).trim
    val action = parseMergeAction(matched, actionText, clause)
    MergeWhen(matched, cond, action)
  }

  private def parseMergeAction(matched: Boolean, actionText: String,
                               clause: String): MergeActionSpec = {
    val upper = actionText.toUpperCase
    if (matched && upper == "DELETE") MergeDeleteSpec
    else if (matched && upper.startsWith("UPDATE")) {
      val setIdx = topLevelKeywordIndex(actionText, "SET")
      require(setIdx > 0, s"MERGE UPDATE requires SET: '$clause'")
      val sets = splitQuotedTopLevel(actionText.substring(setIdx + 3)).map { a =>
        val eq = topLevelIndexOf(a, '=')
        require(eq > 0, s"Malformed MERGE SET assignment: '$a'")
        val colName = a.substring(0, eq).trim
        require(colName.matches("""[A-Za-z_]\w*"""),
          s"Malformed MERGE SET target column: '$colName'")
        (colName, a.substring(eq + 1).trim)
      }
      require(sets.nonEmpty, s"MERGE UPDATE requires at least one assignment: '$clause'")
      MergeUpdateSpec(sets)
    } else if (!matched && upper.startsWith("INSERT")) {
      val insRe = """(?is)^INSERT\s*(?:\(([^)]*)\)\s*)?VALUES\s*\((.*)\)\s*$""".r
      actionText match {
        case insRe(cols, vals) =>
          val columns = Option(cols).map(
            _.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
          columns.foreach(cs => require(cs.forall(_.matches("""[A-Za-z_]\w*""")),
            s"Malformed MERGE INSERT column list: '$cols'"))
          val values = splitQuotedTopLevel(vals)
          require(values.nonEmpty, s"MERGE INSERT requires values: '$clause'")
          MergeInsertSpec(columns, values)
        case _ =>
          throw new IllegalArgumentException(
            s"Malformed MERGE INSERT action (expect INSERT [(cols)] VALUES (…)): '$actionText'")
      }
    } else throw new IllegalArgumentException(
      if (matched) s"WHEN MATCHED supports UPDATE SET / DELETE, got: '$actionText'"
      else s"WHEN NOT MATCHED supports only INSERT, got: '$actionText'")
  }

  /** Public quote/paren-aware top-level comma split — EXECUTE…USING
    * argument lists and other callers outside this parser.
    */
  def splitArgs(s: String): Seq[String] = splitQuotedTopLevel(s)

  /** `ARRAY['a', 'b c']` → its string elements (None when `text` is not
    * an ARRAY literal). Shared by WITH-properties and SET PROPERTIES.
    */
  def arrayLiteralElems(text: String): Option[Seq[String]] = {
    val arrayRe = """(?is)^\s*ARRAY\s*\[([^\]]*)\]\s*$""".r
    val elemRe = """'((?:[^']|'')*)'""".r
    text match {
      case arrayRe(inner) =>
        val quoted = elemRe.findAllMatchIn(inner).map(_.group(1).replace("''", "'")).toSeq
        Some(if (quoted.nonEmpty) quoted
             else inner.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      case _ => None
    }
  }

  /** Top-level comma split tracking quotes, parens AND brackets —
    * `k = ARRAY['a', 'b']` property lists carry commas at bracket depth.
    */
  private def splitPropsTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0; var inQuote = false
    s.foreach {
      case '\'' => inQuote = !inQuote; cur += '\''
      case c @ ('(' | '[') if !inQuote => depth += 1; cur += c
      case c @ (')' | ']') if !inQuote => depth -= 1; cur += c
      case ',' if !inQuote && depth == 0 => out += cur.toString; cur.clear()
      case c => cur += c
    }
    out += cur.toString
    out.map(_.trim).filter(_.nonEmpty).toSeq
  }

  private def splitQuotedTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0; var inQuote = false
    s.foreach {
      case '\'' => inQuote = !inQuote; cur += '\''
      case c @ '(' if !inQuote => depth += 1; cur += c
      case c @ ')' if !inQuote => depth -= 1; cur += c
      case ',' if !inQuote && depth == 0 => out += cur.toString; cur.clear()
      case c => cur += c
    }
    out += cur.toString
    out.map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** Index of the first top-level (unquoted, unparenthesized) occurrence
    * of `ch`, or -1. Skips `=` inside `>=`/`<=`/`!=`/`<>` comparisons by
    * construction only for the assignment split use (the first `=` in a
    * well-formed assignment is the assignment operator).
    */
  private def topLevelIndexOf(s: String, ch: Char): Int = {
    var depth = 0; var inQuote = false; var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' => inQuote = !inQuote
        case '(' if !inQuote => depth += 1
        case ')' if !inQuote => depth -= 1
        case c if c == ch && !inQuote && depth == 0 => return i
        case _ =>
      }
      i += 1
    }
    -1
  }

  /** Parse the CREATE TABLE `WITH (…)` property list: `partitioning =
    * ARRAY['a', …]` yields the partition columns; `sorted_by =
    * ARRAY['a', 'b DESC']` the write-clustering sort columns;
    * `format_version = 2` (quoted or bare, Trino's Iceberg property)
    * selects merge-on-read row-level DML; `format = 'PARQUET'` is
    * accepted as a no-op (Parquet is this engine's only format, matching
    * the reference's `iceberg.file-format=PARQUET`); anything else —
    * including a non-Parquet format — is rejected loudly rather than
    * silently dropped. Properties split on TOP-LEVEL commas only (the
    * ARRAY properties carry commas of their own).
    */
  private def tablePropsOf(props: String): (Seq[String], Int, Seq[String], Seq[String]) = {
    if (props == null || props.trim.isEmpty) return (Seq.empty, 1, Seq.empty, Seq.empty)
    val partitioningRe = """(?is)^\s*partitioning\s*=\s*ARRAY\[([^\]]*)\]\s*$""".r
    val sortedByRe = """(?is)^\s*sorted_by\s*=\s*ARRAY\[([^\]]*)\]\s*$""".r
    // Trino Iceberg's property name, with a short alias
    val bloomRe = """(?is)^\s*(?:parquet_)?bloom_filter_columns\s*=\s*ARRAY\[([^\]]*)\]\s*$""".r
    val formatRe = """(?is)^\s*format\s*=\s*'([^']*)'\s*$""".r
    val formatVersionRe = """(?is)^\s*format_version\s*=\s*'?(\d+)'?\s*$""".r
    var formatVersion = 1
    var sortedBy = Seq.empty[String]
    var bloomCols = Seq.empty[String]
    // ARRAY elements are quoted strings — extract them as such, so a
    // comma INSIDE a quoted transform (`'bucket(4, id)'`) never splits
    val arrayElemRe = """'((?:[^']|'')*)'""".r
    def arrayElems(cols: String): Seq[String] = {
      val quoted = arrayElemRe.findAllMatchIn(cols).map(_.group(1).replace("''", "'")).toSeq
      if (quoted.nonEmpty) quoted
      else cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq // unquoted spelling
    }
    val partitioning = splitPropsTopLevel(props).flatMap {
      case partitioningRe(cols) =>
        arrayElems(cols)
      case sortedByRe(cols) =>
        sortedBy = arrayElems(cols)
        Seq.empty
      case bloomRe(cols) =>
        bloomCols = arrayElems(cols)
        Seq.empty
      case formatRe(fmt) =>
        require(fmt.equalsIgnoreCase("PARQUET"), s"unsupported format '$fmt' (only PARQUET)")
        Seq.empty
      case formatVersionRe(v) =>
        formatVersion = v.toInt
        require(formatVersion == 1 || formatVersion == 2,
          s"format_version must be 1 or 2, got $formatVersion")
        Seq.empty
      case other =>
        throw new IllegalArgumentException(s"unsupported table property: $other")
    }.toSeq
    (partitioning, formatVersion, sortedBy, bloomCols)
  }

  /** `[catalog.]schema` → schema. */
  private def schemaOf(name: String): String = name.split('.').last

  /** `[catalog.]schema.table` → (schema, table); a bare name lands in the
    * session default schema.
    */
  private def tableOf(name: String, defaultSchema: String): (String, String) = {
    val parts = name.split('.')
    if (parts.length >= 2) (parts(parts.length - 2), parts.last)
    else (defaultSchema, parts.head)
  }

  /** (declared schema, per-column comments keyed by lowercase name) — a
    * column definition may end in `COMMENT '…'` (Trino spelling, also what
    * SHOW CREATE TABLE emits).
    */
  private def parseColumns(colList: String): (StructType, Map[String, String]) = {
    val colCommentRe = """(?is)^(.*?)\s+COMMENT\s+'((?:[^']|'')*)'\s*$""".r
    val comments = scala.collection.mutable.Map.empty[String, String]
    val fields = splitQuotedTopLevel(colList).map { colDef =>
      val (core, comment) = colDef.trim match {
        case colCommentRe(c, v) => (c.trim, Some(v.replace("''", "'")))
        case other => (other, None)
      }
      val sp = core.indexWhere(_.isWhitespace)
      require(sp > 0, s"Malformed column definition: '$core'")
      val name = core.substring(0, sp)
      comment.foreach(comments(name.toLowerCase) = _)
      StructField(name, sparkType(core.substring(sp).trim), nullable = true)
    }
    (StructType(fields), comments.toMap)
  }

  /** Trino column type → Spark DataType. Parameterized string/time types
    * lose their precision (Spark strings are unbounded; timestamps are
    * micros) — same lossy-but-faithful mapping Trino's own Iceberg
    * connector applies.
    */
  private[catalog] def sparkType(trinoType: String): DataType = {
    val t = trinoType.trim.toLowerCase
    t match {
      case "varchar" | "string" | "char" => org.apache.spark.sql.types.StringType
      case _ if t.startsWith("varchar(") || t.startsWith("char(") =>
        org.apache.spark.sql.types.StringType
      case "int" | "integer" => org.apache.spark.sql.types.IntegerType
      case "real" => org.apache.spark.sql.types.FloatType
      case "varbinary" => org.apache.spark.sql.types.BinaryType
      // `timestamp [(p)] [with time zone]` → session-zoned TimestampType:
      // the engine session is pinned UTC (the reference stack stores UTC
      // throughout — 02-tables.sql:40), so plain and tz-carrying
      // timestamps share instant semantics; zone-carrying interpolator
      // values ([[graft.params.SqlFormat.literal]]) normalize to UTC on
      // the way in, matching Trino's storage of timestamptz as UTC
      case _ if t.startsWith("timestamp") => org.apache.spark.sql.types.TimestampType
      case _ => DataType.fromDDL(t) // bigint/smallint/tinyint/boolean/double/date/decimal(p,s)/…
    }
  }
}
