package graft

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteFromTable, InsertIntoStatement,
  LogicalPlan, SubqueryAlias, UpdateTable}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.reflect.ClassTag

import graft.params.SqlStatement
import graft.mapper.ResultMapper
import graft.catalog.SnapshotCatalog
import graft.unload.{StorageOps, Unloader, UnloadResponse}

/** The engine facade — the Spark-native equivalent of the reference's
  * AthenaClient + TrinoIcebergStack client surface (reference
  * src/AthenaTrinoClient/AthenaClient.cs, IAthenaClient.cs):
  *
  *   - `query`        — parameterized SQL → DataFrame (lazily planned)
  *   - `queryAs[T]`   — typed query with snake_case→camelCase mapping (C2)
  *   - `queryScalar`  — first row/first column as Option[T] (C3)
  *   - `executeNonQuery` / `executeBatch` — DDL/DML (C5,
  *     TrinoIcebergStack.cs:206-257)
  *   - `unload`       — query → flat Parquet export (C4)
  *   - snapshot catalog with INSERT commits + `FOR TIMESTAMP AS OF` (T1)
  *
  * Where the reference shipped SQL text over HTTP to a Trino coordinator
  * (AthenaClient.cs:213-225), here the statement goes straight into
  * Catalyst: parse → analyze → optimize → whole-stage codegen → executor
  * tasks, with pushdown/pruning for free (SURVEY.md §4).
  */
class GraftEngine(val spark: SparkSession, val warehouse: String) {

  val catalog = new SnapshotCatalog(spark, warehouse)
  val storage = new StorageOps(spark.sparkContext.hadoopConfiguration)
  private val unloader = new Unloader(spark)
  // statement parameters stay out of generated code, so each statement
  // shape compiles once (see graft.params.ParamHoist)
  graft.params.ParamHoist.install(spark)

  /** Session default schema (the reference session carries
    * ClientSessionProperties { Catalog, Schema } so unqualified names
    * resolve — AthenaClient.cs:37-45). Set via `USE [catalog.]<schema>`;
    * every unqualified table name in queries, DML, and DDL resolves
    * against it. Starts at `default`, Trino's usual fallback.
    */
  @volatile private var sessionSchema: String = "default"

  /** The schema unqualified names currently resolve against. */
  def currentSchema: String = sessionSchema
  // structured-logging surface ("What's missing" r3 #2): level-guarded,
  // so the disabled default costs one boolean per statement
  private val log = graft.logging.Log(classOf[GraftEngine])

  // ---- query surface ----

  def query(stmt: SqlStatement): DataFrame =
    try {
      graft.logging.Log.debug(log, "Executing statement: {0}", stmt.text)
      expandExecute(stmt.text) match {
        case Some(expanded) => query(SqlStatement(expanded))
        case None =>
          introspectionQuery(stmt.text).getOrElse {
            val plan = TableRefs.parse(stmt.text)
            if (catalogWrite(stmt.text, plan).isDefined)
              throw new GraftQueryException(stmt.text,
                "INSERT, DELETE and UPDATE on a catalog table run through executeNonQuery")
            run(stmt.text, plan)
          }
      }
    } catch {
      // parse + analysis failures (ParseException extends AnalysisException)
      // → typed contract naming the statement, the parity point with the
      // reference's TrinoAggregateException
      // (TrinoClientIntegrationTests.cs:126-132). The caller gets the
      // statement and the cause, so the log keeps one line and no trace.
      case e: org.apache.spark.sql.AnalysisException =>
        graft.logging.Log.debug(log, "Statement failed to parse/analyze: {0}", e.getCondition)
        throw new GraftQueryException(stmt.text, "SQL failed to parse/analyze", e)
      case e: graft.catalog.LegacyTableFormatException =>
        throw new GraftQueryException(stmt.text, e.getMessage, e)
    }

  /** Typed query (reference QueryAsync<T>, AthenaClient.cs:55-70). */
  def queryAs[T: Encoder](stmt: SqlStatement): Seq[T] =
    ResultMapper.datasetOf[T](query(stmt)).collect().toIndexedSeq

  /** Scalar query (reference QueryScalarAsync<T>, AthenaClient.cs:72-104). */
  def queryScalar[T: ClassTag](stmt: SqlStatement): Option[T] =
    ResultMapper.scalar[T](query(stmt))

  /** Streaming typed cursor (reference ExecuteReader analogue,
    * TrinoAdoNetIntegrationTests.cs:57-119): rows surface incrementally
    * via `toLocalIterator` — one partition on the driver at a time, never
    * the whole result — so results larger than driver memory iterate
    * through. Same snake→camel mapping as [[queryAs]].
    */
  def queryIterator[T: Encoder](stmt: SqlStatement): Iterator[T] = {
    import scala.jdk.CollectionConverters._
    ResultMapper.datasetOf[T](query(stmt)).toLocalIterator().asScala
  }

  /** Untyped incremental reader with schema metadata (FieldCount /
    * GetName / IsDBNull parity) — see [[graft.mapper.GraftRowReader]].
    */
  def executeReader(stmt: SqlStatement): graft.mapper.GraftRowReader =
    new graft.mapper.GraftRowReader(query(stmt))

  /** DDL/DML without a result set. SQL-text DDL — CREATE SCHEMA [WITH
    * (location)], CREATE TABLE [IF NOT EXISTS] (+Iceberg-style
    * `partitioning = ARRAY[…]`), CTAS, DROP TABLE, MERGE — routes into
    * the snapshot catalog, so the reference's seed scripts run verbatim
    * (Scripts/create/01-schema.sql, 02-tables.sql via ExecuteNonQuery,
    * TrinoIcebergStack.cs:152-197). Any other statement is parsed once:
    * INSERT, DELETE and UPDATE on a catalog table commit a snapshot and
    * return rows affected (S5: Scripts/insert/01-test-data.sql); the rest
    * runs like [[query]] and reports a lone numeric cell, else -1.
    *
    * Every failure is a [[GraftQueryException]] naming the statement,
    * except [[graft.catalog.CommitConflictException]]: a lost commit race
    * stays typed so the caller can retry.
    */
  def executeNonQuery(stmt: SqlStatement): Long = {
    val sqlText = stmt.text
    trySession(sqlText).getOrElse(
      try tryDdl(sqlText).getOrElse(execute(sqlText))
      catch {
        case e: org.apache.spark.sql.catalyst.parser.ParseException =>
          throw new GraftQueryException(sqlText, s"Malformed SQL: ${e.getMessage}", e)
        case e @ (_: IllegalArgumentException | _: IllegalStateException |
                  _: org.apache.spark.sql.AnalysisException |
                  _: graft.catalog.LegacyTableFormatException |
                  _: graft.catalog.MergeConflictException |
                  _: graft.catalog.CatalogPublishConflictException) =>
          throw new GraftQueryException(sqlText, e.getMessage, e)
      })
  }

  /** A statement no session or DDL handler owns: an introspection
    * statement, or one parsed plan — a catalog write commits
    * ([[commitWrite]]), anything else runs as the bound plan.
    */
  private def execute(sqlText: String): Long = {
    def affected(df: DataFrame): Long = {
      val rows = df.collect()
      if (rows.length == 1 && rows(0).length == 1) rows(0).get(0) match {
        case n: Number => n.longValue()
        case _         => -1L
      } else -1L
    }
    introspectionQuery(sqlText).map(affected).getOrElse {
      val plan = TableRefs.parse(sqlText)
      catalogWrite(sqlText, plan).fold(affected(run(sqlText, plan)))(commitWrite(sqlText, plan, _))
    }
  }

  // ---- session statements: PREPARE / EXECUTE / DEALLOCATE (Trino's
  //      server-side prepared statements; the client-side twin is the
  //      params.Sql literal formatter) ----

  private val preparedStatements =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val prepareRe =
    """(?is)^\s*PREPARE\s+([A-Za-z_]\w*)\s+FROM\s+(.+?)\s*;?\s*$""".r
  private val deallocateRe =
    """(?is)^\s*DEALLOCATE\s+PREPARE\s+([A-Za-z_]\w*)\s*;?\s*$""".r
  private val executeStmtRe =
    """(?is)^\s*EXECUTE\s+([A-Za-z_]\w*)\s*(?:USING\s+(.+?))?\s*;?\s*$""".r
  private val useRe =
    """(?is)^\s*USE\s+(?:[A-Za-z_]\w*\.)?([A-Za-z_]\w*)\s*;?\s*$""".r

  /** PREPARE name FROM <stmt> / DEALLOCATE PREPARE name; an EXECUTE that
    * reaches the non-query surface expands and recurses (prepared DML —
    * Trino allows preparing any statement).
    */
  private def trySession(sqlText: String): Option[Long] = sqlText match {
    case useRe(schema) =>
      // USE [catalog.]<schema> — Trino's session-schema statement; a
      // leading catalog qualifier is accepted and dropped like everywhere
      // else in this engine. The schema must exist (Trino errors too).
      if (!catalog.schemaExists(schema))
        throw new GraftQueryException(sqlText, s"Schema $schema does not exist")
      sessionSchema = schema
      Some(0L)
    case prepareRe(name, body) =>
      // a PREPARE body that is itself PREPARE/EXECUTE/DEALLOCATE would
      // re-enter the expansion path unboundedly (PREPARE a FROM EXECUTE a
      // recursed to StackOverflowError) — reject it like Trino rejects
      // preparing session-control statements
      if (body.matches("""(?is)^\s*(PREPARE|EXECUTE|DEALLOCATE)\b.*"""))
        throw new GraftQueryException(sqlText,
          "Cannot PREPARE a session-control statement (PREPARE/EXECUTE/DEALLOCATE)")
      preparedStatements.put(name, body); Some(0L)
    case deallocateRe(name) =>
      if (preparedStatements.remove(name) == null)
        throw new GraftQueryException(sqlText, s"Prepared statement $name does not exist")
      Some(0L)
    case executeStmtRe(_, _) =>
      expandExecute(sqlText).map(t => executeNonQuery(SqlStatement(t)))
    case _ => None
  }

  /** Expand `EXECUTE name [USING e1, e2, …]` against the prepared-
    * statement store: each `?` placeholder outside string literals,
    * quoted names and comments ([[TableRefs.quotedSpans]]) substitutes
    * the corresponding USING expression, parenthesized, positionally —
    * Trino's EXECUTE…USING semantics.
    * Returns None when the text is not an EXECUTE statement.
    */
  private def expandExecute(sqlText: String): Option[String] = sqlText match {
    case executeStmtRe(name, using) =>
      val body = Option(preparedStatements.get(name)).getOrElse(
        throw new GraftQueryException(sqlText, s"Prepared statement $name does not exist"))
      val args = Option(using).map(graft.catalog.DdlParser.splitArgs)
        .getOrElse(Seq.empty)
      var argIdx = 0
      val out = TableRefs.pieces(body).map {
        case (text, None) => text.flatMap {
          case '?' =>
            if (argIdx >= args.length)
              throw new GraftQueryException(sqlText,
                s"EXECUTE $name: statement has more parameters than USING values (${args.length})")
            argIdx += 1
            s"(${args(argIdx - 1)})"
          case c => c.toString
        }
        case (text, _) => text
      }.mkString
      if (argIdx < args.length)
        throw new GraftQueryException(sqlText,
          s"EXECUTE $name: ${args.length} USING values but only $argIdx parameters")
      Some(out)
    case _ => None
  }

  private def tryDdl(sqlText: String): Option[Long] =
    (try graft.catalog.DdlParser.parse(sqlText, sessionSchema)
     catch { case e: IllegalArgumentException =>
       throw new GraftQueryException(sqlText, s"Malformed DDL: ${e.getMessage}", e) })
    .map {
      case graft.catalog.CreateSchemaStmt(schema, ifNotExists, location) =>
        if (catalog.schemaExists(schema)) {
          if (!ifNotExists)
            throw new GraftQueryException(sqlText, s"Schema $schema already exists")
          // IF NOT EXISTS on an existing schema is a NO-OP — re-running
          // createSchema here would overwrite the location marker and
          // orphan every table already under the old location
        } else catalog.createSchema(schema, location)
        0L
      case graft.catalog.CreateTableLikeStmt(schema, table, srcSchema,
          srcTable, includingProps, ifNotExists) =>
        if (!catalog.schemaExists(schema)) catalog.createSchema(schema)
        catalog.createTableLike(schema, table, srcSchema, srcTable,
          includingProps, ifNotExists)
        0L
      case graft.catalog.CreateTableStmt(schema, table, columns, ifNotExists,
          partitionedBy, tableComment, columnComments, formatVersion, sortedBy,
          bloomCols) =>
        if (!catalog.schemaExists(schema)) catalog.createSchema(schema)
        val preExisting = catalog.tableExists(schema, table)
        catalog.createTable(schema, table, columns, ifNotExists, partitionedBy,
          formatVersion, sortedBy, bloomCols)
        // declared COMMENT clauses persist like COMMENT ON (never onto a
        // pre-existing IF NOT EXISTS table)
        if (!preExisting) {
          tableComment.foreach(c => catalog.setComment(schema, table, None, Some(c)))
          columnComments.foreach { case (cn, cv) =>
            catalog.setComment(schema, table, Some(cn), Some(cv)) }
        }
        0L
      case graft.catalog.CreateTableAsStmt(schema, table, select, ifNotExists, orReplace) =>
        if (ifNotExists && catalog.tableExists(schema, table)) 0L
        else {
          if (!catalog.schemaExists(schema)) catalog.createSchema(schema)
          if (orReplace)
            catalog.replaceTableAs(schema, table, query(SqlStatement(select)))
          else
            catalog.createTableAs(schema, table, query(SqlStatement(select)))
        }
      case graft.catalog.DropTableStmt(schema, table, ifExists) =>
        if (!catalog.tableExists(schema, table)) {
          if (ifExists) 0L
          else throw new GraftQueryException(sqlText, s"Table $schema.$table does not exist")
        } else { catalog.dropTable(schema, table); 0L }
      case graft.catalog.CommentStmt(schema, table, column, comment) =>
        requireCatalogTable(sqlText, schema, table)
        catalog.setComment(schema, table, column, comment)
        0L
      case graft.catalog.DropSchemaStmt(schema, ifExists, cascade) =>
        if (!catalog.schemaExists(schema)) {
          if (ifExists) 0L
          else throw new GraftQueryException(sqlText, s"Schema $schema does not exist")
        } else { catalog.dropSchema(schema, cascade); 0L }
      case graft.catalog.SetPropertiesStmt(schema, table, properties) =>
        requireCatalogTable(sqlText, schema, table)
        properties.foreach { case (key, raw) =>
          def elems = graft.catalog.DdlParser.arrayLiteralElems(raw).getOrElse(
            throw new GraftQueryException(sqlText,
              s"Property $key expects an ARRAY['…'] value, got: $raw"))
          key match {
            case "sorted_by"    => catalog.setSortSpec(schema, table, elems)
            case "partitioning" => catalog.setPartitionSpec(schema, table, elems)
            case "history.expire.min-snapshots-to-keep" =>
              val v = raw.trim.stripPrefix("'").stripSuffix("'")
              if (!v.toIntOption.exists(_ > 0))
                throw new GraftQueryException(sqlText,
                  s"$key expects a positive integer, got: $raw")
              catalog.setTableProperty(schema, table, key, v)
            case other => throw new GraftQueryException(sqlText,
              s"Unsupported table property: $other (supported: sorted_by, " +
                "partitioning, history.expire.min-snapshots-to-keep)")
          }
        }
        0L
      case graft.catalog.AnalyzeStmt(schema, table) =>
        requireCatalogTable(sqlText, schema, table)
        // one aggregation pass; the result persists keyed by the head
        // snapshot so SHOW STATS is metadata-only until the next commit
        val head = catalog.snapshots(schema, table).lastOption
          .map(_.snapshotId).getOrElse(0L)
        val statRows = liveStats(schema, table)
        catalog.writeTableStats(schema, table, head, statRows)
        statRows.collectFirst {
          case (None, _, _, _, Some(rc), _, _) => rc.toLong
        }.getOrElse(0L)
      case graft.catalog.TruncateStmt(schema, table) =>
        requireCatalogTable(sqlText, schema, table)
        // TRUNCATE is METADATA-ONLY: the commit references no data files
        // and the removed-row count is the parquet-footer record-count sum
        // — no table scan, no rewrite, any table size. The pre-truncate
        // snapshot stays time-travel-visible like any CoW DML commit.
        catalog.truncateCounted(schema, table)._2
      case graft.catalog.CreateViewStmt(schema, view, select, orReplace) =>
        if (!catalog.schemaExists(schema)) catalog.createSchema(schema)
        // Trino validates a view's defining query at CREATE time — analyze
        // it (lazily planned, nothing executes) before persisting the text
        query(SqlStatement(select))
        catalog.createView(schema, view, select, orReplace)
        0L
      case graft.catalog.CreateMaterializedViewStmt(schema, view, select, ifNotExists) =>
        if (!catalog.schemaExists(schema)) catalog.createSchema(schema)
        if (catalog.isMaterializedView(schema, view)) {
          if (ifNotExists) 0L
          else throw new GraftQueryException(sqlText,
            s"Materialized view $schema.$view already exists")
        } else {
          catalog.createMaterializedView(schema, view, select,
            mvMaterialization(select), referencedSources(select))
          0L
        }
      case graft.catalog.RefreshMaterializedViewStmt(schema, view) =>
        mvRefreshLock(schema, view).synchronized {
          val meta = catalog.materializedViewMeta(schema, view).getOrElse(
            throw new GraftQueryException(sqlText,
              s"Materialized view $schema.$view does not exist"))
          refreshIncremental(schema, view, meta).getOrElse {
            lastMvRefreshMode = "full"
            val refreshed = catalog.refreshMaterializedView(schema, view,
              mvMaterialization(meta._1), referencedSources(meta._1))
            // the refresh wrote and footer-scanned the data already — the
            // returned count is metadata arithmetic, not a second table scan
            catalog.snapshotRowCount(schema, view, refreshed)
          }
        }
      case graft.catalog.DropMaterializedViewStmt(schema, view, ifExists) =>
        if (!catalog.isMaterializedView(schema, view)) {
          if (ifExists) 0L
          else throw new GraftQueryException(sqlText,
            s"Materialized view $schema.$view does not exist")
        } else {
          catalog.dropTable(schema, view)
          mvRefreshLocks.remove(schema + "\u0000" + view) // no lock leak
          0L
        }
      case graft.catalog.DropViewStmt(schema, view, ifExists) =>
        if (!catalog.viewExists(schema, view)) {
          if (ifExists) 0L
          else throw new GraftQueryException(sqlText, s"View $schema.$view does not exist")
        } else { catalog.dropView(schema, view); 0L }
      case m: graft.catalog.MergeStmt =>
        requireCatalogTable(sqlText, m.schema, m.table)
        // source: subquery text straight through the query surface; a table
        // name via SELECT * so catalog refs and temp views both resolve
        val src =
          if (m.sourceIsQuery) query(SqlStatement(m.source))
          else query(SqlStatement(s"SELECT * FROM ${m.source}"))
        val tAlias = m.targetAlias.getOrElse(m.table)
        val sAlias = m.sourceAlias.getOrElse(
          if (m.sourceIsQuery) "source" else m.source.split('.').last)
        val (matched, notMatched) = m.clauses.partition(_.matched)
        val mActions: Seq[graft.catalog.MergeAction] = matched.map { c =>
          val cond = c.cond.map(parseCond(sqlText, _))
          c.action match {
            case graft.catalog.MergeDeleteSpec => graft.catalog.MergeDeleteAction(cond)
            case graft.catalog.MergeUpdateSpec(sets) =>
              graft.catalog.MergeUpdateAction(cond,
                sets.map { case (col, e) => (col, parseCond(sqlText, e)) })
            case _: graft.catalog.MergeInsertSpec =>
              throw new GraftQueryException(sqlText, "WHEN MATCHED cannot INSERT")
          }
        }
        val nmActions = notMatched.map { c =>
          val cond = c.cond.map(parseCond(sqlText, _))
          c.action match {
            case graft.catalog.MergeInsertSpec(cols, values) =>
              graft.catalog.MergeInsertAction(cond, cols,
                values.map(parseCond(sqlText, _)))
            case _ =>
              throw new GraftQueryException(sqlText,
                "WHEN NOT MATCHED supports only INSERT")
          }
        }
        catalog.mergeInto(m.schema, m.table, src, tAlias, sAlias,
          parseCond(sqlText, m.on), mActions, nmActions)._2
      case graft.catalog.AddColumnStmt(schema, table, column, dataType, ifNotExists) =>
        requireCatalogTable(sqlText, schema, table)
        val exists = catalog.declaredSchema(schema, table)
          .exists(_.fieldNames.exists(_.equalsIgnoreCase(column)))
        if (exists) {
          if (!ifNotExists)
            throw new GraftQueryException(sqlText,
              s"Column $column already exists in $schema.$table")
        } else catalog.addColumn(schema, table, column, dataType)
        0L
      case graft.catalog.DropColumnStmt(schema, table, column, ifExists) =>
        requireCatalogTable(sqlText, schema, table)
        val exists = catalog.declaredSchema(schema, table)
          .exists(_.fieldNames.exists(_.equalsIgnoreCase(column)))
        if (!exists) {
          if (!ifExists)
            throw new GraftQueryException(sqlText,
              s"Column $column does not exist in $schema.$table")
        } else catalog.dropColumn(schema, table, column)
        0L
      case graft.catalog.RenameColumnStmt(schema, table, from, to, ifExists) =>
        requireCatalogTable(sqlText, schema, table)
        val exists = catalog.declaredSchema(schema, table)
          .exists(_.fieldNames.exists(_.equalsIgnoreCase(from)))
        if (!exists) {
          if (!ifExists)
            throw new GraftQueryException(sqlText,
              s"Column $from does not exist in $schema.$table")
        } else catalog.renameColumn(schema, table, from, to)
        0L
      case graft.catalog.SetColumnTypeStmt(schema, table, column, dataType) =>
        requireCatalogTable(sqlText, schema, table)
        catalog.setColumnType(schema, table, column, dataType)
        0L
      case graft.catalog.RenameTableStmt(schema, table, newSchema, newTable) =>
        requireCatalogTable(sqlText, schema, table)
        catalog.renameTable(schema, table, newSchema.getOrElse(schema), newTable)
        0L
      case graft.catalog.CatalogRefStmt(proc, name, tables) =>
        proc match {
          case "create_catalog_branch"      => catalog.createCatalogBranch(name, tables)
          case "publish_catalog_branch"     => catalog.publishCatalogBranch(name)
          case "materialize_catalog_branch" => catalog.materializeCatalogBranch(name)
          case "merge_catalog_branch"       => catalog.mergeCatalogBranch(name)
          case "drop_catalog_branch"        => catalog.dropCatalogBranch(name)
          case "create_catalog_tag"         => catalog.createCatalogTag(name, tables)
          case "drop_catalog_tag"           => catalog.dropCatalogTag(name)
        }
        0L
      case graft.catalog.AlterExecuteStmt(schema, table, proc, args) =>
        // register_table / register_iceberg_table / migrate are the
        // procedures whose target must NOT exist yet
        if (proc != "register_table" && proc != "register_iceberg_table" &&
            proc != "migrate")
          requireCatalogTable(sqlText, schema, table)
        proc match {
          case "register_table" =>
            val loc = args.getOrElse("table_location",
              throw new GraftQueryException(sqlText,
                "register_table requires table_location => '<path>'"))
            catalog.registerTable(schema, table, loc)
            0L
          case "register_iceberg_table" =>
            val loc = args.getOrElse("table_location",
              throw new GraftQueryException(sqlText,
                "register_iceberg_table requires table_location => '<path>'"))
            catalog.registerIcebergTable(schema, table, loc, args.get("metadata_file"))
            0L
          case "refresh_iceberg_table" =>
            catalog.refreshIcebergTable(schema, table)
          case "export_iceberg_table" =>
            val loc = args.getOrElse("table_location",
              throw new GraftQueryException(sqlText,
                "export_iceberg_table requires table_location => '<path>'"))
            catalog.exportIcebergTable(schema, table, loc)
          case "migrate" =>
            val loc = args.getOrElse("table_location",
              throw new GraftQueryException(sqlText,
                "migrate requires table_location => '<path>'"))
            catalog.migrateTable(schema, table, loc)
          case "unregister_table" =>
            catalog.unregisterTable(schema, table)
            0L
          case "add_files" =>
            val loc = args.getOrElse("location",
              throw new GraftQueryException(sqlText,
                "add_files requires location => '<path>'"))
            catalog.addFiles(schema, table, loc)
          case "add_files_from_table" =>
            val st = args.getOrElse("table_name",
              throw new GraftQueryException(sqlText,
                "add_files_from_table requires table_name => '<table>'"))
            val ss = args.getOrElse("schema_name", schema)
            catalog.addFilesFromTable(schema, table, ss, st)
          case "optimize" =>
            catalog.compact(schema, table,
              args.get("file_count").map(_.toInt).getOrElse(1),
              args.get("__where").map(parseCond(sqlText, _)))
            0L
          case "optimize_manifests" | "rewrite_manifests" =>
            catalog.rewriteManifests(schema, table)
          case "expire_snapshots" =>
            // retention_threshold => '<n>d'/'<n>h'/'<n>m'/'<n>s' (Trino
            // spelling); everything older than now - threshold expires
            val retainMs = args.get("retention_threshold")
              .map(parseDuration(sqlText, _)).getOrElse(0L)
            catalog.expireSnapshots(schema, table,
              System.currentTimeMillis() - retainMs).length.toLong
          case "remove_orphan_files" =>
            catalog.removeOrphanFiles(schema, table).length.toLong
          case "drop_extended_stats" =>
            catalog.dropExtendedStats(schema, table); 0L
          case "rollback_to_snapshot" =>
            val id = args.getOrElse("snapshot_id",
              throw new GraftQueryException(sqlText,
                "rollback_to_snapshot requires snapshot_id => <id>")).toLong
            catalog.rollbackToSnapshot(schema, table, id)
            0L
          case "rollback_to_timestamp" =>
            // timestamp => TIMESTAMP '2026-01-01 00:00:00' (or the bare
            // quoted literal) — resolved like FOR TIMESTAMP AS OF, UTC
            val raw = args.getOrElse("timestamp",
              throw new GraftQueryException(sqlText,
                "rollback_to_timestamp requires timestamp => TIMESTAMP '<ts>'"))
            val lit = raw.trim.replaceAll("(?i)^TIMESTAMP\\s+", "")
              .stripPrefix("'").stripSuffix("'").trim
            val ms =
              try java.time.LocalDateTime.parse(lit.replace(" ", "T"))
                .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
              catch { case e: java.time.format.DateTimeParseException =>
                throw new GraftQueryException(sqlText,
                  s"Malformed rollback_to_timestamp literal: '$lit'", e) }
            catalog.rollbackToTimestamp(schema, table, ms)
            0L
          case "create_branch" | "drop_branch" | "create_tag" | "drop_tag" |
               "fast_forward" | "merge_branch" =>
            val name = args.getOrElse("name",
              throw new GraftQueryException(sqlText, s"$proc requires a ref name"))
            val snapId = args.get("snapshot_id").map(_.toLong)
            proc match {
              case "create_branch" => catalog.createBranch(schema, table, name, snapId); 0L
              case "drop_branch"   => catalog.dropBranch(schema, table, name); 0L
              case "create_tag"    => catalog.createTag(schema, table, name, snapId); 0L
              case "drop_tag"      => catalog.dropTag(schema, table, name); 0L
              case "fast_forward"  => catalog.fastForward(schema, table, name); 0L
              case "merge_branch"  => catalog.mergeBranch(schema, table, name)
            }
          case other =>
            throw new GraftQueryException(sqlText,
              s"Unsupported ALTER TABLE EXECUTE procedure: $other " +
                "(supported: optimize, optimize_manifests, expire_snapshots, " +
                "remove_orphan_files, rollback_to_snapshot, rollback_to_timestamp, create_branch, " +
                "drop_branch, create_tag, drop_tag, fast_forward, merge_branch, " +
                "add_files, add_files_from_table, register_table, unregister_table, " +
                "migrate, drop_extended_stats)")
        }
    }

  private def requireCatalogTable(sqlText: String, schema: String, table: String): Unit =
    if (!catalog.tableExists(schema, table))
      throw new GraftQueryException(sqlText, s"Table $schema.$table does not exist")

  /** Parse a MERGE or `optimize … WHERE` scalar/predicate once, in the
    * facade's dialect ([[TrinoSqlParser]]), converting the parse error
    * into the engine's typed failure contract.
    */
  private def parseCond(sqlText: String, e: String): org.apache.spark.sql.Column =
    try GraftPlanBridge.column(TrinoSqlParser.parseExpression(e))
    catch { case ex: Exception =>
      throw new GraftQueryException(sqlText, s"Malformed DML expression '$e': ${ex.getMessage}", ex)
    }

  /** `'7d'`-style retention durations (Trino's `retention_threshold`). */
  private def parseDuration(sqlText: String, s: String): Long = {
    val m = """(?i)^\s*(\d+)\s*(d|h|m|s)\s*$""".r.findFirstMatchIn(s).getOrElse(
      throw new GraftQueryException(sqlText, s"Malformed retention duration: '$s'"))
    m.group(1).toLong * (m.group(2).toLowerCase match {
      case "d" => 86400000L; case "h" => 3600000L; case "m" => 60000L; case _ => 1000L
    })
  }

  /** The catalog table a parsed INSERT, DELETE or UPDATE writes, as
    * (schema, table, branch): resolved by name only, never bound to a
    * read; `"t@br"` names branch `br`. None for any other statement and
    * for a target the catalog does not own, which Spark resolves itself.
    * A catalog view, a metadata table or an aliased target is refused.
    */
  private def catalogWrite(sqlText: String,
                           plan: LogicalPlan): Option[(String, String, Option[String])] = {
    def refuse(why: String) = throw new GraftQueryException(sqlText, why)
    writeTarget(plan).collect {
      case r: UnresolvedRelation                   => (r, false)
      case SubqueryAlias(_, r: UnresolvedRelation) => (r, true)
    }.flatMap { case (rel, aliased) =>
      val owned = TableRefs.schemaTable(rel.multipartIdentifier, sessionSchema).flatMap {
        case (sch, branchName(tbl, br)) if catalog.tableExists(sch, tbl) => Some((sch, tbl, Some(br)))
        case (sch, tbl) if catalog.tableExists(sch, tbl) => Some((sch, tbl, None))
        case (sch, name @ metadataName(tbl, _)) if catalog.tableExists(sch, tbl) =>
          refuse(s"Metadata table $sch.$name is read-only")
        case (sch, tbl) if catalog.viewExists(sch, tbl) =>
          refuse(s"$sch.$tbl is a view; INSERT, DELETE and UPDATE write tables")
        case _ => None
      }
      if (owned.isDefined && aliased) refuse("A DELETE or UPDATE target takes no alias")
      owned
    }
  }

  private def writeTarget(plan: LogicalPlan): Option[LogicalPlan] = plan match {
    case i: InsertIntoStatement => Some(i.table)
    case d: DeleteFromTable     => Some(d.table)
    case u: UpdateTable         => Some(u.table)
    case _                      => None
  }

  /** Commit a parsed INSERT, DELETE or UPDATE on the catalog table
    * [[catalogWrite]] resolved; returns rows affected. The INSERT source,
    * the WHERE predicate and the SET values bind like a query's relations
    * (catalog tables, time travel, subqueries); the target stays a name.
    */
  private def commitWrite(sqlText: String, plan: LogicalPlan,
                          target: (String, String, Option[String])): Long = {
    val (sch, tbl, branch) = target
    val cat = branch.fold(catalog) { br =>
      require(catalog.branchExists(sch, tbl, br), s"Branch $br does not exist on $sch.$tbl")
      catalog.branch(br)
    }
    val written = writeTarget(plan)
    val bound = TableRefs.mapRelations(plan) { r =>
      if (written.exists(_ eq r)) r else bindRelation(sqlText, r, Map.empty)
    }
    val column = GraftPlanBridge.column _
    bound match {
      case i: InsertIntoStatement =>
        require(i.userSpecifiedCols.isEmpty && i.partitionSpec.isEmpty && !i.byName,
          "INSERT takes no column list: the source supplies every column in table order")
        require(!i.overwrite, "INSERT OVERWRITE is not supported")
        commitInsert(sch, tbl, GraftPlanBridge.ofRows(spark, i.query), cat)
      case d: DeleteFromTable =>
        // affected-rows contract (Trino returns the deleted count): the
        // count happens inside the catalog's synchronized rewrite, so no
        // commit can interleave between the count and the delete
        cat.deleteCounted(sch, tbl, column(d.condition))._2
      case u: UpdateTable =>
        val sets = u.assignments.map {
          case Assignment(UnresolvedAttribute(Seq(c)), value) => (c, column(value))
          case Assignment(key, _) => throw new IllegalArgumentException(
            s"UPDATE SET target must be a column of $sch.$tbl, got ${key.sql}")
        }
        cat.updateCounted(sch, tbl, sets,
          u.condition.fold(org.apache.spark.sql.functions.lit(true))(column))._2
    }
  }

  /** Cast a source frame positionally to the table's declared schema and
    * commit it as one snapshot (each INSERT is one time-travel-visible
    * snapshot, the reference's commit model, AthenaClientTests.cs:351-364);
    * returns rows affected, read from the written files' footers — the
    * source runs once, in the write.
    */
  private def commitInsert(schemaName: String, tableName: String,
                           raw: DataFrame, cat: SnapshotCatalog): Long = {
    val declared = cat.declaredSchema(schemaName, tableName).getOrElse(
      throw new IllegalStateException(s"Table $schemaName.$tableName has no declared schema"))
    require(raw.schema.length == declared.length,
      s"INSERT arity ${raw.schema.length} != table arity ${declared.length}")
    val cast = raw.select(declared.fields.toIndexedSeq.zip(GraftPlanBridge.columnsOf(raw)).map {
      case (f, c) => c.cast(f.dataType).as(f.name)
    }: _*)
    cat.insertCounted(schemaName, tableName, cast)._2
  }

  /** Run a multi-statement SQL script exactly the way the reference's
    * stack runner feeds its seed scripts (TrinoIcebergStack.cs:152-197):
    * drop `--` and `/* */` comments, split on `;`, execute each non-empty
    * statement in order. String literals and quoted names
    * ([[TableRefs.quotedSpans]]) are kept whole: a `;` or `--` inside one
    * neither splits nor comments, and an apostrophe inside a comment
    * opens no literal. Returns per-statement row counts.
    */
  def executeScript(script: String): Seq[Long] = {
    val stmts = Seq.newBuilder[String]
    val cur = new StringBuilder
    TableRefs.pieces(script).foreach {
      case (_, Some('-' | '/')) => cur += ' '
      case (text, None) => text.foreach {
        case ';' => stmts += cur.result(); cur.clear()
        case c   => cur += c
      }
      case (text, _) => cur ++= text
    }
    stmts += cur.result()
    stmts.result().map(_.trim).filter(_.nonEmpty)
      .map(s => executeNonQuery(SqlStatement(s)))
  }

  /** Parallel statement batch (reference TrinoIcebergStack.cs:233-257). */
  def executeBatch(stmts: Seq[SqlStatement]): Unit = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.sequence(stmts.map(s => Future(executeNonQuery(s)))), Duration.Inf)
  }

  /** UNLOAD (reference UnloadAsync, AthenaClient.cs:116-208). */
  def unload(stmt: SqlStatement, targetDir: String): UnloadResponse = {
    val resp = unloader.unload(query(stmt), targetDir)
    graft.logging.Log.info(log, "Unloaded {0} rows to {1}", resp.rowCount, resp.path)
    resp
  }

  // ---- catalog-table SQL integration ----

  /** Expose a catalog table (latest snapshot, resolved lazily at query time)
    * to the SQL surface as `<schema>_<table>`.
    */
  def registerTable(schema: String, table: String): Unit =
    catalog.readLatest(schema, table).createOrReplaceTempView(s"${schema}_$table")

  /** Register a plain DataFrame under a view name. */
  def registerView(name: String, df: DataFrame): Unit =
    df.createOrReplaceTempView(name)

  // ---- catalog introspection SQL (Trino SHOW / DESCRIBE client surface) ----

  private val showSchemasRe =
    """(?is)^\s*SHOW\s+SCHEMAS\s*(?:LIKE\s+'([^']*)')?\s*;?\s*$""".r
  private val showCatalogsRe =
    """(?is)^\s*SHOW\s+CATALOGS\s*(?:LIKE\s+'([^']*)')?\s*;?\s*$""".r
  private val showTablesRe =
    """(?is)^\s*SHOW\s+TABLES\s*(?:(?:FROM|IN)\s+(?:[A-Za-z_]\w*\.)?([A-Za-z_]\w*))?\s*(?:LIKE\s+'([^']*)')?\s*;?\s*$""".r

  /** SQL LIKE pattern (%/_ wildcards) → anchored regex, literal-safe. */
  private def likeMatches(pattern: String, s: String): Boolean = {
    val rx = pattern.map {
      case '%' => ".*"
      case '_' => "."
      case c => java.util.regex.Pattern.quote(c.toString)
    }.mkString
    s.matches(rx)
  }
  private val describeRe =
    """(?is)^\s*(?:DESCRIBE|DESC|SHOW\s+COLUMNS\s+(?:FROM|IN))\s+(?:(?:[A-Za-z_]\w*\.)?([A-Za-z_]\w*)\.)?([A-Za-z_]\w*)\s*;?\s*$""".r
  private val showCreateRe =
    """(?is)^\s*SHOW\s+CREATE\s+(TABLE|VIEW)\s+(?:(?:[A-Za-z_]\w*\.)?([A-Za-z_]\w*)\.)?([A-Za-z_]\w*)\s*;?\s*$""".r
  private val showStatsRe =
    """(?is)^\s*SHOW\s+STATS\s+FOR\s+(?:(?:[A-Za-z_]\w*\.)?([A-Za-z_]\w*)\.)?([A-Za-z_]\w*)\s*;?\s*$""".r

  /** SHOW SCHEMAS / SHOW TABLES / DESCRIBE against the snapshot catalog
    * (Trino's introspection statements). SHOW TABLES lists views too —
    * Trino behavior. Returns None for any other statement (the normal
    * query path takes over).
    */
  private def introspectionQuery(sql: String): Option[DataFrame] = {
    import spark.implicits._
    sql match {
      case showCatalogsRe(like) =>
        // exactly one catalog backs this engine — presented under the
        // reference's name (its SQL says iceberg.schema.table throughout)
        val all = Seq("iceberg")
        Some(Option(like).map(p => all.filter(likeMatches(p, _)))
          .getOrElse(all).toDF("catalog"))
      case showSchemasRe(like) =>
        val all = catalog.listSchemas()
        Some(Option(like).map(p => all.filter(likeMatches(p, _)))
          .getOrElse(all).toDF("schema_name"))
      case showTablesRe(sch0, like) =>
        val sch = Option(sch0).getOrElse(sessionSchema)
        val all = (catalog.listTables(sch) ++ catalog.listViews(sch)).sorted
        Some(Option(like).map(p => all.filter(likeMatches(p, _)))
          .getOrElse(all).toDF("table_name"))
      case describeRe(sch0, tbl)
          // a bare name the catalog doesn't own falls through to Spark
          // (DESCRIBE of a Spark temp view keeps working under USE)
          if sch0 != null ||
            catalog.tableExists(sessionSchema, tbl) ||
            catalog.viewExists(sessionSchema, tbl) =>
        val sch = Option(sch0).getOrElse(sessionSchema)
        val fields =
          if (catalog.tableExists(sch, tbl))
            catalog.declaredSchema(sch, tbl).map(_.fields.toSeq).getOrElse(Seq.empty)
              .filterNot(_.name.startsWith("__mv_"))
          else if (catalog.viewExists(sch, tbl))
            query(SqlStatement(catalog.viewSql(sch, tbl).get)).schema.fields.toSeq
          else throw new GraftQueryException(sql, s"Table or view $sch.$tbl does not exist")
        val colComments =
          if (catalog.tableExists(sch, tbl)) catalog.comments(sch, tbl)._2
          else Map.empty[String, String]
        // a materialized view surfaces its freshness as a trailing
        // metadata row: stale sources (if any) are named in the comment,
        // and the refresh strategy the definition's SHAPE admits (what a
        // REFRESH would do on an append-only history; non-append commits
        // still recompute) as a second row
        val mvRow =
          if (!catalog.isMaterializedView(sch, tbl)) Nil
          else {
            val stale = catalog.staleSources(sch, tbl)
            val meta = catalog.materializedViewMeta(sch, tbl).get
            val srcs = meta._2.keySet.flatMap(_.split('.') match {
              case Array(s, t) => Some((s, t)); case _ => None
            })
            val strategy = MvIncremental.classify(spark, meta._1, srcs,
                sessionSchema) match {
              case Some(MvIncremental.MvProjectShape) => "incremental-append"
              case Some(_: MvIncremental.MvAggShape)  => "incremental-merge"
              case None                               => "full-recompute"
            }
            Seq(
              ("# materialized_view",
                if (stale.isEmpty) "fresh" else "stale", false,
                if (stale.isEmpty) null else s"stale sources: ${stale.mkString(", ")}"),
              ("# refresh_strategy", strategy, false,
                "strategy for append-only source histories"))
          }
        // an Iceberg-attached table surfaces its source + sync posture:
        // one KB-scale read of the foreign metadata tells the operator
        // whether the attachment lags the source, without a refresh
        val iceRow =
          if (!catalog.tableExists(sch, tbl)) Nil
          else catalog.icebergSourceOf(sch, tbl).toSeq.flatMap { src =>
            val srcRow = ("# iceberg_source", src, false,
              "read-only attachment; CALL system.refresh_iceberg_table to sync")
            val syncRow =
              try catalog.icebergSyncLag(sch, tbl).map {
                case (head, srcHead, behind) =>
                  ("# iceberg_sync",
                    if (behind == 0L) "up to date"
                    else s"behind by $behind snapshot(s)", false,
                    s"imported head $head; source head ${srcHead.getOrElse("-")}")
              }.toSeq
              catch { case scala.util.control.NonFatal(e) =>
                Seq(("# iceberg_sync", "source unreachable", false,
                  String.valueOf(e.getMessage).take(120)))
              }
            srcRow +: syncRow
          }
        Some((fields.map(f => (f.name, f.dataType.sql.toLowerCase, f.nullable,
            colComments.get(f.name.toLowerCase).orNull)) ++ mvRow ++ iceRow)
          .toDF("column_name", "data_type", "nullable", "comment"))
      case showCreateRe(kind, sch0, tbl) if kind.equalsIgnoreCase("TABLE") =>
        val sch = Option(sch0).getOrElse(sessionSchema)
        val columns = catalog.declaredSchema(sch, tbl).getOrElse(
          throw new GraftQueryException(sql, s"Table $sch.$tbl does not exist"))
        // COMMENT clauses round-trip the catalog state (Trino includes
        // table and column comments in SHOW CREATE TABLE output)
        val (tblComment, colComments) = catalog.comments(sch, tbl)
        def q(v: String) = s"'${v.replace("'", "''")}'"
        val cols = columns.fields.map { f =>
          val c = colComments.get(f.name.toLowerCase)
            .map(v => s" COMMENT ${q(v)}").getOrElse("")
          s"   ${f.name} ${trinoType(f.dataType)}$c"
        }.mkString(",\n")
        val parts = catalog.partitionSpec(sch, tbl)
        val sorted = catalog.sortSpec(sch, tbl)
        val props = Seq("   format = 'PARQUET'") ++
          (if (catalog.formatVersion(sch, tbl) == 2)
            Seq("   format_version = 2")
          else Nil) ++
          (if (parts.nonEmpty)
            Seq(s"   partitioning = ARRAY[${parts.map(p => s"'$p'").mkString(", ")}]")
          else Nil) ++
          (if (sorted.nonEmpty)
            Seq(s"   sorted_by = ARRAY[${sorted.map(p => s"'$p'").mkString(", ")}]")
          else Nil) ++ {
            val blooms = catalog.bloomColumns(sch, tbl)
            if (blooms.nonEmpty)
              Seq("   parquet_bloom_filter_columns = " +
                s"ARRAY[${blooms.map(p => s"'$p'").mkString(", ")}]")
            else Nil
          }
        val commentClause = tblComment.map(v => s"\nCOMMENT ${q(v)}").getOrElse("")
        val ddl = s"CREATE TABLE $sch.$tbl (\n$cols\n)$commentClause" +
          s"\nWITH (\n${props.mkString(",\n")}\n)"
        Some(Seq(ddl).toDF("create_table"))
      case showCreateRe(_, sch0, v) => // VIEW
        val sch = Option(sch0).getOrElse(sessionSchema)
        val text = catalog.viewSql(sch, v).getOrElse(
          throw new GraftQueryException(sql, s"View $sch.$v does not exist"))
        Some(Seq(s"CREATE VIEW $sch.$v AS $text").toDF("create_view"))
      case showStatsRe(sch0, tbl) =>
        val sch = Option(sch0).getOrElse(sessionSchema)
        if (!catalog.tableExists(sch, tbl))
          throw new GraftQueryException(sql, s"Table $sch.$tbl does not exist")
        Some(showStats(sch, tbl))
      case _ => None
    }
  }

  /** SHOW STATS FOR t (Trino's stats surface): one row per column with
    * approximate NDV, null fraction, and low/high values, plus the
    * summary row carrying row_count and data_size — computed in a SINGLE
    * aggregation pass over the current snapshot (every per-column
    * statistic is one agg expression in one job), with byte size and the
    * exact row count from the parquet footers ($files metadata, no
    * second scan). Columns of non-atomic type (arrays/structs/binary)
    * report only their null fraction, like engines that skip unsupported
    * stats.
    */
  private def showStats(sch: String, tbl: String): DataFrame = {
    import spark.implicits._
    // persisted ANALYZE stats matching the current head serve WITHOUT any
    // scan — the 100 TB contract: collect once, answer from metadata
    // until the table changes (Trino Iceberg's ANALYZE/Puffin model)
    val head = catalog.snapshots(sch, tbl).lastOption.map(_.snapshotId).getOrElse(0L)
    val rows = catalog.readTableStats(sch, tbl) match {
      case Some((snap, persisted)) if snap == head => persisted
      case _ => liveStats(sch, tbl)
    }
    rows.map { case (cn, ds, ndv, nf, rc, lo, hi) =>
      (cn.orNull, ds, ndv, nf, rc, lo, hi)
    }.toDF("column_name", "data_size", "distinct_values_count",
      "nulls_fraction", "row_count", "low_value", "high_value")
  }

  /** One aggregation pass over the current snapshot → SHOW STATS rows
    * (every per-column statistic is one agg expression in one job), byte
    * size and exact row count from the manifest/footer metadata.
    */
  private def liveStats(sch: String, tbl: String): Seq[catalog.StatsRow] = {
    import org.apache.spark.sql.functions._
    val df = catalog.readLatest(sch, tbl)
    val atomic = df.schema.fields.map { f =>
      f.dataType match {
        case _: org.apache.spark.sql.types.ArrayType |
             _: org.apache.spark.sql.types.MapType |
             _: org.apache.spark.sql.types.StructType |
             org.apache.spark.sql.types.BinaryType => f.name -> false
        case _ => f.name -> true
      }
    }.toMap
    val aggExprs = df.schema.fields.flatMap { f =>
      val c = col(f.name)
      val nulls = sum(when(c.isNull, 1L).otherwise(0L)).as(s"__n_${f.name}")
      if (atomic(f.name))
        Seq(nulls,
          approx_count_distinct(c).as(s"__d_${f.name}"),
          min(c).cast("string").as(s"__lo_${f.name}"),
          max(c).cast("string").as(s"__hi_${f.name}"))
      else Seq(nulls)
    } :+ count(lit(1)).as("__rows")
    val r = df.agg(aggExprs.head, aggExprs.tail.toIndexedSeq: _*).collect()(0)
    val rows = r.getAs[Long]("__rows")
    val dataSize = catalog.filesMeta(sch, tbl)
      .agg(sum(col("file_size_in_bytes"))).collect()(0) match {
        case row if row.isNullAt(0) => 0L
        case row => row.getLong(0)
      }
    df.schema.fields.map { f =>
      val nulls = r.getAs[Long](s"__n_${f.name}")
      val frac = if (rows == 0) 0.0 else nulls.toDouble / rows
      if (atomic(f.name))
        (Some(f.name), Option.empty[Double],
          Option(r.getAs[Long](s"__d_${f.name}")).map(_.toDouble),
          Some(frac), Option.empty[Double],
          Option(r.getAs[String](s"__lo_${f.name}")),
          Option(r.getAs[String](s"__hi_${f.name}")))
      else (Some(f.name), Option.empty[Double], Option.empty[Double], Some(frac),
        Option.empty[Double], Option.empty[String], Option.empty[String])
    }.toSeq :+ ((Option.empty[String], Some(dataSize.toDouble), Option.empty[Double],
      Option.empty[Double], Some(rows.toDouble),
      Option.empty[String], Option.empty[String]))
  }

  /** Spark type → Trino type spelling (the inverse of DdlParser.sparkType;
    * lossy pairs round-trip to the canonical Trino name).
    */
  private def trinoType(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => "varchar"
      case LongType => "bigint"
      case IntegerType => "integer"
      case ShortType => "smallint"
      case ByteType => "tinyint"
      case DoubleType => "double"
      case FloatType => "real"
      case BooleanType => "boolean"
      case BinaryType => "varbinary"
      case DateType => "date"
      case TimestampType => "timestamp(6)"
      case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
      case other => other.sql.toLowerCase
    }
  }

  // ---- table names: parse once, bind catalog relations in the plan ----

  /** A parsed statement with every table reference the snapshot
    * catalog owns bound to the catalog's DataFrame ([[bindRelation]]).
    * `overrides` substitutes a DataFrame for a plain reference to a
    * table — the incremental MV refresh replays a definition over deltas
    * and pinned states this way.
    */
  private def boundPlan(sqlText: String, plan: LogicalPlan,
                        overrides: Map[(String, String), DataFrame] = Map.empty): LogicalPlan =
    TableRefs.mapRelations(plan)(bindRelation(sqlText, _, overrides))

  /** A parsed statement run as its bound plan. */
  private def run(sqlText: String, plan: LogicalPlan): DataFrame =
    GraftPlanBridge.ofRows(spark, boundPlan(sqlText, plan))

  private val metadataName = """(\w+)\$(\w+)""".r
  private val branchName = """(\w+)@(\w+)""".r

  /** One table reference → `SubqueryAlias(<name as written>, <plan of
    * the catalog's DataFrame>)`: `t$kind` is a metadata table, `t@br` the
    * branch's history, a catalog view expands its defining SQL
    * (depth-guarded), a data table reads latest or travels —
    * `FOR TIMESTAMP AS OF` by instant, `FOR VERSION AS OF` a snapshot id
    * when all digits and a branch/tag name otherwise. A name the catalog
    * does not own (a Spark temp view, a CTE is never passed here) comes
    * back unchanged for Spark to resolve.
    */
  private def bindRelation(sql: String, ref: LogicalPlan,
                           overrides: Map[(String, String), DataFrame]): LogicalPlan = {
    val (rel, travel) = ref match {
      case RelationTimeTravel(r: UnresolvedRelation, ts, version) => (r, Some((ts, version)))
      case r: UnresolvedRelation => (r, None)
    }
    def read(cat: SnapshotCatalog, sch: String, tbl: String, branch: Option[String]) =
      concealMv(travel match {
        case None => cat.readLatest(sch, tbl)
        case Some((Some(ts), _)) => cat.readAsOf(sch, tbl, travelMillis(ts))
        case Some((_, version)) =>
          val v = version.getOrElse("")
          if (v.nonEmpty && v.forall(_.isDigit)) cat.readVersion(sch, tbl, v.toLong)
          else if (branch.isDefined) throw new IllegalArgumentException(
            s"Cannot combine a branch operand with FOR VERSION AS OF '$v'")
          else cat.readRef(sch, tbl, v)
      })
    val df = TableRefs.schemaTable(rel.multipartIdentifier, sessionSchema).flatMap {
      case (sch, name) =>
        try name match {
          case metadataName(tbl, kind) if catalog.tableExists(sch, tbl) =>
            if (travel.isDefined) throw new IllegalArgumentException(
              s"Metadata table $sch.$name does not support time travel")
            Some(catalog.metadataTable(sch, tbl, kind))
          case branchName(tbl, br) if catalog.tableExists(sch, tbl) =>
            if (!catalog.branchExists(sch, tbl, br))
              throw new IllegalArgumentException(s"Branch $br does not exist on $sch.$tbl")
            Some(read(catalog.branch(br), sch, tbl, Some(br)))
          case tbl if travel.isEmpty && overrides.contains((sch, tbl)) =>
            overrides.get((sch, tbl))
          case tbl if catalog.tableExists(sch, tbl) => Some(read(catalog, sch, tbl, None))
          case tbl if travel.isEmpty && catalog.viewExists(sch, tbl) =>
            Some(expandView(sql, sch, tbl))
          case _ => None
        } catch { case e: IllegalArgumentException =>
          throw new GraftQueryException(sql, e.getMessage, e) }
    }
    df.fold(ref)(d => SubqueryAlias(rel.multipartIdentifier, GraftPlanBridge.planOf(d)))
  }

  /** `FOR TIMESTAMP AS OF TIMESTAMP '<ts>'` → epoch millis, reading the
    * literal as UTC whatever the session time zone. The parser has
    * already read it in the session zone; mapping back to local time
    * recovers the written value.
    */
  private def travelMillis(ts: Expression): Long = ts match {
    case Literal(us: Long, org.apache.spark.sql.types.TimestampType) =>
      DateTimeUtils.microsToInstant(us)
        .atZone(DateTimeUtils.getZoneId(spark.sessionState.conf.sessionLocalTimeZone))
        .toLocalDateTime.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    case other => throw new IllegalArgumentException(
      s"FOR TIMESTAMP AS OF expects a TIMESTAMP '<ts>' literal, got ${other.sql}")
  }

  /** Per-thread view-expansion depth: a catalog view's defining SQL goes
    * back through [[query]], which binds again — views-on-views nest one
    * level per hop, and a definition cycle would otherwise recurse
    * forever. 16 levels is far beyond any sane view stack.
    */
  private val viewDepth = ThreadLocal.withInitial[Integer](() => 0)

  private def expandView(sql: String, sch: String, view: String): DataFrame = {
    if (viewDepth.get() >= 16)
      throw new GraftQueryException(sql,
        s"View expansion exceeded depth 16 at $sch.$view — definition cycle?")
    viewDepth.set(viewDepth.get() + 1)
    try query(SqlStatement(catalog.viewSql(sch, view).get))
    finally viewDepth.set(viewDepth.get() - 1)
  }

  /** Distinct-key cap for the join-leg full-side prune: below it the
    * delta's keys collect to an IN list (pushable to the manifest bounds
    * tier → file skipping); above it the plain full-scan join is the
    * better plan and the prune is skipped.
    */
  private val MvJoinPruneMaxKeys = 1000

  /** Most sources an incrementally-refreshed join MV may record: the
    * telescoping decomposition is exact for any N, but each leg joins
    * all N sources — N legs × N-way joins grows quadratic in source
    * reads, and past the typical fact ⋈ dim1 ⋈ dim2 ⋈ dim3 star a
    * recompute is usually the better plan anyway.
    */
  private val MvStarMaxSources = 4

  /** One lock object per MV: REFRESH is serialized per view — the
    * incremental path spans several independently-synchronized catalog
    * calls (read meta → read deltas → commit → advance meta) and its
    * append commit is not idempotent, so two racing refreshes of the
    * same MV could double-append one delta.
    */
  private val mvRefreshLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  // NUL-joined key (no identifier can contain it), so (a, "b c") and
  // ("a b", c) never share a lock
  private def mvRefreshLock(schema: String, view: String): Object =
    mvRefreshLocks.computeIfAbsent(schema + "\u0000" + view, _ => new Object)

  /** How the last REFRESH MATERIALIZED VIEW executed: `full`,
    * `incremental-append`, `incremental-merge`, or `noop` — observability
    * for specs and operators (the SQL surface is strategy-transparent).
    */
  @volatile private[graft] var lastMvRefreshMode: String = ""

  /** Catalog tables a parsed query reads, as plain references (a CTE
    * name or a time-travel read is not a live source).
    */
  private def sourceTables(plan: LogicalPlan): Seq[(String, String)] =
    TableRefs.relations(plan).flatMap {
      case r: UnresolvedRelation => TableRefs.schemaTable(r.multipartIdentifier, sessionSchema)
      case _ => None
    }.distinct.filter { case (sch, tbl) => catalog.tableExists(sch, tbl) }

  /** [[sourceTables]] with their CURRENT head snapshot ids — what a
    * materialized view records at (re)fresh time so staleness is
    * decidable later.
    */
  private def referencedSources(sql: String): Map[String, Long] =
    sourceTables(TableRefs.parse(sql)).map { case (sch, tbl) =>
      s"$sch.$tbl" -> catalog.snapshots(sch, tbl).lastOption.map(_.snapshotId).getOrElse(0L)
    }.toMap

  /** Incremental REFRESH MATERIALIZED VIEW — attempted first, transparent
    * fallback to full recompute (None). Eligible when the definition is
    * incrementally maintainable ([[MvIncremental.classify]]), every
    * source's commits since its recorded snapshot are all append-only
    * ([[SnapshotCatalog.appendsBetween]] throws otherwise), and the
    * recorded snapshots still exist (expire may have dropped them).
    *
    * Cost at scale: the delta replay scans ONLY files appended since the
    * last refresh; the merge re-aggregates `materialized ∪ partial` —
    * O(|MV| + |delta|) for aggregates, O(|delta|) append for
    * select-project-filter. A 100 TB source with a 10 GB day of appends
    * refreshes for the price of the 10 GB, where the recompute path
    * re-scans the 100 TB.
    *
    * Multi-source inner-join shape (fact ⋈ dim, and the fact ⋈ dim1 ⋈
    * dim2 star up to [[MvStarMaxSources]] sources): the new join rows
    * decompose by the telescoping identity — leg i joins
    * `S1_old ⋈ … ⋈ S(i-1)_old ⋈ ΔSi ⋈ S(i+1)_new ⋈ … ⋈ SN_new`
    * (legs disjoint by the FIRST source whose row is new) — one
    * definition replay per NON-EMPTY leg. The star steady state — a
    * huge append-only fact, dimensions that rarely move — costs one
    * delta-scan join per refresh (empty dim deltas contribute no leg);
    * when a dimension does move, its leg re-scans the fact once, pruned
    * to the delta's equi-join keys where they fit an IN list — inherent
    * to exact join maintenance (a new dim row may match arbitrarily old
    * fact rows).
    */
  private def refreshIncremental(schema: String, view: String,
                                 meta: (String, Map[String, Long])): Option[Long] = {
    val (defSql, recorded) = meta
    if (recorded.isEmpty || recorded.size > MvStarMaxSources) return None
    val srcs: Seq[((String, String), Long)] = recorded.toSeq.map {
      case (key, fromId) => key.split('.') match {
        case Array(s, t) => ((s, t), fromId)
        case _ => return None
      }
    }
    if (!srcs.forall { case ((s, t), _) => catalog.tableExists(s, t) }) return None
    // incarnation check: snapshot ids restart at 1 on drop/recreate, so a
    // recorded (source, snapshot-id) pair only names a reconstructible
    // delta when the source is still the SAME incarnation the MV
    // recorded. Unknown/missing identities (metas written before
    // identities existed) also recompute — which rewrites the meta with
    // identities, so the cost is one full refresh per legacy MV.
    val recordedIds = catalog.materializedViewSourceIds(schema, view)
    if (!srcs.forall { case ((s, t), _) =>
      recordedIds.get(s"$s.$t").contains(catalog.tableIdentity(s, t)) }) return None
    val shape = MvIncremental.classify(spark, defSql,
      srcs.map(_._1).toSet, sessionSchema).getOrElse(return None)
    // avg measures maintain through hidden sum/count partials: the
    // stored table must already CARRY them (written by an avg-aware
    // create/full-refresh) and every avg output must be double (the
    // only type whose merge-divide reproduces Spark's Average exactly;
    // decimal avg has its own division/rounding semantics) — anything
    // else recomputes
    val aggOutputs: Seq[MvIncremental.MvOut] = shape match {
      case MvIncremental.MvAggShape(o) => o
      case _ => Nil
    }
    val hasAvg = aggOutputs.contains(MvIncremental.MvAvg)
    if (hasAvg) {
      val mvF = catalog.declaredSchema(schema, view).map(_.fields).getOrElse(return None)
      val nAvg = aggOutputs.count(_ == MvIncremental.MvAvg)
      if (mvF.length != aggOutputs.length + 2 * nAvg) return None
      val typesOk = aggOutputs.zipWithIndex.forall {
        case (MvIncremental.MvAvg, i) =>
          mvF(i).dataType == org.apache.spark.sql.types.DoubleType
        case _ => true
      }
      if (!typesOk) return None
    }
    val heads = srcs.map { case (st, fromId) =>
      (st, fromId, catalog.snapshots(st._1, st._2)
        .lastOption.map(_.snapshotId).getOrElse(0L))
    }
    def currentCount(): Long =
      catalog.snapshots(schema, view).lastOption
        .map(catalog.snapshotRowCount(schema, view, _)).getOrElse(0L)
    if (heads.forall { case (_, fromId, head) => head == fromId }) {
      lastMvRefreshMode = "noop" // already fresh: nothing to commit
      return Some(currentCount())
    }
    val deltas =
      try heads.map { case (st, fromId, head) =>
        // emptiness answered from manifest metadata — zero Spark jobs on
        // the hot "did anything land" question
        (st, fromId, head, catalog.appendedRowCountBetween(st._1, st._2, fromId, head) == 0L)
      }
      catch {
        // non-append commits in range, or a recorded snapshot expired —
        // both mean the delta is not reconstructible: recompute
        case _: IllegalStateException => return None
        case _: IllegalArgumentException => return None
      }
    val newSources = heads.map { case ((s, t), _, head) => s"$s.$t" -> head }.toMap
    if (deltas.forall(_._4)) { // sources advanced but appended no rows
      lastMvRefreshMode = "noop"
      catalog.advanceMaterializedViewSources(schema, view, newSources)
      return Some(currentCount())
    }
    def deltaOf(st: (String, String), fromId: Long, head: Long): DataFrame =
      catalog.appendsBetween(st._1, st._2, fromId, head)
    /** Prune a join leg's FULL-side read to the delta's equi-join key
      * values: any full-side row joining a delta row must share its key,
      * so restricting to the delta's (small, collected) key set is exact
      * for the inner join the classifier admits — and the pushed IN
      * filter reaches the manifest-bounds tier, so a 5-row dim append
      * skips the fact table's files wholesale instead of re-scanning
      * them. Past [[MvJoinPruneMaxKeys]] distinct keys the full-scan
      * join is the right plan anyway; NULL delta keys can never
      * equi-match, so they drop from the IN list (all-null → the leg is
      * provably empty and the full side prunes to nothing).
      */
    def pruneFull(full: DataFrame, fullSt: (String, String),
                  delta: DataFrame, deltaSt: (String, String),
                  keyPairs: Seq[(((String, String), String), ((String, String), String))])
        : DataFrame = {
      import org.apache.spark.sql.functions.{col, lit}
      val pairs = keyPairs.flatMap {
        case ((s1, c1), (s2, c2)) if s1 == fullSt && s2 == deltaSt => Some((c1, c2))
        case ((s1, c1), (s2, c2)) if s2 == fullSt && s1 == deltaSt => Some((c2, c1))
        case _ => None
      }
      pairs.foldLeft(full) { case (df, (fullCol, deltaCol)) =>
        val vals = delta.select(col(deltaCol)).distinct()
          .limit(MvJoinPruneMaxKeys + 1).collect().map(_.get(0))
        if (vals.length > MvJoinPruneMaxKeys) df
        else {
          val nonNull = vals.filter(_ != null).toSeq
          if (nonNull.isEmpty) df.filter(lit(false))
          else df.filter(col(fullCol).isInCollection(nonNull))
        }
      }
    }
    val keyPairs =
      if (deltas.size >= 2)
        MvIncremental.equiJoinKeys(defSql, srcs.map(_._1).toSet, sessionSchema)
      else Nil
    // one replay runner for both strategies: the definition binds with
    // the leg's sources overridden; the avg path also appends the hidden
    // sum/count partials to the aggregate
    def runDef(m: Map[(String, String), DataFrame]): DataFrame = {
      val bound = boundPlan(defSql, TableRefs.parse(defSql), m)
      if (!hasAvg) GraftPlanBridge.ofRows(spark, bound)
      else MvIncremental.replayAugmented(spark, bound, aggOutputs)
        .getOrElse(throw new GraftQueryException(defSql,
          "augmented avg replay failed to analyze"))
    }
    val partial =
      try {
        // telescoping legs: leg i replays the definition with ΔSi for
        // source i, the OLD state (recorded snapshot) for sources before
        // it, and the NEW head for sources after it — each full side
        // pruned to the delta's equi-join keys. deltas.size == 1
        // degenerates to the single replay over the delta.
        val legs = deltas.zipWithIndex.flatMap {
          case ((stI, fromI, headI, emptyI), i) =>
            if (emptyI) None
            else Some {
              val dI = deltaOf(stI, fromI, headI)
              runDef(deltas.zipWithIndex.map {
                case ((stJ, fromJ, headJ, _), j) =>
                  if (j == i) stJ -> dI
                  else stJ -> pruneFull(
                    catalog.readVersionConformed(stJ._1, stJ._2,
                      if (j < i) fromJ else headJ),
                    stJ, dI, stI, keyPairs)
              }.toMap)
            }
        }
        legs.reduce(_.unionByName(_))
      }
      catch {
        // a replay that no longer analyzes (e.g. the definition uses a
        // column added after the pinned old state) — recompute is always
        // sound, so fall back rather than fail the refresh. A replay that
        // cannot bind or augment raises GraftQueryException — catch both.
        case _: org.apache.spark.sql.AnalysisException => return None
        case _: GraftQueryException => return None
      }
    // the replay's shape must still BE the MV's shape: a definition like
    // `SELECT *` re-planned after ADD COLUMN produces extra columns the
    // materialized table does not declare — recompute (which re-derives
    // the stored schema) is the evolution-correct path, not a mismatched
    // append/merge
    val mvFields = catalog.readLatest(schema, view).schema.fields
    if (partial.schema.fields.length != mvFields.length ||
        !partial.schema.fields.zip(mvFields).forall {
          case (p, m) => p.name.equalsIgnoreCase(m.name) }) return None
    val snap = shape match {
      case MvIncremental.MvProjectShape =>
        lastMvRefreshMode = "incremental-append"
        catalog.refreshMaterializedViewAppend(schema, view, partial, newSources)
      case MvIncremental.MvAggShape(outputs) =>
        lastMvRefreshMode = "incremental-merge"
        val merged = mergePartials(catalog.readLatest(schema, view),
          partial, outputs)
        catalog.refreshMaterializedView(schema, view, merged, newSources)
    }
    Some(catalog.snapshotRowCount(schema, view, snap))
  }

  /** The frame CREATE MATERIALIZED VIEW / full REFRESH materializes for
    * a definition: the plain query result — or, for an incrementally-
    * maintainable aggregate with avg measures whose visible outputs are
    * double, the AUGMENTED frame carrying the hidden sum/count partials
    * after the visible columns (the engine conceals `__mv_` columns on
    * reads; [[mergePartials]] consumes them on incremental refresh).
    */
  private def mvMaterialization(select: String): DataFrame = {
    val plain = query(SqlStatement(select)) // a bad definition fails typed here
    val avgOut = MvIncremental.classify(spark, select,
        sourceTables(TableRefs.parse(select)).toSet, sessionSchema) match {
      case Some(MvIncremental.MvAggShape(o)) if o.contains(MvIncremental.MvAvg) =>
        Some(o)
      case _ => None
    }
    avgOut.flatMap { o =>
      MvIncremental.replayAugmented(spark, boundPlan(select, TableRefs.parse(select)), o)
        .filter { df =>
          val fs = df.schema.fields
          o.zipWithIndex.forall {
            case (MvIncremental.MvAvg, i) =>
              fs(i).dataType == org.apache.spark.sql.types.DoubleType
            case _ => true
          }
        }
    }.getOrElse(plain)
  }

  /** Merge the materialized rows with the delta's partial aggregate:
    * re-group by the key columns, count merges by SUM, sum/min/max by
    * themselves; each measure casts back to the view's declared column
    * type (re-summing widens decimals). An all-keys aggregate (GROUP BY
    * with no measures) merges as DISTINCT. avg measures merge through
    * their hidden sum/count partials (`__mv_s_i`/`__mv_c_i`, stored
    * after the visible columns): both partials re-SUM, then the visible
    * value re-divides — guarded against a zero merged count (an all-NULL
    * group), where avg is NULL.
    */
  private def mergePartials(current: DataFrame, partial: DataFrame,
                            outputs: Seq[MvIncremental.MvOut]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, max, min, sum, when}
    val fields = current.schema.fields
    val nAvg = outputs.count(_ == MvIncremental.MvAvg)
    require(fields.length == outputs.length + 2 * nAvg,
      s"MV has ${fields.length} columns but the definition classified " +
        s"${outputs.length} (+ ${2 * nAvg} hidden avg partials)")
    val u = current.union(partial.toDF(fields.map(_.name).toSeq: _*))
    val visible = fields.take(outputs.length)
    val keys = visible.zip(outputs).collect {
      case (f, MvIncremental.MvKey) => col(f.name) }.toSeq
    val aggs = visible.zip(outputs).collect {
      case (f, MvIncremental.MvMerge(fn)) =>
        val m = fn match {
          case "count" | "sum" => sum(col(f.name))
          case "min" => min(col(f.name))
          case "max" => max(col(f.name))
        }
        m.cast(f.dataType).as(f.name)
    }.toSeq ++ outputs.zipWithIndex.collect {
      case (MvIncremental.MvAvg, i) => Seq(
        sum(col(s"__mv_s_$i")).as(s"__mv_s_$i"),
        sum(col(s"__mv_c_$i")).cast("long").as(s"__mv_c_$i"))
    }.flatten
    val grouped =
      if (aggs.isEmpty) u.distinct()
      else u.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
    val selects = fields.zipWithIndex.map { case (f, idx) =>
      if (idx < outputs.length && outputs(idx) == MvIncremental.MvAvg)
        when(col(s"__mv_c_$idx") === 0L, lit(null))
          .otherwise(col(s"__mv_s_$idx") / col(s"__mv_c_$idx"))
          .cast(f.dataType).as(f.name)
      else col(f.name)
    }.toSeq
    grouped.select(selects: _*)
  }

  /** Drop `__mv_` columns — an avg-MV's hidden sum/count partials are
    * internal refresh state, never part of the user-visible result set
    * (applies to latest reads AND time travel; the `"t$…"` metadata
    * tables stay raw by design).
    */
  private def concealMv(df0: DataFrame): DataFrame = {
    val hidden = df0.columns.filter(_.startsWith("__mv_"))
    if (hidden.isEmpty) df0 else df0.drop(hidden.toIndexedSeq: _*)
  }
}
