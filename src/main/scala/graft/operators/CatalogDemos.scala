package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftEngine
import graft.params.Sql._

/** Self-contained registry entries for the catalog-layer operators that
  * have no ANSI-SQL oracle (driver records a rows-only check): snapshot
  * time travel (T1) and unload (S7/C4). Each run builds fresh state in a
  * temp dir, exercises the real engine code path, and returns a
  * deterministic result set.
  */
object CatalogDemos {

  /** Fixed warehouse dir (wiped and rebuilt on every invocation) so the
    * snapshot layout is deterministic — the as-of read of commit 1 always
    * resolves to `snap-00001` — and the DuckDB oracle can aim straight at
    * the resolved snapshot's parquet (round-2 verdict #4: a real
    * differential check for time travel instead of rows-only).
    */
  private[graft] val ttDemoWarehouse = "/tmp/graft-tt-demo-warehouse"

  /** T1: two INSERT commits on a snapshot table; read back AS OF commit 1
    * composed with WHERE + ORDER BY (the reference's exact scenario,
    * AthenaClientTests.cs:348-391). Returns the commit-1-visible rows.
    */
  def timeTravelDemo(s: SparkSession, d: String): DataFrame = {
    val wh = new org.apache.hadoop.fs.Path(ttDemoWarehouse)
    val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(wh)) fs.delete(wh, true)
    val engine = new GraftEngine(s, ttDemoWarehouse)
    engine.catalog.createSchema("demo")
    val region = graft.Tables.region(s, d)
    engine.catalog.createTable("demo", "region_tt", region.schema)
    val s1 = engine.catalog.insert("demo", "region_tt",
      region.filter(col("r_regionkey") <= 2))
    engine.catalog.insert("demo", "region_tt",
      region.filter(col("r_regionkey") > 2))
    val asOf = java.time.Instant.ofEpochMilli(s1.committedAtMillis)
    engine.query(
      sql"SELECT r_regionkey, r_name FROM demo.region_tt FOR TIMESTAMP AS OF TIMESTAMP $asOf WHERE r_regionkey >= 0 ORDER BY r_regionkey")
  }

  /** DuckDB oracle for [[timeTravelDemo]]: the catalog's snapshot layout is
    * plain parquet, so the differential check reads the exact dirs the
    * as-of resolution yields — commit 1 = `snap-00001` — and must
    * reproduce the engine's time-travel answer byte-for-byte. (Mirrors the
    * reference's mid-commit semantics, AthenaClientTests.cs:348-391.)
    */
  val timeTravelDemoSql: String =
    s"SELECT r_regionkey, r_name FROM read_parquet('$ttDemoWarehouse/demo/region_tt/snap-00001*/*.parquet') " +
      "WHERE r_regionkey >= 0 ORDER BY r_regionkey"

  /** Fixed warehouse for the partition-pruning demo (wiped per run, like
    * [[ttDemoWarehouse]]) so the oracle can address the hive-layout
    * partition directory directly.
    */
  private[graft] val pruneDemoWarehouse = "/tmp/graft-prune-demo-warehouse"

  /** Partitioned catalog table end-to-end: create WITH
    * (partitioning = ARRAY['o_orderstatus']) via SQL-text DDL, INSERT a
    * snapshot, aggregate one partition back out. The DuckDB oracle reads
    * ONLY the `o_orderstatus=F` partition directory — if the engine didn't
    * lay data out hive-style (or leaked other partitions into it), the
    * hash differs. The pruning of the Spark-side read is separately
    * asserted in SnapshotCatalogSpec (PartitionFilters + deleted-dir
    * proof).
    */
  def partitionPruneDemo(s: SparkSession, d: String): DataFrame = {
    val wh = new org.apache.hadoop.fs.Path(pruneDemoWarehouse)
    val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(wh)) fs.delete(wh, true)
    val engine = new GraftEngine(s, pruneDemoWarehouse)
    engine.executeNonQuery(graft.params.SqlStatement(
      """CREATE TABLE demo.orders_part (
        |  o_orderkey bigint, o_totalprice double, o_orderstatus varchar
        |) WITH (partitioning = ARRAY['o_orderstatus'])""".stripMargin))
    engine.catalog.insert("demo", "orders_part",
      graft.Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus")))
    engine.catalog.readLatest("demo", "orders_part")
      .filter(col("o_orderstatus") === "F")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(14,2)")).cast("double").as("total"))
  }

  /** DuckDB oracle for [[partitionPruneDemo]] — aimed at the single
    * partition directory the filtered read should touch (partitioned
    * tables name snap dirs hive-style `_snap=<tag>` so snapshot reads
    * stay one scan — SnapshotCatalog.snapDirName).
    */
  val partitionPruneDemoSql: String =
    s"SELECT count(*) AS n, CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total " +
      s"FROM read_parquet('$pruneDemoWarehouse/demo/orders_part/_snap=00001*/o_orderstatus=F/*.parquet')"

  /** S7/C4: unload a query to flat parquet; returns the response contract
    * plus layout assertions (no subdirectories, only *.parquet at the
    * root) as a one-row result. The result is a local row, so the
    * scratch directory is deleted before returning.
    */
  def unloadDemo(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-unload-demo").toString
    try {
      val engine = new GraftEngine(s, work)
      graft.Tables.nation(s, d).createOrReplaceTempView("_unload_nation")
      val resp = engine.unload(
        sql"SELECT n_nationkey, n_name FROM _unload_nation ORDER BY n_nationkey",
        s"$work/export")
      val files = new java.io.File(s"$work/export").listFiles().toSeq
      Seq((
        resp.rowCount,
        files.count(f => f.isFile && f.getName.endsWith(".parquet") && f.length > 0) > 0,
        files.count(_.isDirectory),
        s.read.parquet(s"$work/export").count()))
        .toDF("row_count", "flat_parquet_only", "n_subdirs", "reread_count")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
  }

  /** DuckDB oracle for [[unloadDemo]]: the response contract is fully
    * deterministic (reference contract AthenaClientTests.cs:144-170) —
    * row_count and reread_count both equal the nation row count, the
    * export dir holds flat parquet only, zero subdirectories. The layout
    * booleans are literals the Spark side must have OBSERVED true on the
    * real exported directory for the hash to match.
    */
  val unloadDemoSql: String =
    """SELECT COUNT(*) AS row_count, TRUE AS flat_parquet_only,
      |       CAST(0 AS INT) AS n_subdirs, COUNT(*) AS reread_count
      |FROM nation""".stripMargin

  /** SQL DML end-to-end (Trino Iceberg UPDATE / DELETE as copy-on-write
    * snapshot commits): load nation into a catalog table, run one UPDATE
    * and one DELETE through the SQL-text surface, read the final state
    * back — composed with a time-travel read proving the pre-DML snapshot
    * is untouched. The affected-row counts returned by executeNonQuery are
    * folded into the result so the oracle checks them too.
    */
  def dmlDemo(s: SparkSession, d: String): DataFrame = {
    val wh = new org.apache.hadoop.fs.Path(dmlDemoWarehouse)
    val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(wh)) fs.delete(wh, true)
    val engine = new GraftEngine(s, dmlDemoWarehouse)
    engine.catalog.createSchema("demo")
    val nation = graft.Tables.nation(s, d)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    engine.catalog.createTable("demo", "nation_dml", nation.schema)
    engine.catalog.insert("demo", "nation_dml", nation)
    val updated = engine.executeNonQuery(graft.params.SqlStatement(
      "UPDATE demo.nation_dml SET n_name = concat(n_name, '_EU') WHERE n_regionkey = 3"))
    val deleted = engine.executeNonQuery(graft.params.SqlStatement(
      "DELETE FROM demo.nation_dml WHERE n_regionkey = 1 OR n_nationkey >= 20"))
    // the pre-DML snapshot must still read complete (time-travel
    // consistency of copy-on-write rewrites)
    val preDmlRows = engine.catalog.readAsOf("demo", "nation_dml",
      engine.catalog.snapshots("demo", "nation_dml").head.committedAtMillis).count()
    engine.query(graft.params.SqlStatement(
      "SELECT n_nationkey, n_name, n_regionkey FROM demo.nation_dml"))
      .withColumn("n_updated", lit(updated))
      .withColumn("n_deleted", lit(deleted))
      .withColumn("pre_dml_rows", lit(preDmlRows))
      .orderBy(col("n_nationkey"))
  }

  private[graft] val dmlDemoWarehouse = "/tmp/graft-dml-demo-warehouse"

  private[graft] val changesDemoWarehouse = "/tmp/graft-changes-demo-warehouse"

  /** Incremental/CDC reads end-to-end ([[SnapshotCatalog.readChanges]],
    * Iceberg incremental scan + Delta table_changes shape): orders loaded,
    * then a range DELETE and a range UPDATE; the change stream between
    * the load and the head is aggregated per change type. Each commit's
    * CDC reads only its TOUCHED files — the UPDATE surfaces as its
    * delete+insert pair, attributed to its commit.
    */
  def changesDemo(s: SparkSession, d: String): DataFrame = {
    val wh = new org.apache.hadoop.fs.Path(changesDemoWarehouse)
    val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(wh)) fs.delete(wh, true)
    val engine = new GraftEngine(s, changesDemoWarehouse)
    engine.catalog.createSchema("demo")
    // the CDC window only ever touches o_orderkey <= 96; cap the ingested
    // slice so the demo's cost is the CDC machinery, not corpus loading
    // (the oracle's WHERE clauses are unaffected by the cap)
    val orders = graft.Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"))
      .filter(col("o_orderkey") <= 8192L)
    engine.catalog.createTable("demo", "orders_cdc", orders.schema)
    engine.catalog.insert("demo", "orders_cdc", orders.coalesce(2))
    engine.executeNonQuery(graft.params.SqlStatement(
      "DELETE FROM demo.orders_cdc WHERE o_orderkey <= 64"))
    engine.executeNonQuery(graft.params.SqlStatement(
      "UPDATE demo.orders_cdc SET o_custkey = -1 " +
        "WHERE o_orderkey BETWEEN 65 AND 96"))
    val head = engine.catalog.snapshots("demo", "orders_cdc").last.snapshotId
    engine.catalog.readChanges("demo", "orders_cdc", 1L, head)
      .groupBy(col("_change_type"))
      .agg(count(lit(1)).as("n"),
        sum("o_orderkey").cast("long").as("key_sum"),
        sum(when(col("o_custkey") === -1L, 1L).otherwise(0L)).cast("long")
          .as("n_rewritten_custkey"))
      .orderBy(col("_change_type"))
  }

  /** DuckDB twin of [[changesDemo]]: the delete stream is every row the
    * DELETE removed plus the old image of every UPDATEd row; the insert
    * stream is the new image of the UPDATEd rows (custkey -1).
    */
  val changesDemoSql: String =
    """SELECT 'delete' AS _change_type, COUNT(*) AS n,
      |       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
      |       CAST(0 AS BIGINT) AS n_rewritten_custkey
      |FROM orders WHERE o_orderkey <= 96
      |UNION ALL
      |SELECT 'insert', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT), COUNT(*)
      |FROM orders WHERE o_orderkey BETWEEN 65 AND 96
      |ORDER BY _change_type""".stripMargin

  /** SQL MERGE INTO end-to-end (Trino Iceberg's third DML verb): nation
    * rows merged with a doubled-key projection of themselves so one
    * statement exercises all three clause kinds — a conditional DELETE, an
    * UPDATE reading both sides, and a filtered INSERT — plus the
    * pass-through of matched rows whose clauses don't apply and the
    * first-match-wins ordering. The affected count and the pre-merge
    * snapshot row count ride along for the oracle.
    */
  def mergeDemo(s: SparkSession, d: String): DataFrame = {
    val wh = new org.apache.hadoop.fs.Path(mergeDemoWarehouse)
    val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(wh)) fs.delete(wh, true)
    val engine = new GraftEngine(s, mergeDemoWarehouse)
    engine.catalog.createSchema("demo")
    val nation = graft.Tables.nation(s, d)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    engine.catalog.createTable("demo", "nation_m", nation.schema)
    engine.catalog.insert("demo", "nation_m", nation)
    val affected = engine.executeNonQuery(graft.params.SqlStatement(
      """MERGE INTO demo.nation_m t
        |USING (SELECT n_nationkey * 2 AS id, n_name AS nm, n_regionkey AS rk
        |       FROM demo.nation_m) s
        |ON t.n_nationkey = s.id
        |WHEN MATCHED AND t.n_regionkey = 2 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET n_name = concat(t.n_name, '+', s.nm)
        |WHEN NOT MATCHED AND s.id < 40 THEN INSERT VALUES (s.id, s.nm, s.rk)""".stripMargin))
    val preMergeRows = engine.catalog.readAsOf("demo", "nation_m",
      engine.catalog.snapshots("demo", "nation_m").head.committedAtMillis).count()
    engine.query(graft.params.SqlStatement(
      "SELECT n_nationkey, n_name, n_regionkey FROM demo.nation_m"))
      .withColumn("n_affected", lit(affected))
      .withColumn("pre_merge_rows", lit(preMergeRows))
      .orderBy(col("n_nationkey"))
  }

  private[graft] val mergeDemoWarehouse = "/tmp/graft-merge-demo-warehouse"

  /** Merge-on-read DML end-to-end (Iceberg v2 / Trino `format_version =
    * 2`): the same UPDATE+DELETE sequence as [[dmlDemo]] but on a v2
    * table, where DELETE commits a positional-delete file instead of
    * rewriting data, and UPDATE deletes-old + appends-new. The riding
    * columns make the MoR mechanics oracle-checkable: the DELETE must
    * leave every data file untouched (`data_files_untouched`, OBSERVED on
    * the real file lists), exactly two positional-delete files must exist
    * afterward (`pos_delete_files`), and time travel must still see the
    * pre-DML state.
    */
  def morDemo(s: SparkSession, d: String): DataFrame = {
    val wh = new org.apache.hadoop.fs.Path(morDemoWarehouse)
    val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(wh)) fs.delete(wh, true)
    val engine = new GraftEngine(s, morDemoWarehouse)
    engine.catalog.createSchema("demo")
    val nation = graft.Tables.nation(s, d)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    engine.catalog.createTable("demo", "nation_mor", nation.schema,
      formatVersion = 2)
    engine.catalog.insert("demo", "nation_mor", nation)
    def dataFiles(): Set[String] = engine.catalog.filesMeta("demo", "nation_mor")
      .filter(col("content") === 0).select("file_path")
      .collect().map(_.getString(0)).toSet
    val before = dataFiles()
    val deleted = engine.executeNonQuery(graft.params.SqlStatement(
      "DELETE FROM demo.nation_mor WHERE n_regionkey = 1 OR n_nationkey >= 20"))
    // the MoR contract: a DELETE rewrites NO data file
    val untouched = dataFiles() == before
    val updated = engine.executeNonQuery(graft.params.SqlStatement(
      "UPDATE demo.nation_mor SET n_name = concat(n_name, '_EU') WHERE n_regionkey = 3"))
    val posDeleteFiles = engine.catalog
      .snapshots("demo", "nation_mor").last.deletes.size
    val preDmlRows = engine.catalog.readAsOf("demo", "nation_mor",
      engine.catalog.snapshots("demo", "nation_mor").head.committedAtMillis).count()
    engine.query(graft.params.SqlStatement(
      "SELECT n_nationkey, n_name, n_regionkey FROM demo.nation_mor"))
      .withColumn("n_updated", lit(updated))
      .withColumn("n_deleted", lit(deleted))
      .withColumn("data_files_untouched", lit(untouched))
      .withColumn("pos_delete_files", lit(posDeleteFiles))
      .withColumn("pre_dml_rows", lit(preDmlRows))
      .orderBy(col("n_nationkey"))
  }

  /** DuckDB twin of [[morDemo]]: the delete is a 3VL filter, the update a
    * CASE projection over the post-delete state; the MoR mechanics
    * columns are literals the Spark side must have observed true on the
    * real warehouse (data files untouched by DELETE, exactly 2 positional
    * delete files: one per row-level DML commit).
    */
  val morDemoSql: String =
    """WITH s0 AS (SELECT n_nationkey, n_name, n_regionkey FROM nation),
      |s1 AS (SELECT * FROM s0
      |       WHERE NOT coalesce(n_regionkey = 1 OR n_nationkey >= 20, FALSE)),
      |s2 AS (SELECT n_nationkey,
      |              CASE WHEN n_regionkey = 3 THEN concat(n_name, '_EU')
      |                   ELSE n_name END AS n_name,
      |              n_regionkey FROM s1)
      |SELECT n_nationkey, n_name, n_regionkey,
      |       (SELECT COUNT(*) FROM s1 WHERE n_regionkey = 3) AS n_updated,
      |       (SELECT COUNT(*) FROM s0
      |        WHERE n_regionkey = 1 OR n_nationkey >= 20) AS n_deleted,
      |       TRUE AS data_files_untouched,
      |       CAST(2 AS INT) AS pos_delete_files,
      |       (SELECT COUNT(*) FROM s0) AS pre_dml_rows
      |FROM s2 ORDER BY n_nationkey""".stripMargin

  private[graft] val morDemoWarehouse = "/tmp/graft-mor-demo-warehouse"

  /** Sorted-table end-to-end (Trino Iceberg `sorted_by`,
    * trino.io/docs/current/connector/iceberg.html#sorted-tables): orders
    * loaded into a table sorted by o_orderkey — the writer range-
    * repartitions + sorts, so data files cover disjoint key ranges — then
    * a narrow range DELETE, whose CoW probe must rewrite exactly ONE file
    * (footer min/max exclude every other file's range). The layout facts
    * ride as booleans OBSERVED on the real warehouse: multiple files
    * written, ranges pairwise disjoint, a single file rewritten. AQE
    * advisory sizes are pinned tiny inside the demo (and restored) so the
    * multi-file layout materializes at any test SF.
    */
  def sortedDemo(s: SparkSession, d: String): DataFrame = {
    val wh = new org.apache.hadoop.fs.Path(sortedDemoWarehouse)
    val whFs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (whFs.exists(wh)) whFs.delete(wh, true)
    val keys = Seq(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    val prev = keys.map(k => k -> s.conf.getOption(k))
    keys.foreach(s.conf.set(_, "4KB"))
    try {
      val engine = new GraftEngine(s, sortedDemoWarehouse)
      engine.catalog.createSchema("demo")
      val orders = graft.Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      engine.catalog.createTable("demo", "orders_sorted", orders.schema,
        sortedBy = Seq("o_orderkey"))
      engine.catalog.insert("demo", "orders_sorted", orders)
      def files(): Seq[String] = engine.catalog.filesMeta("demo", "orders_sorted")
        .filter(col("content") === 0).select("file_path")
        .collect().map(_.getString(0)).toSeq
      val before = files()
      // per-file sort-key ranges come from MANIFEST BOUNDS — the metadata
      // the sorted write recorded at commit time. Zero Spark jobs, zero
      // footer reads (the previous per-file `read.parquet(p).agg(min,max)`
      // loop launched one job per file — round-7's slowest bench entry)
      val ranges = engine.catalog
        .manifestEntries("demo", "orders_sorted",
          engine.catalog.snapshots("demo", "orders_sorted").last)
        .flatMap(_.bounds.collectFirst {
          case (k, cb) if k.equalsIgnoreCase("o_orderkey") &&
            cb.min != null && cb.max != null => (cb.min.toLong, cb.max.toLong)
        })
        .sortBy(_._1)
      val disjoint = ranges.sliding(2).forall {
        case Seq((_, hi1), (lo2, _)) => hi1 < lo2
        case _                       => true
      }
      val deleted = engine.executeNonQuery(graft.params.SqlStatement(
        "DELETE FROM demo.orders_sorted WHERE o_orderkey <= 32"))
      val rewritten = before.toSet.diff(files().toSet).size
      import s.implicits._
      engine.query(graft.params.SqlStatement(
        "SELECT COUNT(*) AS remaining_rows FROM demo.orders_sorted"))
        .withColumn("n_deleted", lit(deleted))
        .withColumn("multi_file", lit(before.size >= 2))
        .withColumn("ranges_disjoint", lit(disjoint))
        .withColumn("rewrote_single_file", lit(rewritten == 1))
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** DuckDB twin of [[sortedDemo]]: row arithmetic from orders; the three
    * layout booleans are literals the Spark side must have observed true
    * on the physical file set (multi-file sorted layout, disjoint footer
    * ranges, single-file rewrite for the narrow range DELETE).
    */
  val sortedDemoSql: String =
    """SELECT (SELECT COUNT(*) FROM orders WHERE o_orderkey > 32) AS remaining_rows,
      |       (SELECT COUNT(*) FROM orders WHERE o_orderkey <= 32) AS n_deleted,
      |       TRUE AS multi_file, TRUE AS ranges_disjoint,
      |       TRUE AS rewrote_single_file""".stripMargin

  private[graft] val sortedDemoWarehouse = "/tmp/graft-sorted-demo-warehouse"

  private[graft] val scanPruneDemoWarehouse = "/tmp/graft-scanprune-demo-warehouse"

  /** Manifest scan planning end-to-end (GraftScanBridge): orders sorted
    * into multiple files with disjoint o_orderkey ranges, then a range
    * query planned through the manifest file index. The scale facts ride
    * as booleans OBSERVED on the real plan: the scan's file list came
    * from manifests (the GraftManifestFileIndex relation), and the
    * executed scan read STRICTLY FEWER files than the table holds —
    * plan-time file skipping from manifest column bounds, zero storage
    * listing, zero footers opened for pruned files (Iceberg scan
    * planning; the reference gets this from Trino's Iceberg connector).
    */
  def scanPruneDemo(s: SparkSession, d: String): DataFrame = {
    val wh = new org.apache.hadoop.fs.Path(scanPruneDemoWarehouse)
    val whFs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (whFs.exists(wh)) whFs.delete(wh, true)
    val keys = Seq(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    val prev = keys.map(k => k -> s.conf.getOption(k))
    keys.foreach(s.conf.set(_, "4KB"))
    try {
      val engine = new GraftEngine(s, scanPruneDemoWarehouse)
      engine.catalog.createSchema("demo")
      val orders = graft.Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      engine.catalog.createTable("demo", "orders_scan", orders.schema,
        sortedBy = Seq("o_orderkey"))
      engine.catalog.insert("demo", "orders_scan", orders)
      val totalFiles = engine.catalog.filesMeta("demo", "orders_scan")
        .filter(col("content") === 0).count()
      val q = engine.catalog.readLatest("demo", "orders_scan")
        .filter(col("o_orderkey").between(1L, 128L))
        .agg(count(lit(1)).as("n_rows"),
          min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
      val result = q.collect().head
      // descend through AQE wrappers: collect() over an
      // AdaptiveSparkPlanExec does not enter the adaptive subtree
      def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allScans(a.executedPlan)
        case st: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allScans(st.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(allScans)
      }
      val scans = allScans(q.queryExecution.executedPlan)
      val manifestPlanned = scans.nonEmpty && scans.forall(
        _.relation.location.isInstanceOf[org.apache.spark.sql.GraftManifestFileIndex])
      val filesRead = scans.map(_.metrics("numFiles").value).sum
      import s.implicits._
      Seq((result.getLong(0), result.getLong(1), result.getLong(2)))
        .toDF("n_rows", "min_key", "max_key")
        .withColumn("planned_by_manifest", lit(manifestPlanned))
        .withColumn("pruned_files",
          lit(totalFiles >= 2 && filesRead > 0 && filesRead < totalFiles))
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  private[graft] val zorderDemoWarehouse = "/tmp/graft-zorder-demo-warehouse"

  /** Z-order clustering end-to-end: orders written under
    * `sorted_by = ARRAY['zorder(o_orderkey, o_custkey)']`, compacted to a
    * fixed multi-file layout, then a SECOND-dimension predicate
    * (o_custkey) — which lexicographic sorting cannot prune — planned
    * through the manifest index. The observed facts: multiple files, and
    * the custkey query read strictly fewer files than the table holds.
    */
  def zorderDemo(s: SparkSession, d: String): DataFrame = {
    val wh = new org.apache.hadoop.fs.Path(zorderDemoWarehouse)
    val whFs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (whFs.exists(wh)) whFs.delete(wh, true)
    val engine = new GraftEngine(s, zorderDemoWarehouse)
    engine.catalog.createSchema("demo")
    // cap the slice (oracle filters identically): the demo's subject is
    // the z-order layout + second-dimension pruning, which a 4k-row
    // 8-file layout exercises as well as the full corpus — the demo pays
    // TWO clustered write passes (z-insert, then compact re-z-orders), so
    // its cost scales directly with the slice; the heavy-grid claims live
    // in ZOrderSpec
    val orders = graft.Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"))
      .filter(col("o_orderkey") <= 16384L)
    engine.catalog.createTable("demo", "orders_z", orders.schema,
      sortedBy = Seq("zorder(o_orderkey, o_custkey)"))
    engine.catalog.insert("demo", "orders_z", orders)
    engine.catalog.compact("demo", "orders_z", numFiles = 8)
    val totalFiles = engine.catalog.filesMeta("demo", "orders_z")
      .filter(col("content") === 0).count()
    val q = engine.catalog.readLatest("demo", "orders_z")
      .filter(col("o_custkey") <= 32L)
      .agg(count(lit(1)).as("n_rows"),
        min("o_custkey").as("min_cust"), max("o_custkey").as("max_cust"))
    val result = q.collect().head
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case st: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(st.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(allScans)
    }
    val filesRead = allScans(q.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum
    import s.implicits._
    Seq((result.getLong(0), result.getLong(1), result.getLong(2)))
      .toDF("n_rows", "min_cust", "max_cust")
      .withColumn("multi_file", lit(totalFiles >= 4))
      .withColumn("second_dim_pruned",
        lit(filesRead > 0 && filesRead < totalFiles))
  }

  /** DuckDB twin of [[zorderDemo]]: the custkey-range aggregate; the two
    * layout facts are literals the Spark side must have observed on the
    * real compacted layout and executed plan.
    */
  val zorderDemoSql: String =
    """SELECT COUNT(*) AS n_rows,
      |       MIN(o_custkey) AS min_cust, MAX(o_custkey) AS max_cust,
      |       TRUE AS multi_file, TRUE AS second_dim_pruned
      |FROM orders WHERE o_custkey <= 32 AND o_orderkey <= 16384""".stripMargin

  /** DuckDB twin of [[scanPruneDemo]]: the range aggregate from orders;
    * the two plan facts are literals the Spark side must have observed
    * true on the real executed plan (manifest-driven file index, fewer
    * files read than the table holds).
    */
  val scanPruneDemoSql: String =
    """SELECT COUNT(*) AS n_rows,
      |       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
      |       TRUE AS planned_by_manifest, TRUE AS pruned_files
      |FROM orders WHERE o_orderkey BETWEEN 1 AND 128""".stripMargin

  private[graft] val transformDemoWarehouse = "/tmp/graft-transform-demo-warehouse"

  private[graft] val refsDemoWarehouse = "/tmp/graft-refs-demo-warehouse"

  private[graft] val registerDemoWarehouse = "/tmp/graft-register-demo-warehouse"
  private[graft] val registerDemoExt = "/tmp/graft-register-demo-ext"
  private[graft] val migrateDemoWarehouse = "/tmp/graft-migrate-demo-warehouse"
  private[graft] val migrateDemoData = "/tmp/graft-migrate-demo-data"

  private[graft] val upsertDemoWarehouse = "/tmp/graft-upsert-demo-warehouse"

  /** Equality-delete upsert end-to-end (Iceberg v2's streaming-writer
    * shape): two keyed upsert batches against a `format_version = 2`
    * nation table — each commit appends the batch plus ONE key file,
    * never reading or probing the target — then the proof facts: zero
    * pre-upsert data files rewritten (set-inclusion observed on the
    * physical file lists), two equality-delete files in `$files`
    * (content id 2), and a compaction fold leaving the state bit-equal.
    * The row arithmetic is pure last-wins relational algebra the oracle
    * replays over nation with anti-join + union chains.
    */
  def upsertDemo(s: SparkSession, d: String): DataFrame = {
    val wh = new org.apache.hadoop.fs.Path(upsertDemoWarehouse)
    val whFs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (whFs.exists(wh)) whFs.delete(wh, true)
    val engine = new GraftEngine(s, upsertDemoWarehouse)
    engine.catalog.createSchema("demo")
    val nation = graft.Tables.nation(s, d)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    engine.catalog.createTable("demo", "nat_up", nation.schema, formatVersion = 2)
    engine.catalog.insert("demo", "nat_up", nation)
    val c = engine.catalog
    val before = c.dataFilePaths("demo", "nat_up",
      c.snapshots("demo", "nat_up").last).toSet
    // batch 1: rewrite region-2 names
    c.upsert("demo", "nat_up",
      nation.filter(col("n_regionkey") === 2)
        .select(col("n_nationkey"), concat(col("n_name"), lit("_u1")).as("n_name"),
          col("n_regionkey")),
      Seq("n_nationkey"))
    // batch 2: every 5th key gets a second rewrite (last-wins over batch
    // 1 where they overlap) plus brand-new +100 keys
    val b2 = nation.filter(col("n_nationkey") % 5 === 0)
      .select(col("n_nationkey"), concat(col("n_name"), lit("_u2")).as("n_name"),
        (col("n_regionkey") + 10).as("n_regionkey"))
      .unionByName(nation.filter(col("n_nationkey") < 3)
        .select((col("n_nationkey") + 100).as("n_nationkey"),
          concat(col("n_name"), lit("_new")).as("n_name"), col("n_regionkey")))
    c.upsert("demo", "nat_up", b2, Seq("n_nationkey"))
    val after = c.dataFilePaths("demo", "nat_up",
      c.snapshots("demo", "nat_up").last).toSet
    val noRewrite = before.subsetOf(after)
    val eqFiles = c.filesMeta("demo", "nat_up")
      .filter(col("content") === 2).count()
    // compaction folds the pending deletes; the state must not move
    val preCompact = c.readLatest("demo", "nat_up")
      .orderBy("n_nationkey", "n_name").collect().toSeq
    c.compact("demo", "nat_up")
    val folded = c.snapshots("demo", "nat_up").last.eqDeletes.isEmpty &&
      c.readLatest("demo", "nat_up").orderBy("n_nationkey", "n_name")
        .collect().toSeq == preCompact
    engine.query(graft.params.SqlStatement(
      """SELECT count(*) AS total_n,
        |       sum(n_nationkey) AS sum_key,
        |       sum(n_regionkey) AS sum_rk,
        |       sum(CASE WHEN n_name LIKE '%_u2' THEN 1 ELSE 0 END) AS n_u2
        |FROM demo.nat_up""".stripMargin))
      .withColumn("no_rewrite", lit(noRewrite))
      .withColumn("eq_files", lit(eqFiles))
      .withColumn("folded", lit(folded))
  }

  /** DuckDB twin of [[upsertDemo]] — last-wins replay over nation via
    * anti-join + union chains, plus the observed physical facts.
    */
  val upsertDemoSql: String =
    """WITH b1 AS (
      |  SELECT n_nationkey, n_name || '_u1' AS n_name, n_regionkey
      |  FROM nation WHERE n_regionkey = 2),
      |b2 AS (
      |  SELECT n_nationkey, n_name || '_u2' AS n_name, n_regionkey + 10 AS n_regionkey
      |  FROM nation WHERE n_nationkey % 5 = 0
      |  UNION ALL
      |  SELECT n_nationkey + 100, n_name || '_new', n_regionkey
      |  FROM nation WHERE n_nationkey < 3),
      |s1 AS (
      |  SELECT t.* FROM nation t ANTI JOIN b1 ON t.n_nationkey = b1.n_nationkey
      |  UNION ALL SELECT * FROM b1),
      |s2 AS (
      |  SELECT t.* FROM s1 t ANTI JOIN b2 ON t.n_nationkey = b2.n_nationkey
      |  UNION ALL SELECT * FROM b2)
      |SELECT count(*) AS total_n,
      |       CAST(sum(n_nationkey) AS BIGINT) AS sum_key,
      |       CAST(sum(n_regionkey) AS BIGINT) AS sum_rk,
      |       CAST(sum(CASE WHEN n_name LIKE '%_u2' THEN 1 ELSE 0 END) AS BIGINT) AS n_u2,
      |       TRUE AS no_rewrite,
      |       CAST(2 AS BIGINT) AS eq_files,
      |       TRUE AS folded
      |FROM s2""".stripMargin

  /** Catalog attachment end-to-end (Trino Iceberg's register_table /
    * unregister_table procedures + `ALTER TABLE EXECUTE add_files`):
    * adopt pre-existing parquet files IN PLACE (absolute-path manifest
    * entries — zero data bytes move), CoW-delete THROUGH an adopted
    * file, then detach the table keeping every file and re-attach it
    * whole. The row arithmetic is all relational over nation, so the
    * oracle recomputes it; the adopted-file count and the
    * detach/re-attach observations are literals the Spark side must
    * have produced (2 coalesced external files; a query against the
    * unregistered table must have FAILED before re-registration).
    */
  def registerDemo(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val conf = s.sparkContext.hadoopConfiguration
    for (p <- Seq(registerDemoWarehouse, registerDemoExt)) {
      val hp = new org.apache.hadoop.fs.Path(p)
      val f = hp.getFileSystem(conf)
      if (f.exists(hp)) f.delete(hp, true)
    }
    val engine = new GraftEngine(s, registerDemoWarehouse)
    engine.catalog.createSchema("demo")
    val nation = graft.Tables.nation(s, d)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    // external slice written OUTSIDE the catalog, exactly 2 files
    nation.filter(col("n_regionkey").isin(0, 1)).repartition(2)
      .write.mode("overwrite").parquet(registerDemoExt)
    engine.catalog.createTable("demo", "nat", nation.schema)
    engine.catalog.insert("demo", "nat",
      nation.filter(col("n_regionkey").isin(2, 3)))
    val adopted = engine.executeNonQuery(graft.params.SqlStatement(
      s"ALTER TABLE demo.nat EXECUTE add_files(location => '$registerDemoExt')"))
    // CoW DML straight through an adopted file (region 1 lives only there)
    engine.executeNonQuery(graft.params.SqlStatement(
      "DELETE FROM demo.nat WHERE n_regionkey = 1"))
    engine.executeNonQuery(graft.params.SqlStatement(
      "CALL system.unregister_table('demo', 'nat')"))
    val hiddenWhileDetached =
      try { engine.query(graft.params.SqlStatement(
        "SELECT count(*) FROM demo.nat")).collect(); false }
      catch { case _: graft.GraftQueryException => true }
    engine.executeNonQuery(graft.params.SqlStatement(
      s"CALL system.register_table('demo', 'nat', " +
        s"'$registerDemoWarehouse/demo/nat')"))
    engine.query(graft.params.SqlStatement(
      """SELECT
        |  (SELECT count(*) FROM demo.nat) AS total_n,
        |  (SELECT sum(n_nationkey) FROM demo.nat) AS sum_key,
        |  (SELECT count(*) FROM demo."nat$properties") AS props_n""".stripMargin))
      .withColumn("adopted_files", lit(adopted))
      .withColumn("hidden_while_detached", lit(hiddenWhileDetached))
  }

  /** `CALL system.migrate` end-to-end: a hive-partitioned plain parquet
    * layout (customer split by mktsegment prefix — no catalog metadata
    * at all) migrates IN PLACE into a table, then proves ownership —
    * partition-pruned SQL reads, CoW DML straight through the migrated
    * files, and compaction rewriting them into native storage. All row
    * arithmetic is relational over customer, so the oracle recomputes
    * every value from the raw table.
    */
  private[graft] val icebergDemoWarehouse = "/tmp/graft-iceberg-demo-warehouse"
  private[graft] val icebergDemoLake = "/tmp/graft-iceberg-demo-lake"

  /** Iceberg-format read interop end-to-end (round-10 verdict #3): build
    * a genuine two-snapshot Iceberg v2 tree over nation (real parquet
    * data files; Avro manifests/manifest-list + metadata.json written by
    * [[graft.catalog.IcebergFixture]] in the spec's on-disk shapes, with
    * per-file bounds in the binary single-value serialization), attach
    * it with `CALL system.register_iceberg_table`, and read: the current
    * state, a FOR VERSION AS OF by the ICEBERG snapshot id, and a
    * bounds-pruned filtered count. Every value recomputes relationally
    * over nation in the oracle.
    */
  def icebergRegisterDemo(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val conf = s.sparkContext.hadoopConfiguration
    for (p <- Seq(icebergDemoWarehouse, icebergDemoLake)) {
      val hp = new org.apache.hadoop.fs.Path(p)
      val f = hp.getFileSystem(conf)
      if (f.exists(hp)) f.delete(hp, true)
    }
    val loc = new org.apache.hadoop.fs.Path(icebergDemoLake)
    // field ids stamped like every real Iceberg writer's files — the
    // register reads them back by id (spec §Column Projection)
    val nation = graft.catalog.IcebergFixture.withFieldIds(
      graft.Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey")),
      Map("n_nationkey" -> 1, "n_name" -> 2, "n_regionkey" -> 3))
    def writeOne(df: DataFrame, target: org.apache.hadoop.fs.Path): Long =
      graft.catalog.IcebergFixture.writeOneParquet(conf, df, target)
    // nation is 25 rows at EVERY scale factor: file1 = keys 0-11,
    // file2 = keys 12-24 — disjoint bounds, so the hi-filter read can
    // prune file1 at plan time from the decoded Iceberg statistics
    val f1 = new org.apache.hadoop.fs.Path(loc, "data/f1.parquet")
    val f2 = new org.apache.hadoop.fs.Path(loc, "data/f2.parquet")
    val b1 = writeOne(nation.filter(col("n_nationkey") <= 11), f1)
    val b2 = writeOne(nation.filter(col("n_nationkey") >= 12), f2)
    import graft.catalog.IcebergFixture._
    val fr1 = FileRef(f1.toUri.toString, 12L, b1,
      Map(1 -> (encodeLong(0L), encodeLong(11L), 0L)))
    val fr2 = FileRef(f2.toUri.toString, 13L, b2,
      Map(1 -> (encodeLong(12L), encodeLong(24L), 0L)))
    graft.catalog.IcebergFixture.writeTree(conf, loc, 2,
      Seq((1, "n_nationkey", "long"), (2, "n_name", "string"),
        (3, "n_regionkey", "long")),
      Seq(SnapRef(101L, 1700000000000L, Seq(fr1)),
        SnapRef(102L, 1700000100000L, Seq(fr1, fr2))))
    val engine = new GraftEngine(s, icebergDemoWarehouse)
    engine.catalog.createSchema("lake")
    engine.executeNonQuery(graft.params.SqlStatement(
      s"CALL system.register_iceberg_table('lake', 'nat', '${loc.toUri}')"))
    engine.query(graft.params.SqlStatement(
      """SELECT
        |  (SELECT count(*) FROM lake.nat) AS total_n,
        |  (SELECT CAST(sum(n_nationkey) AS BIGINT) FROM lake.nat) AS sum_key,
        |  (SELECT count(*) FROM lake.nat FOR VERSION AS OF 101) AS v1_n,
        |  (SELECT count(*) FROM lake.nat WHERE n_nationkey >= 12) AS hi_n""".stripMargin))
  }

  /** DuckDB twin of [[icebergRegisterDemo]] — pure nation arithmetic
    * (snapshot 101 = keys 0-11; nation is 25 rows at every SF).
    */
  val icebergRegisterDemoSql: String =
    """SELECT
      |  (SELECT count(*) FROM nation) AS total_n,
      |  (SELECT CAST(sum(n_nationkey) AS BIGINT) FROM nation) AS sum_key,
      |  (SELECT count(*) FROM nation WHERE n_nationkey <= 11) AS v1_n,
      |  (SELECT count(*) FROM nation WHERE n_nationkey >= 12) AS hi_n""".stripMargin

  private[graft] val icebergExportWarehouse = "/tmp/graft-iceberg-export-wh"
  private[graft] val icebergExportTree = "/tmp/graft-iceberg-export-tree"

  /** Write-side Iceberg interop end-to-end (round-11 verdict #3, round-13
    * identity partitioning): build a two-commit IDENTITY-PARTITIONED
    * graft table over nation, `CALL system.export_iceberg_table` it — a
    * spec-conformant v2 metadata.json + Avro manifest tree carrying the
    * identity partition spec and per-file `partition` structs (the
    * spec's Column Projection rule: graft data files don't store the
    * identity column, its value rides the manifest) with Appendix-D
    * binary bounds re-encoded from the graft manifests, referencing the
    * data files in place — then register the export back through the
    * READ interop and prove the round trip: current state, snapshot
    * travel, a bounds-pruned filtered count, and a PARTITION-pruned
    * count all match. Every value recomputes relationally over nation
    * in the oracle.
    */
  def icebergExportDemo(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val conf = s.sparkContext.hadoopConfiguration
    for (p <- Seq(icebergExportWarehouse, icebergExportTree)) {
      val hp = new org.apache.hadoop.fs.Path(p)
      val f = hp.getFileSystem(conf)
      if (f.exists(hp)) f.delete(hp, true)
    }
    val nation = graft.Tables.nation(s, d)
      .select(col("n_nationkey").cast("bigint").as("n_nationkey"),
        col("n_name"), col("n_regionkey").cast("bigint").as("n_regionkey"))
    val engine = new GraftEngine(s, icebergExportWarehouse)
    engine.catalog.createSchema("src")
    engine.executeNonQuery(graft.params.SqlStatement(
      "CREATE TABLE src.nat (n_nationkey bigint, n_name varchar, n_regionkey bigint) " +
        "WITH (partitioning = ARRAY['n_regionkey'])"))
    // two commits with disjoint key ranges → two bounds-distinct file
    // sets, hive-split across the five region partitions
    engine.catalog.insert("src", "nat",
      nation.filter(col("n_nationkey") <= 11).coalesce(1))
    engine.catalog.insert("src", "nat",
      nation.filter(col("n_nationkey") >= 12).coalesce(1))
    engine.executeNonQuery(graft.params.SqlStatement(
      s"CALL system.export_iceberg_table('src', 'nat', '$icebergExportTree')"))
    engine.catalog.createSchema("lake")
    engine.executeNonQuery(graft.params.SqlStatement(
      s"CALL system.register_iceberg_table('lake', 'back', '$icebergExportTree')"))
    engine.query(graft.params.SqlStatement(
      """SELECT
        |  (SELECT count(*) FROM lake.back) AS total_n,
        |  (SELECT CAST(sum(n_nationkey) AS BIGINT) FROM lake.back) AS sum_key,
        |  (SELECT count(*) FROM lake.back FOR VERSION AS OF 1) AS v1_n,
        |  (SELECT count(*) FROM lake.back WHERE n_nationkey >= 12) AS hi_n,
        |  (SELECT CAST(sum(n_nationkey) AS BIGINT) FROM lake.back
        |     WHERE n_regionkey = 2) AS r2_sum""".stripMargin))
  }

  /** DuckDB twin of [[icebergExportDemo]] — pure nation arithmetic
    * (graft snapshot 1 = keys 0-11; nation is 25 rows at every SF).
    */
  val icebergExportDemoSql: String =
    """SELECT
      |  (SELECT count(*) FROM nation) AS total_n,
      |  (SELECT CAST(sum(n_nationkey) AS BIGINT) FROM nation) AS sum_key,
      |  (SELECT count(*) FROM nation WHERE n_nationkey <= 11) AS v1_n,
      |  (SELECT count(*) FROM nation WHERE n_nationkey >= 12) AS hi_n,
      |  (SELECT CAST(sum(n_nationkey) AS BIGINT) FROM nation
      |     WHERE n_regionkey = 2) AS r2_sum""".stripMargin

  private[graft] val icebergSyncOutWarehouse = "/tmp/graft-iceberg-syncout-wh"
  private[graft] val icebergSyncOutTree = "/tmp/graft-iceberg-syncout-tree"

  /** Incremental re-export (round-13 verdict #5) end-to-end: export a
    * one-commit graft table over nation, attach the export as a polling
    * foreign reader, commit more rows, then `export_iceberg_table` onto
    * the SAME location — only the delta exports, as a v2 metadata
    * advance preserving the tree's uuid and lineage — and the polling
    * reader's refresh picks the new snapshot up. Every value recomputes
    * relationally over nation in the oracle; `inc_n` pins the
    * incremental contract (exactly ONE snapshot exported the second
    * time).
    */
  def icebergSyncOutDemo(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val conf = s.sparkContext.hadoopConfiguration
    for (p <- Seq(icebergSyncOutWarehouse, icebergSyncOutTree)) {
      val hp = new org.apache.hadoop.fs.Path(p)
      val f = hp.getFileSystem(conf)
      if (f.exists(hp)) f.delete(hp, true)
    }
    val nation = graft.Tables.nation(s, d)
      .select(col("n_nationkey").cast("bigint").as("n_nationkey"),
        col("n_name"), col("n_regionkey").cast("bigint").as("n_regionkey"))
    val engine = new GraftEngine(s, icebergSyncOutWarehouse)
    engine.catalog.createSchema("src")
    engine.executeNonQuery(graft.params.SqlStatement(
      "CREATE TABLE src.nat (n_nationkey bigint, n_name varchar, n_regionkey bigint)"))
    engine.catalog.insert("src", "nat",
      nation.filter(col("n_nationkey") <= 11).coalesce(1))
    engine.executeNonQuery(graft.params.SqlStatement(
      s"CALL system.export_iceberg_table('src', 'nat', '$icebergSyncOutTree')"))
    engine.catalog.createSchema("lake")
    engine.executeNonQuery(graft.params.SqlStatement(
      s"CALL system.register_iceberg_table('lake', 'poll', '$icebergSyncOutTree')"))
    // the table moves on; the re-export appends ONLY the delta
    engine.catalog.insert("src", "nat",
      nation.filter(col("n_nationkey") >= 12).coalesce(1))
    val inc = engine.executeNonQuery(graft.params.SqlStatement(
      s"CALL system.export_iceberg_table('src', 'nat', '$icebergSyncOutTree')"))
    engine.executeNonQuery(graft.params.SqlStatement(
      "CALL system.refresh_iceberg_table('lake', 'poll')"))
    engine.query(graft.params.SqlStatement(
      s"""SELECT
        |  (SELECT count(*) FROM lake.poll) AS total_n,
        |  (SELECT CAST(sum(n_nationkey) AS BIGINT) FROM lake.poll) AS sum_key,
        |  (SELECT count(*) FROM lake.poll FOR VERSION AS OF 1) AS v1_n,
        |  CAST($inc AS BIGINT) AS inc_n""".stripMargin))
  }

  /** DuckDB twin of [[icebergSyncOutDemo]] — pure nation arithmetic
    * (snapshot 1 = keys 0-11; one incremental snapshot exported).
    */
  val icebergSyncOutDemoSql: String =
    """SELECT
      |  (SELECT count(*) FROM nation) AS total_n,
      |  (SELECT CAST(sum(n_nationkey) AS BIGINT) FROM nation) AS sum_key,
      |  (SELECT count(*) FROM nation WHERE n_nationkey <= 11) AS v1_n,
      |  CAST(1 AS BIGINT) AS inc_n""".stripMargin

  private[graft] val icebergCdcWarehouse = "/tmp/graft-iceberg-cdc-wh"
  private[graft] val icebergCdcLake = "/tmp/graft-iceberg-cdc-lake"
  private[graft] val icebergCdcExport = "/tmp/graft-iceberg-cdc-export"

  /** Iceberg v2 EQUALITY-delete interop end-to-end (round-12): build a
    * genuine CDC-shaped foreign tree over nation — snapshot 201 (seq 1)
    * = keys 0-11; snapshot 202 (seq 2) = + keys 12-24 plus a content-2
    * equality-delete file keyed on n_nationkey {0, 1, 2, 12} — and
    * register it. The strictly-smaller sequence rule shadows 0/1/2 (in
    * the seq-1 file) but EXEMPTS 12 (committed at seq 2 alongside the
    * delete): Iceberg's re-insert-sticks semantics. Then the pending
    * delete round-trips the WRITE side: export the attachment — the
    * delete re-emits as a content-2 file with an explicit data
    * sequence number — and register the export back; counts must agree.
    * Every value recomputes relationally over nation in the oracle.
    */
  def icebergCdcDemo(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val conf = s.sparkContext.hadoopConfiguration
    for (p <- Seq(icebergCdcWarehouse, icebergCdcLake, icebergCdcExport)) {
      val hp = new org.apache.hadoop.fs.Path(p)
      val f = hp.getFileSystem(conf)
      if (f.exists(hp)) f.delete(hp, true)
    }
    val loc = new org.apache.hadoop.fs.Path(icebergCdcLake)
    val nation = graft.catalog.IcebergFixture.withFieldIds(
      graft.Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey")),
      Map("n_nationkey" -> 1, "n_name" -> 2, "n_regionkey" -> 3))
    def writeOne(df: DataFrame, target: org.apache.hadoop.fs.Path): Long =
      graft.catalog.IcebergFixture.writeOneParquet(conf, df, target)
    val f1 = new org.apache.hadoop.fs.Path(loc, "data/f1.parquet")
    val f2 = new org.apache.hadoop.fs.Path(loc, "data/f2.parquet")
    val e1 = new org.apache.hadoop.fs.Path(loc, "data/eqdel1.parquet")
    val b1 = writeOne(nation.filter(col("n_nationkey") <= 11), f1)
    val b2 = writeOne(nation.filter(col("n_nationkey") >= 12), f2)
    val be = writeOne(graft.catalog.IcebergFixture.withFieldIds(
      nation.filter(col("n_nationkey").isin(0, 1, 2, 12))
        .select(col("n_nationkey")), Map("n_nationkey" -> 1)), e1)
    import graft.catalog.IcebergFixture._
    val fr1 = FileRef(f1.toUri.toString, 12L, b1,
      Map(1 -> (encodeLong(0L), encodeLong(11L), 0L)))
    val fr2 = FileRef(f2.toUri.toString, 13L, b2,
      Map(1 -> (encodeLong(12L), encodeLong(24L), 0L)))
    val er1 = FileRef(e1.toUri.toString, 4L, be, Map.empty, eqIds = Seq(1))
    graft.catalog.IcebergFixture.writeTree(conf, loc, 2,
      Seq((1, "n_nationkey", "long"), (2, "n_name", "string"),
        (3, "n_regionkey", "long")),
      Seq(SnapRef(201L, 1700000000000L, Seq(fr1)),
        SnapRef(202L, 1700000100000L,
          Seq(fr1.copy(status = 0, dataSeq = Some(1L)), fr2),
          eqDeletes = Seq(er1))))
    val engine = new GraftEngine(s, icebergCdcWarehouse)
    engine.catalog.createSchema("lake")
    engine.executeNonQuery(graft.params.SqlStatement(
      s"CALL system.register_iceberg_table('lake', 'cdc', '${loc.toUri}')"))
    engine.executeNonQuery(graft.params.SqlStatement(
      s"CALL system.export_iceberg_table('lake', 'cdc', '$icebergCdcExport')"))
    engine.executeNonQuery(graft.params.SqlStatement(
      s"CALL system.register_iceberg_table('lake', 'rt', '$icebergCdcExport')"))
    engine.query(graft.params.SqlStatement(
      """SELECT
        |  (SELECT count(*) FROM lake.cdc) AS total_n,
        |  (SELECT CAST(sum(n_nationkey) AS BIGINT) FROM lake.cdc) AS sum_key,
        |  (SELECT count(*) FROM lake.cdc FOR VERSION AS OF 201) AS v1_n,
        |  (SELECT count(*) FROM lake.cdc WHERE n_nationkey >= 3) AS hi_n,
        |  (SELECT count(*) FROM lake.rt) AS rt_n,
        |  (SELECT CAST(sum(n_nationkey) AS BIGINT) FROM lake.rt) AS rt_sum""".stripMargin))
  }

  /** DuckDB twin of [[icebergCdcDemo]] — nation arithmetic: the
    * equality delete shadows keys {0,1,2} (their file is seq 1 < the
    * delete's seq 2) while key 12 rides the SAME seq-2 commit as the
    * delete and stays (strictly-smaller rule); snapshot 201 = keys
    * 0-11; the export/re-register pair must read identically.
    */
  val icebergCdcDemoSql: String =
    """SELECT
      |  (SELECT count(*) FROM nation WHERE n_nationkey NOT IN (0, 1, 2)) AS total_n,
      |  (SELECT CAST(sum(n_nationkey) AS BIGINT) FROM nation
      |     WHERE n_nationkey NOT IN (0, 1, 2)) AS sum_key,
      |  (SELECT count(*) FROM nation WHERE n_nationkey <= 11) AS v1_n,
      |  (SELECT count(*) FROM nation WHERE n_nationkey >= 3) AS hi_n,
      |  (SELECT count(*) FROM nation WHERE n_nationkey NOT IN (0, 1, 2)) AS rt_n,
      |  (SELECT CAST(sum(n_nationkey) AS BIGINT) FROM nation
      |     WHERE n_nationkey NOT IN (0, 1, 2)) AS rt_sum""".stripMargin

  def migrateDemo(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val conf = s.sparkContext.hadoopConfiguration
    for (p <- Seq(migrateDemoWarehouse, migrateDemoData)) {
      val hp = new org.apache.hadoop.fs.Path(p)
      val f = hp.getFileSystem(conf)
      if (f.exists(hp)) f.delete(hp, true)
    }
    // the pre-existing lake layout: customer hive-partitioned by the
    // first letter of the market segment, written by "somebody else"
    val cust = graft.Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("c_mktsegment"))
      .withColumn("seg0", substring(col("c_mktsegment"), 1, 1))
    cust.repartition(2).write.partitionBy("seg0")
      .mode("overwrite").parquet(migrateDemoData)
    val engine = new GraftEngine(s, migrateDemoWarehouse)
    engine.catalog.createSchema("demo")
    engine.executeNonQuery(graft.params.SqlStatement(
      s"CALL system.migrate('demo', 'cust', '$migrateDemoData')"))
    // partition-pruned read + DML through migrated files + compaction
    // re-owning them — the full lifecycle on day-0 adopted data
    engine.executeNonQuery(graft.params.SqlStatement(
      "DELETE FROM demo.cust WHERE seg0 = 'B'"))
    engine.executeNonQuery(graft.params.SqlStatement(
      "ALTER TABLE demo.cust EXECUTE optimize"))
    engine.query(graft.params.SqlStatement(
      """SELECT
        |  (SELECT count(*) FROM demo.cust) AS total_n,
        |  (SELECT CAST(sum(c_custkey) AS BIGINT) FROM demo.cust) AS sum_key,
        |  (SELECT count(*) FROM demo.cust WHERE seg0 = 'M') AS m_n,
        |  (SELECT count(*) FROM demo."cust$snapshots") AS snaps_n""".stripMargin))
  }

  /** DuckDB twin of [[migrateDemo]] — customer arithmetic (segment
    * prefix B deleted; migrate + delete + optimize = 3 snapshots).
    */
  val migrateDemoSql: String =
    """SELECT
      |  (SELECT count(*) FROM customer
      |     WHERE substr(c_mktsegment, 1, 1) <> 'B') AS total_n,
      |  (SELECT CAST(sum(c_custkey) AS BIGINT) FROM customer
      |     WHERE substr(c_mktsegment, 1, 1) <> 'B') AS sum_key,
      |  (SELECT count(*) FROM customer
      |     WHERE substr(c_mktsegment, 1, 1) = 'M') AS m_n,
      |  CAST(3 AS BIGINT) AS snaps_n""".stripMargin

  /** DuckDB twin of [[registerDemo]] — nation arithmetic (regions 0,2,3
    * survive: 2,3 inserted natively, 0,1 adopted, 1 deleted) plus the
    * observed attachment literals.
    */
  val registerDemoSql: String =
    """SELECT
      |  (SELECT count(*) FROM nation WHERE n_regionkey IN (0, 2, 3)) AS total_n,
      |  (SELECT CAST(sum(n_nationkey) AS BIGINT) FROM nation
      |     WHERE n_regionkey IN (0, 2, 3)) AS sum_key,
      |  CAST(3 AS BIGINT) AS props_n,
      |  CAST(2 AS BIGINT) AS adopted_files,
      |  TRUE AS hidden_while_detached""".stripMargin

  /** Branches and tags end-to-end (Nessie-parity named refs): tag the
    * initial state, branch from it, write THROUGH the branch (an extra
    * region-3 slice), DML main independently (delete region 0), then
    * read every ref — branch sees its own append but not main's delete,
    * the tag pins the original state, `$refs` lists all three, and the
    * diverged fast-forward refuses. All row arithmetic is relational
    * over nation, so the oracle recomputes every value; the
    * refusal/isolation booleans are literals the Spark side must have
    * observed.
    */
  def refsDemo(s: SparkSession, d: String): DataFrame = {
    val wh = new org.apache.hadoop.fs.Path(refsDemoWarehouse)
    val whFs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (whFs.exists(wh)) whFs.delete(wh, true)
    val engine = new GraftEngine(s, refsDemoWarehouse)
    engine.catalog.createSchema("demo")
    val nation = graft.Tables.nation(s, d)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    engine.catalog.createTable("demo", "nation_r", nation.schema)
    engine.catalog.insert("demo", "nation_r", nation)
    engine.executeNonQuery(graft.params.SqlStatement(
      "CALL system.create_tag('demo', 'nation_r', 'v1')"))
    engine.executeNonQuery(graft.params.SqlStatement(
      "CALL system.create_branch('demo', 'nation_r', 'dev')"))
    engine.catalog.branch("dev").insert("demo", "nation_r",
      nation.filter(col("n_regionkey") === 3))
    engine.executeNonQuery(graft.params.SqlStatement(
      "DELETE FROM demo.nation_r WHERE n_regionkey = 0"))
    val ffBlocked =
      try { engine.catalog.fastForward("demo", "nation_r", "dev"); false }
      catch { case _: IllegalArgumentException => true }
    engine.query(graft.params.SqlStatement(
      """SELECT
        |  (SELECT count(*) FROM demo.nation_r) AS main_n,
        |  (SELECT count(*) FROM demo.nation_r FOR VERSION AS OF 'dev') AS dev_n,
        |  (SELECT count(*) FROM demo.nation_r FOR VERSION AS OF 'v1') AS tag_n,
        |  (SELECT count(*) FROM demo."nation_r$refs") AS refs_n""".stripMargin))
      .withColumn("ff_blocked", lit(ffBlocked))
  }

  /** DuckDB twin of [[refsDemo]] — pure nation arithmetic plus the
    * observed-isolation literals.
    */
  val refsDemoSql: String =
    """SELECT
      |  (SELECT count(*) FROM nation WHERE n_regionkey <> 0) AS main_n,
      |  (SELECT count(*) + (SELECT count(*) FROM nation WHERE n_regionkey = 3)
      |   FROM nation) AS dev_n,
      |  (SELECT count(*) FROM nation) AS tag_n,
      |  CAST(3 AS BIGINT) AS refs_n,
      |  TRUE AS ff_blocked""".stripMargin

  private[graft] val catalogRefsDemoWarehouse = "/tmp/graft-catalog-refs-demo"

  /** Catalog-level refs end-to-end (Nessie's whole-catalog branches —
    * the reference's catalog IS Nessie, docker-compose.yml:36): a fact
    * AND a dimension table branch-write under ONE catalog ref; the
    * publish CAS makes both visible simultaneously (verified through a
    * cold-cache catalog BEFORE any physical main log moved — the
    * all-or-nothing read a per-table branch cannot give); then
    * materialization fast-forwards the main logs and retires the ref.
    * The counts are nation/region arithmetic the oracle recomputes; the
    * booleans are observed-atomicity literals.
    */
  def catalogRefsDemo(s: SparkSession, d: String): DataFrame = {
    val wh = new org.apache.hadoop.fs.Path(catalogRefsDemoWarehouse)
    val whFs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (whFs.exists(wh)) whFs.delete(wh, true)
    val engine = new GraftEngine(s, catalogRefsDemoWarehouse)
    engine.catalog.createSchema("demo")
    val nation = graft.Tables.nation(s, d)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val region = graft.Tables.region(s, d)
      .select(col("r_regionkey"), col("r_name"))
    engine.catalog.createTable("demo", "fact", nation.schema)
    engine.catalog.createTable("demo", "dim", region.schema)
    engine.catalog.insert("demo", "fact", nation)
    engine.catalog.insert("demo", "dim", region)
    engine.executeNonQuery(graft.params.SqlStatement(
      "CALL system.create_catalog_branch('wap', ARRAY['demo.fact', 'demo.dim'])"))
    engine.catalog.branch("wap").insert("demo", "fact",
      nation.filter(col("n_regionkey") === 1))
    engine.catalog.branch("wap").insert("demo", "dim",
      region.filter(col("r_regionkey") === 0))
    // open ref: main sees NEITHER branch write
    val preFact = engine.catalog.readLatest("demo", "fact").count()
    val preDim = engine.catalog.readLatest("demo", "dim").count()
    // the CAS half alone — then a COLD catalog (another process) must
    // see BOTH members' branch heads although no main log moved yet
    engine.catalog.publishCatalogBranchCas("wap")
    val cold = new graft.catalog.SnapshotCatalog(s, catalogRefsDemoWarehouse)
    val expFact = preFact + nation.filter(col("n_regionkey") === 1).count()
    val expDim = preDim + region.filter(col("r_regionkey") === 0).count()
    val atomicFlip = cold.readLatest("demo", "fact").count() == expFact &&
      cold.readLatest("demo", "dim").count() == expDim
    engine.executeNonQuery(graft.params.SqlStatement(
      "CALL system.materialize_catalog_branch('wap')"))
    val retired = !engine.catalog.listCatalogBranches().contains("wap")
    engine.query(graft.params.SqlStatement(
      """SELECT
        |  (SELECT count(*) FROM demo.fact) AS fact_n,
        |  (SELECT count(*) FROM demo.dim) AS dim_n""".stripMargin))
      .withColumn("pre_fact_n", lit(preFact))
      .withColumn("pre_dim_n", lit(preDim))
      .withColumn("atomic_flip", lit(atomicFlip))
      .withColumn("retired", lit(retired))
  }

  /** DuckDB twin of [[catalogRefsDemo]] — nation/region arithmetic plus
    * the observed-atomicity literals.
    */
  val catalogRefsDemoSql: String =
    """SELECT
      |  (SELECT count(*) + (SELECT count(*) FROM nation WHERE n_regionkey = 1)
      |   FROM nation) AS fact_n,
      |  (SELECT count(*) + (SELECT count(*) FROM region WHERE r_regionkey = 0)
      |   FROM region) AS dim_n,
      |  (SELECT count(*) FROM nation) AS pre_fact_n,
      |  (SELECT count(*) FROM region) AS pre_dim_n,
      |  TRUE AS atomic_flip,
      |  TRUE AS retired""".stripMargin

  /** Partition transforms end-to-end (Trino Iceberg hidden partitioning):
    * a `year(o_orderdate)` + `bucket(4, o_orderkey)` table built via
    * SQL-text DDL, a point DELETE on (key, date), and the proof it pruned
    * BOTH ways — the rewrite touched files in exactly one year directory
    * and exactly one bucket directory (everything else carried by
    * manifest reference). The pruning booleans are literals the Spark
    * side must have OBSERVED true on the physical file sets; the row
    * arithmetic is relational and the oracle recomputes it from orders.
    */
  def transformPartitionDemo(s: SparkSession, d: String): DataFrame = {
    val wh = new org.apache.hadoop.fs.Path(transformDemoWarehouse)
    val whFs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (whFs.exists(wh)) whFs.delete(wh, true)
    val engine = new GraftEngine(s, transformDemoWarehouse)
    engine.executeNonQuery(graft.params.SqlStatement(
      """CREATE TABLE demo.orders_tp (
        |  o_orderkey bigint, o_orderdate date, o_totalprice double
        |) WITH (partitioning = ARRAY['year(o_orderdate)', 'bucket(4, o_orderkey)'])""".stripMargin))
    // the source stores o_orderdate as timestamp; the demo table declares
    // DATE (the natural type for month partitioning)
    // cap the ingested slice (oracle filters identically): the demo's
    // subject is transform-partition pruning on DML, which a 16k-row
    // year×bucket layout exercises as well as the full corpus
    val orders = graft.Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderdate").cast("date").as("o_orderdate"),
        col("o_totalprice"))
      .filter(col("o_orderkey") <= 65536L)
    engine.catalog.insert("demo", "orders_tp", orders)
    val c = engine.catalog
    // the victim: the minimum order key (deterministic for the oracle)
    val victim = orders.agg(org.apache.spark.sql.functions.min("o_orderkey"))
      .head().getLong(0)
    val victimDate = orders.filter(col("o_orderkey") === victim)
      .select("o_orderdate").head().getDate(0)
    val before = c.dataFilePaths("demo", "orders_tp",
      c.snapshots("demo", "orders_tp").last).toSet
    engine.executeNonQuery(graft.params.SqlStatement(
      s"DELETE FROM demo.orders_tp WHERE o_orderkey = $victim AND " +
        s"o_orderdate = DATE '$victimDate'"))
    val after = c.dataFilePaths("demo", "orders_tp",
      c.snapshots("demo", "orders_tp").last).toSet
    val rewritten = before.diff(after)
    def dirVals(prefix: String) =
      rewritten.flatMap(_.split('/').find(_.startsWith(prefix)))
    val oneYear = rewritten.nonEmpty && dirVals("o_orderdate_year=").size == 1
    val oneBucket = rewritten.nonEmpty && dirVals("o_orderkey_bucket_").size == 1
    engine.query(graft.params.SqlStatement(
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
        |FROM demo.orders_tp""".stripMargin))
      .withColumn("pruned_one_year", lit(oneYear))
      .withColumn("pruned_one_bucket", lit(oneBucket))
  }

  /** DuckDB twin of [[transformPartitionDemo]]: row arithmetic over
    * orders minus the minimum-key row; the two pruning booleans are
    * literals the Spark side must have observed on the real rewrite set.
    */
  val transformPartitionDemoSql: String =
    """SELECT (SELECT COUNT(*) - 1 FROM orders WHERE o_orderkey <= 65536) AS n_rows,
      |       (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
      |        FROM orders
      |        WHERE o_orderkey <= 65536
      |          AND o_orderkey <> (SELECT MIN(o_orderkey) FROM orders
      |                             WHERE o_orderkey <= 65536)) AS total,
      |       TRUE AS pruned_one_year, TRUE AS pruned_one_bucket""".stripMargin

  /** Metadata tables + rollback end-to-end: a commit history (two appends,
    * an overwrite DELETE, a compaction, a rollback) inspected through
    * `"t$snapshots"` and `"t$files"`, joined in one plain-SQL result. The
    * row counts tie the metadata to the nation data so the oracle can
    * recompute every value relationally; commit timestamps are inspected
    * only as ordering (metadata wall-clock values are nondeterministic).
    */
  def metaTablesDemo(s: SparkSession, d: String): DataFrame = {
    val wh = new org.apache.hadoop.fs.Path(metaDemoWarehouse)
    val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(wh)) fs.delete(wh, true)
    val engine = new GraftEngine(s, metaDemoWarehouse)
    engine.catalog.createSchema("demo")
    val nation = graft.Tables.nation(s, d)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    engine.catalog.createTable("demo", "meta_t", nation.schema)
    // coalesce(1): pin one data file per append so the $files rollup the
    // oracle asserts is deterministic regardless of scan parallelism
    engine.catalog.insert("demo", "meta_t",
      nation.filter(col("n_nationkey") < 10).coalesce(1))
    engine.catalog.insert("demo", "meta_t",
      nation.filter(col("n_nationkey") >= 10).coalesce(1))
    engine.executeNonQuery(graft.params.SqlStatement(
      "DELETE FROM demo.meta_t WHERE n_regionkey = 2"))
    engine.executeNonQuery(graft.params.SqlStatement(
      "ALTER TABLE demo.meta_t EXECUTE optimize(file_count => 1)"))
    engine.executeNonQuery(graft.params.SqlStatement(
      "ALTER TABLE demo.meta_t EXECUTE rollback_to_snapshot(snapshot_id => 2)"))
    // one row per commit: its operation, whether timestamps are ordered,
    // and the CURRENT files-table rollup (same for every row by design)
    engine.query(graft.params.SqlStatement(
      """SELECT s.snapshot_id, s.operation,
        |       f.n_files, f.n_records, p.n_parts,
        |       (SELECT count(*) FROM demo.meta_t) AS current_rows,
        |       (SELECT count(*) FROM demo.meta_t FOR VERSION AS OF 2) AS v2_rows
        |FROM demo."meta_t$snapshots" s
        |CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n_files,
        |                   CAST(sum(record_count) AS BIGINT) AS n_records
        |            FROM demo."meta_t$files") f
        |CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n_parts
        |            FROM demo."meta_t$partitions") p
        |ORDER BY s.snapshot_id""".stripMargin))
  }

  private[graft] val metaDemoWarehouse = "/tmp/graft-meta-demo-warehouse"

  /** Views + introspection end-to-end: a persisted CREATE VIEW over a
    * nation-backed table, queried through a second stacked view and
    * joined back to the base — with SHOW TABLES / DESCRIBE results folded
    * in as columns so the oracle checks the introspection surface too.
    */
  def viewsDemo(s: SparkSession, d: String): DataFrame = {
    val wh = new org.apache.hadoop.fs.Path(viewsDemoWarehouse)
    val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(wh)) fs.delete(wh, true)
    val engine = new GraftEngine(s, viewsDemoWarehouse)
    engine.catalog.createSchema("demo")
    val nation = graft.Tables.nation(s, d)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    engine.catalog.createTable("demo", "nation_v", nation.schema)
    engine.catalog.insert("demo", "nation_v", nation)
    engine.executeNonQuery(graft.params.SqlStatement(
      "CREATE VIEW demo.low_key AS SELECT n_nationkey, n_name, n_regionkey FROM demo.nation_v WHERE n_nationkey < 12"))
    engine.executeNonQuery(graft.params.SqlStatement(
      "CREATE VIEW demo.low_key_r1 AS SELECT n_nationkey, n_name FROM demo.low_key WHERE n_regionkey = 1"))
    // session default schema (USE) — the final query runs with every name
    // UNQUALIFIED, resolving against the session schema exactly as the
    // reference's ClientSessionProperties make unqualified names resolve
    // (AthenaClient.cs:37-45)
    engine.executeNonQuery(graft.params.SqlStatement("USE demo"))
    val nTables = engine.query(graft.params.SqlStatement(
      "SHOW TABLES")).count()
    val nCols = engine.query(graft.params.SqlStatement(
      "DESCRIBE low_key_r1")).count()
    engine.query(graft.params.SqlStatement(
      """SELECT v.n_nationkey, v.n_name, b.n_regionkey
        |FROM low_key_r1 v JOIN nation_v b ON v.n_nationkey = b.n_nationkey""".stripMargin))
      .withColumn("n_tables", lit(nTables))
      .withColumn("n_cols", lit(nCols))
      .orderBy(col("n_nationkey"))
  }

  private[graft] val viewsDemoWarehouse = "/tmp/graft-views-demo-warehouse"

  /** Incremental MV refresh end-to-end ([[graft.MvIncremental]]): a
    * nation-backed table gets HALF its rows, two materialized views
    * (a GROUP BY aggregate and a filtered projection) materialize over
    * that half, the other half lands as an append commit, and REFRESH
    * catches both views up WITHOUT re-scanning the table — the aggregate
    * by merging delta partials (`incremental-merge`), the projection as
    * one append commit (`incremental-append`, pinned via the MV's own
    * `$snapshots` operation column). A third MV joins the table to a
    * region dimension that ALSO appends before its refresh, exercising
    * both delta legs (`Δnation⋈region_new ∪ nation_old⋈Δregion`,
    * `incremental-merge`). The oracle recomputes every aggregate over
    * the FULL tables — incremental must land on exactly that — and
    * carries the refresh modes as literal columns, so a silent fall-back
    * to full recompute turns the row red.
    */
  def mvIncrementalDemo(s: SparkSession, d: String): DataFrame = {
    val wh = new org.apache.hadoop.fs.Path(mvIncDemoWarehouse)
    val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(wh)) fs.delete(wh, true)
    val engine = new GraftEngine(s, mvIncDemoWarehouse)
    engine.catalog.createSchema("demo")
    val nation = graft.Tables.nation(s, d)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    engine.catalog.createTable("demo", "nation_inc", nation.schema)
    engine.catalog.insert("demo", "nation_inc",
      nation.filter(col("n_nationkey") < 15))
    engine.executeNonQuery(graft.params.SqlStatement(
      """CREATE MATERIALIZED VIEW demo.region_stats AS
        |SELECT n_regionkey, count(*) AS n, sum(n_nationkey) AS key_sum,
        |       max(n_name) AS top_name
        |FROM demo.nation_inc GROUP BY n_regionkey""".stripMargin))
    engine.executeNonQuery(graft.params.SqlStatement(
      """CREATE MATERIALIZED VIEW demo.low_keys AS
        |SELECT n_nationkey, n_name FROM demo.nation_inc WHERE n_regionkey = 1""".stripMargin))
    // join MV over a second (dimension) table seeded with 3 of 5 regions:
    // both sources append before the refresh, so BOTH delta legs
    // (Δnation⋈region_new and nation_old⋈Δregion) must land
    val region = graft.Tables.region(s, d)
      .select(col("r_regionkey"), col("r_name"))
    engine.catalog.createTable("demo", "region_inc", region.schema)
    engine.catalog.insert("demo", "region_inc",
      region.filter(col("r_regionkey") < 3))
    engine.executeNonQuery(graft.params.SqlStatement(
      """CREATE MATERIALIZED VIEW demo.nation_region AS
        |SELECT r.r_name AS r_name, count(*) AS n, sum(n.n_nationkey) AS key_sum
        |FROM demo.nation_inc n JOIN demo.region_inc r
        |  ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name""".stripMargin))
    engine.catalog.insert("demo", "nation_inc",
      nation.filter(col("n_nationkey") >= 15))
    engine.catalog.insert("demo", "region_inc",
      region.filter(col("r_regionkey") >= 3))
    engine.executeNonQuery(graft.params.SqlStatement(
      "REFRESH MATERIALIZED VIEW demo.nation_region"))
    val joinMode = engine.lastMvRefreshMode
    val jn = engine.query(graft.params.SqlStatement(
      "SELECT count(*) AS c, sum(key_sum) AS ks FROM demo.nation_region"))
      .collect()(0)
    engine.executeNonQuery(graft.params.SqlStatement(
      "REFRESH MATERIALIZED VIEW demo.region_stats"))
    val aggMode = engine.lastMvRefreshMode
    engine.executeNonQuery(graft.params.SqlStatement(
      "REFRESH MATERIALIZED VIEW demo.low_keys"))
    val spjMode = engine.lastMvRefreshMode
    val lowOp = engine.query(graft.params.SqlStatement(
      """SELECT operation FROM demo."low_keys$snapshots" WHERE snapshot_id = 2"""))
      .collect()(0).getString(0)
    val lowRows = engine.query(graft.params.SqlStatement(
      "SELECT count(*) AS c FROM demo.low_keys")).collect()(0).getLong(0)
    engine.query(graft.params.SqlStatement(
      "SELECT n_regionkey, n, key_sum, top_name FROM demo.region_stats"))
      .withColumn("agg_mode", lit(aggMode))
      .withColumn("spj_mode", lit(spjMode))
      .withColumn("low_op", lit(lowOp))
      .withColumn("low_rows", lit(lowRows))
      .withColumn("join_mode", lit(joinMode))
      .withColumn("jn_rows", lit(jn.getLong(0)))
      .withColumn("jn_keysum", lit(jn.getLong(1)))
      .orderBy(col("n_regionkey"))
  }

  private[graft] val mvIncDemoWarehouse = "/tmp/graft-mv-inc-demo-warehouse"

  /** Metadata delete end-to-end: lineitem lands as three append commits
    * with disjoint l_orderkey ranges (two files each), then a
    * retention-shaped `DELETE WHERE l_orderkey < 5000` whose bounds
    * prove totality for the first commit's files — the commit must DROP
    * those files from the manifests and WRITE NOTHING (`files_written`
    * pinned 0, `files_dropped` pinned 2 — a fall-back to the rewrite
    * path turns the row red). The oracle recomputes the surviving
    * aggregate and the removed count over raw lineitem.
    */
  def retentionDemo(s: SparkSession, d: String): DataFrame = {
    val wh = new org.apache.hadoop.fs.Path(retentionDemoWarehouse)
    val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(wh)) fs.delete(wh, true)
    val engine = new GraftEngine(s, retentionDemoWarehouse)
    engine.catalog.createSchema("demo")
    val li = graft.Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_returnflag"))
    engine.catalog.createTable("demo", "li_ret", li.schema)
    Seq(
      li.filter(col("l_orderkey") < 5000),
      li.filter(col("l_orderkey") >= 5000 && col("l_orderkey") < 10000),
      li.filter(col("l_orderkey") >= 10000)
    ).foreach(slice =>
      engine.catalog.insert("demo", "li_ret", slice.repartition(2)))
    def files(): Set[String] = engine.query(graft.params.SqlStatement(
      """SELECT file_path FROM demo."li_ret$files""""))
      .collect().map(_.getString(0)).toSet
    val before = files()
    val removed = engine.executeNonQuery(graft.params.SqlStatement(
      "DELETE FROM demo.li_ret WHERE l_orderkey < 5000"))
    val after = files()
    engine.query(graft.params.SqlStatement(
      """SELECT l_returnflag, count(*) AS n, sum(l_orderkey) AS key_sum
        |FROM demo.li_ret GROUP BY l_returnflag""".stripMargin))
      .withColumn("removed", lit(removed))
      .withColumn("files_dropped", lit((before -- after).size.toLong))
      .withColumn("files_written", lit((after -- before).size.toLong))
      .orderBy(col("l_returnflag"))
  }

  private[graft] val retentionDemoWarehouse = "/tmp/graft-retention-demo-warehouse"

  /** DuckDB oracle for [[retentionDemo]]: surviving-rows aggregate and
    * removed count recomputed over raw lineitem; the file arithmetic of
    * the metadata drop as pinned literals (2 dropped, 0 written).
    */
  val retentionDemoSql: String =
    """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(l_orderkey) AS BIGINT) AS key_sum,
      |       (SELECT CAST(count(*) AS BIGINT) FROM lineitem
      |        WHERE l_orderkey < 5000) AS removed,
      |       CAST(2 AS BIGINT) AS files_dropped,
      |       CAST(0 AS BIGINT) AS files_written
      |FROM lineitem WHERE l_orderkey >= 5000
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** DuckDB oracle for [[mvIncrementalDemo]]: the aggregate recomputed
    * over the WHOLE nation (what the merge must reconstruct), the two
    * refresh strategies and the projection MV's append operation as
    * literals, the projection row count over the full table.
    */
  val mvIncrementalDemoSql: String =
    """SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
      |       max(n_name) AS top_name,
      |       'incremental-merge' AS agg_mode,
      |       'incremental-append' AS spj_mode,
      |       'append' AS low_op,
      |       (SELECT CAST(count(*) AS BIGINT) FROM nation WHERE n_regionkey = 1) AS low_rows,
      |       'incremental-merge' AS join_mode,
      |       (SELECT CAST(count(*) AS BIGINT) FROM
      |         (SELECT r_name FROM nation JOIN region ON n_regionkey = r_regionkey
      |          GROUP BY r_name) t) AS jn_rows,
      |       (SELECT CAST(sum(n_nationkey) AS BIGINT)
      |        FROM nation JOIN region ON n_regionkey = r_regionkey) AS jn_keysum
      |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin

  /** DuckDB oracle for [[viewsDemo]]: the stacked-view expansion replayed
    * as nested subqueries over nation; SHOW TABLES counts the table plus
    * two views (3), DESCRIBE the view's two columns.
    */
  val viewsDemoSql: String =
    """WITH low_key AS (SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_nationkey < 12),
      |low_key_r1 AS (SELECT n_nationkey, n_name FROM low_key WHERE n_regionkey = 1)
      |SELECT v.n_nationkey, v.n_name, b.n_regionkey,
      |       CAST(3 AS BIGINT) AS n_tables, CAST(2 AS BIGINT) AS n_cols
      |FROM low_key_r1 v JOIN nation b ON v.n_nationkey = b.n_nationkey
      |ORDER BY v.n_nationkey""".stripMargin

  /** DuckDB oracle for [[metaTablesDemo]]: the commit kinds are the
    * scripted history (append, append, overwrite, replace, rollback — the
    * last stamped at commit time, not inferred from its reused dirs);
    * the files rollup after rollback-to-snapshot-2 is the full nation row
    * count spread over the two appended files (one unpartitioned rollup
    * row); current rows AND the VERSION-AS-OF-2 read both equal nation.
    */
  val metaTablesDemoSql: String =
    """WITH ops(snapshot_id, operation) AS (VALUES
      |  (CAST(1 AS BIGINT), 'append'), (CAST(2 AS BIGINT), 'append'),
      |  (CAST(3 AS BIGINT), 'overwrite'), (CAST(4 AS BIGINT), 'replace'),
      |  (CAST(5 AS BIGINT), 'rollback'))
      |SELECT o.snapshot_id, o.operation,
      |       CAST(2 AS BIGINT) AS n_files,
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM nation) AS n_records,
      |       CAST(1 AS BIGINT) AS n_parts,
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM nation) AS current_rows,
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM nation) AS v2_rows
      |FROM ops o ORDER BY o.snapshot_id""".stripMargin

  /** DuckDB oracle for [[mergeDemo]]: replays the MERGE relationally —
    * matched rows split by the DELETE/UPDATE conditions (first-match-wins
    * order inlined), unmatched target rows pass through, unmatched source
    * rows insert under the clause filter — over the same nation parquet.
    */
  val mergeDemoSql: String =
    """WITH t AS (SELECT n_nationkey, n_name, n_regionkey FROM nation),
      |s AS (SELECT n_nationkey * 2 AS id, n_name AS nm, n_regionkey AS rk FROM nation),
      |m AS (SELECT t.n_nationkey, t.n_name, t.n_regionkey, s.nm
      |      FROM t JOIN s ON t.n_nationkey = s.id),
      |matched_out AS (SELECT n_nationkey, n_name || '+' || nm AS n_name, n_regionkey
      |                FROM m WHERE NOT (n_regionkey = 2)),
      |target_only AS (SELECT t.* FROM t ANTI JOIN s ON t.n_nationkey = s.id),
      |ins AS (SELECT s.id AS n_nationkey, s.nm AS n_name, s.rk AS n_regionkey
      |        FROM s ANTI JOIN t ON t.n_nationkey = s.id WHERE s.id < 40),
      |fin AS (SELECT * FROM matched_out UNION ALL SELECT * FROM target_only
      |        UNION ALL SELECT * FROM ins),
      |counts AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM m)
      |                + (SELECT CAST(COUNT(*) AS BIGINT) FROM ins) AS n_affected,
      |                  (SELECT CAST(COUNT(*) AS BIGINT) FROM t) AS pre_merge_rows)
      |SELECT f.n_nationkey, f.n_name, f.n_regionkey, c.n_affected, c.pre_merge_rows
      |FROM fin f CROSS JOIN counts c ORDER BY f.n_nationkey""".stripMargin

  /** DuckDB oracle for [[dmlDemo]]: replays the UPDATE as a CASE
    * projection and the DELETE as the negated predicate over the nation
    * parquet, with the affected counts and pre-DML row count recomputed
    * relationally — every value the engine reports must match what the
    * DML semantics imply.
    */
  val dmlDemoSql: String =
    """WITH upd AS (
      |  SELECT n_nationkey,
      |         CASE WHEN n_regionkey = 3 THEN n_name || '_EU' ELSE n_name END AS n_name,
      |         n_regionkey
      |  FROM nation),
      |fin AS (SELECT * FROM upd WHERE NOT (n_regionkey = 1 OR n_nationkey >= 20))
      |SELECT f.n_nationkey, f.n_name, f.n_regionkey,
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM nation WHERE n_regionkey = 3) AS n_updated,
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM nation
      |        WHERE n_regionkey = 1 OR n_nationkey >= 20) AS n_deleted,
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM nation) AS pre_dml_rows
      |FROM fin f ORDER BY f.n_nationkey""".stripMargin

  private[graft] val bloomDemoWarehouse = "/tmp/graft-bloom-demo-warehouse"

  /** Bloom file-skipping end-to-end: orders ingested as three
    * INTERLEAVED commits (keys ≡ i mod 3, so every file's o_orderkey
    * bounds span nearly the whole range — bounds pruning is structurally
    * useless) into a `bloom_filter_columns = ARRAY['o_orderkey']` table.
    * A mid-range point probe must then read exactly ONE of the three
    * files — only the manifest blooms can prove the other two clean —
    * and an out-of-range probe plans zero files. The probe's row rides
    * into the result for the oracle; the observed plan facts ride as
    * booleans.
    */
  def bloomPruneDemo(s: SparkSession, d: String): DataFrame = {
    val wh = new org.apache.hadoop.fs.Path(bloomDemoWarehouse)
    val whFs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (whFs.exists(wh)) whFs.delete(wh, true)
    val engine = new GraftEngine(s, bloomDemoWarehouse)
    engine.catalog.createSchema("demo")
    val orders = graft.Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"))
      .filter(col("o_orderkey") <= 60000L)
    engine.catalog.createTable("demo", "orders_bloom", orders.schema,
      bloomFilterColumns = Seq("o_orderkey"))
    (0 until 3).foreach { i =>
      engine.catalog.insert("demo", "orders_bloom",
        orders.filter(pmod(col("o_orderkey"), lit(3)) === i).coalesce(1))
    }
    val totalFiles = engine.catalog.filesMeta("demo", "orders_bloom")
      .filter(col("content") === 0).count()
    val probeKey = orders.filter(col("o_orderkey") >= 1000L)
      .agg(min("o_orderkey")).head().getLong(0)
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case st: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(st.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(allScans)
    }
    def probe(key: Long): (Long, Double, Long, Boolean) = {
      val q = engine.catalog.readLatest("demo", "orders_bloom")
        .filter(col("o_orderkey") === key)
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("p"))
      val r = q.collect().head
      val scans = allScans(q.queryExecution.executedPlan)
      (r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1),
        scans.map(_.metrics("numFiles").value).sum,
        scans.nonEmpty && scans.forall(_.relation.location
          .isInstanceOf[org.apache.spark.sql.GraftManifestFileIndex]))
    }
    val (nHit, priceHit, filesHit, manifestPlanned) = probe(probeKey)
    val (nMiss, _, filesMiss, _) = probe(-42L)
    import s.implicits._
    Seq((nHit, priceHit)).toDF("n_rows", "probe_price")
      .withColumn("planned_by_manifest", lit(manifestPlanned))
      .withColumn("bloom_pruned", lit(totalFiles == 3 && filesHit == 1))
      .withColumn("plan_skips_absent", lit(nMiss == 0 && filesMiss == 0))
  }

  /** DuckDB twin of [[bloomPruneDemo]]: recomputes the probe row from the
    * same deterministic probe-key subquery; the plan-shape facts the
    * Spark side OBSERVED must all be true.
    */
  val bloomPruneDemoSql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS probe_price,
      |       TRUE AS planned_by_manifest, TRUE AS bloom_pruned,
      |       TRUE AS plan_skips_absent
      |FROM orders
      |WHERE o_orderkey <= 60000 AND o_orderkey =
      |  (SELECT MIN(o_orderkey) FROM orders
      |   WHERE o_orderkey >= 1000 AND o_orderkey <= 60000)""".stripMargin

  private[graft] val streamDemoWarehouse = "/tmp/graft-stream-demo-warehouse"

  /** Table→stream→table end-to-end: three INSERT commits land in a source
    * catalog table; a `graft-table` streaming source tails its commit log
    * (paced one commit per micro-batch via admission control) through a
    * filter into a sink table whose foreachBatch writer commits with the
    * transactional identity `(appId, batchId)`. The stream then REPLAYS
    * from scratch with no checkpoint — every batch id is already recorded,
    * so the replay lands nothing. The oracle recomputes the sink's
    * contents relationally; the pipeline-shape claims ride as booleans the
    * Spark side must have OBSERVED: `paced_batches` (one sink append per
    * source commit — the stream really was incremental, not one bulk
    * read) and `exactly_once` (snapshot count unchanged by the replay).
    */
  def streamDemo(s: SparkSession, d: String): DataFrame = {
    val wh = new org.apache.hadoop.fs.Path(streamDemoWarehouse)
    val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(wh)) fs.delete(wh, true)
    val engine = new GraftEngine(s, streamDemoWarehouse)
    engine.catalog.createSchema("demo")
    val ev = graft.Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("value"))
      .filter(col("event_id") <= 30000L)
    engine.catalog.createTable("demo", "events_src", ev.schema)
    (0 until 3).foreach { i =>
      engine.catalog.insert("demo", "events_src",
        ev.filter(pmod(col("event_id"), lit(3)) === i).coalesce(2))
    }
    engine.catalog.createTable("demo", "events_hot", ev.schema)
    def runOnce(paced: Boolean): Unit = {
      val src = s.readStream.format("graft-table")
        .option("warehouse", streamDemoWarehouse)
        .option("schema", "demo").option("table", "events_src")
        .options(if (paced) Map("maxSnapshotsPerTrigger" -> "1") else Map.empty[String, String])
        .load()
      val q = graft.streaming.EventStreams.streamIntoCatalog(
        src.filter(col("value") > 100.0), engine.catalog, "demo", "events_hot",
        txnAppId = Some("stream-demo"))
      q.awaitTermination(180000)
    }
    runOnce(paced = true)
    val appendsAfterFirst =
      engine.catalog.snapshots("demo", "events_hot").count(_.operation.contains("append"))
    // checkpoint-free replay, unpaced: ONE batch covering the whole range
    // at txn version 0 — already ≤ the recorded version 2, so it must be
    // absorbed (version ordering, not batch alignment, is the guard)
    runOnce(paced = false)
    val appendsAfterReplay =
      engine.catalog.snapshots("demo", "events_hot").count(_.operation.contains("append"))
    engine.catalog.readLatest("demo", "events_hot")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total_value"))
      .withColumn("paced_batches", lit(appendsAfterFirst == 3))
      .withColumn("exactly_once", lit(appendsAfterReplay == appendsAfterFirst))
      .orderBy(col("event_type"))
  }

  /** DuckDB twin of [[streamDemo]]: the sink's contents are exactly the
    * filtered source rows — whatever batching delivered them — and the
    * observed pipeline-shape booleans must both be TRUE.
    */
  val streamDemoSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
      |       TRUE AS paced_batches, TRUE AS exactly_once
      |FROM events WHERE event_id <= 30000 AND value > 100.0
      |GROUP BY event_type ORDER BY event_type""".stripMargin
}
