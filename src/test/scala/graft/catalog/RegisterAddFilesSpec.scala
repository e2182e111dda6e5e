package graft.catalog

import graft.{GraftEngine, GraftQueryException, SparkSpec}
import graft.params.SqlStatement
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Catalog attachment surface (Trino Iceberg's system.register_table /
  * system.unregister_table procedures and `ALTER TABLE … EXECUTE
  * add_files`, trino.io/docs/current/connector/iceberg.html#procedures):
  *  - unregister removes a table from the catalog WITHOUT deleting data;
  *    register brings the intact layout back (tombstone in place, or a
  *    `_table_location` pointer for a foreign location — zero bytes move
  *    either way);
  *  - add_files adopts existing parquet files IN PLACE via absolute-path
  *    manifest entries — a metadata-only commit, the 100 TB ingest path
  *    for data already sitting in the lake.
  */
class RegisterAddFilesSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("v", StringType)))

  private def freshCatalog(name: String): SnapshotCatalog = {
    val c = new SnapshotCatalog(spark, tmpDir(name))
    c.createSchema("s")
    c
  }

  test("unregister hides the table, keeps data; register in place restores it whole") {
    val c = freshCatalog("reg-inplace")
    c.createTable("s", "t", schema)
    c.insert("s", "t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    c.insert("s", "t", Seq((3L, "c")).toDF("id", "v"))
    val loc = new org.apache.hadoop.fs.Path(c.schemaLocation("s"), "t").toString
    c.unregisterTable("s", "t")
    assert(!c.tableExists("s", "t"))
    assert(!c.listTables("s").contains("t"))
    // data is untouched on disk
    assert(new java.io.File(loc, "commits.json").exists())
    c.registerTable("s", "t", loc)
    assert(c.tableExists("s", "t"))
    // history survives the round trip (both snapshots, full content)
    assert(c.snapshots("s", "t").size == 2)
    assert(c.readLatest("s", "t").count() == 3L)
  }

  test("register at a foreign location reads and writes through a pointer; data never moves") {
    val c1 = freshCatalog("reg-src")
    c1.createTable("s", "orig", schema)
    c1.insert("s", "orig", Seq((1L, "x"), (2L, "y")).toDF("id", "v"))
    val extLoc = new org.apache.hadoop.fs.Path(c1.schemaLocation("s"), "orig").toString

    val c2 = freshCatalog("reg-dst")
    c2.registerTable("s", "ext", extLoc)
    assert(c2.readLatest("s", "ext").count() == 2L)
    assert(c2.listTables("s").contains("ext"))
    // DML through the registering catalog lands at the external location
    c2.insert("s", "ext", Seq((3L, "z")).toDF("id", "v"))
    assert(c2.readLatest("s", "ext").count() == 3L)
    assert(c1.readLatest("s", "orig").count() == 3L) // same physical table
    // the catalog entry is a pointer dir, not a copy
    val entry = new java.io.File(c2.schemaLocation("s").toUri.getPath, "ext")
    assert(entry.listFiles().map(_.getName).filterNot(_.startsWith("."))
      .toSet == Set("_table_location"))
    // rename moves only the pointer; unregister drops only the pointer
    c2.renameTable("s", "ext", "s", "ext2")
    assert(c2.readLatest("s", "ext2").count() == 3L)
    c2.unregisterTable("s", "ext2")
    assert(!c2.tableExists("s", "ext2"))
    assert(c1.readLatest("s", "orig").count() == 3L) // data intact
  }

  test("register validation: bad location, existing name") {
    val c = freshCatalog("reg-bad")
    c.createTable("s", "t", schema)
    intercept[IllegalArgumentException] {
      c.registerTable("s", "u", tmpDir("not-a-table"))
    }
    intercept[IllegalArgumentException] {
      c.registerTable("s", "t",
        new org.apache.hadoop.fs.Path(c.schemaLocation("s"), "t").toString)
    }
  }

  test("add_files adopts parquet in place: metadata commit, absolute entries, no copy") {
    val c = freshCatalog("addf")
    c.createTable("s", "t", schema)
    c.insert("s", "t", Seq((1L, "a")).toDF("id", "v"))
    val ext = tmpDir("addf-ext")
    Seq((10L, "p"), (11L, "q"), (12L, "r")).toDF("id", "v")
      .repartition(2).write.mode("overwrite").parquet(ext)
    val extFiles = new java.io.File(ext).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet

    val n = c.addFiles("s", "t", ext)
    assert(n == extFiles.size.toLong)
    assert(c.readLatest("s", "t").count() == 4L)
    assert(c.readLatest("s", "t").agg(sum("id")).head.getLong(0) == 1L + 10 + 11 + 12)
    // nothing copied into the table dir: its only data files are the insert's
    val tdir = new java.io.File(c.schemaLocation("s").toUri.getPath, "t")
    def dataFilesUnder(d: java.io.File): Seq[java.io.File] = {
      val fs = Option(d.listFiles()).map(_.toSeq).getOrElse(Nil)
      fs.filter(_.isFile).filter(_.getName.endsWith(".parquet")) ++
        fs.filter(_.isDirectory).filterNot(_.getName == "_manifests")
          .flatMap(dataFilesUnder)
    }
    assert(!dataFilesUnder(tdir).map(_.getName).exists(extFiles.contains))
    // $files reports the adopted files at their external absolute paths
    val files = c.filesMeta("s", "t").select("file_path")
      .as[String].collect().toSeq
    assert(files.count(_.contains(ext)) == extFiles.size)
    // manifest bounds prune adopted files too: a probe outside their id
    // range deletes nothing from them (metadata-only no-op path)
    c.delete("s", "t", col("id") === 11L)
    assert(c.readLatest("s", "t").count() == 3L)
    assert(c.readLatest("s", "t").agg(sum("id")).head.getLong(0) == 1L + 10 + 12)
  }

  test("hive-looking external dir names never fabricate bounds for adopted files") {
    val c = freshCatalog("addf-hive")
    c.createTable("s", "t", schema)
    // external layout whose DIRECTORY looks hive-partitioned on a real
    // column with MIXED values inside the files — a path-derived
    // min=max='zz' bound would prune the file for any other predicate
    val ext = tmpDir("addf-hive-ext")
    Seq((1L, "aa"), (2L, "zz")).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$ext/v=zz")
    c.addFiles("s", "t", ext)
    // both rows reachable through a v-predicate (bounds must come from
    // the FOOTER, which spans aa..zz)
    assert(c.readLatest("s", "t").filter(col("v") === "aa").count() == 1L)
    c.delete("s", "t", col("v") === "aa")
    assert(c.readLatest("s", "t").count() == 1L)
  }

  test("add_files adopts a hive-partitioned external layout in place") {
    val c = freshCatalog("addf-part")
    val pschema = StructType(Seq(
      StructField("id", LongType),
      StructField("v", StringType),
      StructField("region", StringType)))
    c.createTable("s", "p", pschema, partitionedBy = Seq("region"))
    c.insert("s", "p", Seq((1L, "a", "eu")).toDF("id", "v", "region"))
    // hive convention: partition values live in the PATH, not the files
    val ext = tmpDir("addf-part-ext")
    Seq((10L, "x"), (11L, "y")).toDF("id", "v")
      .coalesce(1).write.parquet(s"$ext/region=us")
    Seq((20L, "z")).toDF("id", "v")
      .coalesce(1).write.parquet(s"$ext/region=ap")
    val n = c.addFiles("s", "p", ext)
    assert(n == 2L)
    val df = c.readLatest("s", "p")
    assert(df.count() == 4L)
    // partition values parse from the external hive segments
    assert(df.filter(col("region") === "us")
      .select("id").as[Long].collect().sorted.toSeq == Seq(10L, 11L))
    // partition pruning reaches adopted files: a region filter reads
    // only that partition's file(s)
    val pruned = c.readLatest("s", "p").filter(col("region") === "ap")
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(scan.metrics("numFiles").value == 1L)
    // CoW DML on an adopted partitioned file rewrites it into table
    // storage; untouched partitions (incl. other adopted files) survive
    c.delete("s", "p", col("id") === 11L)
    assert(c.readLatest("s", "p").select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 10L, 20L))
    assert(c.readLatest("s", "p").filter(col("region") === "us")
      .select("id").as[Long].collect().toSeq == Seq(10L))
  }

  test("partitioned add_files validation: hive segment required for every partition column") {
    val c = freshCatalog("addf-part-bad")
    val pschema = StructType(Seq(
      StructField("id", LongType),
      StructField("region", StringType)))
    c.createTable("s", "p", pschema, partitionedBy = Seq("region"))
    val flat = tmpDir("addf-part-flat")
    Seq(Tuple1(1L)).toDF("id").write.mode("overwrite").parquet(flat)
    val ex = intercept[IllegalArgumentException] { c.addFiles("s", "p", flat) }
    assert(ex.getMessage.contains("hive partition segment"))
  }

  test("add_files rejects duplicates, schema mismatch, missing hive layout") {
    val c = freshCatalog("addf-bad")
    c.createTable("s", "t", schema)
    val ext = tmpDir("addf-bad-ext")
    Seq((1L, "a")).toDF("id", "v").write.mode("overwrite").parquet(ext)
    c.addFiles("s", "t", ext)
    intercept[IllegalArgumentException] { c.addFiles("s", "t", ext) } // dup
    val wrong = tmpDir("addf-bad-wrong")
    Seq((1, "a")).toDF("id", "v").write.mode("overwrite").parquet(wrong) // int id
    intercept[IllegalArgumentException] { c.addFiles("s", "t", wrong) }
    c.createTable("s", "p", schema, partitionedBy = Seq("v"))
    intercept[IllegalArgumentException] { c.addFiles("s", "p", ext) }
  }

  test("add_files_from_table adopts another table's files: pure metadata, zero footer reads") {
    val c = freshCatalog("addft")
    c.createTable("s", "src", schema)
    c.insert("s", "src", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    c.insert("s", "src", Seq((3L, "c")).toDF("id", "v"))
    c.createTable("s", "dst", schema)
    c.insert("s", "dst", Seq((10L, "z")).toDF("id", "v"))
    val n = c.addFilesFromTable("s", "dst", "s", "src")
    assert(n >= 2L)
    assert(c.readLatest("s", "dst").select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 10L))
    // adopted entries carry the SOURCE's bounds verbatim — a point
    // delete outside an adopted file's range must not rewrite it, and
    // DML on dst never touches src
    c.delete("s", "dst", col("id") === 2L)
    assert(c.readLatest("s", "dst").select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 10L))
    assert(c.readLatest("s", "src").count() == 3L)
    // duplicate adoption rejected; self-adoption rejected
    intercept[IllegalArgumentException] { c.addFilesFromTable("s", "dst", "s", "src") }
    intercept[IllegalArgumentException] { c.addFilesFromTable("s", "src", "s", "src") }
    // a source with pending delete files is rejected (fold first) — one
    // multi-row file so the delete PARTIALLY covers it and must leave a
    // positional delete (a fully-covered file would just drop by metadata)
    c.createTable("s", "srcv2", schema, formatVersion = 2)
    c.insert("s", "srcv2", Seq((7L, "x"), (8L, "y")).toDF("id", "v").coalesce(1))
    c.delete("s", "srcv2", col("id") === 7L) // MoR positional delete
    c.createTable("s", "dst2", schema)
    val ex = intercept[IllegalArgumentException] {
      c.addFilesFromTable("s", "dst2", "s", "srcv2")
    }
    assert(ex.getMessage.contains("optimize"))
  }

  test("add_files_from_table on identically-partitioned tables keeps pruning; SQL spelling") {
    val c = freshCatalog("addft-part")
    val pschema = StructType(Seq(
      StructField("id", LongType),
      StructField("v", StringType),
      StructField("region", StringType)))
    c.createTable("s", "psrc", pschema, partitionedBy = Seq("region"))
    c.insert("s", "psrc", Seq((1L, "a", "eu"), (2L, "b", "us"))
      .toDF("id", "v", "region"))
    c.createTable("s", "pdst", pschema, partitionedBy = Seq("region"))
    val e = new GraftEngine(spark, c.warehouse)
    assert(e.executeNonQuery(SqlStatement(
      "ALTER TABLE s.pdst EXECUTE add_files_from_table(" +
        "schema_name => 's', table_name => 'psrc')")) >= 1L)
    val df = c.readLatest("s", "pdst")
    assert(df.count() == 2L)
    // partition values ride the source's hive path segments
    assert(df.filter(col("region") === "us").select("id").as[Long]
      .collect().toSeq == Seq(2L))
    // mismatched partitioning rejected
    c.createTable("s", "flat", pschema)
    intercept[IllegalArgumentException] { c.addFilesFromTable("s", "flat", "s", "psrc") }
  }

  test("$properties and $entries metadata tables") {
    val c = freshCatalog("props")
    c.createTable("s", "t", schema, sortedBy = Seq("id"))
    c.insert("s", "t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    c.insert("s", "t", Seq((3L, "c")).toDF("id", "v"))
    val props = c.propertiesMeta("s", "t").as[(String, String)].collect().toMap
    assert(props("format") == "PARQUET")
    assert(props("format_version") == "1")
    assert(props("sorted_by") == "ARRAY['id']")
    assert(props.contains("location"))

    val entries = c.entriesMeta("s", "t")
      .select("status", "snapshot_id", "record_count").as[(Int, Long, Long)]
      .collect().toSeq
    // both commits' files are present; the head commit's file is ADDED
    // (status 1, stamped with the head snapshot id), the first commit's
    // carried manifest is EXISTING (status 0, stamped with commit 1)
    assert(entries.map(_._3).sum == 3L)
    assert(entries.exists(e => e._1 == 1 && e._2 == 2L))
    assert(entries.exists(e => e._1 == 0 && e._2 == 1L))
    // bounds render as canonical JSON keyed by column
    val lb = c.entriesMeta("s", "t").select("lower_bounds").as[String].collect()
    assert(lb.forall(_.contains("\"id\":")))
  }

  test("SQL surface: CALL register/unregister, EXECUTE add_files") {
    val e = new GraftEngine(spark, tmpDir("reg-sql"))
    e.executeNonQuery(SqlStatement("CREATE TABLE demo.t (id bigint, v varchar)"))
    e.executeNonQuery(SqlStatement("INSERT INTO demo.t VALUES (1, 'a')"))
    val ext = tmpDir("reg-sql-ext")
    Seq((2L, "b")).toDF("id", "v").write.mode("overwrite").parquet(ext)
    assert(e.executeNonQuery(SqlStatement(
      s"ALTER TABLE demo.t EXECUTE add_files(location => '$ext')")) == 1L)
    assert(e.queryScalar[Long](SqlStatement(
      "SELECT count(*) FROM demo.t")).contains(2L))

    e.executeNonQuery(SqlStatement("CALL system.unregister_table('demo', 't')"))
    intercept[GraftQueryException] {
      e.query(SqlStatement("SELECT * FROM demo.t")).collect()
    }
    val loc = new org.apache.hadoop.fs.Path(
      e.catalog.schemaLocation("demo"), "t").toString
    e.executeNonQuery(SqlStatement(
      s"CALL system.register_table(schema_name => 'demo', table_name => 't', " +
        s"table_location => '$loc')"))
    assert(e.queryScalar[Long](SqlStatement(
      "SELECT count(*) FROM demo.t")).contains(2L))
    // the metadata-table family covers the attachment state
    assert(e.query(SqlStatement("SELECT * FROM demo.\"t$properties\""))
      .count() >= 3L)
    assert(e.query(SqlStatement("SELECT * FROM demo.\"t$entries\""))
      .count() >= 2L)
  }

  test("expire on the adopting table never deletes adopted external files") {
    val c = freshCatalog("addf-expire")
    c.createTable("s", "t", schema)
    val ext = tmpDir("addf-expire-ext")
    Seq((10L, "p"), (11L, "q"), (12L, "r")).toDF("id", "v")
      .repartition(2).write.mode("overwrite").parquet(ext)
    val extFiles = new java.io.File(ext).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).sorted.toSeq
    c.addFiles("s", "t", ext)
    // CoW DML rewrites the touched adopted file into TABLE storage — the
    // pre-DML snapshot is now the only reference to that adopted entry
    c.delete("s", "t", col("id") === 11L)
    assert(c.snapshots("s", "t").size == 2)
    // expire everything but the head: the expired snapshot's adopted
    // entries resolve OUTSIDE the table dir and must NOT be reclaimed —
    // add_files' "the source is never affected" contract (the files
    // belong to their source location; a fixed bug deleted them here)
    val expired = c.expireSnapshots("s", "t", System.currentTimeMillis() + 1000L)
    assert(expired.nonEmpty)
    val after = new java.io.File(ext).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).sorted.toSeq
    assert(after == extFiles, "expire reclaimed adopted external files")
    // the adopting table still reads correctly post-expire
    assert(c.readLatest("s", "t").select("id").as[Long].collect().sorted.toSeq ==
      Seq(10L, 12L))
    // and the kept snapshot's still-adopted files keep serving even
    // after orphan cleaning (absolute entries are not table debris)
    c.removeOrphanFiles("s", "t")
    assert(c.readLatest("s", "t").count() == 2L)
  }

  test("migrate converts a flat parquet directory in place; DML and maintenance own it") {
    val c = freshCatalog("mig-flat")
    val loc = tmpDir("mig-flat-data")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .repartition(3).write.mode("overwrite").parquet(loc)
    val n = c.migrateTable("s", "t", loc)
    assert(n == 3L)
    assert(c.tableExists("s", "t"))
    assert(c.readLatest("s", "t").select("id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 3L))
    // the files are table-OWNED: DML rewrites and maintenance manage them
    c.insert("s", "t", Seq((4L, "d")).toDF("id", "v"))
    c.delete("s", "t", col("id") === 2L)
    assert(c.readLatest("s", "t").select("id").as[Long].collect().sorted.toSeq
      == Seq(1L, 3L, 4L))
    c.compact("s", "t")
    c.expireSnapshots("s", "t", System.currentTimeMillis() + 1000L)
    c.removeOrphanFiles("s", "t")
    assert(c.readLatest("s", "t").select("id").as[Long].collect().sorted.toSeq
      == Seq(1L, 3L, 4L))
  }

  test("migrate adopts a hive-partitioned layout with typed partition columns") {
    val c = freshCatalog("mig-hive")
    val loc = tmpDir("mig-hive-data")
    Seq((1L, 2020, "a"), (2L, 2020, "b"), (3L, 2021, "c")).toDF("id", "year", "v")
      .write.partitionBy("year").mode("overwrite").parquet(loc)
    assert(c.migrateTable("s", "p", loc) >= 2L)
    // partition spec discovered from the path layout
    assert(c.partitionSpec("s", "p") == Seq("year"))
    val df = c.readLatest("s", "p")
    assert(df.columns.toSet == Set("id", "year", "v"))
    assert(df.filter(col("year") === 2021).select("id").as[Long].collect().toSeq
      == Seq(3L))
    assert(df.count() == 3L)
    // a post-migrate append mixes native _snap= layout with the migrated
    // hive entries — both kinds must read with correct partition values
    c.insert("s", "p", Seq((4L, 2022, "d")).toDF("id", "year", "v"))
    val mixed = c.readLatest("s", "p").select("id", "year")
      .as[(Long, Int)].collect().toSeq.sorted
    assert(mixed == Seq((1L, 2020), (2L, 2020), (3L, 2021), (4L, 2022)))
  }

  test("migrate rejects a directory whose files disagree on column count") {
    val c = freshCatalog("mig-width")
    val loc = tmpDir("mig-width-data")
    Seq((1L, "a")).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(loc)
    Seq((2L, "b", 1.5)).toDF("id", "v", "w").coalesce(1)
      .write.mode("append").parquet(loc)
    // whichever file schema discovery happened to sample, validation
    // fails deterministically: the narrow file lacks a declared column
    // OR the wide file carries more columns than declared — never a
    // silent adoption that drops a column forever
    val e = intercept[IllegalArgumentException](c.migrateTable("s", "w", loc))
    assert(e.getMessage.contains("column"))
    assert(!c.tableExists("s", "w"))
  }

  test("migrate through SQL: CALL system.migrate, then the table queries like any other") {
    val e = new GraftEngine(spark, tmpDir("mig-sql-wh"))
    e.executeNonQuery(SqlStatement("CREATE SCHEMA s"))
    val loc = tmpDir("mig-sql-data")
    Seq((10L, "x"), (20L, "y")).toDF("id", "v")
      .write.mode("overwrite").parquet(loc)
    e.executeNonQuery(SqlStatement(s"CALL system.migrate('s', 'm', '$loc')"))
    import e.spark.implicits._
    assert(e.query(SqlStatement("SELECT id FROM s.m ORDER BY id"))
      .as[Long].collect().toSeq == Seq(10L, 20L))
  }

  test("migrate guards: existing layouts, live-table aliasing, inconsistent hive segments") {
    val c = freshCatalog("mig-guards")
    // a directory that already holds a table layout points at register_table
    c.createTable("s", "t", schema)
    c.insert("s", "t", Seq((1L, "a")).toDF("id", "v"))
    val tdir = new org.apache.hadoop.fs.Path(c.schemaLocation("s"), "t").toString
    val e1 = intercept[IllegalArgumentException](c.migrateTable("s", "x", tdir))
    assert(e1.getMessage.contains("register_table"))
    // inconsistent partition segments across files fail before any write
    // (either the engine's own layout check or Spark's conflicting-
    // directory discovery error — both land before metadata is written)
    val loc = tmpDir("mig-mixed")
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$loc/year=2020")
    Seq((2L, "b")).toDF("id", "v").write.parquet(s"$loc/flat")
    intercept[Exception](c.migrateTable("s", "y", loc))
    assert(!c.tableExists("s", "y"))
  }
}
