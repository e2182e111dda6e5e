package graft.catalog

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-7 advice hardening: DDL guards that keep supported statements
  * from wedging a table or silently succeeding where Trino would fail.
  *  - DROP COLUMN of a `sorted_by` column is rejected; RENAME COLUMN of
  *    one rewrites the sort spec so later writes still cluster.
  *  - UPDATE validates SET target columns BEFORE the zero-match
  *    short-circuit (Trino fails analysis; a silent no-op commit hides
  *    the typo).
  *  - `__graft_`-prefixed column names are rejected everywhere (internal
  *    provenance namespace); `file_path`/`pos` rejected on
  *    format_version = 2 tables (positional-delete schema collision).
  *  - TRUNCATE derives its removed-row count and its commit from ONE
  *    commit-log read.
  */
class AdviceGuardsSpec extends SparkSpec {
  import spark.implicits._

  private def freshCatalog(): SnapshotCatalog = {
    val c = new SnapshotCatalog(spark, tmpDir("graft-guard-wh"))
    c.createSchema("s")
    c
  }

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("v", StringType)))

  test("DROP COLUMN of a sorted_by column is rejected; table stays writable") {
    val c = freshCatalog()
    c.createTable("s", "t", schema, sortedBy = Seq("id"))
    c.insert("s", "t", Seq((1L, "a")).toDF("id", "v"))
    val e = intercept[IllegalArgumentException](c.dropColumn("s", "t", "id"))
    assert(e.getMessage.contains("sort column"))
    // the guard kept the spec intact: a later insert still clusters fine
    c.insert("s", "t", Seq((2L, "b")).toDF("id", "v"))
    assert(c.readLatest("s", "t").count() === 2)
  }

  test("RENAME COLUMN of a sorted_by column follows into the sort spec (direction kept)") {
    val c = freshCatalog()
    c.createTable("s", "t", schema, sortedBy = Seq("id DESC"))
    c.insert("s", "t", Seq((1L, "a")).toDF("id", "v"))
    c.renameColumn("s", "t", "id", "ident")
    assert(c.sortSpec("s", "t") === Seq("ident DESC"))
    // writes resolve the renamed sort column — the table is NOT wedged
    c.insert("s", "t", Seq((2L, "b")).toDF("ident", "v"))
    assert(c.readLatest("s", "t").count() === 2)
  }

  test("UPDATE with a bogus SET column fails even when the predicate matches zero rows") {
    val c = freshCatalog()
    c.createTable("s", "t", schema)
    c.insert("s", "t", Seq((1L, "a")).toDF("id", "v"))
    val before = c.snapshots("s", "t").size
    val e = intercept[IllegalArgumentException](
      c.updateCounted("s", "t", Seq("bogus" -> lit(1)), lit(false)))
    assert(e.getMessage.contains("bogus"))
    assert(c.snapshots("s", "t").size === before, "no no-op commit was appended")
  }

  test("UPDATE with a bogus SET column fails on a v2 (merge-on-read) table too") {
    val c = freshCatalog()
    c.createTable("s", "t2", schema, formatVersion = 2)
    c.insert("s", "t2", Seq((1L, "a")).toDF("id", "v"))
    intercept[IllegalArgumentException](
      c.updateCounted("s", "t2", Seq("bogus" -> lit(1)), lit(false)))
  }

  test("MERGE with a bogus UPDATE SET column fails analysis up front") {
    val c = freshCatalog()
    c.createTable("s", "t", schema)
    c.insert("s", "t", Seq((1L, "a")).toDF("id", "v"))
    val src = Seq((99L, "z")).toDF("id", "v") // matches nothing
    val e = intercept[IllegalArgumentException](
      c.mergeInto("s", "t", src, "t", "s",
        expr("t.id = s.id"),
        Seq(MergeUpdateAction(None, Seq("bogus" -> lit(1)))), Nil))
    assert(e.getMessage.contains("bogus"))
  }

  test("__graft_ column names are rejected at CREATE / ADD / RENAME") {
    val c = freshCatalog()
    intercept[IllegalArgumentException](
      c.createTable("s", "bad", StructType(Seq(
        StructField("__graft_file", StringType), StructField("x", LongType)))))
    c.createTable("s", "ok", schema)
    intercept[IllegalArgumentException](
      c.addColumn("s", "ok", "__graft_pos", LongType))
    intercept[IllegalArgumentException](
      c.renameColumn("s", "ok", "v", "__graft_v"))
  }

  test("file_path / pos are rejected only on format_version = 2 tables") {
    val c = freshCatalog()
    // v1: fine — no positional-delete machinery ever touches the table
    c.createTable("s", "v1", StructType(Seq(
      StructField("file_path", StringType), StructField("pos", LongType))))
    c.insert("s", "v1", Seq(("a", 1L)).toDF("file_path", "pos"))
    assert(c.readLatest("s", "v1").count() === 1)
    // v2: the delete anti-join would be ambiguous on every read
    intercept[IllegalArgumentException](
      c.createTable("s", "v2", StructType(Seq(
        StructField("file_path", StringType), StructField("x", LongType))),
        formatVersion = 2))
    c.createTable("s", "v2ok", schema, formatVersion = 2)
    intercept[IllegalArgumentException](c.addColumn("s", "v2ok", "pos", LongType))
    intercept[IllegalArgumentException](c.renameColumn("s", "v2ok", "v", "file_path"))
  }

  test("CREATE TABLE over an unregistered layout fails with the register_table pointer") {
    val c = freshCatalog()
    c.createTable("s", "t", schema)
    c.insert("s", "t", Seq((1L, "a")).toDF("id", "v"))
    c.unregisterTable("s", "t")
    assert(!c.tableExists("s", "t"))
    // the name must not be invisible-yet-uncreatable: the failure names
    // the revival path instead of a bare "already exists"
    val e = intercept[IllegalStateException](c.createTable("s", "t", schema))
    assert(e.getMessage.contains("register_table"))
    val e2 = intercept[IllegalStateException](
      c.createTable("s", "t", schema, ifNotExists = true))
    assert(e2.getMessage.contains("register_table"),
      "IF NOT EXISTS must not silently no-op against a hidden layout")
    // and the pointed-at remedy works
    c.registerTable("s", "t",
      new org.apache.hadoop.fs.Path(c.schemaLocation("s"), "t").toString)
    assert(c.readLatest("s", "t").count() === 1)
  }

  test("registerTable rejects a location aliasing a live catalog table") {
    val c = freshCatalog()
    c.createTable("s", "t", schema)
    c.insert("s", "t", Seq((1L, "a")).toDF("id", "v"))
    val loc = new org.apache.hadoop.fs.Path(c.schemaLocation("s"), "t").toString
    val e = intercept[IllegalArgumentException](
      c.registerTable("s", "alias", loc))
    assert(e.getMessage.contains("s.t"))
    assert(!c.tableExists("s", "alias"))
  }

  test("a crashed CREATE OR REPLACE (commit without marker swap) repairs on read") {
    val c = freshCatalog()
    val oldSchema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("region", StringType)))
    c.createTable("s", "r", oldSchema, partitionedBy = Seq("region"))
    c.insert("s", "r", Seq((1L, "a", "eu")).toDF("id", "v", "region"))
    val newDf = Seq((10L, 1.5)).toDF("k", "x")
    c.replaceTableAs("s", "r", newDf)
    val dir = new java.io.File(
      new org.apache.hadoop.fs.Path(c.schemaLocation("s"), "r").toUri.getPath)
    // SIMULATE the crash window: commit CAS done, marker swap not —
    // restore the OLD markers and re-stage the replace marker
    java.nio.file.Files.writeString(
      dir.toPath.resolve("_table_schema.json"), oldSchema.json)
    java.nio.file.Files.writeString(
      dir.toPath.resolve("_partition_spec.json"), "region")
    val headId = c.snapshots("s", "r").last.snapshotId
    java.nio.file.Files.writeString(
      dir.toPath.resolve(s"_replace_staged-$headId.json"), "{}")
    // a FRESH catalog's first log read repairs: schema = the replace
    // snapshot's pinned schema, layout reset, marker gone
    val c2 = new SnapshotCatalog(spark, c.warehouse)
    assert(c2.snapshots("s", "r").nonEmpty) // triggers the repair
    assert(c2.declaredSchema("s", "r").map(_.fieldNames.toSeq)
      .contains(Seq("k", "x")))
    assert(c2.partitionSpec("s", "r").isEmpty)
    assert(!new java.io.File(dir, s"_replace_staged-$headId.json").exists())
    assert(c2.readLatest("s", "r").columns.toSeq == Seq("k", "x"))
  }

  test("post-replace DML carries _snap=-named replace output next to plain dirs (latent r8 bug)") {
    val c = freshCatalog()
    val pschema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("region", StringType)))
    c.createTable("s", "pr", pschema, partitionedBy = Seq("region"))
    c.insert("s", "pr", Seq((1L, "a", "eu"), (2L, "b", "us"), (3L, "c", "us"))
      .toDF("id", "v", "region"))
    // the replace drops the spec; its own output dir is `_snap=`-named
    // (the spec was still declared when the dir name was chosen)
    c.replaceTableAs("s", "pr",
      c.readLatest("s", "pr").filter(col("id") =!= 3L))
    // a pruned DML now CARRIES the `_snap=`-named replace file next to a
    // plain rewrite dir — reading that mix threw
    // CONFLICTING_DIRECTORY_STRUCTURES through round 8's listing path
    c.insert("s", "pr", Seq((9L, "z", "ap")).toDF("id", "v", "region"))
    c.updateCounted("s", "pr", Seq("v" -> lit("Z")), col("id") === 9L)
    assert(c.readLatest("s", "pr").select("id", "v").as[(Long, String)]
      .collect().sortBy(_._1).toSeq ==
      Seq((1L, "a"), (2L, "b"), (9L, "Z")))
    assert(c.readLatest("s", "pr").count() === 3)
    // branch DML over the post-replace state reads back too
    c.createBranch("s", "pr", "fix")
    c.branch("fix").updateCounted("s", "pr", Seq("v" -> lit("Y")), col("id") === 1L)
    assert(c.branch("fix").readLatest("s", "pr")
      .filter(col("id") === 1L).select("v").as[String].head() == "Y")
    // time travel to the PRE-replace partitioned snapshot still recovers
    // identity partition values from the hive path segments
    val pre = c.snapshots("s", "pr").head
    assert(c.readVersion("s", "pr", pre.snapshotId)
      .filter(col("region") === "us").count() === 2)
  }

  test("TRUNCATE count and commit derive from one observed snapshot") {
    val c = freshCatalog()
    c.createTable("s", "t", schema)
    c.insert("s", "t", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    val (snap, n) = c.truncateCounted("s", "t")
    assert(n === 3L)
    assert(c.dataFilePaths("s", "t", snap).isEmpty)
    assert(c.readLatest("s", "t").count() === 0)
  }

  test("remove_orphan_files keeps in-flight _replace_staged markers") {
    val c = freshCatalog()
    c.createTable("s", "t", schema)
    c.insert("s", "t", Seq((1L, "a")).toDF("id", "v"))
    // a marker AHEAD of the head = a CREATE OR REPLACE whose commit CAS
    // has not landed yet. Deleting it as debris would reopen the crash
    // window (readers pairing the new head with the old declared
    // schema); only promoteReplaceStaged may reclaim markers.
    val dir = new org.apache.hadoop.fs.Path(c.schemaLocation("s"), "t")
    val marker = new java.io.File(dir.toUri.getPath, "_replace_staged-999.json")
    java.nio.file.Files.writeString(marker.toPath, "{}")
    val removed = c.removeOrphanFiles("s", "t")
    assert(marker.exists(), "orphan clean deleted an in-flight replace marker")
    assert(!removed.exists(_.contains("_replace_staged")))
    assert(c.readLatest("s", "t").count() === 1)
    marker.delete()
  }

  test("'_'-prefixed schema names are rejected (reserved metadata namespace)") {
    val c = freshCatalog()
    // listSchemas hides '_' names (catalog metadata like _catalog_refs
    // lives there), so a user schema spelled that way would be writable
    // yet invisible — and exempt from listSchemas-driven guards
    intercept[IllegalArgumentException] { c.createSchema("_staging") }
    assert(!new java.io.File(c.warehouse, "_staging").exists())
  }
}
