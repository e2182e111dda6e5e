package graft.catalog

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Merge-on-read row-level DML (Iceberg v2 / Trino `format_version = 2`,
  * trino.io/docs/current/connector/iceberg.html): DELETE/UPDATE commit a
  * small positional-delete file of (file_path, pos) coordinates instead of
  * rewriting the data files that hold matching rows — a 1-row DELETE on a
  * 100 TB table writes a 1-row parquet file and touches no data file.
  * Reads subtract the delete set with a broadcast anti-join; `compact`
  * folds deletes back into data files.
  */
class MergeOnReadSpec extends SparkSpec {
  import spark.implicits._

  private def freshCatalog(): SnapshotCatalog = {
    val c = new SnapshotCatalog(spark, tmpDir("graft-mor-wh"))
    c.createSchema("s")
    c
  }

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("grp", StringType),
    StructField("v", LongType)))

  /** Three inserts → three snap dirs with grp-disjoint rows, v2 table. */
  private def seed(c: SnapshotCatalog, table: String,
                   partitioned: Boolean = false): Unit = {
    c.createTable("s", table, schema,
      partitionedBy = if (partitioned) Seq("grp") else Nil,
      formatVersion = 2)
    Seq("a", "b", "c").zipWithIndex.foreach { case (g, i) =>
      c.insert("s", table,
        (1L to 4L).map(k => (i * 10L + k, g, k)).toDF("id", "grp", "v")
          .repartition(2)) // ≥2 files per snapshot
    }
  }

  test("MoR DELETE writes a delete file and rewrites NO data file") {
    val c = freshCatalog()
    seed(c, "t_del")
    assert(c.formatVersion("s", "t_del") == 2)
    val before = c.snapshots("s", "t_del").last
    val beforeData = c.filesMeta("s", "t_del").filter($"content" === 0)
      .select("file_path").as[String].collect().toSet

    val (snap, n) = c.deleteCounted("s", "t_del", col("id") === 12L)
    assert(n == 1L)
    assert(snap.operation.contains("delete"))
    // the headline property: the same manifest list — no data file rewritten
    assert(snap.manifestList == before.manifestList &&
      c.dataFilePaths("s", "t_del", snap) == c.dataFilePaths("s", "t_del", before),
      s"MoR delete must not touch data files: ${before.manifestList} -> ${snap.manifestList}")
    assert(snap.deletes.size == 1 && snap.deletes.head.startsWith("delete-"))
    val afterData = c.filesMeta("s", "t_del").filter($"content" === 0)
      .select("file_path").as[String].collect().toSet
    assert(afterData == beforeData)
    // $files surfaces the positional-delete file with content = 1
    val delFiles = c.filesMeta("s", "t_del").filter($"content" === 1)
      .select($"record_count").as[Long].collect().toSeq
    assert(delFiles.sum == 1L)

    // merged read: exactly the matching row is gone
    val got = c.readLatest("s", "t_del")
      .select($"id", $"grp", $"v").as[(Long, String, Long)].collect().toSet
    assert(got.size == 11 && !got.exists(_._1 == 12L))
    // time travel pre-delete still sees it
    assert(c.readVersion("s", "t_del", before.snapshotId).count() == 12)
  }

  test("MoR UPDATE = positional delete of old versions + append of new ones") {
    val c = freshCatalog()
    seed(c, "t_upd", partitioned = true)
    val before = c.snapshots("s", "t_upd").last
    val (snap, n) = c.updateCounted("s", "t_upd",
      Seq("v" -> (col("v") + 100L)), col("grp") === "b")
    assert(n == 4L)
    assert(snap.operation.contains("overwrite"))
    // old data files all carried; new row versions appended alongside
    val beforePaths = c.dataFilePaths("s", "t_upd", before).toSet
    val afterPaths = c.dataFilePaths("s", "t_upd", snap).toSet
    assert(beforePaths.subsetOf(afterPaths), "MoR UPDATE must not rewrite data files")
    assert(afterPaths.size > beforePaths.size, "new row versions must be appended")
    assert(snap.deletes.size == 1)
    val got = c.readLatest("s", "t_upd").filter($"grp" === "b")
      .select($"v").as[Long].collect().toSeq.sorted
    assert(got == Seq(101L, 102L, 103L, 104L))
    assert(c.readLatest("s", "t_upd").count() == 12)
    // simultaneous-assignment semantics preserved on the MoR path
    c.updateCounted("s", "t_upd", Seq("id" -> col("v"), "v" -> col("id")),
      col("grp") === "a")
    val swapped = c.readLatest("s", "t_upd").filter($"grp" === "a")
      .select($"id", $"v").as[(Long, Long)].collect().toSet
    assert(swapped == Set((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L)))
  }

  test("MoR MERGE INTO: positional deletes + appends, NO data file rewritten") {
    val c = freshCatalog()
    seed(c, "t_mrg")
    val before = c.snapshots("s", "t_mrg").last
    val beforePaths = c.dataFilePaths("s", "t_mrg", before).toSet
    // one UPDATE hit (id=11), one DELETE hit (id=22), one INSERT (id=500)
    val src = Seq((11L, 999L), (22L, -1L), (500L, 7L)).toDF("sid", "sv")
    val (snap, n) = c.mergeInto("s", "t_mrg", src, "t", "u",
      col("t.id") === col("u.sid"),
      whenMatched = Seq(
        MergeDeleteAction(Some(col("u.sv") < 0L)),
        MergeUpdateAction(None, Seq("v" -> col("u.sv")))),
      whenNotMatched = Seq(MergeInsertAction(None, Some(Seq("id", "grp", "v")),
        Seq(col("u.sid"), lit("new"), col("u.sv")))))
    assert(n === 3L)
    val afterPaths = c.dataFilePaths("s", "t_mrg", snap).toSet
    assert(beforePaths.subsetOf(afterPaths),
      s"MoR MERGE must rewrite no data file; lost ${beforePaths.diff(afterPaths)}")
    assert(afterPaths.size > beforePaths.size, "updated+inserted rows must append")
    assert(snap.deletes.size === 1, "matched modified rows become ONE delete file")
    assert(c.manifestNames("s", "t_mrg", before).toSet
      .subsetOf(c.manifestNames("s", "t_mrg", snap).toSet),
      "every prior manifest carries by name (no data rewrite → no manifest rewrite)")
    val got = c.readLatest("s", "t_mrg")
    assert(got.count() === 12) // 12 - 1 deleted + 1 inserted
    assert(got.filter($"id" === 11L).select($"v").as[Long].head() === 999L)
    assert(got.filter($"id" === 22L).count() === 0)
    assert(got.filter($"id" === 500L).select($"grp").as[String].head() === "new")
    // time travel pre-merge unaffected
    assert(c.readVersion("s", "t_mrg", before.snapshotId).count() === 12)
    // pass-through matched rows (no clause fired) stay put: merge again
    // with a condition that matches nothing
    val (snap2, n2) = c.mergeInto("s", "t_mrg",
      Seq((11L, 1L)).toDF("sid", "sv"), "t", "u",
      col("t.id") === col("u.sid"),
      whenMatched = Seq(MergeUpdateAction(Some(lit(false)), Seq("v" -> lit(0L)))),
      whenNotMatched = Nil)
    assert(n2 === 0L)
    assert(snap2.manifestList === snap.manifestList, "no-op MERGE carries the same manifest list")
  }

  test("MoR MERGE on a partitioned table keeps hive layout and pruning") {
    val c = freshCatalog()
    seed(c, "t_mrgp", partitioned = true)
    val before = c.snapshots("s", "t_mrgp").last
    val src = Seq((1L, 999L)).toDF("sid", "sv")
    val (snap, n) = c.mergeInto("s", "t_mrgp", src, "t", "u",
      col("t.id") === col("u.sid"),
      whenMatched = Seq(MergeUpdateAction(None, Seq("v" -> col("u.sv")))),
      whenNotMatched = Nil)
    assert(n === 1L)
    assert(c.dataFilePaths("s", "t_mrgp", snap).forall(_.startsWith("_snap=")))
    assert(c.dataFilePaths("s", "t_mrgp", before).toSet
      .subsetOf(c.dataFilePaths("s", "t_mrgp", snap).toSet))
    assert(c.readLatest("s", "t_mrgp").filter($"id" === 1L)
      .select($"v").as[Long].head() === 999L)
    assert(c.readLatest("s", "t_mrgp").count() === 12)
  }

  test("deletes stack across commits and survive INSERT") {
    val c = freshCatalog()
    seed(c, "t_stack")
    c.delete("s", "t_stack", col("id") === 1L)
    c.delete("s", "t_stack", col("id") === 11L)
    c.insert("s", "t_stack", Seq((99L, "z", 9L)).toDF("id", "grp", "v"))
    val snap = c.snapshots("s", "t_stack").last
    assert(snap.deletes.size == 2, "append must carry the delete list forward")
    val ids = c.readLatest("s", "t_stack").select($"id").as[Long].collect().toSet
    assert(!ids.contains(1L) && !ids.contains(11L) && ids.contains(99L))
    assert(ids.size == 11)
    // deleting an already-deleted row is a no-op (probe reads merged state)
    val (_, n) = c.deleteCounted("s", "t_stack", col("id") === 1L)
    assert(n == 0L)
  }

  test("no-match MoR DELETE commits metadata-only") {
    val c = freshCatalog()
    seed(c, "t_noop")
    val before = c.snapshots("s", "t_noop").last
    val (snap, n) = c.deleteCounted("s", "t_noop", col("id") === 999L)
    assert(n == 0L)
    assert(snap.manifestList == before.manifestList && snap.deletes.isEmpty)
    assert(c.dataFilePaths("s", "t_noop", snap) == c.dataFilePaths("s", "t_noop", before))
  }

  test("compact folds deletes into data files and clears the delete list") {
    val c = freshCatalog()
    seed(c, "t_opt")
    c.delete("s", "t_opt", col("id") === 2L)
    c.updateCounted("s", "t_opt", Seq("v" -> lit(0L)), col("id") === 23L)
    assert(c.snapshots("s", "t_opt").last.deletes.size == 2)
    val snap = c.compact("s", "t_opt")
    assert(snap.deletes.isEmpty, "optimize must fold positional deletes away")
    assert(c.dataFilePaths("s", "t_opt", snap).map(_.split('/').head).distinct.size == 1,
      "compaction references exactly one data dir")
    val got = c.readLatest("s", "t_opt")
    assert(got.count() == 11)
    assert(got.filter($"id" === 23L).select($"v").as[Long].head() == 0L)
  }

  test("copy-on-write DML on a v2 table drops deletes for rewritten files only") {
    val c = freshCatalog()
    seed(c, "t_cow")
    // one MoR delete, then a MERGE (CoW path) that rewrites id=21's file
    c.delete("s", "t_cow", col("id") === 11L)
    c.merge("s", "t_cow", Seq((21L, "c", 777L)).toDF("id", "grp", "v"), "id")
    val snap = c.snapshots("s", "t_cow").last
    val got = c.readLatest("s", "t_cow")
      .select($"id", $"v").as[(Long, Long)].collect().toMap
    assert(!got.contains(11L), "MoR delete must survive a later CoW commit")
    assert(got(21L) == 777L)
    assert(got.size == 11)
    // TRUNCATE footer arithmetic stays exact under the carried deletes
    val (_, n) = c.truncateCounted("s", "t_cow")
    assert(n == 11L, s"footer-sum minus delete rows must be exact, got $n")
  }

  test("MoR on a partitioned table preserves partition pruning and layout") {
    val c = freshCatalog()
    seed(c, "t_part", partitioned = true)
    c.delete("s", "t_part", col("grp") === "b" && col("v") === 2L)
    val got = c.readLatest("s", "t_part").filter($"grp" === "b")
    assert(got.count() == 3)
    // appended UPDATE rows land hive-partitioned like any data dir
    c.updateCounted("s", "t_part", Seq("v" -> lit(50L)), col("grp") === "a")
    val paths = c.dataFilePaths("s", "t_part", c.snapshots("s", "t_part").last)
    assert(paths.forall(_.startsWith("_snap=")),
      s"appended MoR rows must land hive-partitioned: $paths")
    assert(c.readLatest("s", "t_part").filter($"v" === 50L).count() == 4)
  }

  test("expireSnapshots reclaims delete files referenced only by expired snapshots") {
    val c = freshCatalog()
    seed(c, "t_exp")
    c.delete("s", "t_exp", col("id") === 1L)
    c.compact("s", "t_exp") // current snapshot no longer references deletes
    val cutoff = c.snapshots("s", "t_exp").last.committedAtMillis
    c.expireSnapshots("s", "t_exp", cutoff)
    assert(c.readLatest("s", "t_exp").count() == 11)
    val left = c.snapshots("s", "t_exp").flatMap(_.deletes)
    assert(left.isEmpty)
    // removeOrphanFiles keeps the _format_version marker
    c.removeOrphanFiles("s", "t_exp")
    assert(c.formatVersion("s", "t_exp") == 2)
    assert(c.readLatest("s", "t_exp").count() == 11)
  }

  test("rollback_to_snapshot restores the delete list of the target") {
    val c = freshCatalog()
    seed(c, "t_rb")
    c.delete("s", "t_rb", col("id") === 1L)
    val withDel = c.snapshots("s", "t_rb").last
    c.compact("s", "t_rb")
    c.rollbackToSnapshot("s", "t_rb", withDel.snapshotId)
    val cur = c.snapshots("s", "t_rb").last
    assert(cur.deletes == withDel.deletes)
    assert(c.readLatest("s", "t_rb").count() == 11)
  }

  test("SQL surface: CREATE WITH format_version, DELETE/UPDATE, SHOW CREATE round-trip") {
    val eng = new graft.GraftEngine(spark, tmpDir("graft-mor-sql"))
    eng.executeNonQuery(graft.params.SqlStatement(
      "CREATE TABLE s2.ev (id bigint, v bigint) WITH (format_version = 2)"))
    eng.executeNonQuery(graft.params.SqlStatement(
      "INSERT INTO s2.ev VALUES (1, 10), (2, 20), (3, 30)"))
    val ddl = eng.query(graft.params.SqlStatement("SHOW CREATE TABLE s2.ev"))
      .collect().head.getString(0)
    assert(ddl.contains("format_version = 2"), ddl)
    // the emitted DDL parses back to a v2 table
    val reparsed = DdlParser.parse(ddl.replace("s2.ev", "s2.ev2"), "s2")
    assert(reparsed.exists {
      case ct: CreateTableStmt => ct.formatVersion == 2
      case _ => false
    })
    assert(eng.executeNonQuery(graft.params.SqlStatement(
      "DELETE FROM s2.ev WHERE id = 2")) == 1L)
    assert(eng.executeNonQuery(graft.params.SqlStatement(
      "UPDATE s2.ev SET v = v + 1 WHERE id = 3")) == 1L)
    val got = eng.query(graft.params.SqlStatement("SELECT id, v FROM s2.ev ORDER BY id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 10L), (3L, 31L)))
    assert(eng.executeNonQuery(graft.params.SqlStatement("TRUNCATE TABLE s2.ev")) == 2L)
  }
}
