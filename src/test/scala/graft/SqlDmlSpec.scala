package graft

import graft.params.SqlStatement
import org.apache.spark.sql.types._

/** SQL-text DML surface: UPDATE / DELETE / ALTER TABLE EXECUTE routed
  * through executeNonQuery onto the snapshot catalog's copy-on-write
  * rewrites (Trino Iceberg DML semantics: affected-row counts, 3VL
  * predicates, simultaneous assignment, maintenance procedures).
  */
class SqlDmlSpec extends SparkSpec {
  import spark.implicits._

  private def freshEngine(name: String): GraftEngine = {
    val e = new GraftEngine(spark, tmpDir(name))
    e.executeNonQuery(SqlStatement(
      "CREATE TABLE demo.t (id bigint, name varchar, qty bigint)"))
    e.executeNonQuery(SqlStatement(
      "INSERT INTO demo.t VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30), (4, NULL, 40)"))
    e
  }

  test("timestamp with time zone: DDL parses, zoned literals hit as instants") {
    import graft.params.Sql._
    val e = new GraftEngine(spark, tmpDir("dml-tstz"))
    e.executeNonQuery(SqlStatement(
      "CREATE TABLE demo.tz (id bigint, at timestamp(6) with time zone)"))
    val odt = java.time.OffsetDateTime.parse("2024-03-05T12:34:56.123456+05:30")
    e.executeNonQuery(sql"INSERT INTO demo.tz VALUES (1, $odt)")
    // the SAME instant expressed in a different zone matches (UTC store)
    val la = odt.atZoneSameInstant(java.time.ZoneId.of("America/Los_Angeles"))
    assert(e.query(sql"SELECT id FROM demo.tz WHERE at = $la")
      .as[Long].collect().toSeq === Seq(1L))
    // a different instant with the same wall-clock text does NOT
    val other = java.time.OffsetDateTime.parse("2024-03-05T12:34:56.123456-08:00")
    assert(e.query(sql"SELECT count(*) AS n FROM demo.tz WHERE at = $other")
      .as[Long].head() === 0L)
  }

  test("TRUNCATE TABLE empties the table, reports the count, keeps history") {
    val e = freshEngine("dml-truncate")
    val n = e.executeNonQuery(SqlStatement("TRUNCATE TABLE demo.t"))
    assert(n == 4L)
    assert(e.query(SqlStatement("SELECT count(*) AS n FROM demo.t")).as[Long].head() == 0L)
    // pre-truncate snapshot still time-travel-visible
    val snaps = e.catalog.snapshots("demo", "t")
    assert(e.catalog.readAsOf("demo", "t", snaps.head.committedAtMillis).count() == 4L)
  }

  test("DROP SCHEMA: RESTRICT refuses a non-empty schema, CASCADE drops everything") {
    val e = freshEngine("dml-dropschema")
    e.executeNonQuery(SqlStatement("CREATE VIEW demo.v AS SELECT id FROM demo.t"))
    intercept[GraftQueryException] { // RESTRICT default: table + view exist
      e.executeNonQuery(SqlStatement("DROP SCHEMA demo"))
    }
    assert(e.catalog.schemaExists("demo"))
    e.executeNonQuery(SqlStatement("DROP SCHEMA demo CASCADE"))
    assert(!e.catalog.schemaExists("demo"))
    assert(!e.catalog.tableExists("demo", "t"))
    intercept[GraftQueryException] { // now gone
      e.executeNonQuery(SqlStatement("DROP SCHEMA demo"))
    }
    assert(e.executeNonQuery(SqlStatement("DROP SCHEMA IF EXISTS demo")) == 0L)
    // an empty schema drops without CASCADE
    e.executeNonQuery(SqlStatement("CREATE SCHEMA empty_s"))
    assert(e.executeNonQuery(SqlStatement("DROP SCHEMA empty_s RESTRICT")) == 0L)
    assert(!e.catalog.schemaExists("empty_s"))
  }

  test("DELETE FROM with WHERE returns the deleted count and commits a snapshot") {
    val e = freshEngine("dml-del")
    val n = e.executeNonQuery(SqlStatement("DELETE FROM demo.t WHERE qty >= 30"))
    assert(n == 2L)
    assert(e.query(SqlStatement("SELECT id FROM demo.t")).as[Long].collect().sorted.toSeq
      == Seq(1L, 2L))
    // the delete committed a rewrite snapshot on top of the insert's
    assert(e.catalog.snapshots("demo", "t").size == 2)
  }

  test("DELETE without WHERE empties the table (count = all rows)") {
    val e = freshEngine("dml-del-all")
    assert(e.executeNonQuery(SqlStatement("DELETE FROM demo.t")) == 4L)
    assert(e.query(SqlStatement("SELECT count(*) AS n FROM demo.t")).as[Long].head() == 0L)
  }

  test("DELETE 3VL: a NULL-valued predicate keeps the row (only TRUE deletes)") {
    val e = freshEngine("dml-del-3vl")
    // name = 'a' is NULL for the NULL-name row -> that row survives
    val n = e.executeNonQuery(SqlStatement("DELETE FROM demo.t WHERE name <> 'zzz'"))
    assert(n == 3L)
    assert(e.query(SqlStatement("SELECT id FROM demo.t")).as[Long].collect().toSeq == Seq(4L))
  }

  test("UPDATE applies SET to TRUE-predicate rows only and returns the count") {
    val e = freshEngine("dml-upd")
    val n = e.executeNonQuery(SqlStatement(
      "UPDATE demo.t SET qty = qty * 2, name = concat(name, '!') WHERE id <= 2"))
    assert(n == 2L)
    val rows = e.query(SqlStatement("SELECT id, name, qty FROM demo.t ORDER BY id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq((1L, "a!", 20L), (2L, "b!", 40L), (3L, "c", 30L), (4L, null, 40L)))
  }

  test("UPDATE simultaneous assignment: SET a = b, b = a swaps (pre-update values)") {
    val e = new GraftEngine(spark, tmpDir("dml-swap"))
    e.executeNonQuery(SqlStatement("CREATE TABLE demo.s (a bigint, b bigint)"))
    e.executeNonQuery(SqlStatement("INSERT INTO demo.s VALUES (1, 100)"))
    e.executeNonQuery(SqlStatement("UPDATE demo.s SET a = b, b = a"))
    val r = e.query(SqlStatement("SELECT a, b FROM demo.s")).head()
    assert((r.getLong(0), r.getLong(1)) == ((100L, 1L)))
  }

  test("UPDATE casts assigned expressions to the column type (schema stable)") {
    val e = freshEngine("dml-cast")
    e.executeNonQuery(SqlStatement("UPDATE demo.t SET qty = 1.9 WHERE id = 1"))
    val df = e.query(SqlStatement("SELECT qty FROM demo.t WHERE id = 1"))
    assert(df.schema.head.dataType == LongType)
    assert(df.as[Long].head() == 1L) // double 1.9 -> bigint truncates toward zero
  }

  test("UPDATE quote-aware parsing: comma and WHERE inside string literals") {
    val e = freshEngine("dml-quote")
    val n = e.executeNonQuery(SqlStatement(
      "UPDATE demo.t SET name = 'x,WHERE y' WHERE id = 2"))
    assert(n == 1L)
    assert(e.query(SqlStatement("SELECT name FROM demo.t WHERE id = 2"))
      .as[String].head() == "x,WHERE y")
  }

  test("UPDATE 3VL: NULL predicate rows pass through unchanged") {
    val e = freshEngine("dml-upd-3vl")
    val n = e.executeNonQuery(SqlStatement(
      "UPDATE demo.t SET qty = 0 WHERE name <> 'a'"))
    assert(n == 2L) // b, c; the NULL-name row's predicate is NULL
    assert(e.query(SqlStatement("SELECT qty FROM demo.t WHERE id = 4")).as[Long].head() == 40L)
  }

  test("UPDATE unknown column / malformed expression raise the typed error") {
    val e = freshEngine("dml-upd-err")
    val ex1 = intercept[GraftQueryException] {
      e.executeNonQuery(SqlStatement("UPDATE demo.t SET nope = 1"))
    }
    assert(ex1.getMessage.contains("nope"))
    val ex2 = intercept[GraftQueryException] {
      e.executeNonQuery(SqlStatement("UPDATE demo.t SET qty = )bad("))
    }
    assert(ex2.getMessage.toLowerCase.contains("malformed"))
  }

  test("DML parses once: comments, quoted names, WITH sources and catalog subqueries") {
    // (statement, rows affected, demo.t's (id, qty) rows afterwards);
    // demo.u holds ids 2 and 3
    val base = Seq(1L -> 10L, 2L -> 20L, 3L -> 30L, 4L -> 40L)
    val cases = Seq(
      ("/* c */ DELETE FROM demo.t WHERE id = 1", 1L, base.tail),
      ("DELETE FROM \"demo\".\"t\" WHERE id = 1", 1L, base.tail),
      ("-- c\nINSERT INTO demo.t VALUES (13, 'x', 0)", 1L, base :+ (13L -> 0L)),
      ("-- c\nINSERT INTO \"demo\".\"t\" SELECT id + 10, name, 0 FROM demo.u", 2L,
        base ++ Seq(12L -> 0L, 13L -> 0L)),
      ("INSERT INTO demo.t WITH s AS (SELECT id FROM demo.u) SELECT id + 20, 'w', 1 FROM s;", 2L,
        base ++ Seq(22L -> 1L, 23L -> 1L)),
      ("DELETE FROM demo.t WHERE id IN (SELECT id FROM demo.u)", 2L,
        Seq(1L -> 10L, 4L -> 40L)),
      ("UPDATE demo.t SET qty = 0, name = 'u' WHERE id IN (SELECT id FROM demo.u)", 2L,
        Seq(1L -> 10L, 2L -> 0L, 3L -> 0L, 4L -> 40L)),
      ("DELETE FROM demo.t WHERE qty > (SELECT avg(qty) FROM demo.t)", 2L, base.take(2)),
      ("UPDATE demo.t SET qty = (SELECT max(qty) FROM demo.t FOR VERSION AS OF 1) WHERE id = 1",
        1L, (1L -> 40L) +: base.tail))
    for (((stmt, affected, rows), i) <- cases.zipWithIndex) {
      val e = freshEngine(s"dml-parse-once-$i")
      e.executeNonQuery(SqlStatement("CREATE TABLE demo.u (id bigint, name varchar)"))
      e.executeNonQuery(SqlStatement("INSERT INTO demo.u VALUES (2, 'x'), (3, 'y')"))
      assert(e.executeNonQuery(SqlStatement(stmt)) == affected, stmt)
      val got = e.query(SqlStatement("SELECT id, qty FROM demo.t ORDER BY id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
      assert(got == rows, stmt)
    }
  }

  test("executeNonQuery raises every failure as GraftQueryException") {
    val e = freshEngine("dml-typed")
    Seq(
      "INSERT INTO demo.t VALUES (3)",
      "DELETE FROM demo.t WHERE nope = 1",
      "ALTER TABLE demo.t EXECUTE optimize(file_count => 'x')",
      "ALTER TABLE demo.t EXECUTE rollback_to_snapshot(snapshot_id => abc)"
    ).foreach { stmt =>
      val ex = intercept[GraftQueryException](e.executeNonQuery(SqlStatement(stmt)))
      assert(ex.statement == stmt)
    }
    assert(e.catalog.snapshots("demo", "t").size == 1)
  }

  test("DML the catalog cannot take is refused, never handed to Spark") {
    val e = freshEngine("dml-refused")
    e.executeNonQuery(SqlStatement("CREATE VIEW demo.v AS SELECT id FROM demo.t"))
    Seq(
      "INSERT INTO demo.t (id, name, qty) VALUES (5, 'e', 50)",
      "INSERT OVERWRITE demo.t VALUES (5, 'e', 50)",
      "DELETE FROM demo.t AS x WHERE x.id = 1",
      "UPDATE demo.t x SET qty = 0",
      "UPDATE demo.t SET t.qty = 0",
      "DELETE FROM demo.v WHERE id = 1",
      "DELETE FROM demo.\"t$snapshots\""
    ).foreach { stmt =>
      val ex = intercept[GraftQueryException](e.executeNonQuery(SqlStatement(stmt)))
      assert(ex.statement == stmt)
    }
    // the query surface names the entry point that writes
    val ex = intercept[GraftQueryException](
      e.query(SqlStatement("DELETE FROM demo.t WHERE id = 1")))
    assert(ex.getMessage.contains("executeNonQuery"))
    assert(e.catalog.snapshots("demo", "t").size == 1)
    assert(e.query(SqlStatement("SELECT count(*) AS n FROM demo.t")).as[Long].head() == 4L)
  }

  test("ALTER TABLE ADD COLUMN: SQL spelling of additive schema evolution") {
    val e = freshEngine("dml-addcol")
    e.executeNonQuery(SqlStatement(
      "ALTER TABLE demo.t ADD COLUMN score decimal(10,2)"))
    val desc = e.query(SqlStatement("DESCRIBE demo.t"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc("score") == "decimal(10,2)")
    // existing rows read NULL for the new column; inserts can fill it
    assert(e.query(SqlStatement(
      "SELECT count(*) AS n FROM demo.t WHERE score IS NULL")).as[Long].head() == 4L)
    e.executeNonQuery(SqlStatement("INSERT INTO demo.t VALUES (5, 'e', 50, 9.25)"))
    assert(e.query(SqlStatement(
      "SELECT count(*) AS n FROM demo.t WHERE score IS NOT NULL")).as[Long].head() == 1L)
    // duplicate: IF NOT EXISTS no-ops, plain spelling is the typed error
    e.executeNonQuery(SqlStatement(
      "ALTER TABLE demo.t ADD COLUMN IF NOT EXISTS score decimal(10,2)"))
    intercept[GraftQueryException] {
      e.executeNonQuery(SqlStatement("ALTER TABLE demo.t ADD COLUMN score bigint"))
    }
  }

  test("ALTER TABLE RENAME TO moves the table with history; SHOW CATALOGS lists") {
    val e = freshEngine("dml-rename")
    e.executeNonQuery(SqlStatement("UPDATE demo.t SET qty = 99 WHERE id = 1"))
    e.executeNonQuery(SqlStatement("ALTER TABLE demo.t RENAME TO t_renamed"))
    assert(!e.catalog.tableExists("demo", "t"))
    assert(e.catalog.tableExists("demo", "t_renamed"))
    // data, snapshots, and time travel all travel with the rename
    assert(e.query(SqlStatement(
      "SELECT count(*) AS n FROM demo.t_renamed")).as[Long].head() == 4L)
    assert(e.query(SqlStatement(
      "SELECT count(*) AS n FROM demo.t_renamed FOR VERSION AS OF 1")).as[Long].head() == 4L)
    assert(e.catalog.snapshots("demo", "t_renamed").map(_.operation.get) ==
      Seq("append", "overwrite"))
    // cross-schema rename
    e.executeNonQuery(SqlStatement("CREATE SCHEMA demo2"))
    e.executeNonQuery(SqlStatement("ALTER TABLE demo.t_renamed RENAME TO demo2.t2"))
    assert(e.query(SqlStatement(
      "SELECT count(*) AS n FROM demo2.t2")).as[Long].head() == 4L)
    // target collision is a typed error
    e.executeNonQuery(SqlStatement("CREATE TABLE demo.other (id bigint)"))
    intercept[GraftQueryException] {
      e.executeNonQuery(SqlStatement("ALTER TABLE demo2.t2 RENAME TO demo.other"))
    }
    val cats = e.query(SqlStatement("SHOW CATALOGS")).collect().map(_.getString(0))
    assert(cats.toSeq == Seq("iceberg"))
  }

  test("DML on a missing table raises the typed error") {
    val e = new GraftEngine(spark, tmpDir("dml-missing"))
    intercept[GraftQueryException] {
      e.executeNonQuery(SqlStatement("DELETE FROM demo.ghost WHERE 1 = 1"))
    }
    intercept[GraftQueryException] {
      e.executeNonQuery(SqlStatement("UPDATE demo.ghost SET x = 1"))
    }
  }

  test("time travel still reads the pre-DML snapshot after UPDATE + DELETE") {
    val e = freshEngine("dml-tt")
    val preDml = e.catalog.snapshots("demo", "t").last.committedAtMillis
    e.executeNonQuery(SqlStatement("UPDATE demo.t SET qty = 0 WHERE id = 1"))
    e.executeNonQuery(SqlStatement("DELETE FROM demo.t WHERE id >= 3"))
    assert(e.catalog.readAsOf("demo", "t", preDml).count() == 4L)
    assert(e.query(SqlStatement("SELECT count(*) AS n FROM demo.t")).as[Long].head() == 2L)
  }

  test("ALTER TABLE EXECUTE optimize compacts; expire_snapshots reclaims; remove_orphan_files runs") {
    val e = freshEngine("dml-maint")
    e.executeNonQuery(SqlStatement("INSERT INTO demo.t VALUES (5, 'e', 50)"))
    e.executeNonQuery(SqlStatement("ALTER TABLE demo.t EXECUTE optimize"))
    assert(e.query(SqlStatement("SELECT count(*) AS n FROM demo.t")).as[Long].head() == 5L)
    // everything older than 0s ago expires except what the latest state needs
    val expired = e.executeNonQuery(SqlStatement(
      "ALTER TABLE demo.t EXECUTE expire_snapshots(retention_threshold => '0s')"))
    assert(expired >= 1L)
    assert(e.query(SqlStatement("SELECT count(*) AS n FROM demo.t")).as[Long].head() == 5L)
    e.executeNonQuery(SqlStatement("ALTER TABLE demo.t EXECUTE remove_orphan_files"))
    assert(e.query(SqlStatement("SELECT count(*) AS n FROM demo.t")).as[Long].head() == 5L)
    val ex = intercept[GraftQueryException] {
      e.executeNonQuery(SqlStatement("ALTER TABLE demo.t EXECUTE vacuum_everything"))
    }
    assert(ex.getMessage.contains("vacuum_everything"))
  }

  /** Three append commits, each coalesced to EXACTLY one multi-row data
    * file with a disjoint id range — so the metadata delete's
    * full-coverage proof (matched == manifest record count) has real
    * multi-row files to reason about, and partial coverage is possible.
    */
  private def threeFileEngine(name: String): GraftEngine = {
    val e = new GraftEngine(spark, tmpDir(name))
    e.executeNonQuery(SqlStatement("CREATE TABLE demo.t (id bigint, qty bigint)"))
    def ins(rows: (Long, Long)*): Unit =
      e.catalog.insert("demo", "t", rows.toSeq.toDF("id", "qty").coalesce(1))
    ins((1L, 10L), (2L, 20L), (3L, 30L))
    ins((11L, 10L), (12L, 20L))
    ins((21L, 10L), (22L, 20L))
    e
  }

  private def dataFiles(e: GraftEngine): Set[String] =
    e.query(SqlStatement("""SELECT file_path FROM demo."t$files""""))
      .collect().map(_.getString(0)).toSet

  test("metadata delete: a fully-covered DELETE drops files without writing any") {
    val e = threeFileEngine("dml-mdel-pure")
    val before = dataFiles(e)
    assert(before.size == 3)
    // every row of the first commit's file(s) matches: the retention
    // pattern — the commit must be METADATA-ONLY (files leave the
    // manifest; nothing is read back or rewritten)
    val n = e.executeNonQuery(SqlStatement("DELETE FROM demo.t WHERE id <= 3"))
    assert(n == 3L)
    val after = dataFiles(e)
    assert(after.subsetOf(before), s"metadata delete wrote new files: ${after -- before}")
    assert((before -- after).nonEmpty)
    assert(e.query(SqlStatement("SELECT id FROM demo.t")).as[Long].collect().sorted.toSeq
      === Seq(11L, 12L, 21L, 22L))
    // history intact: the pre-delete snapshot still reads all 7 rows
    val snaps = e.catalog.snapshots("demo", "t")
    assert(e.catalog.readVersion("demo", "t", snaps(snaps.size - 2).snapshotId)
      .count() === 7L)
  }

  test("metadata delete: boundary files rewrite, interior files leave by manifest") {
    val e = threeFileEngine("dml-mdel-mixed")
    val before = dataFiles(e)
    // ids 1-3 fully covered (metadata drop); 11 covered but 12 survives
    // (that file rewrites); 21/22 untouched (bounds-pruned carry)
    val n = e.executeNonQuery(SqlStatement("DELETE FROM demo.t WHERE id <= 11"))
    assert(n == 4L)
    val after = dataFiles(e)
    assert((after -- before).size == 1,
      s"expected exactly one rewritten file, got ${after -- before}")
    assert(e.query(SqlStatement("SELECT id FROM demo.t")).as[Long].collect().sorted.toSeq
      === Seq(12L, 21L, 22L))
  }

  /** Overwrite a data file's bytes with garbage: any code path that OPENS
    * the file afterwards fails loudly on the broken parquet footer — the
    * deterministic way to prove the bounds tier never reads what it drops.
    */
  private def corrupt(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = f.create(p, true)
    out.write("not parquet".getBytes("UTF-8")); out.close()
  }

  test("metadata delete, bounds tier: covered files are dropped WITHOUT being opened") {
    val e = new GraftEngine(spark, tmpDir("dml-mdel-bounds"))
    e.executeNonQuery(SqlStatement("CREATE TABLE demo.t (id bigint, qty bigint)"))
    def ins(rows: (Long, Long)*): Set[String] = {
      e.catalog.insert("demo", "t", rows.toSeq.toDF("id", "qty").coalesce(1))
      dataFiles(e)
    }
    val f1 = ins((1L, 10L), (2L, 20L), (3L, 30L))
    val f2 = ins((11L, 10L), (12L, 20L)) -- f1
    ins((21L, 10L), (22L, 20L))
    // ids 1-3: bounds (max=3 < 4, zero nulls) PROVE totality — corrupting
    // the file first means any probe/rewrite of it would throw
    f1.foreach(corrupt)
    val n = e.executeNonQuery(SqlStatement("DELETE FROM demo.t WHERE id < 4"))
    assert(n == 3L)
    assert(e.query(SqlStatement("SELECT id FROM demo.t")).as[Long].collect().sorted.toSeq
      === Seq(11L, 12L, 21L, 22L))
    // mixed: ids 11 covered-but-not-totally in f2 (12 survives) — f2 is
    // probed and rewritten, so corruption must be detected THERE
    f2.foreach(corrupt)
    val ex = intercept[Exception] {
      e.executeNonQuery(SqlStatement("DELETE FROM demo.t WHERE id <= 11"))
    }
    assert(ex != null) // the boundary file IS read; garbage fails loudly
  }

  test("metadata delete: nested-field predicate sharing a leaf name never proves totality") {
    val e = new GraftEngine(spark, tmpDir("dml-mdel-nested"))
    import org.apache.spark.sql.functions.{col, struct}
    // top-level ts spans 1..3 — its bounds would falsely 'prove' any
    // `ts < 100` total; the nested meta.ts values are NOT all < 100, so
    // binding meta.ts by its last name part would metadata-drop a file
    // of live rows
    val df = Seq((1L, 50L), (2L, 150L), (3L, 150L)).toDF("ts", "mts")
      .select(col("ts"), struct(col("mts").as("ts")).as("meta")).coalesce(1)
    e.catalog.createTableAs("demo", "t", df)
    val n = e.executeNonQuery(SqlStatement("DELETE FROM demo.t WHERE meta.ts < 100"))
    assert(n == 1L)
    assert(e.query(SqlStatement("SELECT ts FROM demo.t")).as[Long].collect().sorted.toSeq
      === Seq(2L, 3L))
  }

  test("metadata delete on format_version=2: files leave by manifest, no positional deletes") {
    val e = new GraftEngine(spark, tmpDir("dml-mdel-v2"))
    e.executeNonQuery(SqlStatement(
      "CREATE TABLE demo.t (id bigint, qty bigint) WITH (format_version = 2)"))
    def ins(rows: (Long, Long)*): Unit =
      e.catalog.insert("demo", "t", rows.toSeq.toDF("id", "qty").coalesce(1))
    ins((1L, 10L), (2L, 20L), (3L, 30L))
    ins((11L, 10L), (12L, 20L))
    val before = dataFiles(e)
    // retention shape: the first file's whole range — on the MoR path this
    // must DROP the file rather than write O(rows) positional deletes
    val n = e.executeNonQuery(SqlStatement("DELETE FROM demo.t WHERE id < 10"))
    assert(n == 3L)
    val snap = e.catalog.snapshots("demo", "t").last
    assert(snap.deletes.isEmpty, s"v2 retention delete wrote positional deletes: ${snap.deletes}")
    val after = dataFiles(e)
    assert(after.subsetOf(before) && (before -- after).nonEmpty)
    // boundary shape: 11 matches, 12 survives — positional delete appears,
    // and its coords address ONLY the probed file
    val n2 = e.executeNonQuery(SqlStatement("DELETE FROM demo.t WHERE id <= 11"))
    assert(n2 == 1L)
    assert(e.catalog.snapshots("demo", "t").last.deletes.nonEmpty)
    assert(e.query(SqlStatement("SELECT id FROM demo.t")).as[Long].collect().sorted.toSeq
      === Seq(12L))
  }

  test("metadata delete: dropped files are reclaimed by expire, not leaked") {
    val e = threeFileEngine("dml-mdel-gc")
    val before = dataFiles(e)
    e.executeNonQuery(SqlStatement("DELETE FROM demo.t WHERE id <= 3"))
    val dropped = before -- dataFiles(e)
    assert(dropped.nonEmpty)
    val fsys = new org.apache.hadoop.fs.Path(dropped.head)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // still on disk: the pre-delete snapshot references it (time travel)
    assert(dropped.forall(p => fsys.exists(new org.apache.hadoop.fs.Path(p))))
    e.executeNonQuery(SqlStatement(
      "ALTER TABLE demo.t EXECUTE expire_snapshots(retention_threshold => '0s')"))
    e.executeNonQuery(SqlStatement("ALTER TABLE demo.t EXECUTE remove_orphan_files"))
    assert(dropped.forall(p => !fsys.exists(new org.apache.hadoop.fs.Path(p))),
      s"metadata-dropped files leaked after expire: $dropped")
    assert(e.query(SqlStatement("SELECT id FROM demo.t")).as[Long].collect().sorted.toSeq
      === Seq(11L, 12L, 21L, 22L))
  }

  test("metadata delete: DELETE without WHERE is a pure metadata truncate") {
    val e = threeFileEngine("dml-mdel-all")
    val before = dataFiles(e)
    val n = e.executeNonQuery(SqlStatement("DELETE FROM demo.t"))
    assert(n == 7L)
    val after = dataFiles(e)
    assert(after.isEmpty, s"whole-table DELETE left/wrote files: $after")
    assert(before.size == 3) // and dropped them all by manifest
    assert(e.query(SqlStatement("SELECT count(*) AS n FROM demo.t")).as[Long].head() == 0L)
    // the table still accepts appends afterwards
    e.executeNonQuery(SqlStatement("INSERT INTO demo.t VALUES (31, 1)"))
    assert(e.query(SqlStatement("SELECT id FROM demo.t")).as[Long].head() == 31L)
  }
}
