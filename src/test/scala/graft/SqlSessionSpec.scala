package graft

import graft.params.SqlStatement

/** Session statements: PREPARE / EXECUTE…USING / DEALLOCATE PREPARE
  * (Trino's server-side prepared statements), SHOW STATS, and EXPLAIN
  * passing through the catalog rewrites.
  */
class SqlSessionSpec extends SparkSpec {
  import spark.implicits._

  private def freshEngine(name: String): GraftEngine = {
    val e = new GraftEngine(spark, tmpDir(name))
    e.executeNonQuery(SqlStatement("CREATE TABLE demo.t (id bigint, v varchar)"))
    e.executeNonQuery(SqlStatement(
      "INSERT INTO demo.t VALUES (1, 'a'), (2, 'b'), (3, NULL), (3, 'c')"))
    e
  }

  test("PREPARE / EXECUTE USING substitutes positional parameters outside literals") {
    val e = freshEngine("sess-prepare")
    e.executeNonQuery(SqlStatement(
      "PREPARE q1 FROM SELECT id, v FROM demo.t WHERE id >= ? AND v <> '?' ORDER BY id, v"))
    // the ? inside the string literal is NOT a parameter
    val rows = e.query(SqlStatement("EXECUTE q1 USING 2"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((2L, "b"), (3L, "c")))
    // re-execute with a different binding — same prepared text
    assert(e.query(SqlStatement("EXECUTE q1 USING 3")).count() == 1L)
    // expressions as arguments (Trino EXECUTE…USING takes expressions)
    assert(e.query(SqlStatement("EXECUTE q1 USING 1 + 1")).count() == 2L)
    // nor is one inside a quoted name or a comment
    e.executeNonQuery(SqlStatement(
      "PREPARE q2 FROM SELECT id AS \"x?\" FROM demo.t /* why? */ WHERE id = ?"))
    assert(e.query(SqlStatement("EXECUTE q2 USING 2")).as[Long].collect().toSeq == Seq(2L))
  }

  test("EXECUTE errors: unknown name, arity mismatch; DEALLOCATE removes") {
    val e = freshEngine("sess-errors")
    intercept[GraftQueryException] {
      e.query(SqlStatement("EXECUTE nope USING 1"))
    }
    e.executeNonQuery(SqlStatement("PREPARE q FROM SELECT * FROM demo.t WHERE id = ?"))
    intercept[GraftQueryException] { // too few args
      e.query(SqlStatement("EXECUTE q"))
    }
    intercept[GraftQueryException] { // too many args
      e.query(SqlStatement("EXECUTE q USING 1, 2"))
    }
    e.executeNonQuery(SqlStatement("DEALLOCATE PREPARE q"))
    intercept[GraftQueryException] {
      e.query(SqlStatement("EXECUTE q USING 1"))
    }
    intercept[GraftQueryException] { // double dealloc
      e.executeNonQuery(SqlStatement("DEALLOCATE PREPARE q"))
    }
  }

  test("prepared DML executes through executeNonQuery with affected counts") {
    val e = freshEngine("sess-dml")
    e.executeNonQuery(SqlStatement(
      "PREPARE del FROM DELETE FROM demo.t WHERE id = ?"))
    assert(e.executeNonQuery(SqlStatement("EXECUTE del USING 3")) == 2L)
    assert(e.query(SqlStatement("SELECT count(*) AS n FROM demo.t")).as[Long].head() == 2L)
  }

  test("SHOW STATS FOR t: per-column NDV/nulls/low/high plus the summary row") {
    val e = freshEngine("sess-stats")
    val stats = e.query(SqlStatement("SHOW STATS FOR demo.t")).collect()
    val byCol = stats.filter(!_.isNullAt(0)).map(r => r.getString(0) -> r).toMap
    assert(byCol.keySet == Set("id", "v"))
    val id = byCol("id")
    assert(id.getDouble(2) == 3.0) // NDV(id) = {1,2,3}
    assert(id.getDouble(3) == 0.0) // no NULL ids
    assert(id.getString(5) == "1" && id.getString(6) == "3") // low/high
    val v = byCol("v")
    assert(v.getDouble(3) == 0.25) // 1 of 4 values NULL
    assert(v.getString(5) == "a" && v.getString(6) == "c")
    val summary = stats.filter(_.isNullAt(0))
    assert(summary.length == 1)
    assert(summary.head.getDouble(4) == 4.0) // row_count
    assert(summary.head.getDouble(1) > 0.0)  // data_size from footers
  }

  test("SHOW STATS NDV error contract: approximate distinct within 5% rsd bounds") {
    // showStats computes NDV with approx_count_distinct (HLL++ at the
    // default 5% relative standard deviation). Pin the error envelope on a
    // fixture with a KNOWN exact NDV so a Spark upgrade can't silently
    // degrade the stats surface: 3 sigma = 15% is the hard bound.
    val e = new GraftEngine(spark, tmpDir("sess-stats-ndv"))
    e.executeNonQuery(SqlStatement("CREATE TABLE demo.big (k bigint, dup bigint)"))
    import spark.implicits._
    e.catalog.insert("demo", "big",
      (1L to 5000L).map(i => (i, i % 10)).toDF("k", "dup"))
    val stats = e.query(SqlStatement("SHOW STATS FOR demo.big")).collect()
    val byCol = stats.filter(!_.isNullAt(0)).map(r => r.getString(0) -> r).toMap
    val kNdv = byCol("k").getDouble(2)
    assert(math.abs(kNdv - 5000.0) / 5000.0 <= 0.15,
      s"NDV(k)=$kNdv drifted more than 15% from exact 5000")
    // low-cardinality columns are exact in HLL++'s dense range
    assert(byCol("dup").getDouble(2) == 10.0)
    // exact fields stay exact: row count, null fractions, low/high
    val summary = stats.filter(_.isNullAt(0)).head
    assert(summary.getDouble(4) == 5000.0)
    assert(byCol("k").getString(5) == "1" && byCol("k").getString(6) == "5000")
  }

  test("ANALYZE persists stats; SHOW STATS answers from metadata without scanning") {
    val e = freshEngine("sess-analyze")
    val n = e.executeNonQuery(SqlStatement("ANALYZE demo.t"))
    assert(n == 4L) // returns the analyzed row count
    // move every data file away: a metadata-served SHOW STATS must still
    // answer; a scanning one would fail on the missing files
    val wh = new org.apache.hadoop.fs.Path(e.warehouse)
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tableDir = fs.listStatus(new org.apache.hadoop.fs.Path(wh, "demo"))
      .map(_.getPath).find(_.getName == "t").get
    val hidden = new org.apache.hadoop.fs.Path(tmpDir("sess-analyze-hidden"), "stash")
    fs.mkdirs(hidden.getParent)
    val dataDirs = fs.listStatus(tableDir).map(_.getPath)
      .filter(p => fs.getFileStatus(p).isDirectory && !p.getName.startsWith("_"))
    dataDirs.foreach(p => fs.rename(p, new org.apache.hadoop.fs.Path(hidden, p.getName)))
    try {
      val stats = e.query(SqlStatement("SHOW STATS FOR demo.t")).collect()
      val byCol = stats.filter(!_.isNullAt(0)).map(r => r.getString(0) -> r).toMap
      assert(byCol("id").getDouble(2) == 3.0)
      assert(byCol("v").getDouble(3) == 0.25)
      assert(stats.filter(_.isNullAt(0)).head.getDouble(4) == 4.0)
    } finally dataDirs.foreach(p =>
      fs.rename(new org.apache.hadoop.fs.Path(hidden, p.getName), p))
  }

  test("drop_extended_stats discards persisted ANALYZE stats; SHOW STATS recomputes live") {
    val e = freshEngine("sess-dropstats")
    e.executeNonQuery(SqlStatement("ANALYZE demo.t"))
    assert(e.catalog.readTableStats("demo", "t").isDefined)
    e.executeNonQuery(SqlStatement(
      "ALTER TABLE demo.t EXECUTE drop_extended_stats"))
    assert(e.catalog.readTableStats("demo", "t").isEmpty,
      "persisted stats must be gone after drop_extended_stats")
    // SHOW STATS still answers — from a live scan now
    val stats = e.query(SqlStatement("SHOW STATS FOR demo.t")).collect()
    assert(stats.filter(_.isNullAt(0)).head.getDouble(4) == 4.0)
  }

  test("a commit staleness-invalidates persisted stats: SHOW STATS recomputes live") {
    val e = freshEngine("sess-analyze-stale")
    e.executeNonQuery(SqlStatement("ANALYZE demo.t"))
    e.executeNonQuery(SqlStatement("INSERT INTO demo.t VALUES (9, 'z')"))
    val stats = e.query(SqlStatement("SHOW STATS FOR demo.t")).collect()
    // live recompute reflects the new row — persisted stats are pinned to
    // the analyzed snapshot and the head moved past it
    assert(stats.filter(_.isNullAt(0)).head.getDouble(4) == 5.0)
    val byCol = stats.filter(!_.isNullAt(0)).map(r => r.getString(0) -> r).toMap
    assert(byCol("id").getString(6) == "9") // high value sees the insert
  }

  test("PREPARE of a session-control statement is rejected (no EXECUTE recursion)") {
    val e = freshEngine("sess-recursion")
    intercept[GraftQueryException] {
      e.executeNonQuery(SqlStatement("PREPARE a FROM EXECUTE a"))
    }
    intercept[GraftQueryException] {
      e.executeNonQuery(SqlStatement("PREPARE b FROM PREPARE c FROM SELECT 1"))
    }
    // plain statements still prepare fine
    assert(e.executeNonQuery(SqlStatement("PREPARE ok FROM SELECT * FROM demo.t")) == 0L)
  }

  test("SHOW CREATE TABLE round-trips COMMENT ON table/column state") {
    val e = freshEngine("sess-showcreate-comments")
    e.executeNonQuery(SqlStatement("COMMENT ON TABLE demo.t IS 'fact table'"))
    e.executeNonQuery(SqlStatement("COMMENT ON COLUMN demo.t.id IS 'pk, it''s unique'"))
    val ddl = e.query(SqlStatement("SHOW CREATE TABLE demo.t"))
      .collect()(0).getString(0)
    assert(ddl.contains("id bigint COMMENT 'pk, it''s unique'"), ddl)
    assert(ddl.contains("COMMENT 'fact table'"), ddl)
    // the emitted DDL parses straight back through the engine
    val e2 = new GraftEngine(spark, tmpDir("sess-showcreate-roundtrip"))
    e2.executeNonQuery(SqlStatement(ddl.replace("demo.t", "demo.t2")))
    assert(e2.catalog.tableExists("demo", "t2"))
  }

  test("COMMENT ON TABLE/COLUMN persists; DESCRIBE surfaces column comments") {
    val e = freshEngine("sess-comments")
    e.executeNonQuery(SqlStatement("COMMENT ON TABLE demo.t IS 'fact table'"))
    e.executeNonQuery(SqlStatement("COMMENT ON COLUMN demo.t.id IS 'pk, it''s unique'"))
    assert(e.catalog.comments("demo", "t") ==
      ((Some("fact table"), Map("id" -> "pk, it's unique"))))
    val desc = e.query(SqlStatement("DESCRIBE demo.t"))
      .collect().map(r => r.getString(0) -> r.getString(3)).toMap
    assert(desc("id") == "pk, it's unique" && desc("v") == null)
    // IS NULL clears; unknown column is the typed error
    e.executeNonQuery(SqlStatement("COMMENT ON COLUMN demo.t.id IS NULL"))
    assert(e.catalog.comments("demo", "t")._2.isEmpty)
    intercept[GraftQueryException] {
      e.executeNonQuery(SqlStatement("COMMENT ON COLUMN demo.t.nope IS 'x'"))
    }
    // comments survive the orphan-file sweep
    e.executeNonQuery(SqlStatement("ALTER TABLE demo.t EXECUTE remove_orphan_files"))
    assert(e.catalog.comments("demo", "t")._1.contains("fact table"))
  }

  test("SHOW SCHEMAS/TABLES LIKE filters with SQL wildcards, literally-quoted rest") {
    val e = freshEngine("sess-like")
    e.executeNonQuery(SqlStatement("CREATE TABLE demo.t_aux (x bigint)"))
    e.executeNonQuery(SqlStatement("CREATE SCHEMA other"))
    assert(e.query(SqlStatement("SHOW SCHEMAS LIKE 'de%'"))
      .as[String].collect().toSeq == Seq("demo"))
    assert(e.query(SqlStatement("SHOW TABLES FROM demo LIKE 't_au_'"))
      .as[String].collect().toSeq == Seq("t_aux"))
    assert(e.query(SqlStatement("SHOW TABLES FROM demo LIKE 'zzz%'")).count() == 0L)
  }

  test("EXPLAIN passes through the catalog rewrites and returns a plan") {
    val e = freshEngine("sess-explain")
    val plan = e.query(SqlStatement("EXPLAIN SELECT id FROM demo.t WHERE id = 2"))
      .as[String].head()
    assert(plan.contains("Physical Plan"))
  }
}
