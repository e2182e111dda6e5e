package graft.catalog

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Branches and tags — Nessie-style named refs over the snapshot log
  * (the reference's catalog IS Nessie: docker-compose.yml:36). A branch
  * is a catalog VIEW with its own generation-versioned commit log; data
  * files, manifests, and the declared schema stay shared. Writes through
  * the view advance only that ref (per-ref optimistic concurrency);
  * `main` catches up via fast-forward; tags pin a snapshot entry
  * immutably; expiry and orphan cleanup respect every ref's references.
  */
class BranchTagSpec extends SparkSpec {
  import spark.implicits._

  private def freshCatalog(): SnapshotCatalog = {
    val c = new SnapshotCatalog(spark, tmpDir("graft-ref-wh"))
    c.createSchema("s")
    c
  }

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def seed(c: SnapshotCatalog, table: String): Unit = {
    c.createTable("s", table, schema)
    c.insert("s", table, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    c.insert("s", table, Seq((3L, "c")).toDF("id", "v"))
  }

  test("branch-isolated writes: branch advances, main does not; crossing reads") {
    val c = freshCatalog()
    seed(c, "t")
    c.createBranch("s", "t", "dev")
    val dev = c.branch("dev")
    // write THROUGH the branch: insert + delete
    dev.insert("s", "t", Seq((4L, "d")).toDF("id", "v"))
    dev.delete("s", "t", col("id") === 1L)
    // branch sees its own state
    assert(dev.readLatest("s", "t").select("id").as[Long].collect().toSet ===
      Set(2L, 3L, 4L))
    // main is untouched
    assert(c.readLatest("s", "t").select("id").as[Long].collect().toSet ===
      Set(1L, 2L, 3L))
    // ref read resolves the branch head
    assert(c.readRef("s", "t", "dev").count() === 3)
    assert(c.readRef("s", "t", "main").count() === 3)
    assert(c.listBranches("s", "t") === Seq("dev"))
  }

  test("fast-forward main to a branch; diverged main refuses") {
    val c = freshCatalog()
    seed(c, "t")
    c.createBranch("s", "t", "dev")
    c.branch("dev").insert("s", "t", Seq((9L, "z")).toDF("id", "v"))
    c.fastForward("s", "t", "dev")
    assert(c.readLatest("s", "t").count() === 4)
    // main advances independently → next fast-forward must refuse
    c.createBranch("s", "t", "dev2")
    c.branch("dev2").insert("s", "t", Seq((10L, "y")).toDF("id", "v"))
    c.insert("s", "t", Seq((11L, "x")).toDF("id", "v")) // main diverges
    val e = intercept[IllegalArgumentException](c.fastForward("s", "t", "dev2"))
    assert(e.getMessage.contains("diverged"))
    assert(c.readLatest("s", "t").count() === 5)
  }

  test("branch from a historical snapshot; per-ref optimistic concurrency") {
    val c = freshCatalog()
    seed(c, "t")
    val first = c.snapshots("s", "t").head.snapshotId
    c.createBranch("s", "t", "old", Some(first))
    assert(c.branch("old").readLatest("s", "t").count() === 2)
    // two writers on the SAME branch race: one wins, one gets the typed
    // conflict (same contract as main)
    val b1 = c.branch("old")
    val b2 = c.branch("old")
    val (commits1, gen1) = b1.readCommitsWithGen("s", "t")
    b1.insert("s", "t", Seq((7L, "g")).toDF("id", "v"))
    intercept[CommitConflictException] {
      b2.writeCommits("s", "t", commits1 :+ Snapshot(99L, Long.MaxValue - 1,
        None, Some("append")), gen1)
    }
    // a branch commit never conflicts with a main commit (separate refs)
    c.insert("s", "t", Seq((8L, "h")).toDF("id", "v"))
    assert(c.branch("old").readLatest("s", "t").count() === 3)
    assert(c.readLatest("s", "t").count() === 4)
  }

  test("tags pin a snapshot immutably; reads survive main DML and expiry") {
    val c = freshCatalog()
    seed(c, "t")
    val s1 = c.snapshots("s", "t").head.snapshotId
    c.createTag("s", "t", "v1", Some(s1))
    c.createTag("s", "t", "latest")
    assert(c.listTags("s", "t").keySet === Set("v1", "latest"))
    c.delete("s", "t", col("id") === 1L)
    assert(c.readRef("s", "t", "v1").count() === 2)
    assert(c.readRef("s", "t", "latest").count() === 3)
    // expiry keeps tag-referenced files even when their main-log
    // snapshots expire
    c.expireSnapshots("s", "t", c.snapshots("s", "t").last.committedAtMillis)
    assert(c.readRef("s", "t", "v1").select("id").as[Long].collect().toSet ===
      Set(1L, 2L))
    c.dropTag("s", "t", "v1")
    intercept[IllegalArgumentException](c.readRef("s", "t", "v1"))
  }

  test("expiry and orphan cleanup respect branch references") {
    val c = freshCatalog()
    seed(c, "t")
    c.createBranch("s", "t", "keepme")
    c.branch("keepme").insert("s", "t", Seq((50L, "k")).toDF("id", "v"))
    // main compacts + expires everything pre-compaction
    c.compact("s", "t")
    c.expireSnapshots("s", "t", c.snapshots("s", "t").last.committedAtMillis)
    c.removeOrphanFiles("s", "t")
    // the branch still reads every row, including its own append
    assert(c.branch("keepme").readLatest("s", "t")
      .select("id").as[Long].collect().toSet === Set(1L, 2L, 3L, 50L))
    assert(c.readLatest("s", "t").count() === 3)
    // dropping the branch turns its exclusive files into reclaimable
    // debris
    c.dropBranch("s", "t", "keepme")
    assert(c.listBranches("s", "t").isEmpty)
    c.removeOrphanFiles("s", "t")
    assert(c.readLatest("s", "t").count() === 3)
  }

  test("$refs and $manifests metadata tables surface the ref and manifest state") {
    val c = freshCatalog()
    seed(c, "t")
    c.createBranch("s", "t", "dev")
    c.branch("dev").insert("s", "t", Seq((4L, "d")).toDF("id", "v"))
    c.createTag("s", "t", "v1", Some(c.snapshots("s", "t").head.snapshotId))
    val refs = c.refsMeta("s", "t").as[(String, String, Long)].collect().toSeq
    assert(refs === Seq(("dev", "BRANCH", 3L), ("main", "BRANCH", 2L),
      ("v1", "TAG", 1L)))
    val manifests = c.manifestsMeta("s", "t")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(manifests.size === 2, manifests.toString) // one per insert
    assert(manifests.forall(_._1.startsWith("_manifests/m-")))
    assert(manifests.map(_._4).sum === 3L, "entry row counts sum to table rows")
    // SQL dispatch
    val e = new graft.GraftEngine(spark, c.warehouse)
    assert(e.query(graft.params.SqlStatement(
      "SELECT count(*) AS n FROM s.\"t$refs\"")).as[Long].head() === 3L)
    assert(e.query(graft.params.SqlStatement(
      "SELECT count(*) AS n FROM s.\"t$manifests\"")).as[Long].head() === 2L)
  }

  test("SQL surface: CALL create_branch/create_tag/fast_forward + FOR VERSION AS OF 'ref'") {
    val c = freshCatalog()
    val e = new graft.GraftEngine(spark, c.warehouse)
    e.executeNonQuery(graft.params.SqlStatement(
      "CREATE TABLE s.r (id bigint, v varchar)"))
    e.executeNonQuery(graft.params.SqlStatement(
      "INSERT INTO s.r VALUES (1, 'a'), (2, 'b')"))
    e.executeNonQuery(graft.params.SqlStatement(
      "CALL system.create_tag('s', 'r', 'v1')"))
    e.executeNonQuery(graft.params.SqlStatement(
      "CALL system.create_branch('s', 'r', 'dev')"))
    c.branch("dev").insert("s", "r", Seq((3L, "c")).toDF("id", "v"))
    // ref reads through SQL
    val branchRows = e.query(graft.params.SqlStatement(
      "SELECT count(*) AS n FROM s.r FOR VERSION AS OF 'dev'"))
      .as[Long].head()
    assert(branchRows === 3L)
    e.executeNonQuery(graft.params.SqlStatement(
      "INSERT INTO s.r VALUES (9, 'z')"))
    val tagRows = e.query(graft.params.SqlStatement(
      "SELECT count(*) AS n FROM s.r FOR VERSION AS OF 'v1'")).as[Long].head()
    assert(tagRows === 2L)
    // diverged → fast_forward surfaces the typed failure
    val ex = intercept[graft.GraftQueryException](e.executeNonQuery(
      graft.params.SqlStatement("CALL system.fast_forward('s', 'r', 'dev')")))
    assert(ex.getMessage.contains("diverged"))
    // unknown ref is an error, not an empty table
    intercept[graft.GraftQueryException](e.query(graft.params.SqlStatement(
      "SELECT * FROM s.r FOR VERSION AS OF 'nope'")).collect())
  }

  test("branch-scoped timestamp travel: FOR TIMESTAMP AS OF on a \"t@branch\" operand") {
    val c = freshCatalog()
    val e = new graft.GraftEngine(spark, c.warehouse)
    e.executeNonQuery(graft.params.SqlStatement(
      "CREATE TABLE s.bt (id bigint, v varchar)"))
    e.executeNonQuery(graft.params.SqlStatement(
      "INSERT INTO s.bt VALUES (1, 'a')"))
    c.createBranch("s", "bt", "fix")
    c.branch("fix").insert("s", "bt", Seq((2L, "b")).toDF("id", "v"))
    val mid = c.branch("fix").snapshots("s", "bt").last.committedAtMillis
    c.branch("fix").insert("s", "bt", Seq((3L, "c")).toDF("id", "v"))
    def tsLit(ms: Long): String =
      java.time.LocalDateTime.ofInstant(
        java.time.Instant.ofEpochMilli(ms), java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    // the audit read: "what did the branch hold before the last fix" —
    // resolved against the BRANCH history (main never saw snapshot 2)
    val n = e.query(graft.params.SqlStatement(
      s"""SELECT count(*) AS n FROM s."bt@fix" FOR TIMESTAMP AS OF TIMESTAMP '${tsLit(mid)}'"""))
      .as[Long].head()
    assert(n === 2L)
    // main-scoped travel at the same instant sees only main's history
    val nMain = e.query(graft.params.SqlStatement(
      s"SELECT count(*) AS n FROM s.bt FOR TIMESTAMP AS OF TIMESTAMP '${tsLit(mid)}'"))
      .as[Long].head()
    assert(nMain === 1L)
    // FOR VERSION AS OF <id> composes with the branch operand too
    assert(e.query(graft.params.SqlStatement(
      """SELECT count(*) AS n FROM s."bt@fix" FOR VERSION AS OF 3"""))
      .as[Long].head() === 3L)
    // unknown branch is the typed engine error
    intercept[graft.GraftQueryException](e.query(graft.params.SqlStatement(
      """SELECT * FROM s."bt@nope" FOR VERSION AS OF 1""")).collect())
  }

  test("merge: diverged append-only branch replays onto main; re-merge is a no-op") {
    val c = freshCatalog()
    seed(c, "m")
    c.createBranch("s", "m", "ingest")
    // branch appends twice; main advances with its own append AND a delete
    c.branch("ingest").insert("s", "m", Seq((10L, "x"), (11L, "y")).toDF("id", "v"))
    c.branch("ingest").insert("s", "m", Seq((12L, "z")).toDF("id", "v"))
    c.insert("s", "m", Seq((20L, "w")).toDF("id", "v"))
    c.delete("s", "m", col("id") === 1L)
    val merged = c.mergeBranch("s", "m", "ingest")
    assert(merged === 2L)
    // merged main = main's own state (delete applied) ∪ branch appends
    assert(c.readLatest("s", "m").select("id").as[Long].collect().toSet ===
      Set(2L, 3L, 10L, 11L, 12L, 20L))
    // merge is metadata-only: ONE new snapshot, operation append
    assert(c.snapshots("s", "m").last.operation === Some("append"))
    // branch was rebased onto the merged head → immediate re-merge no-ops
    assert(c.mergeBranch("s", "m", "ingest") === 0L)
    assert(c.readLatest("s", "m").count() === 6)
    // branch continues from the merged state
    assert(c.branch("ingest").readLatest("s", "m").count() === 6)
  }

  test("merge: main unmoved since base fast-forwards; branch DML + diverged main conflicts") {
    val c = freshCatalog()
    seed(c, "m2")
    c.createBranch("s", "m2", "dev")
    c.branch("dev").insert("s", "m2", Seq((10L, "x")).toDF("id", "v"))
    assert(c.mergeBranch("s", "m2", "dev") === 1L) // pure fast-forward
    assert(c.readLatest("s", "m2").count() === 4)
    // now diverge BOTH sides with branch-side DML → typed conflict
    c.branch("dev").delete("s", "m2", col("id") === 2L)
    c.insert("s", "m2", Seq((30L, "q")).toDF("id", "v"))
    val ex = intercept[MergeConflictException](c.mergeBranch("s", "m2", "dev"))
    assert(ex.branch === "dev")
    // main state untouched by the failed merge
    assert(c.readLatest("s", "m2").count() === 5)
  }

  test("merge through the SQL CALL surface returns merged commit count") {
    val c = freshCatalog()
    val e = new graft.GraftEngine(spark, c.warehouse)
    e.executeNonQuery(graft.params.SqlStatement(
      "CREATE TABLE s.msql (id BIGINT, v VARCHAR)"))
    e.executeNonQuery(graft.params.SqlStatement(
      "INSERT INTO s.msql VALUES (1, 'a'), (2, 'b')"))
    e.executeNonQuery(graft.params.SqlStatement(
      "CALL system.create_branch('s', 'msql', 'etl')"))
    c.branch("etl").insert("s", "msql", Seq((3L, "c")).toDF("id", "v"))
    e.executeNonQuery(graft.params.SqlStatement(
      "INSERT INTO s.msql VALUES (4, 'd')"))
    val n = e.executeNonQuery(graft.params.SqlStatement(
      "CALL system.merge_branch('s', 'msql', 'etl')"))
    assert(n === 1L)
    assert(c.readLatest("s", "msql").select("id").as[Long].collect().toSet ===
      Set(1L, 2L, 3L, 4L))
  }

  test("SQL branch write: INSERT INTO \"t@branch\" commits to the branch only") {
    val wh = tmpDir("branch-sql-insert")
    val e = new graft.GraftEngine(spark, wh)
    val c = e.catalog
    e.executeNonQuery(graft.params.SqlStatement(
      "CREATE TABLE demo.wap (id BIGINT, v VARCHAR)"))
    e.executeNonQuery(graft.params.SqlStatement(
      "INSERT INTO demo.wap VALUES (1, 'a')"))
    e.executeNonQuery(graft.params.SqlStatement(
      "CALL system.create_branch('demo', 'wap', 'audit')"))
    // write-audit-publish: VALUES and SELECT sources land on the branch
    assert(e.executeNonQuery(graft.params.SqlStatement(
      """INSERT INTO demo."wap@audit" VALUES (2, 'b'), (3, 'c')""")) == 2L)
    assert(e.executeNonQuery(graft.params.SqlStatement(
      """INSERT INTO demo."wap@audit" SELECT id + 10, v FROM demo.wap""")) == 1L)
    // main untouched; branch sees all four rows
    assert(c.readLatest("demo", "wap").count() == 1L)
    assert(e.query(graft.params.SqlStatement(
      "SELECT count(*) FROM demo.wap FOR VERSION AS OF 'audit'"))
      .collect().head.getLong(0) == 4L)
    // publish: fast-forward main onto the audited branch
    e.executeNonQuery(graft.params.SqlStatement(
      "CALL system.fast_forward('demo', 'wap', 'audit')"))
    assert(c.readLatest("demo", "wap").count() == 4L)
    // unknown branch is the typed engine error
    intercept[graft.GraftQueryException] {
      e.executeNonQuery(graft.params.SqlStatement(
        """INSERT INTO demo."wap@nope" VALUES (9, 'z')"""))
    }
  }

  test("SQL branch DML: UPDATE and DELETE on \"t@branch\" leave main untouched") {
    val wh = tmpDir("branch-sql-dml")
    val e = new graft.GraftEngine(spark, wh)
    val c = e.catalog
    e.executeNonQuery(graft.params.SqlStatement(
      "CREATE TABLE demo.bd (id BIGINT, v VARCHAR)"))
    e.executeNonQuery(graft.params.SqlStatement(
      "INSERT INTO demo.bd VALUES (1, 'a'), (2, 'b'), (3, 'c')"))
    e.executeNonQuery(graft.params.SqlStatement(
      "CALL system.create_branch('demo', 'bd', 'fix')"))
    assert(e.executeNonQuery(graft.params.SqlStatement(
      """UPDATE demo."bd@fix" SET v = upper(v) WHERE id <= 2""")) == 2L)
    assert(e.executeNonQuery(graft.params.SqlStatement(
      """DELETE FROM demo."bd@fix" WHERE id = 3""")) == 1L)
    // main: original three rows; branch: two uppercased
    assert(c.readLatest("demo", "bd").count() == 3L)
    val branchRows = e.query(graft.params.SqlStatement(
      "SELECT id, v FROM demo.bd FOR VERSION AS OF 'fix' ORDER BY id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(branchRows == Seq((1L, "A"), (2L, "B")))
    intercept[graft.GraftQueryException] {
      e.executeNonQuery(graft.params.SqlStatement(
        """DELETE FROM demo."bd@nope" WHERE id = 1"""))
    }
  }
}
