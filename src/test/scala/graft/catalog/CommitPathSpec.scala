package graft.catalog

import java.util.concurrent.atomic.AtomicInteger

import graft.{GraftEngine, SparkSpec}
import graft.params.SqlStatement
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftTestListeners

/** The INSERT commit path: rows affected come from the written files'
  * footers, so an INSERT runs its source once, in one Spark job; a
  * driver-resident source (a VALUES list) is written as one file per
  * partition value instead of one per core. The row-level verbs (DELETE,
  * UPDATE, MERGE) are pinned at their job and file counts under both
  * write modes, with the operation each commit records.
  */
class CommitPathSpec extends SparkSpec {

  private lazy val engine = {
    val e = new GraftEngine(spark, tmpDir("commit-path"))
    e.executeNonQuery(SqlStatement("CREATE TABLE demo.src (id bigint, v varchar)"))
    e.executeNonQuery(SqlStatement(
      "INSERT INTO demo.src VALUES " + (1 to 20).map(i => s"($i, 'v$i')").mkString(", ")))
    e
  }

  private def run(sql: String): Long = engine.executeNonQuery(SqlStatement(sql))

  /** Runs `body` and counts the Spark jobs it started. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"commit-path-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "commit path spec")
    try {
      val out = body
      GraftTestListeners.drain(sc)
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Data files of the table's latest snapshot (main or `branch`). */
  private def files(table: String, branch: Option[String] = None): Set[String] = {
    val cat = branch.fold(engine.catalog)(engine.catalog.branch)
    cat.snapshots("demo", table).lastOption
      .map(s => cat.dataFilePaths("demo", table, s).toSet).getOrElse(Set.empty)
  }

  private def values(n: Int): String =
    (1 to n).map(i => s"($i, 'r$i')").mkString(", ")

  test("a 50-row INSERT … VALUES returns 50 in one job and adds one data file") {
    run("CREATE TABLE demo.vals (id bigint, v varchar)")
    val before = files("vals")
    val (n, jobs) = jobsOf(run(s"INSERT INTO demo.vals VALUES ${values(50)}"))
    assert(n == 50L)
    assert(jobs == 1)
    assert((files("vals") -- before).size == 1)
    assert(engine.catalog.readLatest("demo", "vals").count() == 50L)
  }

  test("INSERT … SELECT from a catalog table returns the committed rows in one job") {
    run("CREATE TABLE demo.sel (id bigint, v varchar)")
    val (n, jobs) = jobsOf(run("INSERT INTO demo.sel SELECT id * 2, v FROM demo.src WHERE id > 5"))
    assert(n == 15L)
    assert(jobs == 1)
    assert(engine.catalog.readLatest("demo", "sel").count() == 15L)
  }

  test("CTAS returns its row count with no read-back job") {
    val (n, jobs) = jobsOf(run("CREATE TABLE demo.ctas AS SELECT id, v FROM demo.src WHERE id <= 7"))
    assert(n == 7L)
    assert(jobs == 1)
    assert(engine.catalog.readLatest("demo", "ctas").count() == 7L)
  }

  test("a VALUES insert into an identity-partitioned table writes one file per partition value") {
    run("CREATE TABLE demo.part (id bigint, p varchar) WITH (partitioning = ARRAY['p'])")
    val rows = (1 to 40).map(i => s"($i, 'p${i % 3}')").mkString(", ")
    val (n, jobs) = jobsOf(run(s"INSERT INTO demo.part VALUES $rows"))
    assert(n == 40L)
    assert(jobs == 1)
    val added = files("part")
    assert(added.size == 3)
    assert(added.map(_.split('/').find(_.startsWith("p=")).get) == Set("p=p0", "p=p1", "p=p2"))
  }

  test("INSERT … WHERE false returns 0 in one job") {
    run("CREATE TABLE demo.none (id bigint, v varchar)")
    val (n, jobs) = jobsOf(run("INSERT INTO demo.none SELECT id, v FROM demo.src WHERE false"))
    assert(n == 0L)
    assert(jobs == 1)
    assert(engine.catalog.readLatest("demo", "none").count() == 0L)
  }

  test("an INSERT into \"t@branch\" returns its count in one job and adds one file") {
    run("CREATE TABLE demo.br (id bigint, v varchar)")
    run("INSERT INTO demo.br VALUES (0, 'main')")
    run("CALL system.create_branch('demo', 'br', 'audit')")
    val before = files("br", Some("audit"))
    val (n, jobs) = jobsOf(run(s"""INSERT INTO demo."br@audit" VALUES ${values(12)}"""))
    assert(n == 12L)
    assert(jobs == 1)
    assert((files("br", Some("audit")) -- before).size == 1)
    assert(engine.catalog.readLatest("demo", "br").count() == 1L)
  }

  test("CREATE OR REPLACE TABLE … AS VALUES writes its 50 rows as one file") {
    run("CREATE TABLE demo.rep (id bigint, v varchar)")
    run(s"INSERT INTO demo.rep VALUES ${values(5)}")
    val n = run(s"CREATE OR REPLACE TABLE demo.rep AS SELECT * FROM (VALUES ${values(50)}) AS t(id, v)")
    assert(n == 50L)
    assert(files("rep").size == 1)
    assert(engine.catalog.readLatest("demo", "rep").count() == 50L)
  }

  /** `demo.<name>` holding one data file per id range; `v2` makes it
    * merge-on-read (`format_version = 2`).
    */
  private def rowTable(name: String, v2: Boolean, ranges: Range*): Unit = {
    run(s"CREATE TABLE demo.$name (id bigint, v varchar)" +
      (if (v2) " WITH (format_version = 2)" else ""))
    ranges.foreach(r => run(s"INSERT INTO demo.$name VALUES " +
      r.map(i => s"($i, 'r$i')").mkString(", ")))
  }

  /** Runs a row-level statement on `demo.<table>`: its rows affected, its
    * Spark jobs, the operation its commit records and the data files after.
    */
  private def rowLevel(table: String, sql: String): (Long, Int, Option[String], Int) = {
    val (n, jobs) = jobsOf(run(sql))
    (n, jobs, engine.catalog.snapshots("demo", table).last.operation, files(table).size)
  }

  private val merge = "USING demo.src s ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v"

  // job counts are ceilings, so a saved job shows as a lowered pin; the
  // rows, file counts and operations are exact
  test("copy-on-write DELETE, UPDATE and MERGE hold their job and file counts") {
    rowTable("cowdel", v2 = false, 1 to 50)
    val (n1, j1, op1, f1) = rowLevel("cowdel", "DELETE FROM demo.cowdel WHERE id = 3")
    assert((n1, op1, f1) == ((1L, Some("overwrite"), 1)))
    assert(j1 <= 3, s"$j1 jobs")
    // every row of the second file matches by its bounds: a metadata delete
    rowTable("cowdrop", v2 = false, 1 to 50, 51 to 100)
    val (n2, j2, op2, f2) = rowLevel("cowdrop", "DELETE FROM demo.cowdrop WHERE id > 50")
    assert((n2, op2, f2) == ((50L, Some("overwrite"), 1)))
    assert(j2 == 0, s"$j2 jobs")
    rowTable("cowupd", v2 = false, 1 to 50)
    val (n3, j3, op3, f3) = rowLevel("cowupd", "UPDATE demo.cowupd SET v = 'u' WHERE id = 3")
    assert((n3, op3, f3) == ((1L, Some("overwrite"), 1)))
    assert(j3 <= 3, s"$j3 jobs")
    rowTable("cowmrg", v2 = false, 1 to 50)
    val (n4, j4, op4, f4) = rowLevel("cowmrg", s"MERGE INTO demo.cowmrg t $merge")
    assert((n4, op4, f4) == ((20L, Some("overwrite"), 8)))
    assert(j4 <= 15, s"$j4 jobs")
    assert(engine.catalog.readLatest("demo", "cowmrg").count() == 50L)
  }

  test("merge-on-read DELETE, UPDATE and MERGE hold their job and file counts") {
    rowTable("mordel", v2 = true, 1 to 50)
    val (n1, j1, op1, f1) = rowLevel("mordel", "DELETE FROM demo.mordel WHERE id = 3")
    assert((n1, op1, f1) == ((1L, Some("delete"), 1)))
    assert(j1 <= 3, s"$j1 jobs")
    rowTable("morupd", v2 = true, 1 to 50)
    val (n2, j2, op2, f2) = rowLevel("morupd", "UPDATE demo.morupd SET v = 'u' WHERE id = 3")
    assert((n2, op2, f2) == ((1L, Some("overwrite"), 2)))
    assert(j2 <= 5, s"$j2 jobs")
    rowTable("mormrg", v2 = true, 1 to 50)
    val (n3, j3, op3, f3) = rowLevel("mormrg", s"MERGE INTO demo.mormrg t $merge")
    assert((n3, op3, f3) == ((20L, Some("overwrite"), 5)))
    assert(j3 <= 16, s"$j3 jobs")
    assert(engine.catalog.readLatest("demo", "mormrg").count() == 50L)
  }
}
