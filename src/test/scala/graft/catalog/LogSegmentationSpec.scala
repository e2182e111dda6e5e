package graft.catalog

import graft.SparkSpec
import org.apache.spark.sql.types._

/** Commit-log segmentation: the per-commit generation file must NOT
  * rewrite the whole cumulative snapshot list (O(total) bytes per
  * commit — a streaming table at one commit per micro-batch rewrites an
  * ever-growing JSON on every trigger). Past the tail threshold,
  * 64-snapshot prefixes freeze into immutable content-addressed files
  * under `_log_segments/` carried by NAME, mirroring the manifest-list
  * indirection.
  */
class LogSegmentationSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("v", StringType)))

  private def freshCatalog(name: String): SnapshotCatalog = {
    val c = new SnapshotCatalog(spark, tmpDir(name))
    c.createSchema("s")
    c
  }

  /** Drive `n` synthetic metadata commits through writeCommits (the real
    * commit path, no data I/O — this is a log-shape test).
    */
  private def commitN(c: SnapshotCatalog, t: String, n: Int): Unit = {
    val sj = Some(schema.json)
    var (commits, gen) = c.readCommitsWithGen("s", t)
    (1 to n).foreach { _ =>
      val id = commits.lastOption.map(_.snapshotId).getOrElse(0L) + 1
      commits = commits :+ Snapshot(id, id, Nil, sj, Some("append"), Nil, None)
      c.writeCommits("s", t, commits, gen)
      gen += 1
    }
  }

  private def genFile(c: SnapshotCatalog, t: String): java.io.File = {
    val dir = new java.io.File(
      new org.apache.hadoop.fs.Path(c.schemaLocation("s"), t).toUri.getPath)
    dir.listFiles().filter(_.getName.matches("commits-\\d+\\.json"))
      .maxBy(_.getName)
  }

  test("per-commit write bytes stay bounded at 10^3 commits (tail + segment names)") {
    val c = freshCatalog("logseg")
    c.createTable("s", "t", schema)
    commitN(c, "t", 200)
    val at200 = genFile(c, "t").length()
    commitN(c, "t", 800)
    val at1000 = genFile(c, "t").length()
    // the generation file carries ≤96 tail snapshots + one name per
    // frozen segment — 5× the commits must NOT cost ~5× the bytes
    assert(at1000 < at200 * 2,
      s"generation file grew $at200 -> $at1000 bytes over 200 -> 1000 commits")
    val json = scala.io.Source.fromFile(genFile(c, "t")).mkString
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    assert(root.get("segments").size() > 0, "expected frozen segments")
    assert(root.get("snapshots").size() <= 96, "tail must stay bounded")
    assert(c.snapshots("s", "t").size == 1000)
    assert(c.snapshots("s", "t").map(_.snapshotId) == (1L to 1000L))
  }

  test("cold parse: a fresh process (empty segment cache) reads the full log") {
    val c = freshCatalog("logseg-cold")
    c.createTable("s", "t", schema)
    commitN(c, "t", 150)
    SnapshotCatalog.logSegmentCache.clear()
    val c2 = new SnapshotCatalog(spark, c.warehouse)
    assert(c2.snapshots("s", "t").map(_.snapshotId) == (1L to 150L))
    assert(c2.snapshots("s", "t").head.schemaJson.contains(schema.json))
  }

  test("a list that no longer starts with the frozen prefix re-segments (expire shape)") {
    val c = freshCatalog("logseg-trim")
    c.createTable("s", "t", schema)
    commitN(c, "t", 150)
    val (commits, gen) = c.readCommitsWithGen("s", "t")
    // trim the front — what expireSnapshots produces
    c.writeCommits("s", "t", commits.drop(100), gen)
    assert(c.snapshots("s", "t").map(_.snapshotId) == (101L to 150L))
    // and the log keeps working incrementally afterwards
    commitN(c, "t", 60)
    assert(c.snapshots("s", "t").size == 110)
    assert(c.snapshots("s", "t").last.snapshotId == 210L)
  }

  test("orphaned segments (unreferenced by any surviving log file) are GC'd; live ones survive") {
    val c = freshCatalog("logseg-gc")
    c.createTable("s", "t", schema)
    commitN(c, "t", 150)
    val (commits, gen) = c.readCommitsWithGen("s", "t")
    c.writeCommits("s", "t", commits.takeRight(10), gen) // drops all frozen segments
    // push the old generations (which still referenced the segments)
    // past the 8-generation GC window
    commitN(c, "t", 10)
    val removed = c.removeOrphanFiles("s", "t")
    assert(removed.exists(_.startsWith("_log_segments/")),
      s"expected orphaned log segments in $removed")
    SnapshotCatalog.logSegmentCache.clear()
    assert(c.snapshots("s", "t").size == 20)
  }

  test("an unreadable surviving log aborts the segment sweep before anything is deleted") {
    val c = freshCatalog("logseg-torn")
    c.createTable("s", "t", schema)
    commitN(c, "t", 150)
    val (commits, gen) = c.readCommitsWithGen("s", "t")
    c.writeCommits("s", "t", commits.takeRight(10), gen) // head names no segment
    val head = genFile(c, "t")
    val segDir = new java.io.File(head.getParentFile, "_log_segments")
    val before = segDir.list().sorted.toSeq
    assert(before.nonEmpty)
    // tear the older generations that still name the segments: no read
    // opens them, only the sweep does
    val older = head.getParentFile.listFiles().filter { f =>
      f.getName.matches("commits-\\d+\\.json") && f != head &&
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").contains("\"segments\"")
    }
    assert(older.nonEmpty)
    // torn mid-JSON, then empty (which Jackson parses without an error)
    Seq((n: Int) => n / 2, (_: Int) => 0).foreach { keep =>
      older.foreach { f =>
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        java.nio.file.Files.write(f.toPath, bytes.take(keep(bytes.length)))
      }
      val ex = intercept[IllegalStateException](c.removeOrphanFiles("s", "t"))
      assert(older.exists(f => ex.getMessage.contains(f.getName)), ex.getMessage)
      assert(segDir.list().sorted.toSeq == before)
    }
    assert(c.snapshots("s", "t").map(_.snapshotId) == (141L to 150L))
  }

  test("segmentation composes with branches and real DML commits") {
    val c = freshCatalog("logseg-br")
    c.createTable("s", "t", schema)
    commitN(c, "t", 120) // freeze at least one segment on main
    c.insert("s", "t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    c.createBranch("s", "t", "audit")
    c.branch("audit").insert("s", "t", Seq((3L, "c")).toDF("id", "v"))
    assert(c.readRef("s", "t", "audit").count() == 3L)
    assert(c.readLatest("s", "t").count() == 2L)
    c.fastForward("s", "t", "audit")
    assert(c.readLatest("s", "t").count() == 3L)
    assert(c.snapshots("s", "t").size == 122)
  }
}
