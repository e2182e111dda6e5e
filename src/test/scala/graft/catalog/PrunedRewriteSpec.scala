package graft.catalog

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** File-pruned copy-on-write DML (Trino Iceberg CoW semantics,
  * trino.io/docs/current/connector/iceberg.html): a DELETE/UPDATE/MERGE
  * rewrites ONLY the data files that contain matching rows; every other
  * file of the current snapshot is carried into the new snapshot by its
  * exact path — the property that makes a 1-row DELETE on a 100 TB table
  * a 1-file rewrite instead of a 100 TB rewrite.
  */
class PrunedRewriteSpec extends SparkSpec {
  import spark.implicits._

  private def freshCatalog(): SnapshotCatalog = {
    val c = new SnapshotCatalog(spark, tmpDir("graft-prune-wh"))
    c.createSchema("s")
    c
  }

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("grp", StringType),
    StructField("v", LongType)))

  /** Three inserts → three snap dirs, each with grp-disjoint rows. */
  private def seed(c: SnapshotCatalog, table: String,
                   partitioned: Boolean = false): Unit = {
    c.createTable("s", table, schema,
      partitionedBy = if (partitioned) Seq("grp") else Nil)
    Seq("a", "b", "c").zipWithIndex.foreach { case (g, i) =>
      c.insert("s", table,
        (1L to 4L).map(k => (i * 10L + k, g, k)).toDF("id", "grp", "v")
          .repartition(2)) // ≥2 files per snapshot
    }
  }

  test("keyed DELETE on a partitioned multi-file table reuses non-matching files' exact paths") {
    val c = freshCatalog()
    seed(c, "t_part", partitioned = true)
    val before = c.snapshots("s", "t_part").last
    val beforeFiles = c.filesMeta("s", "t_part")
      .select("file_path").as[String].collect().toSet
    assert(beforeFiles.size >= 3, s"need multi-file table, got $beforeFiles")

    // locate the ONE file that physically holds the row the DELETE matches
    val hitFile = c.readLatest("s", "t_part")
      .select(col("_metadata.file_path").as("f"), col("grp"), col("v"))
      .filter(col("grp") === "b" && col("v") === 2L)
      .select("f").as[String].collect().toSet
    assert(hitFile.size == 1)

    c.delete("s", "t_part", col("grp") === "b" && col("v") === 2L)

    val after = c.snapshots("s", "t_part").last
    assert(after.operation.contains("overwrite"))
    // EXACT pruning: every file except the one holding the matching row is
    // carried into the new snapshot at its original path — including the
    // sibling grp=b file without the row — and the hit file is rewritten
    val afterFiles = c.filesMeta("s", "t_part")
      .select("file_path").as[String].collect().toSet
    assert(beforeFiles.diff(afterFiles) == hitFile,
      s"only the file holding the matched row may be rewritten:\n" +
        s" rewritten=${beforeFiles.diff(afterFiles)}\n want=$hitFile")
    // the commit references the rewrite dir plus carried files — and
    // carries untouched MANIFESTS by name (zero metadata bytes rewritten
    // for them)
    val afterPaths = c.dataFilePaths("s", "t_part", after)
    assert(afterPaths.exists(_.contains("-rewrite")))
    assert(afterPaths.size > 1, s"expected carried entries, got $afterPaths")
    assert(c.manifestNames("s", "t_part", before)
      .intersect(c.manifestNames("s", "t_part", after)).nonEmpty,
      "untouched manifests must carry by NAME into the new snapshot")

    // correctness: exactly the matching row went away
    val got = c.readLatest("s", "t_part")
      .select($"id", $"grp", $"v").as[(Long, String, Long)].collect().toSet
    assert(got.size == 11 && !got.contains((12L, "b", 2L)))
    // time travel still sees the pre-delete state
    assert(c.readVersion("s", "t_part", before.snapshotId).count() == 12)
  }

  test("DELETE on an unpartitioned multi-file table rewrites only files containing matches") {
    val c = freshCatalog()
    seed(c, "t_flat")
    val beforeFiles = c.filesMeta("s", "t_flat")
      .select("file_path").as[String].collect().toSet
    c.delete("s", "t_flat", col("id") === 21L) // lives in snapshot 3 only
    val after = c.snapshots("s", "t_flat").last
    val afterFiles = c.filesMeta("s", "t_flat")
      .select("file_path").as[String].collect().toSet
    val carried = beforeFiles.intersect(afterFiles)
    assert(carried.nonEmpty, "files without id=21 must be carried by path")
    assert(beforeFiles.diff(afterFiles).size <= 2,
      s"only the file(s) holding id=21 may be rewritten; lost ${beforeFiles.diff(afterFiles)}")
    assert(c.dataFilePaths("s", "t_flat", after).exists(_.contains("-rewrite")))
    assert(c.readLatest("s", "t_flat").count() == 11)
  }

  test("no-match DELETE commits metadata-only (no rewrite dir, dirs unchanged)") {
    val c = freshCatalog()
    seed(c, "t_noop")
    val before = c.snapshots("s", "t_noop").last
    val (snap, n) = c.deleteCounted("s", "t_noop", col("id") === 999L)
    assert(n == 0L)
    assert(snap.manifestList == before.manifestList,
      "untouched table: the SAME manifest list carries verbatim (no new metadata)")
    assert(c.dataFilePaths("s", "t_noop", snap) == c.dataFilePaths("s", "t_noop", before))
    assert(!c.dataFilePaths("s", "t_noop", snap)
      .exists(_.contains(f"${snap.snapshotId}%05d-rewrite")))
    assert(c.readLatest("s", "t_noop").count() == 12)
  }

  test("UPDATE rewrites only touched files and reports the hit count") {
    val c = freshCatalog()
    seed(c, "t_upd", partitioned = true)
    val beforeFiles = c.filesMeta("s", "t_upd")
      .select("file_path").as[String].collect().toSet
    val (snap, n) = c.updateCounted("s", "t_upd",
      Seq("v" -> lit(100L)), col("grp") === "c")
    assert(n == 4L)
    val afterFiles = c.filesMeta("s", "t_upd")
      .select("file_path").as[String].collect().toSet
    assert(beforeFiles.filterNot(_.contains("grp=c")).subsetOf(afterFiles))
    assert(c.dataFilePaths("s", "t_upd", snap).size > 1)
    val vs = c.readLatest("s", "t_upd").filter($"grp" === "c")
      .select($"v").as[Long].collect().toSeq
    assert(vs == Seq.fill(4)(100L))
    assert(c.readLatest("s", "t_upd").filter($"grp" === "a" && $"v" === 100L).count() == 0)
  }

  test("keyed MERGE carries unmatched files and appends all update rows") {
    val c = freshCatalog()
    seed(c, "t_mrg")
    val beforeFiles = c.filesMeta("s", "t_mrg")
      .select("file_path").as[String].collect().toSet
    // one existing key updated, one new key inserted
    c.merge("s", "t_mrg",
      Seq((1L, "a", 777L), (99L, "z", 1L)).toDF("id", "grp", "v"), "id")
    val afterFiles = c.filesMeta("s", "t_mrg")
      .select("file_path").as[String].collect().toSet
    assert(beforeFiles.intersect(afterFiles).nonEmpty,
      "files without merged keys must carry by path")
    val got = c.readLatest("s", "t_mrg")
    assert(got.count() == 13)
    assert(got.filter($"id" === 1L).select($"v").as[Long].head() == 777L)
    assert(got.filter($"id" === 99L).count() == 1)
  }

  test("all-new-keys MERGE still inserts (no touched files)") {
    val c = freshCatalog()
    seed(c, "t_mrg_new")
    val before = c.snapshots("s", "t_mrg_new").last
    c.merge("s", "t_mrg_new",
      Seq((100L, "q", 5L)).toDF("id", "grp", "v"), "id")
    val after = c.snapshots("s", "t_mrg_new").last
    assert(c.dataFilePaths("s", "t_mrg_new", before).toSet
      .subsetOf(c.dataFilePaths("s", "t_mrg_new", after).toSet),
      "all existing files carry whole")
    assert(c.manifestNames("s", "t_mrg_new", before).toSet
      .subsetOf(c.manifestNames("s", "t_mrg_new", after).toSet),
      "no touched files → every prior manifest carries by name")
    assert(c.readLatest("s", "t_mrg_new").count() == 13)
  }

  test("mergeInto prunes: only files with clause-hit rows rewrite; pass-through files carry") {
    val c = freshCatalog()
    seed(c, "t_mi", partitioned = true)
    val beforeFiles = c.filesMeta("s", "t_mi")
      .select("file_path").as[String].collect().toSet
    val src = Seq((11L, 999L), (500L, 1L)).toDF("sid", "sv")
    val (snap, n) = c.mergeInto("s", "t_mi", src, "t", "u",
      col("t.id") === col("u.sid"),
      whenMatched = Seq(MergeUpdateAction(None, Seq("v" -> col("u.sv")))),
      whenNotMatched = Seq(MergeInsertAction(None, Some(Seq("id", "grp", "v")),
        Seq(col("u.sid"), lit("new"), col("u.sv")))))
    assert(n == 2L) // one update + one insert
    val afterFiles = c.filesMeta("s", "t_mi")
      .select("file_path").as[String].collect().toSet
    // id=11 lives in grp=b files; grp=a and grp=c files carry by path
    assert(beforeFiles.filterNot(_.contains("grp=b")).subsetOf(afterFiles),
      "files without matched rows must carry by path")
    assert(c.dataFilePaths("s", "t_mi", snap).size > 1)
    val got = c.readLatest("s", "t_mi")
    assert(got.count() == 13)
    assert(got.filter($"id" === 11L).select($"v").as[Long].head() == 999L)
    assert(got.filter($"id" === 500L).select($"grp").as[String].head() == "new")
  }

  test("TRUNCATE is metadata-only: footer-sum count, no data files referenced, history intact") {
    val c = freshCatalog()
    seed(c, "t_trunc", partitioned = true)
    val before = c.snapshots("s", "t_trunc").last
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val (snap, n) = c.truncateCounted("s", "t_trunc")
    val jobsAfter = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(n == 12L, "count must equal the footer record-count sum")
    assert(c.dataFilePaths("s", "t_trunc", snap).isEmpty,
      "truncate commit references no data files")
    assert(c.dataFilePaths("s", "t_trunc", before).nonEmpty)
    assert(jobsAfter == jobsBefore,
      s"TRUNCATE must run no Spark job (metadata-only), ran ${jobsAfter - jobsBefore}")
    assert(c.readLatest("s", "t_trunc").count() == 0)
    assert(c.readLatest("s", "t_trunc").schema.fieldNames.toSeq == Seq("id", "grp", "v"))
    assert(c.readVersion("s", "t_trunc", before.snapshotId).count() == 12)
    // DML after TRUNCATE keeps working (provenance-free fallback)
    c.insert("s", "t_trunc", Seq((1L, "a", 1L)).toDF("id", "grp", "v"))
    c.delete("s", "t_trunc", col("id") === 1L)
    assert(c.readLatest("s", "t_trunc").count() == 0)
  }

  test("expireSnapshots is file-accurate: carried files survive their origin snapshot's expiry") {
    val c = freshCatalog()
    seed(c, "t_exp")
    c.delete("s", "t_exp", col("id") === 1L) // prunes: carries most files
    val cutoff = c.snapshots("s", "t_exp").last.committedAtMillis
    val expired = c.expireSnapshots("s", "t_exp", cutoff)
    assert(expired.size == 3, s"three insert snapshots expire, got $expired")
    // the carried files referenced only file-granularly must still read
    assert(c.readLatest("s", "t_exp").count() == 11)
    val files = c.filesMeta("s", "t_exp").select("file_path").as[String].collect()
    assert(files.forall(p => new java.io.File(new java.net.URI(p).getPath).exists()),
      "every referenced file must physically survive expiry")
  }

  test("removeOrphanFiles keeps snap dirs referenced only via carried file entries") {
    val c = freshCatalog()
    seed(c, "t_orph")
    c.delete("s", "t_orph", col("id") === 1L)
    val removed = c.removeOrphanFiles("s", "t_orph")
    assert(c.readLatest("s", "t_orph").count() == 11,
      s"orphan cleanup must not break reads (removed: $removed)")
  }
}
