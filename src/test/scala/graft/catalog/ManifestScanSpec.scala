package graft.catalog

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Manifest-driven scan planning (GraftScanBridge): reads of manifest
  * snapshots plan their file list from manifest entries — no storage
  * listing — and pushed-down predicates prune files at plan time against
  * manifest column bounds (Iceberg scan planning,
  * iceberg.apache.org/spec/#scan-planning). The reference stack gets
  * this from Trino's Iceberg connector
  * (tests/IntegrationTests/TrinoConfigurationProvider.cs:42).
  */
class ManifestScanSpec extends SparkSpec {
  import spark.implicits._

  private def freshCatalog(): SnapshotCatalog = {
    val c = new SnapshotCatalog(spark, tmpDir("graft-mscan-wh"))
    c.createSchema("s")
    c
  }

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("grp", StringType),
    StructField("v", LongType)))

  /** Three single-file inserts with DISJOINT id ranges: ids 1-4, 11-14,
    * 21-24 — bounds-separable by construction.
    */
  private def seed(c: SnapshotCatalog, table: String,
                   partitioned: Boolean = false): Unit = {
    c.createTable("s", table, schema,
      partitionedBy = if (partitioned) Seq("grp") else Nil)
    Seq("a", "b", "c").zipWithIndex.foreach { case (g, i) =>
      c.insert("s", table,
        (1L to 4L).map(k => (i * 10L + k, g, k)).toDF("id", "grp", "v")
          .coalesce(1))
    }
  }

  private def scanOf(df: DataFrame): FileSourceScanExec = {
    val scans = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.size == 1, s"expected one file scan, got ${scans.size}")
    scans.head
  }

  /** Runs `df` and returns the scan's post-pruning file count. */
  private def filesRead(df: DataFrame): Long = {
    df.collect()
    scanOf(df).metrics("numFiles").value
  }

  test("manifest snapshot reads plan through the manifest file index") {
    val c = freshCatalog()
    seed(c, "t0")
    val df = c.readLatest("s", "t0")
    assert(scanOf(df).relation.location.isInstanceOf[
      org.apache.spark.sql.GraftManifestFileIndex])
    assert(df.count() == 12)
  }

  test("data-filter bounds pruning: point predicate reads one file of three") {
    val c = freshCatalog()
    seed(c, "t1")
    val all = c.readLatest("s", "t1")
    assert(filesRead(all) == 3)
    val one = c.readLatest("s", "t1").filter(col("id") === 12L)
    assert(one.select("grp").as[String].collect().toSeq == Seq("b"))
    assert(filesRead(c.readLatest("s", "t1").filter(col("id") === 12L)) == 1)
    // range predicate spanning two files
    assert(filesRead(c.readLatest("s", "t1").filter(col("id") >= 11L)) == 2)
    // provably-empty predicate plans zero files
    assert(filesRead(c.readLatest("s", "t1").filter(col("id") > 100L)) == 0)
  }

  test("parallel plan-time pruning (past-threshold walk) keeps the same files") {
    // force the fork-join walk on a small fixture: survivors must be
    // IDENTICAL to the serial walk's, results included
    val saved = org.apache.spark.sql.GraftManifestFileIndex.distributedPruneThreshold
    try {
      org.apache.spark.sql.GraftManifestFileIndex.distributedPruneThreshold = 0
      val c = freshCatalog()
      seed(c, "tp")
      assert(filesRead(c.readLatest("s", "tp").filter(col("id") === 12L)) == 1)
      assert(filesRead(c.readLatest("s", "tp").filter(col("id") >= 11L)) == 2)
      assert(filesRead(c.readLatest("s", "tp").filter(col("id") > 100L)) == 0)
      assert(c.readLatest("s", "tp").filter(col("id") === 12L)
        .select("grp").as[String].collect().toSeq == Seq("b"))
    } finally
      org.apache.spark.sql.GraftManifestFileIndex.distributedPruneThreshold = saved
  }

  test("string bounds prune too") {
    val c = freshCatalog()
    seed(c, "t2")
    assert(filesRead(c.readLatest("s", "t2").filter(col("grp") === "c")) == 1)
  }

  test("identity partition filter prunes to the partition's files") {
    val c = freshCatalog()
    seed(c, "t3", partitioned = true)
    val df = c.readLatest("s", "t3").filter(col("grp") === "b")
    assert(df.select("id").as[Long].collect().sorted.toSeq == Seq(11L, 12L, 13L, 14L))
    assert(filesRead(c.readLatest("s", "t3").filter(col("grp") === "b")) == 1)
    // partition column values materialize correctly (they are NOT in the
    // data files — the index parses them from manifest entry paths)
    val full = c.readLatest("s", "t3")
    assert(full.groupBy("grp").count().as[(String, Long)].collect().toMap ==
      Map("a" -> 4L, "b" -> 4L, "c" -> 4L))
    assert(full.columns.toSeq == Seq("id", "grp", "v"))
  }

  test("reads stay correct through pruned CoW DML on the manifest path") {
    val c = freshCatalog()
    seed(c, "t4")
    c.update("s", "t4", Seq("v" -> lit(99L)), col("id") === 12L)
    c.delete("s", "t4", col("id") === 23L)
    val rows = c.readLatest("s", "t4").select("id", "v").as[(Long, Long)]
      .collect().toMap
    assert(rows(12L) == 99L)
    assert(!rows.contains(23L))
    assert(rows.size == 11)
    // post-DML snapshot still plans through the manifest index and prunes
    assert(filesRead(c.readLatest("s", "t4").filter(col("id") === 21L)) == 1)
  }

  test("time travel reads old manifest state with the same planning") {
    val c = freshCatalog()
    seed(c, "t5")
    val second = c.snapshots("s", "t5")(1)
    val df = c.readVersion("s", "t5", second.snapshotId)
    assert(df.count() == 8)
    assert(filesRead(c.readVersion("s", "t5", second.snapshotId)
      .filter(col("id") === 2L)) == 1)
  }

  test("a pre-manifest table refuses reads until optimize_manifests upgrades it, then reads back unchanged") {
    Seq(false, true).foreach { partitioned =>
      val (c, before) = LegacyFormatFixture.build(spark, tmpDir("graft-mscan-legacy"),
        partitioned, preVersioning = false)
      LegacyFormatFixture.checkUpgrade(spark, c, before)
    }
    // DROP TABLE needs no upgrade
    val (c, _) = LegacyFormatFixture.build(spark, tmpDir("graft-mscan-legacy-drop"),
      partitioned = false, preVersioning = true)
    new graft.GraftEngine(spark, c.warehouse)
      .executeNonQuery(graft.params.SqlStatement("DROP TABLE s.t"))
    assert(!c.tableExists("s", "t"))
  }

  test("merge-on-read delete files compose with the manifest scan") {
    val c = freshCatalog()
    c.createTable("s", "t6", schema, formatVersion = 2)
    Seq("a", "b").zipWithIndex.foreach { case (g, i) =>
      c.insert("s", "t6",
        (1L to 4L).map(k => (i * 10L + k, g, k)).toDF("id", "grp", "v").coalesce(1))
    }
    c.delete("s", "t6", col("id") === 12L) // v2 → positional delete file
    val rows = c.readLatest("s", "t6").select("id").as[Long].collect().sorted.toSeq
    assert(rows == Seq(1L, 2L, 3L, 4L, 11L, 13L, 14L))
  }

  test("transform projection: source equality prunes bucket dirs at scan time") {
    val c = freshCatalog()
    c.createTable("s", "tb", schema, partitionedBy = Seq("bucket(4, id)"))
    c.insert("s", "tb",
      (1L to 64L).map(k => (k, s"g${k % 3}", k)).toDF("id", "grp", "v"))
    val total = filesRead(c.readLatest("s", "tb"))
    assert(total >= 4, s"expected ≥4 bucket files, got $total")
    // equality on the SOURCE column keeps only the matching bucket's
    // files — min/max bounds can't see this (hash scatters the range)
    val pruned = filesRead(c.readLatest("s", "tb").filter(col("id") === 7L))
    assert(pruned * 4 <= total,
      s"expected ≤ total/4 files for one bucket, got $pruned of $total")
    assert(c.readLatest("s", "tb").filter(col("id") === 7L)
      .select("v").as[Long].collect().toSeq == Seq(7L))
  }

  test("transform projection: month equality prunes time partitions at scan time") {
    val c = freshCatalog()
    val tsSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("ts", TimestampType)))
    c.createTable("s", "tm", tsSchema, partitionedBy = Seq("month(ts)"))
    val rows = (1L to 12L).map(m => (m,
      java.sql.Timestamp.valueOf(f"2024-$m%02d-15 12:00:00")))
    c.insert("s", "tm", rows.toDF("id", "ts"))
    val total = filesRead(c.readLatest("s", "tm"))
    assert(total == 12)
    val pruned = filesRead(c.readLatest("s", "tm")
      .filter(col("ts") === java.sql.Timestamp.valueOf("2024-03-15 12:00:00")))
    assert(pruned == 1, s"expected 1 month partition file, got $pruned")
  }

  test("sizeInBytes comes from manifests so small snapshot tables auto-broadcast") {
    val c = freshCatalog()
    seed(c, "t7")
    val dim = c.readLatest("s", "t7")
    val fact = spark.range(1000).withColumnRenamed("id", "id")
    val joined = fact.join(dim, "id")
    val hasBroadcast = joined.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }.nonEmpty
    assert(hasBroadcast, "expected snapshot side to broadcast from manifest size stats")
  }
}
