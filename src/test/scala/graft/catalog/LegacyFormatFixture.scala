package graft.catalog

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.{GraftEngine, GraftQueryException}
import graft.params.SqlStatement
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.Assertions._

/** A table `s.t` in the pre-manifest on-disk format, and the contract of
  * its one-way upgrade by `ALTER TABLE … EXECUTE optimize_manifests`.
  * The fixture is written as raw log JSON, since a [[Snapshot]] cannot
  * express a snapshot that lists data `dirs`.
  */
object LegacyFormatFixture {
  private val mapper = new ObjectMapper

  /** What readers see of `s.t`: the rows of each of the first main
    * versions, their `$snapshots` rows, `$files`, branch `b`, tag `v2`
    * and catalog tag `ct`.
    */
  final case class View(versions: Seq[Seq[String]], snapshots: Seq[String],
                        files: Seq[String], branch: Seq[String], tag: Seq[String],
                        catalogTag: Seq[String])

  private def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString).sorted

  /** [[View]] of the first `n` main snapshots. */
  def view(c: SnapshotCatalog, n: Int): View =
    View(c.snapshots("s", "t").take(n).map(s => rows(c.readVersion("s", "t", s.snapshotId))),
      c.snapshotsMeta("s", "t").collect().toSeq.take(n).map(_.toString),
      rows(c.filesMeta("s", "t")),
      rows(c.branch("b").readLatest("s", "t")),
      rows(c.readRef("s", "t", "v2")),
      rows(c.readRef("s", "t", "ct")))

  /** Builds `s.t` with three inserts, a compaction, branch `b` (forked
    * at snapshot 3, plus one branch-only insert), tag `v2` (snapshot 2)
    * and catalog tag `ct` (snapshot 3); captures its [[View]]; then
    * rewrites its metadata as a pre-manifest writer left it. Every
    * snapshot lists the snap dirs of its data files as `dirs` and has no
    * manifest list, and `_manifests/` is gone. The compaction has no
    * `operation`. The main log is an array held in a generation file, or
    * with `preVersioning` in `commits.json` alone; the branch log is the
    * object form with a schema table; the tags pin their snapshot inline.
    */
  def build(spark: SparkSession, warehouse: String, partitioned: Boolean,
            preVersioning: Boolean): (SnapshotCatalog, View) = {
    import spark.implicits._
    val c = new SnapshotCatalog(spark, warehouse)
    c.createSchema("s")
    c.createTable("s", "t",
      StructType(Seq(StructField("id", LongType), StructField("grp", StringType))),
      partitionedBy = if (partitioned) Seq("grp") else Nil)
    Seq("a", "b", "c").zipWithIndex.foreach { case (g, i) =>
      c.insert("s", "t", (1L to 4L).map(k => (i * 10L + k, g)).toDF("id", "grp"))
    }
    c.createBranch("s", "t", "b")
    c.createCatalogTag("ct", Seq(("s", "t")))
    c.branch("b").insert("s", "t", Seq((99L, "z")).toDF("id", "grp"))
    c.compact("s", "t")
    c.createTag("s", "t", "v2", Some(2L))
    val main = c.snapshots("s", "t")
    val before = view(c, main.size)

    val dir = new Path(c.schemaLocation("s"), "t")
    val f = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def node(s: Snapshot, schemaIds: Map[String, Int]): ObjectNode = {
      val o = mapper.createObjectNode()
      o.put("snapshotId", s.snapshotId)
      o.put("committedAtMillis", s.committedAtMillis)
      val d = o.putArray("dirs")
      c.dataFilePaths("s", "t", s).map(_.split('/').head).distinct.sorted.foreach(d.add)
      s.schemaJson.foreach(j => schemaIds.get(j) match {
        case Some(id) => o.put("schemaId", id)
        case None     => o.put("schemaJson", j)
      })
      s.operation.filterNot(_ == "replace").foreach(o.put("operation", _))
      o
    }
    val mainLog = mapper.createArrayNode()
    main.foreach(s => mainLog.add(node(s, Map.empty)))
    val branchSnaps = c.branch("b").snapshots("s", "t")
    val schemaIds = branchSnaps.flatMap(_.schemaJson).distinct.zipWithIndex.toMap
    val branchLog = mapper.createObjectNode()
    val schemas = branchLog.putObject("schemas")
    schemaIds.foreach { case (j, id) => schemas.put(id.toString, j) }
    val bs = branchLog.putArray("snapshots")
    branchSnaps.foreach(s => bs.add(node(s, schemaIds)))
    val tags = mapper.createObjectNode()
    c.listTags("s", "t").foreach { case (n, s) => tags.set[ObjectNode](n, node(s, Map.empty)) }
    val catalogTagFile = new Path(c.warehouse, "_catalog_tags/ct.json")
    val catalogTag = mapper.readTree(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(catalogTagFile.toUri.getPath)), "UTF-8"))
    catalogTag.get("members").get(0).asInstanceOf[ObjectNode]
      .set[ObjectNode]("snapshot", node(main(2), Map.empty))

    def logs(re: String) = f.listStatus(dir).map(_.getPath).filter(_.getName.matches(re))
    val mainGen = logs("""commits-\d+\.json""").map(_.getName).max
    val branchGen = logs("""branch-b-\d+\.json""").map(_.getName).max
    (logs("""(commits|branch-b)-\d+\.json""") ++
      Seq(new Path(dir, "_manifests"), new Path(dir, "_log_segments")))
      .foreach(f.delete(_, true))
    def write(p: Path, json: String): Unit = java.nio.file.Files.write(
      java.nio.file.Paths.get(p.toUri.getPath), json.getBytes("UTF-8"))
    write(new Path(dir, if (preVersioning) "commits.json" else mainGen), mainLog.toString)
    write(new Path(dir, branchGen), branchLog.toString)
    write(new Path(dir, "_tags.json"), tags.toString)
    write(catalogTagFile, catalogTag.toString)
    (c, before)
  }

  /** The upgrade contract on a [[build]] fixture: every read refuses
    * until `EXECUTE optimize_manifests` runs; then each captured read is
    * back unchanged, a second run only adds its own manifest rewrite, the
    * next INSERT commits at the next generation, and branch `b` still
    * shares main's first three snapshots.
    */
  def checkUpgrade(spark: SparkSession, c: SnapshotCatalog, before: View): Unit = {
    import spark.implicits._
    val n = before.versions.size
    intercept[LegacyTableFormatException](c.readLatest("s", "t"))
    intercept[LegacyTableFormatException](c.branch("b").readLatest("s", "t"))
    intercept[LegacyTableFormatException](c.readRef("s", "t", "v2"))
    intercept[LegacyTableFormatException](c.readRef("s", "t", "ct"))
    val e = new GraftEngine(spark, c.warehouse)
    val err = intercept[GraftQueryException](
      e.query(SqlStatement("SELECT count(*) FROM s.t")).collect())
    assert(err.getMessage.contains("ALTER TABLE s.t EXECUTE optimize_manifests"), err.getMessage)
    e.executeNonQuery(SqlStatement("ALTER TABLE s.t EXECUTE optimize_manifests"))
    assert(view(c, n) == before)
    assert(c.snapshots("s", "t").size == n + 1) // the pass's own commit

    val main1 = c.snapshots("s", "t")
    val branch1 = c.branch("b").snapshots("s", "t")
    val tags1 = c.listTags("s", "t")
    assert(branch1.take(3) == main1.take(3))
    assert(tags1("v2") == main1(1))
    assert(c.catalogTagSnapshot("ct", "s", "t").contains(main1(2)))
    e.executeNonQuery(SqlStatement("ALTER TABLE s.t EXECUTE optimize_manifests"))
    assert(c.snapshots("s", "t").init == main1)
    assert(c.branch("b").snapshots("s", "t") == branch1)
    assert(c.listTags("s", "t") == tags1)
    // orphan removal after the upgrade keeps every live file
    c.removeOrphanFiles("s", "t")
    assert(view(c, n) == before)

    val (commits, gen) = c.readCommitsWithGen("s", "t")
    c.insert("s", "t", Seq((100L, "y")).toDF("id", "grp"))
    val (after, gen2) = c.readCommitsWithGen("s", "t")
    assert(gen2 == gen + 1)
    assert(after.last.snapshotId == commits.last.snapshotId + 1)
    assert(c.readLatest("s", "t").count() == c.readVersion("s", "t", main1(n - 1).snapshotId).count() + 1)
  }
}
