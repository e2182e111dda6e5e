package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only randomized fuzz for the WRITE-side Iceberg interop
  * ([[graft.catalog.SnapshotCatalog.exportIcebergTable]]): per scenario,
  * build a random NATIVE graft table — random partitioning (none /
  * identity string / identity date / month(date) / truncate over string
  * or long), random commit count, v2 scenarios draw row-level DELETEs
  * (positional) and keyed UPSERTs (equality deletes), plus occasional
  * rollbacks and tags — export it to a fresh Iceberg tree, register the
  * export back, and require every snapshot to read IDENTICALLY across
  * the round trip (the source table is its own model). Then commit 1-2
  * more times and re-export onto the SAME tree (the incremental
  * sync-out path): the previously-attached reader refreshes and must
  * match again, snapshot ids preserved end-to-end.
  * Usage: runMain graft.DevFuzzExport [n] [seed]
  */
object DevFuzzExport {
  def main(args: Array[String]): Unit =
    HarnessSession.fuzzMain(args, n = 8, seed = 42L)(run)

  def run(spark: SparkSession, n: Int, seed: Long): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)

    (0 until n).foreach { i =>
      val wh = java.nio.file.Files.createTempDirectory(f"graft-expfuzz-wh-$i%03d").toString
      val tree = new Path(java.nio.file.Files
        .createTempDirectory(f"graft-expfuzz-$i%03d").toString, "tree")
      val e = new GraftEngine(spark, wh)
      e.catalog.createSchema("src")
      val partChoices = Seq(
        Nil,
        Seq("v"),            // identity string (hive path values)
        Seq("d"),            // identity date
        Seq("month(d)"),     // time transform over date
        Seq("truncate(3, v)"),
        Seq("truncate(100, x)"))
      val part = partChoices(rnd.nextInt(partChoices.size))
      val v2 = rnd.nextBoolean()
      val partClause =
        if (part.isEmpty && !v2) ""
        else " WITH (" + (
          (if (part.nonEmpty)
            Seq("partitioning = ARRAY[" +
              part.map("'" + _ + "'").mkString(", ") + "]")
          else Nil) ++
          (if (v2) Seq("format_version = 2") else Nil)).mkString(", ") + ")"
      e.executeNonQuery(graft.params.SqlStatement(
        "CREATE TABLE src.t (id bigint, v varchar, d date, x bigint)" +
          partClause))
      var nextId = 0L
      def mkRows(k: Int) = (0 until k).map { _ =>
        nextId += 1
        (nextId,
          // occasional NULL partition values (identity null → the hive
          // default marker → a null Iceberg partition value)
          if (rnd.nextInt(8) == 0) null
          else s"k${rnd.nextInt(4)}",
          if (rnd.nextInt(8) == 0) null
          else java.sql.Date.valueOf(
            s"202${rnd.nextInt(2) + 3}-0${rnd.nextInt(9) + 1}-1${rnd.nextInt(9)}"),
          rnd.nextInt(500).toLong)
      }
      def randomLiveId(): Long = (rnd.nextInt(nextId.toInt.max(1)) + 1).toLong
      def commitSomething(): Unit = rnd.nextInt(6) match {
        case 0 | 1 | 2 =>
          e.catalog.insert("src", "t",
            mkRows(1 + rnd.nextInt(4)).toDF("id", "v", "d", "x"))
        case 3 if v2 && nextId > 0 =>
          // positional MoR delete of a random id
          e.executeNonQuery(graft.params.SqlStatement(
            s"DELETE FROM src.t WHERE id = ${randomLiveId()}"))
        case 4 if v2 && nextId > 0 =>
          // keyed upsert: an equality delete + re-insert
          val rows = mkRows(1 + rnd.nextInt(2))
            .map(r => r.copy(_1 = randomLiveId()))
          e.catalog.upsert("src", "t",
            rows.toDF("id", "v", "d", "x"), Seq("id"))
        case 5 if e.catalog.snapshots("src", "t").size > 1 =>
          val snaps = e.catalog.snapshots("src", "t")
          e.catalog.rollbackToSnapshot("src", "t",
            snaps(rnd.nextInt(snaps.size)).snapshotId)
        case _ =>
          e.catalog.insert("src", "t", mkRows(1).toDF("id", "v", "d", "x"))
      }
      e.catalog.insert("src", "t",
        mkRows(2 + rnd.nextInt(3)).toDF("id", "v", "d", "x"))
      (0 until rnd.nextInt(4)).foreach(_ => commitSomething())
      if (rnd.nextBoolean())
        e.catalog.createTag("src", "t", "pin",
          Some(e.catalog.snapshots("src", "t").head.snapshotId))

      def compare(tag: String): Unit = {
        val srcSnaps = e.catalog.snapshots("src", "t").map(_.snapshotId)
        require(e.catalog.snapshots("lake", "back").map(_.snapshotId)
            == srcSnaps,
          s"scenario_$i $tag: snapshot ids diverged")
        srcSnaps.foreach { id =>
          val a = e.query(graft.params.SqlStatement(
            s"SELECT id, v, CAST(d AS STRING) AS d, x FROM src.t FOR VERSION AS OF $id"))
            .as[(Long, String, String, Long)].collect().toSet
          val b = e.query(graft.params.SqlStatement(
            s"SELECT id, v, CAST(d AS STRING) AS d, x FROM lake.back FOR VERSION AS OF $id"))
            .as[(Long, String, String, Long)].collect().toSet
          require(a == b, s"scenario_$i $tag: snapshot $id diverged " +
            s"(part=$part v2=$v2)\n  src=$a\n  back=$b")
        }
      }

      e.executeNonQuery(graft.params.SqlStatement(
        s"CALL system.export_iceberg_table('src', 't', '${tree.toUri}')"))
      e.catalog.createSchema("lake")
      e.executeNonQuery(graft.params.SqlStatement(
        s"CALL system.register_iceberg_table('lake', 'back', '${tree.toUri}')"))
      compare("full export")
      if (rnd.nextBoolean()) {
        val tags = e.catalog.listTags("lake", "back")
        require(tags.keySet == e.catalog.listTags("src", "t").keySet,
          s"scenario_$i: tag refs did not ride the export")
      }

      // the table moves on; incremental sync-out + reader refresh
      (0 until 1 + rnd.nextInt(2)).foreach(_ => commitSomething())
      e.executeNonQuery(graft.params.SqlStatement(
        s"CALL system.export_iceberg_table('src', 't', '${tree.toUri}')"))
      e.executeNonQuery(graft.params.SqlStatement(
        "CALL system.refresh_iceberg_table('lake', 'back')"))
      compare("incremental re-export")

      println(s"[expfuzz] scenario_$i: " +
        s"${e.catalog.snapshots("src", "t").size} snapshots OK " +
        s"(part=${if (part.isEmpty) "none" else part.mkString(",")}, v2=$v2)")
      CacheHygiene.sweep(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(tree.getParent.toString))
    }
    println(s"[expfuzz] $n/$n export round-trip scenarios OK (seed=$seed)")
  }
}
