package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.catalog.{CommitConflictException, SnapshotCatalog}

/** Fuzz dialect 8 — streaming ⊕ maintenance soak: a `graft-table`
  * stream (skipChangeCommits on) drains a source table with
  * AvailableNow triggers while a concurrent maintenance thread runs
  * randomized `compact` / `expireSnapshots` / `removeOrphanFiles`
  * against the SAME table, racing real appends. Invariant: the sink
  * receives EVERY appended row exactly once — maintenance commits
  * (rewrites) must be dropped whole by skipChangeCommits, never
  * re-emitting rewritten rows, and expire/orphan-GC must never reclaim
  * a file an in-flight offset range still reads.
  *
  * Usage: runMain graft.DevFuzzStreamMaint [n] [seed]
  */
object DevFuzzStreamMaint {
  def main(args: Array[String]): Unit =
    HarnessSession.fuzzMain(args, n = 6, seed = 23L)(run)

  def run(spark: SparkSession, n: Int, seed: Long): Unit = {
    import spark.implicits._

    val rnd = new scala.util.Random(seed)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType)))

    (0 until n).foreach { i =>
      val wh = java.nio.file.Files.createTempDirectory(f"graft-smfuzz-$i%03d").toString
      val ckpt = java.nio.file.Files.createTempDirectory(f"graft-smfuzz-ckpt-$i%03d").toString
      val c = new SnapshotCatalog(spark, wh)
      c.createSchema("s")
      c.createTable("s", "src", schema)
      c.createTable("s", "dst", schema)
      var nextId = 0L
      val appended = scala.collection.mutable.Set.empty[Long]
      def appendBatch(): Unit = {
        val ids = (0 until (1 + rnd.nextInt(4))).map { _ => nextId += 1; nextId }
        c.insert("s", "src", ids.map(x => (x, x * 7)).toDF("id", "v"))
        appended ++= ids
      }
      appendBatch()

      def drain(): Unit = {
        val q = spark.readStream.format("graft-table")
          .option("warehouse", c.warehouse).option("schema", "s")
          .option("table", "src").option("skipChangeCommits", "true")
          .load()
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            if (!batch.isEmpty) c.insert("s", "dst", batch, Some("sm" -> batchId))
            ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination(120000)
      }

      // interleave: append / drain / maintenance in random order, with
      // the maintenance ops racing appends from a second thread in half
      // the rounds (retry-on-conflict like every real maintenance job)
      val rounds = 3 + rnd.nextInt(3)
      (0 until rounds).foreach { _ =>
        val concurrent = rnd.nextBoolean()
        val maint: Runnable = () => {
          (0 until 1 + rnd.nextInt(2)).foreach { _ =>
            def retry(f: => Unit): Unit = {
              var a = 0
              while (a < 5) {
                try { f; a = 5 }
                catch { case _: CommitConflictException => a += 1 }
              }
            }
            rnd.nextInt(3) match {
              case 0 => retry(c.compact("s", "src"))
              case 1 => retry {
                // expire with retention >= the stream's checkpoint lag —
                // the operating contract for streaming tables (expiring
                // the checkpointed offset's snapshot fails the stream
                // LOUD, Iceberg-parity: incremental reads from expired
                // snapshots are an error, never a silent gap)
                val snaps = c.snapshots("s", "src")
                if (snaps.size > 8)
                  c.expireSnapshots("s", "src",
                    snaps(snaps.size - 8).committedAtMillis)
              }
              case _ => c.removeOrphanFiles("s", "src")
            }
          }
        }
        if (concurrent) {
          val t = new Thread(maint)
          t.start()
          (0 until 1 + rnd.nextInt(3)).foreach(_ => appendBatch())
          t.join(60000)
        } else {
          maint.run()
          appendBatch()
        }
        drain()
      }
      drain() // final settle

      val got = c.readLatest("s", "dst").select("id").as[Long].collect().toSeq
      require(got.size == got.distinct.size,
        s"scenario $i: sink re-emitted ${got.size - got.distinct.size} row(s) " +
          "across maintenance commits")
      require(got.toSet == appended.toSet,
        s"scenario $i: sink mismatch — missing ${(appended -- got.toSet).size}, " +
          s"extra ${(got.toSet -- appended).size}")
      println(s"[smfuzz] scenario_$i: $rounds rounds, ${appended.size} rows, " +
        s"${c.snapshots("s", "src").size} src snapshots OK")
      CacheHygiene.sweep(spark)
      Seq(wh, ckpt).foreach(d =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
    }
    println(s"[smfuzz] $n/$n streaming+maintenance scenarios OK (seed=$seed)")
  }
}
