package graft.catalog

import graft.SparkSpec
import org.apache.spark.sql.types._

/** Optimistic-concurrency contract of the generation-versioned commit log
  * (the Nessie/Iceberg guarantee the reference stack carries — reference
  * tests/IntegrationTests/TrinoConfigurationProvider.cs:45-47): two writers
  * committing from the same observed generation race for the same
  * next-generation file; the loser gets a typed conflict and the log stays
  * consistent.
  */
class CommitConflictSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  test("stale-generation commit raises CommitConflictException; log intact") {
    val wh = tmpDir("graft-conflict-wh")
    val c1 = new SnapshotCatalog(spark, wh)
    val c2 = new SnapshotCatalog(spark, wh) // second writer, same warehouse
    c1.createSchema("s")
    c1.createTable("s", "t", schema)
    c1.insert("s", "t", Seq((1L, "a")).toDF("id", "v"))

    // both writers observe the same generation …
    val (commits1, gen1) = c1.readCommitsWithGen("s", "t")
    val (commits2, gen2) = c2.readCommitsWithGen("s", "t")
    assert(gen1 == gen2)

    // … writer 1 commits first; writer 2's commit from the stale
    // generation must fail with the typed conflict, not clobber
    // the winner carries the observed files; the loser would drop them
    c1.writeCommits("s", "t", commits1 :+ Snapshot(99L, Long.MaxValue - 1, None,
      Some("append"), Nil, commits1.last.manifestList), gen1)
    val conflict = intercept[CommitConflictException] {
      c2.writeCommits("s", "t", commits2 :+ Snapshot(98L, Long.MaxValue - 1, None,
        Some("append")), gen2)
    }
    assert(conflict.schema == "s" && conflict.table == "t")

    // the winner's commit is what any fresh reader sees
    val (after, afterGen) = c1.readCommitsWithGen("s", "t")
    assert(afterGen == gen1 + 1)
    assert(after.last.snapshotId == 99L)
    assert(c1.dataFilePaths("s", "t", after.last) == c1.dataFilePaths("s", "t", commits1.last))
    assert(c1.readLatest("s", "t").count() == 1L)
  }

  test("interleaved inserts through two catalog instances both land (fresh reads)") {
    val wh = tmpDir("graft-conflict-wh2")
    val c1 = new SnapshotCatalog(spark, wh)
    val c2 = new SnapshotCatalog(spark, wh)
    c1.createSchema("s")
    c1.createTable("s", "t", schema)
    c1.insert("s", "t", Seq((1L, "a")).toDF("id", "v"))
    c2.insert("s", "t", Seq((2L, "b")).toDF("id", "v")) // fresh read → next gen
    c1.insert("s", "t", Seq((3L, "c")).toDF("id", "v"))
    assert(c1.readLatest("s", "t").count() == 3L)
    assert(c2.snapshots("s", "t").map(_.snapshotId) == Seq(1L, 2L, 3L))
  }

  test("operation kind is recorded at commit time (append/overwrite/replace/rollback)") {
    val wh = tmpDir("graft-conflict-wh3")
    val c = new SnapshotCatalog(spark, wh)
    c.createSchema("s")
    c.createTable("s", "t", schema)
    c.insert("s", "t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    c.delete("s", "t", org.apache.spark.sql.functions.col("id") === 1L)
    c.compact("s", "t")
    c.rollbackToSnapshot("s", "t", 1L)
    val ops = c.snapshots("s", "t").map(_.operation.get)
    assert(ops == Seq("append", "overwrite", "replace", "rollback"))
    // $snapshots surfaces the recorded kinds — the rollback is NOT
    // misreported as the target snapshot's 'append' (round-5 advice)
    val meta = c.snapshotsMeta("s", "t").collect()
      .map(r => (r.getLong(1), r.getString(3))).toSeq
    assert(meta == Seq((1L, "append"), (2L, "overwrite"), (3L, "replace"), (4L, "rollback")))
  }

  test("parallel inserts through many threads: all land, ids and generations monotonic") {
    val wh = tmpDir("graft-conflict-par")
    val c = new SnapshotCatalog(spark, wh)
    c.createSchema("s")
    c.createTable("s", "t", schema)
    // 8 threads × 3 inserts each through ONE catalog (the engine's
    // executeBatch shape): synchronized commit section must serialize
    // them into 24 clean snapshots with no lost updates
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val fs = (1 to 8).map { th =>
      Future {
        (1 to 3).foreach { k =>
          c.insert("s", "t", Seq((th * 10L + k, s"v$th-$k")).toDF("id", "v"))
        }
      }
    }
    Await.result(Future.sequence(fs), Duration.Inf)
    val snaps = c.snapshots("s", "t")
    assert(snaps.map(_.snapshotId) == (1L to 24L))
    assert(snaps.map(_.committedAtMillis) == snaps.map(_.committedAtMillis).sorted)
    assert(c.readLatest("s", "t").count() == 24L)
    val (_, gen) = c.readCommitsWithGen("s", "t")
    assert(gen == 24L) // gen 0 at create + one per insert
  }

  test("a pre-versioning commits.json log refuses reads until optimize_manifests upgrades it; the next write versions it") {
    val (c, before) = LegacyFormatFixture.build(spark, tmpDir("graft-conflict-wh4"),
      partitioned = false, preVersioning = true)
    LegacyFormatFixture.checkUpgrade(spark, c, before)
    // the log lives in generation files; commits.json is the marker again
    val dir = new java.io.File(
      new org.apache.hadoop.fs.Path(c.schemaLocation("s"), "t").toUri.getPath)
    assert(dir.list().exists(_.matches("commits-\\d+\\.json")))
    assert(new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "commits.json").toPath), "UTF-8") == "[]")
  }

  test("cross-PROCESS race: loser JVM gets CommitConflictException; log stays at one generation") {
    val wh = tmpDir("graft-conflict-xproc")
    val sync = tmpDir("graft-conflict-sync")
    val c1 = new SnapshotCatalog(spark, wh)
    c1.createSchema("s")
    c1.createTable("s", "t", schema)
    c1.insert("s", "t", Seq((1L, "a")).toDF("id", "v"))
    val (_, gen0) = c1.readCommitsWithGen("s", "t")

    // second JVM: reads the current generation, signals, then waits for
    // `go` before committing — the parent wins the generation in between,
    // so the child's rename races a REAL separate process on the FS
    val jvmArgs = {
      val in = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      val it = in.iterator()
      while (it.hasNext) {
        val a = it.next()
        if (a == "--add-opens" && it.hasNext) { buf += a; buf += it.next() }
        else if (a.startsWith("--add-opens=")) buf += a
      }
      buf.toSeq
    }
    val cmd = Seq(sys.props("java.home") + "/bin/java") ++ jvmArgs ++
      Seq("-Xmx2g", "-cp", sys.props("java.class.path"),
        "graft.catalog.DevCommitRace", wh, sync)
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new StringBuilder
    val drainer = new Thread(() => {
      val src = scala.io.Source.fromInputStream(proc.getInputStream)
      try src.getLines().foreach(l => out.synchronized { out.append(l).append('\n') })
      finally src.close()
    })
    drainer.setDaemon(true)
    drainer.start()
    try {
      val readDone = new java.io.File(sync, "read.done")
      val deadline = System.currentTimeMillis() + 120000
      while (!readDone.exists() && proc.isAlive && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(readDone.exists(), s"child never completed its read:\n$out")
      // parent commits → the generation the child observed is now stale
      c1.insert("s", "t", Seq((2L, "parent-win")).toDF("id", "v"))
      new java.io.File(sync, "go").createNewFile()
      assert(proc.waitFor(120, java.util.concurrent.TimeUnit.SECONDS),
        s"child JVM did not exit:\n$out")
      assert(proc.exitValue == 42,
        s"child must LOSE with the typed conflict (exit=${proc.exitValue}):\n$out")
    } finally if (proc.isAlive) proc.destroyForcibly()
    // the log is at exactly one consistent winning generation
    val (after, afterGen) = c1.readCommitsWithGen("s", "t")
    assert(afterGen == gen0 + 1)
    assert(after.map(_.snapshotId) == Seq(1L, 2L))
    assert(c1.readLatest("s", "t").count() == 2L)
  }
}
