package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.expr
import graft.catalog.{CommitConflictException, SnapshotCatalog}

/** Fuzz dialect 5 — CONCURRENT DML soak (round-6 verdict #8): 2-4 threads,
  * each with its OWN catalog instance over one shared warehouse, run
  * randomized INSERT/UPDATE/DELETE sequences with retry-on-conflict (the
  * optimistic-concurrency loop every real writer runs). Each successful
  * commit records its snapshot id; the DuckDB oracle replays the ops
  * SERIALLY in snapshot-id order — the committed winner order read back
  * from the generation log — as a CTE chain, so the final table state must
  * be hash-exact iff commits are atomic, isolated, and lost-update-free.
  *
  * Usage: runMain graft.DevFuzzDmlRace <sfDir> <outDir> [n] [seed]
  * (sfDir is unused — scenarios are self-contained VALUES data — but kept
  * for selfcheck.py harness symmetry.)
  */
object DevFuzzDmlRace {

  private sealed trait Op
  private final case class Ins(rows: Seq[(Long, Long, Long)]) extends Op
  private final case class Upd(m: Long, r: Long, add: Long) extends Op
  private final case class Del(m: Long, r: Long) extends Op

  def main(args: Array[String]): Unit =
    HarnessSession.oracleFuzzMain(args, n = 20, seed = 11L)(run)

  def run(spark: SparkSession, sfDir: String, outDir: String,
          n: Int, seed: Long): Unit = {
    import spark.implicits._
    new java.io.File(outDir).mkdirs()

    val results = (0 until n).map { i =>
      val rnd = new scala.util.Random(seed * 1000 + i)
      val name = f"race_$i%03d"
      val wh = s"$outDir/wh_$i"
      val partitioned = rnd.nextBoolean()
      val cat0 = new SnapshotCatalog(spark, wh)
      cat0.createSchema("fz")
      cat0.createTable("fz", "t", org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType))),
        partitionedBy = if (partitioned) Seq("p") else Nil)
      val init = (0L until 30L).map(k => (k, k % 3, rnd.nextInt(100).toLong))
      cat0.insert("fz", "t", init.toDF("k", "p", "v"))

      // pre-generate each thread's op sequence (deterministic; only the
      // COMMIT INTERLEAVING is up to the scheduler)
      val nThreads = rnd.nextInt(3) + 2
      val seqs: Seq[Seq[Op]] = (0 until nThreads).map { t =>
        (0 until rnd.nextInt(3) + 3).map { j =>
          rnd.nextInt(3) match {
            case 0 =>
              val base = 1000L * (t + 1) + 100L * j
              Ins((0 until 5).map(x =>
                (base + x, (base + x) % 3, rnd.nextInt(100).toLong)))
            case 1 => Upd(rnd.nextInt(4) + 2L, rnd.nextInt(2).toLong,
              rnd.nextInt(9) + 1L)
            case 2 => Del(rnd.nextInt(5) + 3L, rnd.nextInt(3).toLong)
          }
        }
      }

      // run the threads; every commit records (snapshotId, op) — the
      // generation log's winner order
      val done = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Op)]()
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val threads = seqs.zipWithIndex.map { case (ops, t) =>
        new Thread(() => {
          try {
            val c = new SnapshotCatalog(spark, wh)
            ops.foreach { op =>
              var attempts = 0
              var committed = false
              while (!committed) {
                try {
                  val snap = op match {
                    case Ins(rows) => c.insert("fz", "t", rows.toDF("k", "p", "v"))
                    case Upd(m, r, add) => c.updateCounted("fz", "t",
                      Seq("v" -> expr(s"v + $add")), expr(s"v % $m = $r"))._1
                    case Del(m, r) =>
                      c.deleteCounted("fz", "t", expr(s"k % $m = $r"))._1
                  }
                  done.add((snap.snapshotId, op))
                  committed = true
                } catch {
                  case _: CommitConflictException =>
                    attempts += 1
                    require(attempts < 100, s"retry livelock in $name thread $t")
                    Thread.sleep(java.util.concurrent.ThreadLocalRandom
                      .current().nextLong(5, 30))
                }
              }
            }
          } catch { case e: Throwable => failure.compareAndSet(null, e) }
        }, s"$name-writer-$t")
      }
      threads.foreach(_.start())
      threads.foreach(_.join(600000))
      if (failure.get() != null) throw failure.get()
      val totalOps = seqs.map(_.size).sum
      require(done.size == totalOps, s"$name: ${done.size}/$totalOps ops committed")

      // dump the final state
      cat0.readLatest("fz", "t").orderBy("k", "p", "v")
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      CacheHygiene.sweep(spark)

      // serial DuckDB replay in committed (snapshot-id) order
      import scala.jdk.CollectionConverters._
      val ordered = done.asScala.toSeq.sortBy(_._1)
      require(ordered.map(_._1) == (2L to (totalOps + 1L)),
        s"$name: snapshot ids not contiguous: ${ordered.map(_._1)}")
      val initRows = init.map { case (k, p, v) => s"($k, $p, $v)" }.mkString(", ")
      val ctes = Seq(s"st0(k, p, v) AS (SELECT * FROM (VALUES $initRows))") ++
        ordered.zipWithIndex.map { case ((_, op), j) =>
          val prev = s"st$j"
          val cur = s"st${j + 1}"
          op match {
            case Ins(rows) =>
              val vals = rows.map { case (k, p, v) => s"($k, $p, $v)" }.mkString(", ")
              s"$cur(k, p, v) AS (SELECT * FROM $prev UNION ALL SELECT * FROM (VALUES $vals))"
            case Upd(m, r, add) =>
              s"$cur(k, p, v) AS (SELECT k, p, CASE WHEN v % $m = $r THEN v + $add ELSE v END FROM $prev)"
            case Del(m, r) =>
              s"$cur(k, p, v) AS (SELECT k, p, v FROM $prev WHERE NOT (k % $m = $r))"
          }
        }
      val oracle = ctes.mkString("WITH ", ", ", " ") +
        s"SELECT CAST(k AS BIGINT) AS k, CAST(p AS BIGINT) AS p, CAST(v AS BIGINT) AS v " +
        s"FROM st${ordered.size} ORDER BY k, p, v"
      println(s"[fuzzrace] $name: $nThreads threads, $totalOps ops, " +
        s"partitioned=$partitioned OK")
      name -> oracle
    }
    Verify.writeOracleSql(outDir, results)
    println(s"[fuzzrace] $n concurrent-DML scenarios dumped to $outDir (seed=$seed)")
  }
}
