package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Dev-only job profiler: runs a named registry query (warm, after one
  * untimed warmup run) and prints one line per Spark job — duration and
  * the short call site — plus the total. The fast way to see where a
  * multi-commit demo's wall-clock goes (which insert/refresh/collect)
  * without instrumenting the engine.
  *
  * Usage: runMain graft.DevProfile <sfDir> <name> [reps]
  */
object DevProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 1
    HarnessSession.run(profile(_, sfDir, name, reps))
  }

  private def profile(spark: SparkSession, sfDir: String, name: String, reps: Int): Unit = {
    def drain(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    // warmup (JIT + codegen cache)
    try drain(SparkEntry.queries(name)(spark, sfDir))
    catch { case e: Throwable => println(s"warmup failed: ${e.getMessage}") }
    CacheHygiene.sweep(spark)

    // optional in-process stack sampler (GRAFT_PROFILE_SAMPLER=1): samples
    // the main thread every ~7 ms and prints inclusive frame counts at the
    // end — attach-free replacement for jstack aggregation (§7.3)
    val samplerOn = sys.env.contains("GRAFT_PROFILE_SAMPLER")
    val mainThread = Thread.currentThread()
    val incl = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val self = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val stacks = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var sampleCount = 0
    if (samplerOn) {
      // GRAFT_PROFILE_EXEC=1 samples executor task threads instead of main
      val execMode = sys.env.contains("GRAFT_PROFILE_EXEC")
      val t = new Thread(() => {
        while (true) {
          val targets: Seq[Array[StackTraceElement]] =
            if (!execMode) Seq(mainThread.getStackTrace)
            else {
              import scala.jdk.CollectionConverters._
              Thread.getAllStackTraces.asScala.collect {
                case (th, st) if th.getName.startsWith("Executor task launch")
                  && st.nonEmpty => st
              }.toSeq
            }
          targets.foreach { st =>
            if (st.nonEmpty) {
              sampleCount += 1
              val frames = st.iterator.take(48)
                .map(e => e.getClassName + "." + e.getMethodName).toSeq
              frames.headOption.foreach(f => self.merge(f, 1, _ + _))
              frames.distinct.foreach(f => incl.merge(f, 1, _ + _))
              // full-stack counting for leaves matching GRAFT_PROFILE_MATCH
              sys.env.get("GRAFT_PROFILE_MATCH").foreach { pat =>
                if (frames.exists(_.contains(pat)))
                  stacks.merge(frames.mkString(" <- "), 1, _ + _)
              }
            }
          }
          Thread.sleep(7)
        }
      })
      t.setDaemon(true); t.start()
    }

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
        jobs.put(e.jobId, (System.nanoTime(), site))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.remove(e.jobId)).foreach { case (t0, site) =>
          done.add((e.jobId, (System.nanoTime() - t0) / 1e9, site))
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    (1 to reps).foreach { r =>
      done.clear()
      val t0 = System.nanoTime()
      drain(SparkEntry.queries(name)(spark, sfDir))
      val total = (System.nanoTime() - t0) / 1e9
      // listener bus is async; give it a moment to drain
      Thread.sleep(300)
      val rows = done.toArray(Array.empty[(Int, Double, String)]).sortBy(_._1)
      println(f"== $name rep $r: total $total%.3f s, ${rows.length} jobs ==")
      rows.foreach { case (id, t, site) => println(f"  job $id%4d  $t%7.3f s  $site") }
      val bySite = rows.groupBy(_._3).view
        .mapValues(g => (g.length, g.map(_._2).sum)).toSeq.sortBy(-_._2._2)
      println("  -- by call site --")
      bySite.foreach { case (site, (n, t)) => println(f"  $t%7.3f s  n=$n%-3d $site") }
      val jobSum = rows.map(_._2).sum
      println(f"  jobs sum $jobSum%.3f s; driver/planning gap ${total - jobSum}%.3f s")
      CacheHygiene.sweep(spark)
    }
    if (samplerOn) {
      import scala.jdk.CollectionConverters._
      println(s"== sampler: $sampleCount samples ==")
      println("-- self (top frame) --")
      self.asScala.toSeq.sortBy(-_._2).take(20).foreach {
        case (f, n) => println(f"  $n%5d  $f")
      }
      println("-- inclusive --")
      incl.asScala.toSeq.sortBy(-_._2).take(45).foreach {
        case (f, n) => println(f"  $n%5d  $f")
      }
      if (!stacks.isEmpty) {
        println("-- matched stacks --")
        stacks.asScala.toSeq.sortBy(-_._2).take(10).foreach {
          case (s, n) => println(f"  n=$n%d\n    " +
            s.split(" <- ").take(26).mkString("\n    "))
        }
      }
    }
  }
}
