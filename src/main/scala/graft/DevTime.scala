package graft
import org.apache.spark.sql.SparkSession

/** Dev-only per-query timer: runs the named queries against a sf dir with
  * the same session config + noop-sink drain as [[Bench]], printing
  * per-run wall times — the fast feedback loop for heavy-tail perf work.
  * Usage: runMain graft.DevTime <sfDir> <reps> <query names...>
  */
object DevTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val reps = args(1).toInt; val names = args.drop(2)
    HarnessSession.run(time(_, sfDir, reps, names))
  }

  private def time(spark: SparkSession, sfDir: String, reps: Int, names: Array[String]): Unit = {
    // dev-only A/B surface: GRAFT_EXTRA_CONF="k=v;k2=v2" applied on top
    sys.env.get("GRAFT_EXTRA_CONF").foreach(_.split(';').foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    })
    def drain(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    // warmup on the tiny SF so JIT noise doesn't pollute rep 1
    names.foreach { q =>
      try drain(SparkEntry.queries(q)(spark, "/root/testdata/sf0.001"))
      catch { case _: Throwable => () }
    }
    names.foreach { q =>
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        drain(SparkEntry.queries(q)(spark, sfDir))
        val t = (System.nanoTime() - t0) / 1e9
        CacheHygiene.sweep(spark)
        t
      }
      println(f"$q%-28s ${ts.map(t => f"$t%.2f").mkString(" ")}  min=${ts.min}%.2f")
    }
  }
}
