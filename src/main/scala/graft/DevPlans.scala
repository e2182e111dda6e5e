package graft

/** Dev-only plan dumper for the optimization rounds: writes
  * `.explain("formatted")` output for the named queries (or every
  * registry entry with `all`) to `<outDir>/<name>_<tag>.txt`, using the
  * same session config as [[Bench]] so the plans match what the bench
  * times. Warehouse demos execute their commit side-effects before the
  * returned frame is planned — that is the frame the bench drains, so
  * it is the right plan to audit.
  *
  * Usage: runMain graft.DevPlans <outDir> <tag> <sfDir> <names...|all>
  */
object DevPlans {
  def main(args: Array[String]): Unit = {
    val outDir = args(0); val tag = args(1); val sfDir = args(2)
    val names: Seq[String] =
      if (args(3) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args.drop(3).toSeq
    HarnessSession.run { spark =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      names.foreach { q =>
        try {
          val df = SparkEntry.queries(q)(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(outDir, s"${q}_$tag.txt"), plan)
          // quick audit line: Exchange count + join strategies in one glance
          val exchanges = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(plan).size
          val joins = "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)"
            .r.findAllIn(plan).toSeq.groupBy(identity).view.mapValues(_.size)
            .map { case (k, n) => s"$k×$n" }.mkString(" ")
          println(f"[plans] $q%-28s exchanges=$exchanges%-3d $joins")
        } catch { case e: Throwable =>
          println(s"[plans] $q FAILED: ${e.getMessage}")
        }
        CacheHygiene.sweep(spark)
      }
    }
  }
}
