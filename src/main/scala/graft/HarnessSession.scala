package graft

import org.apache.spark.sql.SparkSession

/** The one session every harness main runs in — Verify, Bench, the
  * Dev* tools and the fuzz legs — so the oracle checks the configuration
  * the bench times. `SPARK_GRAFT_CPUS` (default 4) sets the local
  * parallelism and the shuffle partition count; [[LocalDirs.configure]]
  * adds the shuffle dirs and the fork-free local filesystem.
  */
object HarnessSession {
  def build(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val spark = LocalDirs.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // the generated-class cache defaults to 100 entries; a 167-query
      // sweep evicts everything between passes, so every re-timed query
      // recompiles all its codegen stages (~0.3-1 s of Janino per heavy
      // query). Size it to hold the whole sweep's classes.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `body` in a fresh harness session and stops the session after. */
  def run[T](body: SparkSession => T): T = {
    val spark = build()
    try body(spark) finally spark.stop()
  }

  /** `main` of a self-verifying fuzz leg: `[n] [seed]`, defaulting to the
    * leg's own `n` and `seed`.
    */
  def fuzzMain(args: Array[String], n: Int, seed: Long)(
      leg: (SparkSession, Int, Long) => Unit): Unit =
    run(leg(_, args.lift(0).map(_.toInt).getOrElse(n),
      args.lift(1).map(_.toLong).getOrElse(seed)))

  /** `main` of an oracle-dump fuzz leg: `<sfDir> <outDir> [n] [seed]`. */
  def oracleFuzzMain(args: Array[String], n: Int, seed: Long)(
      leg: (SparkSession, String, String, Int, Long) => Unit): Unit = {
    require(args.length >= 2, "usage: <sfDir> <outDir> [n] [seed]")
    fuzzMain(args.drop(2), n, seed)(leg(_, args(0), args(1), _, _))
  }
}
