package graft.catalog

/** Dev-only CROSS-PROCESS commit-race probe (round-6 verdict #7): the
  * in-JVM CommitConflictSpec proves the generation check between two
  * catalog instances, but the exclusive-rename claim is about the
  * FILESYSTEM — this main runs in a second JVM so the race crosses a real
  * process boundary.
  *
  * Protocol (driven by CommitConflictSpec):
  *   args = <warehouse> <syncDir>
  *   1. read (commits, generation) of table s.t
  *   2. touch <syncDir>/read.done — tells the parent "my read is stale-able"
  *   3. wait for <syncDir>/go — the parent commits the winning generation
  *      in between
  *   4. attempt a commit from the now-stale generation
  * Exit codes: 42 = got the typed CommitConflictException (the correct
  * loser outcome), 1 = the stale commit unexpectedly succeeded,
  * 2 = protocol timeout.
  */
object DevCommitRace {
  def main(args: Array[String]): Unit = {
    val wh = args(0)
    val sync = new java.io.File(args(1))
    val spark = graft.HarnessSession.build(cpus = "1")
    val c = new SnapshotCatalog(spark, wh)
    val (commits, gen) = c.readCommitsWithGen("s", "t")
    new java.io.File(sync, "read.done").createNewFile()
    val go = new java.io.File(sync, "go")
    val deadline = System.currentTimeMillis() + 120000
    while (!go.exists() && System.currentTimeMillis() < deadline) Thread.sleep(50)
    if (!go.exists()) {
      println("[race] timed out waiting for go")
      sys.exit(2)
    }
    val code =
      try {
        c.writeCommits("s", "t", commits :+ Snapshot(
          commits.last.snapshotId + 1, commits.last.committedAtMillis + 1,
          operation = Some("append")), gen)
        println("[race] child commit from stale generation unexpectedly WON")
        1
      } catch {
        case e: CommitConflictException =>
          println(s"[race] child got CommitConflictException " +
            s"(expectedGen=${e.expectedGen}) — correct loser outcome")
          42
      }
    spark.stop()
    sys.exit(code)
  }
}
