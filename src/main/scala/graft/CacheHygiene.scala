package graft
import org.apache.spark.sql.SparkSession

/** Between-query cache cleanup for the harness mains (Bench / Verify /
  * DevTime / DevScale).
  *
  * Operators may persist or localCheckpoint intermediates (nearDupJaccard's
  * token-hash projection, dedupClusters' per-iteration labels). Those blocks
  * are scoped to ONE query; in a 123-query sweep they would otherwise
  * accumulate in the storage-memory fraction and squeeze execution memory
  * for every later query — the sweep slowly poisons itself with spills that
  * no isolated run reproduces. A real pipeline unpersists after consuming a
  * result; the harness does the equivalent at its query boundary.
  */
object CacheHygiene {
  /** Drop every persisted RDD block (covers persist() and
    * localCheckpoint()) and clear the Catalyst plan cache.
    */
  def sweep(spark: SparkSession): Unit = {
    // blocking: the sweep runs OUTSIDE any timed window, and async block
    // removal would otherwise overlap the NEXT query's timed window with
    // BlockManager churn (round-5 driver sweeps logged double-remove
    // warnings exactly there)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.sharedState.cacheManager.clearCache()
  }
}
