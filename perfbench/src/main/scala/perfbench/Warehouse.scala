package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.GraftEngine
import graft.params.Sql._

/** Loads corpus tables into a fresh snapshot-catalog warehouse, schema
  * `bench`, through the engine's public DDL and catalog surface.
  */
object Warehouse {
  /** lineitem is range-clustered on l_orderkey into this many files so that
    * manifest bounds pruning has files to skip.
    */
  val LineitemFiles = 16

  def build(spark: SparkSession, corpus: String, dir: String,
            tables: Seq[String]): GraftEngine = {
    val engine = new ProbedEngine(spark, dir)
    engine.executeNonQuery(sql"CREATE SCHEMA IF NOT EXISTS bench")
    tables.foreach { t =>
      val raw = spark.read.parquet(s"$corpus/$t.parquet")
      val laid =
        if (t == "lineitem")
          raw.repartitionByRange(LineitemFiles, col("l_orderkey"))
            .sortWithinPartitions("l_orderkey")
        else raw
      engine.catalog.createTable("bench", t, laid.schema)
      engine.catalog.insert("bench", t, laid)
    }
    engine.executeNonQuery(sql"USE bench")
    engine
  }

  def liveFiles(engine: GraftEngine, table: String): Int =
    engine.catalog.snapshots("bench", table).lastOption
      .map(s => engine.catalog.dataFilePaths("bench", table, s).size).getOrElse(0)
}

/** The model of the corpus written beside it by gen_corpus.py (numpy, not
  * the engine): per-order and per-customer aggregates the answers are
  * checked against, and each table's logical bytes.
  */
final class CorpusModel(dir: String) {
  /** Column-major view of a little-endian int64 matrix with `cols` columns. */
  private def longs(name: String, cols: Int): Array[Array[Long]] = {
    val buf = java.nio.ByteBuffer.wrap(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, name))).order(java.nio.ByteOrder.LITTLE_ENDIAN).asLongBuffer()
    val rows = buf.remaining / cols
    Array.tabulate(cols)(c => Array.tabulate(rows)(r => buf.get(r * cols + c)))
  }

  /** Per o_orderkey: lineitem rows, sum l_linenumber, sum l_quantity, sum
    * l_extendedprice in cents, sum l_shipdate in epoch days.
    */
  val orders: Array[Array[Long]] = longs("model-orders.bin", 5)
  /** Per o_custkey over orders JOIN lineitem: rows, sum o_orderkey, sum
    * l_linenumber, sum l_quantity.
    */
  val customers: Array[Array[Long]] = longs("model-customers.bin", 4)

  private val logical: Map[String, Long] =
    scala.io.Source.fromFile(s"$dir/logical-bytes.tsv").getLines()
      .map(_.split("\t")).collect { case Array(t, b) => t -> b.toLong }.toMap

  def logicalBytes(tables: Seq[String]): Long = tables.map(logical).sum
}
