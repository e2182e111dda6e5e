package graft

import org.apache.spark.sql.SparkSession

/** Dev-only randomized differential fuzzer: generates seeded-random
  * queries in the Spark∩DuckDB ANSI subset (integer/string projections,
  * AND/OR/modulo predicates, COUNT/MIN/MAX/SUM aggregates with BIGINT
  * casts, unique-key ORDER BY ... LIMIT), runs each through the engine's
  * SQL path, and dumps results + the SAME statement text as the oracle —
  * tools/selfcheck.py then does the DuckDB compare. Catches dialect and
  * planner divergences no hand-written registry query thought to cover.
  * Usage: runMain graft.DevFuzz <sfDir> <outDir> [n] [seed]
  */
object DevFuzz {
  def main(args: Array[String]): Unit =
    HarnessSession.oracleFuzzMain(args, n = 60, seed = 42L)(run)

  def run(spark: SparkSession, sfDir: String, outDir: String,
          n: Int, seed: Long): Unit = {
    new java.io.File(outDir).mkdirs()
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("lineitem")
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders")

    val rnd = new scala.util.Random(seed)
    val intCols = IndexedSeq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
    val strCols = IndexedSeq("l_returnflag", "l_linestatus")
    def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.length))
    def atom(): String = rnd.nextInt(4) match {
      case 0 => s"${pick(intCols)} <= ${rnd.nextInt(3000) + 1}"
      case 1 => s"${pick(intCols)} % ${rnd.nextInt(9) + 2} = ${rnd.nextInt(2)}"
      case 2 => s"${pick(strCols)} = '${pick(IndexedSeq("A", "N", "R", "O", "F"))}'"
      case 3 => s"${pick(intCols)} > ${rnd.nextInt(2000)}"
    }
    def pred(): String = rnd.nextInt(3) match {
      case 0 => atom()
      case 1 => s"(${atom()} AND ${atom()})"
      case 2 => s"(${atom()} OR ${atom()})"
    }
    def genQuery(): String = rnd.nextInt(6) match {
      case 0 => // filtered projection + limit. ORDER BY lists EVERY
        // projected column: the synthetic lineitem does NOT honor the
        // TPC-H (l_orderkey, l_linenumber) primary key (duplicates up to
        // ×6), so any shorter sort leaves the LIMIT boundary tie
        // engine-dependent — the first fuzz run proved it
        val cols = (Seq(pick(intCols), pick(strCols)) ++ Seq("l_orderkey", "l_linenumber")).distinct
        s"SELECT ${cols.mkString(", ")} FROM lineitem WHERE ${pred()} " +
          s"ORDER BY ${cols.mkString(", ")} LIMIT ${rnd.nextInt(400) + 100}"
      case 1 => // grouped aggregates over integer columns
        val g = pick(strCols ++ intCols.take(2))
        val i1 = pick(intCols); val i2 = pick(intCols)
        s"SELECT $g, COUNT(*) AS c, MIN($i1) AS mn, MAX($i1) AS mx, " +
          s"CAST(SUM($i2) AS BIGINT) AS s FROM lineitem WHERE ${pred()} " +
          s"GROUP BY $g ORDER BY $g"
      case 2 => // global aggregate
        val i1 = pick(intCols)
        s"SELECT COUNT(*) AS c, CAST(SUM($i1) AS BIGINT) AS s, " +
          s"MIN(${pick(strCols)}) AS mn FROM lineitem WHERE ${pred()}"
      case 3 => // equi-join to orders, grouped counts
        val g = pick(IndexedSeq("o_orderstatus", "o_orderpriority", "l_returnflag"))
        s"SELECT $g, COUNT(*) AS c, CAST(SUM(l_suppkey) AS BIGINT) AS s " +
          s"FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
          s"WHERE ${pred()} GROUP BY $g ORDER BY $g"
      case 4 => // HAVING over a grouped count
        val g = pick(intCols.take(3))
        s"SELECT $g, COUNT(*) AS c FROM lineitem WHERE ${pred()} " +
          s"GROUP BY $g HAVING COUNT(*) >= ${rnd.nextInt(3) + 2} ORDER BY $g"
      case 5 => // NULLABLE sort key (round-11): the engine rewrites the
        // bare ORDER BY to Trino/DuckDB's NULLS LAST / DESC NULLS FIRST
        // defaults — without the rewrite Spark's opposite default makes
        // every null-carrying LIMIT boundary diverge from the oracle
        val i1 = pick(intCols)
        val dir = if (rnd.nextBoolean()) " DESC" else ""
        // DOUBLE cast: a null-carrying integer column lands as float64
        // in pandas on the Spark side but int64 from DuckDB — the usual
        // dtype-harmonization rule for nullable numeric projections
        s"SELECT l_orderkey, l_linenumber, " +
          s"CAST(NULLIF($i1 % ${rnd.nextInt(5) + 3}, 0) AS DOUBLE) AS nk " +
          s"FROM lineitem WHERE ${pred()} " +
          s"ORDER BY nk$dir, l_orderkey, l_linenumber LIMIT ${rnd.nextInt(300) + 50}"
    }

    val engine = new GraftEngine(spark, outDir + "/wh")
    val oracle = (0 until n).map { i =>
      val q = genQuery()
      val name = f"fuzz_$i%03d"
      engine.query(params.SqlStatement(q))
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      name -> q
    }
    Verify.writeOracleSql(outDir, oracle)
    println(s"[fuzz] $n queries dumped to $outDir (seed=$seed)")
  }
}
