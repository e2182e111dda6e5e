package graft

import org.apache.spark.sql.SparkSession

/** Dev-only randomized differential fuzzer, dialect 2 (round-3 verdict
  * #9): seeded-random window / top-k-per-group / dedup-shaped queries
  * over the `documents` and `embeddings` tables — the shapes the LLM-data
  * pipeline operators are built from — in the Spark∩DuckDB ANSI subset.
  * Every query runs through the engine's SQL path and the SAME statement
  * text is dumped as the DuckDB oracle for tools/selfcheck.py.
  *
  * Dialect discipline (the cross-engine traps the registry queries learned
  * the hard way):
  *   - ROW_NUMBER/length/SUM-of-int results are CAST to BIGINT — DuckDB
  *     widens them (or to HUGEINT) while Spark stays int32/int64;
  *   - ordering keys always end in the unique doc_id/vec_id so LIMIT and
  *     rank boundaries are never tie-dependent;
  *   - character counts use the n_chars column, not length(text) —
  *     Spark's length() counts UTF-16 code units, DuckDB's counts
  *     codepoints;
  *   - md5/substr are the portable fingerprint spelling (both engines:
  *     lowercase hex, 1-based substr).
  *
  * Usage: runMain graft.DevFuzzDocs <sfDir> <outDir> [n] [seed]
  */
object DevFuzzDocs {
  def main(args: Array[String]): Unit =
    HarnessSession.oracleFuzzMain(args, n = 60, seed = 42L)(run)

  def run(spark: SparkSession, sfDir: String, outDir: String,
          n: Int, seed: Long): Unit = {
    new java.io.File(outDir).mkdirs()
    Tables.documents(spark, sfDir).createOrReplaceTempView("documents")
    Tables.embeddings(spark, sfDir).createOrReplaceTempView("embeddings")

    val rnd = new scala.util.Random(seed)
    val langs = IndexedSeq("de", "en", "es", "fr", "zh")
    val groups = IndexedSeq("source", "lang")
    def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.length))
    def atom(): String = rnd.nextInt(5) match {
      case 0 => val m = rnd.nextInt(7) + 2; s"doc_id % $m = ${rnd.nextInt(m)}"
      case 1 => s"doc_id <= ${rnd.nextInt(4000) + 200}"
      case 2 => s"lang = '${pick(langs)}'"
      case 3 => s"source = 'src${rnd.nextInt(20)}'"
      case 4 => s"n_chars > ${rnd.nextInt(200) + 20}"
    }
    def pred(): String = rnd.nextInt(3) match {
      case 0 => atom()
      case 1 => s"(${atom()} AND ${atom()})"
      case 2 => s"(${atom()} OR ${atom()})"
    }
    def genQuery(): String = rnd.nextInt(8) match {
      case 0 => // window rank per group
        val g = pick(groups)
        s"SELECT doc_id, $g, CAST(ROW_NUMBER() OVER (PARTITION BY $g " +
          s"ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rn " +
          s"FROM documents WHERE ${pred()} ORDER BY doc_id"
      case 1 => // top-k per group via rank subquery
        val g = pick(groups); val k = rnd.nextInt(5) + 1
        s"SELECT $g, doc_id, rn FROM (SELECT $g, doc_id, " +
          s"CAST(ROW_NUMBER() OVER (PARTITION BY $g ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rn " +
          s"FROM documents WHERE ${pred()}) t WHERE rn <= $k ORDER BY $g, rn"
      case 2 => // exact-dup keeper groups over the md5 fingerprint
        s"SELECT MIN(doc_id) AS keeper, CAST(COUNT(*) AS BIGINT) AS n_copies " +
          s"FROM documents WHERE ${pred()} GROUP BY md5(text) ORDER BY keeper"
      case 3 => // fingerprint projection + deterministic limit
        val w = rnd.nextInt(12) + 4
        s"SELECT doc_id, substr(md5(text), 1, $w) AS fp FROM documents " +
          s"WHERE ${pred()} ORDER BY doc_id LIMIT ${rnd.nextInt(300) + 50}"
      case 4 => // per-(source, lang) size stats
        s"SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c, " +
          s"CAST(MIN(n_chars) AS BIGINT) AS mn, CAST(MAX(n_chars) AS BIGINT) AS mx, " +
          s"CAST(SUM(n_chars) AS BIGINT) AS s FROM documents WHERE ${pred()} " +
          s"GROUP BY source, lang ORDER BY source, lang"
      case 5 => // running cumulative sum per source
        s"SELECT doc_id, CAST(SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id " +
          s"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run " +
          s"FROM documents WHERE ${pred()} ORDER BY doc_id"
      case 6 => // lag within group
        val g = pick(groups)
        s"SELECT doc_id, CAST(LAG(doc_id, 1, -1) OVER (PARTITION BY $g " +
          s"ORDER BY doc_id) AS BIGINT) AS prev_id " +
          s"FROM documents WHERE ${pred()} ORDER BY doc_id"
      case 7 => // embeddings label rollup (scalar columns only — array
        // indexing is 0-based in Spark and 1-based in DuckDB)
        val m = rnd.nextInt(7) + 2
        s"SELECT label, CAST(COUNT(*) AS BIGINT) AS c, MIN(vec_id) AS mn, " +
          s"MAX(vec_id) AS mx FROM embeddings WHERE vec_id % $m = ${rnd.nextInt(m)} " +
          s"GROUP BY label ORDER BY label"
    }

    val engine = new GraftEngine(spark, outDir + "/wh")
    val oracle = (0 until n).map { i =>
      val q = genQuery()
      val name = f"fuzzdoc_$i%03d"
      engine.query(params.SqlStatement(q))
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      name -> q
    }
    Verify.writeOracleSql(outDir, oracle)
    println(s"[fuzzdoc] $n queries dumped to $outDir (seed=$seed)")
  }
}
