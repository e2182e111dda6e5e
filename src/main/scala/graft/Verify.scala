package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare. Names after the
  * two directories restrict the dump to those queries (a fast selfcheck
  * loop on one operator).
  * Usage: runMain graft.Verify <sfDir> <outDir> [names...]
  */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: <sfDir> <outDir> [names...]")
    val sfDir = args(0); val outDir = args(1); val names = args.drop(2).toSet
    def wanted(name: String) = names.isEmpty || names(name)
    HarnessSession.run { spark =>
      new java.io.File(outDir).mkdirs()
      SparkEntry.queries.filter(kv => wanted(kv._1)).foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        finally CacheHygiene.sweep(spark)
      }
      writeOracleSql(outDir, SparkEntry.oracleSql.filter(kv => wanted(kv._1)).toSeq)
    }
  }

  /** `{"name": "sql", …}` — the oracle file tools/selfcheck.py reads. */
  def oracleJson(entries: Seq[(String, String)]): String =
    entries.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")

  def writeOracleSql(outDir: String, entries: Seq[(String, String)]): Unit =
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(entries))

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in a query's SQL would otherwise make selfcheck.py's
  // json.load fail and report no correctness at all.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
