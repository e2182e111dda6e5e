package graft

import org.apache.spark.sql.SparkSession

/** Fuzz dialect 4 — time travel + views COMPOSED (round-5 verdict #6):
  * randomized sequences of INSERT commits, stacked CREATE VIEWs (some
  * defined OVER a time-travel read), USE-scoped unqualified names, and a
  * final query that stacks every SQL-path rewrite (catalog refs, bare
  * refs, metadata refs, time travel, view expansion) up to four deep.
  * The DuckDB oracle replays each commit as the cumulative UNION ALL of
  * its insert slices over the same nation parquet, views as nested
  * subqueries, AS OF k as state_k.
  *
  * Usage: DevFuzzTravel <sfDir> <outDir> [n] [seed] — selfcheck.py
  * compares like every other dialect.
  */
object DevFuzzTravel {
  def main(args: Array[String]): Unit =
    HarnessSession.oracleFuzzMain(args, n = 20, seed = 7L)(run)

  def run(spark: SparkSession, sfDir: String, outDir: String,
          n: Int, seed: Long): Unit = {
    new java.io.File(outDir).mkdirs()

    val rnd = new scala.util.Random(seed)

    // deterministic predicate atoms over nation (no mutation in this
    // dialect, so no 3VL injection needed — inserts only select)
    def atom(): String = rnd.nextInt(4) match {
      case 0 => s"n_regionkey = ${rnd.nextInt(5)}"
      case 1 => s"n_nationkey % ${rnd.nextInt(4) + 2} = ${rnd.nextInt(2)}"
      case 2 => s"n_nationkey < ${rnd.nextInt(20) + 5}"
      case 3 => s"n_nationkey >= ${rnd.nextInt(15)}"
    }
    def pred(): String = rnd.nextInt(3) match {
      case 0 => atom()
      case 1 => s"(${atom()} AND ${atom()})"
      case 2 => s"(${atom()} OR ${atom()})"
    }

    val cols = "n_nationkey, n_name, n_regionkey"

    val results = (0 until n).map { i =>
      val name = f"tv_$i%03d"
      val wh = s"$outDir/wh_$i"
      val engine = new GraftEngine(spark, wh)
      engine.executeNonQuery(params.SqlStatement("CREATE SCHEMA fz"))
      // half the scenarios on a PARTITIONED table: time travel must
      // resolve through the hive-named `_snap=` single-scan layout too
      val partitioned = rnd.nextBoolean()
      // a third of the scenarios fuzz SCHEMA EVOLUTION composed with time
      // travel; kind 2 = type promotion, which needs the table CREATED
      // with the narrow type (n_regionkey integer → bigint mid-history)
      val evolve = rnd.nextInt(3) == 0
      val evolKind = if (evolve) rnd.nextInt(3) else -1 // 0 rename, 1 drop, 2 promote
      engine.executeNonQuery(params.SqlStatement(
        "CREATE TABLE fz.t (n_nationkey bigint, n_name varchar, n_regionkey " +
          (if (evolKind == 2) "integer" else "bigint") + ")" +
          (if (partitioned) " WITH (partitioning = ARRAY['n_regionkey'])" else "")))
      Tables.nation(spark, sfDir)
        .select("n_nationkey", "n_name", "n_regionkey")
        .createOrReplaceTempView("nation")

      // 2-4 INSERT commits, each a deterministic slice of nation (through
      // the SQL INSERT…SELECT path — each is one snapshot)
      val slices = (0 until rnd.nextInt(3) + 2).map(_ => pred())
      slices.foreach { p =>
        engine.executeNonQuery(params.SqlStatement(
          s"INSERT INTO fz.t SELECT $cols FROM nation WHERE $p"))
      }
      val m = slices.length
      val snaps = engine.catalog.snapshots("fz", "t")
      require(snaps.length == m, s"expected $m commits, got ${snaps.length}")

      // slice + cumulative-state CTEs shared by every oracle shape
      val sliceCtes = slices.zipWithIndex.map { case (p, j) =>
        s"ins$j AS (SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name, " +
          s"CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation WHERE $p)"
      }
      def state(k: Int): String =
        (0 until k).map(j => s"SELECT * FROM ins$j").mkString(" UNION ALL ")
      val stateCtes = (1 to m).map(k => s"st$k AS (${state(k)})")

      // evolution scenarios: rename/drop n_name mid-history (NULL-fill /
      // narrowed schema vs the pinned pre-evolution snapshot), or PROMOTE
      // n_regionkey integer → bigint (old files widen on read; the pinned
      // snapshot keeps the narrow type; sums agree either way)
      if (evolve && evolKind == 2) {
        val extraPred = pred()
        val asOfK = rnd.nextInt(m) + 1
        engine.executeNonQuery(params.SqlStatement(
          "ALTER TABLE fz.t ALTER COLUMN n_regionkey SET DATA TYPE bigint"))
        engine.executeNonQuery(params.SqlStatement(
          s"INSERT INTO fz.t SELECT $cols FROM nation WHERE $extraPred"))
        val finalSql =
          "SELECT count(*) AS n_cur, CAST(sum(n_regionkey) AS BIGINT) AS s_rk, " +
            s"(SELECT CAST(sum(n_regionkey) AS BIGINT) FROM fz.t FOR VERSION AS OF $asOfK) AS s_old " +
            "FROM fz.t"
        engine.query(params.SqlStatement(finalSql))
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        val extraCte = "insx AS (SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, " +
          s"n_name, CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation WHERE $extraPred)"
        val finalOracle =
          "SELECT count(*) AS n_cur, CAST(sum(n_regionkey) AS BIGINT) AS s_rk, " +
            s"(SELECT CAST(sum(n_regionkey) AS BIGINT) FROM st$asOfK) AS s_old " +
            s"FROM (SELECT * FROM st$m UNION ALL SELECT * FROM insx) cur"
        name -> ((sliceCtes ++ stateCtes :+ extraCte)
          .mkString("WITH ", ", ", " ") + finalOracle)
      } else if (evolve) {
        val name2 = name
        val doRename = evolKind == 0
        val extraPred = pred()
        val asOfK = rnd.nextInt(m) + 1
        if (doRename) {
          engine.executeNonQuery(params.SqlStatement(
            "ALTER TABLE fz.t RENAME COLUMN n_name TO nm"))
          engine.executeNonQuery(params.SqlStatement(
            s"INSERT INTO fz.t SELECT n_nationkey, n_name AS nm, n_regionkey " +
              s"FROM nation WHERE $extraPred"))
        } else {
          engine.executeNonQuery(params.SqlStatement(
            "ALTER TABLE fz.t DROP COLUMN n_name"))
          engine.executeNonQuery(params.SqlStatement(
            s"INSERT INTO fz.t SELECT n_nationkey, n_regionkey " +
              s"FROM nation WHERE $extraPred"))
        }
        val probe = if (doRename) "nm" else "n_regionkey"
        val finalSql =
          s"SELECT count(*) AS n_cur, CAST(sum(n_nationkey) AS BIGINT) AS s_key, " +
            s"count($probe) AS n_filled, " +
            s"(SELECT count(*) FROM fz.t FOR VERSION AS OF $asOfK " +
            s"WHERE n_name IS NOT NULL) AS n_old " +
            "FROM fz.t"
        engine.query(params.SqlStatement(finalSql))
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name2")
        val extraCte = "insx AS (SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, " +
          s"n_name, CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation WHERE $extraPred)"
        val curCte =
          if (doRename)
            s"cur AS (SELECT n_nationkey, CAST(NULL AS VARCHAR) AS nm, n_regionkey FROM st$m " +
              "UNION ALL SELECT n_nationkey, n_name AS nm, n_regionkey FROM insx)"
          else
            s"cur AS (SELECT n_nationkey, n_regionkey FROM st$m " +
              "UNION ALL SELECT n_nationkey, n_regionkey FROM insx)"
        val finalOracle =
          s"SELECT count(*) AS n_cur, CAST(sum(n_nationkey) AS BIGINT) AS s_key, " +
            s"count($probe) AS n_filled, " +
            s"(SELECT count(*) FROM st$asOfK WHERE n_name IS NOT NULL) AS n_old " +
            "FROM cur"
        val oracleSql = (sliceCtes ++ stateCtes ++ Seq(extraCte, curCte))
          .mkString("WITH ", ", ", " ") + finalOracle
        name2 -> oracleSql
      } else {

      // view 1 over the CURRENT table; view 2 stacked — half the time
      // over a TIME-TRAVEL read (view expansion + AS OF composed)
      val v1Pred = pred()
      engine.executeNonQuery(params.SqlStatement(
        s"CREATE VIEW fz.v1 AS SELECT $cols FROM fz.t WHERE $v1Pred"))
      val v2OverTravel = rnd.nextBoolean() && m >= 2
      val v2K = rnd.nextInt(m) + 1
      val v2Pred = pred()
      engine.executeNonQuery(params.SqlStatement(
        if (v2OverTravel)
          s"CREATE VIEW fz.v2 AS SELECT $cols FROM fz.t FOR VERSION AS OF $v2K WHERE $v2Pred"
        else
          s"CREATE VIEW fz.v2 AS SELECT n_nationkey, n_name FROM fz.v1 WHERE $v2Pred"))

      // the final query: random composition shape
      val asOfK = rnd.nextInt(m) + 1
      // TIMESTAMP AS OF at the exact commit instant of snapshot asOfK
      val ts = java.time.LocalDateTime.ofInstant(
        java.time.Instant.ofEpochMilli(snaps(asOfK - 1).committedAtMillis),
        java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
      // a third of the travel reads go through a NAMED REF instead of an
      // id/timestamp: a tag pinned at snapshot asOfK, or a branch created
      // there and advanced by one branch-only insert (main must not see
      // it; the oracle models the branch state explicitly)
      val refKind = rnd.nextInt(3)
      var branchCte: Option[String] = None
      val travelRef = refKind match {
        case 0 => s"fz.t FOR VERSION AS OF $asOfK"
        case 1 => s"fz.t FOR TIMESTAMP AS OF TIMESTAMP '$ts'"
        case _ =>
          if (rnd.nextBoolean()) {
            engine.executeNonQuery(params.SqlStatement(
              s"CALL system.create_tag('fz', 't', 'tagk', $asOfK)"))
            "fz.t FOR VERSION AS OF 'tagk'"
          } else {
            val bPred = pred()
            engine.executeNonQuery(params.SqlStatement(
              s"CALL system.create_branch('fz', 't', 'br', $asOfK)"))
            engine.catalog.branch("br").insert("fz", "t", spark.sql(
              "SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name, " +
                s"CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation WHERE $bPred"))
            branchCte = Some(
              s"brslice AS (SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, " +
                s"n_name, CAST(n_regionkey AS BIGINT) AS n_regionkey " +
                s"FROM nation WHERE $bPred)")
            if (rnd.nextBoolean()) "fz.t FOR VERSION AS OF 'br'"
            else {
              // branch-SCOPED timestamp travel: `"t@br" FOR TIMESTAMP AS
              // OF` at the first branch insert's instant — a SECOND
              // branch-only insert lands past it and must be excluded
              // (the oracle models exactly st_asOfK + first slice)
              val bMid = engine.catalog.branch("br")
                .snapshots("fz", "t").last.committedAtMillis
              engine.catalog.branch("br").insert("fz", "t", spark.sql(
                "SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name, " +
                  s"CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation WHERE ${pred()}"))
              val tsB = java.time.LocalDateTime.ofInstant(
                java.time.Instant.ofEpochMilli(bMid), java.time.ZoneOffset.UTC)
                .format(java.time.format.DateTimeFormatter
                  .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
              s"""fz."t@br" FOR TIMESTAMP AS OF TIMESTAMP '$tsB'"""
            }
          }
      }
      val useUnqualified = rnd.nextBoolean()
      if (useUnqualified) engine.executeNonQuery(params.SqlStatement("USE fz"))

      val finalSql = rnd.nextInt(3) match {
        case 0 => // view ⋈ time travel
          val vRef = if (useUnqualified) "v2" else "fz.v2"
          s"SELECT v.n_nationkey, v.n_name, count(*) AS n_old " +
            s"FROM $vRef v JOIN $travelRef h ON v.n_nationkey = h.n_nationkey " +
            "GROUP BY v.n_nationkey, v.n_name ORDER BY v.n_nationkey, v.n_name"
        case 1 => // aggregate over stacked views vs the as-of state
          val vRef = if (useUnqualified) "v1" else "fz.v1"
          s"SELECT (SELECT count(*) FROM $vRef) AS n_view, count(*) AS n_asof " +
            s"FROM $travelRef"
        case 2 => // metadata table composed with a travel read
          s"SELECT s.snapshot_id, s.operation, " +
            s"(SELECT count(*) FROM $travelRef) AS n_asof " +
            "FROM fz.\"t$snapshots\" s ORDER BY s.snapshot_id"
      }
      engine.query(params.SqlStatement(finalSql))
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")

      // ---- DuckDB replay ---- (slice/state CTEs shared above; keys cast
      // to BIGINT exactly like the declared table schema does on the
      // engine side — nation parquet carries int32 keys)
      val v1Cte = s"v1 AS (SELECT $cols FROM st$m WHERE $v1Pred)"
      val v2Cte =
        if (v2OverTravel) s"v2 AS (SELECT $cols FROM st$v2K WHERE $v2Pred)"
        else s"v2 AS (SELECT n_nationkey, n_name FROM v1 WHERE $v2Pred)"
      val travelCte = branchCte match {
        case Some(_) =>
          s"tprev AS (SELECT * FROM st$asOfK UNION ALL SELECT * FROM brslice)"
        case None => s"tprev AS (SELECT * FROM st$asOfK)"
      }
      val finalOracle = finalSql match {
        case q if q.startsWith("SELECT v.n_nationkey") =>
          "SELECT v.n_nationkey, v.n_name, count(*) AS n_old " +
            "FROM v2 v JOIN tprev h ON v.n_nationkey = h.n_nationkey " +
            "GROUP BY v.n_nationkey, v.n_name ORDER BY v.n_nationkey, v.n_name"
        case q if q.startsWith("SELECT (SELECT") =>
          "SELECT (SELECT count(*) FROM v1) AS n_view, count(*) AS n_asof FROM tprev"
        case _ =>
          val ops = (1 to m).map(k => s"(CAST($k AS BIGINT), 'append')")
          s"SELECT s.snapshot_id, s.operation, " +
            "(SELECT count(*) FROM tprev) AS n_asof " +
            s"FROM (VALUES ${ops.mkString(", ")}) AS s(snapshot_id, operation) " +
            "ORDER BY s.snapshot_id"
      }
      val oracleSql =
        (sliceCtes ++ stateCtes ++ branchCte.toSeq ++ Seq(v1Cte, v2Cte, travelCte))
          .mkString("WITH ", ", ", " ") + finalOracle
      name -> oracleSql
      }
    }
    Verify.writeOracleSql(outDir, results)
    println(s"[fuzztravel] $n travel/view scenarios dumped to $outDir (seed=$seed)")
  }
}
