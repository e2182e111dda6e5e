package graft

import graft.params.SqlStatement
import org.apache.spark.sql.SparkSession

/** Fuzz dialect 8 — incremental MV refresh: randomized scenarios of a
  * fact table plus a dimension under a seeded op stream (appends on
  * both, CoW UPDATE/DELETE, expire_snapshots, rollback_to_snapshot)
  * with FOUR materialized views — an aggregate shape, a
  * select-project-filter shape, a two-source fact⋈dim join shape, and a
  * deliberately ineligible shape — refreshed at random points.
  * Self-verifying against a driver-side model on every refresh:
  *
  *  - CONTENT (the invariant that matters): post-refresh MV state equals
  *    the definition recomputed from scratch over the current source —
  *    whatever strategy ran;
  *  - STRATEGY soundness: an ineligible definition must always report
  *    `full`; an eligible one after ONLY row-adding appends must report
  *    its incremental mode (`incremental-merge` / `incremental-append` —
  *    a silent fall-back to recompute is a perf regression this pins);
  *    after any non-append history (matched UPDATE/DELETE, rollback) or
  *    an expired recorded snapshot it must NOT claim incremental; with
  *    no source movement it must report `noop`.
  *
  * Usage: runMain graft.DevFuzzMv [n] [seed]
  */
object DevFuzzMv {
  def main(args: Array[String]): Unit =
    HarnessSession.fuzzMain(args, n = 10, seed = 29L)(run)

  def run(spark: SparkSession, n: Int, seed: Long): Unit = {
    val rnd = new scala.util.Random(seed)
    def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.length))

    val aggDefs = IndexedSeq(
      """SELECT grp, count(*) AS n, sum(v) AS sv FROM demo.src GROUP BY grp""",
      """SELECT grp, min(v) AS mn, max(v) AS mx, count(v) AS cv
        |FROM demo.src GROUP BY 1""".stripMargin,
      """SELECT grp AS g, sum(id) AS si, count(*) AS n
        |FROM demo.src WHERE v >= 10 GROUP BY grp""".stripMargin,
      """SELECT count(*) AS n, sum(v) AS sv, max(id) AS mi FROM demo.src""",
      // round-11 widenings: avg (hidden sum/count partials) and
      // FILTER-clause measures — all merge incrementally now
      """SELECT grp, avg(v) AS a, count(*) AS n FROM demo.src GROUP BY grp""",
      """SELECT grp, sum(v) FILTER (WHERE v >= 50) AS hs,
        |       count(*) FILTER (WHERE v < 50) AS ln
        |FROM demo.src GROUP BY grp""".stripMargin,
      """SELECT avg(v) AS a, avg(id) FILTER (WHERE v % 2 = 0) AS ea
        |FROM demo.src""".stripMargin)
    val spjDefs = IndexedSeq(
      """SELECT id, grp, v FROM demo.src WHERE v % 2 = 0""",
      """SELECT id, upper(grp) AS gu, v * 2 AS v2 FROM demo.src""",
      """SELECT * FROM demo.src WHERE grp <> 'c'""")
    val joinDefs = IndexedSeq( // src ⋈ dim: the two-source shape
      ("""SELECT d.g AS g, count(*) AS n, sum(s.v) AS sv
         |FROM demo.src s JOIN demo.dim d ON s.grp = d.g
         |GROUP BY d.g""".stripMargin, "incremental-merge"),
      ("""SELECT s.id, s.v, d.w FROM demo.src s
         |JOIN demo.dim d ON s.grp = d.g""".stripMargin, "incremental-append"),
      ("""SELECT s.id, d.w FROM demo.src s
         |JOIN demo.dim d ON s.grp = d.g
         |WHERE s.v % 2 = 0""".stripMargin, "incremental-append"))
    val starDefs = IndexedSeq( // src ⋈ dim ⋈ dim2: the 3-source star
      ("""SELECT d.g AS g, count(*) AS n, sum(s.v) AS sv
         |FROM demo.src s JOIN demo.dim d ON s.grp = d.g
         |JOIN demo.dim2 d2 ON s.grp = d2.g2
         |GROUP BY d.g""".stripMargin, "incremental-merge"),
      ("""SELECT s.id, s.v, d.w, d2.t FROM demo.src s
         |JOIN demo.dim d ON s.grp = d.g
         |JOIN demo.dim2 d2 ON s.grp = d2.g2""".stripMargin, "incremental-append"),
      ("""SELECT d2.g2 AS g2, avg(s.v) AS a, max(d.w) AS mw
         |FROM demo.src s JOIN demo.dim d ON s.grp = d.g
         |JOIN demo.dim2 d2 ON s.grp = d2.g2
         |GROUP BY d2.g2""".stripMargin, "incremental-merge"))
    val badDefs = IndexedSeq( // must never run incrementally
      """SELECT DISTINCT grp FROM demo.src""",
      """SELECT grp, avg(DISTINCT v) AS a FROM demo.src GROUP BY grp""",
      """SELECT grp, count(DISTINCT v) AS dv FROM demo.src GROUP BY grp""",
      """SELECT a.id AS id, b.v AS v FROM demo.src a
        |JOIN demo.src b ON a.id = b.id""".stripMargin)

    def preds(idHi: Long): IndexedSeq[String] = IndexedSeq(
      s"grp = '${('a' + rnd.nextInt(5)).toChar}'",
      s"v % ${2 + rnd.nextInt(4)} = 0",
      s"id > ${rnd.nextLong(idHi max 1L)}")

    (0 until n).foreach { i =>
      val wh = java.nio.file.Files.createTempDirectory(f"graft-mvfuzz-$i%03d").toString
      val e = new GraftEngine(spark, wh)
      e.executeNonQuery(SqlStatement(
        "CREATE TABLE demo.src (id bigint, grp varchar, v bigint)"))
      e.executeNonQuery(SqlStatement(
        "CREATE TABLE demo.dim (g varchar, w bigint)"))
      e.executeNonQuery(SqlStatement(
        "CREATE TABLE demo.dim2 (g2 varchar, t bigint)"))
      var nextId = 0L
      def insert(k: Int): Unit = {
        val vals = (0 until k).map { _ =>
          nextId += 1
          s"($nextId, '${('a' + rnd.nextInt(5)).toChar}', ${rnd.nextInt(100)})"
        }.mkString(", ")
        e.executeNonQuery(SqlStatement(s"INSERT INTO demo.src VALUES $vals"))
      }
      def insertDim(k: Int): Unit = {
        val vals = (0 until k).map { _ =>
          s"('${('a' + rnd.nextInt(5)).toChar}', ${rnd.nextInt(50)})"
        }.mkString(", ")
        e.executeNonQuery(SqlStatement(s"INSERT INTO demo.dim VALUES $vals"))
      }
      def insertDim2(k: Int): Unit = {
        val vals = (0 until k).map { _ =>
          s"('${('a' + rnd.nextInt(5)).toChar}', ${rnd.nextInt(20)})"
        }.mkString(", ")
        e.executeNonQuery(SqlStatement(s"INSERT INTO demo.dim2 VALUES $vals"))
      }
      insert(3 + rnd.nextInt(4))
      insertDim(2 + rnd.nextInt(2))
      insertDim2(2 + rnd.nextInt(2))

      val (jDef, jMode) = pick(joinDefs)
      val (sDef, sMode) = pick(starDefs)
      // (name, defSql, expected incremental mode or "full", source tables)
      val mvs = Seq(
        ("mv_agg", pick(aggDefs), "incremental-merge", Seq("src")),
        ("mv_spj", pick(spjDefs), "incremental-append", Seq("src")),
        ("mv_join", jDef, jMode, Seq("src", "dim")),
        ("mv_star", sDef, sMode, Seq("src", "dim", "dim2")),
        ("mv_bad", pick(badDefs), "full", Seq("src")))
      mvs.foreach { case (name, defSql, _, _) =>
        e.executeNonQuery(SqlStatement(
          s"CREATE MATERIALIZED VIEW demo.$name AS $defSql"))
      }

      // model state since the last refresh, per source table
      val inserted = scala.collection.mutable.Map(
        "src" -> 0L, "dim" -> 0L, "dim2" -> 0L)
      val nonAppend = scala.collection.mutable.Map(
        "src" -> false, "dim" -> false, "dim2" -> false)
      // a rollback UNDOES history — whether the surviving range since the
      // recorded snapshot is append-only depends on what it truncated, so
      // after one the model checks content only, not strategy
      var sloppy = false

      def countWhere(table: String, p: String): Long =
        e.query(SqlStatement(s"SELECT count(*) AS c FROM demo.$table WHERE $p"))
          .collect()(0).getLong(0)

      def refreshAll(tag: String): Unit = {
        mvs.foreach { case (name, defSql, incMode, tables) =>
          val recorded = e.catalog.materializedViewMeta("demo", name).get._2
          val recordedIntact = tables.forall { t =>
            recorded.get(s"demo.$t").forall { id =>
              id == 0L || e.catalog.snapshots("demo", t).exists(_.snapshotId == id)
            }
          }
          e.executeNonQuery(SqlStatement(s"REFRESH MATERIALIZED VIEW demo.$name"))
          val mode = e.lastMvRefreshMode
          val moved = tables.map(inserted(_)).sum
          val dirty = tables.exists(nonAppend(_))
          val expect: Set[String] =
            if (incMode == "full") Set("full")
            else if (sloppy) Set("full", "noop", incMode)
            else if (dirty || !recordedIntact) Set("full", "noop")
            else if (moved > 0) Set(incMode)
            else Set("noop")
          require(expect.contains(mode),
            s"scenario_$i $tag demo.$name: mode '$mode' not in $expect " +
              s"(moved=$moved dirty=$dirty sloppy=$sloppy intact=$recordedIntact)")
          val got = e.query(SqlStatement(s"SELECT * FROM demo.$name"))
            .collect().map(_.toString).sorted.toSeq
          val want = e.query(SqlStatement(defSql))
            .collect().map(_.toString).sorted.toSeq
          require(got == want,
            s"scenario_$i $tag demo.$name diverged from recompute:\n" +
              s"  mv      = $got\n  rebuild = $want")
        }
        inserted.keys.foreach(inserted(_) = 0L)
        nonAppend.keys.foreach(nonAppend(_) = false)
        sloppy = false
      }

      val nOps = 10 + rnd.nextInt(6)
      (0 until nOps).foreach { op =>
        rnd.nextInt(15) match {
          case 0 | 1 | 2 | 3 =>
            val k = 1 + rnd.nextInt(4); insert(k); inserted("src") += k
          case 4 =>
            val p = pick(preds(nextId))
            val matched = countWhere("src", p)
            e.executeNonQuery(SqlStatement(
              s"UPDATE demo.src SET v = v + ${1 + rnd.nextInt(9)} WHERE $p"))
            if (matched > 0) nonAppend("src") = true
          case 5 =>
            val p = pick(preds(nextId))
            val matched = countWhere("src", p)
            e.executeNonQuery(SqlStatement(s"DELETE FROM demo.src WHERE $p"))
            if (matched > 0) nonAppend("src") = true
          case 6 => refreshAll(s"op_$op")
          case 7 =>
            e.executeNonQuery(SqlStatement(
              "ALTER TABLE demo.src EXECUTE expire_snapshots(" +
                "retention_threshold => '0s')"))
          case 8 =>
            val snaps = e.catalog.snapshots("demo", "src")
            if (snaps.size >= 2) {
              val target = snaps(rnd.nextInt(snaps.size - 1)) // never head
              e.executeNonQuery(SqlStatement(
                "ALTER TABLE demo.src EXECUTE rollback_to_snapshot(" +
                  s"snapshot_id => ${target.snapshotId})"))
              sloppy = true
            }
          case 9 =>
            val k = 1 + rnd.nextInt(2); insertDim(k); inserted("dim") += k
          case 10 =>
            val g = s"'${('a' + rnd.nextInt(5)).toChar}'"
            val matched = countWhere("dim", s"g = $g")
            e.executeNonQuery(SqlStatement(
              s"UPDATE demo.dim SET w = w + 1 WHERE g = $g"))
            if (matched > 0) nonAppend("dim") = true
          case 11 =>
            // metadata-delete shape (round-11): an id-range retention
            // DELETE whose bounds may prove whole files total — the
            // pure-metadata commit is still a NON-APPEND commit, so
            // every MV over src must recompute (or noop), never replay
            val cut = if (nextId <= 1) 1L else 1L + rnd.nextLong(nextId)
            val matched = countWhere("src", s"id <= $cut")
            e.executeNonQuery(SqlStatement(s"DELETE FROM demo.src WHERE id <= $cut"))
            if (matched > 0) nonAppend("src") = true
          case 13 =>
            val k = 1 + rnd.nextInt(2); insertDim2(k); inserted("dim2") += k
          case 14 =>
            val g = s"'${('a' + rnd.nextInt(5)).toChar}'"
            val matched = countWhere("dim2", s"g2 = $g")
            e.executeNonQuery(SqlStatement(
              s"UPDATE demo.dim2 SET t = t + 1 WHERE g2 = $g"))
            if (matched > 0) nonAppend("dim2") = true
          case 12 =>
            // drop/recreate: snapshot ids restart — the incarnation
            // identity must force recompute even when the new head id
            // matches the recorded one (the false-noop trap)
            e.executeNonQuery(SqlStatement("DROP TABLE demo.src"))
            e.executeNonQuery(SqlStatement(
              "CREATE TABLE demo.src (id bigint, grp varchar, v bigint)"))
            insert(2 + rnd.nextInt(3))
            nonAppend("src") = true
        }
      }
      refreshAll("final")
      refreshAll("idempotent") // nothing moved: every eligible MV noops

      CacheHygiene.sweep(spark)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
      println(s"[mvfuzz] scenario_$i: $nOps ops OK")
    }
    println(s"[mvfuzz] $n/$n incremental-MV scenarios OK (seed=$seed)")
  }
}
