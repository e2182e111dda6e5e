package graft

import org.apache.spark.sql.SparkSession

/** Dev-only randomized DIFFERENTIAL DML fuzzer: builds a fresh catalog
  * table from nation, applies a seeded-random sequence of UPDATE / DELETE
  * statements through the engine's SQL-DML path (copy-on-write rewrite
  * commits), and dumps the final table state next to a DuckDB oracle that
  * replays the same sequence RELATIONALLY — each UPDATE as a CASE
  * projection over the prior state, each DELETE as `NOT coalesce(pred,
  * FALSE)` (SQL 3VL: only TRUE deletes) — as a nested CTE chain.
  * tools/selfcheck.py then does the exact compare. Exercises the
  * assignment-cast, simultaneous-assignment, and NULL-predicate corners
  * (nullif assignments deliberately INJECT NULLs that later predicates
  * must 3VL-handle) across randomized op orders no hand-written spec
  * enumerates. Usage: runMain graft.DevFuzzDml <sfDir> <outDir> [n] [seed]
  */
object DevFuzzDml {
  def main(args: Array[String]): Unit =
    HarnessSession.oracleFuzzMain(args, n = 20, seed = 7L)(run)

  def run(spark: SparkSession, sfDir: String, outDir: String,
          n: Int, seed: Long): Unit = {
    new java.io.File(outDir).mkdirs()

    val rnd = new scala.util.Random(seed)
    def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.length))

    // predicate atoms in the Spark∩DuckDB common subset; nullif-injected
    // NULL regionkeys make 3VL live on every later predicate. The two
    // RANGE shapes (round-11) are bounds-TOTAL over whole files — the
    // low cut over base-nation files, the 10⁶ cut over every add_files-
    // adopted slice (their ids all sit ≥ 10⁶) — so DELETEs drawing them
    // exercise the metadata-drop tier, including its dropGate blocking
    // when a prior upsert left pending equality deletes
    def atom(): String = rnd.nextInt(7) match {
      case 0 => s"n_regionkey = ${rnd.nextInt(5)}"
      case 1 => s"n_nationkey % ${rnd.nextInt(5) + 2} = ${rnd.nextInt(2)}"
      case 2 => s"n_name LIKE '${('A' + rnd.nextInt(26)).toChar}%'"
      case 3 => s"nullif(n_regionkey, ${rnd.nextInt(5)}) = ${rnd.nextInt(5)}"
      case 4 => s"n_nationkey >= ${rnd.nextInt(25)}"
      case 5 => s"n_nationkey <= ${rnd.nextInt(30)}"
      case 6 => "n_nationkey >= 1000000"
    }
    def pred(): String = rnd.nextInt(3) match {
      case 0 => atom()
      case 1 => s"(${atom()} AND ${atom()})"
      case 2 => s"(${atom()} OR ${atom()})"
    }
    // assignment expressions; all keep n_name non-NULL (concat NULL
    // handling differs across engines — DuckDB skips, Spark propagates —
    // so the generator never feeds concat a nullable argument)
    def nameExpr(): String = rnd.nextInt(3) match {
      case 0 => s"concat(n_name, '_${('a' + rnd.nextInt(26)).toChar}')"
      case 1 => "upper(n_name)"
      case 2 => s"substr(n_name, 1, ${rnd.nextInt(6) + 3})"
    }
    def rkExpr(): String = rnd.nextInt(4) match {
      case 0 => "n_regionkey + 1"
      case 1 => s"nullif(n_regionkey, ${rnd.nextInt(5)})" // inject NULLs
      case 2 => s"${rnd.nextInt(4) + 4} - n_regionkey"
      case 3 => "n_regionkey * 2"
    }

    sealed trait Op
    final case class Upd(sets: Seq[(String, String)], where: String) extends Op
    final case class Del(where: String) extends Op
    // CREATE OR REPLACE TABLE … AS SELECT <cols> FROM fz.t WHERE p —
    // relationally a FILTER, but physically a full replace commit that
    // resets the partition/sort specs mid-sequence (later DML runs
    // unpartitioned over a history whose older snapshots are partitioned)
    final case class Repl(where: String) extends Op
    // ALTER TABLE EXECUTE add_files — adopt an external parquet dir in
    // place; relationally a UNION ALL of a fixed shifted-id nation slice
    // (ids offset ≥ 10^6 so no merge-mapped or base id ever collides)
    final case class AddF(k: Int, path: String) extends Op
    // equality-delete upsert (format_version = 2 scenarios only):
    // relationally anti-join-on-key + union of the batch — the batch is
    // a filtered base-nation slice, so the oracle replays it exactly
    final case class Ups(where: String) extends Op

    // ---- MERGE: source derived from the CURRENT state via an injective
    //      affine id map (unique ids → the cardinality rule can't fire),
    //      random matched clauses (first-match-wins) + a guarded insert
    sealed trait MAction
    final case class MUpdate(sets: Seq[(String, String)]) extends MAction // exprs over t./s.
    case object MDelete extends MAction
    final case class MClause(cond: Option[String], action: MAction)
    final case class Mrg(mul: Int, off: Int, matched: Seq[MClause],
                         insertCond: Option[String]) extends Op

    def mergePred(): String = rnd.nextInt(4) match {
      case 0 => s"t.n_regionkey = ${rnd.nextInt(5)}"
      case 1 => s"s.rk = ${rnd.nextInt(5)}"
      case 2 => s"t.n_nationkey % ${rnd.nextInt(4) + 2} = ${rnd.nextInt(2)}"
      case 3 => s"s.nm LIKE '${('A' + rnd.nextInt(26)).toChar}%'"
    }
    def insPred(): String = rnd.nextInt(3) match {
      case 0 => s"s.id % ${rnd.nextInt(4) + 2} = ${rnd.nextInt(2)}"
      case 1 => s"s.rk = ${rnd.nextInt(5)}"
      case 2 => s"s.id >= ${rnd.nextInt(60)}"
    }
    def mUpdateSets(): Seq[(String, String)] = rnd.nextInt(3) match {
      case 0 => Seq("n_name" -> s"concat(t.n_name, '+', s.nm)")
      case 1 => Seq("n_regionkey" -> "s.rk + 1")
      case 2 => Seq("n_name" -> "upper(s.nm)", "n_regionkey" -> "t.n_regionkey + s.rk")
    }
    def genMerge(): Mrg = {
      val first = MClause(Some(mergePred()),
        if (rnd.nextBoolean()) MDelete else MUpdate(mUpdateSets()))
      // an unconditional second clause catches what the first one skips
      val second = if (rnd.nextBoolean()) Seq(MClause(None, MUpdate(mUpdateSets()))) else Nil
      Mrg(rnd.nextInt(2) + 2, rnd.nextInt(2),
        first +: second,
        if (rnd.nextBoolean()) Some(insPred()) else None)
    }

    def genOps(scenario: Int, startPartitioned: Boolean,
               allowUpsert: Boolean): Seq[Op] = {
      // replace drops the partition spec; add_files requires an
      // unpartitioned target — track layout state through the sequence
      var isPart = startPartitioned
      (0 until rnd.nextInt(4) + 3).map { k =>
        rnd.nextInt(7) match {
          case 0 => Del(pred())
          case 1 => genMerge()
          case 4 =>
            isPart = false
            Repl(pred())
          case 5 if !isPart =>
            AddF(k, s"$outDir/ext_${scenario}_$k")
          case 6 if allowUpsert => Ups(pred())
          case _ =>
            val sets = rnd.nextInt(3) match {
              case 0 => Seq("n_name" -> nameExpr())
              case 1 => Seq("n_regionkey" -> rkExpr())
              case 2 => Seq("n_name" -> nameExpr(), "n_regionkey" -> rkExpr())
            }
            Upd(sets, pred())
        }
      }
    }

    val cols = Seq("n_nationkey", "n_name", "n_regionkey")

    /** The SQL-DML statement the ENGINE executes for one op. */
    def stmtOf(op: Op): String = op match {
      case Upd(sets, where) =>
        s"UPDATE fz.t SET ${sets.map { case (c, e) => s"$c = $e" }.mkString(", ")} WHERE $where"
      case Del(where) => s"DELETE FROM fz.t WHERE $where"
      case Repl(where) =>
        "CREATE OR REPLACE TABLE fz.t AS " +
          s"SELECT n_nationkey, n_name, n_regionkey FROM fz.t WHERE $where"
      case AddF(_, path) =>
        s"ALTER TABLE fz.t EXECUTE add_files(location => '$path')"
      case Ups(where) => s"-- catalog.upsert batch: base nation WHERE $where"
      case Mrg(mul, off, matched, insertCond) =>
        val srcSql = s"SELECT n_nationkey * $mul + $off AS id, " +
          "concat(n_name, '_s') AS nm, n_regionkey AS rk FROM fz.t"
        val mTxt = matched.map { c =>
          val and = c.cond.map(p => s"AND $p ").getOrElse("")
          c.action match {
            case MDelete => s"WHEN MATCHED ${and}THEN DELETE"
            case MUpdate(sets) =>
              s"WHEN MATCHED ${and}THEN UPDATE SET " +
                sets.map { case (col, e) => s"$col = $e" }.mkString(", ")
          }
        }.mkString("\n")
        val ins = s"WHEN NOT MATCHED ${insertCond.map(p => s"AND $p ").getOrElse("")}" +
          "THEN INSERT VALUES (s.id, s.nm, s.rk)"
        s"MERGE INTO fz.t t USING ($srcSql) s ON t.n_nationkey = s.id\n$mTxt\n$ins"
    }

    /** DuckDB replay: state k+1 as a projection/filter/join over state k
      * (UPDATE → CASE projection, DELETE → 3VL filter, MERGE → join +
      * two anti-joins with a first-match-wins action index).
      */
    def replayCtes(op: Op, prev: String, k: Int): Seq[String] = op match {
      case Upd(sets, where) =>
        val proj = cols.map { c =>
          sets.find(_._1 == c) match {
            case Some((_, e)) => s"CASE WHEN $where THEN $e ELSE $c END AS $c"
            case None => c
          }
        }.mkString(", ")
        Seq(s"s${k + 1} AS (SELECT $proj FROM $prev)")
      case Del(where) =>
        Seq(s"s${k + 1} AS (SELECT * FROM $prev WHERE NOT coalesce($where, FALSE))")
      case Repl(where) =>
        // CREATE OR REPLACE … AS SELECT … WHERE p keeps rows p is TRUE on
        Seq(s"s${k + 1} AS (SELECT * FROM $prev WHERE coalesce($where, FALSE))")
      case AddF(ak, _) =>
        Seq(s"s${k + 1} AS (SELECT * FROM $prev UNION ALL " +
          s"SELECT n_nationkey + ${1000000L + 1000L * ak} AS n_nationkey, " +
          "concat(n_name, '_x') AS n_name, n_regionkey FROM nation)")
      case Ups(where) =>
        // upsert = delete ALL rows whose key appears in the batch (the
        // eq-delete covers every current file), then append the batch
        Seq(s"b$k AS (SELECT n_nationkey, concat(n_name, '_up') AS n_name, " +
          s"n_regionkey FROM nation WHERE coalesce($where, FALSE))",
          s"s${k + 1} AS (SELECT t.* FROM $prev t " +
            s"ANTI JOIN b$k ON t.n_nationkey = b$k.n_nationkey " +
            s"UNION ALL SELECT * FROM b$k)")
      case Mrg(mul, off, matched, insertCond) =>
        val src = s"src$k"
        val m = s"m$k"
        // first-match-wins action index, evaluated with the same t/s
        // aliases the MERGE text uses; -1 = no clause applies
        val aidx = "CASE " + matched.zipWithIndex.map { case (c, i) =>
          s"WHEN ${c.cond.map(p => s"coalesce($p, FALSE)").getOrElse("TRUE")} THEN $i"
        }.mkString(" ") + " ELSE -1 END"
        // pre-compute every update clause's new values while both sides
        // are in scope (simultaneous-assignment semantics: all exprs read
        // the PRE-merge row)
        val newVals = matched.zipWithIndex.flatMap {
          case (MClause(_, MUpdate(sets)), i) =>
            sets.map { case (c, e) => s"$e AS v_${i}_$c" }
          case _ => Nil
        }
        val deleteIdxs = matched.zipWithIndex.collect {
          case (MClause(_, MDelete), i) => i
        }
        val keepFilter =
          if (deleteIdxs.isEmpty) "" else s" WHERE aidx NOT IN (${deleteIdxs.mkString(", ")})"
        val outCols = cols.map { c =>
          val cases = matched.zipWithIndex.collect {
            case (MClause(_, MUpdate(sets)), i) if sets.exists(_._1 == c) =>
              s"WHEN aidx = $i THEN v_${i}_$c"
          }
          if (cases.isEmpty) c
          else s"CASE ${cases.mkString(" ")} ELSE $c END AS $c"
        }.mkString(", ")
        Seq(
          s"$src AS (SELECT n_nationkey * $mul + $off AS id, " +
            s"concat(n_name, '_s') AS nm, n_regionkey AS rk FROM $prev)",
          s"$m AS (SELECT t.n_nationkey, t.n_name, t.n_regionkey, " +
            (newVals :+ s"$aidx AS aidx").mkString(", ") +
            s" FROM $prev t JOIN $src s ON t.n_nationkey = s.id)",
          s"s${k + 1} AS (SELECT $outCols FROM $m$keepFilter" +
            s" UNION ALL SELECT t.* FROM $prev t ANTI JOIN $src s ON t.n_nationkey = s.id" +
            s" UNION ALL SELECT s.id, s.nm, s.rk FROM $src s ANTI JOIN $prev t ON t.n_nationkey = s.id" +
            insertCond.map(p => s" WHERE coalesce($p, FALSE)").getOrElse("") + ")")
    }

    val results = (0 until n).map { i =>
      val name = f"dml_$i%03d"
      val wh = s"$outDir/wh_$i"
      val engine = new GraftEngine(spark, wh)
      engine.catalog.createSchema("fz")
      val nation = Tables.nation(spark, sfDir)
        .select(org.apache.spark.sql.functions.col("n_nationkey"),
          org.apache.spark.sql.functions.col("n_name"),
          org.apache.spark.sql.functions.col("n_regionkey"))
      // half the scenarios run on a PARTITIONED table: the hive-named
      // `_snap=` snapshot layout + single-scan partitioned read under
      // randomized copy-on-write rewrites — including NULL partition
      // values injected by nullif (hive default-partition dirs) and
      // UPDATEs that MOVE rows across partition values
      val partitioned = rnd.nextBoolean()
      // ... and half run format_version = 2 (merge-on-read): UPDATE/DELETE
      // and MERGE commit positional-delete files — randomized
      // interleavings of the two commit kinds against the same
      // relational oracle
      val mor = rnd.nextBoolean()
      // partitioned scenarios randomize the spec SHAPE too: identity,
      // hash-bucket, or string-truncate transform (hidden partitioning) —
      // the oracle is layout-independent, so any divergence in derived-dir
      // writing, transform projection, or hidden-column dropping surfaces
      // as a hash mismatch
      val partSpec =
        if (!partitioned) Nil
        else rnd.nextInt(3) match {
          case 0 => Seq("n_regionkey")
          case 1 => Seq("bucket(4, n_nationkey)")
          case 2 => Seq("truncate(1, n_name)")
        }
      // randomize the SORT spec too: clustering is layout-only, so any
      // divergence it causes (z-value arithmetic, clustered rewrite
      // paths) surfaces as a hash mismatch against the same oracle
      val sortSpec = rnd.nextInt(4) match {
        case 0 => Nil
        case 1 => Seq("n_nationkey")
        case 2 => Seq("n_name DESC")
        case 3 => Seq("zorder(n_nationkey, n_regionkey)")
      }
      engine.catalog.createTable("fz", "t", nation.schema,
        partitionedBy = partSpec,
        formatVersion = if (mor) 2 else 1,
        sortedBy = sortSpec)
      engine.catalog.insert("fz", "t", nation)
      // a quarter of transform-partitioned scenarios EVOLVE the spec
      // mid-sequence (Iceberg partition evolution): later DML runs over
      // mixed directory generations served by the manifest relation
      if (partSpec.exists(_.contains("(")) && rnd.nextInt(4) == 0) {
        val evolved = partSpec.head match {
          case s if s.startsWith("bucket")   => Seq("bucket(2, n_nationkey)")
          case s if s.startsWith("truncate") => Seq("truncate(2, n_name)")
          case other                         => Seq(other)
        }
        engine.catalog.setPartitionSpec("fz", "t", evolved)
        // later DML rewrites now land under the NEW spec's directories
        // while untouched files stay under the old one — mixed
        // generations in one live table
      }
      val ops = genOps(i, partSpec.nonEmpty, allowUpsert = mor)
      ops.foreach {
        case Ups(where) =>
          import org.apache.spark.sql.functions.{col, concat, expr, lit}
          val batch = nation.filter(org.apache.spark.sql.functions
              .coalesce(expr(where), lit(false)))
            .select(col("n_nationkey"),
              concat(col("n_name"), lit("_up")).as("n_name"),
              col("n_regionkey"))
          // an upsert needs a non-empty batch only relationally — an
          // empty batch is a valid no-op commit too
          engine.catalog.upsert("fz", "t", batch, Seq("n_nationkey"))
        case a @ AddF(ak, path) =>
          // write the external parquet the statement adopts: the shifted
          // nation slice, 2 files, types cast to the table's declared ones
          import org.apache.spark.sql.functions.{col, concat, lit}
          nation.select(
              (col("n_nationkey") + lit(1000000L + 1000L * ak))
                .cast(nation.schema("n_nationkey").dataType).as("n_nationkey"),
              concat(col("n_name"), lit("_x")).as("n_name"),
              col("n_regionkey"))
            .repartition(2).write.mode("overwrite").parquet(path)
          engine.executeNonQuery(params.SqlStatement(stmtOf(a)))
        case op => engine.executeNonQuery(params.SqlStatement(stmtOf(op)))
      }
      // CDC invariant (readChanges): replaying the change stream from the
      // empty table reconstructs the final state as a multiset — inserts
      // except-all deletes == actual rows — across every randomized mix
      // of CoW/MoR UPDATE/DELETE/MERGE, partition spec, and transform
      locally {
        import org.apache.spark.sql.functions.col
        val cat = engine.catalog
        val head = cat.snapshots("fz", "t").last.snapshotId
        val ch = cat.readChanges("fz", "t", 0L, head)
          .select((cols :+ "_change_type").map(col): _*)
        val ins = ch.filter(col("_change_type") === "insert").drop("_change_type")
        val del = ch.filter(col("_change_type") === "delete").drop("_change_type")
        val reconstructed = ins.exceptAll(del)
        val actual = cat.readLatest("fz", "t").select(cols.map(col): _*)
        val extra = reconstructed.exceptAll(actual).count()
        val missing = actual.exceptAll(reconstructed).count()
        require(extra == 0 && missing == 0,
          s"[$name] CDC replay mismatch vs final state: " +
            s"$extra phantom rows, $missing missing rows")
      }
      // STREAMING replay invariant (every 3rd scenario): a graft-table
      // CDC stream paced one commit per micro-batch must deliver, across
      // all its batches, exactly the multiset readChanges computes in one
      // shot — the streaming source's incremental batching introduces no
      // phantom/missing change rows over any fuzzed mix of CoW/MoR DML,
      // MERGE, partition-spec shape/evolution, and compaction
      if (i % 3 == 0) locally {
        import org.apache.spark.sql.functions.col
        val chCols = cols :+ "_change_type"
        val streamed = collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
        val q = spark.readStream.format("graft-table")
          .option("warehouse", engine.catalog.warehouse)
          .option("schema", "fz").option("table", "t")
          .option("readChangeFeed", "true")
          .option("maxSnapshotsPerTrigger", "1")
          .load()
          .writeStream.outputMode("append")
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            streamed ++= b.select(chCols.map(col): _*).collect(); ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination(180000)
        val head = engine.catalog.snapshots("fz", "t").last.snapshotId
        val oneShot = engine.catalog.readChanges("fz", "t", 0L, head)
          .select(chCols.map(col): _*)
        val sSchema = oneShot.schema
        val sDf = spark.createDataFrame(
          new java.util.ArrayList(scala.jdk.CollectionConverters
            .SeqHasAsJava(streamed.toSeq).asJava), sSchema)
        val phantom = sDf.exceptAll(oneShot).count()
        val missing = oneShot.exceptAll(sDf).count()
        require(phantom == 0 && missing == 0,
          s"[$name] streamed CDC mismatch vs readChanges: " +
            s"$phantom phantom rows, $missing missing rows")
      }
      // half the scenarios fork a BRANCH at the post-sequence head and
      // apply 1-2 more UPDATE/DELETE ops THROUGH the branch view — the
      // main dump below happens AFTER the branch mutations, so a branch
      // write leaking into main would hash-mismatch the main oracle,
      // and the branch dump gets its own oracle = the main chain
      // extended by the branch ops
      val branchOps: Seq[Op] =
        if (rnd.nextBoolean()) Nil
        else (0 until rnd.nextInt(2) + 1).map { _ =>
          if (rnd.nextBoolean()) Del(pred())
          else Upd(rnd.nextInt(3) match {
            case 0 => Seq("n_name" -> nameExpr())
            case 1 => Seq("n_regionkey" -> rkExpr())
            case 2 => Seq("n_name" -> nameExpr(), "n_regionkey" -> rkExpr())
          }, pred())
        }
      if (branchOps.nonEmpty) {
        engine.catalog.createBranch("fz", "t", "dev")
        val bc = engine.catalog.branch("dev")
        import org.apache.spark.sql.functions.expr
        // through the SQL branch-DML surface (`fz."t@dev"` operands) so
        // the quoted-branch parse + routing path is fuzzed too
        branchOps.foreach {
          case Del(w) => engine.executeNonQuery(params.SqlStatement(
            s"""DELETE FROM fz."t@dev" WHERE $w"""))
          case Upd(sets, w) => engine.executeNonQuery(params.SqlStatement(
            s"""UPDATE fz."t@dev" SET ${sets.map { case (c, e) => s"$c = $e" }
              .mkString(", ")} WHERE $w"""))
          case _ => ()
        }
      }
      // MERGE makes n_nationkey non-unique across inserts of mapped ids
      // colliding with later states only by construction of the affine
      // map — sort on ALL columns so row order is deterministic even if
      // two rows share a key
      engine.query(params.SqlStatement(
        "SELECT n_nationkey, n_name, n_regionkey FROM fz.t " +
          "ORDER BY n_nationkey, n_name, n_regionkey"))
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      val ctes = ops.zipWithIndex.flatMap { case (op, k) =>
        replayCtes(op, s"s$k", k)
      }
      val m = ops.length
      val oracleSql =
        (s"WITH s0 AS (SELECT n_nationkey, n_name, n_regionkey FROM nation)" +:
          ctes).mkString(", ") +
          s" SELECT * FROM s$m ORDER BY n_nationkey, n_name, n_regionkey"
      val branchResult =
        if (branchOps.isEmpty) Nil
        else {
          engine.catalog.branch("dev").readLatest("fz", "t")
            .selectExpr("n_nationkey", "n_name", "n_regionkey")
            .orderBy("n_nationkey", "n_name", "n_regionkey")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/${name}_br")
          val bCtes = branchOps.zipWithIndex.flatMap { case (op, k) =>
            replayCtes(op, s"s${m + k}", m + k)
          }
          val bOracle =
            (s"WITH s0 AS (SELECT n_nationkey, n_name, n_regionkey FROM nation)" +:
              (ctes ++ bCtes)).mkString(", ") +
              s" SELECT * FROM s${m + branchOps.length} " +
              "ORDER BY n_nationkey, n_name, n_regionkey"
          Seq(s"${name}_br" -> bOracle)
        }
      Seq(name -> oracleSql) ++ branchResult
    }.flatten
    Verify.writeOracleSql(outDir, results)
    println(s"[fuzzdml] $n DML sequences dumped to $outDir (seed=$seed)")
  }
}
