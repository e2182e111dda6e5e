package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.catalog.SnapshotCatalog

/** Fuzz dialect 8 — randomized CRASH-INJECTION soak, the fuzz companion
  * of CrashInjectionSpec's deterministic cases: each scenario builds a
  * table through a random op prefix (tracked in a driver-side model),
  * then crashes a random operation at one of its declared fault points
  * and verifies from a FRESH catalog instance that
  *
  *  1. the table reads as exactly the model-before state (pre-commit
  *     points) or the model-after state (post-commit points) — never a
  *     torn hybrid;
  *  2. removeOrphanFiles reclaims the stranded debris without touching
  *     live data;
  *  3. retrying a pre-commit-crashed op (or just proceeding, for
  *     post-commit points) converges on the model, and a random op
  *     suffix keeps the table model-exact — the crash leaves no latent
  *     corruption behind.
  *
  * Usage: runMain graft.DevFuzzCrash [n] [seed]
  */
object DevFuzzCrash {

  private final class InjectedCrash(p: String)
    extends RuntimeException(s"injected crash at $p")

  private sealed trait Op { def points: Seq[String] }
  private final case class Ins(rows: Seq[(Long, String)]) extends Op {
    def points: Seq[String] = Seq("insert.staged", "commit.staged")
  }
  private final case class Del(below: Long) extends Op {
    def points: Seq[String] = Seq("commit.staged")
  }
  private final case class Ups(rows: Seq[(Long, String)]) extends Op {
    def points: Seq[String] = Seq("upsert.staged", "commit.staged")
  }
  private final case class Cmp() extends Op {
    def points: Seq[String] = Seq("compact.staged", "commit.staged")
  }
  private final case class Exp() extends Op {
    def points: Seq[String] = Seq("expire.committed")
  }
  private final case class Rep(rows: Seq[(Long, String)]) extends Op {
    def points: Seq[String] =
      Seq("replace.data-written", "replace.marker-staged", "replace.committed")
  }
  // points where the operation's commit is already durable when the
  // crash hits — the model advances and the op must NOT be retried
  private val postCommit = Set("expire.committed", "replace.committed")

  def main(args: Array[String]): Unit =
    HarnessSession.fuzzMain(args, n = 12, seed = 20260814L)(run)

  def run(spark: SparkSession, n: Int, seed: Long): Unit = {
    import spark.implicits._

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))

    var ok = 0

    // every 4th scenario exercises the MULTI-TABLE surface instead:
    // catalog-ref publish/materialize crashes and migrate crashes —
    // the points the single-table model loop cannot reach
    def multiTableScenario(i: Int, rnd: scala.util.Random): Unit = {
      val wh = java.nio.file.Files.createTempDirectory(f"crashfuzz_mt_$i%03d").toString
      val c = new SnapshotCatalog(spark, wh)
      c.createSchema("fz")
      if (rnd.nextBoolean()) {
        // catalog-ref crash: random member count, crash at a random
        // materialization point, verify all-or-nothing + resume
        val nT = rnd.nextInt(2) + 2
        val tables = (0 until nT).map(t => s"t$t")
        tables.foreach { t =>
          c.createTable("fz", t, schema)
          c.insert("fz", t, Seq((1L, "base")).toDF("id", "v"))
        }
        c.createCatalogBranch("wap", tables.map(("fz", _)))
        val b = c.branch("wap")
        tables.foreach(t => b.insert("fz", t, Seq((2L, "branch")).toDF("id", "v")))
        c.publishCatalogBranchCas("wap")
        val point = if (rnd.nextBoolean()) "catref.member-materialized"
                    else "catref.pre-retire"
        SnapshotCatalog.faultHook =
          p => if (p == point) throw new InjectedCrash(point)
        try c.materializeCatalogBranch("wap")
        catch { case _: InjectedCrash => () }
        SnapshotCatalog.faultHook = _ => ()
        val r = new SnapshotCatalog(spark, wh)
        tables.foreach(t => require(r.readLatest("fz", t).count() == 2L,
          s"mt scenario $i: $t lost the published head after crash@$point"))
        r.materializeCatalogBranch("wap")
        require(!r.listCatalogBranches().contains("wap"),
          s"mt scenario $i: ref not retired after resumed materialization")
        val r2 = new SnapshotCatalog(spark, wh)
        tables.foreach(t => require(r2.readLatest("fz", t).count() == 2L,
          s"mt scenario $i: $t inconsistent after resume"))
        println(f"[crashfuzz] $i%03d OK ($point, $nT members)")
      } else {
        // migrate crash: layout written, marker not — retry must succeed
        val lake = java.nio.file.Files.createTempDirectory(s"crashfuzz_lake_$i").toString
        val hive = rnd.nextBoolean()
        val df = Seq((1L, 1, "a"), (2L, 2, "b")).toDF("id", "p", "v")
        (if (hive) df.write.partitionBy("p") else df.write)
          .mode("overwrite").parquet(lake)
        SnapshotCatalog.faultHook = p =>
          if (p == "migrate.layout-written") throw new InjectedCrash(p)
        try c.migrateTable("fz", "m", lake)
        catch { case _: InjectedCrash => () }
        SnapshotCatalog.faultHook = _ => ()
        val r = new SnapshotCatalog(spark, wh)
        require(!r.tableExists("fz", "m"),
          s"mt scenario $i: crashed migrate left a catalog table")
        require(r.migrateTable("fz", "m", lake) >= 1L)
        require(r.readLatest("fz", "m").count() == 2L,
          s"mt scenario $i: re-migrate read mismatch (hive=$hive)")
        println(f"[crashfuzz] $i%03d OK (migrate.layout-written, hive=$hive)")
      }
    }

    for (i <- 0 until n) {
      val rnd = new scala.util.Random(seed * 1000 + i)
      // java.util.Random's first draws are correlated across sequential
      // seeds (every scenario read the same v2 otherwise) — churn first
      (0 until 7).foreach(_ => rnd.nextInt())
      if (i % 4 == 3) {
        try { multiTableScenario(i, rnd); ok += 1 }
        catch { case e: Throwable =>
          println(f"[crashfuzz] $i%03d FAIL: ${e.getMessage}") }
        finally { SnapshotCatalog.faultHook = _ => (); CacheHygiene.sweep(spark) }
      } else {
      val wh = java.nio.file.Files.createTempDirectory(f"crashfuzz_$i%03d").toString
      val v2 = rnd.nextBoolean()
      val c = new SnapshotCatalog(spark, wh)
      c.createSchema("fz")
      c.createTable("fz", "t", schema, formatVersion = if (v2) 2 else 1)
      var model = Vector.empty[(Long, String)]
      var nextId = 0L

      def randOp(): Op = rnd.nextInt(if (v2) 6 else 5) match {
        case 0 | 1 =>
          val rows = (0 until rnd.nextInt(3) + 1).map { _ =>
            nextId += 1; (nextId, s"v$nextId") }
          Ins(rows)
        case 2 =>
          if (model.isEmpty) { nextId += 1; Ins(Seq((nextId, s"v$nextId"))) }
          else Del(model(rnd.nextInt(model.size))._1 + 1)
        case 3 => Cmp()
        case 4 =>
          if (rnd.nextBoolean()) Exp()
          else { val rows = (0 until rnd.nextInt(2) + 1).map { _ =>
            nextId += 1; (nextId, s"r$nextId") }; Rep(rows) }
        case _ =>
          // half updates of existing ids, half fresh — the eq-delete shape
          val rows = (0 until rnd.nextInt(3) + 1).map { _ =>
            if (model.nonEmpty && rnd.nextBoolean()) {
              val id = model(rnd.nextInt(model.size))._1; (id, s"u$id")
            } else { nextId += 1; (nextId, s"v$nextId") } }
          Ups(rows.distinctBy(_._1))
      }

      def apply(cat: SnapshotCatalog, op: Op): Unit = op match {
        case Ins(rows) => cat.insert("fz", "t", rows.toDF("id", "v"))
        case Del(b)    => cat.delete("fz", "t", col("id") < b)
        case Ups(rows) => cat.upsert("fz", "t", rows.toDF("id", "v"), Seq("id"))
        case Cmp()     => cat.compact("fz", "t")
        case Exp()     => cat.expireSnapshots("fz", "t", System.currentTimeMillis() + 3600000)
        case Rep(rows) => cat.replaceTableAs("fz", "t", rows.toDF("id", "v"))
      }
      def advance(op: Op): Unit = op match {
        case Ins(rows) => model = model ++ rows
        case Del(b)    => model = model.filterNot(_._1 < b)
        case Ups(rows) =>
          model = model.filterNot(r => rows.exists(_._1 == r._1)) ++ rows
        case Cmp() | Exp() => ()
        case Rep(rows) => model = rows.toVector
      }
      def read(cat: SnapshotCatalog): Vector[(Long, String)] =
        cat.readLatest("fz", "t").select("id", "v")
          .as[(Long, String)].collect().toVector.sortBy(_._1)
      def check(label: String, cat: SnapshotCatalog): Unit = {
        val got = read(cat)
        val want = model.sortBy(_._1)
        require(got == want, s"scenario $i $label: got $got want $want")
      }

      try {
        // seed commit + random prefix, applied cleanly
        val seedOp = { nextId += 1; Ins(Seq((nextId, s"v$nextId"))) }
        apply(c, seedOp); advance(seedOp)
        for (_ <- 0 until rnd.nextInt(3) + 1) {
          val op = randOp(); apply(c, op); advance(op)
        }
        // the crash: one op, one of its declared points
        val op = randOp()
        val point = op.points(rnd.nextInt(op.points.size))
        SnapshotCatalog.faultHook =
          p => if (p == point) throw new InjectedCrash(point)
        val crashed =
          try { apply(c, op); false }
          catch { case e: Throwable if {
                    var t: Throwable = e
                    var found = false
                    while (t != null && !found) {
                      found = t.isInstanceOf[InjectedCrash]; t = t.getCause }
                    found } => true }
        SnapshotCatalog.faultHook = _ => ()
        // an op can legitimately finish without reaching its point (an
        // expire with nothing to expire returns before the commit) — it
        // then simply applied; the crash protocol needs a real crash
        if (!crashed) advance(op)
        if (postCommit(point) && crashed) advance(op)
        // a fresh instance = a new process after the crash
        val r = new SnapshotCatalog(spark, wh)
        check(s"post-crash@$point", r)
        r.removeOrphanFiles("fz", "t")
        check(s"post-cleanup@$point", r)
        if (crashed && !postCommit(point)) { apply(r, op); advance(op) }
        check("post-retry", r)
        // a random suffix proves no latent damage
        for (_ <- 0 until rnd.nextInt(2) + 1) {
          val op2 = randOp(); apply(r, op2); advance(op2)
        }
        check("post-suffix", r)
        ok += 1
        println(f"[crashfuzz] $i%03d OK ($point on ${op.getClass.getSimpleName}, v2=$v2, crashed=$crashed)")
      } catch {
        case e: Throwable =>
          println(f"[crashfuzz] $i%03d FAIL: ${e.getMessage}")
      } finally {
        SnapshotCatalog.faultHook = _ => ()
        CacheHygiene.sweep(spark)
      }
      }
    }
    println(s"$ok/$n OK")
    if (ok != n) throw new IllegalStateException(s"${n - ok}/$n crash scenarios failed")
  }
}
