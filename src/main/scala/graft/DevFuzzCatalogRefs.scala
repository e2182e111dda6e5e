package graft

import org.apache.spark.sql.SparkSession
import graft.catalog.{CatalogPublishConflictException, SnapshotCatalog}

/** Fuzz dialect 7 — catalog-level (multi-table) refs: randomized
  * scenarios of 2-3 tables, a catalog branch over a member subset,
  * interleaved branch/main inserts, then publish. Self-verifying
  * against a driver-side model:
  *  - while the ref is open, main never sees a branch write;
  *  - a main insert on a MEMBER after branching ⇒ publish must throw a
  *    typed [[CatalogPublishConflictException]] naming exactly the
  *    diverged tables, with NO member published;
  *  - a clean publish is atomic: after the CAS half alone, a FRESH
  *    catalog (cold caches = another process) must see EVERY member's
  *    branch state simultaneously; materialization then retires the
  *    ref without changing any table's content;
  *  - non-member tables are never touched by any of it.
  *
  * Usage: runMain graft.DevFuzzCatalogRefs [n] [seed]
  */
object DevFuzzCatalogRefs {
  def main(args: Array[String]): Unit =
    HarnessSession.fuzzMain(args, n = 12, seed = 17L)(run)

  def run(spark: SparkSession, n: Int, seed: Long): Unit = {
    import spark.implicits._

    val rnd = new scala.util.Random(seed)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType)))

    (0 until n).foreach { i =>
      val wh = java.nio.file.Files.createTempDirectory(f"graft-creffuzz-$i%03d").toString
      val c = new SnapshotCatalog(spark, wh)
      c.createSchema("s")
      val nT = 2 + rnd.nextInt(2)
      val tables = (0 until nT).map(k => s"t$k")
      var nextId = 0L
      def rows(k: Int) = {
        val r = (0 until (1 + rnd.nextInt(3))).map { _ =>
          nextId += 1; (nextId, k.toLong)
        }
        r.toDF("id", "v")
      }
      // model: expected id-sets per table, main vs branch
      val main = scala.collection.mutable.Map.empty[String, Set[Long]]
      val br = scala.collection.mutable.Map.empty[String, Set[Long]]
      tables.zipWithIndex.foreach { case (t, k) =>
        c.createTable("s", t, schema)
        val df = rows(k)
        c.insert("s", t, df)
        main(t) = df.select("id").as[Long].collect().toSet
      }
      val members = rnd.shuffle(tables).take(2 + rnd.nextInt(nT - 1)).sorted
      c.createCatalogBranch("wap", members.map(("s", _)))
      members.foreach(t => br(t) = main(t))
      var diverged = Set.empty[String]
      val nOps = 3 + rnd.nextInt(6)
      (0 until nOps).foreach { _ =>
        val t = tables(rnd.nextInt(tables.size))
        val df = rows(0)
        val ids = df.select("id").as[Long].collect().toSet
        if (members.contains(t) && rnd.nextInt(4) > 0) {
          c.branch("wap").insert("s", t, df)
          br(t) = br(t) ++ ids
        } else {
          c.insert("s", t, df)
          main(t) = main(t) ++ ids
          if (members.contains(t)) diverged += t
        }
      }
      def idsOf(cat: SnapshotCatalog, t: String): Set[Long] =
        cat.readLatest("s", t).select("id").as[Long].collect().toSet
      // open-ref invariant: main sees exactly the model's main sets
      tables.foreach(t => require(idsOf(c, t) == main(t),
        s"scenario $i: open-ref main state of $t diverges from model"))
      if (diverged.nonEmpty) {
        val ex =
          try { c.publishCatalogBranch("wap"); None }
          catch { case e: CatalogPublishConflictException => Some(e) }
        require(ex.isDefined, s"scenario $i: expected publish conflict")
        require(ex.get.tables.sorted == diverged.toSeq.sorted.map("s." + _),
          s"scenario $i: conflict named ${ex.get.tables}, expected $diverged")
        tables.foreach(t => require(idsOf(c, t) == main(t),
          s"scenario $i: conflicted publish must change nothing ($t)"))
        // diverged-main MERGE leg: the three-way replay must land
        // main ∪ branch on every member atomically (all fuzz ops are
        // appends, so merge never conflicts), leave non-members alone,
        // and retire the ref — verified through a cold catalog
        c.mergeCatalogBranch("wap")
        val r = new SnapshotCatalog(spark, wh)
        members.foreach(t => require(idsOf(r, t) == (main(t) ++ br(t)),
          s"scenario $i: merged member $t != main ∪ branch"))
        (tables.toSet -- members).foreach(t => require(idsOf(r, t) == main(t),
          s"scenario $i: non-member $t changed by merge"))
        require(!r.listCatalogBranches().contains("wap"),
          s"scenario $i: ref not retired after merge")
        println(s"[creffuzz] scenario_$i: ${tables.size} tables, " +
          s"${members.size} members, CONFLICT(${diverged.size})+MERGE OK")
      } else {
        c.publishCatalogBranchCas("wap")
        // atomicity probe: a cold-cache catalog sees ALL members' branch
        // heads at once, before any main log materialized
        val r = new SnapshotCatalog(spark, wh)
        members.foreach(t => require(idsOf(r, t) == br(t),
          s"scenario $i: published member $t not visible pre-materialize"))
        (tables.toSet -- members).foreach(t => require(idsOf(r, t) == main(t),
          s"scenario $i: non-member $t changed by publish"))
        r.materializeCatalogBranch("wap")
        members.foreach { t =>
          require(idsOf(r, t) == br(t),
            s"scenario $i: member $t changed by materialization")
          require(r.snapshots("s", t).map(_.snapshotId) ==
            (1L to r.snapshots("s", t).size),
            s"scenario $i: $t main log not a clean fast-forward")
        }
        require(!r.listCatalogBranches().contains("wap"),
          s"scenario $i: ref not retired")
        // recreate leg: a SAME-NAME ref in the SAME warehouse after
        // materialize must base on current main, publish cleanly, and
        // never serve the retired ref's state (gen numbers restart at 0,
        // so path-keyed caching would alias the two lifecycles)
        val m2 = members.take(1)
        r.createCatalogBranch("wap", m2.map(("s", _)))
        require(r.listCatalogBranches()("wap").members.map(_.table) == m2,
          s"scenario $i: recreated ref served the retired member list")
        val df2 = rows(0)
        val ids2 = df2.select("id").as[Long].collect().toSet
        r.branch("wap").insert("s", m2.head, df2)
        r.publishCatalogBranch("wap")
        require(idsOf(r, m2.head) == br(m2.head) ++ ids2,
          s"scenario $i: recreate-publish lost or duplicated rows")
        println(s"[creffuzz] scenario_$i: ${tables.size} tables, " +
          s"${members.size} members, ${nOps} ops, PUBLISH+RECREATE OK")
      }
    }
    println(s"[creffuzz] $n/$n multi-table catalog-ref scenarios OK (seed=$seed)")
  }
}
