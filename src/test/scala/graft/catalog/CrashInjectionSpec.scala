package graft.catalog

import graft.SparkSpec
import org.apache.spark.sql.types._

/** Systematic crash-window verification: every multi-step metadata
  * operation in the catalog announces its intermediate states through
  * [[SnapshotCatalog.faultHook]] fault points; this spec simulates a
  * process crash AT EACH POINT (the hook throws, skipping every later
  * step) and asserts the three durability invariants from a FRESH
  * catalog instance (= a new process, no instance caches):
  *
  *  1. **Atomicity**: a reader sees exactly the pre-state or the
  *     post-state of the operation — never a torn intermediate.
  *  2. **Reclaimability**: whatever the crash stranded is orphan debris
  *     that `removeOrphanFiles` deletes without touching live data.
  *  3. **Convergence**: retrying the operation (or, for self-healing
  *     windows, merely reading) lands the no-crash final state.
  *
  * The reference stack inherits these guarantees from Iceberg's
  * metadata-first commit protocol (a crashed Trino coordinator leaves
  * only unreferenced files); the engine reimplements the protocol over
  * generation-CAS JSON, so each window is verified here explicitly.
  */
class CrashInjectionSpec extends SparkSpec {
  import spark.implicits._

  private val tableSchema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private final class InjectedCrash(point: String)
    extends RuntimeException(s"injected crash at $point")

  /** Run `body` with a hook that throws at `point`; assert the crash
    * actually surfaced (an operation that swallows it would report
    * success for a commit that never happened).
    */
  private def crashAt(point: String)(body: => Unit): Unit = {
    SnapshotCatalog.faultHook =
      id => if (id == point) throw new InjectedCrash(point)
    try {
      val e = intercept[Throwable](body)
      def injected(t: Throwable): Boolean =
        t != null && (t.isInstanceOf[InjectedCrash] || injected(t.getCause))
      assert(injected(e), s"operation swallowed the injected crash at $point: $e")
    } finally SnapshotCatalog.faultHook = _ => ()
  }

  /** A fresh instance over the same warehouse = a reader/writer in a new
    * process after the crash.
    */
  private def fresh(wh: String) = new SnapshotCatalog(spark, wh)

  private def seeded(name: String, formatVersion: Int = 1): SnapshotCatalog = {
    val c = fresh(tmpDir(name))
    c.createSchema("s")
    c.createTable("s", "t", tableSchema, formatVersion = formatVersion)
    c.insert("s", "t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    c.insert("s", "t", Seq((3L, "c")).toDF("id", "v"))
    c
  }

  private def rows(c: SnapshotCatalog): Seq[(Long, String)] =
    c.readLatest("s", "t").as[(Long, String)].collect().toSeq.sorted

  private val preRows = Seq((1L, "a"), (2L, "b"), (3L, "c"))

  test("insert: crash after staging data files — pre-state intact, debris reclaimed, retry lands") {
    val c = seeded("crash-ins")
    crashAt("insert.staged") {
      c.insert("s", "t", Seq((4L, "d")).toDF("id", "v"))
    }
    val r = fresh(c.warehouse)
    assert(rows(r) == preRows, "a crashed pre-commit insert must be invisible")
    // the staged snap dir is orphan debris — reclaimed, and live data survives
    assert(r.removeOrphanFiles("s", "t").nonEmpty)
    assert(rows(r) == preRows)
    r.insert("s", "t", Seq((4L, "d")).toDF("id", "v"))
    assert(rows(r) == preRows :+ (4L, "d"))
  }

  test("insert: crash after staging the commit-log temp, before the rename") {
    val c = seeded("crash-gen")
    crashAt("commit.staged") {
      c.insert("s", "t", Seq((4L, "d")).toDF("id", "v"))
    }
    val r = fresh(c.warehouse)
    assert(rows(r) == preRows, "a staged-but-unrenamed generation must be invisible")
    r.removeOrphanFiles("s", "t") // .commits-*.tmp + snap dir are debris
    r.insert("s", "t", Seq((4L, "d")).toDF("id", "v"))
    assert(rows(r) == preRows :+ (4L, "d"))
  }

  test("upsert (v2): crash after staging batch + eq-delete key file — nothing shadowed") {
    val c = seeded("crash-ups", formatVersion = 2)
    crashAt("upsert.staged") {
      c.upsert("s", "t", Seq((2L, "B2"), (5L, "e")).toDF("id", "v"), Seq("id"))
    }
    val r = fresh(c.warehouse)
    assert(rows(r) == preRows,
      "a crashed upsert must neither append its batch nor shadow existing keys")
    r.removeOrphanFiles("s", "t")
    assert(rows(r) == preRows)
    r.upsert("s", "t", Seq((2L, "B2"), (5L, "e")).toDF("id", "v"), Seq("id"))
    assert(rows(r) == Seq((1L, "a"), (2L, "B2"), (3L, "c"), (5L, "e")))
  }

  test("replace: crash after writing the new data — old table byte-identical") {
    val c = seeded("crash-rep1")
    crashAt("replace.data-written") {
      c.replaceTableAs("s", "t", Seq((9L, "z", 1.5)).toDF("id", "v", "w"))
    }
    val r = fresh(c.warehouse)
    assert(rows(r) == preRows)
    assert(r.readLatest("s", "t").columns.toSeq == Seq("id", "v"),
      "declared schema must still be the pre-replace one")
    r.removeOrphanFiles("s", "t")
    assert(rows(r) == preRows)
    assert(r.replaceTableAs("s", "t", Seq((9L, "z", 1.5)).toDF("id", "v", "w")) == 1L)
    assert(fresh(c.warehouse).readLatest("s", "t").columns.toSeq == Seq("id", "v", "w"))
  }

  test("replace: crash after the staged marker, before the CAS — marker must not promote") {
    val c = seeded("crash-rep2")
    crashAt("replace.marker-staged") {
      c.replaceTableAs("s", "t", Seq((9L, "z", 1.5)).toDF("id", "v", "w"))
    }
    val r = fresh(c.warehouse)
    // the marker references a snapshot id that never committed: any
    // reader walking the log must leave the declared schema alone
    assert(rows(r) == preRows)
    assert(r.readLatest("s", "t").columns.toSeq == Seq("id", "v"))
    // retry supersedes the stale marker and completes the swap
    r.replaceTableAs("s", "t", Seq((9L, "z", 1.5)).toDF("id", "v", "w"))
    val after = fresh(c.warehouse)
    assert(after.readLatest("s", "t").columns.toSeq == Seq("id", "v", "w"))
    assert(after.readLatest("s", "t").count() == 1L)
    // no staged marker survives a completed promotion
    val dirList = new java.io.File(c.warehouse + "/s/t").list().toSeq
    assert(!dirList.exists(_.startsWith("_replace_staged-")),
      s"stale replace marker left behind: $dirList")
  }

  test("replace: crash after the CAS, before promotion — a fresh reader self-heals") {
    val c = seeded("crash-rep3")
    crashAt("replace.committed") {
      c.replaceTableAs("s", "t", Seq((9L, "z", 1.5)).toDF("id", "v", "w"))
    }
    // the commit IS durable; the first reader finishes the promotion
    val r = fresh(c.warehouse)
    val df = r.readLatest("s", "t")
    assert(df.columns.toSeq == Seq("id", "v", "w"),
      "post-CAS reader must see the replacement schema, not the stale markers")
    assert(df.count() == 1L)
    // and the healing read retired the marker
    val dirList = new java.io.File(c.warehouse + "/s/t").list().toSeq
    assert(!dirList.exists(_.startsWith("_replace_staged-")))
  }

  test("compact: crash after writing compacted files — pre-state intact, retry converges") {
    val c = seeded("crash-cmp")
    crashAt("compact.staged") { c.compact("s", "t") }
    val r = fresh(c.warehouse)
    assert(rows(r) == preRows)
    r.removeOrphanFiles("s", "t")
    assert(rows(r) == preRows)
    r.compact("s", "t")
    val after = fresh(c.warehouse)
    assert(rows(after) == preRows)
    assert(after.snapshots("s", "t").last.operation.contains("replace"))
  }

  test("expire: crash after the kept-list CAS, before reclamation — only orphans strand") {
    val c = seeded("crash-exp")
    val allIds = c.snapshots("s", "t").map(_.snapshotId)
    crashAt("expire.committed") {
      c.expireSnapshots("s", "t", System.currentTimeMillis() + 60000)
    }
    val r = fresh(c.warehouse)
    // the expiry is durable: only the retained snapshot remains …
    assert(r.snapshots("s", "t").map(_.snapshotId) == Seq(allIds.last))
    assert(rows(r) == preRows, "the head must read complete after a crashed expire")
    // … and the expired snapshots' exclusive files are unreferenced
    // debris, reclaimed without touching the survivors
    r.removeOrphanFiles("s", "t")
    assert(rows(fresh(c.warehouse)) == preRows)
  }

  test("catalog ref: crash mid-materialization — the unmaterialized member still overlays") {
    val c = fresh(tmpDir("crash-cref"))
    c.createSchema("s")
    c.createTable("s", "fact", tableSchema)
    c.createTable("s", "dim", tableSchema)
    c.insert("s", "fact", Seq((1L, "f1")).toDF("id", "v"))
    c.insert("s", "dim", Seq((1L, "d1")).toDF("id", "v"))
    c.createCatalogBranch("wap", Seq(("s", "fact"), ("s", "dim")))
    val b = c.branch("wap")
    b.insert("s", "fact", Seq((2L, "f2")).toDF("id", "v"))
    b.insert("s", "dim", Seq((2L, "d2")).toDF("id", "v"))
    c.publishCatalogBranchCas("wap")
    // first member fast-forwards physically, then the crash hits —
    // the second member is still only overlay-served
    crashAt("catref.member-materialized") { c.materializeCatalogBranch("wap") }
    val r = fresh(c.warehouse)
    assert(r.readLatest("s", "fact").count() == 2L)
    assert(r.readLatest("s", "dim").count() == 2L,
      "a half-materialized publish must still serve every member at its pinned head")
    // resume is idempotent: a fresh process completes the fast-forward
    r.materializeCatalogBranch("wap")
    assert(!r.listCatalogBranches().contains("wap"))
    val after = fresh(c.warehouse)
    assert(after.readLatest("s", "fact").count() == 2L)
    assert(after.readLatest("s", "dim").count() == 2L)
  }

  test("merge: crash after main committed, before the branch rebase — retry converges, no double-append") {
    val c = seeded("crash-merge")
    c.createBranch("s", "t", "dev")
    c.branch("dev").insert("s", "t", Seq((10L, "x")).toDF("id", "v"))
    c.insert("s", "t", Seq((4L, "d")).toDF("id", "v")) // main diverges
    crashAt("merge.main-committed") { c.mergeBranch("s", "t", "dev") }
    val r = fresh(c.warehouse)
    // the merge IS in main; the branch still reads its own consistent
    // pre-rebase state (its log was never touched)
    assert(rows(r) == preRows ++ Seq((4L, "d"), (10L, "x")))
    assert(r.branch("dev").readLatest("s", "t")
      .select("id").as[Long].collect().toSeq.sorted == Seq(1L, 2L, 3L, 10L))
    // retry: the already-merged files are excluded (no double-append),
    // only the branch rebase remains
    r.mergeBranch("s", "t", "dev")
    val after = fresh(c.warehouse)
    assert(rows(after) == preRows ++ Seq((4L, "d"), (10L, "x")))
    assert(after.branch("dev").readLatest("s", "t").count() ==
      after.readLatest("s", "t").count(), "branch must be rebased onto merged main")
  }

  test("migrate: crash before the commits.json marker — directory re-migrates cleanly") {
    val c = fresh(tmpDir("crash-mig"))
    c.createSchema("s")
    val loc = tmpDir("crash-mig-data")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode("overwrite").parquet(loc)
    crashAt("migrate.layout-written") { c.migrateTable("s", "t", loc) }
    val r = fresh(c.warehouse)
    assert(!r.tableExists("s", "t"),
      "a migrate that crashed before the marker must leave no catalog table")
    // the directory is still a migratable plain layout (the marker that
    // gates 'already a table' was never written) — retry completes
    assert(r.migrateTable("s", "t", loc) >= 1L)
    assert(rows(r) == Seq((1L, "a"), (2L, "b")))
  }

  test("catalog ref: crash before retiring the ref record — re-materialize is a clean no-op") {
    val c = fresh(tmpDir("crash-cref2"))
    c.createSchema("s")
    c.createTable("s", "fact", tableSchema)
    c.insert("s", "fact", Seq((1L, "f1")).toDF("id", "v"))
    c.createCatalogBranch("wap", Seq(("s", "fact")))
    c.branch("wap").insert("s", "fact", Seq((2L, "f2")).toDF("id", "v"))
    c.publishCatalogBranchCas("wap")
    crashAt("catref.pre-retire") { c.materializeCatalogBranch("wap") }
    val r = fresh(c.warehouse)
    assert(r.readLatest("s", "fact").count() == 2L)
    r.materializeCatalogBranch("wap")
    assert(!r.listCatalogBranches().contains("wap"))
    assert(fresh(c.warehouse).readLatest("s", "fact").count() == 2L)
  }

  test("format upgrade: crash between two refs' writes — each ref whole, a rerun finishes") {
    val (c, before) = LegacyFormatFixture.build(spark, tmpDir("crash-upgrade"),
      partitioned = false, preVersioning = false)
    val n = before.versions.size
    crashAt("upgrade.ref-written") { c.rewriteManifests("s", "t") }
    val r = fresh(c.warehouse)
    // the main log was written first and is wholly upgraded …
    val main = r.snapshots("s", "t")
    assert(main.size == n && main.forall(_.manifestList.isDefined))
    assert(main.map(s => r.readVersion("s", "t", s.snapshotId).collect().toSeq
      .map(_.toString).sorted) == before.versions)
    // … while the branch log and the tag pins are wholly legacy still
    intercept[LegacyTableFormatException](r.branch("b").snapshots("s", "t"))
    intercept[LegacyTableFormatException](r.listTags("s", "t"))
    intercept[LegacyTableFormatException](r.catalogTagSnapshot("ct", "s", "t"))
    r.rewriteManifests("s", "t")
    assert(LegacyFormatFixture.view(fresh(c.warehouse), n) == before)
    // the rerun names the branch's shared snapshots as main's upgrade did
    assert(r.branch("b").snapshots("s", "t").take(3) == main.take(3))
    assert(r.listTags("s", "t")("v2") == main(1))
    assert(r.catalogTagSnapshot("ct", "s", "t").contains(main(2)))
  }
}
