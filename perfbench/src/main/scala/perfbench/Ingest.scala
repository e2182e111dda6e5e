package perfbench

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{Encoder, Encoders}

import graft.GraftEngine
import graft.params.SqlStatement
import graft.params.Sql._

final case class Agg(n: Long, s: Long)

/** Ingest table content after one commit, acknowledged at `ackMs`. */
private final case class State(ackMs: Long, rows: Long, amount: Long, bytes: Long)

/** One writer committing small batches beside one reader, on one table.
  *
  * The writer commits seeded 50-row `INSERT … VALUES` statements through
  * `executeNonQuery` and the `sql` interpolator; every [[DeleteEvery]]th
  * commit deletes the oldest live batch instead, and every [[MaintainEvery]]
  * commits the writer itself runs `compact` and `expireSnapshots`, keeping
  * the last [[Retain]] snapshots. The reader alternates a latest-snapshot
  * aggregate with a `FOR TIMESTAMP AS OF` read at a random unexpired
  * acknowledged commit.
  *
  * Why: it exercises the commit layer with writes beside reads. Read cost
  * grows with the snapshot count until maintenance runs, so a change that
  * trades read cost, write cost or space against each other shows here.
  *
  * `removeOrphanFiles` is deliberately not run: against a concurrent writer
  * it can delete a staged commit and lose an acknowledged write (a known
  * hazard of the catalog), so maintenance runs serialized on the writer
  * thread.
  *
  * Checks: the writer keeps a model of every acknowledged commit. A time
  * travel read must equal the model at that commit exactly; a latest read
  * must equal the model at one of the commits that could be visible while
  * it ran.
  */
final class Ingest(ctx: Ctx) extends Workload {
  import ctx.spark

  private val WarmUpSeconds = 4.0
  private val BaseRows = 100000
  private val BatchRows = 50
  private val DeleteEvery = 5
  private val MaintainEvery = 10
  private val Retain = 6
  private val Kinds = Array("click", "view", "cart", "buy")
  private implicit val aggEnc: Encoder[Agg] = Encoders.product[Agg]


  private var engine: GraftEngine = _
  private var tableDir: String = _
  private var windows = 0
  // writer-owned model; the reader sees it through the atomic references
  private val acked = new AtomicReference[Vector[State]](Vector.empty)
  @volatile private var pending: Option[State] = None
  @volatile private var expiredThrough = -1
  @volatile private var minTravel = 0
  private var batches = Map.empty[Long, State] // live writer batch -> its rows
  private var commits = 0L
  private var writerRnd: scala.util.Random = _
  private var spaceRatio = Double.NaN

  private def rowBytes(kind: String): Long = 8 + 4 + 8 + kind.length + 8

  def build(dir: String): Unit = {
    engine = Warehouse.build(spark, ctx.args.corpus, dir, Nil)
    tableDir = s"$dir/bench/ingest"
    engine.executeNonQuery(sql"CREATE TABLE bench.ingest (batch_id BIGINT, seq INT, user_id BIGINT, kind VARCHAR, amount BIGINT)")
    engine.executeNonQuery(SqlStatement(
      "INSERT INTO bench.ingest SELECT -(id DIV 1000) - 1 AS batch_id, " +
        "CAST(id % 1000 AS INT) AS seq, (id * 7919) % 5000 AS user_id, " +
        "element_at(array('click', 'view', 'cart', 'buy'), CAST(id % 4 AS INT) + 1) AS kind, " +
        s"(id * 104729) % 10007 AS amount FROM range($BaseRows)"))
    val ack = ackNow()
    val base = (0 until BaseRows).map(i => (Kinds(i % 4), (i.toLong * 104729) % 10007))
    acked.set(Vector(State(ack, BaseRows, base.map(_._2).sum, base.map(b => rowBytes(b._1)).sum)))
    pending = None
    expiredThrough = -1
    minTravel = 0
    batches = Map.empty
    commits = 0
    windows = 0
    writerRnd = new scala.util.Random(ctx.args.seed)
    spaceRatio = Double.NaN
  }

  /** The writer and reader loops themselves, results checked, for
    * [[WarmUpSeconds]]: long enough for a maintenance cycle.
    */
  def warmUp(): Unit = {
    val warm = new Recorder
    run(WarmUpSeconds, new Tracer(spark, on = false), warm)
    if (warm.failed.get > 0)
      throw new IllegalStateException(s"warm-up failed: ${warm.errorList.mkString("; ")}")
  }

  /** Acknowledgement time of a commit that just returned. Blocks until the
    * clock has moved past it, so the next commit's timestamp is strictly
    * later and `FOR TIMESTAMP AS OF <ack>` names exactly this commit.
    */
  private def ackNow(): Long = {
    val t = System.currentTimeMillis()
    while (System.currentTimeMillis() <= t) Thread.sleep(0, 200000)
    t
  }

  private def publish(s: State): Unit = {
    acked.set(acked.get :+ s)
    pending = None
  }

  def userKinds: Seq[String] = Seq("insert", "delete", "latest", "travel")

  def run(seconds: Double, tr: Tracer, rec: Recorder): Double = {
    windows += 1
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val reader = new Thread(() => rec.guard("ingest-reader") {
      val rnd = new scala.util.Random(ctx.args.seed * 1000003L + windows)
      var latest = true
      while (System.nanoTime() < deadline) {
        readStep(latest, rnd, tr, rec)
        latest = !latest
      }
    }, "ingest-reader")
    reader.start()
    try rec.guard("ingest-writer") { while (System.nanoTime() < deadline) writeStep(tr, rec) }
    finally reader.join()
    Stats.secondsSince(start)
  }

  /** One writer commit, and the maintenance cycle when it is due. */
  private def writeStep(tr: Tracer, rec: Recorder): Unit = {
    commits += 1
    val prev = acked.get.last
    if (commits % DeleteEvery == 0 && batches.nonEmpty) {
      // retention-style: the oldest live batch, so every cycle deletes from
      // the same layout (after a compaction, from the compacted file)
      val b = batches.keys.min
      val gone = batches(b)
      val next = State(0, prev.rows - gone.rows, prev.amount - gone.amount, prev.bytes - gone.bytes)
      pending = Some(next)
      tr.op("delete") { id =>
        rec.run("delete") {
          val stmt = tr.span("params.sql", id, "op.delete")(sql"DELETE FROM bench.ingest WHERE batch_id = $b")
          tr.span("facade.executeNonQuery", id, "op.delete")(engine.executeNonQuery(stmt))
        } { n => Verdict.expect(n == gone.rows, s"DELETE batch $b affected $n rows, want ${gone.rows}") }
          .foreach { _ =>
            batches -= b
            publish(next.copy(ackMs = ackNow()))
          }
      }
    } else {
      val b = commits
      val rows = (0 until BatchRows).map(i =>
        (i, writerRnd.nextInt(5000).toLong, Kinds(writerRnd.nextInt(4)), writerRnd.nextInt(10000).toLong))
      val added = State(0, BatchRows, rows.map(_._4).sum, rows.map(r => rowBytes(r._3)).sum)
      val next = State(0, prev.rows + added.rows, prev.amount + added.amount, prev.bytes + added.bytes)
      pending = Some(next)
      tr.op("insert") { id =>
        val before = if (tr.on) traceTable(tr, id, prev = None) else null
        rec.run("insert") {
          val stmt = tr.span("params.sql", id, "op.insert")(SqlStatement(
            "INSERT INTO bench.ingest VALUES " + rows.map { case (seq, user, kind, amount) =>
              sql"($b, $seq, $user, $kind, $amount)".text
            }.mkString(", ")))
          tr.span("facade.executeNonQuery", id, "op.insert")(engine.executeNonQuery(stmt))
        } { n => Verdict.expect(n == BatchRows, s"INSERT batch $b affected $n rows") }
          .foreach { _ =>
            batches += b -> added
            publish(next.copy(ackMs = ackNow()))
          }
        if (tr.on) traceTable(tr, id, prev = Some(before), userBytes = added.bytes)
      }
    }
    if (commits % MaintainEvery == 0) maintain(tr, rec)
  }

  /** Traced only: files and bytes the commit `op` added to the table. */
  private def traceTable(tr: Tracer, op: Long, prev: Option[(Set[String], Long)],
                         userBytes: Long = 0L): (Set[String], Long) = {
    val cat = engine.catalog
    val files = cat.snapshots("bench", "ingest").lastOption
      .map(s => cat.dataFilePaths("bench", "ingest", s).toSet).getOrElse(Set.empty)
    val bytes = DirBytes(tableDir)
    prev.foreach { case (f0, b0) =>
      tr.count("commit.files", op, (files -- f0).size)
      tr.count("commit.bytes_per_user_byte", op, (bytes - b0).toDouble / userBytes)
    }
    (files, bytes)
  }

  private def maintain(tr: Tracer, rec: Recorder): Unit = {
    val prev = acked.get.last
    pending = Some(prev)
    val bytes0 = DirBytes(tableDir)
    tr.op("compact") { id =>
      rec.run("compact") {
        tr.span("catalog.compact", id, "op.compact")(engine.catalog.compact("bench", "ingest"))
      }(_ => Verdict.Ok).foreach(_ => publish(prev.copy(ackMs = ackNow())))
    }
    if (tr.on) tr.count("maint.bytes_rewritten", 0L, (DirBytes(tableDir) - bytes0).toDouble)
    val states = acked.get
    val keepFrom = states.size - Retain
    if (keepFrom > minTravel) {
      expiredThrough = keepFrom - 1
      val cutoff = states(keepFrom - 1).ackMs + 1
      tr.op("expire") { id =>
        rec.run("expire") {
          tr.span("catalog.expire", id, "op.expire")(
            engine.catalog.expireSnapshots("bench", "ingest", cutoff))
        }(_ => Verdict.Ok)
      }
      minTravel = keepFrom
    }
    spaceRatio = DirBytes(tableDir).toDouble / acked.get.last.bytes
  }

  /** One reader operation: the latest aggregate, or time travel to a random
    * unexpired acknowledged commit.
    */
  private def readStep(latest: Boolean, rnd: scala.util.Random, tr: Tracer, rec: Recorder): Unit =
    if (latest) tr.op("latest") { id =>
      traceCatalog(tr, id, None)
      val from = acked.get.size - 1
      rec.run("latest") {
        val stmt = tr.span("params.sql", id, "op.latest")(
          sql"SELECT count(*) AS n, sum(amount) AS s FROM bench.ingest")
        tr.span("facade.queryAs", id, "op.latest")(engine.queryAs[Agg](stmt).head)
      } { got =>
        // visible: any commit acknowledged since the read began, or one in
        // flight. pending is read first: publish() appends to acked before
        // it clears pending, so a commit is always in one of the two reads
        val inFlight = pending
        val seen = acked.get.drop(from) ++ inFlight.toSeq
        Verdict.expect(seen.exists(s => s.rows == got.n && s.amount == got.s),
          s"latest read $got matches none of ${seen.map(s => (s.rows, s.amount))}")
      }
    } else tr.op("travel") { id =>
      val states = acked.get
      val oldest = minTravel
      val i = oldest + rnd.nextInt(states.size - oldest)
      val want = states(i)
      val ts = java.time.Instant.ofEpochMilli(want.ackMs)
      traceCatalog(tr, id, Some(want.ackMs))
      rec.run("travel") {
        val stmt = tr.span("params.sql", id, "op.travel")(
          sql"SELECT count(*) AS n, sum(amount) AS s FROM bench.ingest FOR TIMESTAMP AS OF $ts")
        // a snapshot expired mid-read may fail or read short: decided below
        scala.util.Try(tr.span("facade.queryAs", id, "op.travel")(engine.queryAs[Agg](stmt).head))
      } {
        case _ if i <= expiredThrough => Verdict.Void
        case scala.util.Failure(e) => Verdict.Wrong(s"error: $e")
        case scala.util.Success(got) => Verdict.expect(got.n == want.rows && got.s == want.amount,
          s"read as of commit $i ($ts) = $got, want (${want.rows}, ${want.amount})")
      }
    }

  /** Traced only: snapshot resolution cost and the metadata a read faces. */
  private def traceCatalog(tr: Tracer, id: Long, asOf: Option[Long]): Unit = if (tr.on) {
    val cat = engine.catalog
    tr.span("catalog.resolve", id, "op.read")(asOf match {
      case Some(ts) => cat.readAsOf("bench", "ingest", ts)
      case None => cat.readLatest("bench", "ingest")
    })
    val snaps = cat.snapshots("bench", "ingest")
    tr.count("catalog.snapshots", id, snaps.size)
    snaps.lastOption.foreach(s =>
      tr.count("catalog.manifests", id, cat.manifestNames("bench", "ingest", s).size))
    // the base of the pruning ratio: the data files of the snapshot read
    asOf.fold(snaps.lastOption)(ts => snaps.takeWhile(_.committedAtMillis <= ts).lastOption)
      .foreach(s => tr.count("catalog.live_files", id, cat.dataFilePaths("bench", "ingest", s).size))
  }

  def bytesPerLiveByte: Double = spaceRatio

  def detail(rec: Recorder): Seq[(String, Double)] = {
    val commitsMs = rec.ms("insert", "delete")
    val reads = rec.ms("latest", "travel")
    Seq(
      "ingest.commits" -> commitsMs.size.toDouble,
      "ingest.commit_p50_ms" -> Stats.median(commitsMs),
      "ingest.commit_p95_ms" -> Stats.quantile(commitsMs, 0.95),
      "ingest.reads" -> reads.size.toDouble,
      "ingest.read_p50_ms" -> Stats.median(reads),
      "ingest.read_p95_ms" -> Stats.quantile(reads, 0.95),
      "ingest.maintenance_cycles" -> rec.ms("compact").size.toDouble,
      "ingest.travel_reads_voided" -> rec.voided.get.toDouble,
      "ingest.snapshots_at_end" -> engine.catalog.snapshots("bench", "ingest").size.toDouble)
  }

  def perLayer(tr: Tracer, rec: Recorder): Seq[(String, Double)] = {
    val inserts = rec.ms("insert")
    val reads = rec.ms("latest", "travel")
    val insertOps = tr.ops(Set("insert"))
    Layers.common(tr, Set("latest", "travel")) ++ Seq(
      "catalog.resolve_ms" -> Stats.median(tr.durations("catalog.resolve")),
      "catalog.snapshots_live" -> Stats.mean(tr.countValues("catalog.snapshots")),
      "catalog.manifests_live" -> Stats.mean(tr.countValues("catalog.manifests")),
      "commit.p50_ms" -> Stats.median(inserts),
      "commit.p95_ms" -> Stats.quantile(inserts, 0.95),
      "commit.delete_ms" -> Stats.median(rec.ms("delete")),
      "commit.files_per_commit" -> Stats.mean(tr.countValues("commit.files")),
      "commit.bytes_written_per_user_byte" ->
        Stats.mean(tr.countValues("commit.bytes_per_user_byte")),
      "commit.jobs_per_commit" -> Stats.mean(insertOps.map(tr.jobs.of(_)("jobs"))),
      "read.p50_ms" -> Stats.median(reads),
      "read.p95_ms" -> Stats.quantile(reads, 0.95),
      "maint.compact_ms" -> Stats.median(rec.ms("compact")),
      "maint.expire_ms" -> Stats.median(rec.ms("expire")),
      "maint.bytes_rewritten" -> Stats.mean(tr.countValues("maint.bytes_rewritten")),
      "maint.cycles" -> rec.ms("compact").size.toDouble)
  }
}
