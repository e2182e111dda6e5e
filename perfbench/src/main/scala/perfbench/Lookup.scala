package perfbench

import org.apache.spark.sql.{Encoder, Encoders}

import graft.GraftEngine
import graft.params.Sql._

final case class LineRow(lOrderkey: Long, lLinenumber: Int, lQuantity: Double,
                         lExtendedprice: Double, lShipdate: java.time.LocalDateTime)
final case class CustLine(oOrderkey: Long, lLinenumber: Int, lQuantity: Double)

/** Point lookups (60%), range aggregates (30%) and one-customer joins
  * (10%) from a closed loop of concurrent clients.
  *
  * Why: results are tiny and the table is large, so the time goes to the
  * facade rewrites, Catalyst planning, manifest pruning and per-query job
  * scheduling; commit and the batch operators are bypassed.
  *
  * Every answer is checked against the corpus model ([[CorpusModel]]).
  */
final class Lookup(ctx: Ctx) extends Workload {
  import ctx.spark

  private val WarmUpSeconds = 5.0
  private val Clients = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors))
  private val ZipfExponent = 1.1
  private val Mix: Seq[String] = Seq.fill(6)("point") ++ Seq.fill(3)("range") :+ "iterator"
  private implicit val lineEnc: Encoder[LineRow] = Encoders.product[LineRow]
  private implicit val custEnc: Encoder[CustLine] = Encoders.product[CustLine]

  private var engine: GraftEngine = _
  private var windows = 0
  private var liveBytesRatio = Double.NaN
  private var liveFiles = Map.empty[String, Int]

  private val model = new CorpusModel(ctx.args.corpus)
  private val pointFp = model.orders
  private val custFp = model.customers
  private val nOrders = pointFp(0).length
  // at most half the keys, so a small corpus still draws ranges
  private val RangeKeys = math.min(2000, nOrders / 2)
  private val nCust = custFp(0).length
  private val qtyPrefix = pointFp(2).scanLeft(0L)(_ + _)
  private val logicalBytes = model.logicalBytes(Seq("lineitem", "orders"))

  // Zipf over key ranks; a seeded affine permutation maps ranks to keys so
  // the hot keys spread over the range-clustered files
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(nOrders)(r => 1.0 / math.pow(r + 1, ZipfExponent))
    val cdf = w.scanLeft(0.0)(_ + _).tail
    cdf.map(_ / cdf.last)
  }
  private val (permMul, permAdd) = {
    val rnd = new scala.util.Random(ctx.args.seed)
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val m = Iterator.continually(1 + rnd.nextInt(nOrders - 1))
      .find(m => gcd(m, nOrders) == 1).get
    (m.toLong, rnd.nextInt(nOrders).toLong)
  }
  private def zipfKey(rnd: scala.util.Random): Long = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
    val rank = if (i >= 0) i else math.min(-i - 1, nOrders - 1)
    (rank * permMul + permAdd) % nOrders
  }

  def build(dir: String): Unit = {
    engine = Warehouse.build(spark, ctx.args.corpus, dir, Seq("lineitem", "orders"))
    liveFiles = Seq("lineitem", "orders").map(t => t -> Warehouse.liveFiles(engine, t)).toMap
    liveBytesRatio = DirBytes(dir).toDouble / logicalBytes
  }

  /** The closed loop itself, results checked, for [[WarmUpSeconds]]. */
  def warmUp(): Unit = {
    val warm = new Recorder
    run(WarmUpSeconds, new Tracer(spark, on = false), warm)
    if (warm.failed.get > 0)
      throw new IllegalStateException(s"warm-up failed: ${warm.errorList.mkString("; ")}")
  }

  def userKinds: Seq[String] = Seq("point", "range", "iterator")

  def run(seconds: Double, tr: Tracer, rec: Recorder): Double = {
    windows += 1
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val ends = new Array[Long](Clients)
    val threads = (0 until Clients).map { c =>
      new Thread(() => {
        try rec.guard(s"lookup-client-$c") {
          val rnd = new scala.util.Random(ctx.args.seed * 1000003L + windows * 7919L + c)
          // the mix is exact per block of ten, in a seeded order, so every
          // window runs the same proportions
          val ops = Iterator.continually(rnd.shuffle(Mix)).flatten
          while (System.nanoTime() < deadline) op(ops.next(), rnd, tr, rec)
        } finally ends(c) = System.nanoTime()
      }, s"lookup-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (ends.max - start) / 1e9
  }

  private def op(kind: String, rnd: scala.util.Random, tr: Tracer, rec: Recorder): Unit =
    kind match {
      case "point" =>
        val k = zipfKey(rnd)
        rec.run("point")(tr.op("point") { id =>
          tr.count("catalog.live_files", id, liveFiles("lineitem"))
          val stmt = tr.span("params.sql", id, "op.point")(
            sql"SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate FROM lineitem WHERE l_orderkey = $k")
          tr.span("facade.queryAs", id, "op.point")(engine.queryAs[LineRow](stmt))
        }) { rows =>
          val got = Seq(rows.size.toLong, rows.map(_.lLinenumber.toLong).sum,
            rows.map(_.lQuantity.toLong).sum,
            rows.map(r => math.round(r.lExtendedprice * 100)).sum,
            rows.map(_.lShipdate.toLocalDate.toEpochDay).sum)
          val want = (0 until 5).map(i => pointFp(i)(k.toInt))
          Verdict.expect(rows.forall(_.lOrderkey == k) && got == want,
            s"l_orderkey=$k: got $got, want $want")
        }
      case "range" =>
        val lo = rnd.nextInt(nOrders - RangeKeys).toLong
        val hi = lo + RangeKeys - 1
        rec.run("range")(tr.op("range") { id =>
          tr.count("catalog.live_files", id, liveFiles("lineitem"))
          val stmt = tr.span("params.sql", id, "op.range")(
            sql"SELECT SUM(l_quantity) AS s FROM lineitem WHERE l_orderkey BETWEEN $lo AND $hi")
          tr.span("facade.queryScalar", id, "op.range")(engine.queryScalar[Double](stmt))
        }) { got =>
          val want = (qtyPrefix(hi.toInt + 1) - qtyPrefix(lo.toInt)).toDouble
          Verdict.expect(got.contains(want), s"sum over [$lo, $hi]: got $got, want $want")
        }
      case "iterator" =>
        val c = rnd.nextInt(nCust).toLong
        rec.run("iterator")(tr.op("iterator") { id =>
          tr.count("catalog.live_files", id, liveFiles("lineitem") + liveFiles("orders"))
          val stmt = tr.span("params.sql", id, "op.iterator")(
            sql"SELECT o_orderkey, l_linenumber, l_quantity FROM orders JOIN lineitem ON l_orderkey = o_orderkey WHERE o_custkey = $c")
          tr.span("facade.queryIterator", id, "op.iterator")(
            engine.queryIterator[CustLine](stmt).toIndexedSeq)
        }) { rows =>
          val got = Seq(rows.size.toLong, rows.map(_.oOrderkey).sum,
            rows.map(_.lLinenumber.toLong).sum, rows.map(_.lQuantity.toLong).sum)
          val want = (0 until 4).map(i => custFp(i)(c.toInt))
          Verdict.expect(got == want, s"o_custkey=$c: got $got, want $want")
        }
    }

  def bytesPerLiveByte: Double = liveBytesRatio

  def detail(rec: Recorder): Seq[(String, Double)] =
    userKinds.flatMap { k =>
      val ms = rec.ms(k)
      Seq(s"lookup.$k.ops" -> ms.size.toDouble, s"lookup.$k.p50_ms" -> Stats.median(ms))
    } :+ ("lookup.clients" -> Clients.toDouble)

  def perLayer(tr: Tracer, rec: Recorder): Seq[(String, Double)] =
    Layers.common(tr, userKinds.toSet)
}
