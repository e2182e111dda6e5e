package perfbench

import org.apache.spark.sql.Row

import graft.{GraftEngine, SparkEntry}
import graft.params.SqlStatement
import graft.params.Sql._

/** One client running analytics back to back: TPC-H SQL through the
  * facade, the LLM-pipeline operators, and one UNLOAD.
  *
  * Why: execution and shuffles dominate while the facade and commit layers
  * are negligible; this is the bypass workload for lookup-path changes.
  *
  * The SQL items are the `SparkEntry.oracleSql` texts, sent through
  * `GraftEngine.query` over the catalog tables after `USE bench`. The
  * operators are the `SparkEntry.queries` functions over the corpus parquet.
  * Each result is collected and compared with the order-insensitive hash of
  * the `SparkEntry` result on the same corpus (`expected-sf<scale>.tsv`,
  * checked against the DuckDB oracle when it was written). The UNLOAD is
  * checked by reading its row count back.
  *
  * q1_pricing is a known facade defect: its oracle text fails in
  * `GraftEngine.query` with DATATYPE_MISSING_SIZE on `CAST(… AS VARCHAR)`,
  * which is valid Trino SQL. It is sent once per pass, unmodified, and its
  * failures are counted as `sql.q1_pricing_failures` apart from the timed
  * operations; if it ever succeeds its result is checked like the others.
  */
final class Batch(ctx: Ctx) extends Workload {
  import ctx.spark

  private val Tables = Seq("lineitem", "orders", "customer", "supplier", "nation", "region")
  private val SqlTables: Map[String, Seq[String]] = Map(
    "q3_shipping" -> Seq("orders", "customer", "lineitem"),
    "q5_local_supplier" -> Seq("lineitem", "orders", "supplier", "customer", "nation", "region"),
    "q10_returned_items" -> Seq("lineitem", "orders", "customer", "nation"),
    "q18_large_orders" -> Seq("orders", "lineitem", "customer"))
  private val KnownDefect = "q1_pricing"

  private var engine: GraftEngine = _
  private var warehouseDir: String = _
  private var liveFiles = Map.empty[String, Int]
  private var liveBytesRatio = Double.NaN
  private var passes = 0
  private var q1Failures = 0L
  private val unloadStats = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]

  private lazy val expected: Map[String, Long] =
    scala.io.Source.fromFile(ctx.args.expected).getLines()
      .map(_.split("\t")).collect { case Array(k, v) => k -> v.toLong }.toMap

  private val model = new CorpusModel(ctx.args.corpus)
  private val logicalBytes = model.logicalBytes(Tables)
  // the UNLOAD exports about a sixth of lineitem; the seed moves the bound
  private val unloadKey: Int = {
    val n = model.orders(0).length
    n / 6 + new scala.util.Random(ctx.args.seed).nextInt(math.max(1, n / 60))
  }
  private val unloadRows: Long = model.orders(0).take(unloadKey).sum

  def build(dir: String): Unit = {
    warehouseDir = dir
    engine = Warehouse.build(spark, ctx.args.corpus, dir, Tables)
    liveFiles = Tables.map(t => t -> Warehouse.liveFiles(engine, t)).toMap
    liveBytesRatio = DirBytes(dir).toDouble / logicalBytes
  }

  /** Fits the IVF quantizer once for the corpus, as the operator is meant
    * to run (fit once offline). The items themselves are not warmed: a batch
    * job runs in a fresh session, so the measured pass includes the code
    * generation and JIT compilation of the plans the full-size inputs choose.
    */
  def warmUp(): Unit = graft.operators.Similarity.fitQuantizer(spark, ctx.args.corpus)

  override def measuresColdStart: Boolean = true

  def userKinds: Seq[String] = Layers.BatchSql ++ Layers.BatchOperators :+ "unload"

  /** One pass over the items: the batch job is fixed work, so `seconds`
    * does not lengthen it. Returns the summed item times; the result checks
    * and the cache sweeps between items are outside the timed operations.
    */
  def run(seconds: Double, tr: Tracer, rec: Recorder): Double = {
    passes += 1
    pass(tr, rec)
    rec.ms(userKinds: _*).sum / 1000
  }

  private def pass(tr: Tracer, rec: Recorder): Unit = {
    def item(body: => Unit): Unit = { body; graft.CacheHygiene.sweep(spark) }
    item(probeKnownDefect(tr))
    Layers.BatchSql.foreach(q => item(sqlItem(q, tr, rec)))
    Layers.BatchOperators.foreach(o => item(operatorItem(o, tr, rec)))
    item(unloadItem(tr, rec))
  }

  private def check(name: String, rows: Array[Row]): Verdict = {
    val got = RowHash.of(rows)
    expected.get(name) match {
      case Some(want) => Verdict.expect(got == want,
        s"$name: ${rows.length} rows hash to $got, the SparkEntry result to $want")
      case None => Verdict.Wrong(s"$name: no expected hash for this corpus")
    }
  }

  private def sqlItem(q: String, tr: Tracer, rec: Recorder): Unit = tr.op(q) { id =>
    tr.count("catalog.live_files", id, SqlTables(q).map(liveFiles).sum)
    rec.run(q) {
      val stmt = tr.span("params.sql", id, s"op.$q")(SqlStatement(SparkEntry.oracleSql(q)))
      engine.query(stmt).collect()
    }(rows => check(q, rows))
  }

  private def probeKnownDefect(tr: Tracer): Unit = tr.op("q1_probe") { _ =>
    try {
      val rows = engine.query(SqlStatement(SparkEntry.oracleSql(KnownDefect))).collect()
      check(KnownDefect, rows) match {
        case Verdict.Wrong(why) => throw new IllegalStateException(why)
        case _ => ()
      }
    } catch {
      case e: graft.GraftQueryException
          if (e.getMessage + String.valueOf(e.getCause)).contains("DATATYPE_MISSING_SIZE") =>
        q1Failures += 1
    }
  }

  private def operatorItem(o: String, tr: Tracer, rec: Recorder): Unit = tr.op(o) { _ =>
    rec.run(o)(SparkEntry.queries(o)(spark, ctx.args.corpus).collect())(rows => check(o, rows))
  }

  private def unloadItem(tr: Tracer, rec: Recorder): Unit = tr.op("unload") { id =>
    val target = s"$warehouseDir-unload-$passes"
    tr.count("catalog.live_files", id, liveFiles("lineitem"))
    rec.run("unload") {
      val stmt = tr.span("params.sql", id, "op.unload")(
        sql"SELECT * FROM lineitem WHERE l_orderkey < $unloadKey")
      tr.span("unload.unload", id, "op.unload")(engine.unload(stmt, target))
    } { resp =>
      val readBack = spark.read.parquet(target).count()
      Verdict.expect(resp.rowCount == unloadRows && readBack == unloadRows,
        s"unload reported ${resp.rowCount} rows, read back $readBack, want $unloadRows")
    }
    unloadStats += ((DirBytes(target), DirBytes.parquetFiles(target)))
    DirBytes.delete(target)
  }

  def bytesPerLiveByte: Double = liveBytesRatio

  private def itemSeconds(rec: Recorder, k: String): Double = Stats.median(rec.ms(k)) / 1000

  def detail(rec: Recorder): Seq[(String, Double)] =
    totals(rec) ++ userKinds.map(k => s"batch.item.${k}_s" -> itemSeconds(rec, k)) :+
      (s"known_defect.$KnownDefect" -> q1Failures.toDouble)

  private def totals(rec: Recorder): Seq[(String, Double)] = Seq(
    "batch.sql_s" -> Layers.BatchSql.map(itemSeconds(rec, _)).sum,
    "batch.operators_s" -> Layers.BatchOperators.map(itemSeconds(rec, _)).sum,
    "batch.unload_s" -> itemSeconds(rec, "unload"))

  def perLayer(tr: Tracer, rec: Recorder): Seq[(String, Double)] = {
    // parse and analysis in GraftEngine.query, optimization and planning
    // when the result is collected
    def plan(q: String): Double =
      Stats.median(tr.ops(Set(q)).map(op =>
        tr.perOp("catalyst.parsing").getOrElse(op, 0.0) +
          tr.perOp("catalyst.analysis").getOrElse(op, 0.0) +
          tr.countByOp("catalyst.optimize_plan").getOrElse(op, 0.0)))
    val unloads = unloadStats.toSeq
    Layers.common(tr, userKinds.toSet) ++
      Layers.BatchSql.map(q => s"sql.${q}_s" -> itemSeconds(rec, q)) ++
      Seq("sql.q1_pricing_failures" -> q1Failures.toDouble) ++
      Layers.BatchSql.map(q => s"catalyst.plan_ms.$q" -> plan(q)) ++
      Layers.BatchOperators.map(o => s"operators.${o}_s" -> itemSeconds(rec, o)) ++
      totals(rec) ++ Seq(
        "unload.bytes_written" -> Stats.median(unloads.map(_._1.toDouble)),
        "unload.files_written" -> Stats.median(unloads.map(_._2.toDouble)))
  }

  /** Order-insensitive hash of every item's `SparkEntry` result on the
    * corpus, one `name<TAB>hash` line each: the content of
    * `expected-sf<scale>.tsv`.
    */
  def reference(): Seq[String] =
    ((Layers.BatchSql :+ KnownDefect) ++ Layers.BatchOperators).map { name =>
      val rows = SparkEntry.queries(name)(spark, ctx.args.corpus).collect()
      graft.CacheHygiene.sweep(spark)
      s"$name\t${RowHash.of(rows)}"
    }
}
