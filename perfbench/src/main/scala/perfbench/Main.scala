package perfbench

import org.apache.spark.sql.SparkSession

/** Command-line settings of one run (see run.py, which supplies the paths). */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    corpus: String,
    runDir: String,
    traceOut: String,
    expected: String,
    setups: Int)

object Args {
  def parse(a: Array[String]): Args = {
    val kv = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def req(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", req("corpus"), req("run-dir"),
      req("trace-out"), req("expected"), kv.get("setups").map(_.toInt).getOrElse(3))
  }
}

/** What a workload needs from the run: the session, its inputs and where it
  * may write.
  */
final case class Ctx(spark: SparkSession, args: Args)

/** One traffic mix. Set-up is `build` (a fresh warehouse, repeated so its
  * median is reported) then `warmUp` on the last one; `run` measures one
  * window and may be called again on the same warehouse (the traced run
  * measures an untraced window, then a traced one).
  */
trait Workload {
  def build(dir: String): Unit
  def warmUp(): Unit
  /** Measures for `seconds`; returns the busy wall time the throughput is
    * computed over.
    */
  def run(seconds: Double, tr: Tracer, rec: Recorder): Double
  /** Operation kinds that count as user operations for the end-to-end
    * latency and throughput figures.
    */
  def userKinds: Seq[String]
  /** Bytes on disk per logical byte of the live rows. */
  def bytesPerLiveByte: Double
  /** Workload-specific figures printed beside the gated metrics. */
  def detail(rec: Recorder): Seq[(String, Double)]
  def perLayer(tr: Tracer, rec: Recorder): Seq[(String, Double)]
  /** True when the measured window is the workload's first, cold run (the
    * traced run then compares warm windows and runs one cold window first).
    */
  def measuresColdStart: Boolean = false
}

object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ops_per_s" -> "1/s", "p50_ms" -> "ms",
    "bytes_per_live_byte" -> "B/B")

  def session(a: Args): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a.runDir}/spark-warehouse")
      .config("spark.graft.artifacts.dir", s"${a.runDir}/artifacts")
      .config("spark.hadoop.hadoop.tmp.dir", s"${a.runDir}/hadoop")
    val spark = graft.LocalDirs.configure(b).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The repository's calibration sentinel: a fixed CPU-bound job, timed
    * right before and right after the measured window. Recorded beside the
    * results so a contended run identifies itself; it is not a gated metric.
    */
  def calibration(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(10000000L).selectExpr("bit_xor(xxhash64(id)) AS h").collect()
    Stats.secondsSince(t0)
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val t0 = System.nanoTime()
    val spark = session(a)
    val sessionS = Stats.secondsSince(t0)
    val ctx = Ctx(spark, a)
    var code = 1
    try {
      if (a.workload == "reference") {
        new Batch(ctx).reference().foreach(println)
        code = 0
        return
      }
      val wl: Workload = a.workload match {
        case "lookup" => new Lookup(ctx)
        case "ingest" => new Ingest(ctx)
        case "batch"  => new Batch(ctx)
        case other    => throw new IllegalArgumentException(s"unknown workload $other")
      }
      // the warehouse build repeats on fresh directories and its median is
      // reported; the last warehouse is the one warmed up and measured
      val buildTimes = (1 to a.setups).map { i =>
        val dir = s"${a.runDir}/warehouse-$i"
        val s0 = System.nanoTime()
        wl.build(dir)
        val s = Stats.secondsSince(s0)
        if (i < a.setups) DirBytes.delete(dir)
        graft.CacheHygiene.sweep(spark)
        s
      }
      val w0 = System.nanoTime()
      wl.warmUp()
      graft.CacheHygiene.sweep(spark)
      val warmS = Stats.secondsSince(w0)
      val setupS = sessionS + Stats.median(buildTimes) + warmS

      def endToEnd(rec: Recorder, busy: Double): Seq[(String, Double)] = {
        val ms = rec.ms(wl.userKinds: _*)
        Seq("setup_s" -> setupS, "ops_per_s" -> ms.size / busy,
          "p50_ms" -> Stats.median(ms), "bytes_per_live_byte" -> wl.bytesPerLiveByte)
      }

      val calibBefore = calibration(spark)
      val off = new Tracer(spark, on = false)
      val rec = new Recorder
      val busy = wl.run(a.seconds, off, rec)
      val e2e = endToEnd(rec, busy)
      val recs = Seq(rec)
      val (metrics, allRecs, extra) =
        if (!a.trace) (e2e.map { case (k, v) => (k, v, unitOf(k)) }, recs, Seq.empty)
        else {
          // the overhead compares a traced window with the untraced window
          // just before it, both past any cold start
          val (base, baseRecs) =
            if (!wl.measuresColdStart) (e2e, Seq.empty)
            else {
              val r = new Recorder
              (endToEnd(r, wl.run(a.seconds, off, r)), Seq(r))
            }
          val tr = new Tracer(spark, on = true)
          val trec = new Recorder
          val tbusy = wl.run(a.seconds, tr, trec)
          tr.settle()
          tr.write(a.traceOut)
          val traced = endToEnd(trec, tbusy)
          // the cost of tracing as a positive share: throughput lost,
          // latency added
          val (u, t) = (base.toMap, traced.toMap)
          val overhead = Seq(
            "trace.overhead.ops_per_s_pct" -> 100.0 * (u("ops_per_s") - t("ops_per_s")) / u("ops_per_s"),
            "trace.overhead.p50_ms_pct" -> 100.0 * (t("p50_ms") - u("p50_ms")) / u("p50_ms"))
          // every traced run prints every per-layer metric; a layer the
          // workload does not exercise reports 0
          val values = (wl.perLayer(tr, trec) ++ overhead).toMap
          val layers = Layers.Names.map { k =>
            val v = values.getOrElse(k, 0.0)
            (k, if (v.isNaN) 0.0 else v, PerLayer.unit(k))
          }
          (layers, recs ++ baseRecs :+ trec,
            Seq("traced_window" -> (traced :+ ("spans" -> tr.spanCount.toDouble))))
        }
      val calibAfter = calibration(spark)

      val attempted = allRecs.map(_.attempted.get).sum
      val failed = allRecs.map(_.failed.get).sum
      val correct = failed == 0 && (e2e ++ extra.flatMap(_._2)).forall(!_._2.isNaN)
      println("[perfbench] config " + Json.obj(Seq(
        "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
        "seconds" -> Json.num(a.seconds), "trace" -> a.trace.toString,
        "master" -> Json.str(spark.sparkContext.master),
        "shuffle_partitions" -> Json.str(spark.conf.get("spark.sql.shuffle.partitions")),
        "codegen_cache" -> Json.str(spark.conf.get("spark.sql.codegen.cache.maxEntries")),
        "time_zone" -> Json.str(spark.conf.get("spark.sql.session.timeZone")),
        "local_dir" -> Json.str(spark.sparkContext.getConf.get("spark.local.dir", "")),
        "max_heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
        "setups" -> a.setups.toString,
        "build_runs_s" -> buildTimes.map(Json.num).mkString("[", ",", "]"),
        "warm_up_s" -> Json.num(warmS),
        "session_start_s" -> Json.num(sessionS),
        "calib_before_s" -> Json.num(calibBefore), "calib_after_s" -> Json.num(calibAfter))))
      // the tail is reported, not gated: a 95th or 99th percentile has too
      // few samples beyond it in one window to repeat within a bound
      val windowMs = rec.ms(wl.userKinds: _*)
      val tail = Seq("ops" -> windowMs.size.toDouble, "p95_ms" -> Stats.quantile(windowMs, 0.95),
        "p99_ms" -> Stats.quantile(windowMs, 0.99))
      println("[perfbench] detail " + Json.obj(
        (tail ++ wl.detail(rec) ++ extra.flatMap { case (p, ms) => ms.map { case (k, v) => s"$p.$k" -> v } })
          .map { case (k, v) => k -> Json.num(v) }))
      allRecs.flatMap(_.errorList).foreach(e => println(s"[perfbench] failure $e"))
      println(Json.obj(Seq(
        "correct" -> correct.toString,
        "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
          k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
        }))))
      code = if (correct) 0 else 1
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] run aborted: $e")
        e.printStackTrace()
    } finally {
      spark.stop()
    }
    System.out.flush()
    sys.exit(code)
  }

  private def unitOf(k: String): String = EndToEnd.find(_._1 == k).map(_._2).get
}

/** Units of the per-layer metrics, by name pattern. */
object PerLayer {
  def unit(name: String): String =
    if (name.endsWith("_pct")) "%"
    else if (name.endsWith("_ms") || name.contains("_ms_") || name.contains(".plan_ms.")) "ms"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_ratio")) "ratio"
    else if (name.endsWith("_per_user_byte")) "B/B"
    else if (name.contains("bytes")) "B"
    else "count"
}

/** Minimal JSON rendering for the result lines. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Full-precision number; non-finite values render as null. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
