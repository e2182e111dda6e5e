package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftEngine
import graft.params.SqlStatement

/** One timed interval at a layer boundary. Spans of one operation share
  * `op`; `parent` names the enclosing span (empty for the operation root).
  */
final case class Span(name: String, op: Long, parent: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder for the traced run. When off, every method just runs its
  * body, so the untraced run pays nothing but the branch; both runs call
  * the same public functions.
  *
  * Spans are recorded by the benchmark around its calls into the engine's
  * public functions (facade, params, catalog, unload) and, by
  * [[ProbedEngine]], around `GraftEngine.query` wherever the facade calls
  * it. The parse and analysis phases come from that query's planning
  * tracker; optimization, planning and files read from the executed
  * query ([[org.apache.spark.sql.PerfbenchExecutions]]); Spark jobs, their
  * wall time and task counters from a job-group-scoped [[JobStats]]
  * listener. The mapper is the remainder of the facade call. Spans stay in
  * memory and are written out once, at exit.
  */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val nextOp = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]()
  /** Per-operation facts that are not durations: files scanned, etc. */
  private val counts = new ConcurrentLinkedQueue[(String, Long, Double)]()
  val jobs: JobStats =
    if (on) { val j = new JobStats; spark.sparkContext.addSparkListener(j); j } else null
  private val compileTime = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  private val compilesAtStart = compileTime.getCount
  /** Generated classes compiled (Janino) while the traced window ran. */
  @volatile var codegenCompiles = 0L
  private val executions =
    if (on) {
      val s = new org.apache.spark.sql.PerfbenchExecutions
      spark.sparkContext.addSparkListener(s)
      s
    } else null

  /** Root span of one operation. Its Spark jobs run under the job group
    * `pb-<op>` so the listener can attribute them.
    */
  def op[T](kind: String)(body: Long => T): T =
    if (!on) body(0L)
    else {
      val id = nextOp.incrementAndGet()
      val sc = spark.sparkContext
      sc.setJobGroup(s"pb-$id", kind, interruptOnCancel = false)
      Tracer.active.set((this, id))
      val t0 = System.nanoTime()
      try body(id)
      finally {
        spans.add(Span(s"op.$kind", id, "", t0, System.nanoTime()))
        Tracer.active.remove()
        sc.clearJobGroup()
      }
    }

  def span[T](name: String, op: Long, parent: String)(body: => T): T =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      try body finally spans.add(Span(name, op, parent, t0, System.nanoTime()))
    }

  def count(name: String, op: Long, value: Double): Unit =
    if (on) counts.add((name, op, value))

  /** Parse and analysis phases of `df`'s planning tracker as child spans of
    * `parent`. The tracker keeps wall-clock milliseconds; they are stored in
    * the span as nanoseconds of the same clock.
    */
  def phases(df: DataFrame, op: Long, parent: String): Unit =
    if (on) df.queryExecution.tracker.phases.foreach { case (phase, s) =>
      if (phase == "parsing" || phase == "analysis") spans.add(Span(s"catalyst.$phase", op,
        parent, s.startTimeMs * 1000000L, s.endTimeMs * 1000000L))
    }

  def durations(name: String): IndexedSeq[Double] =
    spans.asScala.filter(_.name == name).map(_.ms).toIndexedSeq

  /** Per-operation sum of the durations of spans named `name`. */
  def perOp(name: String): Map[Long, Double] =
    spans.asScala.filter(_.name == name).groupMapReduce(_.op)(_.ms)(_ + _)

  def opCount: Int = spans.asScala.count(_.parent.isEmpty)

  def ops(kinds: Set[String]): Seq[Long] =
    spans.asScala.filter(s => s.parent.isEmpty && kinds(s.name.stripPrefix("op.")))
      .map(_.op).toSeq

  def countValues(name: String): IndexedSeq[Double] =
    counts.asScala.filter(_._1 == name).map(_._3).toIndexedSeq

  def countByOp(name: String): Map[Long, Double] =
    counts.asScala.filter(_._1 == name).groupMapReduce(_._2)(_._3)(_ + _)

  /** Waits for the listener bus, then attributes the files each SQL
    * execution read and its optimization and planning time to the operation
    * whose job group ran it.
    */
  def settle(): Unit = if (on) {
    codegenCompiles = compileTime.getCount - compilesAtStart
    org.apache.spark.sql.PerfbenchExecutions.drain(spark.sparkContext)
    executions.finished.asScala.foreach { case (g, files, planMs) =>
      if (g.startsWith("pb-")) {
        val op = g.stripPrefix("pb-").toLong
        counts.add(("catalog.files_read", op, files.toDouble))
        counts.add(("catalyst.optimize_plan", op, planMs.toDouble))
      }
    }
  }

  def spanCount: Int = spans.size

  /** Writes every span as one JSON object per line. */
  def write(path: String): Unit = if (on) {
    val f = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(f.getParent)
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      s"""{"name":"${s.name}","op":${s.op},"parent":"${s.parent}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(f, lines.asJava)
  }
}

/** Spark job, stage and task counters per job group. */
final class JobStats extends SparkListener {
  final class Acc {
    val jobs, jobMs, stages, tasks, shuffleWriteBytes, spillBytes, runMs, gcMs = new AtomicLong
  }
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val byGroup = new ConcurrentHashMap[String, Acc]()

  private def acc(g: String): Acc = byGroup.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        acc(g).jobs.incrementAndGet()
        jobStart.put(e.jobId, (g, e.time))
        e.stageIds.foreach(stageGroup.put(_, g))
      }

  /** Wall time from submission to end of each job, summed per group: the
    * operation's execution, lazily consumed iterators included.
    */
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (g, t0) => acc(g).jobMs.addAndGet(e.time - t0) }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach(acc(_).stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val a = acc(g)
      a.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        a.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        a.runMs.addAndGet(m.executorRunTime)
        a.gcMs.addAndGet(m.jvmGCTime)
      }
    }

  /** Counters of the operation `op` (zeros when it ran no job). */
  def of(op: Long): Map[String, Double] = {
    val a = Option(byGroup.get(s"pb-$op")).getOrElse(new Acc)
    Map("jobs" -> a.jobs.get, "job_ms" -> a.jobMs.get, "stages" -> a.stages.get,
      "tasks" -> a.tasks.get,
      "shuffle_write_bytes" -> a.shuffleWriteBytes.get,
      "spill_bytes" -> a.spillBytes.get, "executor_run_ms" -> a.runMs.get,
      "gc_ms" -> a.gcMs.get).map { case (k, v) => k -> v.toDouble }
  }
}

object Tracer {
  /** The traced operation the current thread runs, if any. */
  private[perfbench] val active = new ThreadLocal[(Tracer, Long)]
}

/** The engine the benchmark measures: `GraftEngine` itself, with a span
  * around `query` when the calling thread runs a traced operation. Every
  * facade function that plans SQL (`queryAs`, `queryScalar`,
  * `queryIterator`, `executeNonQuery`, `unload`) reaches it through
  * `query`, so the traced run times the facade's own code path; an
  * untraced call pays one thread-local read.
  */
final class ProbedEngine(spark: SparkSession, warehouse: String)
    extends GraftEngine(spark, warehouse) {
  override def query(stmt: SqlStatement): DataFrame = Tracer.active.get match {
    case null => super.query(stmt)
    case (tr, op) =>
      val df = tr.span("facade.query", op, "facade")(super.query(stmt))
      tr.phases(df, op, "facade.query")
      df
  }
}
