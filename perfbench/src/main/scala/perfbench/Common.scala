package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Outcome of checking one operation's result. */
sealed trait Verdict
object Verdict {
  case object Ok extends Verdict
  final case class Wrong(why: String) extends Verdict
  /** The check cannot decide (the snapshot read was expired while the
    * read ran): neither a sample nor a failure.
    */
  case object Void extends Verdict

  def expect(ok: Boolean, why: => String): Verdict = if (ok) Ok else Wrong(why)
}

/** Latency samples and outcome counts of one measured window.
  *
  * An operation is timed, then its result is checked outside the timing.
  * Only a checked result becomes a sample: an exception or a wrong result
  * counts as a failed operation and never as a timing.
  */
final class Recorder {
  private val samples = new ConcurrentLinkedQueue[(String, Double)]()
  private val errors = new ConcurrentLinkedQueue[String]()
  val attempted = new AtomicLong
  val failed = new AtomicLong
  val voided = new AtomicLong

  /** Runs `op`, records its wall time under `kind` when `check` accepts the
    * result, and returns the result only when it was accepted.
    */
  def run[T](kind: String)(op: => T)(check: T => Verdict): Option[T] = {
    val t0 = System.nanoTime()
    val out = try Right(op) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    out match {
      case Left(e) => attempted.incrementAndGet(); fail(kind, s"error: $e"); None
      case Right(v) =>
        val verdict = try check(v) catch { case NonFatal(e) => Verdict.Wrong(s"check threw $e") }
        verdict match {
          case Verdict.Ok => attempted.incrementAndGet(); samples.add(kind -> ms); Some(v)
          case Verdict.Wrong(why) =>
            attempted.incrementAndGet(); fail(kind, s"wrong result: $why"); None
          case Verdict.Void => voided.incrementAndGet(); None
        }
    }
  }

  /** Runs a worker thread's whole body. Anything it throws, outside the
    * operations [[run]] already guards, is a failed operation: a dead
    * worker never passes for a quiet one.
    */
  def guard(where: String)(body: => Unit): Unit =
    try body catch {
      case e: Throwable => attempted.incrementAndGet(); fail(where, s"worker died: $e")
    }

  def fail(kind: String, msg: String): Unit = {
    failed.incrementAndGet()
    if (errors.size < 20) errors.add(s"$kind: $msg")
    System.err.println(s"[perfbench] FAILED $kind: $msg")
  }

  /** Latencies in ms of the accepted operations of the given kinds (all
    * kinds when empty).
    */
  def ms(kinds: String*): IndexedSeq[Double] =
    samples.asScala.collect {
      case (k, v) if kinds.isEmpty || kinds.contains(k) => v
    }.toIndexedSeq

  def errorList: Seq[String] = errors.asScala.toSeq
}

object Stats {
  /** Linear-interpolated quantile; NaN on an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** Order-insensitive fingerprint of a result set: the wrapping sum of a
  * 64-bit hash per row, over the rows' values rendered as strings. Equal
  * multisets of rows give equal fingerprints whatever the row order or
  * partitioning.
  */
object RowHash {
  def of(rows: Iterable[org.apache.spark.sql.Row]): Long =
    rows.foldLeft(0L)((acc, r) =>
      acc + hashString(r.toSeq.map(v => String.valueOf(v)).mkString("\u0001")))

  private def hashString(s: String): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val h1 = scala.util.hashing.MurmurHash3.bytesHash(b, 0x3c074a61)
    val h2 = scala.util.hashing.MurmurHash3.bytesHash(b, 0x7d2a1f39)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }
}

/** Bytes of every file under a local directory (checksum sidecars and
  * metadata included): what the table costs on disk.
  */
object DirBytes {
  def apply(dir: String): Long = files(dir).map(_._2).sum

  /** Number of regular files named `*.parquet` under `dir`. */
  def parquetFiles(dir: String): Long = files(dir).count(_._1.endsWith(".parquet")).toLong

  /** (path, size) of every regular file under `dir`; a file removed while
    * the tree is walked is skipped.
    */
  private def files(dir: String): Seq[(String, Long)] = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) Nil
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.flatMap { f =>
        try {
          val a = java.nio.file.Files.readAttributes(f,
            classOf[java.nio.file.attribute.BasicFileAttributes])
          if (a.isRegularFile) Some(f.toString -> a.size) else None
        } catch { case _: java.nio.file.NoSuchFileException => None }
      }.toList
      finally s.close()
    }
  }

  def delete(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      finally s.close()
    }
  }
}
