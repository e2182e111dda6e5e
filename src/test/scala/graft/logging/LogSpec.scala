package graft.logging

import graft.params.SqlStatement
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}

/** Contract spec for the logging shim, mirroring the reference's
  * FormattedLogValues semantics (FormattedLogValues.cs:14-63), and for
  * the engine's log lines.
  */
class LogSpec extends graft.SparkSpec {

  /** Messages `logger` emits at DEBUG while `body` runs. */
  private def debugLines(logger: String)(body: => Unit): Seq[String] = {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val prior = ctx.getLogger(logger).getLevel
    Configurator.setLevel(logger, Level.DEBUG)
    ctx.getLogger(logger).addAppender(capture)
    try body
    finally {
      ctx.getLogger(logger).removeAppender(capture)
      Configurator.setLevel(logger, prior)
      capture.stop()
    }
    lines.toArray(Array.empty[String]).toSeq
  }

  test("toString substitutes positional placeholders") {
    assert(FormattedLogValues("query {0} took {1} ms", "q1", 42).toString ==
      "query q1 took 42 ms")
  }

  test("no values → template returned verbatim (even with placeholders)") {
    assert(FormattedLogValues("query {0}").toString == "query {0}")
  }

  test("malformed format (index out of range) falls back to the raw template") {
    assert(FormattedLogValues("query {3} end", "a").toString == "query {3} end")
  }

  test("substituted values may themselves contain placeholder-like text") {
    assert(FormattedLogValues("got {0}", "{1}").toString == "got {1}")
  }

  test("null value renders as the string null (string.Format parity)") {
    assert(FormattedLogValues("v={0}", null).toString == "v=null")
  }

  test("pairs enumerate {i} → value then {OriginalFormat} → template") {
    val flv = FormattedLogValues("a {0} b {1}", 1, "x")
    assert(flv.count == 3)
    assert(flv.pairs == Seq("{0}" -> 1, "{1}" -> "x",
      "{OriginalFormat}" -> "a {0} b {1}"))
  }

  test("out-of-range indexed access throws (FormattedLogValues.cs:31)") {
    val flv = FormattedLogValues("f", 1)
    intercept[IndexOutOfBoundsException](flv(2))
    intercept[IndexOutOfBoundsException](flv(-1))
  }

  test("Log level guards never throw and render through the shim") {
    val l = Log(classOf[LogSpec])
    Log.debug(l, "debug {0}", 1)
    Log.info(l, "info {0}", 2)
    Log.warn(l, "warn {0}", 3)
    Log.error(l, new RuntimeException("boom"), "error {0}", 4)
  }

  test("an INSERT commit logs one debug line: table, snapshot, files added, rows") {
    val e = new graft.GraftEngine(spark, tmpDir("log-insert"))
    e.executeNonQuery(SqlStatement("CREATE TABLE demo.t (id bigint, v varchar)"))
    val lines = debugLines("graft.catalog.SnapshotCatalog") {
      e.executeNonQuery(SqlStatement("INSERT INTO demo.t VALUES (1, 'a'), (2, 'b'), (3, 'c')"))
    }
    assert(lines == Seq("Inserted into demo.t: snapshot 1, 1 data files, 3 rows"))
  }
}
