package graft

import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate → one JVM-wide
  * session; sbt forks one JVM for tests).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("4")
  lazy val sf0001 = "/root/testdata/sf0.001"

  /** Runs `body` with the session confs set, restoring them after. */
  protected def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, p) => p.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** The number of log events matching `matches` that reach the root
    * logger while `body` runs, counted by an appender (no log level is
    * changed).
    */
  protected def countLogs(matches: LogEvent => Boolean)(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val appender = new AbstractAppender("count-logs", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = if (matches(e)) n.incrementAndGet()
    }
    appender.start()
    val logs = LoggerContext.getContext(false)
    logs.getConfiguration.getRootLogger.addAppender(appender, null, null)
    logs.updateLoggers()
    try body
    finally {
      logs.getConfiguration.getRootLogger.removeAppender(appender.getName)
      logs.updateLoggers()
    }
    n.get
  }

  /** Confs under which every expression runs its interpreted `eval`. */
  protected val interpreted: Seq[(String, String)] = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
}
