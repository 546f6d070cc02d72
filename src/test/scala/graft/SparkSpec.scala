package graft

import org.apache.logging.log4j.core.{Filter, LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.logging.log4j.core.filter.{AbstractFilter, CompositeFilter}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate → one JVM-wide
  * session; sbt forks one JVM for tests).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val session = GraftSession.local("4")
    SparkSpec.dropNoise()
    session
  }
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

object SparkSpec {
  /** Spark warnings that name no fault, as (logger, message prefix):
    *   - `StreamingQuery.stop()` on a query with no running job asks the
    *     scheduler to cancel the query's job group and is told it has no
    *     active jobs;
    *   - an unpartitioned window moves its input to one partition, which
    *     `PlanAuditSpec` already fails on outside its bounded-input
    *     allowlist.
    */
  private val noise = Seq(
    "org.apache.spark.scheduler.DAGScheduler" -> "Failed to cancel job group ",
    "org.apache.spark.sql.execution.window.WindowExec" ->
      "No Partition Defined for Window operation!")

  private val noiseFilter: Filter = new AbstractFilter {
    override def filter(e: LogEvent): Filter.Result =
      if (noise.exists { case (logger, prefix) => e.getLoggerName == logger &&
            e.getMessage.getFormattedMessage.startsWith(prefix) }) Filter.Result.DENY
      else Filter.Result.NEUTRAL
  }

  /** Drops the [[noise]] events at the root logger, which every event
    * of those loggers passes; their levels are left as they are. Runs
    * once the session exists, since Spark sets up its log config when
    * it starts, and again if that config was replaced since.
    */
  private def dropNoise(): Unit = synchronized {
    val logs = LoggerContext.getContext(false)
    val root = logs.getConfiguration.getRootLogger
    val installed = root.getFilter match {
      case c: CompositeFilter => c.getFiltersArray.contains(noiseFilter)
      case f => f eq noiseFilter
    }
    if (!installed) {
      root.addFilter(noiseFilter)
      logs.updateLoggers()
    }
  }
}
