package graft

import org.apache.logging.log4j.core.LogEvent
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The two Spark warnings [[SparkSpec]] drops never reach a root
  * appender, while the code that logs them still runs.
  */
class LogNoiseSpec extends SparkSpec {
  import spark.implicits._

  private def logged(logger: String, prefix: String)(e: LogEvent): Boolean =
    e.getLoggerName == logger && e.getMessage.getFormattedMessage.startsWith(prefix)

  test("stopping an idle streaming query logs no failed job-group cancel") {
    implicit val sq = spark.sqlContext
    val cancels = countLogs(logged("org.apache.spark.scheduler.DAGScheduler",
        "Failed to cancel job group ")) {
      val q = MemoryStream[Int].toDF().writeStream.format("noop").start()
      q.stop()
      // the scheduler handles events in order: once a later job ends,
      // the stop's cancel requests have been handled and logged
      spark.range(1).count()
    }
    assert(cancels === 0)
  }

  test("an unpartitioned window logs no single-partition warning") {
    val warnings = countLogs(logged("org.apache.spark.sql.execution.window.WindowExec",
        "No Partition Defined for Window operation!")) {
      assert(spark.range(10).withColumn("r", row_number().over(Window.orderBy("id")))
        .collect().length == 10)
    }
    assert(warnings === 0)
  }
}
