package graft

import java.nio.file.{Files, Paths}

/** Plan-audit main: dumps the formatted plan of every SparkEntry
  * query (at the given SF dir) to one file for review — the
  * `.explain("formatted")` loop from the build brief, automated.
  * Flags obviously-wrong shapes (cartesian products, nested-loop
  * joins) in a trailing summary.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1) else "/tmp/plans.txt"
    val spark = GraftSession.local()
    val sb = new StringBuilder
    val flags = scala.collection.mutable.ListBuffer[String]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        sb.append(s"\n${"=" * 70}\n== $name\n${"=" * 70}\n$plan")
        if (plan.contains("CartesianProduct") && !name.startsWith("sim_"))
          flags += s"$name: CartesianProduct"
        if (plan.contains("BroadcastNestedLoopJoin") && !name.startsWith("sim_"))
          flags += s"$name: BroadcastNestedLoopJoin"
      } catch {
        case e: Throwable => flags += s"$name: EXPLAIN FAILED ${e.getMessage}"
      }
    }
    sb.append(s"\n${"=" * 70}\n== FLAGS\n${flags.mkString("\n")}\n")
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out; ${flags.size} flags: ${flags.mkString("; ")}")
    spark.stop()
  }
}
