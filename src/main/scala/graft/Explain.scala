package graft

import java.nio.file.{Files, Paths}

/** Plan-audit main: dumps the formatted plan of every SparkEntry
  * query (at the given SF dir) to one file for review — the
  * `.explain("formatted")` loop, automated. Flags obviously-wrong
  * shapes (cartesian products, nested-loop joins) in a trailing
  * summary.
  *
  * The dump is [[normalize]]d, so the dumps of two source trees
  * compare with plain `diff`: any line that differs is a plan that
  * moved.
  *
  * Usage: `runMain graft.Explain [sfDir] [outFile]`.
  */
object Explain {
  /** `plan` without the counters that differ from run to run on the
    * same plan: expression ids (`doc_id#123L` → `doc_id#L`), exchange
    * `plan_id`s, the suffixes of higher-order-function lambda
    * variables (`lambda x_12` → `lambda x_`), checkpoint RDD ids and
    * their call-site line numbers (`MapPartitionsRDD[176] at
    * localCheckpoint at Graph.scala:167` → `MapPartitionsRDD[] at
    * localCheckpoint at Graph.scala`), and the JVM names of lambdas
    * and of package-qualified class instances
    * (`graft.operators.Multimodal$$$Lambda$5911/0x00007f15…@66dee88a`
    * → `graft.operators.Multimodal$$$Lambda@`). A column or literal
    * such as `x_1` or `a@cafe` is kept as it is.
    */
  def normalize(plan: String): String =
    plan.replaceAll("#\\d+", "#")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("(lambda [xyz])_\\d+\\b", "$1_")
      .replaceAll("RDD\\[\\d+\\]", "RDD[]")
      .replaceAll("(\\.scala):\\d+", "$1")
      .replaceAll("\\$Lambda\\$\\d+/0x\\p{XDigit}+", "\\$Lambda")
      .replaceAll("(\\b[a-z]\\w*(?:\\.[a-z]\\w*)*\\.[A-Z][\\w$]*)@\\p{XDigit}{1,8}\\b", "$1@")

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
        sb.append(s"\n${"=" * 70}\n== $name\n${"=" * 70}\n${normalize(plan)}")
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
