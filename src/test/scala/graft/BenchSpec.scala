package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Pins Bench's report and schedule rule without a Spark session: a
  * synthetic two-round run with one failed key and two single-sample
  * keys renders the compact line byte for byte, and the full JSON with
  * its field list.
  */
class BenchSpec extends AnyFunSuite {

  private val runs = Seq(
    Seq("bearly_sum_lineitem" -> 1.0, "q1_pricing_summary" -> 2.0,
      "text_extra" -> 0.5, "q_iso_once" -> 4.0),
    Seq("q1_pricing_summary" -> 1.5, "bearly_sum_lineitem" -> 3.0))
  private val report = Bench.report(runs, failed = Seq("q_broken"), sfDir = "sf0.1", iters = 4)

  test("compact line: field order and %.3f formatting, byte for byte") {
    assert(report.compact ==
      """{"metric":"total","value":8.250,"unit":"sec",""" +
      """"queries":{"bearly_sum_lineitem":2.000,"q1_pricing_summary":1.750},""" +
      """"queries_min":{"bearly_sum_lineitem":1.000,"q1_pricing_summary":1.500},""" +
      """"total_min":7.000,"n_queries":4,"full":"/tmp/bench_full.json",""" +
      """"failed":["q_broken"],"sf":"sf0.1","iters":4,"iters_completed":2}""")
  }

  test("full JSON: field list, every key's median and in-suite min") {
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(report.full)
    assert(json.fieldNames().asScala.toSeq == Seq("metric", "value", "unit", "queries",
      "queries_min", "low_sample_keys", "total_min", "failed", "sf", "iters",
      "iters_completed"))
    assert(json.get("queries").fieldNames().asScala.toSeq ==
      Seq("bearly_sum_lineitem", "q1_pricing_summary", "q_iso_once", "text_extra"))
    assert(report.full.contains(
      """"queries_min":{"bearly_sum_lineitem":1.000,"q1_pricing_summary":1.500,""" +
        """"q_iso_once":4.000,"text_extra":0.500}"""))
  }

  test("low_sample_keys: every key with one in-suite sample") {
    assert(report.lowSampleKeys == Seq("q_iso_once", "text_extra"))
    assert(report.full.contains(""""low_sample_keys":["q_iso_once","text_extra"]"""))
  }

  test("admission: elapsed + 1.2 x estimate must end before 0.95 x budget") {
    assert(Bench.admits(elapsedS = 82.9, estimateS = 10, budgetS = 100))
    assert(!Bench.admits(elapsedS = 83.0, estimateS = 10, budgetS = 100))
    assert(Bench.admits(elapsedS = 0, estimateS = 79.1, budgetS = 100))
    assert(!Bench.admits(elapsedS = 0, estimateS = 79.2, budgetS = 100))
  }

  test("budgetToAdmit: the budget where admission flips, for a refused round") {
    val b = Bench.budgetToAdmit(elapsedS = 700, estimateS = 1000)
    assert(math.abs(b - 1900 / 0.95) < 1e-9)
    assert(Bench.admits(elapsedS = 700, estimateS = 1000, budgetS = b + 1))
    assert(!Bench.admits(elapsedS = 700, estimateS = 1000, budgetS = b - 1))
  }
}
