package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.sys.process._

/** Runs perfbench's own Python unit tests (workload inputs, trace
  * spans, run statistics) from the repo root, so a change that breaks
  * the benchmark's helpers fails here. No Spark session; about 1 s.
  */
class PerfbenchUnitSpec extends AnyFunSuite {

  test("perfbench unit tests pass") {
    val out = new StringBuilder
    val code = Process(
      Seq("python3", "-m", "unittest", "discover", "-s", "perfbench/tests", "-t", "perfbench"),
      new java.io.File(".").getAbsoluteFile
    ).!(ProcessLogger(l => out.synchronized(out.append(l).append('\n'))))
    assert(code == 0, out.toString)
  }
}
