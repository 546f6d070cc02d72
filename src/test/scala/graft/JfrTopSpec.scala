package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs.withTempDir
import scala.sys.process._

/** Runs the real `tools/jfr_top.py` on a JFR recording made in this
  * JVM: one busy thread named like a Spark executor task thread, so
  * the tool's thread grouping and inclusive counts are checked against
  * a stack shape known in advance. No Spark session; about 2 s.
  */
class JfrTopSpec extends AnyFunSuite {

  private val tool = new java.io.File("tools/jfr_top.py").getAbsolutePath
  private val python = Seq("python3", "-c", "print(1)").!(ProcessLogger(_ => ())) == 0

  private def run(args: String*): (Int, String) = {
    val out = new StringBuilder
    val code = ("python3" +: tool +: args).!(ProcessLogger(l => out.append(l).append('\n')))
    (code, out.toString)
  }

  test("jfr_top groups executor-thread samples and counts every frame inclusively") {
    assume(python, "no host python3")
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ExecutionSample").withPeriod(java.time.Duration.ofMillis(10))
    rec.start()
    val busy = new Thread(() => {
      val end = System.nanoTime + 1000000000L
      var x = 0L
      // read the clock once per million steps: a sample that lands in
      // the clock call cannot walk the stack and is dropped, and a loop
      // that mostly reads the clock recorded no sample at all in some runs
      while (System.nanoTime < end) {
        var i = 0
        while (i < 1000000) { x = x * 31 + 7; i += 1 }
      }
      if (x == 42) println(x)
    }, "Executor task launch worker for task 0.0 in stage 0.0 (TID 0)")
    busy.start()
    busy.join()
    rec.stop()
    withTempDir("jfr_top_spec") { dir =>
      val file = java.nio.file.Paths.get(dir, "recording.jfr")
      rec.dump(file)
      rec.close()

      val (code, out) = run(file.toString, "--thread", "executor", "--top", "3")
      assert(code == 0, out)
      assert(!out.contains("[main]") && !out.contains("[other]"), out)
      val header = """\[executor\] (\d+) samples""".r.findFirstMatchIn(out)
      assert(header.exists(_.group(1).toInt > 0), out)
      // every sample of the busy thread has Thread.run at its root
      assert(out.linesIterator.exists(l => l.contains("100.0%") && l.endsWith("java.lang.Thread.run")), out)
    }
  }

  test("jfr_top refuses a missing recording without a traceback") {
    assume(python, "no host python3")
    val (code, out) = run("/nonexistent/recording.jfr")
    assert(code != 0)
    assert(out.contains("no such file") && !out.contains("Traceback"), out)
  }
}
