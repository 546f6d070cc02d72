package graft

import graft.TempDirs.withTempDir
import org.scalatest.{Args, Status}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.sys.process._

/** Puts the bench drift gate itself under `sbt test`, so the gate's
  * contract can't rot silently between rounds: the tool must fail on
  * regressions AND on queries that regressed from working to throwing
  * (a key in the artifact's "failed" list vanishes from the shared-key
  * set, which an earlier version of the gate reported as OK), must
  * report baseline keys missing from the current run, must print usage
  * instead of an IndexError when run bare, must gate scale DECADES
  * (sf1 vs sf10) at a looser ratio in `--decade` mode, and must refuse
  * in both modes an artifact whose `low_sample_keys` is non-empty.
  *
  * Runs the real `tools/check_drift.py` under the host python3 against
  * synthetic artifacts written to a temp dir — no Spark session, no
  * bench run, sub-second.
  */
class DriftGateSpec extends AnyFunSuite {

  private val tool = new java.io.File("tools/check_drift.py").getAbsolutePath
  assume(new java.io.File(tool).isFile, s"missing $tool")
  private val python = Seq("python3", "-c", "print(1)").!(ProcessLogger(_ => ())) == 0
  // the suite's artifacts share one temp dir, deleted when the suite ends
  private var dir: Path = _
  override def run(testName: Option[String], args: Args): Status =
    withTempDir("graft_drift_spec") { d =>
      dir = Paths.get(d)
      val status = super.run(testName, args)
      status.waitUntilCompleted()
      status
    }

  private def artifact(name: String, queries: Map[String, Double],
                       failed: Seq[String] = Nil,
                       min: Map[String, Double] = Map.empty,
                       lowSample: Seq[String] = Nil): Path = {
    val q = queries.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    val m =
      if (min.isEmpty) ""
      else min.map { case (k, v) => s""""$k":$v""" }.mkString(""","queries_min":{""", ",", "}")
    val f = failed.map(k => s""""$k"""").mkString(""","failed":[""", ",", "]")
    val l = lowSample.map(k => s""""$k"""").mkString(""","low_sample_keys":[""", ",", "]")
    val p = dir.resolve(name)
    Files.write(p, s"""{"metric":"total","queries":{$q}$m$f$l}""".getBytes(StandardCharsets.UTF_8))
    p
  }

  private def run(args: String*): (Int, String) = {
    val out = new StringBuilder
    val code = ("python3" +: tool +: args).!(ProcessLogger(l => out.append(l).append('\n')))
    (code, out.toString)
  }

  test("bare invocation prints usage, not a traceback") {
    assume(python, "no host python3")
    val (code, out) = run()
    assert(code === 2)
    assert(out.contains("usage"), out)
    assert(!out.contains("Traceback"), out)
  }

  test("steady artifacts pass; a >1.2x key above the noise floor fails") {
    assume(python, "no host python3")
    val base = artifact("b1.json", Map("q_a" -> 1.0, "q_b" -> 2.0))
    val ok = artifact("c1.json", Map("q_a" -> 1.1, "q_b" -> 2.1))
    val (okCode, okOut) = run(base.toString, ok.toString)
    assert(okCode === 0 && okOut.contains("DRIFT GATE OK"), okOut)
    val bad = artifact("c2.json", Map("q_a" -> 1.6, "q_b" -> 2.0))
    val (badCode, badOut) = run(base.toString, bad.toString)
    assert(badCode === 1 && badOut.contains("REGRESSED q_a"), badOut)
  }

  test("a key that regressed from working to throwing fails the gate") {
    assume(python, "no host python3")
    // q_b broke: it left "queries" and landed in "failed" — the gate
    // must not read the shrunken shared-key set as a pass
    val base = artifact("b2.json", Map("q_a" -> 1.0, "q_b" -> 2.0))
    val cur = artifact("c3.json", Map("q_a" -> 1.0), failed = Seq("q_b"))
    val (code, out) = run(base.toString, cur.toString)
    assert(code === 1, out)
    assert(out.contains("FAILED in current run: q_b"), out)
  }

  test("baseline keys silently missing from the current run are reported") {
    assume(python, "no host python3")
    val base = artifact("b3.json", Map("q_a" -> 1.0, "q_gone" -> 2.0))
    val cur = artifact("c4.json", Map("q_a" -> 1.0))
    val (code, out) = run(base.toString, cur.toString)
    assert(code === 0, out)
    assert(out.contains("MISSING from current run: q_gone"), out)
  }

  test("--decade mode: 8x/decade growth passes, >12x flags SUPER-LINEAR") {
    assume(python, "no host python3")
    val sf1 = artifact("d1.json", Map("q_lin" -> 1.0, "q_quad" -> 1.0))
    val sf10 = artifact("d2.json", Map("q_lin" -> 8.0, "q_quad" -> 40.0))
    val (code, out) = run("--decade", sf1.toString, sf10.toString)
    assert(code === 1, out)
    assert(out.contains("SUPER-LINEAR q_quad"), out)
    assert(!out.contains("SUPER-LINEAR q_lin"), out)
    assert(out.contains("median per-key growth"), out)
  }

  test("--allow waives a named key loudly; unnamed keys still fail") {
    assume(python, "no host python3")
    val base = artifact("b5.json", Map("q_traded" -> 1.0, "q_acc" -> 1.0))
    val cur = artifact("c6.json", Map("q_traded" -> 2.0, "q_acc" -> 1.0))
    val (okCode, okOut) = run("--allow", "q_traded", base.toString, cur.toString)
    assert(okCode === 0, okOut)
    assert(okOut.contains("ALLOWED (documented) q_traded"), okOut)
    // the waiver is per-key: a second regressed key still fails
    val cur2 = artifact("c7.json", Map("q_traded" -> 2.0, "q_acc" -> 2.0))
    val (badCode, badOut) = run("--allow", "q_traded", base.toString, cur2.toString)
    assert(badCode === 1 && badOut.contains("REGRESSED q_acc"), badOut)
  }

  test("round mode refuses a current artifact whose minima rest on one sample") {
    assume(python, "no host python3")
    // steady numbers, but q_b's minimum is a single warm sample: not
    // bankable, so the gate refuses instead of passing
    val base = artifact("b6.json", Map("q_a" -> 1.0, "q_b" -> 2.0))
    val cur = artifact("c8.json", Map("q_a" -> 1.0, "q_b" -> 2.0), lowSample = Seq("q_b"))
    val (code, out) = run(base.toString, cur.toString)
    assert(code === 1, out)
    assert(out.contains("DRIFT GATE REFUSED: 1 key(s)") && out.contains("q_b"), out)
    assert(!out.contains("DRIFT GATE OK"), out)
    val (decCode, decOut) = run("--decade", base.toString, cur.toString)
    assert(decCode === 1 && decOut.contains("DECADE GATE REFUSED: 1 key(s)"), decOut)
  }

  test("warm medians (queries_min) are preferred over cold queries") {
    assume(python, "no host python3")
    // cold numbers regressed 2x but the warm medians are steady — the
    // gate reads warm, so this passes
    val base = artifact("b4.json", Map("q_a" -> 1.0), min = Map("q_a" -> 1.0))
    val cur = artifact("c5.json", Map("q_a" -> 2.0), min = Map("q_a" -> 1.05))
    val (code, out) = run(base.toString, cur.toString)
    assert(code === 0 && out.contains("DRIFT GATE OK"), out)
  }
}
