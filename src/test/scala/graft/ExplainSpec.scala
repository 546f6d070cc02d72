package graft

import org.scalatest.funsuite.AnyFunSuite

class ExplainSpec extends AnyFunSuite {

  test("normalize strips the counters two runs of one plan differ in, and nothing else") {
    def dump(id: Int, rdd: Int, line: Int, lambda: String, hash: String) =
      s"Output [2]: [doc_id#${id}L, lambda x_${id + 1}#$id]\n" +
        s"Exchange hashpartitioning(doc_id#${id}L, 4), ENSURE_REQUIREMENTS, [plan_id=$id]\n" +
        s"Arguments: [node#${id}L], MapPartitionsRDD[$rdd] at localCheckpoint at Graph.scala:$line\n" +
        s"Arguments: graft.operators.Multimodal$$$$$$Lambda$$$lambda@$hash, obj#$id: scala.Tuple3\n" +
        s"Functions [1]: [graft.functions.Aggregators$$TopKPairs@$hash]\n" +
        "Condition : (text#1 = user@example)"
    val a = Explain.normalize(dump(123, 176, 167, "5911/0x00007f159d5cfc28", "66dee88a"))
    assert(a == Explain.normalize(dump(45, 9, 184, "12/0x00007fe4815c6460", "f662b5")))
    assert(a.contains("[doc_id#L, lambda x_#]") && a.contains("[plan_id=]") &&
      a.contains("MapPartitionsRDD[] at localCheckpoint at Graph.scala\n") &&
      a.contains("graft.operators.Multimodal$$$Lambda@, obj#: scala.Tuple3") &&
      a.contains("[graft.functions.Aggregators$TopKPairs@]") &&
      a.endsWith("(text# = user@example)"))
  }

  test("normalize keeps user columns and literals that look like counters") {
    val plan = "Project [x_1#5, y_22#6L]\nCondition : ((a#7 = a@cafe) AND (b#8 = Bar@beef))"
    assert(Explain.normalize(plan) ==
      "Project [x_1#, y_22#L]\nCondition : ((a# = a@cafe) AND (b# = Bar@beef))")
    assert(Explain.normalize(plan.replace("x_1#", "x_2#").replace("a@cafe", "a@beef")) !=
      Explain.normalize(plan))
  }
}
