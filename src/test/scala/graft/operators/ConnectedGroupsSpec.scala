package graft.operators

import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkSpec

/** [[Dedup.connectedGroups]] beyond its DedupSpec examples: the Spark
  * job count of one call, equality with a plain union-find reference on
  * seeded random graphs under any input partitioning and join config,
  * and identical executed plans across two runs on the same input.
  */
class ConnectedGroupsSpec extends SparkSpec {

  private def frame(s: SparkSession, pairs: Seq[(Long, Long)], parts: Int): DataFrame =
    s.createDataFrame(s.sparkContext.parallelize(pairs, parts)).toDF("doc_a", "doc_b")

  private def groups(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq

  /** Spark jobs started by `body`, read from the status tracker under
    * a job group of its own.
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"connected-groups-${System.nanoTime()}"
    sc.setJobGroup(group, "connectedGroups job count")
    try body finally sc.clearJobGroup()
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  // 5 disjoint 5-cliques, 10 pairs each
  private val cliques =
    for (c <- 0 until 5; i <- 1 to 5; j <- i + 1 to 5) yield (c * 10L + i, c * 10L + j)

  test("job count: 5 disjoint 5-cliques resolve in at most 8 Spark jobs") {
    val pairs = frame(spark, cliques, 4)
    var out = Seq.empty[(Long, Long)]
    val jobs = jobsOf { out = groups(Dedup.connectedGroups(pairs)) }
    assert(out == (0 until 5).flatMap(c => (1 to 5).map(i => (c * 10L + i, c * 10L + 1))))
    assert(jobs <= 8, s"$jobs jobs")
  }

  // the Hash-Min loop this replaced ran 5 jobs here (and 32-33 on the cliques)
  test("job count: an empty pair list runs in at most 5 Spark jobs") {
    val pairs = frame(spark, Seq.empty, 4)
    var n = -1L
    val jobs = jobsOf { n = Dedup.connectedGroups(pairs).collect().length }
    assert(n == 0)
    assert(jobs <= 5, s"$jobs jobs")
  }

  test("output keeps the input ids' type and nullability") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def schemaOf(t: DataType, nullable: Boolean): StructType = {
      val in = StructType(Seq("doc_a", "doc_b").map(StructField(_, t, nullable)))
      val rows = spark.sparkContext.parallelize(Seq[Row](Row.fromSeq(Seq(1L, 2L).map(v =>
        if (t == IntegerType) v.toInt else v))), 2)
      Dedup.connectedGroups(spark.createDataFrame(rows, in)).schema
    }
    for (t <- Seq(LongType, IntegerType); nullable <- Seq(true, false))
      assert(schemaOf(t, nullable) == StructType(Seq(
        StructField("doc_id", t, nullable), StructField("group_id", t, nullable = true))))
  }

  /** The reference components: union by min over all pairs, outside Spark. */
  private def reference(pairs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.sorted.map(x => x -> find(x))
  }

  /** A disjoint union of cliques, paths and stars on shuffled ids,
    * with self-pairs, duplicate pairs and both orientations.
    */
  private def randomGraph(seed: Int): Seq[(Long, Long)] = {
    val rnd = new Random(seed)
    val ids = rnd.shuffle((1L to 400L).toVector).iterator
    def take(n: Int) = Vector.fill(n)(ids.next())
    val cliques = Seq.fill(3)(take(2 + rnd.nextInt(5)))
      .flatMap(c => for (a <- c; b <- c if a < b) yield (a, b))
    val paths = Seq.fill(3)(take(2 + rnd.nextInt(12)))
      .flatMap(p => p.zip(p.tail))
    val stars = Seq.fill(2)(take(3 + rnd.nextInt(8)))
      .flatMap(s => s.tail.map(s.head -> _))
    val edges = cliques ++ paths ++ stars
    val selfs = take(3).map(x => (x, x)) ++ edges.take(2).map(e => (e._1, e._1))
    val flipped = edges.map(e => if (rnd.nextBoolean()) e.swap else e)
    rnd.shuffle(flipped ++ selfs ++ edges.take(5) ++ edges.takeRight(3).map(_.swap))
  }

  private val longPath = {
    val ids = new Random(7).shuffle((1L to 200L).toVector)
    ids.zip(ids.tail)
  }

  private val graphs: Seq[(String, Seq[(Long, Long)])] =
    (1 to 3).map(s => s"random graph seed $s" -> randomGraph(s)) ++
      Seq("200-node path" -> longPath, "empty" -> Seq.empty[(Long, Long)])

  private val configs: Seq[(String, Map[String, String])] = Seq(
    "default" -> Map.empty,
    "AQE off" -> Map("spark.sql.adaptive.enabled" -> "false"),
    "no broadcast" -> Map("spark.sql.autoBroadcastJoinThreshold" -> "-1"))

  for ((cfgName, cfg) <- configs) {
    test(s"equals a reference union-find at partitionings 1, 4, 39 ($cfgName)") {
      val s = spark.newSession()
      cfg.foreach { case (k, v) => s.conf.set(k, v) }
      for ((name, pairs) <- graphs; parts <- Seq(1, 4, 39))
        assert(groups(Dedup.connectedGroups(frame(s, pairs, parts))) == reference(pairs),
          s"$name at $parts partitions")
    }
  }

  test("two runs on the same input execute the same plans") {
    val s = spark.newSession()
    val plans = mutable.ArrayBuffer.empty[String]
    s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized(plans += s"$funcName\n${qe.executedPlan}")
      override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
    })
    // listener delivery is async: wait until no plan arrived for 1 s
    def settled(): Seq[String] = {
      var n = -1
      val deadline = System.nanoTime() + 30e9.toLong
      while (plans.synchronized(plans.size) != n && System.nanoTime() < deadline) {
        n = plans.synchronized(plans.size)
        Thread.sleep(1000)
      }
      plans.synchronized { val out = plans.toList; plans.clear(); out }
    }
    // ids, plan ids and lambda instances differ between runs by design
    def normalized(plan: String): String = plan
      .replaceAll("#\\d+L?", "#")
      .replaceAll("plan_id=\\d+", "plan_id")
      .replaceAll("\\$\\$Lambda[^\\s,)\\]]*", "\\$\\$Lambda")
    // two graphs that need a second round at 4 partitions, so the
    // relabel join runs too
    val pairs = randomGraph(11) ++ longPath.map { case (a, b) => (a + 1000, b + 1000) }
    intercept[IllegalStateException](Dedup.connectedGroups(frame(s, pairs, 4), maxIter = 1))
    def run(): Seq[String] = {
      assert(groups(Dedup.connectedGroups(frame(s, pairs, 4))) == reference(pairs))
      settled().map(normalized)
    }
    settled()
    val first = run()
    val second = run()
    assert(first.nonEmpty)
    assert(first == second, first.zip(second).find(p => p._1 != p._2).toString)
  }
}
