package graft

import graft.TempDirs.withTempDir
import org.apache.spark.sql.functions._
import org.scalatest.{Args, Status}

/** Pins the scale-corpus generator's contract — the 10× timing corpus
  * is itself measurement apparatus, and its first version skewed a
  * whole scale-curve pass (single-file tables serialized every scan).
  * Invariants: 10× row counts with per-replica key striding (replicas
  * joinable within, disjoint across), text transformed by a bijective
  * letter map (lengths preserved, cross-replica token overlap ~zero),
  * perturbed-but-present vectors, and a multi-file layout so scans
  * parallelize the way a real ingest directory does.
  */
class ScaleDataSpec extends SparkSpec {

  // the generated corpus is shared by the suite's tests and deleted
  // when the suite ends
  private var root: String = _
  private lazy val out = {
    graft.ScaleData.generate(spark, sf0001, root, 3)
    root
  }
  override def run(testName: Option[String], args: Args): Status =
    withTempDir("scaledata_spec") { d =>
      root = d
      val status = super.run(testName, args)
      status.waitUntilCompleted()
      status
    }

  test("fact tables replicate with striding; dims stay fixed") {
    val docs = spark.read.parquet(s"$out/documents.parquet")
    val src = Tables.documents(spark, sf0001)
    assert(docs.count() === src.count() * 3)
    // replica key ranges are disjoint (stride 2^30 >> any source id)
    val reps = docs.select((col("doc_id") / (1L << 30)).cast("int").as("r"))
      .distinct().collect().map(_.getInt(0)).sorted
    assert(reps.toSeq === Seq(0, 1, 2))
    assert(spark.read.parquet(s"$out/nation.parquet").count() ===
      Tables.nation(spark, sf0001).count())
    // intra-replica join keys still line up: orders→customer hit rate
    // is identical in replica 1 and the source
    val o1 = spark.read.parquet(s"$out/orders.parquet")
      .filter(col("o_custkey") >= (1L << 30) && col("o_custkey") < (2L << 30))
    val c1 = spark.read.parquet(s"$out/customer.parquet")
      .filter(col("c_custkey") >= (1L << 30))
    val hit = o1.join(c1, col("o_custkey") === col("c_custkey")).count()
    val srcHit = Tables.orders(spark, sf0001)
      .join(Tables.customer(spark, sf0001), col("o_custkey") === col("c_custkey")).count()
    assert(hit === srcHit)
  }

  test("text maps are bijective per replica and nearly disjoint across replicas") {
    val docs = spark.read.parquet(s"$out/documents.parquet")
    // length preserved (bijective char map)
    assert(docs.filter(length(col("text")) =!= col("n_chars")).count() === 0)
    // cross-replica token overlap is a tiny fraction of either vocab
    def vocab(r: Int) = docs
      .filter(col("doc_id") >= (r.toLong << 30) && col("doc_id") < ((r + 1).toLong << 30))
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) > 0).distinct()
    val v0 = vocab(0).withColumnRenamed("tok", "t0")
    val v1 = vocab(1)
    val shared = v0.join(v1, col("t0") === col("tok")).count()
    val n0 = v0.count()
    assert(shared.toDouble / n0 < 0.2,
      s"cross-replica vocab overlap $shared/$n0 — replicas would LSH-collide")
  }

  test("vectors are perturbed per replica but dimensionality is preserved") {
    val emb = spark.read.parquet(s"$out/embeddings.parquet")
    val dims = emb.select(size(col("embedding")).as("d")).distinct().collect()
    assert(dims.length === 1)
    // replica 1's copy of vec 0 differs from replica 0's
    val v0 = emb.filter(col("vec_id") === 0).select("embedding").collect()
      .head.getSeq[Float](0)
    val v1 = emb.filter(col("vec_id") === (1L << 30)).select("embedding").collect()
      .head.getSeq[Float](0)
    assert(v0 !== v1)
  }

  test("fact tables land as multiple files so scans parallelize") {
    val files = new java.io.File(s"$out/lineitem.parquet")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files >= 8, s"single-file scale tables serialize scans (got $files)")
  }
}
