package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import graft.TempDirs.withTempDir

/** Z-order clustering: bit-level correctness of the interleave and
  * the layout property that justifies it — each z-ordered output file
  * covers a small rectangle in BOTH dimensions, which is what lets
  * parquet min/max stats prune files for 2-D predicates at 100 TB.
  */
class ClusteringSpec extends SparkSpec {

  test("zValue interleaves bits (known vectors) and is monotone in each dim at fixed other") {
    import spark.implicits._
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (65535L, 65535L))
      .toDF("x", "y")
      .withColumn("z", Clustering.zValue(col("x"), col("y")))
    val got = df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // reference interleave computed in plain Scala
    def ref(x: Long, y: Long): Long =
      (0 until 16).map(i => (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum
    for (((x, y), z) <- got) assert(z === ref(x, y), s"($x,$y)")
    assert(ref(65535L, 65535L) === 0xFFFFFFFFL)
  }

  test("z-ordered write localizes BOTH dims per file; 1-D sort localizes only one") {
    // Two dimensions of EQUAL bit width (8 bits each) — z-order can
    // only localize both dims when the interleaved bits alternate at
    // comparable scales; with 16 = 4^2 files each file should cover
    // ~1/4 of each dimension's domain.
    val events = Tables.events(spark, sf0001)
    val hourUs = 3600L * 1000000
    val base = EventOps.withTsUs(events)
      .select(col("event_id").bitwiseAND(lit(0xFFL)).as("x"),
        expr(s"ts_us div $hourUs").bitwiseAND(lit(0xFFL)).as("y"))
    val nFiles = 16

    withTempDir("zorder") { zDir =>
      Clustering.zOrderWrite(base, col("x"), col("y"), zDir, nFiles)
      withTempDir("linear") { linDir =>
        base.repartitionByRange(nFiles, col("x")).sortWithinPartitions("x")
          .write.mode("overwrite").parquet(linDir)

        // average per-file span of each dimension, from the data each
        // file actually holds — the proxy for its parquet min/max stats
        def spans(dir: String): (Double, Double) = {
          val rows = spark.read.parquet(dir)
            .groupBy(input_file_name())
            .agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"))
            .collect()
          (rows.map(_.getAs[Long]("sx")).sum.toDouble / rows.length,
            rows.map(_.getAs[Long]("sy")).sum.toDouble / rows.length)
        }
        val (zx, zy) = spans(zDir)
        val (lx, ly) = spans(linDir)
        val (globalX, globalY) = {
          val r = base.agg(max("x") - min("x"), max("y") - min("y")).collect()(0)
          (r.getLong(0).toDouble, r.getLong(1).toDouble)
        }
        // 1-D sort: x tight, y essentially unlocalized
        assert(lx < globalX * 0.25, s"linear layout should localize x: $lx vs $globalX")
        // z-order: BOTH dims materially tighter than the unclustered span,
        // and y at least 2× tighter than the 1-D layout manages
        assert(zx < globalX * 0.5, s"z-order failed to localize x: $zx vs $globalX")
        assert(zy < globalY * 0.5, s"z-order failed to localize y: $zy vs $globalY")
        assert(zy < ly * 0.5, s"z-order y-span $zy not better than linear's $ly")
      }
    }
  }
}
