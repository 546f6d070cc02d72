package graft

import java.nio.file.{Files, Path, Paths}
import graft.TempDirs.withTempDir
import scala.sys.process._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Runs the real `tools/verify_diff.py` on small Verify-shaped trees
  * written by Spark: a match, and one tree per kind of difference it
  * must name (row order, nullability, key set, oracle_sql.json).
  */
class VerifyDiffSpec extends SparkSpec {

  private val tool = new java.io.File("tools/verify_diff.py").getAbsolutePath
  private val pyarrow =
    Seq("python3", "-c", "import pyarrow.parquet").!(ProcessLogger(_ => ())) == 0

  private def run(a: Path, b: Path): (Int, String) = {
    val out = new StringBuilder
    val code = Seq("python3", tool, a.toString, b.toString)
      .!(ProcessLogger(l => out.append(l).append('\n')))
    (code, out.toString)
  }

  /** A Verify-shaped tree under `root`: each frame in one parquet
    * file, plus oracle_sql.json.
    */
  private def tree(root: String)(keys: (String, DataFrame)*)(oracle: String = "{}"): Path = {
    val dir = Files.createTempDirectory(Paths.get(root), "tree")
    keys.foreach { case (k, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(dir.resolve(k).toString)
    }
    Files.writeString(dir.resolve("oracle_sql.json"), oracle)
    dir
  }

  private def ids(xs: Long*): DataFrame = {
    import spark.implicits._
    xs.toDF("doc_id").coalesce(1)
  }

  test("verify_diff passes equal trees and names the key of each kind of difference") {
    assume(pyarrow, "no host python3 with pyarrow")
    withTempDir("verify_diff_spec") { root =>
      val base = tree(root)("a" -> ids(1, 2, 3), "b" -> ids(7))()
      assert(run(base, tree(root)("a" -> ids(1, 2, 3), "b" -> ids(7))()) ==
        (0, "OK 2 keys row-identical, schemas equal; 1 files byte-identical\n"))

      val (order, orderOut) = run(base, tree(root)("a" -> ids(1, 3, 2), "b" -> ids(7))())
      assert(order == 1 && orderOut.startsWith("DIFF a: row 1 differs"), orderOut)

      // the same rows with a nullable column (`ids` is not nullable)
      val nullable = spark.createDataFrame(ids(1, 2, 3).rdd,
        StructType(Seq(StructField("doc_id", LongType, nullable = true))))
      val (schema, schemaOut) = run(base, tree(root)("a" -> nullable, "b" -> ids(7))())
      assert(schema == 1 && schemaOut.startsWith("DIFF a: schema differs"), schemaOut)

      val (missing, missingOut) = run(base, tree(root)("a" -> ids(1, 2, 3))())
      assert(missing == 1 && missingOut.startsWith("DIFF b: key missing"), missingOut)

      val (oracle, oracleOut) = run(base, tree(root)("a" -> ids(1, 2, 3), "b" -> ids(7))("{\"a\": 1}"))
      assert(oracle == 1 && oracleOut.startsWith("DIFF oracle_sql.json: bytes differ"), oracleOut)

      val (rows, rowsOut) = run(base, tree(root)("a" -> ids(1, 2, 3), "b" -> ids(7, 8))())
      assert(rows == 1 && rowsOut.startsWith("DIFF b: 1 rows expected, 2 found"), rowsOut)
    }
  }
}
