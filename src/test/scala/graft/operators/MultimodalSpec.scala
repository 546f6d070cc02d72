package graft.operators

import graft.SparkSpec
import graft.TempDirs.withTempDir
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "hello world", "src0"),
    (1L, "abc", "src1"),
    (2L, "some video-ish payload bytes here", "src2"))
    .toDF("doc_id", "text", "source")

  test("asMedia: payload bytes are UTF-8 of text; meta is queryable without payload") {
    val m = Multimodal.asMedia(docs)
    val r = m.filter(col("doc_id") === 0).select("payload", "meta.media_type", "meta.n_bytes")
      .collect().head
    assert(new String(r.getAs[Array[Byte]](0), "UTF-8") == "hello world")
    assert(r.getString(1) == "image")
    assert(r.getInt(2) == 11)
    // media_type fan-out is doc_id % 3
    val types = m.select(col("doc_id"), col("meta.media_type")).collect()
      .map(r2 => r2.getLong(0) -> r2.getString(1)).toMap
    assert(types == Map(0L -> "image", 1L -> "audio", 2L -> "video"))
  }

  test("modalityMix: per-source cells with byte totals and within-source shares") {
    val d = Seq(
      (0L, "aaaa", "s1"), (1L, "bb", "s1"), (2L, "c", "s1"),
      (3L, "dddddd", "s2"))
      .toDF("doc_id", "text", "source")
    val out = Multimodal.modalityMix(d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(out.toSeq == Seq(
      ("s1", "audio", 1L, 2L, 0.333333),
      ("s1", "image", 1L, 4L, 0.333333),
      ("s1", "video", 1L, 1L, 0.333333),
      ("s2", "image", 1L, 6L, 1.0)), out.toSeq.toString)
  }

  test("payloadSizeOutliers: the decode bomb is flagged against its own modality") {
    // all ids ≡ 0 (mod 3) → one 'image' modality; byte sizes 9,10,11,10,100
    val d = Seq(
      (0L, "x" * 9, "s"), (3L, "x" * 10, "s"), (6L, "x" * 11, "s"),
      (9L, "x" * 10, "s"), (12L, "x" * 100, "s"))
      .toDF("doc_id", "text", "source")
    val out = Multimodal.payloadSizeOutliers(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getDouble(4)))
    val score = math.rint(90.0 / 1.4826 * 1e4) / 1e4
    assert(out.toSeq == Seq(("image", 12L, 100, score)), out.toSeq.toString)
  }

  test("decodeFeatures: deterministic stub features, one per record") {
    val out1 = Multimodal.decodeFeatures(docs).collect().sortBy(_.doc_id)
    val out2 = Multimodal.decodeFeatures(docs.repartition(3)).collect().sortBy(_.doc_id)
    assert(out1.toSeq == out2.toSeq)
    assert(out1.length == 3)
    assert(out1.forall(f => f.width >= 64 && f.height >= 64 && f.n_frames >= 1))
    // only video rows get multi-frame counts
    assert(out1.filter(_.media_type != "video").forall(_.n_frames == 1))
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  test("sampleFrames: only video payloads, stride sampling, digest of joined frame ids") {
    val out = Multimodal.sampleFrames(docs, stride = 4).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(2L))
    val text = "some video-ish payload bytes here"
    assert(out.head.getInt(1) == (text.length + 3) / 4)
    val expectFrames = text.getBytes("UTF-8").indices.by(4)
      .map(i => text.getBytes("UTF-8")(i).toInt & 0xff)
    assert(out.head.getString(2) == md5Hex(expectFrames.mkString(",")))
  }

  test("frameEntropy: uniform two-value frames read ln 2; constant frames read 0") {
    val d = Seq(
      (2L, "a" * 16 + "b" * 16, "s"),   // frames at bytes 0,16 → [a, b] → ln 2
      (5L, "c" * 32, "s"))              // frames [c, c] → entropy 0
      .toDF("doc_id", "text", "source")
    val out = Multimodal.frameEntropy(d, stride = 16).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    val ln2 = BigDecimal(math.log(2.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(2L) == ((2, ln2)), out.toString)
    assert(out(5L) == ((2, -0.0)) || out(5L) == ((2, 0.0)), out.toString)
  }

  test("binaryFile source: raw media files ingest into the payload+meta layout") {
    import org.apache.spark.sql.functions._
    // Stand-in for an object-store media drop: one file per blob. The
    // binaryFile source reads (path, modificationTime, length, content)
    // — the ingestion edge that turns a bucket of images into the
    // payload+meta convention without a custom reader.
    withTempDir("blobs") { dir =>
      val blobs = Seq("img_0" -> "fake-image-bytes", "img_1" -> "more-bytes")
      blobs.foreach { case (name, content) =>
        java.nio.file.Files.write(java.nio.file.Paths.get(dir, s"$name.bin"),
          content.getBytes("UTF-8"))
      }
      val ingested = spark.read.format("binaryFile").load(dir)
        .select(
          regexp_extract(col("path"), "([^/]+)\\.bin$", 1).as("blob_id"),
          col("content").as("payload"),
          struct(lit("image").as("media_type"), col("length").as("n_bytes")).as("meta"))
      val rows = ingested.orderBy("blob_id").collect()
      assert(rows.length == blobs.length)
      assert(rows.map(r => new String(r.getAs[Array[Byte]]("payload"), "UTF-8")).toSeq ==
        blobs.map(_._2))
      assert(rows.map(_.getAs[org.apache.spark.sql.Row]("meta").getAs[Long]("n_bytes")).toSeq ==
        blobs.map(_._2.length.toLong))
    }
  }

  test("decodeStub: checksum is md5 hex of payload; dims carved from hex chunks") {
    val f = Multimodal.decodeStub(
      Multimodal.MediaRecord(7L, "hello world".getBytes("UTF-8"), "video"))
    val hex = md5Hex("hello world")
    assert(f.checksum == hex)
    assert(f.width == 64 + (java.lang.Long.parseLong(hex.substring(0, 6), 16) % 1024).toInt)
    assert(f.height == 64 + (java.lang.Long.parseLong(hex.substring(6, 12), 16) % 1024).toInt)
    assert(f.n_frames == 1 + (java.lang.Long.parseLong(hex.substring(12, 18), 16) % 300).toInt)
    // non-video: single frame
    assert(Multimodal.decodeStub(
      Multimodal.MediaRecord(7L, "hello world".getBytes("UTF-8"), "image")).n_frames == 1)
  }

  test("shardManifest: content-addressed placement conserves assets and bytes") {
    val out = Multimodal.shardManifest(docs, nShards = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.forall { case (sid, _, _, _, _, _) => sid >= 0 && sid < 4 })
    assert(out.map(_._2).sum == 3L)                          // every asset placed once
    assert(out.map(_._3).sum == ("hello world".length + "abc".length +
      "some video-ish payload bytes here".length).toLong)    // bytes conserved
    // modality split follows doc_id % 3: one image (0), one audio (1), one video (2)
    assert((out.map(_._4).sum, out.map(_._5).sum, out.map(_._6).sum) == ((1L, 1L, 1L)))
    // expected shard of doc 0: first 8 md5-hex chars of the payload, mod 4
    val expShard = java.lang.Long.parseLong(md5Hex("hello world").substring(0, 8), 16) % 4
    assert(out.exists { case (sid, _, _, ni, _, _) => sid == expShard && ni == 1L })
    // deterministic: recomputing yields the identical manifest
    val again = Multimodal.shardManifest(docs, nShards = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.toSeq == again.toSeq)
  }

  test("textEmbeddingAlign: coverage split, zero-norm count, hand-checked corr") {
    import spark.implicits._
    val docs = Seq((1L, 10L), (2L, 20L), (3L, 40L), (4L, 99L))
      .toDF("doc_id", "n_chars") // doc 4 has no vector
    val embs = Seq(
      (1L, Seq(3.0f, 4.0f)),   // norm 5
      (2L, Seq(6.0f, 8.0f)),   // norm 10
      (3L, Seq(0.0f, 0.0f)),   // degenerate zero norm
      (9L, Seq(1.0f, 0.0f)))   // orphan vector
      .toDF("vec_id", "embedding")
    val out = Multimodal.textEmbeddingAlign(docs, embs).collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2), out.getLong(3)) ==
      ((3L, 1L, 1L, 1L)), out.toString)
    // x=[10,20,40], y=[5,10,0]: r = −300/√(1400·150) = −0.654654
    assert(out.getDouble(4) == -0.654654, out.toString)
  }
}
