package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column conventions: opaque `binary` payloads + typed
  * metadata structs, with decode / feature-extraction plumbing.
  *
  * Convention (the part that matters at 100 TB):
  *   - payload: BinaryType — the raw media bytes, stored inline in
  *     parquet (or as object-store pointers for >row-group-size
  *     blobs; same schema either way).
  *   - meta: StructType(media_type, n_bytes, source) — queryable
  *     without touching the payload, so filters/pruning never read
  *     the blob pages (columnar win: metadata predicates push down,
  *     payload column is only scanned by decode stages).
  *
  * The decode itself is STUBBED (no image/audio libs in this
  * container): [[FakeDecoded]] features are a deterministic pure
  * function of the payload bytes. The Spark-side plumbing — schema,
  * partition-iterator batch shape, typed Dataset boundary — is real;
  * swap `decodeStub` for an actual codec binding per partition
  * (load-library-once-per-partition pattern) and nothing else
  * changes.
  */
object Multimodal {

  /** Project `documents` into the multimodal layout: payload =
    * UTF-8 bytes of the text (deterministic fake media), meta struct
    * derived per row. Media type fanned out deterministically from
    * doc_id so all three modalities appear.
    */
  def asMedia(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      col("text").cast("binary").as("payload"),
      struct(
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"),
        length(col("text").cast("binary")).as("n_bytes"),
        col("source").as("source")).as("meta"))

  /** Oracle-checkable payload statistics — metadata-only reads plus a
    * payload digest (binary md5 == text md5 for UTF-8 payloads).
    */
  def payloadStats(documents: DataFrame): DataFrame =
    asMedia(documents).select(
      col("doc_id"),
      col("meta.media_type").as("media_type"),
      col("meta.n_bytes").as("n_bytes"),
      md5(col("payload")).as("digest"))
      .orderBy("doc_id")

  /** Content-hash dedup of binary payloads — the image/audio dedup
    * pass: group by payload digest WITHIN media_type (identical bytes
    * under different types are different assets), keep the lowest
    * doc_id, report multiplicity. The groupBy key is the 16-byte
    * digest, so payload bytes never cross the shuffle — same wire
    * discipline as text [[Dedup.exact]], which matters far more here
    * (payloads are MBs, not KBs).
    */
  def payloadDedup(documents: DataFrame): DataFrame =
    asMedia(documents)
      .groupBy(col("meta.media_type").as("media_type"),
        md5(col("payload")).as("digest"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("media_type", "keep_id")

  /** Modality mix per source: asset and byte counts per (source,
    * media_type) cell with within-source share — the storage-planning
    * and mix-weighting table a multimodal corpus needs before
    * training-shard layout (media type decides decode cost and shard
    * packing; a source that is 90% video packs very differently from
    * a text-heavy one). Metadata-only: reads the meta struct, never
    * the payload pages — the columnar win the [[asMedia]] layout
    * exists for.
    */
  def modalityMix(documents: DataFrame): DataFrame = {
    val cells = asMedia(documents)
      .select(col("meta.source").as("source"),
        col("meta.media_type").as("media_type"),
        col("meta.n_bytes").as("n_bytes"))
      .groupBy("source", "media_type")
      .agg(count(lit(1)).as("n_assets"), sum("n_bytes").as("total_bytes"))
    val totals = cells.groupBy("source").agg(sum("n_assets").as("n_src"))
    cells.join(broadcast(totals), Seq("source"))
      .select(col("source"), col("media_type"), col("n_assets"), col("total_bytes"),
        round(col("n_assets").cast("double") / col("n_src"), 6).as("share"))
      .orderBy("source", "media_type")
  }

  /** Payload-size outliers per media type: median/MAD robust scoring
    * of `n_bytes` within each modality (a 2 KB "video" is a
    * thumbnail mislabel or a corrupt stub; a 500 MB "image" is a
    * decode bomb) — the metadata-only junk screen run BEFORE any
    * decode stage spends cycles on it. Same breakdown-safe
    * median/MAD conventions as
    * [[graft.operators.EventOps.hourlyAnomaliesMad]]; baselines are
    * per-modality (3-row) broadcast joins.
    */
  def payloadSizeOutliers(documents: DataFrame, k: Double = 1.5): DataFrame = {
    val m = asMedia(documents).select(
      col("doc_id"), col("meta.media_type").as("media_type"),
      col("meta.n_bytes").as("n_bytes"))
    val med = m.groupBy("media_type")
      .agg(percentile(col("n_bytes"), lit(0.5)).as("med_b"))
    val mad = m.join(broadcast(med), Seq("media_type"))
      .groupBy("media_type")
      .agg(percentile(abs(col("n_bytes") - col("med_b")), lit(0.5)).as("mad_b"))
    m.join(broadcast(med), Seq("media_type"))
      .join(broadcast(mad), Seq("media_type"))
      .filter(col("mad_b") > 0 &&
        abs(col("n_bytes") - col("med_b")) > lit(k) * lit(1.4826) * col("mad_b"))
      .select(col("media_type"), col("doc_id"), col("n_bytes"),
        round(col("med_b"), 4).as("med_bytes"),
        round(abs(col("n_bytes") - col("med_b")) / (lit(1.4826) * col("mad_b")), 4)
          .as("robust_score"))
      .orderBy("media_type", "doc_id")
  }

  /** Typed record crossing the Dataset boundary into decode. */
  case class MediaRecord(doc_id: Long, payload: Array[Byte], media_type: String)

  /** Decoded features. STUB SEMANTICS: deterministic fake values
    * derived from an md5 digest of the payload bytes — a real build
    * links a codec here. The digest basis (rather than a bespoke
    * rolling hash) makes the stub oracle-checkable: any engine with
    * md5 reproduces width/height/n_frames/checksum exactly.
    */
  case class FakeDecoded(doc_id: Long, media_type: String,
                         width: Int, height: Int, n_frames: Int, checksum: String)

  private def md5Hex(bytes: Array[Byte]): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(bytes)
    val sb = new java.lang.StringBuilder(32)
    d.foreach(b => sb.append(f"${b & 0xff}%02x"))
    sb.toString
  }

  /** ======= STUB: fake "decode" of a media payload. =======
    * Deterministic pure function of the bytes: md5 the payload, carve
    * pseudo width/height/frame-count out of hex chunks. Replace the
    * body with e.g. a JNI image decoder; the per-partition iterator
    * shape (init once, stream records, no per-row setup) is the real
    * contract.
    */
  private[graft] def decodeStub(r: MediaRecord): FakeDecoded = {
    val hex = md5Hex(r.payload)
    def chunk(from: Int): Long = java.lang.Long.parseLong(hex.substring(from, from + 6), 16)
    val w = 64 + (chunk(0) % 1024).toInt
    val h = 64 + (chunk(6) % 1024).toInt
    val f = if (r.media_type == "video") 1 + (chunk(12) % 300).toInt else 1
    FakeDecoded(r.doc_id, r.media_type, w, h, f, hex)
  }

  /** Decode/feature-extract stage: typed mapPartitions so any real
    * codec initializes once per partition (the `it => ...` closure
    * runs once per partition; per-record work streams through it).
    * This is the Scala analogue of mapInPandas batch processing.
    */
  def decodeFeatures(documents: DataFrame): Dataset[FakeDecoded] = {
    val spark = documents.sparkSession
    import spark.implicits._
    asMedia(documents)
      .select(col("doc_id"), col("payload"), col("meta.media_type").as("media_type"))
      .as[MediaRecord]
      .mapPartitions { it =>
        // real impl: val codec = Codec.load() — once per partition
        it.map(decodeStub)
      }
  }

  /** "Frame sampling" over video payloads: take every `stride`-th
    * byte as a fake frame id — demonstrates payload-slicing plumbing
    * with metadata-pruned input (only video rows ever read payload).
    * Internal API: the raw array column (for downstream per-frame
    * stages); the query surface uses [[sampleFrames]], whose digest
    * projection is hashable by any harness.
    */
  private[graft] def sampleFramesRaw(documents: DataFrame, stride: Int = 16): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    asMedia(documents)
      .filter(col("meta.media_type") === "video")
      .select(col("doc_id"), col("payload"), col("meta.media_type").as("media_type"))
      .as[MediaRecord]
      .map { r =>
        val frames = r.payload.indices.by(stride).map(i => r.payload(i).toInt & 0xff).toArray
        (r.doc_id, frames.length, frames)
      }
      .toDF("doc_id", "n_frames", "frame_bytes")
  }

  /** Oracle-checkable frame-sampling surface: frame count plus an md5
    * digest of the comma-joined frame ids. Arrays don't survive every
    * result harness (pandas can't sort/hash ndarray cells) — a digest
    * carries the same evidence of per-frame content in a scalar.
    */
  def sampleFrames(documents: DataFrame, stride: Int = 16): DataFrame =
    sampleFramesRaw(documents, stride)
      .select(col("doc_id"), col("n_frames"),
        md5(array_join(transform(col("frame_bytes"), _.cast("string")), ",").cast("binary"))
          .as("frames_md5"))
      .orderBy("doc_id")

  /** Per-video Shannon entropy (nats) of the sampled frame-byte
    * distribution — the cheap junk detector for opaque payloads:
    * near-zero entropy is a stuck/black stream, maximal entropy is
    * encrypted/noise bytes, real media sits between. Same
    * per-(doc, value) collapse as
    * [[graft.operators.TextAnalysis.charEntropy]] — frames collapse
    * map-side to ≤256 rows per doc before the shuffle.
    */
  def frameEntropy(documents: DataFrame, stride: Int = 16): DataFrame =
    sampleFramesRaw(documents, stride)
      .select(col("doc_id"), col("n_frames"), explode(col("frame_bytes")).as("b"))
      .groupBy("doc_id", "n_frames", "b").agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "n_frames")
      .agg(round(-sum((col("c").cast("double") / col("n_frames")) *
        log(col("c").cast("double") / col("n_frames"))), 6).as("entropy"))
      .orderBy("doc_id")

  /** Training-shard manifest: assign every asset to one of `nShards`
    * content-addressed shards (WebDataset/TFRecord-style layout) and
    * report each shard's asset count, byte total, and modality mix —
    * the table a dataloader fleet reads to schedule shard downloads,
    * and the balance check run before committing a shard count.
    * Content-hash assignment ([[Curation.shardId]] of the payload,
    * the rule the text curation stages use) makes placement reproducible on any cluster, independent of row
    * order or doc ids — re-ingesting the same bytes lands in the
    * same shard. Map-only assignment; the report agg is nShards
    * keys; the actual shard write is
    * `.repartition(col("shard_id")).write.partitionBy("shard_id")`
    * with payload bytes crossing the wire exactly once.
    */
  def shardManifest(documents: DataFrame, nShards: Int = 16): DataFrame =
    asMedia(documents)
      .select(
        Curation.shardId(col("payload"), nShards).as("shard_id"),
        col("meta.media_type").as("media_type"),
        col("meta.n_bytes").as("n_bytes"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_assets"),
        sum(col("n_bytes").cast("long")).as("total_bytes"),
        sum(when(col("media_type") === "image", 1L).otherwise(0L)).as("n_image"),
        sum(when(col("media_type") === "audio", 1L).otherwise(0L)).as("n_audio"),
        sum(when(col("media_type") === "video", 1L).otherwise(0L)).as("n_video"))
      .orderBy("shard_id")

  /** Cross-modal alignment audit between the text corpus and its
    * embedding store (vec_id keyed to doc_id): row-level coverage
    * (matched / text-only / vector-only — an orphan on either side is
    * a broken embedding job) plus, over the matched rows, the Pearson
    * correlation of document length vs embedding L2 norm (computed
    * from exact-rounded inputs via the raw-sums identity) and the
    * count of degenerate zero-norm vectors. Unnormalized embedding
    * pipelines correlate norm with input length; a corr collapse or a
    * zero-norm spike means the encoder silently truncated or NaN'd.
    *
    * Shape at 100 TB: one full-outer hash join on the id (ids +
    * lengths + norms cross the wire, never text or vectors — both are
    * reduced map-side first), then a single-row conditional
    * aggregate.
    */
  def textEmbeddingAlign(documents: DataFrame, embeddings: DataFrame): DataFrame = {
    val d = documents.select(col("doc_id").as("id"), col("n_chars"))
    val e = embeddings
      .select(col("vec_id").as("id"),
        round(sqrt(aggregate(col("embedding").cast("array<double>"), lit(0.0),
          (acc, x) => acc + x * x)), 6).as("l2_norm"))
    val j = d.join(e, Seq("id"), "full_outer")
      .select(col("id"), col("n_chars"), col("l2_norm"))
    val matched = j.filter(col("n_chars").isNotNull && col("l2_norm").isNotNull)
      .select(col("n_chars").cast("double").as("x"), col("l2_norm").as("y"))
    val sums = matched.agg(count(lit(1)).as("m"),
      sum("x").as("sx"), sum("y").as("sy"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sx2"), sum(col("y") * col("y")).as("sy2"),
      count(when(col("y") === 0.0, lit(1))).as("n_zero_norm"))
    val coverage = j.agg(
      count(when(col("n_chars").isNotNull && col("l2_norm").isNotNull, lit(1)))
        .as("n_matched"),
      count(when(col("l2_norm").isNull, lit(1))).as("n_text_only"),
      count(when(col("n_chars").isNull, lit(1))).as("n_vector_only"))
    coverage.crossJoin(broadcast(sums))
      .select(col("n_matched"), col("n_text_only"), col("n_vector_only"),
        col("n_zero_norm"),
        when(col("m") * col("sx2") - col("sx") * col("sx") > 0 &&
             col("m") * col("sy2") - col("sy") * col("sy") > 0,
          round((col("m") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("m") * col("sx2") - col("sx") * col("sx")) *
              (col("m") * col("sy2") - col("sy") * col("sy"))), 6))
          .as("len_norm_corr"))
  }
}
