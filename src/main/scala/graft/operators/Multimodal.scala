package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** A raw media record: opaque binary payload + typed metadata columns.
  * At 100 TB the payload column dominates — keep it last, project it away
  * early wherever only metadata is needed (parquet column pruning). */
case class MediaRecord(media_id: Long, kind: String, payload: Array[Byte])

case class MediaMeta(media_id: Long, kind: String, n_bytes: Long,
    width: Int, height: Int, duration_ms: Int, n_frames: Int, checksum: Long)

/** Multimodal column plumbing (SURVEY.md §2 row 33): image/audio/video as
  * opaque `binary` columns, decoded in executor-side batches.
  *
  * Metadata extraction parses REAL container headers by magic bytes —
  * PNG IHDR, JPEG SOFn, GIF logical screen descriptor, RIFF/WAVE — all
  * public byte layouts, no media libraries. Pixel-level work (full
  * decode, resize) remains a STUB (the container has no codecs): a
  * deterministic fake stands in, and unrecognized payloads (the
  * synthetic utf-8 corpus) fall back to it. Everything around the
  * decode — the schema, the `Dataset[MediaRecord]` typed pipeline, the
  * `mapPartitions` batch shape (the Scala twin of `mapInPandas`
  * batches), the frame-sampling explode — is real and tested.
  */
object Multimodal {
  val BatchSize = 32

  private def be16(p: Array[Byte], i: Int): Int =
    ((p(i) & 0xff) << 8) | (p(i + 1) & 0xff)
  private def be32(p: Array[Byte], i: Int): Int =
    ((p(i) & 0xff) << 24) | ((p(i + 1) & 0xff) << 16) |
      ((p(i + 2) & 0xff) << 8) | (p(i + 3) & 0xff)
  private def le16(p: Array[Byte], i: Int): Int =
    (p(i) & 0xff) | ((p(i + 1) & 0xff) << 8)
  private def le32(p: Array[Byte], i: Int): Long =
    (p(i) & 0xffL) | ((p(i + 1) & 0xffL) << 8) |
      ((p(i + 2) & 0xffL) << 16) | ((p(i + 3) & 0xffL) << 24)
  private def ascii(p: Array[Byte], i: Int, s: String): Boolean =
    i + s.length <= p.length && s.indices.forall(j => (p(i + j) & 0xff) == s.charAt(j))

  /** Magic-byte header parse → (width, height, duration_ms, n_frames),
    * or None when no known container signature matches. Byte layouts are
    * from the public format specs:
    *  - PNG: 8-byte signature, IHDR is the first chunk — width/height
    *    are big-endian u32 at offsets 16/20.
    *  - JPEG: FF D8 then marker segments; any SOFn (C0–CF minus the
    *    non-frame C4/C8/CC) carries precision(1), height(2), width(2)
    *    big-endian after the 2-byte segment length.
    *  - GIF: "GIF87a"/"GIF89a", then little-endian u16 width/height.
    *  - RIFF/WAVE: chunk walk; "fmt " carries byte-rate (LE u32 at +8),
    *    "data"'s size / byte-rate gives the duration.
    * A truncated or corrupt header returns None (never throws): malformed
    * blobs at 100 TB are data, not exceptions — they fall through to the
    * deterministic fallback like any other unrecognized payload. */
  private[graft] def parseHeader(p: Array[Byte]): Option[(Int, Int, Int, Int)] =
    try {
      if (p.length >= 24 && ascii(p, 1, "PNG") && (p(0) & 0xff) == 0x89 &&
          ascii(p, 12, "IHDR"))
        Some((be32(p, 16), be32(p, 20), 0, 1))
      else if (p.length >= 4 && (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd8) {
        var i = 2
        var out: Option[(Int, Int, Int, Int)] = None
        while (out.isEmpty && i + 3 < p.length && (p(i) & 0xff) == 0xff) {
          val m = p(i + 1) & 0xff
          if (m == 0xff) i += 1                  // fill byte
          else if (m >= 0xd0 && m <= 0xd9) i += 2 // standalone RSTn/SOI/EOI
          else {
            val len = be16(p, i + 2)
            if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
              if (i + 8 < p.length)
                out = Some((be16(p, i + 7), be16(p, i + 5), 0, 1))
              i = p.length
            } else i += 2 + len
          }
        }
        out
      } else if (ascii(p, 0, "GIF8") && p.length >= 10)
        Some((le16(p, 6), le16(p, 8), 0, 1))
      else if (ascii(p, 0, "RIFF") && ascii(p, 8, "WAVE")) {
        var i = 12
        var byteRate = 0L
        var dataSize = -1L
        while (i + 8 <= p.length && (byteRate == 0L || dataSize < 0L)) {
          val size = le32(p, i + 4)
          if (ascii(p, i, "fmt ") && i + 16 + 4 <= p.length)
            byteRate = le32(p, i + 16)
          else if (ascii(p, i, "data")) dataSize = size
          // chunks are word-aligned: odd sizes carry a pad byte. Advance
          // in Long: a corrupt size near 2^32 would wrap Int negative and
          // walk the cursor BACKWARDS — an executor task spinning forever,
          // which the catch below can't save. Clamp to the payload end.
          val next = i.toLong + 8L + size + (size & 1L)
          i = if (next > p.length) p.length else next.toInt
        }
        if (byteRate > 0L && dataSize >= 0L)
          // clamp, don't wrap: an adversarial data-chunk size near 2^32
          // puts data_size*1000/byte_rate past Int.MaxValue, where a bare
          // .toInt would wrap (possibly negative) and the SQL twin's ::INT
          // cast would ERROR — both engines clamp to Int.MaxValue instead,
          // one shared saturation rule for garbage headers
          Some((0, 0, math.min(dataSize * 1000L / byteRate,
            Int.MaxValue.toLong).toInt, 0))
        else None
      } else None
    } catch { case _: ArrayIndexOutOfBoundsException => None }

  /** Synthesizes a media table from the corpus: utf-8 bytes stand in for
    * encoded media; kind cycles image/audio/video. */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    // at-least-once delivery collapses to the distinct media entity
    // before decode (the engine-wide contract): a redelivered blob must
    // not decode twice — and the oracle's per-media_id joins would
    // multiply delivered copies (2 copies → 4 joined rows) where the
    // per-row pipeline emits 2. distinctEntities also gives the batched
    // decode kernel-grade parallelism (Shuffles.scala).
    graft.operators.Shuffles.distinctEntities(
      Tables.documents(spark, dir).select(
        col("doc_id").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
        encode(col("text"), "UTF-8").as("payload"))
        // a NULL payload has nothing to decode: drop it at the scan, the
        // batch-pipeline analog of a corrupt-object skip list — without
        // this, the typed decode NPEs on the first missing blob
        .where(col("payload").isNotNull))

  /** Exact media dedup — the multimodal leg of the dedup family: media
    * blobs dedupe by PAYLOAD DIGEST, never by decoding (two byte-identical
    * blobs are the same asset regardless of filename/kind metadata — and
    * at 100 TB hashing is the only affordable equality). One row per
    * distinct payload: the keeper (min media_id — the upsert convention),
    * copy count, and how many metadata kinds the copies claim (the same
    * bytes labeled image AND video is a catalog bug this surfaces).
    * One map-side-combined aggregation on the 16-byte digest — payloads
    * never shuffle (the digest is computed at the scan). */
  def dedupMedia(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir)
      .select(md5(col("payload")).as("payload_digest"), col("media_id"),
        col("kind"))
      .groupBy(col("payload_digest"))
      .agg(min(col("media_id")).as("keeper_media_id"),
        count(lit(1)).as("n_copies"),
        countDistinct(col("kind")).as("n_kinds"))
      .withColumn("is_dup", col("n_copies") > 1)

  /** STUB decode fallback for payloads with no recognized container
    * signature — replace with a real JNI/native decoder in production.
    * Deterministic: all outputs derive from the payload bytes alone. */
  private[graft] def decodeStub(m: MediaRecord): MediaMeta = {
    val n = m.payload.length.toLong
    val h = fnv(m.payload)
    val w = 64 + math.floorMod(h, 1024).toInt
    val ht = 64 + math.floorMod(h >> 10, 1024).toInt
    val dur = if (m.kind == "image") 0 else 1000 + math.floorMod(h >> 20, 60000).toInt
    val frames = m.kind match {
      case "image" => 1
      case "audio" => 0
      case _ => 1 + dur / 1000 // ~1 fps sample plan
    }
    MediaMeta(m.media_id, m.kind, n, w, ht, dur, frames, h)
  }

  private def fnv(payload: Array[Byte]): Long = {
    var h = 1469598103934665603L // FNV-1a over the payload
    var i = 0
    while (i < payload.length) { h = (h ^ (payload(i) & 0xff)) * 1099511628211L; i += 1 }
    h
  }

  /** Header parse first, stub fallback second: a real-format payload gets
    * its TRUE dimensions/duration; anything else keeps the deterministic
    * fake. Checksum is the payload FNV either way. */
  private[graft] def decodeRecord(m: MediaRecord): MediaMeta =
    parseHeader(m.payload) match {
      case Some((w, h, dur, frames)) =>
        MediaMeta(m.media_id, m.kind, m.payload.length.toLong, w, h, dur,
          frames, fnv(m.payload))
      case None => decodeStub(m)
    }

  /** Batched metadata extraction over the binary column. `grouped(BatchSize)`
    * mirrors the batch shape a vectorized decoder (or mapInPandas) would
    * see; per-partition work, no shuffle. */
  def decodeMeta(spark: SparkSession, dir: String): Dataset[MediaMeta] =
    decodeMetaFrom(spark, mediaTable(spark, dir))

  private[graft] def decodeMetaFrom(spark: SparkSession, media: DataFrame)
      : Dataset[MediaMeta] = {
    import spark.implicits._
    media.as[MediaRecord]
      .mapPartitions(_.grouped(BatchSize).flatMap(_.map(decodeRecord)))
  }

  /** multimodal_meta query: one metadata row per media item. */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame =
    decodeMeta(spark, dir).toDF()
      .select(col("media_id"), col("kind"), col("n_bytes"),
        col("width"), col("height"), col("duration_ms"), col("n_frames"))

  /** STUB resize plan — a real implementation scales pixel buffers; the
    * Spark-side contract (per-record binary in/out, metadata update) is
    * what matters. Deterministically truncates the payload to emulate a
    * bounded-size thumbnail. */
  private[operators] def resizeStub(m: MediaMeta, payload: Array[Byte],
      maxDim: Int): (Array[Byte], Int, Int) = {
    val scale = math.max(1, math.max(m.width, m.height) / maxDim)
    val w = math.max(1, m.width / scale)
    val h = math.max(1, m.height / scale)
    val keep = math.max(1, payload.length / (scale * scale))
    (java.util.Arrays.copyOf(payload, keep), w, h)
  }

  /** Thumbnail pipeline: decode metadata + resize-stub in one batched
    * per-partition pass; emits the reduced payload with updated dims.
    * Library API — the query wrapper below digests the binary column. */
  def multimodalResizeRaw(spark: SparkSession, dir: String, maxDim: Int = 256): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir).as[MediaRecord]
      .mapPartitions(_.grouped(BatchSize).flatMap(_.map { m =>
        val meta = decodeRecord(m)
        val (bytes, w, h) = resizeStub(meta, m.payload, maxDim)
        (m.media_id, m.kind, w, h, bytes.length.toLong, bytes)
      }))
      .toDF("media_id", "kind", "width", "height", "n_bytes", "thumb")
  }

  /** multimodal_resize query: raw thumbnail bytes folded to a driver-
    * hashable digest — md5 over the UPPERCASE hex rendering, the one
    * binary→text path both engines share byte-for-byte (an md5 over raw
    * BLOB isn't portable SQL). The bytes themselves stay available via
    * [[multimodalResizeRaw]]. */
  def multimodalResize(spark: SparkSession, dir: String, maxDim: Int = 256): DataFrame =
    multimodalResizeRaw(spark, dir, maxDim)
      .select(col("media_id"), col("kind"), col("width"), col("height"),
        col("n_bytes"), md5(hex(col("thumb"))).as("thumb_sig"))

  /** Feature vector for a payload: 64-bin byte histogram, L1-normalized —
    * the deterministic stand-in for an image/audio feature network, on the
    * same `Array[Double]` contract as the text embedder (so ANN operators
    * run on media too). Library API; the query emits scalars from it. */
  private[graft] def byteHistogram(payload: Array[Byte]): Array[Double] = {
    val hist = new Array[Double](64)
    var i = 0
    while (i < payload.length) { hist((payload(i) & 0xff) % 64) += 1.0; i += 1 }
    val n = payload.length.toDouble
    if (n > 0) { var j = 0; while (j < 64) { hist(j) /= n; j += 1 } }
    hist
  }

  /** Feature extraction over the binary payload. The query output is
    * driver-hashable scalars — nonzero-bin count, dominant bin, and an
    * md5 digest of the RAW INTEGER bin counts — rather than the raw
    * array (the driver's row-sort can't order array cells). Counts, not
    * the normalized doubles: integer-exact, so the digest is free of
    * float-formatting concerns (Java's %.6f rounds HALF_UP, C printf
    * rounds half-even — a digest over formatted doubles diverges between
    * engines exactly on ties) and an SQL oracle recomputes it verbatim.
    * The L1-normalized vector itself remains [[byteHistogram]]. */
  def multimodalFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir).as[MediaRecord]
      .mapPartitions(_.grouped(BatchSize).flatMap(_.map { m =>
        val counts = new Array[Long](64)
        var i = 0
        while (i < m.payload.length) { counts((m.payload(i) & 0xff) % 64) += 1L; i += 1 }
        var nonzero = 0
        var top = 0
        val sb = new java.lang.StringBuilder(64 * 3)
        var j = 0
        while (j < 64) {
          if (counts(j) > 0) nonzero += 1
          if (counts(j) > counts(top)) top = j
          if (j > 0) sb.append(',')
          sb.append(counts(j))
          j += 1
        }
        (m.media_id, m.kind, nonzero.toLong, top.toLong, sb.toString)
      }))
      .toDF("media_id", "kind", "n_nonzero_bins", "top_bin", "counts_csv")
      .select(col("media_id"), col("kind"), col("n_nonzero_bins"), col("top_bin"),
        md5(col("counts_csv")).as("feat_sig"))
  }

  /** Signature bits (32): the weighted-SimHash vote over the byte
    * histogram — s_t = Σ_j counts(j)·sign(j,t), bit t = [s_t ≥ 0]. The
    * pinned per-bin sign hashes (md5 of "ph:<bin>") live in the kernel
    * ([[graft.expressions.Kernels.perceptualSig]]). */
  val PerceptualBits = 32

  /** Perceptual media near-dup — the leg [[dedupMedia]]'s byte-digest
    * equality CANNOT catch: a re-encoded / re-wrapped / lightly-corrupted
    * copy of the same asset hashes differently byte-for-byte but keeps a
    * near-identical BYTE-VALUE DISTRIBUTION. The signature is a weighted
    * SimHash over the 64-bin histogram ([[byteHistogram]]'s integer
    * counts — the deterministic stand-in for a perceptual feature
    * network; swap in pHash/chromaprint features in production, the
    * plumbing is identical): each bin votes its count into 32 signature
    * bits under pinned md5-derived signs, so near-identical histograms
    * agree on almost every bit (SimHash's Goemans–Williamson guarantee,
    * applied to the L1 geometry the histogram lives in).
    *
    * Scale shape = the text near-dup family's (NearDup.dedupSimhash):
    * LSH-block on 4×8-bit signature bands (any shared band → candidate,
    * band keys capped at the hot-bucket bound so a degenerate corpus of
    * one repeated asset can't go quadratic), then EXACT verification on
    * candidates only — the normalized L1 distance between the two
    * histograms, computed in CROSS-MULTIPLIED integer arithmetic
    * (Σ_j |a_j·n_b − b_j·n_a| over exact longs; the single float step,
    * sim = 1 − S/(2·n_a·n_b), mirrors the oracle token-for-token).
    * Payloads never ride the candidate join — only the 64-long count
    * vector (~0.5 KB), the signature-sized state rule every near-dup
    * operator here follows. Zero-byte payloads have no perceptual
    * content and take no part (the NULL-text contract's media twin).
    *
    * Output: one row per media entity — candidate count, best match,
    * best similarity, is_dup at `thr` — the lshSummary shape. */
  def dedupMediaPerceptual(spark: SparkSession, dir: String,
      thr: Double = 0.98): DataFrame =
    dedupMediaPerceptualFrom(mediaTable(spark, dir), thr)

  /** The perceptual signature stage: ONE native kernel pass per payload
    * ([[graft.expressions.PerceptualSig]] — the SimHashSig pattern):
    * histogram + weighted SimHash ride whole-stage codegen, the scan
    * prunes to (media_id, payload), and no encoder round-trip runs in
    * the hot path (the mapPartitions form this replaced deserialized
    * every row). No filter sits between this projection and the
    * entity-distinct aggregate of `mediaTable`, so the optimizer may
    * evaluate the kernel inside that aggregate's result expressions,
    * which the rendered plan omits — the plan pin therefore reads
    * expression trees and generated code, not the plan string. Exposed
    * for the plan pin. */
  private[graft] def perceptualBase(media: DataFrame): DataFrame = {
    val ps = org.apache.spark.sql.graft.Bridge.column(
      graft.expressions.PerceptualSig(
        org.apache.spark.sql.graft.Bridge.expression(col("payload"))))
    media
      .select(col("media_id").as("id"), ps.as("ps"))
      .select(col("id"), col("ps.n").as("n"),
        col("ps.counts").as("counts"), col("ps.sig").as("sig"))
      .withColumn("keys", array((0 until PerceptualBits / 8).map(c =>
        concat_ws("|", lit(c),
          shiftrightunsigned(col("sig"), 8 * c).bitwiseAND(lit(0xffL)))): _*))
  }

  /** [[dedupMediaPerceptual]] over an explicit (media_id, kind, payload)
    * relation — `media` must already be entity-distinct (the mediaTable
    * contract). */
  private[graft] def dedupMediaPerceptualFrom(media: DataFrame,
      thr: Double): DataFrame = {
    // ONE payload pass (r20, §8): the signature relation now carries
    // EVERY media entity (zero-byte payloads included, with n = 0), so
    // the final every-entity roster reads it too — previously the
    // roster re-ran the whole payload-carrying scan+encode+distinct a
    // second time. Everything after this line operates on the ~300-byte
    // signature proxy, never the payload. The persisted base is also
    // compacted to a size-proportionate partition count
    // (Shuffles.compactCached): the kernel
    // pass runs at full fan-out during materialization, but the ~6
    // downstream re-reads then pay size-many tasks instead of conf-many.
    val base = Shuffles.compactCached(perceptualBase(media).persist(),
      Shuffles.sessionWidth)
    try {
      val sigs = base.where(col("n") > 0)
      val allKeys = sigs.select(col("id"), explode(col("keys")).as("key"))
      val keyCounts = allKeys.groupBy("key").agg(count("*").as("kn"))
      // kn >= 2 (a solo key can never pair) and <= the hot-bucket cap
      // (one viral asset re-encoded 10^6 times must not go quadratic;
      // its copies still pair through exact dedup_media + the capped
      // residue, and the drop is the family's documented trade)
      val exploded = allKeys.join(
          keyCounts.where(col("kn") >= 2 && col("kn") <= 64), "key")
        .select(col("id"), col("key"))
      val pairs = exploded.as("l")
        .join(exploded.as("r"),
          col("l.key") === col("r.key") && col("l.id") < col("r.id"))
        .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
        .distinct()
      val sides = sigs.select(col("id"), col("n"), col("counts"))
      // exact integer cross-L1 over the fixed 64 bins: a plain codegen'd
      // 64-term sum, no interpreted lambdas in the hot path
      val l1x = (0 until 64).map(j =>
        abs(element_at(col("ca"), j + 1) * col("nb") -
          element_at(col("cb"), j + 1) * col("na"))).reduce(_ + _)
      val scored = pairs
        .join(sides.select(col("id").as("id_a"), col("n").as("na"),
          col("counts").as("ca")), "id_a")
        .join(sides.select(col("id").as("id_b"), col("n").as("nb"),
          col("counts").as("cb")), "id_b")
        .withColumn("sim", round(lit(1.0) -
          l1x.cast("double") / (lit(2.0) * col("na") * col("nb")), 6))
        .select(col("id_a"), col("id_b"), col("sim"))
      val perDoc = scored
        .select(col("id_a").as("id"), col("id_b").as("other"), col("sim"))
        .unionAll(scored
          .select(col("id_b").as("id"), col("id_a").as("other"), col("sim")))
        .groupBy("id")
        .agg(count("*").as("n_candidates"),
          max(struct(col("sim"), col("other"))).as("best"))
        .select(col("id"), col("n_candidates"),
          col("best.other").as("best_match_id"), col("best.sim").as("best_sim"))
      // every media entity reports, zero-byte payloads included (they
      // carry no signature, hence no candidates) — the roster comes off
      // the persisted signature relation, NOT a second payload scan
      base.select(col("id").as("media_id"))
        .join(perDoc, col("media_id") === col("id"), "left")
        .select(col("media_id"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          col("best_match_id"), col("best_sim"),
          coalesce(col("best_sim") >= thr, lit(false)).as("is_dup"))
        .localCheckpoint() // free the persisted base eagerly below
    } finally base.unpersist()
  }

  /** Frame sampling: explode the decode plan into per-frame rows with
    * deterministic offsets — the input shape for a frame-featurizer. */
  def multimodalFrames(spark: SparkSession, dir: String): DataFrame =
    decodeMeta(spark, dir).toDF()
      .where(col("n_frames") > 0)
      .select(col("media_id"), col("kind"), col("duration_ms"), col("n_frames"),
        posexplode(sequence(lit(0), col("n_frames") - 1)))
      .select(col("media_id"), col("kind"),
        col("pos").as("frame_idx"),
        when(col("n_frames") > 1,
          (col("pos") * col("duration_ms")) / (col("n_frames") - 1))
          .otherwise(lit(0)).cast("long").as("offset_ms"))
}
